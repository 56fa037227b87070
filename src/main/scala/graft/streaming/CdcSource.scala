package graft.streaming

import java.util.{Map => JMap}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{ChangeEvent, GtidSet}
import graft.sinks.BinlogWire
import graft.sources.{BinlogDumpClient, ChangeEventSource}

/** `spark.readStream.format("graft-cdc")` — the live COM_BINLOG_DUMP
  * dialogue as a FIRST-CLASS Structured Streaming source: the standing
  * replica runs as a checkpointed streaming query (Spark-managed
  * offsets, triggers, progress metrics, the streaming UI) instead of a
  * hand-rolled driver poll loop.
  *
  * Reference semantics: the standing dump dialogue every extractor
  * keeps open against its DN (canal/core/dump/MysqlConnection.java, the
  * RPC hop in task/.../extractor/RpcExtractor.java:61), re-expressed in
  * Spark's source contract rather than a thread per connection.
  *
  * **The offset IS the executed GTID set** — one set per DN, serialized
  * as JSON into Spark's offset log. That makes Spark's own
  * checkpoint/WAL the replica's position store: a kill/restart resumes
  * from the last committed batch with no sidecar files, and because a
  * GTID cursor names TRANSACTIONS, not byte addresses, the same
  * checkpoint survives source failover and log renumbering (repoint
  * host/port, keep the checkpoint).
  *
  * Per trigger, `latestOffset` runs ONE distributed job — one task per
  * DN dials, authenticates, and drains its dump bounded by
  * `maxBytesPerPoll` (txn-boundary soft cap), stages the drained
  * segment bytes under the source's checkpoint dir, and returns the
  * advanced set. `planInputPartitions` then hands each DN's staged
  * segment to a partition reader that decodes it into [[ChangeEvent]]
  * rows ([[ChangeEventSource.toChangeEvents]] — the identical envelope
  * the batch decode produces). A REPLAYED batch (crash after the offset
  * landed, before the commit) whose stage was lost re-dials with the
  * batch's START set and filters served transactions to the offset
  * range — GTID auto-position makes every offset range re-servable, so
  * exactly-once needs no source-side WAL beyond Spark's.
  *
  * Scale shape: 1000 DNs = 1000 drain tasks + 1000 decode tasks per
  * trigger; the driver touches only O(DN-count) set texts. Decode
  * stays per-segment (table-map state is segment-scoped), so no
  * cross-partition coordination exists anywhere.
  *
  * Options:
  *   - `endpoints`   "dn1@host:port,dn2@host:port" (required)
  *   - `user`, `password`   dump credentials (required)
  *   - `tables`      "db.t:c1,c2;db.t2:c3" — the TABLE_MAP name
  *                   registry (MySQL table maps carry no column names)
  *   - `registryDir` optional dir whose `_graft_registry` sidecar
  *                   (maintained by [[graft.sinks.RegistrySidecar
  *                   .save]] from the apply side) overrides
  *                   `tables` at decode time — the cross-batch half of
  *                   in-stream DDL name tracking
  *   - `startExecuted` "dn1=uuid:1-4;dn2=" initial sets (default empty
  *                   = bootstrap from the log head)
  *   - `maxBytesPerPoll` per-DN per-trigger drain cap, soft by one
  *                   transaction (default 128 MiB — a deep-backlog
  *                   bootstrap splits across triggers instead of
  *                   buffering history in one task's heap); also
  *                   surfaced to Spark as the source's default
  *                   `ReadLimit.maxBytes`, and composed (min) with any
  *                   limit Spark passes back
  *   - `serverId`, `soTimeoutMs`, `tsoAuthority`
  */
class GraftCdcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeEvent.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftCdcTable(CdcConf.fromOptions(properties.asScala.toMap))
}

/** Parsed, serializable source configuration. */
private[streaming] final case class CdcConf(
    endpoints: Seq[(String, String, Int)],
    user: String, password: String,
    tables: Map[(String, String), Seq[String]],
    registryDir: Option[String],
    startExecuted: Map[String, String],
    serverId: Long, soTimeoutMs: Int, maxBytesPerPoll: Long,
    tsoFromXid: Boolean, rangeClaimOffsets: Boolean)

private[streaming] object CdcConf {
  /** 128 MiB per DN per trigger — big enough that a steady-state poll
    * never hits it, small enough that a catch-up's per-task buffer is
    * a fraction of executor heap; the cap is soft by one transaction
    * (txn-boundary stop). Override with `maxBytesPerPoll`. */
  val DefaultMaxBytesPerPoll: Long = 128L << 20

  def fromOptions(opts: Map[String, String]): CdcConf = {
    val o = opts.map { case (k, v) => k.toLowerCase -> v }
    def req(k: String): String = o.getOrElse(k.toLowerCase,
      sys.error(s"graft-cdc: missing required option '$k'"))
    val endpoints = req("endpoints").split(",").toSeq.filter(_.nonEmpty)
      .map { e =>
        val Array(dn, addr) = e.split("@", 2)
        val i = addr.lastIndexOf(':')
        require(i > 0, s"graft-cdc: endpoint '$e' is not dn@host:port")
        // delimiters would corrupt the offset/option encodings; '/' and
        // whitespace would splice into the stage FILE PATHS the DN name
        // keys ("inflight/$dn-$att.bin"), turning a publish rename into
        // a missing-parent failure
        require(!dn.exists(c => "\"\\,;=/".contains(c) || c.isWhitespace),
          s"graft-cdc: DN name '$dn' carries offset/option/path delimiters")
        (dn, addr.substring(0, i), addr.substring(i + 1).toInt)
      }
    val tables = o.get("tables").map(_.split(";").toSeq.filter(_.nonEmpty)
      .map { t =>
        val Array(name, cols) = t.split(":", 2)
        val d = name.indexOf('.')
        require(d > 0, s"graft-cdc: table '$name' is not db.table")
        (name.substring(0, d), name.substring(d + 1)) ->
          cols.split(",").toSeq.filter(_.nonEmpty)
      }.toMap).getOrElse(Map.empty)
    val startExecuted = o.get("startexecuted")
      .map(_.split(";").toSeq.filter(_.nonEmpty).map { s =>
        val Array(dn, set) = s.split("=", 2)
        dn -> set
      }.toMap).getOrElse(Map.empty)
    CdcConf(
      endpoints = endpoints,
      user = req("user"), password = req("password"),
      tables = tables,
      registryDir = o.get("registrydir"),
      startExecuted = startExecuted,
      serverId = o.getOrElse("serverid", "12345").toLong,
      soTimeoutMs = o.getOrElse("sotimeoutms", "30000").toInt,
      // a REAL default cap: a bootstrap against a deep backlog must
      // split across triggers, not buffer a DN's history in one task's
      // heap (the drain is per-DN, so the trigger's footprint is
      // cap × DN-count spread over DN-count tasks)
      maxBytesPerPoll = {
        val v = o.getOrElse("maxbytesperpoll",
          CdcConf.DefaultMaxBytesPerPoll.toString).toLong
        require(v > 0, s"graft-cdc: maxBytesPerPoll must be positive, got $v")
        v
      },
      tsoFromXid = o.getOrElse("tsoauthority", "wire") match {
        case "wire" => false
        case "xid" => true
        case other => sys.error(
          s"graft-cdc: tsoAuthority must be wire|xid, got '$other'")
      },
      // compact per-SID range-claim cursors (offset size O(SIDs)
      // instead of O(transactions)) — sound ONLY when the dialed log's
      // per-SID gno order equals serve order forever, which this
      // library's PRODUCED wire logs enforce but raw DN ingress (with
      // wall-clock heartbeat files interleaving older data) does not;
      // consumers of produced logs (CdcReplica) turn it on
      rangeClaimOffsets =
        o.getOrElse("rangeclaimoffsets", "false").toBoolean)
  }
}

private[streaming] class GraftCdcTable(conf: CdcConf)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-cdc(${conf.endpoints.map(_._1).mkString(",")})"
  override def schema(): StructType = ChangeEvent.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType = ChangeEvent.schema
      override def description(): String = name()
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new GraftCdcMicroBatchStream(conf, checkpointLocation)
    }
  }
}

/** The per-DN executed sets, JSON-serialized into Spark's offset log.
  * Keys sort, and `GtidSet.text` is canonical (normalizing
  * constructor), so equal positions serialize identically — Spark's
  * offset equality is json equality. */
private[streaming] final case class GtidSetOffset(sets: SortedMap[String, String])
    extends Offset {
  override def json: String = {
    val m = new java.util.TreeMap[String, String]()
    sets.foreach { case (k, v) => m.put(k, v) }
    GtidSetOffset.mapper.writeValueAsString(m)
  }
}

private[streaming] object GtidSetOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(json: String): GtidSetOffset = {
    val m = mapper.readValue(json, classOf[JMap[String, String]])
    GtidSetOffset(SortedMap(m.asScala.toSeq: _*))
  }
}

/** In-JVM bridge from the source's poll loop to a downstream
  * `foreachBatch` on the SAME driver: which DNs the last trigger
  * actually DIALED, and which answered the server's caught-up EOF.
  *
  * Why it exists: a consumer that keeps per-DN liveness clocks (the
  * merger's force-complete stall counter, CdcBinlog) must not count a
  * trigger against a DN the trigger never polled — under
  * Trigger.AvailableNow a caught-up DN is skipped while another DN's
  * deep backlog splits into many capped micro-batches, and counting
  * those skipped triggers as "stalled" would race a healthy DN to the
  * force-complete threshold within one run (LogEventMerger's
  * tryForceComplete clock only ticks for sources it actually waited
  * on). The info is ADVISORY and in-memory only: after a process
  * restart a replayed batch finds no entry and callers fall back to
  * their conservative default, while replay byte-identity is sealed
  * separately (the consumer snapshots its DECISION per batch —
  * CdcBinlog's `hold/<N>.frontier` — before any external write).
  *
  * Keys are the source's Spark-assigned checkpoint location
  * (`<resolved query checkpoint>/sources/<i>`), scheme-normalized, so
  * a foreachBatch holding only the QUERY's checkpoint dir can find
  * its own source without guessing which of several live queries over
  * the same DNs it belongs to. */
object CdcPollRegistry {
  /** `dialed`: DNs the trigger's drain job polled. `atEof`: DNs known
    * caught-up at the server's EOF as of this trigger (dialed-and-
    * answered-EOF, plus DNs already marked complete for an
    * AvailableNow run). `heartbeat`: dialed DNs whose drain carried a
    * HEARTBEAT frame — an idle source with a live dialogue. */
  final case class PollInfo(dialed: Set[String], atEof: Set[String],
      heartbeat: Set[String] = Set.empty)

  private val byCkpt =
    new java.util.concurrent.ConcurrentHashMap[String, PollInfo]()

  /** The same records keyed by the polling query's id (the stream
    * thread's `sql.streaming.queryId` property) — what a
    * [[StallMonitor]] holds when an idle event arrives. */
  private val byQuery =
    new java.util.concurrent.ConcurrentHashMap[String, PollInfo]()

  /** Scheme-insensitive path identity: Spark hands the source a
    * QUALIFIED location (`file:/...`) while callers hold the raw
    * string they passed to `checkpointLocation` — which may also be
    * RELATIVE. Qualify first (resolves against the path's FileSystem
    * working dir, same as Spark's own resolution), then strip the
    * scheme: without this a relative checkpointLocation would key the
    * record under `ckpt/...` and the lookup under `/abs/ckpt/...`,
    * silently degrading dialed-gating and advanceIdleFrontiers to
    * their conservative fallbacks. */
  private def norm(p: String): String = {
    val path = new Path(p)
    path.getFileSystem(graft.util.HadoopIo.conf)
      .makeQualified(path).toUri.getPath
  }

  private[streaming] def record(sourceCheckpointLocation: String,
      info: PollInfo): Unit = {
    byCkpt.put(norm(sourceCheckpointLocation), info)
    SparkSession.getActiveSession
      .flatMap(s => Option(s.sparkContext.getLocalProperty(
        "sql.streaming.queryId")))
      .foreach(byQuery.put(_, info))
    ()
  }

  /** Whether the last trigger of running query `queryId` heard a
    * HEARTBEAT from every DN it dialed: the source is idle and every
    * dialogue alive, so an idle trigger is not silence. */
  private[streaming] def heardHeartbeat(queryId: String): Boolean =
    Option(byQuery.get(queryId))
      .exists(i => i.dialed.nonEmpty && i.dialed.subsetOf(i.heartbeat))

  /** The last poll of the graft-cdc source of the query checkpointed
    * at `queryCheckpointDir` (source index 0 — the composed pipelines
    * read exactly one). None when no trigger has polled in this JVM
    * (fresh process replaying a WAL batch) — callers must treat that
    * as "unknown", not "nothing dialed". */
  def lookup(queryCheckpointDir: String): Option[PollInfo] = {
    val got = Option(byCkpt.get(norm(queryCheckpointDir) + "/sources/0"))
    // a miss with records PRESENT usually means a key-identity bug
    // (the conservative fallback then hides it) — say so once per key
    if (got.isEmpty && !byCkpt.isEmpty &&
        missesNoted.add(queryCheckpointDir))
      System.err.println(
        s"[graft-cdc] CdcPollRegistry: no poll record for " +
          s"'$queryCheckpointDir' (normalized '${norm(queryCheckpointDir)}" +
          s"/sources/0'); known keys: " +
          java.util.Collections.list(byCkpt.keys()).toArray.mkString(",") +
          " — falling back to conservative (all-dialed) gating")
    got
  }

  private val missesNoted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

private[streaming] class GraftCdcMicroBatchStream(conf: CdcConf,
    checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private def spark = SparkSession.active
  private val stageRoot = new Path(checkpointLocation, "graft-stage")

  /** Stage dirs published this run, in PUBLISH (= batch) order — what
    * `commit` is allowed to reclaim. Spark 4.x's MicroBatchExecution
    * calls `commit(N-1)` AFTER `latestOffset(N)` has already staged
    * batch N's segments, so commit must only ever delete stages at or
    * before the committed offset, never the stage root wholesale (that
    * would send every steady-state reader down the replay re-dump). */
  private val published = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Last drain's per-DN staged byte counts + the end it reached —
    * the `metrics()` surface (per-trigger drained bytes, per-DN lag). */
  @volatile private var lastDrainBytes: Map[String, Long] = Map.empty
  @volatile private var lastEnd: Option[GtidSetOffset] = None

  /** Per-DN header timestamp (epoch seconds) of the newest drained
    * event — the merge-DELAY surface (now − last event time), kept
    * across triggers so an idle DN reports its real staleness. */
  @volatile private var lastEventTs: Map[String, Long] = Map.empty

  /** Trigger.AvailableNow bookkeeping: after `prepare`, a DN whose
    * drain ended at the server's caught-up EOF (not the byte cap) is
    * COMPLETE for this run — it is not dialed again, so the run
    * terminates once every DN has reported EOF even against a live
    * producer, while a deep backlog still splits across multiple
    * bounded triggers (the trait's whole point: without it Spark falls
    * back to ONE capped Trigger.Once batch). */
  @volatile private var availableNowRun = false
  @volatile private var caughtUpDns: Set[String] = Set.empty

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowRun = true
    caughtUpDns = Set.empty
  }

  /** One batch's stage directory, keyed by its END offset (content-
    * addressed: a replayed plan for the same range finds the same
    * stage; a restart that lost it falls back to a re-dump). */
  private def stageDirFor(end: GtidSetOffset): Path =
    new Path(stageRoot, java.security.MessageDigest.getInstance("MD5")
      .digest(end.json.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString)

  override def initialOffset(): Offset =
    GtidSetOffset(SortedMap(conf.endpoints.map { case (dn, _, _) =>
      dn -> conf.startExecuted.getOrElse(dn, "")
    }: _*))

  override def deserializeOffset(json: String): Offset =
    GtidSetOffset.parse(json)

  /** An offset from Spark is OURS only on the happy path: a batch
    * replayed after a crash arrives as the offset LOG's SerializedOffset
    * (json-only wrapper) — re-parse instead of casting. */
  private def gtidOffset(o: Offset): GtidSetOffset = o match {
    case g: GtidSetOffset => g
    case other => GtidSetOffset.parse(other.json)
  }

  /** The source's own admission default IS its byte cap — Spark passes
    * it back through `latestOffset(start, limit)`, and Trigger
    * .AvailableNow's wrapper (which probes with `allAvailable()`) still
    * lands on `maxBytesPerPoll` because the drain composes BOTH bounds.
    * A deep backlog therefore splits across triggers under processing-
    * time triggers; one AvailableNow RUN drains at most the cap (run
    * again to continue — the offset advances monotonically). */
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxBytes(conf.maxBytesPerPoll)

  /** The tightest byte bound the limit implies (composite = min over
    * members); `allAvailable` imposes none — the conf cap still does. */
  private def limitBytes(limit: ReadLimit): Long = limit match {
    case b: ReadMaxBytes => b.maxBytes()
    case c: CompositeReadLimit =>
      c.getReadLimits.map(limitBytes).min
    case _ => Long.MaxValue
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "graft-cdc implements SupportsAdmissionControl: latestOffset(start, limit)")

  /** The trigger's distributed drain: one task per DN dials from the
    * start set, drains bounded bytes, stages them, and reports the
    * advanced set. Transient 1236s (rotate/promotion windows) keep the
    * DN's cursor for the next trigger; unrecoverable ones
    * ([[BinlogDumpClient.fatal1236]]) fail the trigger. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startSets = gtidOffset(start).sets
    val allEps = conf.endpoints.map { case (dn, h, p) =>
      (dn, h, p, startSets.getOrElse(dn, ""))
    }
    // AvailableNow: DNs that already reported caught-up EOF this run
    // are complete — skipping them makes the run terminate even when
    // the producer keeps writing
    val skipDone = availableNowRun
    val done = caughtUpDns
    val eps = if (skipDone) allEps.filterNot(e => done.contains(e._1))
      else allEps
    if (eps.isEmpty) {
      lastDrainBytes = Map.empty
      lastEnd = Some(gtidOffset(start))
      CdcPollRegistry.record(checkpointLocation,
        CdcPollRegistry.PollInfo(Set.empty, done))
      return start
    }
    val (u, pw) = (conf.user, conf.password)
    val (sidv, toMs) = (conf.serverId, conf.soTimeoutMs)
    val claimOff = conf.rangeClaimOffsets
    val maxB = math.min(conf.maxBytesPerPoll, limitBytes(limit))
    val inflight = new Path(stageRoot, "inflight").toString
    val confMap = graft.util.HadoopIo.confMap
    val polled = spark.sparkContext
      .parallelize(eps, math.max(1, eps.size))
      .map { case (dn, host, port, startText) =>
        val startSet = GtidSet.parse(startText)
        val (seg, adv, eof) =
          try BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
            host, port, u, pw, startSet, sidv, toMs, maxB,
            rangeClaim = claimOff)
          catch {
            case e: BinlogDumpClient.ServerError
                if e.code == BinlogDumpClient.ErrUnknownLog &&
                  !BinlogDumpClient.fatal1236(e.getMessage) =>
              (Array.emptyByteArray, startSet, false)
          }
        // newest NON-ZERO header timestamp in the drain — FDE/rotate/
        // heartbeat frames carry ts=0 and must not fake freshness. The
        // same walk notes GTID, row/commit and HEARTBEAT frames
        var evTs = 0L
        var gtids, txnFrames, heartbeat = false
        var off = 4
        var walking = true
        while (walking && off + 19 <= seg.length) {
          // length in Long: 4 network bytes can wrap Int arithmetic
          // (the CdcSegmentFilter guard class) — a malformed frame just
          // stops this metrics walk; the decode path refuses it loudly
          val len = (seg(off + 9) & 0xFFL) | ((seg(off + 10) & 0xFFL) << 8) |
            ((seg(off + 11) & 0xFFL) << 16) | ((seg(off + 12) & 0xFFL) << 24)
          if (len < 19L || off.toLong + len > seg.length) walking = false
          else {
            val t = (seg(off) & 0xFFL) | ((seg(off + 1) & 0xFFL) << 8) |
              ((seg(off + 2) & 0xFFL) << 16) | ((seg(off + 3) & 0xFFL) << 24)
            if (t > 0L) evTs = t
            (seg(off + 4) & 0xFF) match {
              case BinlogWire.GtidEvent => gtids = true
              case BinlogWire.HeartbeatEvent => heartbeat = true
              case BinlogWire.XidEvent | BinlogWire.WriteRowsEventV2 |
                   BinlogWire.UpdateRowsEventV2 |
                   BinlogWire.DeleteRowsEventV2 => txnFrames = true
              case _ => ()
            }
            off += len.toInt
          }
        }
        val hasData = seg.length > 4
        val staged =
          if (!hasData) ""
          else {
            val c = graft.util.HadoopIo.confFrom(confMap)
            // attempt-unique name: a retried/speculative task never
            // writes the path another attempt is writing
            val att = org.apache.spark.TaskContext.get().taskAttemptId()
            val p = new Path(s"$inflight/$dn-$att.bin")
            val fs = p.getFileSystem(c)
            val out = fs.create(p, true)
            try out.write(seg) finally out.close()
            p.toString
          }
        (dn, adv.text, staged, seg.length.toLong, evTs, eof,
          txnFrames && !gtids, heartbeat)
      }.collect()
    // a GTID-less log never advances the executed set: the batch would
    // never run and every trigger would re-drain the log for nothing
    polled.find(_._7).foreach(t => throw BinlogDumpClient.gtidlessLog(t._1))
    val end = GtidSetOffset(startSets ++ polled.map(t => t._1 -> t._2))
    lastDrainBytes = polled.map(t => t._1 -> t._4).toMap
    lastEventTs = lastEventTs ++
      polled.collect { case (dn, _, _, _, ts, _, _, _) if ts > 0L => dn -> ts }
    val atEof = polled.collect { case (dn, _, _, _, _, true, _, _) => dn }
    if (skipDone) caughtUpDns = done ++ atEof
    lastEnd = Some(end)
    // advisory liveness for same-driver consumers: who was dialed, who
    // is known caught-up at EOF (per-trigger under processing-time
    // triggers; cumulative over an AvailableNow run)
    CdcPollRegistry.record(checkpointLocation,
      CdcPollRegistry.PollInfo(
        dialed = eps.map(_._1).toSet,
        atEof = (if (skipDone) done else Set.empty[String]) ++ atEof,
        heartbeat = polled.filter(_._8).map(_._1).toSet))
    if (end.sets != startSets) {
      // publish the stage under its content key (the drain learned the
      // end only after draining); idempotent across replayed triggers
      val fs = graft.util.HadoopIo.fsOf(stageRoot)
      val dst = stageDirFor(end)
      fs.mkdirs(dst)
      polled.filter(_._3.nonEmpty).foreach { t =>
        val s = new Path(t._3)
        val d = new Path(dst, s"${t._1}.bin")
        if (fs.exists(d)) fs.delete(d, true)
        if (!fs.rename(s, d))
          sys.error(s"graft-cdc: stage publish $s -> $d failed")
      }
      published.add(dst.getName)
    }
    end
  }

  override def reportLatestOffset(): Offset = lastEnd.orNull

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = gtidOffset(start).sets
    val e = gtidOffset(end).sets
    val stage = stageDirFor(gtidOffset(end)).toString
    conf.endpoints.collect {
      case (dn, host, port)
          if s.getOrElse(dn, "") != e.getOrElse(dn, "") =>
        GraftCdcPartition(dn, host, port, conf.user, conf.password,
          s.getOrElse(dn, ""), e.getOrElse(dn, ""),
          s"$stage/$dn.bin", conf.tables, conf.registryDir,
          conf.serverId, conf.soTimeoutMs, conf.tsoFromXid,
          // serialized session conf: executors have no active session,
          // and a default Configuration would lose object-store
          // credentials for the stage/registry reads below
          graft.util.HadoopIo.confMap)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdcReaderFactory

  /** The batch at `end` is durably committed downstream — its staged
    * segments (and any published BEFORE it this run) are dead weight.
    * Scope matters: Spark 4.x calls `commit(N-1)` after
    * `latestOffset(N)` already staged batch N, so deletion walks the
    * publish-order queue up to the committed key and NEVER touches
    * later stages — the steady-state reader keeps its staged fast
    * path, and the replay fallback stays what it is: a replay path.
    * Orphaned inflight files (failed task attempts whose retry renamed
    * a different name) are reclaimed here too — by commit time the
    * trigger's drain job has returned, so nothing is writing them. */
  override def commit(end: Offset): Unit = {
    val fs = graft.util.HadoopIo.fsOf(stageRoot)
    val key = stageDirFor(gtidOffset(end)).getName
    // the walk is legal ONLY when this run published the committed key:
    // after a restart the committed batch's key came from the PREVIOUS
    // run's queue, while latestOffset(N) has already staged batch N
    // into THIS run's queue — an unguarded walk would drain the whole
    // queue and delete batch N's freshly staged segments, sending the
    // first post-restart batch down the replay re-dump
    if (published.contains(key)) {
      var walking = true
      while (walking) {
        val h = published.poll()
        if (h == null) walking = false
        else {
          fs.delete(new Path(stageRoot, h), true)
          if (h == key) walking = false
        }
      }
    }
    // post-restart the queue does not know the committed key (it was
    // published by a previous run) — reclaim it directly, queue untouched
    fs.delete(new Path(stageRoot, key), true)
    val inflight = new Path(stageRoot, "inflight")
    if (fs.exists(inflight))
      fs.listStatus(inflight).foreach(s => fs.delete(s.getPath, false))
  }

  /** Per-trigger observability in `StreamingQueryProgress.sources[i]
    * .metrics` — the reference's MergeMetrics/EPS/delay surface
    * (task/.../metrics/MergeMetrics.java), restated as Spark source
    * metrics: bytes the last drain staged (total and per DN) and each
    * DN's consumer lag in TRANSACTIONS (drained-but-not-yet-committed
    * gno count — the delta between the last drained end set and the
    * latest committed offset). */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : JMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("drainedBytes", lastDrainBytes.values.sum.toString)
    lastDrainBytes.foreach { case (dn, b) =>
      m.put(s"drainedBytes.$dn", b.toString)
    }
    val consumed: Map[String, String] =
      if (latestConsumedOffset.isPresent)
        gtidOffset(latestConsumedOffset.get).sets
      else Map.empty
    lastEnd.foreach { end =>
      end.sets.foreach { case (dn, endText) =>
        val lag = GtidSet.parse(endText).gnoCount -
          GtidSet.parse(consumed.getOrElse(dn, "")).gnoCount
        m.put(s"pendingTxns.$dn", math.max(0L, lag).toString)
      }
    }
    // merge DELAY, the reference's headline operator metric
    // (task/.../merge/LogEventMerger.java:347-349: now − tsoPhysical):
    // ms since the newest event each DN has delivered
    val now = System.currentTimeMillis()
    lastEventTs.foreach { case (dn, ts) =>
      m.put(s"delayMs.$dn", math.max(0L, now - ts * 1000L).toString)
    }
    m
  }

  override def stop(): Unit = ()
}

private[streaming] final case class GraftCdcPartition(dn: String,
    host: String, port: Int, user: String, password: String,
    startText: String, endText: String, stagePath: String,
    tables: Map[(String, String), Seq[String]],
    registryDir: Option[String], serverId: Long, soTimeoutMs: Int,
    tsoFromXid: Boolean,
    hadoopConf: Map[String, String]) extends InputPartition

private[streaming] class GraftCdcReaderFactory
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new GraftCdcPartitionReader(
      partition.asInstanceOf[GraftCdcPartition])
}

/** Decodes one DN's segment for one offset range. Normal path: the
  * staged bytes the trigger's drain wrote (exactly the range). Replay
  * path (stage lost to a restart): re-dial with the range's START set
  * — GTID auto-position re-serves the complement — and drop framed
  * transactions beyond the range's END (data that arrived after the
  * original drain belongs to a later batch). Errors here propagate:
  * Spark retries the task, and a range the source can no longer serve
  * MUST fail the query rather than silently emit a subset. */
private[streaming] class GraftCdcPartitionReader(p: GraftCdcPartition)
    extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[InternalRow] = {
    val hconf = graft.util.HadoopIo.confFrom(p.hadoopConf)
    val path = new Path(p.stagePath)
    val fs = path.getFileSystem(hconf)
    val bytes =
      if (fs.exists(path)) {
        val in = fs.open(path)
        try {
          val len = fs.getFileStatus(path).getLen.toInt
          val b = new Array[Byte](len)
          in.readFully(0, b)
          b
        } finally in.close()
      } else {
        // bounded replay: re-dump from the range's START set and STOP
        // once the served transactions cover the range's END — memory
        // is bounded by the range, not the DN's post-range backlog,
        // and an un-re-servable range fails loudly inside the drain
        val seg = BinlogDumpClient.dumpSegmentGtidCovering(p.host,
          p.port, p.user, p.password, GtidSet.parse(p.startText),
          GtidSet.parse(p.endText), p.serverId, p.soTimeoutMs)
        CdcSegmentFilter.keepWithin(seg, GtidSet.parse(p.endText))
      }
    val reg = p.registryDir.map { d =>
      val dst = new Path(d, "_graft_registry")
      val rfs = dst.getFileSystem(hconf)
      if (!rfs.exists(dst)) p.tables
      else {
        val in = rfs.open(dst)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        graft.sinks.RegistrySidecar.merge(text, p.tables)
      }
    }.getOrElse(p.tables)
    val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[ChangeEvent]()
      .createSerializer()
    ChangeEventSource.toChangeEvents(p.dn, bytes, reg, p.tsoFromXid)
      .map(ser(_))
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Byte-level txn filter for the replay path: walk the segment's
  * frames, and from each GTID event to the next one (the wire txn
  * region — mark/BEGIN/maps/rows/commit all live between consecutive
  * GTID events) keep the region only if its (sid, gno) is inside
  * `within`. Header events before the first GTID (FDE,
  * PREVIOUS_GTIDS, a txn-framed writer's shared TABLE_MAP) always
  * keep — decode needs them. */
private[streaming] object CdcSegmentFilter {
  def keepWithin(seg: Array[Byte], within: GtidSet): Array[Byte] = {
    if (seg.length <= 4) return seg
    val out = new java.io.ByteArrayOutputStream(seg.length)
    out.write(seg, 0, 4) // magic
    var off = 4
    var keep = true
    while (off + 19 <= seg.length) {
      val tc = seg(off + 4) & 0xFF
      val len = (seg(off + 9) & 0xFF) | ((seg(off + 10) & 0xFF) << 8) |
        ((seg(off + 11) & 0xFF) << 16) | ((seg(off + 12) & 0xFF) << 24)
      // these bytes came straight off the network: a zero/short length
      // would loop forever, a truncated final frame would land an
      // opaque ArrayIndexOutOfBounds below — name the offset instead.
      // Compare in Long: len is 4 unvalidated network bytes (up to
      // 0x7FFFFFFF), so an Int `off + len` can wrap negative and slip
      // past the guard into exactly the AIOOBE it exists to prevent
      if (len < 19 || off.toLong + len > seg.length)
        throw new IllegalArgumentException(
          s"CdcSegmentFilter: malformed event frame at offset $off " +
          s"(type $tc, declared length $len, segment ${seg.length} " +
          "bytes) — refusing to filter a corrupt segment")
      if (tc == graft.sinks.BinlogWire.GtidEvent)
        keep = graft.sinks.BinlogWire
          .parseGtidBody(seg.slice(off + 19, off + len))
          .exists { case (sid, gno) => within.contains(sid, gno) }
      if (keep) out.write(seg, off, len)
      off += len
    }
    out.toByteArray
  }
}
