package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Staged
import graft.sinks.RegistrySidecar
import graft.sources.{BinlogDumpClient, ChangeEventSource}
import graft.sources.BinlogDumpClient.Endpoint

/** The LIVE (file, pos) replica: a standing poll loop over the
  * COM_BINLOG_DUMP dialogue — the reference's full live hop
  * (MysqlConnection dialing the DN + DirectLogFetcher draining the dump
  * + the RPL applier, canal/core/dump/MysqlConnection.java + rpl/applier/
  * TransactionApplier.java:50-87) as repeated bounded micro-batches:
  * each trigger polls every DN once from its cursor (NON_BLOCK dumps —
  * per-trigger bytes are the DN's new data, never log history), stages
  * the drained segments, runs the standing replicas' one trigger step
  * ([[WireReplicaJob.applyTrigger]]: the DDL-aware routed apply in Auto
  * mode, the registry evolution, the maintenance cadence — the same
  * step `graft.streaming.CdcReplica` runs per micro-batch), and returns
  * the advanced cursors for the next trigger.
  *
  * Exactly-once without source replay: the dump transport cannot
  * rewind, so the staged segments are the durable trigger input (dial
  * once per trigger; decode and cursor reads both come off the stage),
  * and `TxnApplier`'s committed position drops anything a re-poll or
  * crash-restart re-serves at or below the target's last committed
  * TSO. A DN whose cursor names a not-yet-rotated successor file
  * (server answer 1236) simply has no new data this trigger: its
  * cursor is kept and retried — the real replica's behavior on an
  * active log.
  *
  * Scale shape: one DN = one executor task for the dial+drain; the
  * stage write, decode, and apply are distributed plans. Cursors are
  * the only driver-side state — one (file, pos) pair per DN.
  *
  * Why a (file, pos) runner beside [[graft.streaming.CdcReplica]]: the
  * `graft-cdc` source positions by executed GTID set, so it reads only
  * logs that carry GTID events, and the wire writers' default
  * (`gtidSid = None`, which `CdcBinlog.start` and `BinlogXJob` use) is
  * a GTID-less log. This runner is the dump replica for those logs;
  * dump-from-TSO starts it at a `BinlogCatalog.seekTso` cursor with
  * `fromTso`.
  */
object LiveReplicaJob {

  /** Triggers of uninterrupted 1236 answers from one DN before the
    * standing runner starts logging the condition loudly. */
  val Skip1236AlarmThreshold = 3

  /** One DN's poll outcome, reported per trigger to the `onPoll`
    * observer: `payloadBytes` > 4 (the wire magic) means the dialogue
    * carried FRAMES — data, prologue, or an idle HEARTBEAT — so the
    * runner can tell a live-but-idle source from a dead dialogue;
    * `skip1236` carries a tolerated 1236's message for the
    * consecutive-skip accounting. */
  final case class PollNote(dn: String, payloadBytes: Long,
      skip1236: Option[String])

  /** One trigger over the WHOLE filtered stream, routed per table —
    * the usable replica shape: every DN dials ONCE and its decoded
    * multi-table batch goes to `apply` — the routed apply
    * ([[WireReplicaJob.applyRouted]], the reference's SplitApplier
    * semantics) or [[run]]'s whole trigger step
    * ([[WireReplicaJob.applyTrigger]]). The per-DN cursor is the ONE
    * shared source position: it advances only after `apply` returned,
    * and each table's own committed-TSO gate makes the replayed prefix
    * idempotent when a crash lands between tables. The decoded rows are
    * staged once (`stagingDir`_decoded, [[WireReplicaJob.stageRouted]]),
    * whose write observes every table's apply input and the DDL rows, so
    * routing never re-runs the wire decode per table. */
  def pollApplyOnceRouted(spark: SparkSession, endpoints: Seq[Endpoint],
      tableCols: Map[(String, String), Seq[String]],
      targets: Seq[WireReplicaJob.TableTarget], stagingDir: String,
      apply: WireReplicaJob.RoutedBatch => Unit,
      serverId: Long = 12345L, soTimeoutMs: Int = 30000,
      maxBytesPerPoll: Long = Long.MaxValue,
      onPoll: PollNote => Unit = _ => ())
      : Seq[Endpoint] = {
    import spark.implicits._
    WireReplicaJob.validateTargets(targets)
    val polled = spark.createDataset(endpoints)
      .repartition(math.max(1, endpoints.size))
      .map { e =>
        try {
          // maxBytesPerPoll bounds the bootstrap/catch-up drain (txn-
          // boundary soft cap): a capped poll's advanced cursor makes
          // the NEXT trigger continue the catch-up — the standing loop
          // needs no special case
          val (seg, nf, np) = BinlogDumpClient.dumpSegmentWithCursor(
            e.host, e.port, e.user, e.password, e.binlogFile, e.pos,
            serverId, soTimeoutMs, maxBytesPerPoll)
          (e.dn, seg, nf, np, null: String)
        } catch {
          case err: BinlogDumpClient.ServerError
              if err.code == BinlogDumpClient.ErrUnknownLog =>
            // the producer has not rotated to this cursor's file yet —
            // no new data this trigger; keep the cursor and retry. The
            // skip reason rides the staged row so the standing runner
            // can count consecutive 1236s per DN (a PERMANENT condition
            // — e.g. the file was purged — must become loud, not read
            // as a merely idle replica).
            (e.dn, Array.emptyByteArray, e.binlogFile, e.pos,
              Option(err.getMessage).getOrElse("1236"))
        }
      }.toDF("dn", "payload", "nextFile", "nextPos", "skip1236")
    // dial each DN exactly ONCE per trigger: decode and the cursor
    // collect both read the staged parquet, never a second dump
    val staged = Staged.parquetStage(polled, stagingDir)
    val changes = ChangeEventSource.fromWireSegments(
      staged.filter(length(col("payload")) > 0).select("dn", "payload"),
      "dn", "payload", tableCols)
    // the tables (and the DDL fold) read a decoded stage, whose write
    // observes each table's apply input and the DDL rows, so the wire
    // decode never re-runs per table
    val decoded = WireReplicaJob.stageRouted(changes,
      stagingDir + "_decoded", targets)
    // the apply and the cursor collect are independent consumers of the
    // already-materialized stages (disjoint outputs) — overlap them
    // (guide §2.6). onPoll stays AFTER both: a failed apply must not
    // have reported its poll (Par waits all, then rethrows).
    var polledRows: Array[(String, String, Long, Option[String], Long)] =
      Array.empty
    graft.util.Par.run(Seq(
      () => apply(decoded),
      () => polledRows = staged
        .select($"dn", $"nextFile", $"nextPos", $"skip1236",
          length($"payload").cast("long"))
        .as[(String, String, Long, Option[String], Long)].collect()))
    polledRows.foreach { case (dn, _, _, skip, bytes) =>
      onPoll(PollNote(dn, bytes, skip))
    }
    val cursors = polledRows
      .map { case (dn, f, p, _, _) => dn -> ((f, p)) }.toMap
    endpoints.map { e =>
      cursors.get(e.dn).map { case (f, p) =>
        e.copy(binlogFile = f, pos = p)
      }.getOrElse(e)
    }
  }

  // ---- cursor persistence (the live loop's restart story) ----

  private def cursorFile(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_graft_cursors")

  /** Commit the fleet's (file, pos) cursors to an O(1) sidecar — the
    * `OrderedSink._graft_cursor` pattern for the LIVE loop (reference
    * analog: the RPL task's persisted position in its state machine,
    * rpl/taskmeta/FSMMetaManager.java). Call after each trigger; a
    * driver restart then [[resume]]s from the last committed trigger
    * instead of the caller's stale bootstrap value. Atomic swap: a
    * crash mid-save leaves the previous committed cursors, whose
    * replayed prefix the per-table apply gates drop. ONE runner per
    * cursorDir: concurrent loops sharing a sidecar would clobber each
    * other's commits (last write wins — correct state, wasted
    * re-polls); give each fleet its own directory. */
  def saveCursors(cursorDir: String, endpoints: Seq[Endpoint]): Unit = {
    require(endpoints.forall(e => !e.dn.exists("\t\n".contains(_))),
      "DN names must not contain tab/newline")
    val dst = cursorFile(cursorDir)
    graft.util.HadoopIo.fsOf(dst).mkdirs(dst.getParent)
    graft.util.HadoopIo.writeSwap(
      new org.apache.hadoop.fs.Path(cursorDir, "._graft_cursors.tmp"), dst,
      endpoints.map(e => s"${e.dn}\tF\t${e.binlogFile}\t${e.pos}")
        .mkString("\n"))
  }

  /** Endpoints with each DN's cursor replaced by the sidecar's last
    * committed value (connection coordinates stay the caller's — a
    * failover repoint composes with a cursor resume). A DN without a
    * saved cursor, or an absent sidecar, keeps the caller's bootstrap
    * value. */
  def resume(cursorDir: String, endpoints: Seq[Endpoint]): Seq[Endpoint] = {
    val dst = cursorFile(cursorDir)
    val saved: Map[String, Seq[String]] =
      if (!graft.util.HadoopIo.fsOf(dst).exists(dst)) Map.empty
      else graft.util.HadoopIo.readString(dst).split("\n").toSeq
        .filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
        .map(f => f.head -> f.tail).toMap
    endpoints.map { e =>
      saved.get(e.dn) match {
        case Some(Seq("F", file, pos)) =>
          e.copy(binlogFile = file, pos = pos.toLong)
        case _ => e
      }
    }
  }

  // ---- the standing-loop runner ----

  /** Per-DN consecutive-1236 accounting for the standing loop: a DN
    * answering 1236 for [[Skip1236AlarmThreshold]] straight triggers
    * is logged loudly every trigger thereafter — the StallMonitor's
    * silence clock only says "no data"; this names WHY (a persistent
    * 1236 usually means required binlogs were purged, which no amount
    * of retrying recovers). */
  private def note1236(counts: scala.collection.mutable.Map[String, Int],
      skipped: scala.collection.Map[String, String],
      dns: Seq[String], loopId: String): Unit =
    dns.foreach { dn =>
      skipped.get(dn) match {
        case Some(msg) =>
          val c = counts.getOrElse(dn, 0) + 1
          counts(dn) = c
          if (c >= Skip1236AlarmThreshold)
            System.err.println(s"[$loopId] DN $dn: $c consecutive 1236 " +
              s"answers from the source ('$msg') — a persistent 1236 " +
              "suggests required binlogs were purged or the cursor is " +
              "permanently unservable; intervene at the source")
        case None =>
          counts.remove(dn)
          ()
      }
    }

  /** The (file, pos) deployment call: poll → the standing trigger step
    * → commit cursors, every `intervalMs`, until `shouldStop` (or
    * `maxTriggers`). Composes [[pollApplyOnceRouted]] +
    * [[WireReplicaJob.applyTrigger]] (the step `CdcReplica` runs per
    * micro-batch: the DDL-aware routed apply in Auto mode, the wire name
    * registry's evolution saved to `cursorDir` before the cursors, and
    * every `vacuumEvery`-th trigger the delta-chain fold and vacuum) +
    * the cursor sidecar + an optional [[graft.streaming.StallMonitor]]
    * no-data alarm — the loop every caller otherwise hand-writes.
    * Resumes cursors and the evolved registry from `cursorDir` first,
    * so kill-and-restart continues at the last committed trigger without
    * re-draining history; returns the final endpoints.
    *
    * The monitor sees 1 input row for an advancing trigger and 0 for
    * an idle one — enough for its silence clock; alarms surface via
    * `monitor.alarms` exactly as in the streaming pipelines. */
  def run(spark: SparkSession, endpoints: Seq[Endpoint],
      tableCols: Map[(String, String), Seq[String]],
      targets: Seq[WireReplicaJob.TableTarget], stagingDir: String,
      cursorDir: String, intervalMs: Long,
      shouldStop: () => Boolean = () => false,
      maxTriggers: Long = Long.MaxValue,
      monitor: Option[graft.streaming.StallMonitor] = None,
      alarms: Option[graft.streaming.AlarmManager] = None,
      loopId: String = "live-replica",
      txnsPerCommit: Int = 8, fromTso: Option[Long] = None,
      serverId: Long = 12345L, soTimeoutMs: Int = 30000,
      maxBytesPerPoll: Long = Long.MaxValue,
      vacuumEvery: Long = 0L): Seq[Endpoint] = {
    var eps = resume(cursorDir, endpoints)
    var n = 0L
    val c1236 = scala.collection.mutable.Map.empty[String, Int]
    while (!shouldStop() && n < maxTriggers) {
      val notes = scala.collection.mutable.ArrayBuffer.empty[PollNote]
      val next = pollApplyOnceRouted(spark, eps,
        RegistrySidecar.resume(cursorDir, tableCols), targets, stagingDir,
        WireReplicaJob.applyTrigger(_, targets, tableCols, cursorDir,
          n, txnsPerCommit, fromTso, vacuumEvery),
        serverId, soTimeoutMs, maxBytesPerPoll, notes += _)
      note1236(c1236,
        notes.flatMap(x => x.skip1236.map(x.dn -> _)).toMap,
        eps.map(_.dn), loopId)
      saveCursors(cursorDir, next)
      // liveness for the silence clock: an advancing cursor OR any
      // served frames (a caught-up idle poll against a heartbeating
      // server carries a HEARTBEAT frame — the dialogue is alive, the
      // source is idle; reference TsoHeartbeat.java:53-67, progress
      // guaranteed even when idle). A dead dialogue serves nothing
      // and the no-data alarm still fires.
      val advanced = next != eps || notes.exists(_.payloadBytes > 4)
      val raised = monitor.map(_.noteBatch(loopId, n,
        if (advanced) 1L else 0L)).getOrElse(Seq.empty)
      // alarm policy layer: route watchdog alarms into their typed
      // policies, arm the fatal escalation with this loop's own
      // consumption (this replica IS the downstream consumer), and
      // evaluate — one check per trigger, pure driver metadata
      alarms.foreach { a =>
        if (advanced) a.noteConsumed()
        graft.streaming.Alarms.route(a, raised)
        a.check()
      }
      eps = next
      n += 1
      if (!shouldStop() && n < maxTriggers && intervalMs > 0)
        Thread.sleep(intervalMs)
    }
    eps
  }
}
