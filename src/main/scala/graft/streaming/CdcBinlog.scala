package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.model.ChangeEvent
import graft.operators.{MergeSort, Staged}

/** Global-Binlog PRODUCTION composed from the live `graft-cdc` source —
  * the reference's primary product (§3.1: N DN dumps → total TSO order →
  * binlog wire files; task/.../merge/LogEventMerger.java:54,125-168 →
  * dumper/.../logfile/LogFileGenerator.java:121) as ONE checkpointed
  * StreamingQuery. The sibling of [[CdcReplica.start]]: that composition
  * APPLIES the stream to tables; this one RE-EMITS it as a totally
  * ordered MySQL wire log.
  *
  * Per micro-batch the drain already yields every DN's new transactions
  * (one drain task per DN); what the batch boundary does NOT give is the
  * reference merger's ALIGNMENT guarantee — a transaction that acquired
  * its TSO before the drain but reached one DN's log after it would
  * sort below already-emitted data in a later batch. So emission is
  * gated exactly like LogEventMerger's heartbeat barrier
  * (merge/HeartBeatWindow.java:30): each DN's FRONTIER is the highest
  * TSO it has ever delivered (real transactions and heartbeat
  * transactions alike — the reference injects per-DN heartbeats
  * precisely so idle sources keep the merge advancing), and a
  * transaction emits only when its commit TSO is at or below the MIN
  * frontier across all DNs. Everything above the barrier parks in
  * APPEND-ONLY holdback segments: each batch writes only its own newly
  * parked rows, a manifest names the live segment set, and release
  * reads only the segments the advancing barrier actually straddles —
  * so one straggler DN parking everyone else's rows costs each trigger
  * O(new + released) holdback IO, never a rewrite of the backlog (the
  * reference merger likewise never re-buffers held tokens per poll;
  * merge/LogEventMerger.java:203-273).
  *
  * Emission order and framing: transactions (grouped by `txnId` — XA
  * branches of one global transaction fuse across DNs, the merger's
  * TsoMerge semantics) sort by (commit TSO, txnId) into range-partitioned
  * runs that keep every transaction whole, and each batch's runs become
  * wire files `binlog.<batch>.<partition>` — name order IS total TSO
  * order, across batches because the barrier is monotone and within a
  * batch because the runs are range-partitioned. Heartbeat transactions
  * advance frontiers but are filtered from the log (the reference
  * consumes them at the merger; they never reach the dumper's files).
  *
  * Exactly-once under replay: a replayed batch N re-reads manifest N-1
  * (whose segments batch N never mutates — folds write NEW files and
  * the consumed inputs are reclaimed only once N+1 ran, i.e. after N
  * committed), reuses the same sealed barrier decision, deletes its
  * own `binlog.<N>.` prefix, and rewrites byte-identical files — the
  * replay fully supersedes the attempt it replaces, so a kill anywhere
  * leaves the log equal to a run that never crashed.
  *
  * Scale shape: the only shuffles are one hash partition by txnId (the
  * commit-TSO window — per-txn bounded, over THIS batch's rows only)
  * and one range partition by (commit TSO, txnId) for the runs; the
  * frontier collect is O(DN count); holdback size is bounded by the
  * barrier lag (steady state: under one heartbeat period of data) and
  * a lagging DN grows it without growing per-trigger work — segment
  * count stays under `holdMaxSegments` via size-tiered folds (two
  * smallest merge, LSM amortization). With
  * `targetRowsPerFile` set, the per-batch run count scales with the
  * emitted volume (the reference's binlogFileSize rotation,
  * dumper/.../logfile/LogFileGenerator.java) so a burst lands in more
  * bounded files instead of bigger ones.
  *
  * Idle sources: the barrier needs every DN's frontier to advance. The
  * deployment contract is the reference's (TsoHeartbeat,
  * polardbx-cdc-common/.../heartbeat/TsoHeartbeat.java:53-67): each DN
  * carries a periodic heartbeat transaction — [[CdcHeartbeat]] is the
  * producer for wire-served DN logs. Alternatively
  * `advanceIdleFrontiers=true` advances an idle DN's frontier from the
  * drain's caught-up-EOF signal (safety argument at the decision
  * block below). Force-complete recovery: a refusal names the sealed
  * barrier; the operator restarts the SAME checkpoint with
  * `sealedGapSkip=true`, which drops the sealed-out transactions,
  * records them in `<outDir>/_GAPS/<batchId>`, and resumes. Sizing
  * `forceCompleteAfterBatches`: the stall clock counts DIALED triggers
  * with no frontier advance, so under a short ProcessingTime interval
  * it runs fast in wall-clock terms — size it to several heartbeat
  * periods' worth of triggers (a healthy DN advances at least once per
  * period), or leave it 0 and alarm on the `heldTxns` merge metric.
  */
object CdcBinlog {

  /** Overlap probes for the fan-out sink writes (test-visible): the
    * count of per-stream writes in flight right now, and the highest
    * concurrency ever observed in this JVM — the assertion hook for
    * "the M per-stream writes actually run side by side". */
  private val activeStreamWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[streaming] val maxConcurrentStreamWrites =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Root-dir migration plus every stream subdir: the union of the
    * CONFIGURED fan-out range and every `stream-*` subdir that EXISTS —
    * a fan-out narrowed across the upgrade (say 8 → 4 streams) leaves
    * stream-4..7 on disk, still served by consumers that bootstrapped
    * against them; mixed widths there break the same name-order
    * contract. Absent dirs no-op; double-visiting is harmless
    * (migration is idempotent). */
  private[streaming] def migrateAllLegacyBatchPads(outDir: String,
      configuredStreamDirs: Seq[String]): Unit = {
    migrateLegacyBatchPads(outDir)
    val root = new Path(outDir)
    val fs = graft.util.HadoopIo.fsOf(root)
    val existing: Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.matches("stream-\\d+"))
        .map(st => s"$outDir/${st.getPath.getName}")
    (existing ++ configuredStreamDirs).distinct
      .foreach(migrateLegacyBatchPads)
  }

  /** 6→12-digit pad upgrade for one log dir: every `binlog.<batch>.*`
    * whose batch component is narrower than 12 digits (the pre-upgrade
    * `%06d` pad, INCLUDING its silent overflow forms — a legacy
    * batchId ≥ 1e6 formatted as 7..11 digits) renames atomically to
    * the `%012d` name. Idempotent: a replayed startup finds nothing
    * left to match. Absent dir is a no-op (fresh deployment).
    *
    * Conflict (target name already exists — only reachable from a
    * crash window where both pad widths were written for one batch):
    * if the two files are byte-identical the legacy one is a stale
    * duplicate and is dropped; otherwise refuse to start loudly —
    * guessing which copy is authoritative could serve duplicate or
    * lost transactions.
    */
  private[streaming] def migrateLegacyBatchPads(dir: String): Unit = {
    val root = new Path(dir)
    val fs = graft.util.HadoopIo.fsOf(root)
    if (!fs.exists(root)) return
    val Legacy = """binlog\.(\d{1,11})\.(.+)""".r
    fs.listStatus(root).foreach { st =>
      if (st.isFile) st.getPath.getName match {
        case Legacy(batch, rest) =>
          val target = new Path(root, f"binlog.${batch.toLong}%012d.$rest")
          if (!fs.exists(target))
            graft.util.HadoopIo.renameOrFail(st.getPath, target)
          else if (sameBytes(fs, st.getPath, target))
            fs.delete(st.getPath, false)
          else sys.error(s"CdcBinlog pad migration: ${st.getPath} and " +
            s"$target both exist with different content — refusing to " +
            "start; resolve which copy is authoritative and delete the " +
            "other")
        case _ => ()
      }
    }
  }

  /** The batch-file name prefix for wire files: the batch component is
    * zero-padded WIDE (12 digits ≈ 31k years of 1s triggers) because
    * file-NAME order is the log's total order — a pad the batchId
    * outgrew would sort binlog.1000000.* before binlog.999999.* and
    * silently break every name-ordered contract (serve start,
    * executed-set fold, purge prefixes); refuse loudly at the edge
    * rather than wrap. */
  private[streaming] def batchFilePrefix(batchId: Long): String = {
    require(batchId >= 0 && batchId < 1000000000000L,
      s"CdcBinlog: batchId $batchId outside the zero-padded file-name " +
        "range [0, 1e12) — the name-order-is-TSO-order contract would " +
        "break")
    f"binlog.$batchId%012d."
  }

  /** Dual-width replay delete: a replayed batch must fully supersede
    * the attempt it replaces (range-partitioner sampling is not stable
    * across attempts, so the retry's file set can differ), INCLUDING
    * files a PRE-upgrade attempt wrote under the 6-digit pad (the
    * startup migration normally renames them first, but a crash
    * between migration and the replayed write leaves the legacy names
    * live). The trailing '.' keeps the narrow prefix from matching a
    * different batch's wide name (binlog.000001. does NOT prefix
    * binlog.000001000000.*). */
  private[streaming] def deleteBatchFiles(dir: String,
      batchId: Long): Unit = {
    val prefix = f"binlog.$batchId%012d."
    val legacyPrefix = f"binlog.$batchId%06d."
    val root = new Path(dir)
    val ofs = graft.util.HadoopIo.fsOf(root)
    if (ofs.exists(root))
      ofs.listStatus(root).foreach { st =>
        if (st.isFile && (st.getPath.getName.startsWith(prefix) ||
            st.getPath.getName.startsWith(legacyPrefix)))
          ofs.delete(st.getPath, false)
      }
  }

  private def sameBytes(fs: org.apache.hadoop.fs.FileSystem,
      a: Path, b: Path): Boolean = {
    if (fs.getFileStatus(a).getLen != fs.getFileStatus(b).getLen)
      return false
    val (ia, ib) = (fs.open(a), fs.open(b))
    try {
      val (ba, bb) = (new Array[Byte](65536), new Array[Byte](65536))
      var same = true
      var done = false
      while (same && !done) {
        val na = ia.read(ba)
        if (na < 0) done = true
        else {
          var off = 0
          while (same && off < na) {
            val nb = ib.read(bb, 0, na - off)
            if (nb <= 0 ||
                !java.util.Arrays.equals(ba, off, off + nb, bb, 0, nb))
              same = false
            else off += nb
          }
        }
      }
      same
    } finally { ia.close(); ib.close() }
  }

  def start(spark: SparkSession,
      endpoints: Seq[(String, String, Int)],
      user: String, password: String,
      tableCols: Map[(String, String), Seq[String]],
      outDir: String, checkpointDir: String, workDir: String,
      numPartitions: Int = 4,
      heartbeatTables: Set[(String, String)] = Set.empty,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      maxBytesPerPoll: Long = CdcConf.DefaultMaxBytesPerPoll,
      startExecuted: Map[String, String] = Map.empty,
      soTimeoutMs: Int = 30000,
      serverId: Long = 12345L,
      checksummed: Boolean = false,
      registryDir: Option[String] = None,
      forceCompleteAfterBatches: Int = 0,
      gtidSid: Option[java.util.UUID] = None,
      targetRowsPerFile: Int = 0,
      fanOut: Option[CdcBinlogX.FanOut] = None,
      advanceIdleFrontiers: Boolean = false,
      sealedGapSkip: Boolean = false,
      convertDdl: Boolean = false,
      maxGapRecords: Int = 1000000,
      holdMaxSegments: Int = 12): StreamingQuery = {
    // the frontier sidecar is ';'/'='/','-delimited and the source's
    // options reuse '@'/';' — refuse DN names that would corrupt
    // either (the CdcReplica.start / RegistrySidecar guard family)
    endpoints.foreach { case (dn, _, _) =>
      require(dn.nonEmpty &&
        !dn.exists(c => "\"\\,;=@/".contains(c) || c.isWhitespace),
        s"DN name '$dn' carries option/sidecar/path delimiters")
    }
    // 6→12-digit pad upgrade: a pre-upgrade outDir still holds
    // `binlog.NNNNNN.*` names, and MIXED widths break lexicographic-
    // order-is-TSO-order (binlog.000000000002.* sorts before
    // binlog.000001.*) — corrupting the executed-set fold, serve start
    // and purge. Migrate before the query starts (no dump server may
    // serve the dir during startup — same single-writer contract the
    // production itself requires).
    migrateAllLegacyBatchPads(outDir,
      fanOut.toSeq.flatMap(f =>
        (0 until f.streams).map(i => s"$outDir/stream-$i")))
    val dns = endpoints.map(_._1)
    spark.readStream.format("graft-cdc")
      .option("endpoints",
        endpoints.map { case (dn, h, p) => s"$dn@$h:$p" }.mkString(","))
      .option("user", user).option("password", password)
      .option("tables", tableCols.map { case ((s, t), cols) =>
        s"$s.$t:${cols.mkString(",")}"
      }.mkString(";"))
      .option("maxBytesPerPoll", maxBytesPerPoll.toString)
      .option("soTimeoutMs", soTimeoutMs.toString)
      .option("serverId", serverId.toString)
      .options(registryDir.map(d => Map("registryDir" -> d))
        .getOrElse(Map.empty))
      .options(if (startExecuted.isEmpty) Map.empty[String, String]
        else Map("startExecuted" -> startExecuted
          .map { case (dn, set) => s"$dn=$set" }.mkString(";")))
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        emitBatch(batch, batchId, dns, tableCols, heartbeatTables,
          outDir, workDir, numPartitions, checksummed, registryDir,
          forceCompleteAfterBatches, gtidSid, targetRowsPerFile, fanOut,
          queryCheckpointDir = Some(checkpointDir),
          advanceIdleFrontiers = advanceIdleFrontiers,
          sealedGapSkip = sealedGapSkip, convertDdl = convertDdl,
          maxGapRecords = maxGapRecords,
          holdMaxSegments = holdMaxSegments)
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** One micro-batch of the production pipeline, deterministic in
    * (source offset range, holdback stage N-1, sealed decision
    * snapshot hold/N.frontier) so a replayed batch rewrites identical
    * state and identical files — even though the live decision
    * function consults in-memory poll state a fresh process no longer
    * has (the snapshot is written before the first external write and
    * reused verbatim by replays). */
  private[streaming] def emitBatch(batch: DataFrame, batchId: Long,
      dns: Seq[String], tableCols: Map[(String, String), Seq[String]],
      heartbeatTables: Set[(String, String)],
      outDir: String, workDir: String, numPartitions: Int,
      checksummed: Boolean,
      registryDir: Option[String] = None,
      forceCompleteAfterBatches: Int = 0,
      gtidSid: Option[java.util.UUID] = None,
      targetRowsPerFile: Int = 0,
      fanOut: Option[CdcBinlogX.FanOut] = None,
      queryCheckpointDir: Option[String] = None,
      advanceIdleFrontiers: Boolean = false,
      sealedGapSkip: Boolean = false,
      convertDdl: Boolean = false,
      maxGapRecords: Int = 1000000,
      holdMaxSegments: Int = 12): Unit = {
    val spark = batch.sparkSession
    val fs = graft.util.HadoopIo.fsOf(new Path(workDir))

    // in-stream DDL: decode names and the wire RE-ENCODE registry must
    // agree (the writer maps image keys by name; the wire itself
    // carries none). The RE-ENCODE base is versioned per batch beside
    // the frontier sidecar — the mutable registryDir sidecar (the
    // SOURCE's decode seed) is saved before the checkpoint commits, so
    // a replay that re-read it would see the already-evolved names,
    // compute an EMPTY rename step, and re-encode old-keyed held rows
    // as NULL cells. Reading the hold/<N-1>.registry snapshot instead
    // makes the replay recompute the SAME base → same rename step →
    // byte-identical files.
    val regSeed = new Path(s"$workDir/hold/${batchId - 1}.registry")
    val reg0 = registryDir.map { d =>
      if (fs.exists(regSeed))
        graft.sinks.RegistrySidecar.merge(
          graft.util.HadoopIo.readString(regSeed), tableCols)
      else {
        // first batch of a (possibly resumed) query: materialize the
        // seed so a replay of THIS batch re-reads the pre-evolution
        // registry even after the end-of-batch registryDir save
        val r = graft.sinks.RegistrySidecar.resume(d, tableCols)
        writeRegistrySnapshot(fs, regSeed, r)
        r
      }
    }.getOrElse(tableCols)

    // the decoded batch stages once: the frontier agg, the gate split
    // and the wire write must not re-run the drain/decode. The per-DN
    // frontier maxes RIDE the stage write as observed metrics (one
    // conditional max per DN — DN count is operator config, O(dozens)),
    // so the decision input costs no second pass over the batch; a
    // very wide fan-in falls back to the separate aggregate. With a
    // registryDir, the batch's DDL rows ride the same write.
    val maxObs = org.apache.spark.sql.Observation()
    val observeMax = dns.nonEmpty && dns.size <= 256
    val aggs =
      (if (observeMax) dns.zipWithIndex.map { case (dn, i) =>
        max(when(col("partitionId") === dn, col("tso"))).as(s"m$i")
      } else Seq.empty) ++
        registryDir.map(_ => graft.jobs.WireReplicaJob.ddlProbe.as("ddls"))
    val staged =
      if (aggs.nonEmpty)
        Staged.parquetStage(
          batch.observe(maxObs, aggs.head, aggs.tail: _*),
          s"$workDir/stage")
      else Staged.parquetStage(batch, s"$workDir/stage")

    // in-stream DDL inside THIS batch: decode evolves names inline
    // (BinlogWire.decodeStream), so post-DDL rows arrive keyed by the
    // NEW name while held/pre-DDL rows carry the old one. The write
    // registry is the EVOLVED one, and renamed keys in older rows are
    // re-keyed to it — otherwise the re-encode would null their cells.
    val evolved = registryDir.map { _ =>
      graft.sinks.RegistrySidecar.evolve(
        graft.jobs.WireReplicaJob.ddlsOf(maxObs.get("ddls")), reg0)
    }.getOrElse(reg0)

    // frontiers: highest TSO each DN has EVER delivered (heartbeats
    // included) — max-merged with the persisted frontiers, so an idle
    // DN keeps the level its last heartbeat established
    val st = readFrontiers(fs,
      new Path(s"$workDir/hold/${batchId - 1}.frontier"))
    val batchMax: Map[String, Long] =
      if (observeMax)
        dns.zipWithIndex.flatMap { case (dn, i) =>
          Option(maxObs.get(s"m$i")).map(v => dn -> v.asInstanceOf[Long])
        }.toMap
      else staged.groupBy(col("partitionId"))
        .agg(max(col("tso")).as("m"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // THE DECISION SNAPSHOT: the (barrier, frontiers, stall-clocks)
    // triple is sealed into hold/<N>.frontier BEFORE the first
    // externally visible write, and a replayed batch REUSES the sealed
    // decision instead of recomputing it. That makes replay
    // byte-identity independent of the decision function's inputs —
    // the stall clocks below consult the live poll registry (which a
    // fresh process replaying a WAL batch no longer has), and a
    // crash-window replay must still rewrite the exact same files a
    // concurrent dump consumer may already have read. A crash BEFORE
    // the snapshot wrote is free to re-decide: nothing external saw
    // the first attempt.
    val decisionPath = new Path(s"$workDir/hold/$batchId.frontier")
    val decided: FrontierState =
      if (fs.exists(decisionPath)) readFrontiers(fs, decisionPath)
      else {
        // which DNs this batch's trigger actually dialed, and which
        // are known caught-up at the server's EOF — advisory, in-JVM
        // (CdcPollRegistry); absent for direct callers and replays in
        // a fresh process, where every DN counts as dialed (the
        // pre-registry behavior, conservative by at most one tick)
        val poll = queryCheckpointDir.flatMap(CdcPollRegistry.lookup)
        // highest frontier any DN reaches this batch — the level an
        // idle-at-EOF DN may advance to when the option is on
        val maxFront = (st.frontiers.values.map(_._1) ++ batchMax.values)
          .foldLeft(Long.MinValue)(math.max)
        val frontiers = dns.map { dn =>
          val p = st.frontiers.get(dn)
          val prevFront = p.map(_._1).getOrElse(Long.MinValue)
          val dataFront = math.max(prevFront,
            batchMax.getOrElse(dn, Long.MinValue))
          // advanceIdleFrontiers: a DN the drain saw at caught-up EOF
          // with no new data has, by the dump contract, served every
          // transaction in its log — and TSO issuance is monotone, so
          // any FUTURE commit on it acquires a TSO above every TSO
          // already issued, including the other DNs' frontiers. Its
          // frontier may therefore advance to the batch's max without
          // risking a later below-barrier delivery. (This trusts the
          // DN's binlog append to be ordered with TSO issuance — true
          // of the wire model here; the reference instead proves the
          // level with an end-to-end heartbeat transaction per DN
          // (TsoHeartbeat) — see [[CdcHeartbeat]] for that producer.)
          val idleAtEof = advanceIdleFrontiers &&
            poll.exists(_.atEof.contains(dn)) && !batchMax.contains(dn)
          val front =
            if (idleAtEof) math.max(dataFront, maxFront) else dataFront
          // stall age: consecutive DIALED batches without this DN
          // advancing — the force-complete clock (LogEventMerger
          // .tryForceComplete :238-273). A trigger that never polled
          // the DN (AvailableNow skips caught-up DNs while a deep
          // backlog elsewhere splits into many micro-batches) must not
          // tick its clock: the merger only counts sources it actually
          // waited on.
          val advanced = front > prevFront
          val dialed = poll.forall(_.dialed.contains(dn))
          val stall =
            if (advanced) 0
            else if (!dialed) p.map(_._2).getOrElse(0)
            else p.map(_._2).getOrElse(0) + 1
          dn -> (front, stall)
        }.toMap
        // the merge barrier: complete only up to the slowest DN's
        // frontier (a DN that has never delivered anything holds
        // everything back — the merger's all-sources gate). With
        // force-complete enabled, a DN stalled past the threshold is
        // EXCLUDED so a dead DN cannot stall production forever — the
        // reference's availability trade; the barrier is clamped
        // monotone so an exclusion-set change can never regress the
        // seal.
        val live =
          if (forceCompleteAfterBatches <= 0) frontiers
          else frontiers.filter(_._2._2 < forceCompleteAfterBatches)
        val rawBarrier =
          if (live.nonEmpty) live.values.map(_._1).min
          else if (frontiers.nonEmpty) frontiers.values.map(_._1).min
          else Long.MinValue
        FrontierState(math.max(st.barrier, rawBarrier), frontiers)
      }
    val barrier = decided.barrier
    // seal the decision BEFORE the first externally visible write —
    // including the `_GAPS` record below: its content is replay-stable
    // today (it depends on the PRIOR batch's sealed state, not on
    // `decided`), but sealing first makes that invariant structural
    // rather than incidental. Idempotent on replay (same content); a
    // crash before this line is free to re-decide — nothing external
    // saw the attempt.
    writeFrontiers(fs, decisionPath, decided)

    val isHeartbeat =
      if (heartbeatTables.isEmpty) col("op") === "HEARTBEAT"
      else col("op") === "HEARTBEAT" ||
        heartbeatTables.map { case (s, t) =>
          col("schemaName") === s && col("tableName") === t
        }.reduce(_ || _)

    // commit TSO per GLOBAL transaction: XA branches share txnId AND
    // the commit TSO — the TSO oracle stamps one CTS per global commit
    // and every participant's binlog carries it (the reference's
    // MergeBarrier fuses on exactly this, merge/MergeBarrier.java:51).
    // Under that contract the gate is airtight: a barrier-passing txn
    // has CTS <= every DN's frontier, and a DN serving in TSO order
    // past the CTS has by definition delivered its branch — so every
    // branch of a barrier-passing txn is present before it emits.
    // (A source violating the shared-CTS contract could emit a txn
    // partially; that is a data-contract breach, not a merge race.)
    val renames = registryDir.map(_ =>
      renameStepsFromBatch(staged, reg0))
      .getOrElse(RenameWork(Seq.empty, Map.empty, Map.empty))
    // the WRITE registry: the evolved one, plus an alias entry per
    // table RENAMED this batch — held rows keep their ORIGINAL table
    // name on the wire (their commits precede the rename in TSO
    // order), and the alias maps their cells to the same column list
    // as the new name — plus the as-of-drop column lists of tables
    // DROPPED this batch (held pre-drop commits still emit). An alias
    // whose target was ALSO dropped this batch (RENAME t1→t2; DROP t2)
    // resolves through the retained entry: the held pre-rename rows
    // still carry t1 and must re-encode under t2's as-of-drop columns.
    val writeReg = evolved ++ renames.tableAliases.flatMap {
      case (o, cur) =>
        evolved.get(cur).orElse(renames.retained.get(cur)).map(o -> _)
    } ++ (renames.retained -- evolved.keySet)
    // ---- holdback: append-only segments -------------------------------
    // The parked backlog lives in SEGMENTS (hold/<K>, hold/<K>.c<i>),
    // each written once and never rewritten; hold/<N>.segments is the
    // live-set manifest with per-segment (rows, minCts, maxCts, txns).
    // Per-trigger holdback IO is O(new held + released), NOT O(held):
    // a straggler DN that parks the barrier costs nothing per trigger
    // beyond its own new rows — segments whose minCts sits above the
    // barrier are never opened (the reference merger never re-buffers
    // held tokens per poll either; merge/LogEventMerger.java:203-273).
    // Segments persist `__commit_tso`: stable across batches under the
    // same shared-CTS contract the emit gate itself relies on (every
    // branch row carries the txn's CTS — the decode stamps one CTS per
    // txn scope, BinlogWire.decodeStream; MergeBarrier.java:51), so a
    // row's gate key never changes after it is parked, and branches of
    // one txn parked in different segments release in the same batch.
    val holdRoot = s"$workDir/hold"
    val manifestPrev = readManifest(fs,
      new Path(s"$holdRoot/${batchId - 1}.segments"))
    val carried: Seq[SegMeta] = manifestPrev.getOrElse(Seq.empty)
    // pre-segment layout upgrade: no manifest but a full holdback dir
    // from the old per-batch-rewrite layout — fold it once through the
    // slow path below, after which the manifest chain exists
    val legacyPrev = new Path(s"$holdRoot/${batchId - 1}")
    val legacyMode = manifestPrev.isEmpty && fs.exists(legacyPrev)
    // rename batches take the fold-everything path too: stored rows are
    // kept normalized through the latest batch (each batch then only
    // ever applies its OWN rename steps), and folding on the rare
    // DDL-rename batch is how that invariant survives append-only
    // segments. Deterministic under replay: the fold decision derives
    // from (manifest N-1, this batch's DDL), both replay-stable.
    val slowPath = legacyMode || renames.colSteps.nonEmpty
    val ctsCol = max(col("tso")).over(Window.partitionBy(col("txnId")))
    // the count of rows this batch will PARK (cts above the sealed
    // barrier) rides the gate materialization as an observed metric:
    // zero — the steady state of an advancing barrier — lets the
    // holdback step below commit a deterministic EMPTY segment without
    // a write job or a stats read-back
    val gatedObs = org.apache.spark.sql.Observation()
    def withHeldCount(df: DataFrame): DataFrame =
      df.observe(gatedObs,
        count(when(col("__commit_tso") > lit(barrier), lit(1)))
          .as("held"))
    val gated =
      if (slowPath) {
        val held =
          if (legacyMode)
            spark.read.schema(ChangeEvent.schema)
              .parquet(legacyPrev.toString)
          else if (carried.nonEmpty)
            spark.read.schema(ChangeEvent.schema)
              .parquet(carried.map(s => s"$holdRoot/${s.name}"): _*)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            ChangeEvent.schema)
        Staged.parquetStage(withHeldCount(normalizeRenames(
          staged.unionByName(held).filter(!isHeartbeat), renames.colSteps)
          .withColumn("__commit_tso", ctsCol)), s"$workDir/gated")
      } else
        Staged.parquetStage(withHeldCount(staged.filter(!isHeartbeat)
          .withColumn("__commit_tso", ctsCol)), s"$workDir/gated")
    val heldRowCount = gatedObs.get("held").asInstanceOf[Long]
    // a force-completed log has SEALED everything at or below the old
    // barrier: a revived DN delivering transactions back there would
    // have to emit out of name order — refuse loudly by default, the
    // operator decides. With `sealedGapSkip` (the documented recovery
    // restart — the reference's alarm-then-operator flow) the sealed-
    // out transactions are instead DROPPED from the log and durably
    // recorded in `<outDir>/_GAPS/<batchId>`, so production resumes
    // with the gap named rather than wedging on a deterministic replay
    // of the refusal.
    val lateCond =
      if (forceCompleteAfterBatches > 0 && st.barrier > Long.MinValue)
        col("__commit_tso") <= st.barrier &&
          !col("partitionId").isin(
            st.frontiers.filter(_._2._1 >= st.barrier).keys.toSeq: _*)
      else lit(false)
    if (!sealedGapSkip) {
      val late = gated.filter(lateCond)
        .select(col("partitionId"), col("tso")).limit(1).collect()
      if (late.nonEmpty)
        throw new IllegalStateException(
          s"CdcBinlog: DN '${late(0).getString(0)}' delivered txn tso " +
          s"${late(0).getLong(1)} at or below the force-completed " +
          s"barrier ${st.barrier} — the log is sealed past it; " +
          "emitting now would break total order. Restart with " +
          "sealedGapSkip=true to drop and record the sealed-out " +
          "transactions and resume production")
    } else {
      // bounded collect: only a revived DN's below-seal transactions
      // qualify — the exact rows the refusal would have named. Bounded
      // BY CONSTRUCTION to one stall window's traffic, but a
      // pathological multi-hour stall with a firehose DN could turn
      // this into a driver-memory event exactly when the system is
      // already degraded — so the bound is ENFORCED: over the cap, the
      // loud-refusal path wins (the operator raises maxGapRecords
      // deliberately or repairs the DN first). limit(cap+1) keeps the
      // probe itself bounded; at <= cap it returns the full set, so
      // the written record is complete and replay-deterministic.
      val gap = gated.filter(lateCond)
        .select(col("partitionId"), col("txnId"), col("tso"))
        .distinct().limit(maxGapRecords + 1).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(g => (g._1, g._3, g._2))
      if (gap.length > maxGapRecords)
        throw new IllegalStateException(
          s"CdcBinlog: sealed-out gap exceeds maxGapRecords=" +
          s"$maxGapRecords distinct transactions — refusing to " +
          "materialize an unbounded _GAPS record on the driver. " +
          "Repair/retire the revived DN, or restart with a higher " +
          "maxGapRecords if the gap really is this large")
      if (gap.nonEmpty) {
        val gapDir = new Path(s"$outDir/_GAPS")
        val ofs = graft.util.HadoopIo.fsOf(gapDir)
        ofs.mkdirs(gapDir)
        graft.util.HadoopIo.writeSwap(
          new Path(gapDir, s".$batchId.tmp"),
          new Path(gapDir, batchId.toString),
          (s"sealedBarrier=${st.barrier}" +:
            gap.map { case (dn, txn, tso) => s"$dn,$txn,$tso" }.toSeq)
            .mkString("\n"))
      }
    }
    // rows RELEASED from parked segments this batch: the barrier moved
    // from st.barrier to `barrier`, so exactly the (st.barrier, barrier]
    // slice of every segment whose minCts reaches under the new barrier.
    // A static barrier (the straggler regime) opens NO segment; a
    // moving one opens only straddlers, with the cts predicate pushed
    // to the scan (segments are written sorted by cts, so row-group
    // stats prune the above-barrier bulk).
    val straddling =
      if (slowPath) Seq.empty
      else carried.filter(_.minCts <= barrier)
    val released =
      if (straddling.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          segSchema)
      else spark.read.schema(segSchema)
        .parquet(straddling.map(s => s"$holdRoot/${s.name}"): _*)
        .filter(col("__commit_tso") > st.barrier &&
          col("__commit_tso") <= barrier)
    // a txn's branches may sit split between this batch and parked
    // segments — the union fuses them and the range sort below lands
    // them adjacent (same cts, same txnId); segment rows can never be
    // late (every parked row's cts is above the barrier of the batch
    // that parked it, and barriers are monotone)
    val emit = gated.filter(col("__commit_tso") <= barrier && !lateCond)
      .unionByName(released)

    // merge metrics (the reference's MergeMetrics surface, task/.../
    // metrics/MergeMetrics.java): emitted counts aggregate over the
    // emit slice — cost O(emitted); held counts come from manifest
    // arithmetic below, never a scan of the parked backlog. The metrics
    // aggregate, the wire write and the holdback segment are
    // INDEPENDENT consumers of the staged gate — the metrics and
    // holdback actions run on side threads so the batch pays roughly
    // one driver planning/submission latency for the three, not three
    // serial ones (same overlap the fan-out per-stream writes use).
    val sidePool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val sideEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(sidePool)
    val countsF = scala.concurrent.Future {
      emit.agg(
        countDistinct(col("txnId")).as("e"),
        count(lit(1)).as("er")).collect()(0)
    }(sideEc)
    def counts = scala.concurrent.Await.result(countsF,
      scala.concurrent.duration.Duration.Inf)
    // rotation by volume (LogFileGenerator's binlogFileSize semantics,
    // dumper/.../logfile/LogFileGenerator.java — the reference rotates
    // a busy log more often, not into one giant file): the run count
    // scales with THIS batch's emitted rows, so a 1000× burst still
    // lands in bounded files. Deterministic under replay — the count
    // is a pure function of (offset range, holdback N-1).
    // run count for a log holding `rows` rows (fan-out passes each
    // stream's OWN count — hash skew makes uniform shares lie). By-name:
    // with rotation off the count is never forced, so the single-log
    // write below does not block on the concurrent metrics aggregate.
    def partsFor(rows: => Long): Int =
      if (targetRowsPerFile <= 0) numPartitions
      else math.max(1L, (rows + targetRowsPerFile - 1) /
        targetRowsPerFile).min(10000L).toInt

    // the batch's wire files: delete this batch's prefix first so a
    // replayed attempt fully supersedes the one it replaces (range
    // partitioner sampling is not stable across attempts) — the pad
    // policy and dual-width replay delete are the helpers above.
    val prefix = batchFilePrefix(batchId)
    // with a sid, the produced log(s) carry their OWN GTID stream
    // (gno := commit TSO — decoded rows all carry the txn's CTS, and
    // TSOs are globally unique) with cumulative PREVIOUS_GTIDS, read
    // back from the log itself (own-prefix files are already deleted,
    // so a replay computes the same prior): the output is a
    // FIRST-CLASS auto-position-servable binlog a downstream replica
    // can dump with the graft-cdc source
    def writeLog(rows: DataFrame, dir: String, parts: Int): Unit = {
      deleteBatchFiles(dir, batchId)
      val ordered = MergeSort.sortedRunsGrouped(rows, parts,
        Seq("__commit_tso", "txnId"), Seq("tso", "traceId"))
        .drop("__commit_tso")
      val prior = gtidSid.map(_ =>
        graft.sinks.BinlogCatalog.executedGtidSet(spark, dir))
        .getOrElse(graft.model.GtidSet.Empty)
      graft.sinks.BinlogWire.writeChangeStreamBinlogFiles(ordered,
        writeReg, dir, filePrefix = prefix, checksummed = checksummed,
        gtidSid = gtidSid, priorExecuted = prior,
        ddlLogical = convertDdl)
      ()
    }
    // segment N, started BEFORE the wire writes so the two independent
    // writes overlap: only THIS batch's newly parked rows (slow path:
    // the one-off fold of everything) — the frontier decision snapshot
    // wrote before the wire files, above. Written sorted by cts so the
    // release read's pushed predicate prunes at row-group stats, and
    // always committed (even empty — then as a driver-side empty dir,
    // no Spark job) so a replay fully supersedes a crashed attempt's
    // file set. Returns (per-DN (dn, rows, minCts, maxCts, txns),
    // cross-DN distinct txn count).
    val holdF = scala.concurrent.Future[
        (Seq[(String, Long, Long, Long, Long)], Long)] {
      val segDir = s"$holdRoot/$batchId"
      if (heldRowCount == 0L) {
        // deterministic empty segment without a write job or a stats
        // read-back: the observed held count is a pure function of
        // (gate, sealed barrier), so every replay takes the same branch
        val sfs = graft.util.HadoopIo.fsOf(new Path(segDir))
        sfs.delete(new Path(segDir), true)
        sfs.mkdirs(new Path(segDir))
        sfs.create(new Path(segDir, "_SUCCESS"), true).close()
        (Seq.empty, 0L)
      } else {
        gated.filter(col("__commit_tso") > barrier)
          .sortWithinPartitions(col("__commit_tso"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(segDir)
        // per-DN park telemetry and the segment meta in ONE read-back:
        // rollup's grand-total row carries the cross-DN distinct txn
        // count (per-DN distinct sums overcount a cross-DN XA txn once
        // per branch DN — the old second recount job), the per-DN rows
        // carry the straggler telemetry
        val rows = spark.read.schema(segSchema).parquet(segDir)
          .rollup(col("partitionId"))
          .agg(count(lit(1)).as("rows"),
            min(col("__commit_tso")).as("mn"),
            max(col("__commit_tso")).as("mx"),
            countDistinct(col("txnId")).as("txns"),
            grouping(col("partitionId")).as("g"))
          .collect().toSeq
        val (totals, perDn) = rows.partition(_.getByte(5) == 1)
        (perDn.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))),
          totals.headOption.map(_.getLong(4)).getOrElse(0L))
      }
    }(sideEc)

    def runFanOut(f: CdcBinlogX.FanOut): Unit = {
        // Binlog-X (§3.2): DML hashes to its stream (HashConfig
        // .getStreamSeq semantics); DDL broadcasts to ALL streams (the
        // TxnTag path) so every per-stream log is self-describing
        import graft.operators.StreamHash
        // record-level keys come from whichever image carries them:
        // DELETE rows have theirs in `before` — without the fallback a
        // key's delete would hash to a different stream than its
        // inserts and break per-key order
        val pkExprs = f.pkCols.map(c => coalesce(
          element_at(col("after"), c), element_at(col("before"), c)))
        val dml = emit.filter(col("op") =!= "DDL")
          .withColumn("__stream", StreamHash.streamSeqWithOverrides(
            f.level, f.streams, col("schemaName"), col("tableName"),
            pkExprs, f.overrides))
        val streamed = Staged.parquetStage(
          dml.unionByName(
            StreamHash.broadcastToAllStreams(
                emit.filter(col("op") === "DDL"), f.streams)
              .withColumnRenamed("stream", "__stream")),
          s"$workDir/streamed")
        // per-stream rotation sizing off the staged frame: under hash
        // skew a hot stream must still honor targetRowsPerFile (one
        // O(M) aggregate; deterministic, so replays re-split the same)
        val perStream: Map[Int, Long] =
          if (targetRowsPerFile <= 0) Map.empty
          else streamed.groupBy(col("__stream")).count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
        // the M per-stream logs are INDEPENDENT (own dir, own prior
        // executed set, own rotation) — submit their writes
        // CONCURRENTLY so a batch pays ~1 job-submission latency, not
        // M serial ones (the reference's per-stream Final tasks run
        // side by side; Spark's scheduler interleaves the jobs). Each
        // write is a driver-side action off the shared staged frame;
        // the pool is bounded so a wide fan-out queues rather than
        // spawning M threads.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(f.streams, 8))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val writes = (0 until f.streams).map { i =>
            scala.concurrent.Future {
              val c = activeStreamWrites.incrementAndGet()
              maxConcurrentStreamWrites.getAndUpdate(m => math.max(m, c))
              try writeLog(streamed.filter(col("__stream") === i)
                .drop("__stream"), s"$outDir/stream-$i",
                partsFor(perStream.getOrElse(i, 0L)))
              finally { activeStreamWrites.decrementAndGet(); () }
            }
          }
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(writes),
            scala.concurrent.duration.Duration.Inf)
          ()
        } finally { pool.shutdown(); () }
    }

    // wire files (main thread) overlapping the holdback segment and the
    // metrics aggregate (side threads) — all three consume only the
    // staged gate + released segments, and write disjoint directories
    val (newSegStats, newSegTxns) = try {
      fanOut match {
        case None => writeLog(emit, outDir, partsFor(counts.getLong(1)))
        case Some(f) => runFanOut(f)
      }
      scala.concurrent.Await.result(holdF,
        scala.concurrent.duration.Duration.Inf)
    } finally { sidePool.shutdown(); () }
    // per-DN park telemetry rides the new segment's meta aggregate: the
    // straggler's victims are OTHER DNs' rows parked above its frontier
    // (verdict: name the lagging DN and its parked-txn count per
    // trigger, before force-complete has to)
    val newSeg: Option[SegMeta] =
      if (newSegStats.isEmpty) None
      else Some(SegMeta(batchId.toString,
        newSegStats.map(_._2).sum,
        newSegStats.map(_._3).min,
        newSegStats.map(_._4).max,
        newSegTxns))
    val parkedByDn: Map[String, Long] =
      newSegStats.map(r => r._1 -> r._5).toMap
    // survivors among the carried segments: fully-released ones (maxCts
    // at or under the barrier) drop out; straddlers re-count their
    // remaining above-barrier slice (the same segments the release read
    // already opened — untouched segments keep their meta verbatim)
    val survivors: Seq[SegMeta] =
      if (slowPath) Seq.empty
      else carried.flatMap { s =>
        if (s.maxCts <= barrier) None
        else if (s.minCts > barrier) Some(s)
        else segMetaOf(spark, s"$holdRoot/${s.name}", s.name, barrier)
      }
    // bounded segment count: size-tiered compaction — fold the two
    // smallest live segments until the count fits (TxnApplier's
    // compactBuckets discipline). Amortized LSM cost: steady parking
    // folds two RECENT small segments (O(new)), a backlog's bulk folds
    // only as tiers fill — never a per-trigger rewrite of the backlog.
    // Deterministic under replay: inputs are (manifest N-1, sealed
    // barrier), the fold order is (rows, name)-sorted, and fold outputs
    // are named hold/<N>.c<i> so a replay overwrites its own files.
    var live: Vector[SegMeta] = (survivors ++ newSeg).toVector
    var foldIdx = 0
    while (live.length > holdMaxSegments) {
      val bySize = live.sortBy(s => (s.rows, s.name))
      val (a, b) = (bySize(0), bySize(1))
      val name = s"$batchId.c$foldIdx"
      foldIdx += 1
      spark.read.schema(segSchema)
        .parquet(s"$holdRoot/${a.name}", s"$holdRoot/${b.name}")
        .filter(col("__commit_tso") > barrier)
        .sortWithinPartitions(col("__commit_tso"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$holdRoot/$name")
      live = live.filterNot(s => s.name == a.name || s.name == b.name) ++
        segMetaOf(spark, s"$holdRoot/$name", name, Long.MinValue)
    }
    writeManifest(fs, new Path(s"$holdRoot/$batchId.segments"), live)
    val heldRows = live.map(_.rows).sum
    // heldTxns: sum of per-segment distinct counts — an upper bound
    // (a txn whose branches arrived in different polls sits in more
    // than one segment); the pressure consumers (CdcReshard.recommend,
    // alarms) want the safe-side bound
    val heldTxns = live.map(_.txns).sum
    val maxFrontier = decided.frontiers.values.map(_._1)
      .foldLeft(Long.MinValue)(math.max)
    val lagKeys = decided.frontiers.toSeq.sortBy(_._1).map {
      case (dn, (f, _)) =>
        s";lag.$dn=${if (f == Long.MinValue) -1L else maxFrontier - f}"
    }.mkString
    val parkKeys = parkedByDn.toSeq.sorted.map { case (dn, t) =>
      s";parked.$dn=$t"
    }.mkString
    // merge-metrics sidecar, written beside the frontier for operators
    // (writeSwap: readMergeMetrics must never see a half-written file)
    graft.util.HadoopIo.writeSwap(
      new Path(s"$holdRoot/.$batchId.metrics.tmp"),
      new Path(s"$holdRoot/$batchId.metrics"),
      s"barrier=$barrier;emittedTxns=${counts.getLong(0)};" +
        s"heldTxns=$heldTxns;heldRows=$heldRows;" +
        s"segments=${live.length};maxFrontier=$maxFrontier" +
        lagKeys + parkKeys)
    fs.delete(new Path(s"$holdRoot/${batchId - 2}.metrics"), false)
    fs.delete(new Path(s"$holdRoot/${batchId - 2}.frontier"), false)
    fs.delete(new Path(s"$holdRoot/${batchId - 2}.segments"), false)
    // segment GC: a dir neither manifest N-1 nor manifest N references
    // is released or folded-away; it must outlive the batch that
    // dropped it by one committed batch (a replay of N re-reads
    // manifest N-1's set, including segments N's fold consumed), so
    // only batch-parts at or under N-2 are reclaimed. Orphans from a
    // crashed GC are re-listed and reaped next batch.
    val referenced = (carried.map(_.name) ++ live.map(_.name)).toSet
    val holdPath = new Path(holdRoot)
    if (fs.exists(holdPath)) fs.listStatus(holdPath).foreach { stt =>
      val n = stt.getPath.getName
      if (stt.isDirectory && n.matches("\\d+(\\.c\\d+)?") &&
          !referenced(n) &&
          n.takeWhile(_.isDigit).toLong <= batchId - 2)
        fs.delete(stt.getPath, true)
    }
    // persist the registry: the versioned snapshot is the NEXT batch's
    // re-encode base (and this batch's replay anchor, above); the
    // registryDir sidecar seeds the SOURCE's decode, where the wire's
    // positional cells make an early save rename-safe. BOTH persist
    // writeReg (evolved + table-rename aliases): a renamed table's OLD
    // name must stay resolvable as long as pre-rename data can still
    // surface — held rows emitting in a later batch, and lagging DNs
    // whose segments still carry the old name (the reference's meta
    // manager keeps historical schema for the same reason).
    registryDir.foreach { d =>
      writeRegistrySnapshot(fs,
        new Path(s"$workDir/hold/$batchId.registry"), writeReg)
      fs.delete(new Path(s"$workDir/hold/${batchId - 2}.registry"), false)
      if (writeReg != reg0)
        graft.sinks.RegistrySidecar.save(d, writeReg)
    }
    ()
  }

  /** The rename work this batch's DDL statements introduce, derived
    * from the SAME parse that evolves the registry
    * (BinlogWire.evolveRegistry) with the SAME legality guards and the
    * SAME (tso, ddl) statement order, so re-keying and evolution can
    * never disagree — unlike a base-vs-evolved positional diff, which
    * goes silently blind the moment one ALTER both renames and
    * adds/drops a column (arity change).
    *
    *  - `colSteps`: ((schema, table), (old, new)) per applied
    *    RENAME/CHANGE COLUMN, in statement order — applied ONE AT A
    *    TIME downstream, so a row decoded between two same-batch
    *    renames (keyed by the intermediate name) re-keys correctly
    *    through the remaining steps. A step on a table that was
    *    RENAMED earlier in the batch is emitted for the ORIGINAL name
    *    too: held rows still carry it.
    *  - `tableAliases`: original (base-registry) table key → its final
    *    post-batch name, for tables RENAMEd this batch. Held rows KEEP
    *    their original table name on the wire (their commit precedes
    *    the rename in TSO order — a consumer replaying the log applies
    *    them to the old table, THEN the rename DDL, MySQL's own
    *    semantics); the WRITE registry instead gains an alias entry so
    *    the re-encode can map their cells.
    *  - `retained`: column lists of tables DROPPED this batch, as of
    *    the drop — a held transaction committed BEFORE the drop still
    *    emits (before the DROP DDL in wire order) and must re-encode;
    *    without retention the evolved registry's missing key would
    *    wedge the batch. */
  private[streaming] final case class RenameWork(
      colSteps: Seq[((String, String), (String, String))],
      tableAliases: Map[(String, String), (String, String)],
      retained: Map[(String, String), Seq[String]])

  private[streaming] def renameStepsFromBatch(staged: DataFrame,
      base: Map[(String, String), Seq[String]]): RenameWork = {
    import graft.operators.DdlParser
    val spark = staged.sparkSession
    import spark.implicits._
    val ddls = staged
      .filter(col("op") === "DDL" && col("ddl").isNotNull)
      .select(col("tso").cast("long"), col("schemaName"), col("ddl"))
      .orderBy(col("tso"), col("ddl"))
      .as[(Long, String, String)].collect()
    if (ddls.isEmpty) return RenameWork(Seq.empty, Map.empty, Map.empty)
    val steps = Seq.newBuilder[((String, String), (String, String))]
    var retained = Map.empty[(String, String), Seq[String]]
    // original (base) key -> the name it carries NOW in the fold
    var aliases = Map.empty[(String, String), (String, String)]
    def originalsOf(k: (String, String)): Seq[(String, String)] =
      aliases.collect { case (o, cur) if cur == k => o }.toSeq
    def renameTable(from: (String, String), to: (String, String)): Unit = {
      aliases = aliases.map { case (o, cur) =>
        o -> (if (cur == from) to else cur)
      }
      // `from` itself is an original name unless an earlier rename
      // already moved it (then the chain update above covered it)
      if (base.contains(from) && !aliases.contains(from))
        aliases += (from -> to)
    }
    var reg = base
    ddls.foreach { case (_, sch, stmt) =>
      DdlParser.parseAll(stmt, sch).foreach { parsed =>
      parsed match {
        case DdlParser.AlterTable(s2, t2, actions)
            if reg.contains((s2, t2)) =>
          // track the table's columns through the ACTION list too — a
          // single ALTER may chain, and each action's legality guard
          // must see its predecessors' effect (evolveRegistry's fold)
          var cur = reg((s2, t2))
          val keys = (s2, t2) +: originalsOf((s2, t2))
          actions.foreach {
            case DdlParser.RenameColumn(o, n)
                if o != n && cur.contains(o) && !cur.contains(n) =>
              keys.foreach(k => steps += ((k, (o, n))))
              cur = cur.map(c => if (c == o) n else c)
            case DdlParser.ChangeColumn(o, cd, _, _)
                if o != cd.name && cur.contains(o) &&
                  !cur.contains(cd.name) =>
              keys.foreach(k => steps += ((k, (o, cd.name))))
              cur = cur.map(c => if (c == o) cd.name else c)
            case _ => ()
          }
          actions.collectFirst { case DdlParser.RenameTo(s3, t3) =>
            (s3.getOrElse(s2), t3)
          }.foreach(dst => renameTable((s2, t2), dst))
        case DdlParser.RenameTable(pairs) =>
          pairs.foreach { case (from, to) =>
            if (reg.contains(from)) renameTable(from, to)
          }
        case DdlParser.DropTable(ts) =>
          ts.foreach(t => reg.get(t).foreach(cols =>
            retained += (t -> cols)))
        case _ => ()
      }
      }
      reg = graft.sinks.BinlogWire.evolveRegistry(reg, sch, stmt)
    }
    RenameWork(steps.result(),
      aliases.filter { case (o, cur) => o != cur }, retained)
  }

  /** Re-key renamed map entries to the evolved column names, one
    * rename step at a time in statement order: a row still keyed by a
    * step's OLD name (held pre-DDL rows, or same-batch rows decoded
    * under an intermediate epoch) gets its entry moved to the new one.
    * Holdback rows are stored normalized, so each batch only ever
    * applies its OWN steps. */
  private def normalizeRenames(df: DataFrame,
      steps: Seq[((String, String), (String, String))]): DataFrame =
    if (steps.isEmpty) df
    else steps.foldLeft(df) { case (acc, ((sch, tbl), (o, n))) =>
      val cond = col("schemaName") === sch && col("tableName") === tbl
      def fix(mcol: String) =
        when(cond && element_at(col(mcol), o).isNotNull &&
            element_at(col(mcol), n).isNull,
          map_concat(
            map_filter(col(mcol), (k, _) => k =!= o),
            map(lit(n), element_at(col(mcol), o))))
          .otherwise(col(mcol))
      acc.withColumn("before", fix("before"))
        .withColumn("after", fix("after"))
    }

  /** One batch's merge metrics (the reference's MergeMetrics surface):
    * the sealed barrier plus emitted/held transaction counts. */
  final case class MergeMetrics(barrier: Long, emittedTxns: Long,
      heldTxns: Long)

  /** Read the merge-metrics sidecar batch `batchId` wrote under
    * `workDir` — None if it has aged out (the work dir keeps the last
    * two batches) or the batch never ran. */
  def readMergeMetrics(workDir: String, batchId: Long)
      : Option[MergeMetrics] = {
    val p = new Path(s"$workDir/hold/$batchId.metrics")
    val fs = graft.util.HadoopIo.fsOf(p)
    if (!fs.exists(p)) None
    else {
      val kv = graft.util.HadoopIo.readString(p).split(";")
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
        .toMap
      // honor the Option contract even on an unparseable file (the
      // writer swaps atomically, but an operator-mangled file must
      // read as absent, not throw)
      try for {
        b <- kv.get("barrier"); e <- kv.get("emittedTxns")
        h <- kv.get("heldTxns")
      } yield MergeMetrics(b.toLong, e.toLong, h.toLong)
      catch { case _: NumberFormatException => None }
    }
  }

  /** One DN's merge state as of a batch: its frontier (highest TSO it
    * has ever delivered) and its force-complete stall age in dialed
    * batches — the reference daemon's per-storage delay/stall
    * dashboard surface (MergeMetrics + tryForceComplete state). */
  final case class DnMergeState(frontier: Long, stallBatches: Int)

  /** The sealed merge decision batch `batchId` wrote under `workDir`:
    * the barrier plus per-DN [[DnMergeState]] — None once aged out
    * (the work dir keeps the last two batches) or never written.
    * Operators watch this beside [[readMergeMetrics]]: a DN whose
    * stall age climbs toward `forceCompleteAfterBatches` is about to
    * be sealed out; a barrier far below the max frontier names the
    * lagging DN. */
  def readMergeState(workDir: String, batchId: Long)
      : Option[(Long, Map[String, DnMergeState])] = {
    val p = new Path(s"$workDir/hold/$batchId.frontier")
    val fs = graft.util.HadoopIo.fsOf(p)
    if (!fs.exists(p)) None
    else
      try {
        val st = readFrontiers(fs, p)
        Some((st.barrier, st.frontiers.map { case (dn, (f, s)) =>
          dn -> DnMergeState(f, s)
        }))
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Batch-versioned registry snapshot — the shared RegistrySidecar
    * serialization (guards included) written ATOMICALLY: this file is
    * the replay's schema anchor; a truncated half-write trusted by a
    * replay would be the exact wrong-base corruption it exists to
    * prevent. */
  private def writeRegistrySnapshot(fs: org.apache.hadoop.fs.FileSystem,
      p: Path, reg: Map[(String, String), Seq[String]]): Unit =
    graft.util.HadoopIo.writeSwap(
      new Path(p.getParent, s".${p.getName}.tmp"), p,
      graft.sinks.RegistrySidecar.serialize(reg))

  /** One live holdback segment's manifest entry: file name under
    * hold/ (`<batch>` or `<batch>.c<i>`), remaining above-barrier row
    * count, its cts range, and its distinct-txn count (recounted when
    * the segment is opened for release; an upper bound on live txns
    * when summed across segments — one txn's branches can park in
    * more than one segment). */
  private[streaming] final case class SegMeta(name: String, rows: Long,
      minCts: Long, maxCts: Long, txns: Long)

  /** Holdback segment schema: the change-event envelope plus the
    * persisted commit-TSO gate key (stable across batches under the
    * shared-CTS contract — see the segment block in emitBatch). */
  private[streaming] val segSchema: StructType =
    StructType(ChangeEvent.schema.fields :+
      StructField("__commit_tso", LongType, nullable = true))

  /** None = no manifest (fresh start, or the pre-segment layout). */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[Seq[SegMeta]] =
    if (!fs.exists(p)) None
    else Some(graft.util.HadoopIo.readString(p).split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(n, r, mn, mx, t) = line.split(",")
        SegMeta(n, r.toLong, mn.toLong, mx.toLong, t.toLong)
      })

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: Path, segs: Seq[SegMeta]): Unit =
    graft.util.HadoopIo.writeSwap(
      new Path(p.getParent, s".${p.getName}.tmp"), p,
      segs.map(s => s"${s.name},${s.rows},${s.minCts},${s.maxCts}," +
        s"${s.txns}").mkString("\n"))

  /** (Re)count a segment's above-`aboveCts` slice — None when nothing
    * remains (the segment leaves the manifest and GC reclaims it). */
  private def segMetaOf(spark: SparkSession, dir: String, name: String,
      aboveCts: Long): Option[SegMeta] = {
    val r = spark.read.schema(segSchema).parquet(dir)
      .filter(col("__commit_tso") > aboveCts)
      .agg(count(lit(1)), min(col("__commit_tso")),
        max(col("__commit_tso")), countDistinct(col("txnId")))
      .collect()(0)
    if (r.getLong(0) == 0L) None
    else Some(SegMeta(name, r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3)))
  }

  /** Straggler telemetry batch `batchId` wrote beside its merge
    * metrics: per-DN frontier lag (distance to the fastest frontier;
    * -1 = never delivered) and per-DN txns newly parked this trigger —
    * the observable that names a straggler DN before force-complete
    * has to seal it out. None once aged out or never written. */
  final case class HoldTelemetry(barrier: Long, maxFrontier: Long,
      heldRows: Long, heldTxns: Long, segments: Int,
      lagByDn: Map[String, Long], parkedTxnsByDn: Map[String, Long])

  def readHoldTelemetry(workDir: String, batchId: Long)
      : Option[HoldTelemetry] = {
    val p = new Path(s"$workDir/hold/$batchId.metrics")
    val fs = graft.util.HadoopIo.fsOf(p)
    if (!fs.exists(p)) return None
    val kv = graft.util.HadoopIo.readString(p).split(";")
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
      .toMap
    try for {
      b <- kv.get("barrier"); hr <- kv.get("heldRows")
      ht <- kv.get("heldTxns"); sg <- kv.get("segments")
      mf <- kv.get("maxFrontier")
    } yield HoldTelemetry(b.toLong, mf.toLong, hr.toLong, ht.toLong,
      sg.toInt,
      kv.collect { case (k, v) if k.startsWith("lag.") =>
        k.stripPrefix("lag.") -> v.toLong },
      kv.collect { case (k, v) if k.startsWith("parked.") =>
        k.stripPrefix("parked.") -> v.toLong })
    catch { case _: NumberFormatException => None }
  }

  /** Persisted merge state: the sealed barrier plus per-DN
    * (frontier, consecutive-stall-batches). */
  private[streaming] final case class FrontierState(barrier: Long,
      frontiers: Map[String, (Long, Int)])

  private def readFrontiers(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): FrontierState =
    if (!fs.exists(p)) FrontierState(Long.MinValue, Map.empty)
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val parts = text.split(";").toSeq.filter(_.nonEmpty)
      val barrier = parts.collectFirst {
        case kv if kv.startsWith("barrier=") =>
          kv.stripPrefix("barrier=").toLong
      }.getOrElse(Long.MinValue)
      val fronts = parts.filterNot(_.startsWith("barrier=")).map { kv =>
        val Array(dn, v) = kv.split("=", 2)
        v.split(",") match {
          case Array(f, stall) => dn -> (f.toLong, stall.toInt)
          case Array(f) => dn -> (f.toLong, 0)
        }
      }.toMap
      FrontierState(barrier, fronts)
    }

  private def writeFrontiers(fs: org.apache.hadoop.fs.FileSystem,
      p: Path, state: FrontierState): Unit = {
    val text = (s"barrier=${state.barrier}" +:
      state.frontiers.toSeq.sortBy(_._1).map { case (dn, (f, stall)) =>
        s"$dn=$f,$stall"
      }).mkString(";")
    // atomic: the frontier is replay-critical state — a truncated
    // half-write read back as a lower barrier/frontier would re-emit
    graft.util.HadoopIo.writeSwap(
      new Path(p.getParent, s".${p.getName}.tmp"), p, text)
  }
}

/** Binlog-X: the MULTI-STREAM Global-Binlog production (SURVEY §3.2) —
  * the same live composition as [[CdcBinlog.start]] (drain → TSO merge
  * → frontier barrier → wire files), fanned out into M per-stream logs
  * under `outDir/stream-<i>`.
  *
  * Reference semantics: `HashConfig.getStreamSeq` assigns each event a
  * stream by DATABASE / TABLE / RECORD hash
  * (task/.../transmit/relay/HashConfig.java:208-265); DDL (and the
  * heartbeat alignment the barrier already consumed) broadcast to all
  * streams (the TxnTag path), so each per-stream log is
  * self-describing. Each stream's log is independently TSO-ordered and
  * (with `gtidSid`) independently auto-position-servable; a RECORD-
  * level hash may split one transaction's rows across streams — the
  * reference's documented trade for per-key parallel consumption.
  */
object CdcBinlogX {

  /** Fan-out spec: stream count, hash level, (for ByRecord) the
    * after-image keys that form the record hash, and per-table stream
    * OVERRIDES ("db.table" → fixed stream) — the reference's
    * table-level pinning (transmit/relay/HashConfig.java:208-265), so
    * a hot table gets its own stream while everything else hashes.
    * A ByRecord level still pins the whole overridden table (its
    * per-key spread yields to the pin — HashConfig's precedence). */
  final case class FanOut(streams: Int,
      level: graft.operators.StreamHash.HashLevel =
        graft.operators.StreamHash.ByTable,
      pkCols: Seq[String] = Seq.empty,
      overrides: Map[String, Int] = Map.empty) {
    require(overrides.values.forall(s => s >= 0 && s < streams),
      s"stream overrides must target [0, $streams): $overrides")
  }

  def start(spark: SparkSession,
      endpoints: Seq[(String, String, Int)],
      user: String, password: String,
      tableCols: Map[(String, String), Seq[String]],
      outDir: String, checkpointDir: String, workDir: String,
      fanOut: FanOut,
      numPartitions: Int = 4,
      heartbeatTables: Set[(String, String)] = Set.empty,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      maxBytesPerPoll: Long = CdcConf.DefaultMaxBytesPerPoll,
      startExecuted: Map[String, String] = Map.empty,
      soTimeoutMs: Int = 30000,
      serverId: Long = 12345L,
      checksummed: Boolean = false,
      registryDir: Option[String] = None,
      forceCompleteAfterBatches: Int = 0,
      gtidSid: Option[java.util.UUID] = None,
      targetRowsPerFile: Int = 0,
      advanceIdleFrontiers: Boolean = false,
      sealedGapSkip: Boolean = false,
      convertDdl: Boolean = false,
      maxGapRecords: Int = 1000000,
      holdMaxSegments: Int = 12): StreamingQuery = {
    require(fanOut.streams > 0, "fanOut.streams must be positive")
    CdcBinlog.start(spark, endpoints, user, password, tableCols,
      outDir, checkpointDir, workDir, numPartitions, heartbeatTables,
      trigger, maxBytesPerPoll, startExecuted, soTimeoutMs, serverId,
      checksummed, registryDir, forceCompleteAfterBatches, gtidSid,
      targetRowsPerFile, fanOut = Some(fanOut),
      advanceIdleFrontiers = advanceIdleFrontiers,
      sealedGapSkip = sealedGapSkip, convertDdl = convertDdl,
      maxGapRecords = maxGapRecords, holdMaxSegments = holdMaxSegments)
  }
}
