package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.model.GtidSet
import graft.operators.TxnApplier
import graft.sinks.{BinlogRetention, BinlogWire}
import graft.streaming.{CdcBinlogX, CdcHeartbeat, CdcReplica}

/** SCALE REHEARSAL of the live chain — the composed production the
  * reference runs as its whole deployment (§3.1 + §3.2 + retention +
  * consumers), exercised as ONE measured run so super-linear stages
  * show up as numbers instead of beliefs:
  *
  *   N DN wire logs (multi-wave backlog, per-DN GTID streams)
  *     → CdcHeartbeat.beatOnce per DN (idle-frontier advancement)
  *     → CdcBinlogX AvailableNow drain (M streams, ONE PINNED HOT
  *       TABLE via overrides — the skew story, admission-controlled
  *       deep-backlog split)
  *     → BinlogRetention.pass per stream (archive-coupled purge)
  *     → CdcReplica consumers on sampled streams (dump-served, GTID
  *       auto-position, txn-applied)
  *
  * Each stage reports wall-clock, and the sink stages report
  * bytes/files/rows. `main` prints one JSON line per run so numbers
  * land in SCALING.md; `ScaleRehearsalSpec` runs a small shape and
  * asserts the invariants (conservation, hot-table pinning, purge +
  * stitched history).
  */
object ScaleRehearsalJob {

  final case class Stage(name: String, wallMs: Long, rows: Long = -1L,
      bytes: Long = -1L, files: Long = -1L)

  /** One STANDING consumer's per-trigger telemetry (run-D mode): how
    * many triggers it took to drain its stream, the worst and median
    * trigger wall, the rows it pulled, and its targets' final measured
    * bytes — the flat-per-trigger claim is checked against these, not
    * against a stage total. */
  final case class ConsumerStat(stream: Int, triggers: Int,
      rowsIn: Long, maxTriggerMs: Long, medianTriggerMs: Long,
      targetBytes: Long)

  final case class Report(dns: Int, rowsPerDn: Long, streams: Int,
      consumed: Int, stages: Seq[Stage], producedRows: Long,
      consumedRows: Long, hotStreamRows: Long,
      consumerStats: Seq[ConsumerStat] = Seq.empty,
      compaction: Seq[TxnApplier.CompactionEvent] = Seq.empty,
      modeFlips: Seq[TxnApplier.ModeFlip] = Seq.empty) {
    def json: String = {
      val st = stages.map(s => s""""${s.name}":{"wallMs":${s.wallMs},""" +
        s""""rows":${s.rows},"bytes":${s.bytes},"files":${s.files}}""")
        .mkString(",")
      val cs = consumerStats.map(c =>
        s"""{"stream":${c.stream},"triggers":${c.triggers},""" +
        s""""rowsIn":${c.rowsIn},"maxTriggerMs":${c.maxTriggerMs},""" +
        s""""medianTriggerMs":${c.medianTriggerMs},""" +
        s""""targetBytes":${c.targetBytes}}""").mkString(",")
      val cp = compaction.map(e =>
        s"""{"buckets":${e.buckets},"wallMs":${e.wallMs}}""")
        .mkString(",")
      val mf = modeFlips.map(f =>
        s"""{"dir":"${f.dir.split('/').takeRight(2).mkString("/")}",""" +
        s""""version":${f.version},"delta":${f.delta}}""").mkString(",")
      s"""{"metric":"scale_rehearsal","dns":$dns,""" +
        s""""rowsPerDn":$rowsPerDn,"streams":$streams,""" +
        s""""consumed":$consumed,"producedRows":$producedRows,""" +
        s""""consumedRows":$consumedRows,""" +
        s""""hotStreamRows":$hotStreamRows,""" +
        s""""consumers":[$cs],"compaction":[$cp],""" +
        s""""modeFlips":[$mf],"stages":{$st}}"""
    }
  }

  private def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1000000L)
  }

  private def dirStats(dir: String): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = graft.util.HadoopIo.fsOf(root)
    if (!fs.exists(root)) (0L, 0L)
    else {
      val files = fs.listStatus(root).filter(st => st.isFile &&
        st.getPath.getName.startsWith("binlog."))
      (files.map(_.getLen).sum, files.length.toLong)
    }
  }

  val HotTable = "hot"
  private val ColdTables = 6

  /** Registry: the hot table, `ColdTables` cold ones, the heartbeat
    * table. All string-image 3-col rows. */
  def registry: Map[(String, String), Seq[String]] =
    (Seq(("db", HotTable)) ++ (0 until ColdTables).map(i => ("db", s"t$i")))
      .map(_ -> Seq("k", "seq", "v")).toMap +
      ((CdcHeartbeat.DefaultSchema, CdcHeartbeat.DefaultTable) ->
        Seq("id"))

  /** TSO layout: CHUNK-INTERLEAVED across DNs — within a wave, DN `d`
    * owns every `dns`-th chunk of `TsoChunk` consecutive tsos. A real
    * deployment's DNs commit against ONE global TSO clock, so their
    * tso ranges interleave finely; the original per-DN sequential
    * blocks made the merge barrier track the lowest-range DN and
    * parked nearly the whole backlog in holdback until a wave
    * boundary — run E (24 M rows, 6 produce triggers) measured the
    * per-batch holdback rewrite going super-linear from exactly that
    * (produce 658 s vs run D's 120 s at 2×). Chunks (not per-row
    * stride) keep the gno := tso executed sets compact: one interval
    * per chunk, rowsPerWave/TsoChunk intervals per DN per wave. */
  val TsoChunk = 5000L

  /** One DN's wave of change rows (chunk-interleaved tsos; ~40% of
    * rows on the hot table, the rest spread over the cold tables). */
  private def waveDf(spark: SparkSession, waveBase: Long, d: Int,
      dns: Int, rows: Long): DataFrame = {
    val tso = lit(waveBase) +
      ((col("id") / TsoChunk).cast("long") * dns + d) * TsoChunk +
      col("id") % TsoChunk
    spark.range(rows).select(
      tso.as("tso"),
      tso.as("txnId"),
      lit("INSERT").as("op"),
      lit("db").as("schemaName"),
      when(col("id") % 5 < 2, lit(HotTable))
        .otherwise(concat(lit("t"), col("id") % ColdTables))
        .as("tableName"),
      map().cast("map<string,string>").as("before"),
      map(lit("k"), tso.cast("string"),
        lit("seq"), lit("1"),
        lit("v"), concat(lit("v"), col("id") % 97)).as("after"),
      lit(null).cast("string").as("ddl"),
      lit(1700000000L).as("tsoTime"))
  }

  private def chunksPerWave(rowsPerWave: Long): Long =
    (rowsPerWave + TsoChunk - 1) / TsoChunk

  // each wave reserves dns × chunksPerWave whole chunk SLOTS (a short
  // final chunk leaves a tso gap — tsos need not be dense); inside a
  // wave, chunk c of dn d starts at waveBase + (c*dns + d)*TsoChunk
  private def waveBase(w: Int, dns: Int, rowsPerWave: Long): Long =
    1L + w.toLong * dns * chunksPerWave(rowsPerWave) * TsoChunk

  /** DN `d`'s executed tso set for wave `w` — one interval per chunk. */
  private def waveIntervals(w: Int, d: Int, dns: Int,
      rowsPerWave: Long): Vector[(Long, Long)] = {
    val base = waveBase(w, dns, rowsPerWave)
    (0L until rowsPerWave by TsoChunk).map { c0 =>
      val lo = base + (c0 / TsoChunk * dns + d) * TsoChunk
      (lo, lo + math.min(TsoChunk, rowsPerWave - c0))
    }.toVector
  }

  /** Write wave `w` of DN `d` as the NEXT file of its wire log (the
    * per-DN GTID stream chains through `priorExecuted`; the file index
    * is whatever the dir holds next — heartbeat appends interleave, so
    * wave index and file index diverge). Shared by the batch fixture
    * and the straggler/run-F live appends. */
  private def writeWaveFile(spark: SparkSession,
      reg: Map[(String, String), Seq[String]], dnDir: String,
      sid: java.util.UUID, w: Int, d: Int, dns: Int,
      rowsPerWave: Long): Unit = {
    val prior = if (w == 0) GtidSet.Empty
      else GtidSet(Map(sid -> (0 until w)
        .flatMap(pw => waveIntervals(pw, d, dns, rowsPerWave))
        .toVector))
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-rehearsal-w").toString
    BinlogWire.writeChangeStreamBinlogFiles(
      waveDf(spark, waveBase(w, dns, rowsPerWave), d, dns, rowsPerWave)
        .coalesce(1).sortWithinPartitions("tso"),
      reg, scratch, checksummed = true, gtidSid = Some(sid),
      priorExecuted = prior)
    val next = Option(new java.io.File(dnDir).listFiles()).toSeq
      .flatten.count(_.getName.startsWith("binlog."))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(scratch, "binlog.000000"),
      java.nio.file.Paths.get(dnDir, f"binlog.$next%06d"))
    ()
  }

  def run(spark: SparkSession, root: String, dns: Int, rowsPerDn: Long,
      streams: Int, waves: Int = 2, consumers: Int = 2,
      numPartitions: Int = 8, txnsPerCommit: Int = 10000,
      maxBytesPerPoll: Long = 64L * 1024 * 1024,
      standingTriggerMs: Option[Long] = None,
      applyMode: TxnApplier.ApplyMode = TxnApplier.ApplyMode.Auto(),
      compactAfter: Int = 32,
      compactMaxBuckets: Int = Int.MaxValue,
      standingDeadlineMs: Long = 2L * 3600 * 1000): Report = {
    import spark.implicits._
    require(rowsPerDn % waves == 0, "rowsPerDn must split into waves")

    val reg = registry
    val rowsPerWave = rowsPerDn / waves
    val sids = (0 until dns).map(d => java.util.UUID.fromString(
      f"0a1b2c3d-5ca1-4444-3333-${d}%012d"))
    val dnDirs = (0 until dns).map(d => s"$root/dn$d")
    dnDirs.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))

    // ---- stage: fixture (not production cost — the DNs' own logs) ----
    val (_, fixtureMs) = timed {
      (0 until waves).foreach { w =>
        (0 until dns).foreach { d =>
          writeWaveFile(spark, reg, dnDirs(d), sids(d), w, d, dns,
            rowsPerWave)
        }
      }
    }
    val fixtureStats = dnDirs.map(dirStats)
    // one past the last reserved chunk slot (the tso SPACE, ≥ row count
    // when the final chunks are partial)
    val totalTso =
      1L + waves.toLong * dns * chunksPerWave(rowsPerWave) * TsoChunk

    // ---- stage: heartbeat (driver-side beats advance every frontier
    //      past the whole backlog — the idle-DN liveness path) ----
    val (_, hbMs) = timed {
      (0 until dns).foreach { d =>
        CdcHeartbeat.beatOnce(spark, dnDirs(d), sids(d),
          tso = totalTso + d)
      }
    }

    // ---- stage: produce (the live chain: dump-dial → merge →
    //      barrier → M pinned streams, AvailableNow backlog drain) ----
    val out = s"$root/out"
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-5ca1-4444-3333-0000000f0f0f")
    val fan = CdcBinlogX.FanOut(streams,
      graft.operators.StreamHash.ByTable,
      overrides = Map(s"db.$HotTable" -> 0))
    val srvs = dnDirs.map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    val (_, produceMs) = timed {
      try {
        val q = CdcBinlogX.start(spark,
          (0 until dns).map(d => (s"dn$d", "localhost", srvs(d).port)),
          "repl", "pw", reg, out, s"$root/ckpt", s"$root/work", fan,
          numPartitions = numPartitions,
          heartbeatTables = Set((CdcHeartbeat.DefaultSchema,
            CdcHeartbeat.DefaultTable)),
          trigger = Trigger.AvailableNow(),
          maxBytesPerPoll = maxBytesPerPoll,
          gtidSid = Some(gsid))
        q.awaitTermination()
      } finally srvs.foreach(_.close())
    }
    val streamDirs = (0 until streams).map(i => s"$out/stream-$i")
    val produceStats = streamDirs.map(dirStats)
    // one decode pass per stream: row count, max data tso (the standing
    // consumers' convergence frontier), hot-table rows
    val perStream: Seq[(Long, Long, Long)] = streamDirs.map { d =>
      if (!new java.io.File(d).isDirectory) (0L, 0L, 0L)
      else {
        val r = BinlogWire.readBinlogFiles(spark, d, reg)
          .filter($"op" === "INSERT")
          .agg(count(lit(1)), coalesce(max($"tso"), lit(0L)),
            sum(when($"tableName" === HotTable, 1L).otherwise(0L)))
          .as[(Long, Long, Long)].collect().head
        r
      }
    }
    val producedRows = perStream.map(_._1).sum
    val hotStreamRows = perStream.headOption.map(_._3).getOrElse(0L)

    // ---- stage: consume (CdcReplica per sampled stream: dump-served,
    //      GTID auto-position, transactional apply; runs BEFORE the
    //      retention purge — bootstrap-through-the-purge-boundary is
    //      q115/BinlogRetentionSpec's covered path).
    //      Two shapes: AvailableNow drains streams sequentially (runs
    //      A–C); standingTriggerMs runs ALL sampled consumers as
    //      CONCURRENT ProcessingTime queries — the deployment's real
    //      standing-trigger shape (run D) — stopping each once its
    //      targets' committed frontier reaches the stream's max data
    //      tso (driver metadata polls, no data jobs). ----
    val sampled = (0 until math.min(consumers, streams)).filter(i =>
      new java.io.File(streamDirs(i)).isDirectory)
    def targetsOf(i: Int): Seq[WireReplicaJob.TableTarget] =
      reg.keys.filter(_._1 == "db").toSeq.map { case (sch, t) =>
        WireReplicaJob.TableTarget(sch, t,
          Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string"),
          Seq("k"), "seq", s"$root/target-$i/$t", 8)
      }
    def startConsumer(i: Int, trigger: Trigger,
        g: graft.sinks.BinlogDumpServer) =
      CdcReplica.start(spark,
        Seq((s"s$i", "localhost", g.port)), "repl", "pw",
        reg.filter(_._1._1 == "db"), targetsOf(i),
        s"$root/consumer-ckpt-$i", s"$root/consumer-stage-$i",
        s"$root/consumer-registry-$i", txnsPerCommit = txnsPerCommit,
        trigger = trigger,
        maxBytesPerPoll = maxBytesPerPoll,
        applyMode = applyMode, compactAfter = compactAfter,
        compactMaxBuckets = compactMaxBuckets)
    def countTargets(i: Int): Long = targetsOf(i).map { t =>
      if (TxnApplier.currentCommit(t.targetDir).isEmpty) 0L
      else TxnApplier.readCurrent(spark, t.targetDir).count()
    }.sum
    TxnApplier.drainCompactionLog() // clear pre-consume noise
    TxnApplier.drainModeLog()
    var consumerStats = Seq.empty[ConsumerStat]
    val (consumedRows, consumeMs) = timed {
      standingTriggerMs match {
        case None =>
          sampled.map { i =>
            val g = new graft.sinks.BinlogDumpServer(streamDirs(i),
              "repl", "pw")
            try {
              val q = startConsumer(i, Trigger.AvailableNow(), g)
              q.awaitTermination()
            } finally g.close()
            countTargets(i)
          }.sum
        case Some(ms) =>
          val servers = sampled.map(i =>
            i -> new graft.sinks.BinlogDumpServer(streamDirs(i),
              "repl", "pw")).toMap
          try {
            val queries = sampled.map(i =>
              i -> startConsumer(i, Trigger.ProcessingTime(ms),
                servers(i))).toMap
            // convergence: a consumer is drained once the max committed
            // lastTso across its targets reaches the stream's max data
            // tso, observed STABLE twice (the max-tso table can commit
            // while a sibling's apply is still in the same trigger) —
            // O(tables) pointer reads per poll, no Spark jobs
            val frontier = sampled.map(i => i -> perStream(i)._2).toMap
            def committedMax(i: Int): Long = targetsOf(i)
              .flatMap(t => TxnApplier.currentCommit(t.targetDir))
              .map(_.lastTso).maxOption.getOrElse(0L)
            val deadline = System.nanoTime() + standingDeadlineMs * 1000000L
            val confirms = scala.collection.mutable.Map(
              sampled.map(_ -> 0): _*)
            // progress harvesting rides the poll loop: recentProgress
            // is a BOUNDED ring (last ~100 entries), and an early-
            // finishing consumer idling at a fast ProcessingTime
            // cadence wraps its own data batches out of it long before
            // the slowest stream drains (run E measured a drained
            // stream reporting 0 triggers from exactly this)
            val harvested = scala.collection.mutable.Map(sampled.map(_ ->
              scala.collection.mutable.Map.empty[Long, (Long, Long)]): _*)
            def harvest(i: Int): Unit =
              queries(i).recentProgress.foreach { pr =>
                if (pr.numInputRows > 0)
                  harvested(i)(pr.batchId) = (pr.numInputRows,
                    pr.durationMs.getOrDefault("triggerExecution", 0L)
                      .longValue())
              }
            var live = sampled.toSet
            while (live.nonEmpty && System.nanoTime() < deadline) {
              Thread.sleep(1000L)
              live.toSeq.foreach(harvest)
              live.toSeq.foreach { i =>
                // the frontier commits MID-batch (the apply's pointer
                // lands inside foreachBatch), so also require the
                // trigger to be idle before confirming — stopping an
                // in-flight batch is exactly-once for DATA (the gates)
                // but its progress event would never publish, and the
                // per-trigger telemetry below must be complete
                if (committedMax(i) >= frontier(i) &&
                    !queries(i).status.isTriggerActive) {
                  confirms(i) += 1
                  if (confirms(i) >= 2) {
                    queries(i).stop(); live -= i
                  }
                } else confirms(i) = 0
              }
            }
            require(live.isEmpty,
              s"standing consumers never converged: streams $live " +
                s"(committed ${live.map(committedMax)}, wanted " +
                s"${live.map(frontier)})")
            sampled.foreach(harvest) // final sweep after the stops
            consumerStats = sampled.map { i =>
              val prog = harvested(i).values.toSeq
              val durs = prog.map(_._2).sorted
              ConsumerStat(i, prog.size,
                prog.map(_._1).sum,
                durs.lastOption.getOrElse(0L),
                if (durs.isEmpty) 0L else durs(durs.size / 2),
                targetsOf(i).map(t =>
                  TxnApplier.targetBytes(t.targetDir)).sum)
            }
          } finally servers.values.foreach(_.close())
          sampled.map(countTargets).sum
      }
    }
    val compactionEvents = TxnApplier.drainCompactionLog()
    val modeFlips = TxnApplier.drainModeLog()

    // ---- stage: retention (archive-coupled purge per stream; keep
    //      the top half of the TSO space live) ----
    val archRoot = s"$root/archive"
    val purgeBoundary = totalTso / 2
    val ((purgedFiles, archivedFiles), retentionMs) = timed {
      val per = streamDirs.filter(d => new java.io.File(d).isDirectory)
        .map { d =>
          val (archived, purged) = BinlogRetention.pass(spark, d,
            archRoot, purgeBoundary)
          (purged.size.toLong, archived.size.toLong)
        }
      (per.map(_._1).sum, per.map(_._2).sum)
    }

    Report(dns, rowsPerDn, streams, sampled.size,
      Seq(
        Stage("fixture", fixtureMs, rows = dns * rowsPerDn,
          bytes = fixtureStats.map(_._1).sum,
          files = fixtureStats.map(_._2).sum),
        Stage("heartbeat", hbMs, rows = dns.toLong),
        Stage("produce", produceMs, rows = producedRows,
          bytes = produceStats.map(_._1).sum,
          files = produceStats.map(_._2).sum),
        Stage("consume", consumeMs, rows = consumedRows),
        Stage("retention", retentionMs, files = purgedFiles,
          rows = archivedFiles)),
      producedRows, consumedRows, hotStreamRows,
      consumerStats, compactionEvents, modeFlips)
  }

  /** One produce trigger of the straggler run, joined from the query's
    * progress ring and the holdback telemetry sidecar: wall, input
    * rows, parked backlog after the trigger, live segment count, the
    * straggler's frontier lag, and the txns OTHER DNs newly parked. */
  final case class StragglerTrigger(batch: Long, ms: Long, rowsIn: Long,
      heldRows: Long, segments: Int, lagStraggler: Long,
      parkedOther: Long)

  /** DELIBERATE-STRAGGLER rehearsal (the run-E defect class, measured
    * against the append-only holdback): dn0 delivers wave 0 and then
    * goes quiet — no force-complete, its frontier parks the barrier —
    * while the other DNs keep delivering a wave per step through the
    * STANDING ProcessingTime production. The parked backlog grows by
    * (dns-1) × rowsPerWave per step; the claim under test is that
    * per-trigger produce wall stays FLAT in that backlog (each trigger
    * pays O(new + released) holdback IO, never a backlog rewrite).
    * Then dn0 catches up (its waves append, every frontier beats past
    * the tso space) and the whole backlog must release — exactly once,
    * conservation checked against the decoded output log.
    *
    * Returns the report as one JSON line: per-trigger
    * [[StragglerTrigger]] telemetry plus conservation counts. Flatness
    * is judged from the numbers (SCALING.md), not asserted here; the
    * structural invariants (conservation, straggler named by lag
    * telemetry, segment bound) are asserted by ScaleRehearsalSpec's
    * small shape. */
  def runStraggler(spark: SparkSession, root: String, dns: Int,
      rowsPerDn: Long, steps: Int, triggerMs: Long = 500L,
      numPartitions: Int = 8,
      maxBytesPerPoll: Long = 64L * 1024 * 1024,
      holdMaxSegments: Int = 12,
      deadlineMs: Long = 2L * 3600 * 1000): String = {
    require(dns >= 2, "straggler run needs a straggler AND healthy DNs")
    require(steps >= 2 && rowsPerDn % steps == 0,
      "rowsPerDn must split into steps")
    val reg = registry
    val rowsPerWave = rowsPerDn / steps
    val sids = (0 until dns).map(d => java.util.UUID.fromString(
      f"0a1b2c3d-5ca1-4444-3333-${d}%012d"))
    val dnDirs = (0 until dns).map(d => s"$root/dn$d")
    dnDirs.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val totalTso =
      1L + steps.toLong * dns * chunksPerWave(rowsPerWave) * TsoChunk

    // wave 0 lands on EVERY DN (dn0's frontier must exist for the
    // barrier to be ITS level, not MinValue-nothing-emits)
    (0 until dns).foreach(d =>
      writeWaveFile(spark, reg, dnDirs(d), sids(d), 0, d, dns,
        rowsPerWave))

    val out = s"$root/out"
    val work = s"$root/work"
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-5ca1-4444-3333-0000000f0f0f")
    val srvs = dnDirs.map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    val telemetry =
      scala.collection.mutable.Map.empty[Long, graft.streaming
        .CdcBinlog.HoldTelemetry]
    val progress =
      scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val deadline = System.nanoTime() + deadlineMs * 1000000L
    try {
      val q = graft.streaming.CdcBinlog.start(spark,
        (0 until dns).map(d => (s"dn$d", "localhost", srvs(d).port)),
        "repl", "pw", reg, out, s"$root/ckpt", work,
        numPartitions = numPartitions,
        heartbeatTables = Set((CdcHeartbeat.DefaultSchema,
          CdcHeartbeat.DefaultTable)),
        trigger = Trigger.ProcessingTime(triggerMs),
        maxBytesPerPoll = maxBytesPerPoll,
        gtidSid = Some(gsid),
        holdMaxSegments = holdMaxSegments)
      def harvest(): Unit = {
        q.recentProgress.foreach { pr =>
          progress(pr.batchId) = (pr.numInputRows,
            pr.durationMs.getOrDefault("triggerExecution", 0L)
              .longValue())
        }
        // the hold sidecars age out after two batches — harvest live
        val hold = new java.io.File(s"$work/hold")
        Option(hold.listFiles()).toSeq.flatten.map(_.getName)
          .filter(_.endsWith(".metrics"))
          .flatMap(_.stripSuffix(".metrics").toLongOption)
          .filterNot(telemetry.contains)
          .foreach { b =>
            graft.streaming.CdcBinlog.readHoldTelemetry(work, b)
              .foreach(t => telemetry(b) = t)
          }
      }
      def waitUntil(what: String)(cond: => Boolean): Unit = {
        while (!cond) {
          require(System.nanoTime() < deadline,
            s"straggler run: deadline waiting for $what " +
              s"(held=${telemetry.values.map(_.heldRows).maxOption})")
          Thread.sleep(300L)
          harvest()
        }
      }
      // steps: healthy DNs deliver a wave each; dn0 stays quiet. Wait
      // per step until the parked backlog reached the step's floor —
      // the trigger cadence and the append loop stay decoupled.
      (1 until steps).foreach { s =>
        (1 until dns).foreach(d =>
          writeWaveFile(spark, reg, dnDirs(d), sids(d), s, d, dns,
            rowsPerWave))
        val floor = (dns - 1).toLong * rowsPerWave * s
        waitUntil(s"step $s parked floor $floor")(
          telemetry.values.map(_.heldRows).maxOption.exists(_ >= floor))
      }
      // catch-up: dn0's missing waves append, then every frontier
      // beats past the whole tso space — the barrier jumps and the
      // backlog must release
      (1 until steps).foreach(s =>
        writeWaveFile(spark, reg, dnDirs(0), sids(0), s, 0, dns,
          rowsPerWave))
      (0 until dns).foreach(d =>
        CdcHeartbeat.beatOnce(spark, dnDirs(d), sids(d),
          tso = totalTso + d))
      waitUntil("release (heldRows back to 0 after the parked regime)") {
        val parkedBatches = telemetry.filter(_._2.heldRows > 0).keySet
        parkedBatches.nonEmpty && telemetry.exists { case (b, t) =>
          t.heldRows == 0L && parkedBatches.forall(_ < b)
        }
      }
      // idle convergence: with nothing left to poll no further batch
      // fires (micro-batches only run on new offsets) — wait for the
      // trigger to go idle with no data available, so the last data
      // batch has committed and its progress event published
      waitUntil("idle trigger after release")(
        !q.status.isTriggerActive && !q.status.isDataAvailable)
      harvest()
      q.stop()
      harvest()
    } finally srvs.foreach(_.close())

    val emittedRows = BinlogWire.readBinlogFiles(spark, out, reg)
      .filter(col("op") === "INSERT").count()
    val triggers = telemetry.keys.toSeq.sorted.map { b =>
      val t = telemetry(b)
      val (rowsIn, ms) = progress.getOrElse(b, (-1L, -1L))
      StragglerTrigger(b, ms, rowsIn, t.heldRows, t.segments,
        t.lagByDn.getOrElse("dn0", -1L),
        t.parkedTxnsByDn.filter(_._1 != "dn0").values.sum)
    }
    val tj = triggers.map(t =>
      s"""{"batch":${t.batch},"ms":${t.ms},"rowsIn":${t.rowsIn},""" +
      s""""heldRows":${t.heldRows},"segments":${t.segments},""" +
      s""""lagStraggler":${t.lagStraggler},""" +
      s""""parkedOther":${t.parkedOther}}""").mkString(",")
    s"""{"metric":"straggler_rehearsal","dns":$dns,""" +
      s""""rowsPerDn":$rowsPerDn,"steps":$steps,""" +
      s""""holdMaxSegments":$holdMaxSegments,""" +
      s""""producedRows":${dns * rowsPerDn},""" +
      s""""emittedRows":$emittedRows,""" +
      s""""maxHeldRows":${telemetry.values.map(_.heldRows)
        .maxOption.getOrElse(0L)},""" +
      s""""maxSegments":${telemetry.values.map(_.segments)
        .maxOption.getOrElse(0)},""" +
      s""""triggers":[$tj]}"""
  }

  /** RUN F — the composed failure-and-replan lifecycle, end to end
    * (the operator story the individual specs pin piecewise):
    *
    *   1. Gen-1 production (M streams, ProcessingTime,
    *      forceCompleteAfterBatches=2) with STANDING consumers on all
    *      M streams. dn0 delivers wave 0 then parks; the healthy DNs
    *      deliver waves 1..2 — dn0 stalls past the threshold and is
    *      FORCE-COMPLETED out (production continues without it).
    *   2. dn0 REVIVES with its missed waves — all below the sealed
    *      barrier: the production refuses loudly (the pinned refusal),
    *      and the documented recovery restart (`sealedGapSkip=true`)
    *      drops them into `_GAPS` and resumes.
    *   3. Consumers converge on gen 1; [[GapRepairJob.repair]] heals
    *      every consumer's routed tables from the DN-log truth.
    *   4. [[graft.streaming.CdcReshard.reshard]] seals the generation
    *      boundary M → M'; wave 3 lands on EVERY DN (dn0 is healthy
    *      again); the SAME production checkpoint resumes into gen 2 at
    *      M'.
    *   5. One consumer per NEW stream resumes BY GTID (startExecuted =
    *      union of gen-1 executed sets), applying each table into its
    *      gen-1 target dir — the cross-generation continuity path.
    *
    * Done = per-table conservation against the DN logs: every table's
    * final target state equals [[GapRepairJob.srcStateFromLogs]] over
    * all four waves — sealed-out rows included (via repair) and
    * post-barrier rows included (via gen 2). Throws on any violation;
    * returns the phase report as one JSON line. */
  def runF(spark: SparkSession, root: String, dns: Int,
      rowsPerDn: Long, streams: Int = 4, streamsAfter: Int = 6,
      triggerMs: Long = 300L, numPartitions: Int = 8,
      txnsPerCommit: Int = 10000,
      maxBytesPerPoll: Long = 64L * 1024 * 1024,
      deadlineMs: Long = 2L * 3600 * 1000): String = {
    import spark.implicits._
    require(dns >= 3, "run F wants a straggler and a quorum")
    require(rowsPerDn % 4 == 0, "rowsPerDn must split into 4 waves")
    val reg = registry
    val consumerReg = reg.filter(_._1._1 == "db")
    val rowsPerWave = rowsPerDn / 4
    val sids = (0 until dns).map(d => java.util.UUID.fromString(
      f"0a1b2c3d-5ca1-4444-3333-${d}%012d"))
    val dnDirs = (0 until dns).map(d => s"$root/dn$d")
    dnDirs.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val totalTso =
      1L + 4L * dns * chunksPerWave(rowsPerWave) * TsoChunk
    val gen1 = s"$root/gen1"
    val gen2 = s"$root/gen2"
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-5ca1-4444-3333-0000000f0f0f")
    val fanM = CdcBinlogX.FanOut(streams,
      graft.operators.StreamHash.ByTable,
      overrides = Map(s"db.$HotTable" -> 0))
    val fanMPrime = CdcBinlogX.FanOut(streamsAfter,
      graft.operators.StreamHash.ByTable,
      overrides = Map(s"db.$HotTable" -> 0))
    val deadline = System.nanoTime() + deadlineMs * 1000000L
    def waitUntil(what: String)(cond: => Boolean): Unit =
      while (!cond) {
        require(System.nanoTime() < deadline,
          s"run F: deadline waiting for $what")
        Thread.sleep(500L)
      }
    // progress probes off the merge state (idle-status checks race the
    // source's NEXT poll of just-appended files; frontiers don't lie)
    def latestHoldBatch: Option[Long] = {
      val hold = new java.io.File(s"$root/work/hold")
      Option(hold.listFiles()).toSeq.flatten.map(_.getName)
        .filter(_.endsWith(".metrics"))
        .flatMap(_.stripSuffix(".metrics").toLongOption).maxOption
    }
    def mergeState: Option[(Long, Map[String, Long])] =
      latestHoldBatch.flatMap(b =>
        graft.streaming.CdcBinlog.readMergeState(s"$root/work", b))
        .map { case (bar, m) =>
          (bar, m.map { case (dn, st) => dn -> st.frontier })
        }
    def frontierOf(d: Int): Long = mergeState
      .flatMap(_._2.get(s"dn$d")).getOrElse(Long.MinValue)
    def waveMax(w: Int, d: Int): Long =
      waveIntervals(w, d, dns, rowsPerWave).map(_._2).max - 1L
    val phases = Seq.newBuilder[Stage]
    def phase[A](name: String)(body: => A): A = {
      val (a, ms) = timed(body)
      phases += Stage(name, ms)
      a
    }

    // ---- phase 1: gen-1 production + straggler + standing consumers
    (0 until dns).foreach(d =>
      writeWaveFile(spark, reg, dnDirs(d), sids(d), 0, d, dns,
        rowsPerWave))
    val srvs = dnDirs.map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    val endpoints = (0 until dns).map(d =>
      (s"dn$d", "localhost", srvs(d).port))
    def produceGen1(skip: Boolean) = CdcBinlogX.start(spark,
      endpoints, "repl", "pw", reg, gen1, s"$root/ckpt", s"$root/work",
      fanM, numPartitions = numPartitions,
      heartbeatTables = Set((CdcHeartbeat.DefaultSchema,
        CdcHeartbeat.DefaultTable)),
      trigger = Trigger.ProcessingTime(triggerMs),
      maxBytesPerPoll = maxBytesPerPoll, gtidSid = Some(gsid),
      forceCompleteAfterBatches = 2, sealedGapSkip = skip)
    def targetsOf(i: Int): Seq[WireReplicaJob.TableTarget] =
      consumerReg.keys.toSeq.sorted.map { case (sch, t) =>
        WireReplicaJob.TableTarget(sch, t,
          Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string"),
          Seq("k"), "seq", s"$root/target-$i/$t", 8)
      }
    val conSrvs = (0 until streams).map { i =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$gen1/stream-$i"))
      i -> new graft.sinks.BinlogDumpServer(s"$gen1/stream-$i",
        "repl", "pw")
    }.toMap
    val sealedOutTxns = phase("gen1-straggler") {
      var q = produceGen1(skip = false)
      waitUntil("wave 0 drained on every DN")(
        (0 until dns).forall(d => frontierOf(d) >= waveMax(0, d)))
      // healthy DNs deliver waves 1 and 2 — two data batches with no
      // dn0 advance tick its stall clock to the threshold
      (1 to 2).foreach { w =>
        (1 until dns).foreach(d =>
          writeWaveFile(spark, reg, dnDirs(d), sids(d), w, d, dns,
            rowsPerWave))
        waitUntil(s"wave $w drained on the healthy DNs")(
          (1 until dns).forall(d => frontierOf(d) >= waveMax(w, d)))
      }
      // the force-complete seal has excluded dn0 — the barrier moved
      // past dn0's parked frontier
      waitUntil("force-complete seal past dn0")(
        mergeState.exists(_._1 > waveBase(1, dns, rowsPerWave)))
      // dn0 revives BELOW the seal: the production must refuse loudly
      (1 to 2).foreach(w =>
        writeWaveFile(spark, reg, dnDirs(0), sids(0), w, 0, dns,
          rowsPerWave))
      val failed =
        try { q.awaitTermination(deadlineMs); false }
        catch {
          case e: org.apache.spark.sql.streaming
              .StreamingQueryException =>
            require(e.getMessage.contains("sealed"),
              s"expected the sealed-barrier refusal, got $e")
            true
        }
      require(failed, "revived straggler must trip the refusal")
      // the documented recovery restart: same checkpoint, skip flag —
      // the refused batch replays and records the gap
      q = produceGen1(skip = true)
      waitUntil("gap recorded by the skip restart")(
        GapRepairJob.readGaps(spark, gen1).nonEmpty)
      // everything healthy emits: every frontier past the waves-0..2
      // tso space — but NOT past wave 3's (gen 2 delivers that later;
      // a heartbeat covering it would turn wave-3 rows late-vs-seal).
      // The ceiling tso sits inside the LAST DN's final wave-2 chunk:
      // fresh for every OTHER DN's gtid stream (per-DN gno spaces),
      // and the owner needs no beat — its data already put its
      // frontier there.
      val gen1Ceiling = waveBase(3, dns, rowsPerWave) - 1L
      (0 until dns).foreach(d =>
        if (waveMax(2, d) < gen1Ceiling)
          CdcHeartbeat.beatOnce(spark, dnDirs(d), sids(d),
            tso = gen1Ceiling))
      waitUntil("gen1 drained after heartbeats")(
        (0 until dns).forall(d => frontierOf(d) >= gen1Ceiling) &&
          !q.status.isTriggerActive)
      q.stop()
      val gaps = GapRepairJob.readGaps(spark, gen1)
      require(gaps.nonEmpty, "sealed-out gap must be recorded")
      gaps.map(_.entries.size.toLong).sum
    }

    // ---- phase 2: standing consumers converge on gen 1 ----
    val gen1Frontier: Map[Int, Long] = (0 until streams).map { i =>
      i -> BinlogWire.readBinlogFiles(spark, s"$gen1/stream-$i", reg)
        .filter($"op" === "INSERT")
        .agg(coalesce(max($"tso"), lit(0L))).as[Long].collect().head
    }.toMap
    phase("gen1-consume") {
      val queries = (0 until streams).map { i =>
        i -> CdcReplica.start(spark,
          Seq((s"s$i", "localhost", conSrvs(i).port)), "repl", "pw",
          consumerReg, targetsOf(i), s"$root/consumer-ckpt-$i",
          s"$root/consumer-stage-$i", s"$root/consumer-registry-$i",
          txnsPerCommit = txnsPerCommit,
          trigger = Trigger.ProcessingTime(triggerMs),
          maxBytesPerPoll = maxBytesPerPoll)
      }.toMap
      def committedMax(i: Int): Long = targetsOf(i)
        .flatMap(t => TxnApplier.currentCommit(t.targetDir))
        .map(_.lastTso).maxOption.getOrElse(0L)
      waitUntil("gen1 consumers converged")((0 until streams).forall(
        i => committedMax(i) >= gen1Frontier(i) &&
          !queries(i).status.isTriggerActive))
      queries.values.foreach(_.stop())
    }

    // ---- phase 3: gap repair (every consumer's ROUTED tables healed
    //      from the DN-log truth; one call — archiving is all-or-none)
    val routedGen1: Map[String, Int] = (0 until streams).flatMap { i =>
      BinlogWire.readBinlogFiles(spark, s"$gen1/stream-$i", reg)
        .filter($"op" === "INSERT")
        .select($"tableName").distinct().as[String].collect()
        .map(_ -> i)
    }.toMap
    val repairs = phase("gap-repair") {
      val repairTargets = (0 until streams).flatMap(i =>
        targetsOf(i).filter(t => routedGen1.get(t.tableName)
          .contains(i)))
      GapRepairJob.repair(spark, gen1, (0 until dns)
          .map(d => s"dn$d" -> dnDirs(d)).toMap,
        reg, repairTargets,
        t => GapRepairJob.srcStateFromLogs(spark, dnDirs, reg, t),
        txnsPerCommit = txnsPerCommit)
    }
    require(repairs.map(_.repaired).sum > 0L,
      "the sealed-out rows must have needed repair")

    // ---- phase 4: reshard M -> M', wave 3 everywhere, gen-2 drain
    phase("reshard-produce") {
      graft.streaming.CdcReshard.reshard(spark, gen1, gen2, fanM,
        fanMPrime)
      (0 until dns).foreach(d =>
        writeWaveFile(spark, reg, dnDirs(d), sids(d), 3, d, dns,
          rowsPerWave))
      (0 until dns).foreach(d =>
        CdcHeartbeat.beatOnce(spark, dnDirs(d), sids(d),
          tso = totalTso + dns + d))
      val q = CdcBinlogX.start(spark, endpoints, "repl", "pw", reg,
        gen2, s"$root/ckpt", s"$root/work", fanMPrime,
        numPartitions = numPartitions,
        heartbeatTables = Set((CdcHeartbeat.DefaultSchema,
          CdcHeartbeat.DefaultTable)),
        trigger = Trigger.ProcessingTime(triggerMs),
        maxBytesPerPoll = maxBytesPerPoll, gtidSid = Some(gsid),
        forceCompleteAfterBatches = 2)
      waitUntil("gen2 drained")(
        (0 until dns).forall(d => frontierOf(d) >= totalTso + dns) &&
          !q.status.isTriggerActive)
      q.stop()
    }

    // ---- phase 5: cross-generation consumer resume (GTID) ----
    val routedGen2: Map[String, Int] = (0 until streamsAfter)
      .flatMap { j =>
        val d = s"$gen2/stream-$j"
        if (!new java.io.File(d).isDirectory) Nil
        else BinlogWire.readBinlogFiles(spark, d, reg)
          .filter($"op" === "INSERT")
          .select($"tableName").distinct().as[String].collect()
          .map(_ -> j).toSeq
      }.toMap
    phase("gen2-consume") {
      // a resumed consumer's executed seed: EVERYTHING gen 1 emitted
      // (all four gen-1 consumers converged, so every gen-1 txn is
      // applied in some target) — post-barrier txns alone deliver
      val gen1Executed = (0 until streams)
        .map(i => graft.sinks.BinlogCatalog.executedGtidSet(spark,
          s"$gen1/stream-$i"))
        .foldLeft(GtidSet.Empty)(_ union _)
      val byNewStream = routedGen2.toSeq.groupBy(_._2)
      byNewStream.toSeq.sortBy(_._1).foreach { case (j, tabs) =>
        val g = new graft.sinks.BinlogDumpServer(s"$gen2/stream-$j",
          "repl", "pw")
        try {
          // each table applies into its GEN-1 target dir (the table's
          // continuity home — single-writer per dir holds: one new
          // stream owns each table)
          val targets = tabs.map(_._1).sorted.map { t =>
            WireReplicaJob.TableTarget("db", t,
              Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string"),
              Seq("k"), "seq",
              s"$root/target-${routedGen1(t)}/$t", 8)
          }
          val q = CdcReplica.start(spark,
            Seq((s"g2s$j", "localhost", g.port)), "repl", "pw",
            consumerReg, targets, s"$root/consumer2-ckpt-$j",
            s"$root/consumer2-stage-$j", s"$root/consumer2-registry-$j",
            txnsPerCommit = txnsPerCommit,
            trigger = Trigger.AvailableNow(),
            maxBytesPerPoll = maxBytesPerPoll,
            startExecuted = Map(s"g2s$j" -> gen1Executed.text))
          q.awaitTermination()
        } finally g.close()
      }
    }
    srvs.foreach(_.close())
    conSrvs.values.foreach(_.close())

    // ---- conservation: every table's target equals the DN-log truth
    //      over all four waves (gap rows via repair, wave 3 via gen 2)
    val diffs = phase("conservation") {
      routedGen1.toSeq.sorted.map { case (t, i) =>
        val target = WireReplicaJob.TableTarget("db", t,
          Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string"),
          Seq("k"), "seq", s"$root/target-$i/$t", 8)
        val src = GapRepairJob.srcStateFromLogs(spark, dnDirs, reg,
          target).select($"k", $"seq", $"v")
        val dst = TxnApplier.readCurrent(spark, target.targetDir)
          .select($"k", $"seq", $"v")
        val d = src.exceptAll(dst).count() + dst.exceptAll(src).count()
        require(d == 0L,
          s"run F conservation violated on db.$t: $d differing rows")
        t -> d
      }
    }
    val pj = phases.result().map(s =>
      s""""${s.name}":${s.wallMs}""").mkString(",")
    s"""{"metric":"run_f","dns":$dns,"rowsPerDn":$rowsPerDn,""" +
      s""""streams":$streams,"streamsAfter":$streamsAfter,""" +
      s""""sealedOutTxns":$sealedOutTxns,""" +
      s""""repaired":${repairs.map(_.repaired).sum},""" +
      s""""repairedTables":${repairs.count(_.repaired > 0)},""" +
      s""""tablesChecked":${diffs.size},""" +
      s""""phasesMs":{$pj}}"""
  }

  /** `runMain graft.jobs.ScaleRehearsalJob <root> <dns> <rowsPerDn>
    * <streams> [waves] [consumers] [standingMs] [mode] [compactAfter]
    * [compactMaxBuckets]` — prints the report JSON line.
    *
    * Straggler shape: `runMain graft.jobs.ScaleRehearsalJob straggler
    * <root> <dns> <rowsPerDn> <steps> [triggerMs] [holdMaxSegments]`.
    *
    * Run F: `runMain graft.jobs.ScaleRehearsalJob runF <root> <dns>
    * <rowsPerDn> [streams] [streamsAfter]`.
    *
    * `standingMs` > 0 switches the consume stage to the run-D shape:
    * ALL `consumers` streams consumed by concurrent ProcessingTime
    * queries. `mode` is cow|delta|auto (the consumers' apply mode). */
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cores
    if (args.headOption.contains("straggler")) {
      val spark = GraftSession.build("graft-straggler-rehearsal", cpus, None)
      try println(runStraggler(spark, args(1), args(2).toInt,
        args(3).toLong, args(4).toInt,
        triggerMs = if (args.length > 5) args(5).toLong else 500L,
        numPartitions = math.min(cpus, 16),
        holdMaxSegments =
          if (args.length > 6) args(6).toInt else 12))
      finally spark.stop()
      return
    }
    if (args.headOption.contains("runF")) {
      val spark = GraftSession.build("graft-run-f", cpus, None)
      try println(runF(spark, args(1), args(2).toInt, args(3).toLong,
        streams = if (args.length > 4) args(4).toInt else 4,
        streamsAfter = if (args.length > 5) args(5).toInt else 6,
        numPartitions = math.min(cpus, 16)))
      finally spark.stop()
      return
    }
    val root = args(0)
    val dns = args(1).toInt
    val rowsPerDn = args(2).toLong
    val streams = args(3).toInt
    val waves = if (args.length > 4) args(4).toInt else 2
    val consumers = if (args.length > 5) args(5).toInt else 2
    val standingMs = if (args.length > 6) args(6).toLong else 0L
    val mode = if (args.length > 7) args(7) match {
      case "cow" => TxnApplier.ApplyMode.Cow
      case "delta" => TxnApplier.ApplyMode.Delta
      case "auto" => TxnApplier.ApplyMode.Auto()
      // auto:<crossoverBytes>[:<remeasureCommits>] — the crossover
      // anchor runs with a small crossover so targets CROSS it mid-run
      case s if s.startsWith("auto:") =>
        val p = s.stripPrefix("auto:").split(":")
        TxnApplier.ApplyMode.Auto(p(0).toLong,
          if (p.length > 1) p(1).toLong
          else TxnApplier.ApplyMode.DefaultRemeasureCommits)
      case other => sys.error(s"unknown apply mode '$other'")
    } else TxnApplier.ApplyMode.Auto()
    val compactAfter = if (args.length > 8) args(8).toInt else 32
    val compactMaxBuckets =
      if (args.length > 9) args(9).toInt else Int.MaxValue
    val spark = GraftSession.build("graft-scale-rehearsal", cpus, None)
    try {
      val r = run(spark, root, dns, rowsPerDn, streams, waves,
        consumers, numPartitions = math.min(cpus, 16),
        standingTriggerMs = if (standingMs > 0) Some(standingMs) else None,
        applyMode = mode, compactAfter = compactAfter,
        compactMaxBuckets = compactMaxBuckets)
      println(r.json)
    } finally spark.stop()
  }
}
