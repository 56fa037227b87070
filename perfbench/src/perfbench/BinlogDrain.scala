package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.sinks.{BinlogDumpServer, BinlogWire}
import graft.streaming.{CdcBinlog, CdcHeartbeat}

/** `binlog_drain`: the Global Binlog catch-up a restarted or lagging
  * producer does. Set-up writes a seeded backlog into `Dns` DN wire logs
  * in the shape of `ScaleRehearsalJob`'s fixture (single-row INSERT
  * transactions keyed by their TSO, chunk-interleaved TSOs, ~40% of rows
  * on one hot table and the rest on 6 cold tables, a heartbeat per DN
  * past the backlog) and serves each DN with a dump server. Each timed
  * pass drains the whole backlog with `CdcBinlog.start` under an
  * AvailableNow trigger into fresh out and checkpoint dirs; the emitted
  * log is then decoded back and checked against the generated one. */
object BinlogDrain {
  val Dns = 4
  val Hot = "hot"
  val Cold: Seq[String] = (0 until 6).map(i => s"t$i")
  private val Tables = Hot +: Cold
  private val HbTable = (CdcHeartbeat.DefaultSchema, CdcHeartbeat.DefaultTable)
  val MaxBytesPerPoll: Long = 2L * 1024 * 1024
  val WarmupPasses = 3

  final case class Shape(rows: Int, chunk: Int)
  def shape(tiny: Boolean): Shape =
    if (tiny) Shape(rows = 800, chunk = 20)
    else Shape(rows = 12000, chunk = 100)

  def registry: Map[(String, String), Seq[String]] =
    Wire.registry(Tables) + (HbTable -> Seq("id"))

  def sid(d: Int): java.util.UUID =
    java.util.UUID.fromString(f"0a1b2c3d-5ca1-4444-3333-$d%012d")

  /** The generated backlog: per DN its transactions in TSO order. TSOs are
    * chunk-interleaved: DN d owns every Dns-th chunk of `chunk` TSOs. The
    * seed picks each row's table and value. */
  def backlog(seed: Long, s: Shape): IndexedSeq[Vector[Txn]] = {
    val rnd = new java.util.Random(seed)
    val txns = (1 to s.rows).map { i =>
      val t = if (rnd.nextDouble() < 0.4) Hot else Cold(rnd.nextInt(Cold.size))
      Txn(i.toLong, Vector(Change("INSERT", t, i.toLong, 1L,
        Values.next(rnd), None)))
    }
    (0 until Dns).map(d =>
      txns.filter(t => ((t.tso - 1) / s.chunk) % Dns == d).toVector)
  }

  /** Writes each DN's backlog as two wire files (the second carries the
    * first's GTID set as PREVIOUS_GTIDS) into `root/dn<d>`. */
  def writeDnLogs(root: String, per: IndexedSeq[Vector[Txn]]): Seq[String] =
    per.indices.map { d =>
      val dir = Paths.get(root, s"dn$d")
      Files.createDirectories(dir)
      val (a, b) = per(d).splitAt(per(d).size / 2)
      Wire.writeFile(dir.resolve("binlog.000000"), registry, a, sid(d),
        Vector.empty)
      Wire.writeFile(dir.resolve("binlog.000001"), registry, b, sid(d),
        Wire.intervals(a.map(_.tso)))
      dir.toString
    }

  /** The generated rows as the decoder reports them, heartbeats excluded:
    * (tso, table, op, k, seq, v), sorted. */
  def expectedRows(per: IndexedSeq[Vector[Txn]]): Array[String] =
    per.flatten.flatMap(t => t.changes.map(c =>
      s"${t.tso}|${c.table}|${c.op}|${c.k}|${c.seq}|${c.v}")).toArray.sorted

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val s = shape(ctx.opts.tiny)
    val fixtureRoot = ctx.dir("fixture")
    val (dnDirs, expected, totalRows) = ctx.fixture(3) { i =>
      val per = backlog(ctx.opts.seed, s)
      val root = s"$fixtureRoot/gen$i"
      val dirs = writeDnLogs(root, per)
      val maxTso = per.flatten.map(_.tso).max
      dirs.zipWithIndex.foreach { case (dir, d) =>
        CdcHeartbeat.beatOnce(spark, dir, sid(d), tso = maxTso + 1 + d)
      }
      val exp = expectedRows(per)
      (dirs, exp, exp.length.toLong)
    }
    val servers = dnDirs.map(d => new BinlogDumpServer(d, "repl", "pw"))
    val gsid = java.util.UUID.fromString("0a1b2c3d-5ca1-4444-3333-0000000f0f0f")
    var passNo = 0
    val held = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]

    @volatile var currentWork = ""
    val holdHook: org.apache.spark.sql.streaming.StreamingQueryListener
        .QueryProgressEvent => Unit = e =>
      CdcBinlog.readHoldTelemetry(currentWork, e.progress.batchId).foreach(h =>
        held.synchronized(held += ((h.heldRows, h.segments))))

    def pass(): String = {
      val root = ctx.dir(s"pass$passNo")
      passNo += 1
      currentWork = s"$root/work"
      val q = CdcBinlog.start(spark,
        servers.indices.map(d => (s"dn$d", "localhost", servers(d).port)),
        "repl", "pw", registry, s"$root/out", s"$root/ckpt", currentWork,
        numPartitions = ctx.opts.cores,
        heartbeatTables = Set(HbTable),
        trigger = Trigger.AvailableNow(),
        maxBytesPerPoll = MaxBytesPerPoll,
        gtidSid = Some(gsid))
      q.awaitTermination()
      s"$root/out"
    }

    /** Decodes the emitted log back; returns (rows, wire bytes, files). */
    def verify(out: String): (Long, Long, Long) = {
      val files = Option(new java.io.File(out).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.startsWith("binlog."))
      val rows = BinlogWire.readBinlogFiles(spark, out, registry)
        .filter(org.apache.spark.sql.functions.col("tableName") =!=
          HbTable._2)
        .select("log_file", "tableName", "op", "tso", "xid", "before", "after")
        .collect()
      // order: non-decreasing (commit TSO, txnId) in file-name order
      val ordered = rows.iterator.map(r => (r.getLong(3), r.getLong(4)))
        .sliding(2).forall {
          case Seq(a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)
          case _ => true
        }
      ctx.result.check(ordered, s"drain output of $out is out of TSO order")
      val got = rows.map { r =>
        val img = if (r.getString(2) == "DELETE") r.getMap[String, String](5)
          else r.getMap[String, String](6)
        s"${r.getLong(3)}|${r.getString(1)}|${r.getString(2)}|" +
          s"${img("k")}|${img("seq")}|${img("v")}"
      }.sorted
      ctx.result.check(java.util.Arrays.equals(
        got.asInstanceOf[Array[Object]], expected.asInstanceOf[Array[Object]]),
        s"drain output of $out: ${got.length} rows vs ${expected.length} " +
          "generated (transaction set differs)")
      (rows.length.toLong, files.map(_.length).sum, files.size.toLong)
    }

    try {
      // the first pass is cold; the next ones still settle
      ctx.warmup((1 to WarmupPasses).foreach { _ =>
        val out = pass()
        verify(out)
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(out).getParentFile)
      })
      val opMs = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
      val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
      val rowsPerS = scala.collection.mutable.ArrayBuffer.empty[Double]
      val cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
      var wire = (0L, 0L, 0L)
      var traced = 0
      val n = ctx.loop(minOps = 3, maxOps = 1000) { (_, on) =>
        val c0 = Stats.cpuNs()
        val (out, ms) = ctx.traced(on, holdHook) {
          ctx.trace.span("drain")(Stats.timedMs(pass()))
        }
        val (w, checkMs) = Stats.timedMs(verify(out))
        cpu += (Stats.cpuNs() - c0) / 1e9
        opMs += ((ms, on))
        passS += (ms + checkMs) / 1000.0
        rowsPerS += w._1 / (ms / 1000.0)
        if (on) { traced += 1; wire = (wire._1 + w._1, wire._2 + w._2,
          wire._3 + w._3) }
        // a pass's dirs are not needed once it is checked
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(out).getParentFile)
      }
      val r = ctx.result
      if (!ctx.opts.trace) {
        r.put("op_ms", Stats.median(opMs.map(_._1).toSeq), "ms")
        r.put("pass_s", Stats.median(passS.toSeq), "s")
        r.put("rows_per_s", Stats.median(rowsPerS.toSeq), "1/s")
        r.put("cpu_s", Stats.median(cpu.toSeq), "s")
      } else {
        Layers.streaming(ctx, traced)
        Layers.overhead(ctx, opMs.toSeq)
        Layers.spans(ctx, Seq("drain" -> traced))
        r.put("streaming.held_rows_max",
          held.synchronized(held.map(_._1).maxOption.getOrElse(0L)).toDouble,
          "count")
        r.put("streaming.held_segments_max",
          held.synchronized(held.map(_._2).maxOption.getOrElse(0)).toDouble,
          "count")
        val t = math.max(traced, 1).toDouble
        r.put("sinks.wire_bytes", wire._2 / t, "bytes")
        r.put("sinks.wire_files", wire._3 / t, "count")
        r.put("sinks.wire_bytes_per_row",
          if (wire._1 == 0) 0.0 else wire._2.toDouble / wire._1, "bytes")
      }
      System.err.println(s"[perfbench] binlog_drain: $n passes of " +
        s"$totalRows rows")
    } finally servers.foreach(_.close())
  }
}
