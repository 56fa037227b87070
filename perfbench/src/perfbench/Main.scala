package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. `shape` is `full` for a
  * measured run and `tiny` for the smoke checks of the self-test. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, shape: String, cores: Int) {
  def tiny: Boolean = shape == "tiny"
}

/** The one benchmark session: exactly the engine configs `graft.Bench`
  * sets, at `local[cores]` with shuffle partitions = cores. Every result
  * echoes them, so a config drift shows in the output. */
object Session {
  def configs(cores: Int, localDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.local.dir" -> localDir,
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.hadoop.fs.file.impl" -> "graft.util.NoChmodLocalFs",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.pollingDelay" -> "1",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"))

  def build(cores: Int, localDir: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    configs(cores, localDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** What a run reports: ops attempted and failed, and named metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Counts one checked op; a failed check is reported on stderr. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d)
      .toPlainString

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = failed == 0 && attempted > 0
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Timing helpers shared by the workloads. */
object Stats {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }
}

/** Everything a workload needs: the session, the options, the result, the
  * trace, and the boundary between set-up and timed ops. */
final class Ctx(val spark: SparkSession, val opts: Opts, val result: Result,
    val sessionMs: Double) {
  val trace = new Trace(spark)
  private var fixtureMs = Seq.empty[Double]
  private var warmupMs = 0.0

  /** Set-up time: JVM and session start, the median of the repeated
    * fixture generations, and the warm-up. */
  def setupS: Double =
    (sessionMs + Stats.median(fixtureMs) + warmupMs) / 1000.0

  def setupBreakdown: String =
    f"session $sessionMs%.0f ms, fixture ${fixtureMs.map(_.round).mkString("/")} ms, warm-up $warmupMs%.0f ms"

  /** Generates the fixture `times` times into fresh dirs and keeps the
    * last, so the fixture share of `setup_s` is a median. */
  def fixture[A](times: Int)(gen: Int => A): A = {
    var last: Option[A] = None
    val ts = (0 until times).map { i =>
      val (a, ms) = Stats.timedMs(gen(i))
      last = Some(a)
      ms
    }
    fixtureMs = ts
    last.get
  }

  def warmup[A](body: => A): A = {
    val (a, ms) = Stats.timedMs(body)
    warmupMs = ms
    a
  }

  def dir(name: String): String = {
    val d = new java.io.File(opts.work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Timed-op loop: runs `op(i)` while the next op is expected to end
    * within the run's seconds (at least `minOps` times, at most `maxOps`).
    * In a traced run every second op is traced, so the untraced ones give
    * the tracing overhead. */
  def loop(minOps: Int, maxOps: Int)(op: (Int, Boolean) => Unit): Int = {
    val t0 = System.nanoTime()
    val budget = opts.seconds * 1000000000L
    var i = 0
    def more = {
      val spent = System.nanoTime() - t0
      i < minOps || (i > 0 && spent + spent / i <= budget)
    }
    val walls = mutable.ArrayBuffer.empty[Long]
    while (i < maxOps && more) {
      val (_, ms) = Stats.timedMs(op(i, opts.trace && i % 2 == 1))
      walls += ms.round
      i += 1
    }
    System.err.println(s"[perfbench] op walls (ms): ${walls.mkString(" ")}")
    i
  }

  /** Runs `body` with the trace recording when `traced`. */
  def traced[A](on: Boolean, hook: org.apache.spark.sql.streaming
      .StreamingQueryListener.QueryProgressEvent => Unit = _ => ())(
      body: => A): A = {
    if (on) trace.start(hook)
    try body finally if (on) trace.stop()
  }
}

object Main {
  val Workloads: Seq[String] = Seq("binlog_drain", "replica_apply",
    "curation_batch")

  /** The end-to-end metrics every untraced run reports. */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_ms", "pass_s",
    "rows_per_s", "cpu_s")

  private def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Opts(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"),
      kv.getOrElse("--shape", "full"), need("--cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val opts = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val spark = Session.build(opts.cores, s"${opts.work}/spark-local")
    val sessionMs = (System.currentTimeMillis() - jvmStart).toDouble
    val result = new Result
    val ctx = new Ctx(spark, opts, result, sessionMs)
    val configs = Session.configs(opts.cores, s"${opts.work}/spark-local")
      .filterNot(_._1 == "spark.local.dir")
    // the config echo: one JSON line before the result line
    println("{\"perfbench_session\": {" + configs.map { case (k, v) =>
      s""""$k": "$v"""" }.mkString(", ") + "}}")
    try {
      opts.workload match {
        case "binlog_drain" => BinlogDrain.run(ctx)
        case "replica_apply" => ReplicaApply.run(ctx)
        case "curation_batch" => CurationBatch.run(ctx)
      }
      System.err.println(s"[perfbench] set-up: ${ctx.setupBreakdown}")
      if (opts.trace) Layers.complete(result)
      else {
        result.put("setup_s", ctx.setupS, "s")
        val missing = EndToEnd.filterNot(result.metrics.contains)
        require(missing.isEmpty, s"end-to-end metrics not measured: $missing")
      }
      val out = new java.io.File(opts.work, "result.json")
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(result.json) finally w.close()
      println(result.json)
    } finally spark.stop()
  }
}
