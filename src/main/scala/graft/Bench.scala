package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Queries are fully materialized via a noop-format
  * write so sorts/projections aren't optimized away (a bare count() lets
  * Catalyst drop the very operators being measured). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (scratch, localDir) = GraftSession.scratch("graft-bench",
      sys.env.get("SPARK_GRAFT_SCRATCH"))
    val spark = GraftSession.build("graft-bench", GraftSession.cores,
      Some(localDir))
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_ONLY=q59_curation,q60_txn_apply → time just those
    // (local iteration aid; the driver runs the full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // warm run: JIT, codegen cache, parquet footers — report steady-state
    // times (disable with SPARK_GRAFT_NO_WARMUP=1)
    if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP")) {
      ordered.foreach { case (n, f) => runOnce(n, f) }
      failed.clear()
    }
    // SPARK_GRAFT_REPEAT=N → measure each query N times in THIS JVM.
    // Reported value stays the min (the recorded double-run-min
    // protocol); the file artifact additionally carries the per-query
    // median, the statistic that survives this VM's documented
    // intermittent 1.5-2x disk/CPU inflation (r7 wire-family flag).
    // DEFAULT is 3, not 1: an invocation without the env var (the r9
    // driver run) would otherwise record single samples as "medians",
    // and single samples cannot be adjudicated against disk weather.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT") match {
      case Some(s) => s.toIntOption match {
        case Some(n) => math.max(1, n)
        case None =>
          // a typo'd knob must not abort the bench before any JSON is
          // emitted — warn and fall back to the default
          System.err.println(
            s"[bench] SPARK_GRAFT_REPEAT='$s' is not a number; using 3")
          3
      }
      case None => 3
    }
    val samples = ordered.map { case (name, fn) =>
      name -> (1 to repeat).map(_ => runOnce(name, fn)).sorted
    }
    def median(xs: Seq[Double]): Double =
      if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
    val results = samples.map { case (name, xs) => name -> xs.head }
    val medians = samples.map { case (name, xs) => name -> median(xs) }
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the scratch medium changes what is measured (tmpfs vs disk for
    // spills + staged writes) — record it so cross-round comparisons
    // know when the I/O substrate moved underneath the numbers
    val scratchPath = scratch.getAbsolutePath
    val medium = if (scratchPath.startsWith("/dev/shm")) "tmpfs" else "disk"
    // the FILE artifact always carries the median map (with repeat=1 it
    // equals the min — the key exists either way, so round-over-round
    // variance adjudication never needs a re-run); the STDOUT line
    // carries it only when repeat > 1, because the driver's log
    // tail-grab has a fixed byte window and doubling the per-query
    // payload would push the line past it (the r6/r7 truncation)
    def line(fmt: Double => String, withMedians: Boolean): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val med = if (withMedians) {
        val ms = medians.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
        // in-harness lifecycle phase timings (BenchPhases): lets a
        // reviewer attribute a slow streaming-query number to a
        // contended window vs a real regression without a re-run.
        // FILE artifact only — the stdout line must stay small.
        val ph = BenchPhases.snapshot.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
        s""","repeat":$repeat,"queries_median":$ms,"phases":$ph"""
      } else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$med,"failed":$failedJson,"sf":"$sfDir","scratch":"$scratchPath","scratch_medium":"$medium"}"""
    }
    // Artifact hygiene, two layers: (1) the canonical full-precision
    // JSON goes to its OWN file (the driver's log tail-grab has a fixed
    // byte window and truncated the 81-query stdout line mid-JSON in
    // r6/r7, losing q01-q21); (2) the stdout line is printed at 0.1 ms
    // resolution, which shrinks it below the tail window so even the
    // log-only path stays parseable end to end.
    val outFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json"))
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.println(line(_.toString, withMedians = true)) finally w.close()
    // Locale.ROOT: the f-interpolator honors the JVM default locale,
    // and a comma-decimal locale would emit unparseable "JSON"
    println(line(v =>
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v)),
      withMedians = repeat > 1))
    spark.stop()
    GraftSession.dropScratch(scratch)
    if (failed.nonEmpty) sys.exit(1)
  }
}
