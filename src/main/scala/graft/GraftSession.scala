package graft

import java.io.File

import org.apache.spark.sql.SparkSession

/** The one engine session definition: every main and the test suite
  * build their session here, so the harnesses measure and test the same
  * engine. */
object GraftSession {

  /** Cores for `local[cores]` from `SPARK_GRAFT_CPUS`. */
  def cores: Int = coresFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** `SPARK_GRAFT_CPUS`'s value as a core count: the machine's
    * processors when unset; a value that is not a positive integer is
    * refused, never pasted into the master URL. */
  def coresFrom(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS='$s' is not a positive integer"))
  }

  /** The engine configs, in the order they are set. */
  def configs(cores: Int, localDir: Option[String]): Seq[(String, String)] =
    Seq("spark.master" -> s"local[$cores]") ++
      localDir.map("spark.local.dir" -> _) ++ Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.extensions" -> "graft.GraftExtensions",
      // local FS without per-path chmod forks (see NoChmodLocalFs doc):
      // measures the engine, not the no-native-hadoop fork path. The
      // rehearsal's publish loops are metadata-heavy, and run D's first
      // launch read 15-30 s per delta-publish without it
      "spark.hadoop.fs.file.impl" -> "graft.util.NoChmodLocalFs",
      // NOTE (r22, measured): coalescePartitions.parallelismFirst=false
      // (size-targeted AQE coalescing) was A/B'd over the shuffle-
      // bound query family at sf0.1 and REGRESSED it (12-query subset
      // 9.44s -> 10.68s, q93 1.42 -> 1.96): at this SF every shuffle
      // is under the advisory size, so it collapses to ONE reduce task
      // and serializes compute-heavy stages. Kept at the default
      // (parallelism-first); see OPTIMIZATION_r22.md.
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // the streaming harnesses (q109/q111) are lifecycle-bound, not
      // dataflow-bound: shrink the micro-batch planner's idle poll so
      // a contended driver window inflates them less
      "spark.sql.streaming.pollingDelay" -> "1",
      // streaming offset/commit/sink-manifest logs default to the
      // FileContext API, which IGNORES fs.file.impl and so bypasses
      // NoChmodLocalFs — every WAL file creation forks a chmod process
      // (measured: walCommit+commitOffsets 0.7-1.5 s per micro-batch on
      // a tmpfs checkpoint). The FileSystem-based manager routes through
      // the configured fs.file.impl; rename is atomic on local FS. Real
      // deployments on HDFS/S3 keep the default manager.
      "spark.sql.streaming.checkpointFileManagerClass" ->
        ("org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager"))

  def build(appName: String, cores: Int,
      localDir: Option[String]): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    configs(cores, localDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Scratch (shuffle spill, per-query staged targets, the JVM's temp
    * dir) on tmpfs: the host disk has intermittent multi-second fsync
    * stalls that inflate write-heavy queries 1.5-2x run-to-run with zero
    * code change — a timed run should measure the engine, not disk
    * weather. Real deployments address durable targets through the
    * Hadoop FS API (HDFS/S3/OSS); correctness runs (Verify) keep default
    * paths. `dir` overrides `/dev/shm/<name>`. Returns the scratch dir
    * and the session's local dir inside it. */
  def scratch(name: String, dir: Option[String]): (File, String) = {
    val f = new File(dir.getOrElse(
      if (new File("/dev/shm").isDirectory) s"/dev/shm/$name"
      else System.getProperty("java.io.tmpdir")))
    f.mkdirs()
    System.setProperty("java.io.tmpdir", f.getAbsolutePath)
    (f, s"${f.getAbsolutePath}/spark-local")
  }

  /** Remove a [[scratch]] dir once its session has stopped, when it sits
    * on tmpfs (shared memory stays held until the files go); a scratch
    * dir the caller chose elsewhere is theirs to keep. */
  def dropScratch(dir: File): Unit =
    if (dir.getAbsolutePath.startsWith("/dev/shm/"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
}
