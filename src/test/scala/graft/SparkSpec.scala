package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** A decoded change batch staged the way every routed caller stages
    * it, with its routing probe. */
  def routed(decoded: DataFrame): graft.jobs.WireReplicaJob.RoutedBatch =
    graft.jobs.WireReplicaJob.stageRouted(decoded,
      graft.operators.Staged.tempDir("routed"))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // skip per-path chmod forks on local FS (see NoChmodLocalFs doc)
      .config("spark.hadoop.fs.file.impl", "graft.util.NoChmodLocalFs")
      // streaming checkpoint WALs through the FileSystem API too —
      // FileContext ignores fs.file.impl (see Bench.scala)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
