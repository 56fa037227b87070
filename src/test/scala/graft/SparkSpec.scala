package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** A decoded change batch staged the way every routed caller stages
    * it, with its routing probe for `targets`. */
  def routed(decoded: DataFrame,
      targets: Seq[graft.jobs.WireReplicaJob.TableTarget])
      : graft.jobs.WireReplicaJob.RoutedBatch =
    graft.jobs.WireReplicaJob.stageRouted(decoded,
      graft.operators.Staged.tempDir("routed"), targets)

  /** A typed change batch (tso column `tso`) staged with its (tso,
    * bucket) probe: the apply input of a caller holding a plain frame. */
  def probed(batch: DataFrame, keyCols: Seq[String],
      nBuckets: Int): graft.operators.TxnApplier.Probed =
    graft.operators.TxnApplier.stage(batch, keyCols, "tso", nBuckets,
      graft.operators.Staged.tempDir("probed"))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.build("graft-test", cores = 4, localDir = None)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
