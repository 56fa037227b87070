package graft.jobs

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{Appliers, UpsertOracle}

class ValidationJobSpec extends SparkSpec {
  import spark.implicits._

  private lazy val src = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
  // dst: drop 3 keys, corrupt 2, add 1 orphan
  private lazy val dst = ((1L to 1000L).filterNot(Set(10L, 500L, 999L))
    .map(i => (i, if (i == 20L || i == 700L) "CORRUPT" else s"v$i")) :+
    (2000L, "orphan")).toDF("k", "v")

  test("checksum pre-pass narrows row diff to suspect chunks; report correct") {
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (report, diffs) = ValidationJob.run(src, dst, Seq("k"), Seq("v"),
      chunkOf = pmod($"k", lit(50)))
    assert(report.chunksTotal == 50)
    // 6 touched keys live in ≤6 chunks
    assert(report.chunksMismatched <= 6 && report.chunksMismatched > 0)
    assert(report.missing == 3)
    assert(report.orphans == 1)
    assert(report.mismatched == 2)
    val kinds = diffs.groupBy($"diff_kind").count()
      .as[(String, Long)].collect().toMap
    assert(kinds == Map("missing" -> 3L, "orphan" -> 1L, "mismatched" -> 2L))
    // a long-lived validation driver must pin no executor blocks per run
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "ValidationJob.run leaked cached blocks")
  }

  test("applying the reconciliation batch converges dst to src") {
    val (_, diffs) = ValidationJob.run(src, dst, Seq("k"), Seq("v"),
      chunkOf = pmod($"k", lit(50)))
    val recon = ValidationJob.reconciliationBatch(diffs)
      .withColumn("seq", lit(1L))
    val images = Appliers.mergeToFinalImages(recon, Seq("k"), "seq", "op")
    val converged = UpsertOracle.upsert(dst, images.select($"k", $"v", $"effective_op"),
      Seq("k"))
    // converged == src exactly
    assert(converged.count() == src.count())
    assert(converged.except(src).count() == 0)
    assert(src.except(converged).count() == 0)
  }
}
