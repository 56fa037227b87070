package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Checksum, Validation}

/** Source-vs-target validation + reconciliation, composed end-to-end.
  *
  * Reference pipeline: ValidationCoordinator → TableValidator chunk
  * checksums → row-level recheck of mismatched chunks → persist diffs →
  * ReconCoordinator re-sync (polardbx-cdc-rpl/.../validation/
  * TableValidator.java:49,100-161; ValSQLGenerator.java:75-222;
  * validation/reconciliation/).
  *
  * Scale shape: the checksum pre-pass reads both tables once and shuffles
  * only (chunk, checksum) pairs; the expensive row-level join runs ONLY
  * over chunks whose checksums disagree — at 100 TB with few diffs this
  * is the difference between a full-table join and touching a handful of
  * key ranges.
  */
object ValidationJob {

  final case class Report(
      chunksTotal: Long, chunksMismatched: Long,
      missing: Long, orphans: Long, mismatched: Long)

  /** Chunks whose checksums differ between src and dst. */
  def mismatchedChunks(src: DataFrame, dst: DataFrame, chunkExpr: Column,
      cols: Seq[String]): DataFrame = {
    val cs = Checksum.chunkChecksums(src, chunkExpr, cols)
      .withColumnRenamed("checksum", "src_checksum")
      .withColumnRenamed("n", "src_n")
    val cd = Checksum.chunkChecksums(dst, chunkExpr, cols)
      .withColumnRenamed("checksum", "dst_checksum")
      .withColumnRenamed("n", "dst_n")
    cs.join(cd, Seq("chunk"), "full_outer")
      .filter(!(col("src_checksum") <=> col("dst_checksum")) ||
        !(col("src_n") <=> col("dst_n")))
  }

  /** Lazy diff frame: checksum pre-pass narrows to suspect chunks, then
    * the row-level diff runs only there. `diff_kind` ∈ missing | orphan |
    * mismatched — the reconciliation input. Fully declarative (no driver
    * actions); the chunk list is broadcast. */
  def diffRows(src: DataFrame, dst: DataFrame, keys: Seq[String],
      valueCols: Seq[String], chunkOf: Column): DataFrame = {
    val bad = mismatchedChunks(src, dst, chunkOf, keys ++ valueCols)
      .select(col("chunk")).distinct()
    diffOverSuspects(
      src.join(broadcast(bad), chunkOf === bad("chunk"), "left_semi"),
      dst.join(broadcast(bad), chunkOf === bad("chunk"), "left_semi"),
      keys, valueCols)
  }

  /** The three-kind diff over ALREADY-NARROWED sides: one full-outer
    * join classifies all three kinds (Validation.diffKinds) instead of
    * three separate joins re-scanning both sides. */
  private def diffOverSuspects(srcBad: DataFrame, dstBad: DataFrame,
      keys: Seq[String], valueCols: Seq[String]): DataFrame =
    Validation.diffKinds(srcBad, dstBad, keys, valueCols)

  /** Full run with a driver-side report. The per-chunk checksum compare
    * — the only pass that reads both tables — executes ONCE: the chunk
    * counts ride the suspect-list write as observed metrics, only the
    * (small) suspect list is staged, and the row-level diff reads that
    * stage via a broadcast semi-join — the two-table scan never
    * re-executes per report metric, no unbounded chunk list ever
    * reaches the driver, and no cached blocks are pinned.
    * `chunksTotal` counts every chunk either side produced (full-outer
    * union), so `chunksMismatched <= chunksTotal` always holds. The
    * returned diff frame is lazy over the staged suspect list; callers
    * that iterate it further should stage it (Staged.parquetStage)
    * rather than re-materialize. */
  def run(src: DataFrame, dst: DataFrame, keys: Seq[String],
      valueCols: Seq[String], chunkOf: Column): (Report, DataFrame) = {
    val cols = keys ++ valueCols
    val cs = Checksum.chunkChecksums(src, chunkOf, cols)
      .withColumnRenamed("checksum", "src_checksum")
      .withColumnRenamed("n", "src_n")
    val cd = Checksum.chunkChecksums(dst, chunkOf, cols)
      .withColumnRenamed("checksum", "dst_checksum")
      .withColumnRenamed("n", "dst_n")
    val cmp = cs.join(cd, Seq("chunk"), "full_outer")
      .select(col("chunk"),
        (!(col("src_checksum") <=> col("dst_checksum")) ||
          !(col("src_n") <=> col("dst_n"))).as("bad"))
    // ONE action reads both tables: the chunk counts ride the suspect-
    // list write as observed metrics, and only the (small) suspect list
    // is staged — it backs the returned lazy diff frame, so its
    // directory lives as long as the frame (tiny: one value per
    // diverging chunk). chunksTotal counts every chunk either side
    // produced (the full-outer union), so chunksMismatched <= chunksTotal
    // always holds for ratio consumers.
    val obs = org.apache.spark.sql.Observation()
    val badDir = graft.operators.Staged.tempDir("validation-bad-chunks")
    cmp.observe(obs, count(lit(1)).as("total"),
        count(when(col("bad"), 1)).as("bad"))
      .filter(col("bad")).select(col("chunk"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(badDir)
    val (total, badCount) =
      (obs.get("total").asInstanceOf[Long], obs.get("bad").asInstanceOf[Long])
    val badChunks = src.sparkSession.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("chunk",
          cmp.schema("chunk").dataType))))
      .parquet(badDir)
    val diffs = diffOverSuspects(
      src.join(broadcast(badChunks), chunkOf === badChunks("chunk"),
        "left_semi"),
      dst.join(broadcast(badChunks), chunkOf === badChunks("chunk"),
        "left_semi"),
      keys, valueCols)
    val byKind = diffs.groupBy(col("diff_kind")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val report = Report(
      chunksTotal = total,
      chunksMismatched = badCount,
      missing = byKind.getOrElse("missing", 0L),
      orphans = byKind.getOrElse("orphan", 0L),
      mismatched = byKind.getOrElse("mismatched", 0L))
    (report, diffs)
  }

  /** Reconciliation batch from the diff rows: the change stream that,
    * applied to dst per key (a replica apply: the row's image supersedes,
    * a DELETE removes), converges it to src — missing→INSERT,
    * mismatched→UPDATE, orphan→DELETE. */
  def reconciliationBatch(diffs: DataFrame): DataFrame =
    diffs.withColumn("op",
      when(col("diff_kind") === "missing", "INSERT")
        .when(col("diff_kind") === "orphan", "DELETE")
        .otherwise("UPDATE"))
      .drop("diff_kind")
}
