package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-based merge primitives of the RPL appliers: last-image collapse
  * and the key-hash bucket id.
  *
  * Reference semantics (polardbx-cdc-rpl/.../applier/): MergeApplier
  * collapses the batch to final images per PK, then batch REPLACE INTO /
  * DELETE (MergeApplier.java:46-156). The replica applier itself is
  * TxnApplier (transaction-preserving, bucketed, manifest-versioned),
  * which merges per transaction (`mergeToFinalImages` in its delta
  * mode) and partitions by `bucketOf`; SplitApplier's PK-change fallback
  * is the DELETE(before) + INSERT(after) split in WireReplicaJob.shape.
  */
object Appliers {

  /** MergeApplier semantics: collapse a change batch to one final action
    * per key. Input rows: (key, seq, op, payload...). Output: last image
    * per key with its effective op — UPDATE seen first after an INSERT in
    * the same batch still yields the insert-mode REPLACE (reference picks
    * insert mode at MergeApplier.java:94). */
  def mergeToFinalImages(batch: DataFrame, keyCols: Seq[String], seqCol: String,
      opCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    val anyInsert = max(when(col(opCol) === "INSERT", 1).otherwise(0))
      .over(Window.partitionBy(keyCols.map(col): _*))
    batch
      .withColumn("__rn", row_number().over(w))
      .withColumn("__has_insert", anyInsert)
      .filter(col("__rn") === 1)
      .withColumn("effective_op",
        when(col(opCol) === "DELETE", lit("DELETE"))
          .when(col("__has_insert") === 1, lit("REPLACE"))
          .otherwise(lit("UPDATE")))
      .drop("__rn", "__has_insert")
  }

  /** Key-hash bucket id — the bucketed target's partition column. Stable
    * across batches/sessions (Murmur3, fixed seed), so a key always lands
    * in the same bucket directory. */
  def bucketOf(keyCols: Seq[String], nBuckets: Int): Column =
    bucketOfKeys(keyCols.map(col), nBuckets)

  /** [[bucketOf]] over key expressions: the routing probe buckets typed
    * keys it reads out of decoded images, before any typed column exists. */
  def bucketOfKeys(keys: Seq[Column], nBuckets: Int): Column =
    pmod(hash(keys: _*), lit(nBuckets))
}
