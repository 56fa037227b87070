package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The specs' in-memory converge oracle: final images
  * ([[Appliers.mergeToFinalImages]]) applied onto a target snapshot,
  * the state a replica must reach. No replica path applies this way
  * (`TxnApplier` is the applier); specs compare its fold to it. */
object UpsertOracle {

  /** Set-based upsert: apply final images to a target snapshot.
    * target ∪ batch resolved per key: DELETE removes, REPLACE/UPDATE
    * supersedes, untouched target rows carry over. One full-outer-free
    * formulation: anti-join target to touched keys, union survivors. */
  def upsert(target: DataFrame, finalImages: DataFrame, keyCols: Seq[String],
      opCol: String = "effective_op"): DataFrame = {
    val dataCols = target.columns.toSeq
    val untouched = target.join(
      finalImages.select(keyCols.map(col): _*), keyCols, "left_anti")
    val upserts = finalImages.filter(col(opCol) =!= "DELETE")
      .select(dataCols.map(col): _*)
    untouched.unionByName(upserts)
  }
}
