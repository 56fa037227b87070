package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{HashedShingles, MinHashSignature, NfcNormalize, SimHash64}

/** Session extension entry point: registers graft's native Catalyst
  * expressions as SQL functions, so a SQL-only consumer reaches the same
  * one-pass sketch kernels the Column API uses (the reference exposes its
  * extension points by registration too — ExtensionLoader-style plugin
  * wiring in polardbx-cdc-common; here the Spark-idiomatic analog is
  * `spark.sql.extensions`).
  *
  * Every [[GraftSession]] sets it; then
  * {{{
  *   spark.sql("SELECT simhash64(hashed_shingles(body, 3)) FROM docs")
  * }}}
  *
  * The int parameters (shingle width, signature length) must be literals —
  * they size codegen'd arrays, so a column-valued argument is rejected at
  * analysis time, not at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intLiteral(fn: String, arg: String, e: Expression): Int =
    e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got ${other.sql}")
    }

  private def info(name: String, clazz: Class[_]) =
    new ExpressionInfo(clazz.getName, null, name)

  /** (identifier, info, builder) triples — the shape `injectFunction`
    * takes; also registrable directly on a live session's
    * FunctionRegistry (tests do both). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("hashed_shingles"),
      info("hashed_shingles", classOf[HashedShingles]),
      {
        case Seq(text, n) =>
          HashedShingles(text, intLiteral("hashed_shingles", "n", n))
        case args => throw new IllegalArgumentException(
          s"hashed_shingles expects (text, n), got ${args.length} args")
      }),
    (FunctionIdentifier("minhash_signature"),
      info("minhash_signature", classOf[MinHashSignature]),
      {
        case Seq(hashes, k) =>
          MinHashSignature(hashes, intLiteral("minhash_signature", "k", k))
        case args => throw new IllegalArgumentException(
          s"minhash_signature expects (hashes, k), got ${args.length} args")
      }),
    (FunctionIdentifier("simhash64"),
      info("simhash64", classOf[SimHash64]),
      {
        case Seq(hashes) => SimHash64(hashes)
        case args => throw new IllegalArgumentException(
          s"simhash64 expects (hashes), got ${args.length} args")
      }),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", classOf[NfcNormalize]),
      {
        case Seq(text) => NfcNormalize(text)
        case args => throw new IllegalArgumentException(
          s"nfc_normalize expects (text), got ${args.length} args")
      })
  )
}
