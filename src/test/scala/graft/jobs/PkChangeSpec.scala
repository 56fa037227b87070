package graft.jobs

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TxnApplier
import graft.sinks.BinlogWire

/** PRIMARY-KEY-CHANGING UPDATEs through the wire replica (the
  * reference's SplitApplier PK-change fallback,
  * rpl/applier/SplitApplier.java:43-146; QA scenario
  * SpecialDmlTest.testUpdatePk*): an UPDATE whose before-image key
  * differs from its after-image key must DELETE the old row and INSERT
  * the new one — keyed by the after image alone, the old key's row
  * silently survives in the target (the bug this spec pinned before
  * the shape-level split landed). */
class PkChangeSpec extends SparkSpec {
  import spark.implicits._

  private val reg = Map(("db", "t") -> Seq("k", "seq", "v"))
  private val colTypes =
    Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string")

  /** The table's replica target under `root`, 2 buckets. */
  private def target(root: java.nio.file.Path) = WireReplicaJob.TableTarget(
    "db", "t", colTypes, Seq("k"), "seq", s"$root/target", 2)

  private def row(tso: Long, op: String,
      before: Map[String, String], after: Map[String, String]) =
    (tso, tso, op, "db", "t", before, after, null: String, 1700000000L)

  private def writeLog(dir: String,
      rows: Seq[(Long, Long, String, String, String, Map[String, String],
        Map[String, String], String, Long)]): Unit = {
    BinlogWire.writeChangeStreamBinlogFiles(
      rows.toDF("tso", "txnId", "op", "schemaName", "tableName",
        "before", "after", "ddl", "tsoTime")
        .coalesce(1).sortWithinPartitions("tso"), reg, dir)
    ()
  }

  private def state(dir: String): Map[Long, String] =
    TxnApplier.readCurrent(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap

  test("an UPDATE that moves the key deletes the old row and inserts the new one; chains and reuses converge") {
    val root = java.nio.file.Files.createTempDirectory("graft-pkchange")
    writeLog(s"$root/log", Seq(
      row(1L, "INSERT", Map.empty,
        Map("k" -> "1", "seq" -> "1", "v" -> "a")),
      row(2L, "INSERT", Map.empty,
        Map("k" -> "5", "seq" -> "2", "v" -> "e")),
      // key 1 → 2: the old row must go
      row(3L, "UPDATE",
        Map("k" -> "1", "seq" -> "1", "v" -> "a"),
        Map("k" -> "2", "seq" -> "3", "v" -> "b")),
      // chain in a LATER txn: 2 → 3
      row(4L, "UPDATE",
        Map("k" -> "2", "seq" -> "3", "v" -> "b"),
        Map("k" -> "3", "seq" -> "4", "v" -> "c")),
      // key REUSE: a fresh row takes the vacated key 1
      row(5L, "INSERT", Map.empty,
        Map("k" -> "1", "seq" -> "5", "v" -> "z")),
      // an ordinary (non-key) UPDATE still applies in place
      row(6L, "UPDATE",
        Map("k" -> "5", "seq" -> "2", "v" -> "e"),
        Map("k" -> "5", "seq" -> "6", "v" -> "E"))))
    WireTail.replicate(spark, s"$root/log", reg, Seq(target(root)),
      s"$root/ckpt")
    assert(state(s"$root/target") ==
      Map(3L -> "c", 1L -> "z", 5L -> "E"),
      "old keys of moved rows must be erased, reuse and in-place " +
        "updates honored")
  }

  test("a key move WITHIN one transaction stays atomic at the commit boundary") {
    val root = java.nio.file.Files.createTempDirectory("graft-pkchange2")
    // txn at tso 2 carries the key move; versions are txn boundaries
    writeLog(s"$root/log", Seq(
      row(1L, "INSERT", Map.empty,
        Map("k" -> "10", "seq" -> "1", "v" -> "x")),
      row(2L, "UPDATE",
        Map("k" -> "10", "seq" -> "1", "v" -> "x"),
        Map("k" -> "11", "seq" -> "2", "v" -> "y"))))
    WireTail.replicate(spark, s"$root/log", reg, Seq(target(root)),
      s"$root/ckpt", txnsPerCommit = 1)
    assert(state(s"$root/target") == Map(11L -> "y"))
    // NO committed version shows both keys (half-applied move) or
    // neither after the insert
    TxnApplier.versions(s"$root/target").foreach { v =>
      val ks = TxnApplier.readVersion(spark, s"$root/target", v)
        .select($"k").as[Long].collect().toSet
      assert(ks == Set.empty || ks == Set(10L) || ks == Set(11L),
        s"version $v shows a torn key move: $ks")
    }
  }
}
