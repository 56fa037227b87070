package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Edge cases across the operator library: empty inputs, single
  * elements, pass-all configs — the degenerate shapes a long-running
  * pipeline will eventually see. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val empty = Seq.empty[(Long, String)].toDF("tso", "op")

  test("filters: empty replica spec passes everything; empty frame flows") {
    val df = Seq(("a", "t", 1L)).toDF("db", "tbl", "tso")
    val spec = Filters.ReplicaSpec()
    assert(Filters.replicaFilter(df, spec, "db", "tbl").count() == 1)
    assert(Filters.blacklist(df, "db", "tbl", Nil).count() == 1)
    assert(Filters.minTso(empty, "tso", 0L).count() == 0)
  }

  test("merge sort: single stream union, empty merge, empty disorder") {
    val one = Seq(1L, 2L).toDF("tso")
    assert(MergeSort.unionAll(Seq(one)).count() == 2)
    assert(MergeSort.kWayMerge(Seq(empty.select($"tso")), Seq("tso")).count() == 0)
    assert(MergeSort.disorderCount(empty.select($"tso"), "tso") == 0)
  }

  test("checksum: empty table yields null checksum; single row stable") {
    val c = Checksum.tableChecksum(empty, Seq("tso", "op")).head()
    assert(c.isNullAt(0)) // bit_xor over zero rows
    val one = Seq((1L, "x")).toDF("tso", "op")
    val c1 = Checksum.tableChecksum(one, Seq("tso", "op")).head().getLong(0)
    val c2 = Checksum.tableChecksum(one, Seq("tso", "op")).head().getLong(0)
    assert(c1 == c2)
  }

  test("validation: identical frames produce an all-zero summary") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val s = Validation.diffSummary(df, df, Seq("k"), Seq("v")).head()
    assert((s.getLong(0), s.getLong(1), s.getLong(2)) == ((0L, 0L, 0L)))
    assert(Validation.mismatched(df, df, Seq("k"), Seq("v")).count() == 0)
  }

  test("stream hash: m=1 sends everything to stream 0") {
    val df = Seq(("a", "t"), ("b", "u")).toDF("db", "tbl")
    val got = df.select(StreamHash.streamSeq(StreamHash.ByTable, 1,
      $"db", $"tbl", Nil)).as[Int].collect()
    assert(got.forall(_ == 0))
  }

  test("txn assembly: no commits → nothing; single-event txn assembles") {
    val ev = Seq((1L, "01", "INSERT")).toDF("txnId", "traceId", "op")
    val noCommits = Seq.empty[Long].toDF("txnId")
    assert(TxnAssembly.committedOnly(ev, noCommits, "txnId").count() == 0)
    val env = TxnAssembly.assemble(ev, "txnId", "traceId", Seq("op"))
    assert(env.head().getAs[Long]("n") == 1L)
  }

  test("appliers: empty batch merge; delete-only batch empties the target") {
    val emptyBatch = Seq.empty[(Long, Long, String, String)]
      .toDF("pk", "seq", "op", "v")
    assert(Appliers.mergeToFinalImages(emptyBatch, Seq("pk"), "seq", "op")
      .count() == 0)
    val target = Seq((1L, "a")).toDF("pk", "v")
    val delAll = Appliers.mergeToFinalImages(
      Seq((1L, 1L, "DELETE", "a")).toDF("pk", "seq", "op", "v"),
      Seq("pk"), "seq", "op").select($"pk", $"v", $"effective_op")
    assert(UpsertOracle.upsert(target, delAll, Seq("pk")).count() == 0)
  }

  test("dedup: all-duplicate frame collapses to one representative") {
    val df = Seq(("t", 3L), ("t", 1L), ("t", 2L)).toDF("k", "id")
    val got = Dedup.exactDedup(df, Seq("k"), "id").as[(String, Long)].collect()
    assert(got.toSeq == Seq(("t", 1L)))
    assert(Dedup.lastImage(df, Seq("k"), "id").head().getLong(1) == 3L)
  }

  test("as-of join: fact before any dim version resolves to null") {
    val fact = Seq(("t1", 1L)).toDF("tbl", "ts")
    val dim = Seq(("t1", 10L, 20L, "v")).toDF("tbl", "from", "to", "s")
    val got = AsOfJoin.broadcastAsOf(fact, dim, Seq("tbl"), "ts", "from", "to")
    assert(got.count() == 1 && got.head().isNullAt(got.head().fieldIndex("s")))
  }

  test("full copy: single-chunk request covers everything unbounded") {
    val df = Seq(1L, 2L, 3L).toDF("k")
    val bounds = FullCopy.chunkBounds(df, "k", 1)
    assert(bounds == Seq((0, None, None)))
    assert(df.filter(FullCopy.chunkPredicate("k", None, None)).count() == 3)
  }
}
