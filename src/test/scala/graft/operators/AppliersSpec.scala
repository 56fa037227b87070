package graft.operators

import graft.SparkSpec

class AppliersSpec extends SparkSpec {
  import spark.implicits._

  private lazy val batch = Seq(
    // (pk, seq, op, v)
    (1L, 1L, "INSERT", "a1"), (1L, 2L, "UPDATE", "a2"),
    (2L, 3L, "UPDATE", "b1"), (2L, 4L, "DELETE", "b1"),
    (3L, 5L, "UPDATE", "c1"),
    (4L, 6L, "INSERT", "d1"), (4L, 7L, "DELETE", "d1"), (4L, 8L, "INSERT", "d2")
  ).toDF("pk", "seq", "op", "v")

  test("mergeToFinalImages collapses to one action per key") {
    val got = Appliers.mergeToFinalImages(batch, Seq("pk"), "seq", "op")
      .select("pk", "v", "effective_op").as[(Long, String, String)]
      .collect().toSet
    assert(got == Set(
      (1L, "a2", "REPLACE"),  // insert+update → replace with last image
      (2L, "b1", "DELETE"),   // update then delete → delete
      (3L, "c1", "UPDATE"),   // bare update stays update
      (4L, "d2", "REPLACE"))) // ins/del/ins → replace
  }

  test("upsert applies final images onto a target snapshot") {
    val target = Seq((1L, "old1"), (2L, "old2"), (9L, "keep"))
      .toDF("pk", "v")
    val images = Appliers.mergeToFinalImages(batch, Seq("pk"), "seq", "op")
      .select("pk", "v", "effective_op")
    val got = UpsertOracle.upsert(target, images, Seq("pk"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (3L, "c1"), (4L, "d2"), (9L, "keep")))
  }
}
