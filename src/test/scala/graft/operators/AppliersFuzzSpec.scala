package graft.operators

import graft.SparkSpec

/** Randomized applier fuzz — the qatest/random analog (polardbx-cdc-test/
  * .../qatest/random: random DML mixes verified against downstream
  * equality). Here: seeded random change batches applied through
  * mergeToFinalImages+upsert must equal a naive sequential fold. */
class AppliersFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def naiveApply(initial: Map[Long, String],
      ops: Seq[(Long, Long, String, String)]): Map[Long, String] =
    ops.sortBy(_._2).foldLeft(initial) { case (state, (pk, _, op, v)) =>
      op match {
        case "DELETE" => state - pk
        case _ => state + (pk -> v)
      }
    }

  test("random change batches: spark applier == sequential fold (20 rounds)") {
    val rnd = new scala.util.Random(20260812L)
    (1 to 20).foreach { round =>
      val nKeys = 1 + rnd.nextInt(30)
      val initial = (0 until nKeys)
        .filter(_ => rnd.nextBoolean())
        .map(k => k.toLong -> s"init$k").toMap
      var seq = 0L
      val ops = (1 to 1 + rnd.nextInt(100)).map { _ =>
        seq += 1
        val pk = rnd.nextInt(nKeys).toLong
        val op = rnd.nextInt(3) match {
          case 0 => "INSERT"; case 1 => "UPDATE"; case 2 => "DELETE"
        }
        (pk, seq, op, s"v$seq")
      }
      val expected = naiveApply(initial, ops)

      val target = initial.toSeq.toDF("pk", "v")
      val batch = ops.toDF("pk", "seq", "op", "v")
      val images = Appliers.mergeToFinalImages(batch, Seq("pk"), "seq", "op")
        .select($"pk", $"v", $"effective_op")
      val got = UpsertOracle.upsert(target, images, Seq("pk"))
        .as[(Long, String)].collect().toMap
      assert(got == expected, s"round $round diverged (seed-fixed)")
    }
  }
}
