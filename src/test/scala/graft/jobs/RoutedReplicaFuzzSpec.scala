package graft.jobs

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TxnApplier

/** Randomized routed-replica fuzz (the qatest/random discipline applied
  * to the round's headline feature): seeded random multi-table change
  * streams, cut into random txn-aligned batches with random REPLAYS,
  * routed through per-table targets — the final state of every table
  * must equal a naive sequential fold, and replays must never double a
  * transaction. */
class RoutedReplicaFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq("alpha", "beta")

  // (tso, seq, table, op, key, value)
  private type Op = (Long, Long, String, String, Long, String)

  private def naive(ops: Seq[Op], table: String): Map[Long, String] =
    ops.filter(_._3 == table).sortBy(o => (o._1, o._2))
      .foldLeft(Map.empty[Long, String]) {
        case (state, (_, _, _, "DELETE", k, _)) => state - k
        case (state, (_, _, _, _, k, v)) => state + (k -> v)
      }

  private def decodedOf(ops: Seq[Op],
      targets: Seq[WireReplicaJob.TableTarget]) = routed(
    ops.map { case (tso, seq, table, op, k, v) =>
      val img = Map("k" -> k.toString, "seq" -> seq.toString, "v" -> v)
      val (before, after) =
        if (op == "DELETE") (img, Map.empty[String, String])
        else (Map.empty[String, String], img)
      (tso, op, "db", table, before, after)
    }.toDF("tso", "op", "schemaName", "tableName", "before", "after"),
    targets)

  test("random two-table streams in random txn batches with replays == sequential fold (5 rounds)") {
    val rnd = new scala.util.Random(20260814L)
    (1 to 5).foreach { round =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-rfuzz$round").toString
      val targets = tables.map { t =>
        WireReplicaJob.TableTarget("db", t,
          Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
          Seq("k"), "seq", s"$root/$t", 2)
      }
      var seq = 0L
      val nKeys = 3 + rnd.nextInt(8)
      val txns = (1L to (10L + rnd.nextInt(20))).map { tso =>
        tso -> (0 until 1 + rnd.nextInt(3)).map { _ =>
          seq += 1
          val table = tables(rnd.nextInt(tables.size))
          val op = rnd.nextInt(4) match {
            case 0 => "INSERT"; case 1 | 2 => "UPDATE"; case _ => "DELETE"
          }
          (tso, seq, table, op, rnd.nextInt(nKeys).toLong, s"v$seq")
        }
      }
      val allOps = txns.flatMap(_._2)

      // random txn-aligned batch boundaries; ~1/3 of batches replay
      var i = 0
      var prev = Option.empty[Seq[Op]]
      while (i < txns.size) {
        val take = 1 + rnd.nextInt(6)
        val batch = txns.slice(i, i + take).flatMap(_._2)
        i += take
        WireReplicaJob.applyRouted(decodedOf(batch, targets), targets,
          txnsPerCommit = 1 + rnd.nextInt(3))
        if (rnd.nextInt(3) == 0)
          // replay: the gate must drop it
          prev.foreach(p => WireReplicaJob.applyRouted(
            decodedOf(p, targets), targets, txnsPerCommit = 2))
        prev = Some(batch)
      }

      tables.foreach { t =>
        val got = TxnApplier.readCurrent(spark, s"$root/$t")
          .select($"k", $"v").as[(Long, String)].collect().toMap
        assert(got == naive(allOps, t),
          s"round $round table $t diverged (seed-fixed)")
      }
    }
  }

  test("random streams with in-stream MODIFY/RENAME DDL == sequential fold (5 rounds)") {
    val rnd = new scala.util.Random(20260815L)
    (1 to 5).foreach { round =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-dfuzz$round").toString
      val targets = tables.map { t =>
        WireReplicaJob.TableTarget("db", t,
          Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
          Seq("k"), "seq", s"$root/$t", 2)
      }
      // (tso, seq, table, op, key, value, ddl) — the value column's
      // CURRENT name per table evolves as renames land; each row's
      // string image uses the name in force at its write time, the
      // way an evolved wire registry would encode it
      val vName = scala.collection.mutable.Map(
        tables.map(_ -> "v"): _*)
      var renameN = 0
      var seq = 0L
      val rows = Seq.newBuilder[(Long, Long, String, String, Long,
        String, String, String)]
      val naiveState = scala.collection.mutable.Map(
        tables.map(_ -> Map.empty[Long, String]): _*)
      val nKeys = 3 + rnd.nextInt(8)
      val txnIds = (1L to (10L + rnd.nextInt(20)))
      val batchesB = Seq.newBuilder[Seq[(Long, Long, String, String,
        Long, String, String, String)]]
      var cur = Seq.newBuilder[(Long, Long, String, String, Long,
        String, String, String)]
      var curTxns = 0
      var cut = 1 + rnd.nextInt(6)
      txnIds.foreach { tso =>
        if (rnd.nextInt(6) == 0) {
          // a DDL txn: rename the value column, or a (string-typed,
          // hence no-op) MODIFY — both exercise the rebuild path's
          // gate and idempotency under replay
          val table = tables(rnd.nextInt(tables.size))
          seq += 1
          val ddl = if (rnd.nextBoolean()) {
            renameN += 1
            val nw = s"v$renameN"
            val stmt =
              s"ALTER TABLE $table RENAME COLUMN ${vName(table)} TO $nw"
            vName(table) = nw
            stmt
          } else
            s"ALTER TABLE $table MODIFY COLUMN ${vName(table)} VARCHAR(64)"
          cur += ((tso, seq, table, "DDL", 0L, "", ddl, vName(table)))
        } else (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          seq += 1
          val table = tables(rnd.nextInt(tables.size))
          val op = rnd.nextInt(4) match {
            case 0 => "INSERT"; case 1 | 2 => "UPDATE"; case _ => "DELETE"
          }
          val k = rnd.nextInt(nKeys).toLong
          val v = s"v$seq"
          cur += ((tso, seq, table, op, k, v, null, vName(table)))
          naiveState(table) =
            if (op == "DELETE") naiveState(table) - k
            else naiveState(table) + (k -> v)
        }
        curTxns += 1
        if (curTxns >= cut) {
          batchesB += cur.result(); cur = Seq.newBuilder
          curTxns = 0; cut = 1 + rnd.nextInt(6)
        }
      }
      val tail = cur.result()
      if (tail.nonEmpty) batchesB += tail
      val batches = batchesB.result()

      def decodedOf(ops: Seq[(Long, Long, String, String, Long, String,
          String, String)]) = routed(
        ops.map { case (tso, seqN, table, op, k, v, ddl, valName) =>
          val img =
            if (op == "DDL") Map.empty[String, String]
            else Map("k" -> k.toString, "seq" -> seqN.toString,
              valName -> v)
          val (before, after) =
            if (op == "DELETE") (img, Map.empty[String, String])
            else (Map.empty[String, String], img)
          (tso, op, "db", table, before, after, ddl)
        }.toDF("tso", "op", "schemaName", "tableName", "before",
          "after", "ddl"), targets)

      var prev = Option.empty[Seq[(Long, Long, String, String, Long,
        String, String, String)]]
      batches.foreach { batch =>
        WireReplicaJob.applyRouted(decodedOf(batch), targets,
          txnsPerCommit = 1 + rnd.nextInt(3))
        if (rnd.nextInt(3) == 0) // replay: gates must drop rows AND ddl
          prev.foreach(p => WireReplicaJob.applyRouted(
            decodedOf(p), targets, txnsPerCommit = 2))
        prev = Some(batch)
      }

      tables.foreach { t =>
        val cols = TxnApplier.readCurrent(spark, s"$root/$t").columns
        assert(cols.contains(vName(t)) &&
          cols.count(_.startsWith("v")) == 1,
          s"round $round table $t: expected value column ${vName(t)}, " +
            s"got ${cols.mkString(",")}")
        val got = TxnApplier.readCurrent(spark, s"$root/$t")
          .select($"k", col(vName(t)).cast("string"))
          .as[(Long, String)].collect().toMap
        assert(got == naiveState(t),
          s"round $round table $t diverged under DDL (seed-fixed)")
      }
    }
  }
}
