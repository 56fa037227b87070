package graft.jobs

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Appliers, TxnApplier, UpsertOracle}

/** The routed apply's one write query per table trusts the (tso, bucket)
  * pairs that the staging write observed ([[WireReplicaJob.stageRouted]]).
  * These cases pin the probe against the in-memory converge fold
  * (`Appliers.mergeToFinalImages` + `UpsertOracle.upsert`, one transaction at
  * a time in TSO order) for both apply modes, pin the guard that refuses
  * to publish rows whose pair the probe missed, and crash a staged
  * 2-table trigger between its durable steps. */
class RoutedProbeSpec extends SparkSpec {
  import spark.implicits._

  private type Ev = (Long, String, String, Map[String, String],
    Map[String, String], String)

  private val modes = Seq[(String, TxnApplier.ApplyMode)](
    "cow" -> TxnApplier.ApplyMode.Cow, "delta" -> TxnApplier.ApplyMode.Delta)

  private def target(root: String, table: String) =
    WireReplicaJob.TableTarget("db", table,
      Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string"), Seq("k"),
      "seq", s"$root/$table", 4)

  /** (tso, op, table, before, after, ddl) events as a decoded frame. */
  private def decoded(evs: Seq[Ev]): DataFrame =
    evs.map { case (tso, op, t, b, a, ddl) =>
      (tso, op, "db", t, b, a, ddl)
    }.toDF("tso", "op", "schemaName", "tableName", "before", "after", "ddl")

  private def img(k: Any, seq: Long, v: String, vCol: String = "v") =
    Map("seq" -> seq.toString, vCol -> v) ++
      Option(k).map(x => "k" -> x.toString)
  private def ins(tso: Long, t: String, k: Any, v: String): Ev =
    (tso, "INSERT", t, Map.empty, img(k, tso, v), null)
  private def upd(tso: Long, t: String, k0: Any, k1: Any, v: String,
      vCol: String = "v"): Ev =
    (tso, "UPDATE", t, img(k0, tso - 1, "old", vCol),
      img(k1, tso, v, vCol), null)
  private def del(tso: Long, t: String, k: Any): Ev =
    (tso, "DELETE", t, Map("k" -> k.toString), Map.empty, null)

  /** The converge oracle: the events' typed rows (the shape every apply
    * reads) folded one transaction at a time, in TSO order, through the
    * in-memory merge apply. */
  private def oracle(evs: Seq[Ev], t: String, valCol: String,
      aliases: Map[String, Seq[String]] = Map.empty): Set[Row] = {
    val colTypes = Seq("k" -> "bigint", "seq" -> "bigint",
      valCol -> "string")
    val typed = WireReplicaJob.shape(decoded(evs), "db", t, colTypes,
      aliases, Seq("k")).collect()
    val schema = WireReplicaJob.shape(decoded(evs), "db", t, colTypes,
      aliases, Seq("k")).schema
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema).drop("op", "tso")
    typed.groupBy(_.getAs[Long]("tso")).toSeq.sortBy(_._1)
      .foldLeft(empty) { case (state, (_, rows)) =>
        val txn = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
        spark.createDataFrame(java.util.Arrays.asList(UpsertOracle.upsert(state,
          Appliers.mergeToFinalImages(txn, Seq("k"), "seq", "op"),
          Seq("k")).collect(): _*), empty.schema)
      }.collect().toSet
  }

  private def state(dir: String, valCol: String): Set[Row] =
    TxnApplier.readCurrent(spark, dir).select("k", "seq", valCol)
      .collect().toSet

  /** A key whose bucket differs from `k`'s under the targets' 4 buckets. */
  private def otherBucketKey(k: Long): Long = {
    val b = Seq(k).toDF("k").select(Appliers.bucketOf(Seq("k"), 4))
      .as[Int].head()
    (k + 1 until k + 64).find(c => Seq(c).toDF("k")
      .select(Appliers.bucketOf(Seq("k"), 4)).as[Int].head() != b).get
  }

  test("probed routed apply == the upsert fold: PK-changing UPDATE, delete-only key, null key, rename alias, replayed TSO, txnsPerCommit = 3 (COW and delta)") {
    val moved = otherBucketKey(1L)
    val batch1 = (1L to 6L).map(k => ins(k, "t", k, s"v$k"))
    val batch2 = Seq(
      upd(10L, "t", 1L, moved, "moved"), // key and bucket change
      del(11L, "t", 2L), // before image only
      ins(12L, "t", null, "nullkey"),
      (13L, "DDL", "t", Map.empty[String, String],
        Map.empty[String, String], "ALTER TABLE t RENAME COLUMN v TO w"),
      // a stale registry still names the renamed column v
      upd(14L, "t", 3L, 3L, "via-alias"),
      ins(15L, "t", 7L, "v15"), upd(16L, "t", 7L, 7L, "v16"),
      del(17L, "t", 4L), ins(17L, "t", 8L, "v17"))
    // replays tso 14-17 (at or below lastTso) beside one new txn
    val batch3 = batch2.filter(_._1 >= 14L) :+
      upd(18L, "t", 5L, 5L, "w18", vCol = "w")
    val all = batch1 ++ batch2 ++ batch3.filter(_._1 == 18L)
    val expected = oracle(all, "t", "w", Map("w" -> Seq("v")))
    // tiny inputs run as one task; an input above the advisory partition
    // size takes the one-exchange shape — both must land the same state
    for ((name, mode) <- modes; exchange <- Seq(false, true)) {
      val root = java.nio.file.Files.createTempDirectory(s"graft-probe-$name")
        .toString
      val targets = Seq(target(root, "t"))
      val conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          plans.add(qe.executedPlan.toString)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      if (exchange) spark.conf.set(conf, "1")
      spark.listenerManager.register(listener)
      try Seq(batch1, batch2, batch2, batch3).foreach { b =>
        WireReplicaJob.applyRouted(routed(decoded(b), targets),
          targets, txnsPerCommit = 3, applyMode = mode)
      } finally {
        org.apache.spark.TestListenerBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
        spark.conf.unset(conf)
      }
      import scala.jdk.CollectionConverters._
      val applies = plans.asScala.filter(_.contains("_batchstage/out"))
      assert(applies.nonEmpty &&
        applies.forall(_.contains("Exchange hashpartitioning")) == exchange &&
        applies.exists(_.contains("Exchange hashpartitioning")) == exchange,
        s"$name exchange=$exchange:\n${applies.mkString("\n")}")
      assert(state(s"$root/t", "w") == expected, s"$name exchange=$exchange")
      assert(TxnApplier.currentCommit(s"$root/t").map(_.lastTso)
        .contains(18L), s"$name exchange=$exchange")
    }
  }

  test("an uncastable key cell fails the trigger loudly and publishes nothing (COW and delta)") {
    modes.foreach { case (name, mode) =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-cast-$name")
        .toString
      val targets = Seq(target(root, "t"))
      WireReplicaJob.applyRouted(routed(decoded(Seq(ins(1L, "t", 1L, "a"))),
        targets), targets, applyMode = mode)
      val before = TxnApplier.currentCommit(s"$root/t")
      intercept[Exception] {
        WireReplicaJob.applyRouted(routed(decoded(Seq(
          ins(2L, "t", 2L, "b"), ins(3L, "t", "not-a-number", "c"))),
          targets), targets, applyMode = mode)
      }
      assert(TxnApplier.currentCommit(s"$root/t") == before, name)
      assert(state(s"$root/t", "v") ==
        oracle(Seq(ins(1L, "t", 1L, "a")), "t", "v"), name)
    }
  }

  test("a probe that misses the before-image bucket fails the trigger with the table and TSO range, publishing nothing (COW and delta)") {
    val moved = otherBucketKey(1L)
    modes.foreach { case (name, mode) =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-guard-$name")
        .toString
      val targets = Seq(target(root, "t"))
      val seed = Seq(ins(1L, "t", 1L, "a"), ins(2L, "t", 2L, "b"))
      WireReplicaJob.applyRouted(routed(decoded(seed), targets), targets,
        txnsPerCommit = 1, applyMode = mode)
      val before = TxnApplier.currentCommit(s"$root/t")
      val move = Seq(upd(5L, "t", 1L, moved, "moved"))
      val probed = routed(decoded(move), targets)
      val oldBucket = Seq(1L).toDF("k")
        .select(Appliers.bucketOf(Seq("k"), 4)).as[Int].head()
      assert(probed.pairs(("db", "t")).contains((5L, oldBucket)))
      val missed = probed.copy(pairs = probed.pairs.map { case (k, ps) =>
        k -> ps.filterNot(_ == ((5L, oldBucket)))
      })
      val e = intercept[IllegalStateException] {
        WireReplicaJob.applyRouted(missed, targets, txnsPerCommit = 1,
          applyMode = mode)
      }
      assert(e.getMessage.contains("db.t") &&
        e.getMessage.contains("[5, 5]"), e.getMessage)
      assert(TxnApplier.currentCommit(s"$root/t") == before, name)
      // the true probe applies the same trigger
      WireReplicaJob.applyRouted(probed, targets, txnsPerCommit = 1,
        applyMode = mode)
      assert(state(s"$root/t", "v") == oracle(seed ++ move, "t", "v"), name)
    }
  }

  test("a staged 2-table trigger crashed after its writes, or after the first of three publishes, replays exactly-once (COW and delta)") {
    val evs = Seq("a", "b").flatMap(t => Seq(
      ins(1L, t, 1L, s"${t}1"), ins(1L, t, 2L, s"${t}2"),
      upd(2L, t, 1L, 3L, s"${t}3"), del(3L, t, 2L), ins(3L, t, 4L, s"${t}4")))
    Seq("written", "published 0").foreach { step =>
      modes.foreach { case (name, mode) =>
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-crash-$name").toString
        val targets = Seq(target(root, "a"), target(root, "b"))
        // bootstrap both targets (schema-only), then crash the trigger
        WireReplicaJob.applyRouted(routed(decoded(Nil), targets), targets,
          applyMode = mode)
        TxnApplier.onStep = (dir, s) =>
          if (dir.startsWith(root) && s == step)
            throw new RuntimeException(s"crash at $s")
        try intercept[RuntimeException] {
          WireReplicaJob.applyRouted(routed(decoded(evs), targets), targets,
            txnsPerCommit = 1, applyMode = mode)
        } finally TxnApplier.onStep = (_, _) => ()
        Seq("a", "b").foreach { t =>
          val published = TxnApplier.currentCommit(s"$root/$t").get
          assert(published.lastTso == (if (step == "written") 0L else 1L),
            s"$name $step $t")
        }
        // the same trigger again: each table resumes past its own gate
        WireReplicaJob.applyRouted(routed(decoded(evs), targets), targets,
          txnsPerCommit = 1, applyMode = mode)
        Seq("a", "b").foreach { t =>
          assert(state(s"$root/$t", "v") == oracle(evs, t, "v"),
            s"$name $step $t")
          // bootstrap + one version per transaction, none doubled
          assert(TxnApplier.versions(s"$root/$t") == Seq(1L, 2L, 3L, 4L),
            s"$name $step $t")
          assert(TxnApplier.currentCommit(s"$root/$t")
            .contains(TxnApplier.Commit(4L, 3L)), s"$name $step $t")
        }
      }
    }
  }
}
