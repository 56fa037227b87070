package graft.jobs

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.operators.TxnApplier

/** The standing replica's per-trigger floor: a routed trigger runs only
  * its row work. The routing probe — each table's (tso, bucket) pairs —
  * rides the staging write, each present table applies in one write
  * query whose commit-group maps are literal arrays instead of broadcast
  * joins, and the replay gate reads `lastTso` through a reference, so a
  * trigger of an already-seen shape compiles nothing. */
class TriggerFloorSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq("a", "b", "c", "d")

  /** Row events for `keys` of `table` at commit TSO `tso`. */
  private def rows(table: String, tso: Long, keys: Seq[Long]) =
    keys.map { k =>
      (tso, "INSERT", "db", table, Map.empty[String, String],
        Map("k" -> k.toString, "seq" -> tso.toString, "v" -> s"v$tso"),
        null: String)
    }

  private def decoded(events: Seq[(Long, String, String, String,
      Map[String, String], Map[String, String], String)]): DataFrame =
    events.toDF("tso", "op", "schemaName", "tableName", "before", "after",
      "ddl")

  /** One standing-replica trigger as `CdcReplica` runs it: stage with
    * the probe, apply routed with DDL, evolve the registry. */
  private def trigger(batch: DataFrame,
      targets: Seq[WireReplicaJob.TableTarget], mode: TxnApplier.ApplyMode,
      stage: String): Unit = {
    val staged = WireReplicaJob.stageRouted(batch, stage, targets)
    WireReplicaJob.applyRouted(staged, targets, txnsPerCommit = 1,
      applyMode = mode)
    graft.sinks.RegistrySidecar.evolve(staged.ddls,
      tables.map(t => ("db", t) -> Seq("k", "seq", "v")).toMap)
    ()
  }

  test("one 4-table routed trigger: no probe job, no broadcast in the COW or delta plans, a bounded job count") {
    val root = java.nio.file.Files.createTempDirectory("graft-floor")
    val targets = tables.map(t => WireReplicaJob.TableTarget("db", t,
      Seq("k" -> "long", "seq" -> "long", "v" -> "string"), Seq("k"),
      "seq", s"$root/$t", 4))
    val stage = s"$root/stage"
    // set-up trigger: a and b commit COW; c and d commit two delta
    // versions on one key, so Auto keeps them delta (live chains)
    trigger(decoded(Seq("a", "b").flatMap(rows(_, 1L, Seq(1L, 2L)))),
      targets, TxnApplier.ApplyMode.Cow, stage)
    trigger(decoded(Seq("c", "d").flatMap(t =>
        rows(t, 1L, Seq(1L)) ++ rows(t, 2L, Seq(1L)))),
      targets.filter(t => Set("c", "d")(t.tableName)),
      TxnApplier.ApplyMode.Delta, stage)
    Seq("c", "d").foreach(t =>
      assert(TxnApplier.maxChainLength(s"$root/$t") > 1))

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    // (action, executed plan) of every query the trigger ran
    val queries =
      new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        queries.add(f -> qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val batch = decoded(tables.flatMap(t => rows(t, 10L, Seq(3L, 4L))) ++
      tables.flatMap(t => rows(t, 11L, Seq(1L))))
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      trigger(batch, targets,
        TxnApplier.ApplyMode.Auto(crossoverBytes = 1L << 40), stage)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    import scala.jdk.CollectionConverters._
    val planText = queries.asScala.toSeq.map(_._2)
    // the mix this trigger is meant to cover: two COW, two delta tables
    Seq("a", "b").foreach(t =>
      assert(TxnApplier.maxChainLength(s"$root/$t") == 1))
    assert(planText.exists(_.contains("__delta_tso")), "no delta apply ran")
    assert(planText.exists(_.contains("row_number")), "no COW apply ran")
    // routing facts, DDL rows and every table's (tso, bucket) pairs ride
    // the staging write: the trigger runs writes only, no collect query
    assert(queries.asScala.forall(_._1 == "command"),
      s"probe queries: ${queries.asScala.map(_._1).mkString(",")}")
    // one staging write, then exactly one write query per present table
    // (its output under _batchstage/out), and no staged image round
    assert(planText.size == 1 + tables.size,
      s"${planText.size} queries:\n${planText.mkString("\n")}")
    assert(planText.count(p => !p.contains("_batchstage")) == 1)
    tables.foreach(t => assert(planText.count(p =>
      p.contains(s"$root/$t/_batchstage/out")) == 1, t))
    assert(!planText.exists(_.contains("_batchstage/images")))
    assert(!planText.exists(_.contains("BroadcastExchange")),
      planText.filter(_.contains("BroadcastExchange")).mkString("\n"))
    // 1 staging write + 1 job per table (tens of rows over a small
    // target run as one task, no shuffle) measured at 5 on local[4]; a
    // staged image round per table made it 19, and probe and broadcast
    // jobs on top of that 31
    assert(jobs.get <= 5, s"${jobs.get} jobs")
    // and the trigger applied: every table holds its new keys
    tables.foreach { t =>
      assert(TxnApplier.readCurrent(spark, s"$root/$t")
        .select($"k").as[Long].collect().toSet.contains(3L))
    }
  }

  test("consecutive applies of one shape with a rising lastTso compile no new class (COW and delta)") {
    val root = java.nio.file.Files.createTempDirectory("graft-codegen")
    def batch(from: Long) = (from until from + 3).flatMap(t =>
      Seq((t % 8 + 1, t, "UPDATE", t * 10, t), (t % 8 + 2, t, "UPDATE",
        t * 10 + 1, t)))
      .toDF("acct", "seq", "op", "balance", "tso")
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Seq[(String, TxnApplier.ApplyMode)]("cow" -> TxnApplier.ApplyMode.Cow,
        "delta" -> TxnApplier.ApplyMode.Delta).foreach { case (name, mode) =>
      val dir = s"$root/$name"
      TxnApplier.bootstrap((1L to 9L).map(a => (a, 0L, "INSERT", 1000L))
        .toDF("acct", "seq", "op", "balance"), Seq("acct"), dir, 4)
      def apply(from: Long): Seq[TxnApplier.Commit] = mode match {
        case TxnApplier.ApplyMode.Delta => TxnApplier.applyBatchDelta(
          probed(batch(from), Seq("acct"), 4), Seq("acct"), "seq", "op",
          "tso", dir, 4, 2)
        case _ => TxnApplier.applyBatch(probed(batch(from), Seq("acct"), 4),
          Seq("acct"), "seq", "op", "tso", dir, 4, 2)
      }
      assert(apply(1L).nonEmpty && apply(4L).nonEmpty)
      val before = compiles
      val third = apply(7L)
      assert(third.map(_.lastTso) == Seq(8L, 9L))
      assert(compiles == before,
        s"$name: the third apply compiled ${compiles - before} new classes")
    }
  }
}
