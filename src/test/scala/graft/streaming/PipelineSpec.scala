package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.ChangeEvent

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ev(tso: Long, txnId: Long, trace: String, op: String,
      table: String = "t1", source: String = "dn1"): ChangeEvent =
    ChangeEvent(tso, txnId, source, trace, op, "app", table,
      new Timestamp(tso * 1000), Map.empty, Map("v" -> tso.toString),
      None, 1L)

  test("streaming txn assembly: emit on COMMIT, drop on ROLLBACK, hold open") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ChangeEvent]
    val out = Pipeline.assembleTransactions(input.toDS(), timeout = None)
    val q = out.writeStream.format("memory").queryName("txns")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // txn 10 commits; txn 11 rolls back; txn 12 stays open
      input.addData(
        ev(2, 10, "02", "UPDATE"), ev(1, 10, "01", "INSERT"),
        ev(3, 11, "01", "DELETE"), ev(4, 12, "01", "INSERT"))
      q.processAllAvailable()
      input.addData(ev(5, 10, "03", "COMMIT"), ev(6, 11, "02", "ROLLBACK"))
      q.processAllAvailable()
      val got = spark.table("txns").as[Pipeline.TxnEnvelope].collect()
      assert(got.map(_.txnId).toSet == Set(10L))
      val t10 = got.find(_.txnId == 10L).get
      assert(t10.nEvents == 2)
      assert(t10.ops == Seq("INSERT", "UPDATE")) // trace order restored
      // open txn 12 emits nothing yet
      assert(!got.exists(_.txnId == 12L))
    } finally q.stop()
  }

  test("heartbeat windows gate on all-sources-present") {
    val df = Seq(
      ("dn1", Timestamp.valueOf("2024-01-01 00:00:05")),
      ("dn2", Timestamp.valueOf("2024-01-01 00:00:06")),
      ("dn1", Timestamp.valueOf("2024-01-01 00:01:05"))
    ).toDF("src", "ts")
    val got = Pipeline.heartbeatWindows(df, "ts", "src", "1 minute", 2)
      .orderBy($"w.start")
      .select($"n_events", $"n_sources", $"complete")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got == Seq((2L, 2L, true), (1L, 1L, false)))
  }

  test("streaming heartbeat windows close with the watermark and gate on sources") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val input = MemoryStream[(String, Timestamp)]
    val df = input.toDF().toDF("src", "ts")
    val out = Pipeline.heartbeatWindowsStream(df, "ts", "src",
      windowLen = "1 minute", watermarkDelay = "30 seconds",
      expectedSources = 2)
    val q = out.writeStream.format("memory").queryName("hbw")
      .outputMode("append").start()
    try {
      input.addData(("dn1", ts("00:00:05")), ("dn2", ts("00:00:10")))
      q.processAllAvailable()
      // nothing emitted yet: watermark hasn't passed the window end
      assert(spark.table("hbw").count() == 0)
      input.addData(("dn1", ts("00:05:00"))) // watermark → 00:04:30
      q.processAllAvailable()
      input.addData(("dn1", ts("00:10:00"))) // watermark → 00:09:30
      q.processAllAvailable()
      val got = spark.table("hbw")
        .select($"w.start".cast("string"), $"n_events", $"n_sources", $"complete")
        .as[(String, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      assert(got == Seq(
        ("2024-01-01 00:00:00", 2L, 2L, true),   // both sources reported
        ("2024-01-01 00:05:00", 1L, 1L, false))) // dn2 missing → incomplete
    } finally q.stop()
  }

  test("streaming gate is exact: 3 sources, one silent → complete=false") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val input = MemoryStream[(String, Timestamp)]
    val df = input.toDF().toDF("src", "ts")
    val out = Pipeline.heartbeatWindowsStream(df, "ts", "src",
      windowLen = "1 minute", watermarkDelay = "30 seconds",
      expectedSources = 3)
    val q = out.writeStream.format("memory").queryName("hbw3")
      .outputMode("append").start()
    try {
      // dn3 never reports; dn1 floods the window (an approximate distinct
      // could drift on repeated values — exact must count 2, not 3)
      input.addData(
        (1 to 50).map(i => ("dn1", ts(f"00:00:${i % 60}%02d"))) ++
          Seq(("dn2", ts("00:00:10"))): _*)
      q.processAllAvailable()
      input.addData(("dn1", ts("00:05:00"))) // advance watermark
      q.processAllAvailable()
      val got = spark.table("hbw3")
        .select($"n_events", $"n_sources", $"complete")
        .as[(Long, Long, Boolean)].collect().toSeq
      assert(got == Seq((51L, 2L, false)))
    } finally q.stop()
  }

  test("txn id reused after rollback assembles fresh (no ghost state)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ChangeEvent]
    val out = Pipeline.assembleTransactions(input.toDS(), timeout = None)
    val q = out.writeStream.format("memory").queryName("reuse")
      .outputMode("append").start()
    try {
      // txn 7: event then ROLLBACK; later the same id is reused and commits
      input.addData(ev(1, 7, "01", "INSERT"), ev(2, 7, "02", "ROLLBACK"))
      q.processAllAvailable()
      input.addData(ev(10, 7, "01", "UPDATE"), ev(11, 7, "02", "COMMIT"))
      q.processAllAvailable()
      val got = spark.table("reuse").as[Pipeline.TxnEnvelope].collect()
      assert(got.length == 1)
      assert(got.head.nEvents == 1) // only the post-rollback event
      assert(got.head.ops == Seq("UPDATE"))
    } finally q.stop()
  }

  test("session_window agrees with the gaps-and-islands formulation") {
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    // user 1: two sessions (gap > 30 min); user 2: one session
    val df = Seq(
      (1L, ts("00:00:00")), (1L, ts("00:10:00")), (1L, ts("01:00:00")),
      (2L, ts("02:00:00")), (2L, ts("02:29:00"))).toDF("user_id", "ts")
    val native = df.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes"))
      .count()
      .groupBy(col("user_id")).count()
      .as[(Long, Long)].collect().toMap
    assert(native == Map(1L -> 2L, 2L -> 1L))
  }

  test("oversized transaction group assembles without failure (spill path)") {
    // one giant txn (200k events) through the batch assembly agg — the
    // TxnBuffer-spill analog exercises the external sort/agg path
    val big = spark.range(200000).select(
      lit(1L).as("txnId"),
      format_string("%09d", col("id")).as("traceId"),
      lit("U").as("op"))
    val env = graft.operators.TxnAssembly.assemble(big, "txnId", "traceId",
      Seq("op"))
    val row = env.head()
    assert(row.getAs[Long]("n") == 200000L)
    val events = row.getSeq[org.apache.spark.sql.Row](2)
    assert(events.size == 200000)
    assert(events.head.getString(0) == "000000000")
    assert(events.last.getString(0) == "000199999")
  }
}
