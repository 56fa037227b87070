package graft.streaming

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.jobs.WireReplicaJob
import graft.model.GtidSet
import graft.operators.TxnApplier
import graft.sinks.BinlogWire

/** The packaged streaming replica (`CdcReplica.start`) end to end: its
  * refusal of a GTID-less upstream, heartbeat liveness for a
  * `StallMonitor` listener, and the restart-stability of its vacuum
  * cadence: the schedule counts
  * Spark's MONOTONIC batchId, so `vacuumEveryBatches = k` fires on the
  * k-th batch of the QUERY, not the k-th batch since the latest
  * restart — a closure counter would reset to zero on every restart
  * and, under frequent restarts, never fire at all. */
class CdcReplicaSpec extends SparkSpec {
  import spark.implicits._

  private val sid = java.util.UUID.fromString(
    "0a1b2c3d-8888-4444-3333-222211110000")

  private val tableCols = Map(("db", "t") -> Seq("k", "seq", "v"))

  private def ev(rows: Seq[(Long, String)]) =
    rows.map { case (tso, v) =>
      (tso, tso, "INSERT", "db", "t", Map.empty[String, String],
        Map("k" -> tso.toString, "seq" -> "1", "v" -> v), null: String,
        1700000000L)
    }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
      "after", "ddl", "tsoTime")

  private def writeCall(rows: Seq[(Long, String)], prior: String,
      intoDir: String, asIndex: Int): Unit = {
    val d = java.nio.file.Files
      .createTempDirectory("graft-cdcrep-call").toString
    BinlogWire.writeChangeStreamBinlogFiles(
      ev(rows).coalesce(1).sortWithinPartitions("tso"), tableCols, d,
      checksummed = true, gtidSid = Some(sid),
      priorExecuted = GtidSet.parse(prior))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(d, "binlog.000000"),
      java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
    ()
  }

  test("vacuum cadence counts Spark's batchId, stable across restarts") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcrep1")
    val served = s"$root/served"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(served))
    val targets = Seq(WireReplicaJob.TableTarget("db", "t",
      Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
      Seq("k"), "seq", s"$root/target", 2))

    def runOnce(port: Int): Unit = {
      val q = CdcReplica.start(spark,
        endpoints = Seq(("dn1", "localhost", port)),
        user = "repl", password = "pw",
        tableCols = tableCols, targets = targets,
        checkpointDir = s"$root/ckpt", stagingDir = s"$root/staging",
        registryDir = s"$root/registry",
        txnsPerCommit = 2, vacuumEveryBatches = 2,
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    def versionDirs(): Int = {
      val d = new java.io.File(s"$root/target/data")
      Option(d.listFiles()).toSeq.flatten.count(_.isDirectory)
    }

    // run A = Spark batchId 0: (0+1) % 2 != 0 — NO vacuum, so the
    // txnsPerCommit=2 apply over 4 txns leaves superseded version dirs
    writeCall((1L to 4L).map(t => (t, s"a$t")), "", served, 0)
    val srv1 = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try runOnce(srv1.port) finally srv1.close()
    assert(versionDirs() >= 2,
      "expected superseded versions to SURVIVE batch 0 (cadence is 2)")

    // run B (a RESTART) = Spark batchId 1: (1+1) % 2 == 0 — vacuum
    // fires. A restart-reset counter would see n=1 here and skip it.
    writeCall(Seq((5L, "a5"), (6L, "a6")), s"$sid:1-4", served, 1)
    val srv2 = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try runOnce(srv2.port) finally srv2.close()
    assert(versionDirs() == 1,
      "vacuum did not fire on Spark batchId 1 — the cadence reset on " +
        "restart (closure counter instead of batchId)")

    // and the replica state is exactly the applied stream
    val got = TxnApplier.readCurrent(spark, s"$root/target")
      .select(col("k"), col("v")).as[(Long, String)].collect().toMap
    assert(got == (1L to 6L).map(t => t -> s"a$t").toMap)
  }

  private def target(root: java.nio.file.Path) =
    Seq(WireReplicaJob.TableTarget("db", "t",
      Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
      Seq("k"), "seq", s"$root/target", 2))

  test("a GTID-less upstream (the writers' default) fails the trigger loudly, naming the DN") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcrep2")
    val served = s"$root/served"
    // the same writer call as writeCall, without a gtidSid: row and XID
    // frames, no GTID event — the executed set could never advance
    BinlogWire.writeChangeStreamBinlogFiles(
      ev((1L to 3L).map(t => (t, s"a$t"))).coalesce(1)
        .sortWithinPartitions("tso"), tableCols, served, checksummed = true)
    val srv = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    val e = try intercept[StreamingQueryException] {
      CdcReplica.start(spark, Seq(("dn1", "localhost", srv.port)), "repl",
        "pw", tableCols, target(root), s"$root/ckpt", s"$root/staging",
        s"$root/registry", trigger = Trigger.AvailableNow())
        .awaitTermination()
    } finally srv.close()
    val msg = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg.contains("DN dn1") && msg.contains("no GTID event") &&
      msg.contains("LiveReplicaJob.run"), msg)
    assert(!new java.io.File(s"$root/target").exists())
  }

  test("heartbeat liveness: an idle heartbeating source never raises no_data on a caught-up replica") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcrep3")
    val served = s"$root/served"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(served))
    writeCall((1L to 3L).map(t => (t, s"a$t")), "", served, 0)
    val srv = new graft.sinks.BinlogDumpServer(served, "repl", "pw",
      idleHeartbeats = true)
    // zero threshold: any idle trigger counted as silence alarms at once
    val mon = new StallMonitor(noDataThresholdSeconds = 0)
    val idle = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = {
        idle.incrementAndGet(); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val interval = "spark.sql.streaming.noDataProgressEventInterval"
    val prior = spark.conf.getOption(interval)
    spark.conf.set(interval, "100ms")
    spark.streams.addListener(mon)
    spark.streams.addListener(counter)
    try {
      val q = CdcReplica.start(spark, Seq(("dn1", "localhost", srv.port)),
        "repl", "pw", tableCols, target(root), s"$root/ckpt",
        s"$root/staging", s"$root/registry", txnsPerCommit = 2)
      try {
        q.processAllAvailable()
        // the listener bus hands each event to mon before the counter
        val deadline = System.currentTimeMillis() + 60000L
        while (idle.get() < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(idle.get() >= 2, "the caught-up query posted no idle event")
      } finally q.stop()
      assert(TxnApplier.readCurrent(spark, s"$root/target")
        .select(col("k")).as[Long].collect().toSet == Set(1L, 2L, 3L))
      assert(!mon.alarms.exists(_.kind == "no_data"), mon.alarms)
    } finally {
      spark.streams.removeListener(counter)
      spark.streams.removeListener(mon)
      prior.fold(spark.conf.unset(interval))(spark.conf.set(interval, _))
      srv.close()
    }
  }
}
