package graft.jobs

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TxnApplier
import graft.sinks.BinlogWire
import graft.sinks.BinlogWire._
import graft.sources.BinlogDumpClient

/** The (file, pos) LIVE replica over the real dump dialogue: poll/apply
  * triggers against a protocol-faithful server converge to the same
  * state as reading the files directly, cursors advance across
  * triggers, an un-rotated successor is quietly "no new data", and a
  * full re-poll from the start replays into the applier's position
  * gate without doubling a transaction. The logs here carry no GTID
  * events (the writers' default), which only this runner replicates;
  * the GTID standing replica is `CdcReplica` (CdcSourceSpec,
  * CdcReplicaSpec). */
class LiveReplicaSpec extends SparkSpec {
  import spark.implicits._

  private val specs = Seq(ColSpec("acct", LongLong), ColSpec("seq", LongLong),
    ColSpec("balance", LongLong))
  private val tableCols = Map(("bank", "accounts") -> specs.map(_.name))
  private val colTypes =
    Seq("acct" -> "long", "seq" -> "long", "balance" -> "long")

  /** The accounts table's replica target under `dir`, 4 buckets. */
  private def accounts(dir: String) = WireReplicaJob.TableTarget("bank",
    "accounts", colTypes, Seq("acct"), "seq", dir, 4)

  private def lastImages(dir: String): Map[Long, Long] =
    BinlogWire.readBinlogFiles(spark, dir, tableCols)
      .select(element_at($"after", "acct").cast("long"),
        element_at($"after", "seq").cast("long"),
        element_at($"after", "balance").cast("long"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (a, rs) => a -> rs.maxBy(_._2)._3 }

  test("poll/apply triggers: incremental convergence, kept cursors, replay gate") {
    val root = java.nio.file.Files.createTempDirectory("graft-live")
    val full = s"$root/full"
    val served = s"$root/served"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(served))
    val target = s"$root/replica"
    val staging = s"$root/stage"

    // 8 transfer txns, 4-file rotate-chained log with running balances
    val transfers = (1L to 8L).map(t => (t, (t % 6) + 1, ((t + 2) % 6) + 1, t * 5))
    val bal = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(1000L)
    val images = transfers.flatMap { case (t, f, to, amt) =>
      bal(f) = bal(f) - amt; bal(to) = bal(to) + amt
      Seq((t, 2 * t, f, bal(f)), (t, 2 * t + 1, to, bal(to)))
    }
    val batch = images.toDF("tso", "seq", "acct", "balance")
      .select($"acct", $"seq", lit("UPDATE").as("op"), $"balance", $"tso")
      .withColumn("ts", lit(1700000000L))
    val ordered = graft.operators.MergeSort.sortedRunsGrouped(
      batch, 4, Seq("tso"), Seq("seq"))
    BinlogWire.writeTxnFramedBinlogFiles(ordered, specs, "bank", "accounts",
      "op", "ts", "tso", full, checksummed = true, rotateChain = true,
      tsoCarrier = "sequence")
    def publish(names: String*): Unit = names.foreach { n =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(full, n),
        java.nio.file.Paths.get(served, n))
    }
    def state(): Map[Long, Long] = TxnApplier.readCurrent(spark, target)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap

    publish("binlog.000000", "binlog.000001")
    val srv = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try {
      val ep0 = Seq(BinlogDumpClient.Endpoint("dn1", "localhost", srv.port,
        "repl", "pw", "binlog.000000", 4L))
      def trigger(eps: Seq[BinlogDumpClient.Endpoint]) =
        LiveReplicaJob.pollApplyOnceRouted(spark, eps, tableCols,
          Seq(accounts(target)), staging, WireReplicaJob.applyRouted(_,
            Seq(accounts(target)), txnsPerCommit = 2))

      // trigger 1: the first two files apply; cursor lands on the
      // successor the rotate chain names
      val ep1 = trigger(ep0)
      assert(state() == lastImages(served))
      assert(ep1.head.binlogFile == "binlog.000002" && ep1.head.pos == 4L)

      // trigger 2 with NOTHING rotated yet: no new data, cursor kept
      val ep1b = trigger(ep1)
      assert(ep1b == ep1 && state() == lastImages(served))

      // the producer rotates twice; trigger 3 applies exactly the rest
      publish("binlog.000002", "binlog.000003")
      val ep2 = trigger(ep1b)
      assert(state() == bal.toMap)
      assert(ep2.head.binlogFile == "binlog.000004")
      val versionsDone = TxnApplier.versions(target).size

      // a full re-poll from the START replays everything into the
      // position gate: no txn doubles, no new observable state
      val ep3 = trigger(ep0)
      assert(ep3.head.binlogFile == "binlog.000004")
      assert(state() == bal.toMap)
      assert(TxnApplier.versions(target).size == versionsDone)

      // BOUNDED bootstrap: a fresh replica catching up on the full
      // history with a per-poll byte cap converges over SEVERAL
      // triggers (never one unbounded drain), to the identical state
      val target2 = s"$root/replica2"
      val staging2 = s"$root/stage2"
      var eps = ep0
      var triggers = 0
      var advanced = true
      while (advanced && triggers < 32) {
        val next = LiveReplicaJob.pollApplyOnceRouted(spark, eps,
          tableCols, Seq(accounts(target2)), staging2,
          WireReplicaJob.applyRouted(_, Seq(accounts(target2)),
            txnsPerCommit = 2),
          maxBytesPerPoll = 400L)
        advanced = next != eps
        eps = next
        triggers += 1
      }
      assert(triggers >= 3, s"cap ignored: converged in $triggers triggers")
      assert(TxnApplier.readCurrent(spark, target2)
        .select($"acct", $"balance").as[(Long, Long)].collect().toMap
        == bal.toMap)
    } finally srv.close()
  }

  test("routed replica: a two-table stream applies through ONE poll loop, per-table convergence + replay gate") {
    val root = java.nio.file.Files.createTempDirectory("graft-routed")
    val wire = s"$root/wire"
    val tableCols2 = Map(
      ("bank", "accounts") -> Seq("acct", "seq", "balance"),
      ("bank", "audit") -> Seq("aid", "seq", "note"))
    // interleaved txns; txn 3 touches BOTH tables in one commit
    val ev = Seq(
      (1L, 1L, "INSERT", "bank", "accounts", Map.empty[String, String],
        Map("acct" -> "1", "seq" -> "1", "balance" -> "100")),
      (2L, 2L, "INSERT", "bank", "audit", Map.empty[String, String],
        Map("aid" -> "10", "seq" -> "1", "note" -> "open")),
      (3L, 3L, "UPDATE", "bank", "accounts",
        Map("acct" -> "1", "seq" -> "1", "balance" -> "100"),
        Map("acct" -> "1", "seq" -> "2", "balance" -> "150")),
      (3L, 3L, "INSERT", "bank", "audit", Map.empty[String, String],
        Map("aid" -> "11", "seq" -> "2", "note" -> "credit")),
      (4L, 4L, "DELETE", "bank", "audit",
        Map("aid" -> "10", "seq" -> "3", "note" -> "open"),
        Map.empty[String, String]),
      (5L, 5L, "INSERT", "bank", "accounts", Map.empty[String, String],
        Map("acct" -> "2", "seq" -> "4", "balance" -> "70")))
      .toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after")
      .withColumn("tsoTime", lit(1700000000L).cast("timestamp"))
    BinlogWire.writeChangeStreamBinlogFiles(
      ev.coalesce(1).sortWithinPartitions("tso", "txnId"), tableCols2,
      wire, checksummed = true)
    val srv = new graft.sinks.BinlogDumpServer(wire, "repl", "pw")
    try {
      val targets = Seq(
        WireReplicaJob.TableTarget("bank", "accounts",
          Seq("acct" -> "long", "seq" -> "long", "balance" -> "long"),
          Seq("acct"), "seq", s"$root/t_accounts", 2),
        WireReplicaJob.TableTarget("bank", "audit",
          Seq("aid" -> "long", "seq" -> "long", "note" -> "string"),
          Seq("aid"), "seq", s"$root/t_audit", 2))
      val ep0 = Seq(BinlogDumpClient.Endpoint("dn1", "localhost",
        srv.port, "repl", "pw", "binlog.000000", 4L))
      def poll(eps: Seq[BinlogDumpClient.Endpoint]) =
        LiveReplicaJob.pollApplyOnceRouted(spark, eps, tableCols2,
          targets, s"$root/stage",
          WireReplicaJob.applyRouted(_, targets, txnsPerCommit = 2))
      poll(ep0) // ONE dial, both tables land
      def accounts() = TxnApplier.readCurrent(spark, s"$root/t_accounts")
        .select($"acct", $"balance").as[(Long, Long)].collect().toMap
      def audit() = TxnApplier.readCurrent(spark, s"$root/t_audit")
        .select($"aid", $"note").as[(Long, String)].collect().toMap
      assert(accounts() == Map(1L -> 150L, 2L -> 70L))
      assert(audit() == Map(11L -> "credit")) // 10 deleted by txn 4
      // full replay from the start: each table's own gate drops it all
      val vA = TxnApplier.versions(s"$root/t_accounts").size
      val vB = TxnApplier.versions(s"$root/t_audit").size
      poll(ep0)
      assert(accounts() == Map(1L -> 150L, 2L -> 70L))
      assert(audit() == Map(11L -> "credit"))
      assert(TxnApplier.versions(s"$root/t_accounts").size == vA)
      assert(TxnApplier.versions(s"$root/t_audit").size == vB)
      // misrouting fails loudly at validation, not by silent overwrite
      intercept[IllegalArgumentException] {
        WireReplicaJob.validateTargets(targets.map(_.copy(
          targetDir = s"$root/same")))
      }
      intercept[IllegalArgumentException] {
        WireReplicaJob.validateTargets(Seq(targets.head, targets.head))
      }
    } finally srv.close()
  }

  test("standing runner: kill between triggers, resume from the cursor sidecar, drain only new data; silence raises the no-data alarm") {
    val root = java.nio.file.Files.createTempDirectory("graft-runner")
    val full = s"$root/full"
    val served = s"$root/served"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(served))
    val transfers = (1L to 8L).map(t =>
      (t, (t % 6) + 1, ((t + 2) % 6) + 1, t * 5))
    val bal = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(1000L)
    val images = transfers.flatMap { case (t, f, to, amt) =>
      bal(f) = bal(f) - amt; bal(to) = bal(to) + amt
      Seq((t, 2 * t, f, bal(f)), (t, 2 * t + 1, to, bal(to)))
    }
    val batch = images.toDF("tso", "seq", "acct", "balance")
      .select($"acct", $"seq", lit("UPDATE").as("op"), $"balance", $"tso")
      .withColumn("ts", lit(1700000000L))
    BinlogWire.writeTxnFramedBinlogFiles(
      graft.operators.MergeSort.sortedRunsGrouped(batch, 4, Seq("tso"),
        Seq("seq")),
      specs, "bank", "accounts", "op", "ts", "tso", full,
      checksummed = true, rotateChain = true, tsoCarrier = "sequence")
    def publish(names: String*): Unit = names.foreach { n =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(full, n),
        java.nio.file.Paths.get(served, n))
    }
    def state(): Map[Long, Long] =
      TxnApplier.readCurrent(spark, s"$root/replica")
        .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    publish("binlog.000000", "binlog.000001")
    val srv = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try {
      val ep0 = Seq(BinlogDumpClient.Endpoint("dn1", "localhost",
        srv.port, "repl", "pw", "binlog.000000", 4L))
      val targets = Seq(accounts(s"$root/replica"))
      val mon = new graft.streaming.StallMonitor(noDataThresholdSeconds = 0)
      // alarm policy layer on top of the watchdog: zero thresholds so
      // the idle trigger pages immediately, fatal-armed — the FIRST
      // trigger consumed, so the escalation fires alongside
      val paged = new graft.streaming.AlarmChannel.Buffer
      val mgr = new graft.streaming.AlarmManager(
        Seq(graft.streaming.AlarmPolicy(graft.streaming.Alarms.DumperNoData,
          threshold = 1, intervalSeconds = 0,
          fatalIfActiveConsumer = true),
          graft.streaming.AlarmPolicy(graft.streaming.Alarms.DumperDelay)),
        Seq(paged))
      // the runner IS the deployment loop: 2 triggers — one drains,
      // one idles (and the idle one trips the zero-threshold watchdog)
      val e1 = LiveReplicaJob.run(spark, ep0, tableCols, targets,
        s"$root/stage", s"$root/cursors", intervalMs = 0,
        maxTriggers = 2, monitor = Some(mon), alarms = Some(mgr),
        txnsPerCommit = 2)
      assert(e1.head.binlogFile == "binlog.000002")
      assert(state() == lastImages(served))
      assert(mon.alarms.exists(a =>
        a.kind == "no_data" && a.queryId == "live-replica"))
      // the typed page went out the channel, escalated: the loop itself
      // consumed one trigger earlier, so a silent producer with an
      // active consumer is the fatal shape
      assert(paged.events.exists(e =>
        e.key == graft.streaming.Alarms.DumperNoData && !e.fatal))
      assert(paged.events.exists(e =>
        e.key == graft.streaming.Alarms.Fatal && e.fatal))
      // the sidecar committed the ADVANCED cursor: a dead driver's
      // replacement resumes there, not at the caller's bootstrap value
      assert(LiveReplicaJob.resume(s"$root/cursors", ep0)
        .head.binlogFile == "binlog.000002")

      // KILL (the runner returned); the producer rotates on; RESTART
      // with the stale bootstrap endpoints + the same cursorDir
      publish("binlog.000002", "binlog.000003")
      val e2 = LiveReplicaJob.run(spark, ep0, tableCols, targets,
        s"$root/stage", s"$root/cursors", intervalMs = 0,
        maxTriggers = 1, txnsPerCommit = 2)
      assert(e2.head.binlogFile == "binlog.000004")
      assert(state() == bal.toMap)
      // no history re-drain: the restart trigger STAGED only the two
      // new files' transactions (the staged parquet is the trigger's
      // durable input — what it holds is what was polled)
      val stagedTsos = graft.sources.ChangeEventSource.fromWireSegments(
          spark.read.parquet(s"$root/stage")
            .filter(length($"payload") > 0).select($"dn", $"payload"),
          "dn", "payload", tableCols)
        .select($"tso").as[Long].collect().toSet
      assert(stagedTsos == Set(5L, 6L, 7L, 8L), s"staged $stagedTsos")
    } finally srv.close()
  }

  test("(file, pos) runner, defaults: a middle column dropped in trigger 1 leaves trigger 2's cells under their own columns") {
    val root = java.nio.file.Files.createTempDirectory("graft-run-drop")
    val served = s"$root/served"
    val v1 = Map(("app", "t") -> Seq("k", "seq", "mid", "v"))
    val v2 = Map(("app", "t") -> Seq("k", "seq", "v"))
    def ev(rows: Seq[(Long, String, Map[String, String], String)]) =
      rows.map { case (tso, op, after, ddl) =>
        (tso, tso, op, "app", "t", Map.empty[String, String], after, ddl,
          1700000000L)
      }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime").coalesce(1).sortWithinPartitions("tso")
    // binlog.000000 (the producer's v1 shape): a row, then DROP COLUMN
    // mid; its ROTATE names binlog.000001, not served yet
    BinlogWire.writeChangeStreamBinlogFiles(ev(Seq(
      (1L, "INSERT", Map("k" -> "1", "seq" -> "1", "mid" -> "m1",
        "v" -> "a"), null),
      (2L, "DDL", Map.empty, "ALTER TABLE t DROP COLUMN mid"))),
      v1, served, checksummed = true, rotateChain = true)
    val srv = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try {
      val ep0 = Seq(BinlogDumpClient.Endpoint("dn1", "localhost", srv.port,
        "repl", "pw", "binlog.000000", 4L))
      val targets = Seq(WireReplicaJob.TableTarget("app", "t",
        Seq("k" -> "long", "seq" -> "long", "mid" -> "string",
          "v" -> "string"), Seq("k"), "seq", s"$root/t", 2))
      def trigger(): Unit = LiveReplicaJob.run(spark, ep0, v1, targets,
        s"$root/stage", s"$root/cursors", intervalMs = 0, maxTriggers = 1)
      trigger()
      // binlog.000001: the producer writes the v2 shape, three cells
      val d = java.nio.file.Files.createTempDirectory("graft-run-drop-w")
      BinlogWire.writeChangeStreamBinlogFiles(ev(Seq(
        (3L, "INSERT", Map("k" -> "2", "seq" -> "1", "v" -> "b"), null))),
        v2, d.toString, checksummed = true)
      java.nio.file.Files.copy(d.resolve("binlog.000000"),
        java.nio.file.Paths.get(served, "binlog.000001"))
      trigger()
      val cur = TxnApplier.readCurrent(spark, s"$root/t")
      assert(cur.select($"k", $"v").as[(Long, String)].collect().toMap ==
        Map(1L -> "a", 2L -> "b"))
      assert(!cur.columns.contains("mid"), cur.columns.mkString(","))
    } finally srv.close()
  }

  test("(file, pos) runner's maintenance cadence folds delta chains before vacuum") {
    val root = java.nio.file.Files.createTempDirectory("graft-run-fold")
    val served = s"$root/served"
    val reg = Map(("app", "t") -> Seq("k", "seq", "v"))
    val rows = (1L to 4L).map(i => (i, i, "INSERT", "app", "t",
      Map.empty[String, String],
      Map("k" -> s"$i", "seq" -> "1", "v" -> s"v$i"), 1700000000L))
      .toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "tsoTime")
    BinlogWire.writeChangeStreamBinlogFiles(
      rows.coalesce(1).sortWithinPartitions("tso"), reg, served,
      checksummed = true)
    val target = WireReplicaJob.TableTarget("app", "t",
      Seq("k" -> "long", "seq" -> "long", "v" -> "string"), Seq("k"),
      "seq", s"$root/t", 2)
    // the target already holds the log as delta commits, one per txn
    WireReplicaJob.applyRouted(routed(rows, Seq(target)), Seq(target),
      txnsPerCommit = 1, applyMode = TxnApplier.ApplyMode.Delta)
    assert(TxnApplier.maxChainLength(target.targetDir) > 1)
    def dataDirs() = new java.io.File(s"${target.targetDir}/data")
      .listFiles().count(_.isDirectory)
    val before = dataDirs()
    val srv = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try {
      // one caught-up trigger (cursor at the log's end): no rows, only
      // the cadence
      val end = new java.io.File(served, "binlog.000000").length
      LiveReplicaJob.run(spark,
        Seq(BinlogDumpClient.Endpoint("dn1", "localhost", srv.port, "repl",
          "pw", "binlog.000000", end)),
        reg, Seq(target), s"$root/stage", s"$root/cursors",
        intervalMs = 0, maxTriggers = 1, vacuumEvery = 1)
    } finally srv.close()
    assert(TxnApplier.maxChainLength(target.targetDir) == 1)
    assert(dataDirs() < before, s"vacuum kept $before data dirs")
    assert(TxnApplier.readCurrent(spark, target.targetDir)
      .select($"k", $"v").as[(Long, String)].collect().toMap ==
      (1L to 4L).map(i => i -> s"v$i").toMap)
  }
}
