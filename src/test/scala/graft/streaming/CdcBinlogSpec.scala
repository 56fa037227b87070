package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.{ChangeEvent, GtidSet}
import graft.sinks.BinlogWire

/** Global-Binlog PRODUCTION from the live `graft-cdc` source: 2 DN dump
  * servers → ONE checkpointed StreamingQuery (k-way TSO merge +
  * heartbeat-frontier barrier + wire-file sink). Verifies the three
  * §3.1 contract points the batch composition (q52) cannot:
  *
  *  - the BARRIER: transactions above the slowest DN's frontier hold
  *    back across batches and emit only after that DN's heartbeat
  *    advances it — never reordered, never dropped;
  *  - RESTART: a new run over the same checkpoint resumes mid-stream
  *    (holdback + frontiers persist), earlier files stay byte-identical,
  *    and an idle restart changes nothing;
  *  - REPLAY: re-running a batch (crash between emit and checkpoint
  *    commit) rewrites byte-identical files and identical holdback.
  */
class CdcBinlogSpec extends SparkSpec {
  import spark.implicits._

  private val sid1 = java.util.UUID.fromString(
    "0a1b2c3d-8888-4444-3333-000000000001")
  private val sid2 = java.util.UUID.fromString(
    "0a1b2c3d-8888-4444-3333-000000000002")

  private val reg = Map(
    ("db", "t") -> Seq("k", "seq", "v"),
    ("db", "hb") -> Seq("k"))

  // (tso, table) — txnId := tso; db.t rows get a value image, db.hb is
  // the heartbeat table (frontier-only, filtered from the output log)
  private def ev(rows: Seq[(Long, String)]) =
    rows.map { case (tso, table) =>
      val after = if (table == "hb") Map("k" -> tso.toString)
        else Map("k" -> tso.toString, "seq" -> "1", "v" -> s"a$tso")
      (tso, tso, "INSERT", "db", table, Map.empty[String, String], after,
        null: String, 1700000000L)
    }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
      "after", "ddl", "tsoTime")

  private def writeCall(rows: Seq[(Long, String)],
      sid: java.util.UUID, prior: GtidSet, intoDir: String,
      asIndex: Int): Unit = {
    val d = java.nio.file.Files
      .createTempDirectory("graft-cdcbinlog-call").toString
    BinlogWire.writeChangeStreamBinlogFiles(
      ev(rows).coalesce(1).sortWithinPartitions("tso"), reg, d,
      checksummed = true, gtidSid = Some(sid), priorExecuted = prior)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(d, "binlog.000000"),
      java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
    ()
  }

  private def fileBytes(dir: String): Map[String, Seq[Byte]] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("binlog."))
      .map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      .toMap

  /** Decoded INSERT tsos of the output log, in FILE+STREAM order —
    * the total-order probe. */
  private def decodedOrder(dir: String): Seq[Long] =
    BinlogWire.readBinlogFiles(spark, dir, reg)
      .filter(col("op") === "INSERT")
      .select(col("log_file"), col("tso")).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).map(_._2)

  test("live 2-DN production: frontier barrier holds back, heartbeat releases, restart resumes, log byte-stable and totally ordered") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog1")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    def run(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    def served(ds: String*)(body: Seq[Int] => Unit): Unit = {
      val srvs = ds.map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }

    // phase 1: dn1 has txns 1,3,5 plus a heartbeat at 11; dn2 has 2,4
    // and NO heartbeat — its frontier is 4, so txn 5 must hold back
    writeCall(Seq((1L, "t"), (3L, "t"), (5L, "t"), (11L, "hb")),
      sid1, GtidSet.Empty, d1, 0)
    writeCall(Seq((2L, "t"), (4L, "t")), sid2, GtidSet.Empty, d2, 0)
    served(d1, d2) { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L, 3L, 4L),
      "barrier must emit exactly the txns at or below the slowest " +
        "frontier, in total TSO order (txn 5 held, heartbeats filtered)")
    val phase1Bytes = fileBytes(out)

    // phase 2: dn2 delivers txn 6 and a heartbeat at 12; dn1 idle. The
    // restarted query must release held txn 5 BEFORE 6, and phase-1
    // files must not change by a byte.
    writeCall(Seq((6L, "t"), (12L, "hb")), sid2,
      GtidSet.Empty.add(sid2, 2L).add(sid2, 4L), d2, 1)
    served(d1, d2) { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val phase2Bytes = fileBytes(out)
    phase1Bytes.foreach { case (name, bytes) =>
      assert(phase2Bytes(name) == bytes,
        s"restart mutated already-emitted file $name")
    }

    // phase 3: idle restart — nothing new anywhere → no new files,
    // every byte unchanged
    served(d1, d2) { case Seq(p1, p2) => run(p1, p2) }
    assert(fileBytes(out) == phase2Bytes,
      "an idle restart must be a byte-level no-op")

    // the merge-metrics sidecar recorded each batch's barrier and
    // emitted/held transaction counts (batch 0: barrier 4, 4 emitted,
    // 1 held; batch 1: barrier 11, held 5 released + new 6)
    assert(CdcBinlog.readMergeMetrics(s"$root/work", 0L) ==
      Some(CdcBinlog.MergeMetrics(4L, 4L, 1L)))
    assert(CdcBinlog.readMergeMetrics(s"$root/work", 1L) ==
      Some(CdcBinlog.MergeMetrics(11L, 2L, 0L)))
    assert(CdcBinlog.readMergeMetrics(s"$root/work", 99L).isEmpty)
    // the per-DN merge-state surface names the lagging DN: batch 0's
    // barrier (4) is dn2's frontier, dn1 is ahead at its heartbeat
    assert(CdcBinlog.readMergeState(s"$root/work", 0L) ==
      Some((4L, Map(
        "dn1" -> CdcBinlog.DnMergeState(11L, 0),
        "dn2" -> CdcBinlog.DnMergeState(4L, 0)))))
    assert(CdcBinlog.readMergeState(s"$root/work", 99L).isEmpty)
  }

  test("in-stream rebuild DDL: held pre-DDL rows and same-batch post-DDL rows both reach the log under the evolved registry") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog3")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val regDir = s"$root/registry"
    val regV2 = Map(
      ("db", "t") -> Seq("k", "seq", "v2"),
      ("db", "hb") -> Seq("k"))
    val ddlStmt = "ALTER TABLE t RENAME COLUMN v TO v2"

    def writeDf(df: org.apache.spark.sql.DataFrame,
        wreg: Map[(String, String), Seq[String]],
        sid: java.util.UUID, prior: GtidSet, intoDir: String,
        asIndex: Int): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-cdcbinlog-ddl").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        df.coalesce(1).sortWithinPartitions("tso"), wreg, d,
        checksummed = true, gtidSid = Some(sid), priorExecuted = prior)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
      ()
    }
    def run(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(), registryDir = Some(regDir))
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }
    val sid1 = java.util.UUID.fromString(
      "0a1b2c3d-9999-4444-3333-000000000001")
    val sid2 = java.util.UUID.fromString(
      "0a1b2c3d-9999-4444-3333-000000000002")

    // phase 1 (pre-DDL epoch, column v): dn1 has txns 1 and 3 + hb 10,
    // dn2 has txn 2 and NO heartbeat — barrier 2 emits 1,2 and HOLDS 3
    // (a pre-DDL row that will outlive the rename in the holdback)
    writeDf(ev(Seq((1L, "t"), (3L, "t"), (10L, "hb"))), reg, sid1,
      GtidSet.Empty, d1, 0)
    writeDf(ev(Seq((2L, "t"))), reg, sid2, GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L))

    // phase 2: dn1 rotates in the RENAME DDL (txn 4) and a post-DDL
    // row keyed v2 (txn 5) in ONE segment + hb 12; dn2 heartbeats at
    // 13 — barrier 12 releases held 3 (old key), the DDL and 5
    import spark.implicits._
    val phase2 = Seq(
      (4L, 4L, "DDL", "db", "t", Map.empty[String, String],
        Map.empty[String, String], ddlStmt, 1700000000L),
      (5L, 5L, "INSERT", "db", "t", Map.empty[String, String],
        Map("k" -> "5", "seq" -> "1", "v2" -> "b5"), null: String,
        1700000000L),
      (12L, 12L, "INSERT", "db", "hb", Map.empty[String, String],
        Map("k" -> "12"), null: String, 1700000000L))
      .toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
    writeDf(phase2, regV2, sid1,
      GtidSet.Empty.add(sid1, 1L).add(sid1, 3L).add(sid1, 10L), d1, 1)
    writeDf(ev(Seq((13L, "hb"))), reg, sid2,
      GtidSet.Empty.add(sid2, 2L), d2, 1)
    served { case Seq(p1, p2) => run(p1, p2) }

    // the full log, decoded under the EVOLVED registry: every epoch's
    // values present (held pre-DDL 3 included), total order kept, the
    // DDL statement on the wire at its TSO slot
    val rows = BinlogWire.readBinlogFiles(spark, out, regV2)
      .select(col("log_file"), col("tso"), col("op"),
        element_at(col("after"), "v2").as("v2"), col("ddl"))
      .collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))
    val inserts = rows.filter(_.getString(2) == "INSERT")
    assert(inserts.map(_.getLong(1)) == Seq(1L, 2L, 3L, 5L))
    assert(inserts.map(_.getString(3)) == Seq("a1", "a2", "a3", "b5"),
      "a renamed epoch's values were dropped by the re-encode")
    assert(rows.exists(r => r.getString(2) == "DDL" &&
      r.getString(4) == ddlStmt), "the DDL never reached the log")
  }

  test("force-complete: a dead DN is excluded after the stall threshold; its revival below the sealed barrier fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog4")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    def run(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(),
        forceCompleteAfterBatches = 2)
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }

    // phase 0: dn2 delivers txn 1 then goes SILENT; dn1 has 2,3 + hb 6
    // — barrier 1, txns 2,3 held behind the dead DN
    writeCall(Seq((2L, "t"), (3L, "t"), (6L, "hb")), sid1,
      GtidSet.Empty, d1, 0)
    writeCall(Seq((1L, "t")), sid2, GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L))

    // dn1 keeps heartbeating; dn2 stays dead. Stall 1 — still gated.
    writeCall(Seq((7L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L), d1, 1)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L))

    // stall 2 = threshold: dn2 excluded, the held txns 2,3 emit
    writeCall(Seq((8L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L)
        .add(sid1, 7L), d1, 2)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L, 3L),
      "force-complete must release the held txns past the dead DN")

    // revival BELOW the sealed barrier: dn2 wakes with txn 4 (< 8) —
    // emitting it now would break total order; the query must refuse
    writeCall(Seq((4L, "t")), sid2, GtidSet.Empty.add(sid2, 1L), d2, 1)
    writeCall(Seq((9L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L)
        .add(sid1, 7L).add(sid1, 8L), d1, 3)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      served { case Seq(p1, p2) => run(p1, p2) }
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("sealed"))),
      s"expected the sealed-barrier refusal, got: ${ex.getMessage}")
  }

  test("FULL CHAIN: DN dumps -> global binlog production -> dump-served -> downstream streaming replica, auto-position resume across batches") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog5")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-aaaa-4444-3333-00000000000f")

    def produce(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(), gtidSid = Some(gsid))
      q.awaitTermination()
    }
    // the downstream replica consumes the PRODUCED log through the
    // same graft-cdc source — the global log is a first-class binlog
    val targets = Seq(graft.jobs.WireReplicaJob.TableTarget("db", "t",
      Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
      Seq("k"), "seq", s"$root/target", 2))
    def consume(port: Int): Unit = {
      val q = CdcReplica.start(spark,
        Seq(("g1", "localhost", port)), "repl", "pw",
        Map(("db", "t") -> Seq("k", "seq", "v")), targets,
        s"$root/replica-ckpt", s"$root/replica-stage",
        s"$root/replica-registry",
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    def state(): Map[Long, String] = {
      import spark.implicits._
      graft.operators.TxnApplier.readCurrent(spark, s"$root/target")
        .select($"k", $"v").as[(Long, String)].collect().toMap
    }

    // batch 1 of the chain: both DNs live, heartbeats at 11/12
    writeCall(Seq((1L, "t"), (3L, "t"), (11L, "hb")), sid1,
      GtidSet.Empty, d1, 0)
    writeCall(Seq((2L, "t"), (4L, "t"), (12L, "hb")), sid2,
      GtidSet.Empty, d2, 0)
    var srvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    try produce(srvs(0).port, srvs(1).port)
    finally srvs.foreach(_.close())
    val g1 = new graft.sinks.BinlogDumpServer(out, "repl", "pw")
    try consume(g1.port) finally g1.close()
    assert(state() == (1L to 4L).map(t => t -> s"a$t").toMap)

    // batch 2: more data on both DNs; the producer appends to the
    // global log (cumulative PREVIOUS_GTIDS), and the replica's second
    // run AUTO-POSITIONS off its checkpoint — the global server must
    // re-serve NOTHING below gsid:1-4
    writeCall(Seq((5L, "t"), (13L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 1L).add(sid1, 3L).add(sid1, 11L), d1, 1)
    writeCall(Seq((6L, "t"), (14L, "hb")), sid2,
      GtidSet.Empty.add(sid2, 2L).add(sid2, 4L).add(sid2, 12L), d2, 1)
    srvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    try produce(srvs(0).port, srvs(1).port)
    finally srvs.foreach(_.close())
    // the produced log's own executed set covers every emitted txn
    assert(graft.sinks.BinlogCatalog.executedGtidSet(spark, out).text ==
      s"$gsid:1-6")
    val g2 = new graft.sinks.BinlogDumpServer(out, "repl", "pw")
    try consume(g2.port) finally g2.close()
    assert(state() == (1L to 6L).map(t => t -> s"a$t").toMap,
      "the downstream replica must resume incrementally off the " +
        "produced log's GTID stream")
  }

  test("LIFECYCLE: produce -> purge retention -> checkpointed replica resumes past the purge, a fresh bootstrap refuses loudly (1236)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogA")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-cccc-4444-3333-00000000000f")

    def produce(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(), gtidSid = Some(gsid))
      q.awaitTermination()
    }
    val targets = Seq(graft.jobs.WireReplicaJob.TableTarget("db", "t",
      Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
      Seq("k"), "seq", s"$root/target", 2))
    def consume(port: Int, who: String): Unit = {
      val q = CdcReplica.start(spark,
        Seq(("g1", "localhost", port)), "repl", "pw",
        Map(("db", "t") -> Seq("k", "seq", "v")),
        if (who == "A") targets else Seq(graft.jobs.WireReplicaJob
          .TableTarget("db", "t",
            Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
            Seq("k"), "seq", s"$root/target-$who", 2)),
        s"$root/replica-ckpt-$who", s"$root/replica-stage-$who",
        s"$root/replica-registry-$who",
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }

    // epoch 1: txns 1-4 produce and replica A consumes them
    writeCall(Seq((1L, "t"), (3L, "t"), (11L, "hb")), sid1,
      GtidSet.Empty, d1, 0)
    writeCall(Seq((2L, "t"), (4L, "t"), (12L, "hb")), sid2,
      GtidSet.Empty, d2, 0)
    var srvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    try produce(srvs(0).port, srvs(1).port)
    finally srvs.foreach(_.close())
    val g1 = new graft.sinks.BinlogDumpServer(out, "repl", "pw")
    try consume(g1.port, "A") finally g1.close()

    // epoch 2: txns 5,6 append to the log
    writeCall(Seq((5L, "t"), (13L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 1L).add(sid1, 3L).add(sid1, 11L), d1, 1)
    writeCall(Seq((6L, "t"), (14L, "hb")), sid2,
      GtidSet.Empty.add(sid2, 2L).add(sid2, 4L).add(sid2, 12L), d2, 1)
    srvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    try produce(srvs(0).port, srvs(1).port)
    finally srvs.foreach(_.close())

    // retention pass: epoch-1 files (txns wholly <= 4) purge; the
    // survivors' cumulative PREVIOUS_GTIDS still cover gsid:1-4
    val purged = graft.sinks.BinlogCatalog.purgeBefore(spark, out, 4L)
    assert(purged.nonEmpty, "retention should reclaim the old prefix")
    assert(graft.sinks.BinlogCatalog.executedGtidSet(spark, out).text ==
      s"$gsid:1-6", "survivors must summarize the purged history")

    // replica A's checkpoint cursor (gsid:1-4) sits exactly at the
    // purge boundary — auto-position resumes off the surviving suffix
    val g2 = new graft.sinks.BinlogDumpServer(out, "repl", "pw")
    try consume(g2.port, "A") finally g2.close()
    def state(dir: String): Map[Long, String] = {
      import spark.implicits._
      graft.operators.TxnApplier.readCurrent(spark, dir)
        .select($"k", $"v").as[(Long, String)].collect().toMap
    }
    assert(state(s"$root/target") ==
      (1L to 6L).map(t => t -> s"a$t").toMap,
      "the checkpointed replica must resume past the purge")

    // a FRESH replica bootstrapping from empty needs the purged range
    // — the dump server must answer the loud 1236, not a gapped stream
    val g3 = new graft.sinks.BinlogDumpServer(out, "repl", "pw")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try consume(g3.port, "B") finally g3.close()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(ex).exists(c => Option(c.getMessage).exists(m =>
      m.contains("purged") || m.contains("1236"))),
      s"expected the purged-log refusal, got: ${ex.getMessage}")
  }

  test("Binlog-X: live multi-stream production — per-table streams each TSO-ordered, DDL broadcast to all, conservation across streams") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog6")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val regX = Map(
      ("db", "alpha") -> Seq("k", "seq", "v"),
      ("db", "beta") -> Seq("k", "seq", "v"),
      ("db", "hb") -> Seq("k"))
    val ddlStmt = "ALTER TABLE alpha ADD COLUMN extra INT"

    // interleaved alpha/beta txns on both DNs + a DDL + heartbeats
    def rowsDf(rows: Seq[(Long, String, String)]) = { // (tso, table, op)
      import spark.implicits._
      rows.map { case (tso, table, op) =>
        val after = if (table == "hb") Map("k" -> tso.toString)
          else Map("k" -> tso.toString, "seq" -> "1", "v" -> s"a$tso")
        (tso, tso, op, "db", table,
          Map.empty[String, String],
          if (op == "DDL") Map.empty[String, String] else after,
          if (op == "DDL") ddlStmt else null: String, 1700000000L)
      }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
    }
    def writeX(rows: Seq[(Long, String, String)], sid: java.util.UUID,
        prior: GtidSet, intoDir: String, asIndex: Int): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-cdcbinlogx").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        rowsDf(rows).coalesce(1).sortWithinPartitions("tso"), regX, d,
        checksummed = true, gtidSid = Some(sid), priorExecuted = prior)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
      ()
    }

    writeX(Seq((1L, "alpha", "INSERT"), (3L, "beta", "INSERT"),
      (5L, "alpha", "DDL"), (7L, "alpha", "INSERT"),
      (11L, "hb", "INSERT")), sid1, GtidSet.Empty, d1, 0)
    writeX(Seq((2L, "beta", "INSERT"), (4L, "alpha", "INSERT"),
      (6L, "beta", "INSERT"), (12L, "hb", "INSERT")),
      sid2, GtidSet.Empty, d2, 0)

    val srvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    try {
      val q = CdcBinlogX.start(spark,
        Seq(("dn1", "localhost", srvs(0).port),
          ("dn2", "localhost", srvs(1).port)),
        "repl", "pw", regX, out, s"$root/ckpt", s"$root/work",
        CdcBinlogX.FanOut(streams = 2,
          graft.operators.StreamHash.ByTable),
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    } finally srvs.foreach(_.close())

    // per-stream decode: (stream, table, op, tso) in file order
    val streams = (0 until 2).map { i =>
      BinlogWire.readBinlogFiles(spark, s"$out/stream-$i", regX)
        .select(col("log_file"), col("tableName"), col("op"), col("tso"),
          col("ddl"))
        .collect().toSeq.sortBy(r => (r.getString(0), r.getLong(3)))
        .map(r => (r.getString(1), r.getString(2), r.getLong(3),
          r.getString(4)))
    }
    val inserts = streams.map(_.filter(_._2 == "INSERT"))
    // ByTable: each stream serves a disjoint table set; together they
    // conserve every txn exactly once
    val tablesPerStream = inserts.map(_.map(_._1).toSet)
    assert(tablesPerStream.forall(_.nonEmpty) &&
      tablesPerStream(0).intersect(tablesPerStream(1)).isEmpty,
      s"table sets must partition across streams: $tablesPerStream")
    assert(inserts.flatMap(_.map(_._3)).sorted ==
      Seq(1L, 2L, 3L, 4L, 6L, 7L), "conservation across streams")
    // each stream's log is independently TSO-ordered
    inserts.foreach { s =>
      assert(s.map(_._3) == s.map(_._3).sorted, s"stream disorder: $s")
    }
    // the DDL (tso 5, on alpha) reached BOTH streams — TxnTag broadcast
    streams.foreach { s =>
      assert(s.exists(r => r._2 == "DDL" && r._4 == ddlStmt),
        "DDL must broadcast to every stream")
    }
  }

  test("Binlog-X FULL CHAIN: per-stream logs consumed by per-stream replicas — union of targets is the whole state, broadcast DDL lands everywhere") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog9")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-bbbb-4444-3333-00000000000f")
    val regX = Map(
      ("db", "alpha") -> Seq("k", "seq", "v"),
      ("db", "beta") -> Seq("k", "seq", "v"),
      ("db", "hb") -> Seq("k"))
    def rowsDf(rows: Seq[(Long, String)]) = {
      import spark.implicits._
      rows.map { case (tso, table) =>
        val after = if (table == "hb") Map("k" -> tso.toString)
          else Map("k" -> tso.toString, "seq" -> "1", "v" -> s"a$tso")
        (tso, tso, "INSERT", "db", table, Map.empty[String, String],
          after, null: String, 1700000000L)
      }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
    }
    def writeX(rows: Seq[(Long, String)], sid: java.util.UUID,
        intoDir: String): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-cdcbinlogxc").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        rowsDf(rows).coalesce(1).sortWithinPartitions("tso"), regX, d,
        checksummed = true, gtidSid = Some(sid),
        priorExecuted = GtidSet.Empty)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, "binlog.000000"))
      ()
    }
    writeX(Seq((1L, "alpha"), (3L, "beta"), (5L, "alpha"),
      (11L, "hb")), sid1, d1)
    writeX(Seq((2L, "beta"), (4L, "alpha"), (6L, "beta"),
      (12L, "hb")), sid2, d2)

    // produce the two per-table stream logs from the live DNs
    val srvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    try {
      val q = CdcBinlogX.start(spark,
        Seq(("dn1", "localhost", srvs(0).port),
          ("dn2", "localhost", srvs(1).port)),
        "repl", "pw", regX, out, s"$root/ckpt", s"$root/work",
        CdcBinlogX.FanOut(streams = 2,
          graft.operators.StreamHash.ByTable),
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(), gtidSid = Some(gsid))
      q.awaitTermination()
    } finally srvs.foreach(_.close())

    // one replica per stream (the reference's Binlog-X consumer
    // topology): each configures BOTH tables — its stream only ever
    // delivers its own, the other target stays an empty bootstrap
    def consume(i: Int): Unit = {
      val dir = s"$out/stream-$i"
      val targets = Seq("alpha", "beta").map(t =>
        graft.jobs.WireReplicaJob.TableTarget("db", t,
          Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
          Seq("k"), "seq", s"$root/target-$i/$t", 2))
      val g = new graft.sinks.BinlogDumpServer(dir, "repl", "pw")
      try {
        val q = CdcReplica.start(spark,
          Seq((s"g$i", "localhost", g.port)), "repl", "pw",
          Map(("db", "alpha") -> Seq("k", "seq", "v"),
            ("db", "beta") -> Seq("k", "seq", "v")), targets,
          s"$root/replica-ckpt-$i", s"$root/replica-stage-$i",
          s"$root/replica-registry-$i",
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
      } finally g.close()
    }
    consume(0); consume(1)

    def tableState(i: Int, t: String): Map[Long, String] = {
      import spark.implicits._
      graft.operators.TxnApplier
        .readCurrent(spark, s"$root/target-$i/$t")
        .select($"k", $"v").as[(Long, String)].collect().toMap
    }
    val alpha = tableState(0, "alpha") ++ tableState(1, "alpha")
    val beta = tableState(0, "beta") ++ tableState(1, "beta")
    assert(alpha == Map(1L -> "a1", 4L -> "a4", 5L -> "a5"),
      s"alpha rows lost or duplicated across streams: $alpha")
    assert(beta == Map(2L -> "a2", 3L -> "a3", 6L -> "a6"),
      s"beta rows lost or duplicated across streams: $beta")
    // ByTable split: each table's rows live in exactly ONE stream's
    // replica — the other side's target is an empty bootstrap
    assert(Seq("alpha", "beta").forall(t =>
      tableState(0, t).isEmpty || tableState(1, t).isEmpty),
      "a table's rows leaked into both streams")
  }

  test("Binlog-X RETENTION: per-stream purge with independent cleaner barriers — checkpointed consumers resume past their stream's purge, fresh bootstraps refuse (1236)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogK")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-eeee-4444-3333-00000000000f")
    val regX = Map(
      ("db", "alpha") -> Seq("k", "seq", "v"),
      ("db", "beta") -> Seq("k", "seq", "v"),
      ("db", "hb") -> Seq("k"))
    def rowsDf(rows: Seq[(Long, String)]) = {
      import spark.implicits._
      rows.map { case (tso, table) =>
        val after = if (table == "hb") Map("k" -> tso.toString)
          else Map("k" -> tso.toString, "seq" -> "1", "v" -> s"a$tso")
        (tso, tso, "INSERT", "db", table, Map.empty[String, String],
          after, null: String, 1700000000L)
      }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
    }
    def writeX(rows: Seq[(Long, String)], sid: java.util.UUID,
        prior: GtidSet, intoDir: String, asIndex: Int): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-cdcbinlogxr").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        rowsDf(rows).coalesce(1).sortWithinPartitions("tso"), regX, d,
        checksummed = true, gtidSid = Some(sid), priorExecuted = prior)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
      ()
    }
    def produce(p1: Int, p2: Int): Unit = {
      val q = CdcBinlogX.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", regX, out, s"$root/ckpt", s"$root/work",
        CdcBinlogX.FanOut(streams = 2,
          graft.operators.StreamHash.ByTable),
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(), gtidSid = Some(gsid),
        targetRowsPerFile = 1)
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }
    def consume(i: Int, who: String): Unit = {
      val dir = s"$out/stream-$i"
      val targets = Seq("alpha", "beta").map(t =>
        graft.jobs.WireReplicaJob.TableTarget("db", t,
          Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
          Seq("k"), "seq", s"$root/target-$who-$i/$t", 2))
      val g = new graft.sinks.BinlogDumpServer(dir, "repl", "pw")
      try {
        val q = CdcReplica.start(spark,
          Seq((s"g$i", "localhost", g.port)), "repl", "pw",
          Map(("db", "alpha") -> Seq("k", "seq", "v"),
            ("db", "beta") -> Seq("k", "seq", "v")), targets,
          s"$root/replica-ckpt-$who-$i", s"$root/replica-stage-$who-$i",
          s"$root/replica-registry-$who-$i",
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
      } finally g.close()
    }
    def state(who: String, i: Int, t: String): Map[Long, String] = {
      import spark.implicits._
      val dir = s"$root/target-$who-$i/$t"
      if (!new java.io.File(dir).isDirectory) Map.empty
      else graft.operators.TxnApplier.readCurrent(spark, dir)
        .select($"k", $"v").as[(Long, String)].collect().toMap
    }

    // epoch 1: alpha txns 1,4 / beta 2,3 across the two DNs
    writeX(Seq((1L, "alpha"), (3L, "beta"), (11L, "hb")), sid1,
      GtidSet.Empty, d1, 0)
    writeX(Seq((2L, "beta"), (4L, "alpha"), (12L, "hb")), sid2,
      GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => produce(p1, p2) }
    consume(0, "A"); consume(1, "A")

    // epoch 2: alpha 5 / beta 6 append to the per-stream logs
    writeX(Seq((5L, "alpha"), (13L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 1L).add(sid1, 3L).add(sid1, 11L), d1, 1)
    writeX(Seq((6L, "beta"), (14L, "hb")), sid2,
      GtidSet.Empty.add(sid2, 2L).add(sid2, 4L).add(sid2, 12L), d2, 1)
    served { case Seq(p1, p2) => produce(p1, p2) }

    // which stream carries alpha? (ByTable hash — resolve by content)
    val alphaStream = (0 until 2).find { i =>
      BinlogWire.readBinlogFiles(spark, s"$out/stream-$i", regX)
        .filter(col("tableName") === "alpha").limit(1).count() > 0
    }.get
    val betaStream = 1 - alphaStream
    val alphaDir = s"$out/stream-$alphaStream"
    val betaDir = s"$out/stream-$betaStream"

    // per-stream retention is INDEPENDENT: the alpha stream purges its
    // epoch-1 prefix at watermark 4; the beta stream's cleaner barrier
    // (a consumer hold — BinlogCleaner's veto) blocks its pass entirely
    val purgedA = graft.sinks.BinlogCatalog.purgeBefore(
      spark, alphaDir, 4L)
    assert(purgedA.size == 2,
      s"alpha stream should reclaim its two epoch-1 files: $purgedA")
    val purgedB = graft.sinks.BinlogCatalog.purgeBefore(
      spark, betaDir, 4L, barrier = _ => false)
    assert(purgedB.isEmpty, "a vetoing cleaner barrier must hold " +
      "the beta stream's purge")
    // survivors still summarize the purged history (PREVIOUS_GTIDS)
    val execA = graft.sinks.BinlogCatalog.executedGtidSet(spark, alphaDir)
    assert(Seq(1L, 4L, 5L).forall(execA.contains(gsid, _)),
      s"purged-stream survivors must cover the whole history: " +
        s"${execA.text}")

    // checkpointed consumers RESUME: alpha's cursor (gsid through 4)
    // sits at the purge boundary — auto-position serves the suffix
    consume(alphaStream, "A"); consume(betaStream, "A")
    val alpha = state("A", alphaStream, "alpha") ++
      state("A", betaStream, "alpha")
    val beta = state("A", alphaStream, "beta") ++
      state("A", betaStream, "beta")
    assert(alpha == Map(1L -> "a1", 4L -> "a4", 5L -> "a5"),
      s"alpha consumer must resume past its stream's purge: $alpha")
    assert(beta == Map(2L -> "a2", 3L -> "a3", 6L -> "a6"),
      s"beta consumer (unpurged stream) must resume normally: $beta")

    // a FRESH bootstrap on the purged stream needs the purged range —
    // the per-stream dump server answers the loud 1236
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      consume(alphaStream, "B")
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(ex).exists(c => Option(c.getMessage).exists(m =>
      m.contains("purged") || m.contains("1236"))),
      s"expected the purged-log refusal on the purged stream: " +
        s"${ex.getMessage}")
    // the unpurged stream still bootstraps from scratch
    consume(betaStream, "B")
    assert(state("B", betaStream, "beta") ==
      Map(2L -> "a2", 3L -> "a3", 6L -> "a6"),
      "the vetoed (unpurged) stream must bootstrap fresh consumers")
  }

  test("Binlog-X ByRecord: a key's DELETE hashes to the same stream as its INSERT (before-image fallback)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog7")
    val out = s"$root/out"
    def ce(tso: Long, op: String, k: Long) = {
      val img = Map("k" -> k.toString, "seq" -> "1", "v" -> s"a$tso")
      ChangeEvent(tso, tso, "dn1", s"dn1:$tso", op, "db", "t",
        new java.sql.Timestamp(1700000000000L),
        if (op == "DELETE") img else Map.empty,
        if (op == "DELETE") Map.empty else img, None, 1L)
    }
    // ten keys, each INSERTed then DELETEd — per-key stream stability
    // is the whole point of RECORD-level hashing
    val rows = (1L to 10L).flatMap(k =>
      Seq(ce(k, "INSERT", k), ce(100L + k, "DELETE", k)))
    val batch = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)
    CdcBinlog.emitBatch(batch, 0L, Seq("dn1"), reg, Set.empty,
      out, s"$root/work", numPartitions = 2, checksummed = false,
      fanOut = Some(CdcBinlogX.FanOut(streams = 3,
        graft.operators.StreamHash.ByRecord, pkCols = Seq("k"))))
    val byStream = (0 until 3).flatMap { i =>
      val dir = new java.io.File(s"$out/stream-$i")
      if (!dir.isDirectory) Nil
      else BinlogWire.readBinlogFiles(spark, dir.toString, reg)
        .filter(col("op").isin("INSERT", "DELETE"))
        .select(col("op"), col("before"), col("after"))
        .collect().toSeq.map { r =>
          val img = if (r.getString(0) == "DELETE")
            r.getMap[String, String](1) else r.getMap[String, String](2)
          (i, img("k").toLong, r.getString(0))
        }
    }
    assert(byStream.map(_._2).distinct.size == 10 &&
      byStream.size == 20, "conservation")
    (1L to 10L).foreach { k =>
      val streams = byStream.filter(_._2 == k).map(_._1).distinct
      assert(streams.size == 1,
        s"key $k split across streams $streams — DELETE hashed away " +
          "from its INSERT")
    }
  }

  test("targetRowsPerFile: the run count scales with the batch's emitted volume, total order and replay byte-stability kept") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog8")
    val out = s"$root/out"
    def ce(tso: Long) = ChangeEvent(tso, tso, "dn1", s"dn1:$tso",
      "INSERT", "db", "t", new java.sql.Timestamp(1700000000000L),
      Map.empty, Map("k" -> tso.toString, "seq" -> "1", "v" -> s"a$tso"),
      None, 1L)
    val batch = spark.createDataFrame((1L to 8L).map(ce))
      .select(ChangeEvent.schema.fieldNames.map(col): _*)
    def emitOnce(): Unit = CdcBinlog.emitBatch(batch, 0L, Seq("dn1"),
      reg, Set.empty, out, s"$root/work", numPartitions = 2,
      checksummed = false, targetRowsPerFile = 2)

    // 8 emitted rows / target 2 → 4 rotated files, not numPartitions=2:
    // a burst lands in MORE bounded files (binlogFileSize semantics)
    emitOnce()
    assert(fileBytes(out).size == 4,
      s"expected 4 volume-scaled files, got ${fileBytes(out).keys}")
    assert(decodedOrder(out) == (1L to 8L),
      "rotation must preserve total TSO order across file names")
    val bytes1 = fileBytes(out)

    // replay recomputes the same run count from the same inputs
    emitOnce()
    assert(fileBytes(out) == bytes1,
      "dynamic rotation must stay byte-stable under replay")

    // a small batch under the same target collapses to one file
    val out2 = s"$root/out2"
    val small = spark.createDataFrame(Seq(ce(1L), ce(2L)))
      .select(ChangeEvent.schema.fieldNames.map(col): _*)
    CdcBinlog.emitBatch(small, 0L, Seq("dn1"), reg, Set.empty,
      out2, s"$root/work2", numPartitions = 2, checksummed = false,
      targetRowsPerFile = 100)
    assert(fileBytes(out2).size == 1)

    // fan-out skew: ALL rows hash to one stream (ByTable, single
    // table) — that stream must rotate by ITS row count (4 files),
    // not the uniform share (which would pack 2 oversized ones)
    val out3 = s"$root/out3"
    CdcBinlog.emitBatch(batch, 0L, Seq("dn1"), reg, Set.empty,
      out3, s"$root/work3", numPartitions = 2, checksummed = false,
      targetRowsPerFile = 2,
      fanOut = Some(CdcBinlogX.FanOut(streams = 2,
        graft.operators.StreamHash.ByTable)))
    val streamFiles = (0 until 2).map(i =>
      fileBytes(s"$out3/stream-$i").size)
    assert(streamFiles.toSet == Set(0, 4),
      s"the hot stream must honor the target by its own rows: $streamFiles")
  }

  test("a batch with a RENAME DDL replays byte-identical even after the registryDir sidecar was already saved (crash between save and checkpoint commit)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogB")
    val out = s"$root/out"
    val work = s"$root/work"
    val regDir = s"$root/registry"
    val regV2 = Map(
      ("db", "t") -> Seq("k", "seq", "v2"),
      ("db", "hb") -> Seq("k"))
    def ce(tso: Long, txn: Long, dn: String, op: String,
        after: Map[String, String], ddl: Option[String] = None) =
      ChangeEvent(tso, txn, dn, s"$dn:$tso", op, "db",
        if (op == "HEARTBEAT") "hb" else "t",
        new java.sql.Timestamp(1700000000000L), Map.empty, after, ddl, 1L)
    def df(rows: Seq[ChangeEvent]) = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)

    // batch 0 (old registry, column v): txn 3 holds back OLD-KEYED
    val b0 = df(Seq(
      ce(1L, 1L, "dn1", "INSERT",
        Map("k" -> "1", "seq" -> "1", "v" -> "a1")),
      ce(3L, 3L, "dn1", "INSERT",
        Map("k" -> "3", "seq" -> "1", "v" -> "a3")),
      ce(2L, 2L, "dn2", "INSERT",
        Map("k" -> "2", "seq" -> "1", "v" -> "a2"))))
    CdcBinlog.emitBatch(b0, 0L, Seq("dn1", "dn2"), reg, Set.empty,
      out, work, numPartitions = 2, checksummed = false,
      registryDir = Some(regDir))

    // batch 1: the RENAME lands, held txn 3 (old key) must re-key
    val b1 = df(Seq(
      ce(4L, 4L, "dn1", "DDL", Map.empty,
        Some("ALTER TABLE t RENAME COLUMN v TO v2")),
      ce(5L, 5L, "dn1", "INSERT",
        Map("k" -> "5", "seq" -> "1", "v2" -> "b5")),
      ce(11L, 11L, "dn1", "HEARTBEAT", Map("k" -> "11")),
      ce(12L, 12L, "dn2", "HEARTBEAT", Map("k" -> "12"))))
    def emit1(): Unit = CdcBinlog.emitBatch(b1, 1L, Seq("dn1", "dn2"),
      reg, Set.empty, out, work, numPartitions = 2,
      checksummed = false, registryDir = Some(regDir))
    def values(): Seq[(Long, String)] =
      BinlogWire.readBinlogFiles(spark, out, regV2)
        .filter(col("op") === "INSERT")
        .select(col("tso"), element_at(col("after"), "v2"))
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)

    emit1()
    assert(values() == Seq(1L -> "a1", 2L -> "a2", 3L -> "a3",
      5L -> "b5"), "held pre-DDL values must survive the rename")
    val bytes1 = fileBytes(out)

    // the registryDir sidecar is now EVOLVED (saved before Spark's
    // checkpoint would commit) — the replay must still recompute the
    // old base from the versioned snapshot, not re-read the evolved
    // sidecar and null out the held rows' cells
    assert(graft.sinks.RegistrySidecar
      .resume(regDir, reg)(("db", "t")) == Seq("k", "seq", "v2"))
    emit1()
    assert(values() == Seq(1L -> "a1", 2L -> "a2", 3L -> "a3",
      5L -> "b5"), "the replay re-encoded held rows as NULL cells")
    assert(fileBytes(out) == bytes1,
      "replay after the registry save must stay byte-identical")
  }

  test("a rename inside an ARITY-CHANGING alter still re-keys held rows (DDL-derived rename steps, not positional diff)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogH")
    val out = s"$root/out"
    val work = s"$root/work"
    val regDir = s"$root/registry"
    // ONE statement renames v→v2 AND adds a column: base and evolved
    // arities differ, the exact blind spot of a positional diff
    val ddlStmt =
      "ALTER TABLE t ADD COLUMN extra INT, RENAME COLUMN v TO v2"
    val regV2 = Map(
      ("db", "t") -> Seq("k", "seq", "v2", "extra"),
      ("db", "hb") -> Seq("k"))
    def ce(tso: Long, txn: Long, dn: String, op: String,
        after: Map[String, String], ddl: Option[String] = None) =
      ChangeEvent(tso, txn, dn, s"$dn:$tso", op, "db",
        if (op == "HEARTBEAT") "hb" else "t",
        new java.sql.Timestamp(1700000000000L), Map.empty, after, ddl, 1L)
    def df(rows: Seq[ChangeEvent]) = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)

    // batch 0: txn 3 holds back OLD-KEYED (column v)
    CdcBinlog.emitBatch(df(Seq(
      ce(1L, 1L, "dn1", "INSERT",
        Map("k" -> "1", "seq" -> "1", "v" -> "a1")),
      ce(3L, 3L, "dn1", "INSERT",
        Map("k" -> "3", "seq" -> "1", "v" -> "a3")),
      ce(2L, 2L, "dn2", "INSERT",
        Map("k" -> "2", "seq" -> "1", "v" -> "a2")))),
      0L, Seq("dn1", "dn2"), reg, Set.empty, out, work,
      numPartitions = 2, checksummed = false,
      registryDir = Some(regDir))
    // batch 1: the arity-changing ALTER lands + a post-DDL row
    CdcBinlog.emitBatch(df(Seq(
      ce(4L, 4L, "dn1", "DDL", Map.empty, Some(ddlStmt)),
      ce(5L, 5L, "dn1", "INSERT",
        Map("k" -> "5", "seq" -> "1", "v2" -> "b5", "extra" -> "9")),
      ce(11L, 11L, "dn1", "HEARTBEAT", Map("k" -> "11")),
      ce(12L, 12L, "dn2", "HEARTBEAT", Map("k" -> "12")))),
      1L, Seq("dn1", "dn2"), reg, Set.empty, out, work,
      numPartitions = 2, checksummed = false,
      registryDir = Some(regDir))

    val vals = BinlogWire.readBinlogFiles(spark, out, regV2)
      .filter(col("op") === "INSERT")
      .select(col("tso"), element_at(col("after"), "v2"))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    assert(vals == Seq(1L -> "a1", 2L -> "a2", 3L -> "a3", 5L -> "b5"),
      "an arity-changing rename must still re-key held pre-DDL rows " +
        s"(got $vals)")
    assert(graft.sinks.RegistrySidecar.resume(regDir, reg)(
      ("db", "t")) == Seq("k", "seq", "v2", "extra"))
  }

  test("two renames in ONE batch: held rows and intermediate-epoch rows both re-key through the step chain") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogI")
    val out = s"$root/out"
    val work = s"$root/work"
    val regDir = s"$root/registry"
    val regV3 = Map(
      ("db", "t") -> Seq("k", "seq", "v3"),
      ("db", "hb") -> Seq("k"))
    def ce(tso: Long, txn: Long, dn: String, op: String,
        after: Map[String, String], ddl: Option[String] = None) =
      ChangeEvent(tso, txn, dn, s"$dn:$tso", op, "db",
        if (op == "HEARTBEAT") "hb" else "t",
        new java.sql.Timestamp(1700000000000L), Map.empty, after, ddl, 1L)
    def df(rows: Seq[ChangeEvent]) = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)

    // batch 0: txn 3 holds back keyed v
    CdcBinlog.emitBatch(df(Seq(
      ce(1L, 1L, "dn1", "INSERT",
        Map("k" -> "1", "seq" -> "1", "v" -> "a1")),
      ce(3L, 3L, "dn1", "INSERT",
        Map("k" -> "3", "seq" -> "1", "v" -> "a3")),
      ce(2L, 2L, "dn2", "INSERT",
        Map("k" -> "2", "seq" -> "1", "v" -> "a2")))),
      0L, Seq("dn1", "dn2"), reg, Set.empty, out, work,
      numPartitions = 2, checksummed = false,
      registryDir = Some(regDir))
    // batch 1: rename v→v2 (tso 4), a row in the INTERMEDIATE epoch
    // keyed v2 (tso 5), rename v2→v3 (tso 6), a row keyed v3 (tso 7)
    CdcBinlog.emitBatch(df(Seq(
      ce(4L, 4L, "dn1", "DDL", Map.empty,
        Some("ALTER TABLE t RENAME COLUMN v TO v2")),
      ce(5L, 5L, "dn1", "INSERT",
        Map("k" -> "5", "seq" -> "1", "v2" -> "b5")),
      ce(6L, 6L, "dn1", "DDL", Map.empty,
        Some("ALTER TABLE t RENAME COLUMN v2 TO v3")),
      ce(7L, 7L, "dn1", "INSERT",
        Map("k" -> "7", "seq" -> "1", "v3" -> "c7")),
      ce(11L, 11L, "dn1", "HEARTBEAT", Map("k" -> "11")),
      ce(12L, 12L, "dn2", "HEARTBEAT", Map("k" -> "12")))),
      1L, Seq("dn1", "dn2"), reg, Set.empty, out, work,
      numPartitions = 2, checksummed = false,
      registryDir = Some(regDir))

    val vals = BinlogWire.readBinlogFiles(spark, out, regV3)
      .filter(col("op") === "INSERT")
      .select(col("tso"), element_at(col("after"), "v3"))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    assert(vals == Seq(1L -> "a1", 2L -> "a2", 3L -> "a3", 5L -> "b5",
      7L -> "c7"),
      "held (v-keyed) and intermediate (v2-keyed) rows must both " +
        s"re-key through the chained steps (got $vals)")
  }

  test("RENAME TABLE over held rows: held commits keep their ORIGINAL name on the wire (before the DDL), the write registry aliases them — including across batch boundaries") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogL")
    val out = s"$root/out"
    val work = s"$root/work"
    val regDir = s"$root/registry"
    def ce(tso: Long, txn: Long, dn: String, op: String, table: String,
        after: Map[String, String], ddl: Option[String] = None) =
      ChangeEvent(tso, txn, dn, s"$dn:$tso", op, "db", table,
        new java.sql.Timestamp(1700000000000L), Map.empty, after, ddl, 1L)
    def df(rows: Seq[ChangeEvent]) = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)
    def emit(batchId: Long, rows: Seq[ChangeEvent]): Unit =
      CdcBinlog.emitBatch(df(rows), batchId, Seq("dn1", "dn2"), reg,
        Set.empty, out, work, numPartitions = 2, checksummed = false,
        registryDir = Some(regDir))

    // batch 0: dn1's txn 3 HOLDS (dn2's frontier is 1)
    emit(0L, Seq(
      ce(3L, 3L, "dn1", "INSERT", "t",
        Map("k" -> "3", "seq" -> "1", "v" -> "a3")),
      ce(1L, 1L, "dn2", "INSERT", "t",
        Map("k" -> "1", "seq" -> "1", "v" -> "a1"))))

    // batch 1: the RENAME TABLE and a post-rename row arrive on dn1 —
    // dn2 stays silent, so DDL and rows ALL hold across this batch
    // (the alias must survive the registry snapshot round-trip)
    emit(1L, Seq(
      ce(4L, 4L, "dn1", "DDL", "t", Map.empty,
        Some("RENAME TABLE t TO t2")),
      ce(5L, 5L, "dn1", "INSERT", "t2",
        Map("k" -> "5", "seq" -> "1", "v" -> "b5"))))
    assert(decodedOrder(out) == Seq(1L),
      "nothing above dn2's frontier may emit yet")

    // batch 2: heartbeats on both DNs release everything — the held
    // pre-rename commit (tso 3) must emit under its ORIGINAL table
    // name BEFORE the DDL, the post-rename row under the new name
    emit(2L, Seq(
      ce(11L, 11L, "dn1", "HEARTBEAT", "hb", Map("k" -> "11")),
      ce(12L, 12L, "dn2", "HEARTBEAT", "hb", Map("k" -> "12"))))

    // a consumer decodes with the registryDir sidecar (per-file decode
    // cannot see another file's DDL) — which must now carry BOTH names:
    // the renamed table AND its pre-rename alias for the held commits
    val resumed = graft.sinks.RegistrySidecar.resume(regDir, reg)
    assert(resumed.get(("db", "t")) == Some(Seq("k", "seq", "v")) &&
      resumed.get(("db", "t2")) == Some(Seq("k", "seq", "v")),
      s"the sidecar must alias the old name: $resumed")
    val rows = BinlogWire.readBinlogFiles(spark, out, resumed)
      .select(col("log_file"), col("tso"), col("op"), col("tableName"),
        element_at(col("after"), "v").as("v"), col("ddl"))
      .collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))
    val inserts = rows.filter(_.getString(2) == "INSERT")
      .map(r => (r.getLong(1), r.getString(3), r.getString(4)))
    assert(inserts == Seq((1L, "t", "a1"), (3L, "t", "a3"),
      (5L, "t2", "b5")),
      s"held pre-rename commits must keep their original table name " +
        s"and values: $inserts")
    assert(rows.exists(r => r.getString(2) == "DDL" &&
      r.getString(5) == "RENAME TABLE t TO t2"))
    // and the wire order puts the held commit BEFORE the rename DDL
    val order = rows.filter(r => r.getLong(1) == 3L || r.getLong(1) == 4L)
      .map(_.getLong(1))
    assert(order == Seq(3L, 4L), s"commit/DDL wire order: $order")
  }

  test("DROP TABLE over held rows: pre-drop commits still emit (before the DROP DDL) via the retained write-registry entry") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogM")
    val out = s"$root/out"
    val work = s"$root/work"
    val regDir = s"$root/registry"
    def ce(tso: Long, txn: Long, dn: String, op: String, table: String,
        after: Map[String, String], ddl: Option[String] = None) =
      ChangeEvent(tso, txn, dn, s"$dn:$tso", op, "db", table,
        new java.sql.Timestamp(1700000000000L), Map.empty, after, ddl, 1L)
    def df(rows: Seq[ChangeEvent]) = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)
    def emit(batchId: Long, rows: Seq[ChangeEvent]): Unit =
      CdcBinlog.emitBatch(df(rows), batchId, Seq("dn1", "dn2"), reg,
        Set.empty, out, work, numPartitions = 2, checksummed = false,
        registryDir = Some(regDir))

    // batch 0: txn 3 holds behind dn2's frontier
    emit(0L, Seq(
      ce(3L, 3L, "dn1", "INSERT", "t",
        Map("k" -> "3", "seq" -> "1", "v" -> "a3")),
      ce(1L, 1L, "dn2", "INSERT", "t",
        Map("k" -> "1", "seq" -> "1", "v" -> "a1"))))
    // batch 1: the DROP arrives on dn1, dn2 silent — DDL holds too
    // (the retained entry must survive the snapshot round-trip)
    emit(1L, Seq(
      ce(4L, 4L, "dn1", "DDL", "t", Map.empty,
        Some("DROP TABLE t"))))
    assert(decodedOrder(out) == Seq(1L))
    // batch 2: heartbeats release the held commit AND the DROP
    emit(2L, Seq(
      ce(11L, 11L, "dn1", "HEARTBEAT", "hb", Map("k" -> "11")),
      ce(12L, 12L, "dn2", "HEARTBEAT", "hb", Map("k" -> "12"))))

    val rows = BinlogWire.readBinlogFiles(spark, out,
        graft.sinks.RegistrySidecar.resume(regDir, reg))
      .select(col("log_file"), col("tso"), col("op"),
        element_at(col("after"), "v").as("v"), col("ddl"))
      .collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))
    val inserts = rows.filter(_.getString(2) == "INSERT")
      .map(r => (r.getLong(1), r.getString(3)))
    assert(inserts == Seq((1L, "a1"), (3L, "a3")),
      s"a commit preceding the DROP must still reach the log: $inserts")
    assert(rows.exists(r => r.getString(2) == "DDL" &&
      r.getString(4) == "DROP TABLE t"))
    val order = rows.filter(r => r.getLong(1) == 3L || r.getLong(1) == 4L)
      .map(_.getLong(1))
    assert(order == Seq(3L, 4L),
      s"the held commit must precede the DROP on the wire: $order")
  }

  test("cross-DN XA: a global txn's branches share the commit TSO — held until EVERY branch's DN passes it, then emitted fused") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogC")
    val out = s"$root/out"
    val work = s"$root/work"
    def ce(tso: Long, txn: Long, dn: String, op: String, k: String,
        table: String = "t") =
      ChangeEvent(tso, txn, dn, s"$dn:$tso", op, "db", table,
        new java.sql.Timestamp(1700000000000L), Map.empty,
        if (op == "HEARTBEAT") Map("k" -> k)
        else Map("k" -> k, "seq" -> "1", "v" -> s"a$k"), None, 1L)
    def df(rows: Seq[ChangeEvent]) = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)

    // batch 0: dn1 delivers ITS branch of global txn 7 (CTS 7 on the
    // branch's commit record) + heartbeat 9; dn2 is slow — only txn 2.
    // dn2's frontier (2) < CTS proves its branch may still be in
    // flight: txn 7 must NOT emit partially.
    CdcBinlog.emitBatch(df(Seq(
      ce(7L, 7L, "dn1", "INSERT", "71"),
      ce(9L, 9L, "dn1", "HEARTBEAT", "9", "hb"),
      ce(2L, 2L, "dn2", "INSERT", "2"))),
      0L, Seq("dn1", "dn2"), reg, Set.empty, out, work,
      numPartitions = 2, checksummed = false)
    assert(decodedOrder(out) == Seq(2L),
      "a cross-DN txn emitted before its slow branch arrived")

    // batch 1: dn2's branch arrives carrying the SAME CTS + heartbeat
    // 10 — barrier now covers the CTS on every DN, txn 7 emits with
    // BOTH branches fused under one txnId
    CdcBinlog.emitBatch(df(Seq(
      ce(7L, 7L, "dn2", "INSERT", "72"),
      ce(10L, 10L, "dn2", "HEARTBEAT", "10", "hb"))),
      1L, Seq("dn1", "dn2"), reg, Set.empty, out, work,
      numPartitions = 2, checksummed = false)
    val rows = BinlogWire.readBinlogFiles(spark, out, reg)
      .filter(col("op") === "INSERT")
      .select(col("tso"), element_at(col("after"), "k").as("k"))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet == Set((2L, "2"), (7L, "71"), (7L, "72")),
      s"both branches must emit exactly once, fused: $rows")
  }

  test("force-complete stall clock ticks once per DIALED trigger: a caught-up DN skipped by AvailableNow micro-batches is not wrongly sealed out") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogD")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    // a byte cap small enough that dn1's backlog file splits into
    // several bounded micro-batches within ONE AvailableNow run — the
    // exact shape where the pre-fix clock raced a healthy DN to the
    // threshold (dn2, caught up, is dialed only in the run's FIRST
    // trigger and skipped thereafter)
    def run(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(),
        maxBytesPerPoll = 1200L,
        forceCompleteAfterBatches = 2)
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }
    def frontierBatches(): Seq[Long] = {
      val hold = new java.io.File(s"$root/work/hold")
      Option(hold.listFiles()).toSeq.flatten
        .map(_.getName).filter(_.endsWith(".frontier"))
        .flatMap(_.stripSuffix(".frontier").toLongOption).sorted
    }
    def stallOf(batch: Long, dn: String): Int = {
      val text = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$root/work/hold/$batch.frontier"))
      text.split(";").collectFirst {
        case kv if kv.startsWith(s"$dn=") =>
          kv.stripPrefix(s"$dn=").split(",")(1).toInt
      }.get
    }

    // phase 1: both DNs deliver, heartbeats at 50/51
    writeCall(Seq((1L, "t"), (2L, "t"), (50L, "hb")), sid1,
      GtidSet.Empty, d1, 0)
    writeCall(Seq((3L, "t"), (51L, "hb")), sid2, GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L, 3L))
    val afterPhase1 = frontierBatches().max

    // phase 2: a DEEP backlog on dn1 only (12 txns, all above dn2's
    // frontier), dn2 idle — the run splits into several capped
    // micro-batches, dn2 dialed only in the first
    writeCall((101L to 112L).map(t => (t, "t")) :+ ((150L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 1L).add(sid1, 2L).add(sid1, 50L), d1, 1)
    served { case Seq(p1, p2) => run(p1, p2) }
    val lastBatch = frontierBatches().max
    assert(lastBatch >= afterPhase1 + 2,
      s"the 1200-byte cap should split the backlog into several " +
        s"micro-batches (got batches $afterPhase1 -> $lastBatch) — " +
        "the scenario under test never materialized")
    assert(stallOf(lastBatch, "dn2") == 1,
      "a caught-up DN skipped by AvailableNow must tick its stall " +
        "clock once per run (the dialed trigger), not once per " +
        "micro-batch")
    assert(decodedOrder(out) == Seq(1L, 2L, 3L),
      "nothing above the idle DN's frontier may emit — a leak here " +
        "means dn2 was wrongly force-complete-excluded mid-run")

    // phase 3: dn2 wakes BELOW dn1's frontier (txn 120 < 150) — under
    // the pre-fix racing clock dn2 is sealed out and this delivery
    // throws the sealed-barrier refusal; fixed, it emits in order
    writeCall(Seq((120L, "t"), (151L, "hb")), sid2,
      GtidSet.Empty.add(sid2, 3L).add(sid2, 51L), d2, 1)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) ==
      (Seq(1L, 2L, 3L) ++ (101L to 112L) :+ 120L),
      "the held backlog and the late-waking DN must emit in total order")
  }

  test("advanceIdleFrontiers: a DN idle at caught-up EOF stops stalling the barrier — no heartbeats, no force-complete") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogE")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    def run(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(),
        advanceIdleFrontiers = true)
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }

    // run 1: dn2 delivers its one-and-only txn IN this batch — it is
    // NOT idle here, so the normal gate applies: barrier 1, dn1's
    // txns 2,3 held behind it
    writeCall(Seq((1L, "t")), sid2, GtidSet.Empty, d2, 0)
    writeCall(Seq((2L, "t"), (3L, "t")), sid1, GtidSet.Empty, d1, 0)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L),
      "a DN that DELIVERED this batch is not idle — held txns must " +
        "still gate on its real frontier")

    // run 2: dn1 appends txn 4; dn2 has NOTHING ever again (no
    // heartbeat table on it at all). Its drain answers caught-up EOF
    // → frontier advances to the batch max → everything emits.
    writeCall(Seq((4L, "t")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L), d1, 1)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L, 3L, 4L),
      "an idle-at-EOF DN must not hold the barrier when " +
        "advanceIdleFrontiers is on")
  }

  test("sealedGapSkip: after the sealed-barrier refusal, a restart with the skip flag records the gap and production resumes") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogF")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    def run(skip: Boolean)(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(),
        forceCompleteAfterBatches = 2, sealedGapSkip = skip)
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }

    // phases 0-2 replicate the force-complete flow: dn2 delivers txn 1
    // then dies; dn1 heartbeats past the threshold → seal at 8
    writeCall(Seq((2L, "t"), (3L, "t"), (6L, "hb")), sid1,
      GtidSet.Empty, d1, 0)
    writeCall(Seq((1L, "t")), sid2, GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => run(skip = false)(p1, p2) }
    writeCall(Seq((7L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L), d1, 1)
    served { case Seq(p1, p2) => run(skip = false)(p1, p2) }
    writeCall(Seq((8L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L)
        .add(sid1, 7L), d1, 2)
    served { case Seq(p1, p2) => run(skip = false)(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L, 3L))

    // phase 3: dn2 revives BELOW the seal (txn 4 < 8) → the loud
    // refusal (the alarm of the alarm-then-operator flow)
    writeCall(Seq((4L, "t")), sid2, GtidSet.Empty.add(sid2, 1L), d2, 1)
    writeCall(Seq((9L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L)
        .add(sid1, 7L).add(sid1, 8L), d1, 3)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      served { case Seq(p1, p2) => run(skip = false)(p1, p2) }
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("sealedGapSkip"))),
      s"the refusal must name the recovery flag: ${ex.getMessage}")

    // the OPERATOR decision: restart the same checkpoint with the
    // skip flag — the replayed batch drops the sealed-out txn, records
    // it durably, and the query completes
    served { case Seq(p1, p2) => run(skip = true)(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L, 3L),
      "the sealed-out txn must be dropped, not emitted out of order")
    val gaps = Option(new java.io.File(s"$out/_GAPS").listFiles())
      .toSeq.flatten.filterNot(_.getName.startsWith("."))
    assert(gaps.nonEmpty, "the dropped txns must be durably recorded")
    val gapText = java.nio.file.Files.readString(gaps.head.toPath)
    assert(gapText.contains("sealedBarrier=8") &&
      gapText.contains("dn2,4,4"),
      s"the gap record must name the seal and the dropped txn: $gapText")

    // production RESUMES: dn2 delivers above the seal, normal ops
    writeCall(Seq((20L, "t")), sid2,
      GtidSet.Empty.add(sid2, 1L).add(sid2, 4L), d2, 2)
    writeCall(Seq((21L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L)
        .add(sid1, 7L).add(sid1, 8L).add(sid1, 9L), d1, 4)
    served { case Seq(p1, p2) => run(skip = false)(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L, 3L, 20L),
      "production must resume past the recorded gap")
  }

  test("RENAME then DROP in ONE batch: held pre-rename rows re-encode under the target's as-of-drop columns (alias resolves through `retained`)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogRD")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val regDir = s"$root/registry"
    def writeDf(df: org.apache.spark.sql.DataFrame,
        wreg: Map[(String, String), Seq[String]],
        sid: java.util.UUID, prior: GtidSet, intoDir: String,
        asIndex: Int): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-cdcbinlog-rd").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        df.coalesce(1).sortWithinPartitions("tso"), wreg, d,
        checksummed = true, gtidSid = Some(sid), priorExecuted = prior)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
      ()
    }
    def run(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(), registryDir = Some(regDir))
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }
    val rsid1 = java.util.UUID.fromString(
      "0a1b2c3d-bbbb-4444-3333-000000000001")
    val rsid2 = java.util.UUID.fromString(
      "0a1b2c3d-bbbb-4444-3333-000000000002")

    // phase 1: dn1 txns 1,3 on t + hb 10; dn2 txn 2, NO heartbeat —
    // barrier 2 emits 1,2 and HOLDS 3 (a pre-rename row on t)
    writeDf(ev(Seq((1L, "t"), (3L, "t"), (10L, "hb"))), reg, rsid1,
      GtidSet.Empty, d1, 0)
    writeDf(ev(Seq((2L, "t"))), reg, rsid2, GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L))

    // phase 2, ONE batch: RENAME t→t2 (txn 4) then DROP t2 (txn 5) +
    // hb 12 on dn1; dn2 heartbeats at 13 — barrier 12 releases held 3.
    // The evolved registry has NEITHER t (renamed away) NOR t2
    // (dropped); without the alias→retained fallback the re-encode of
    // held row 3 (still keyed t) fails with "no column spec".
    val phase2 = Seq(
      (4L, 4L, "DDL", "db", "t", Map.empty[String, String],
        Map.empty[String, String], "RENAME TABLE t TO t2",
        1700000000L),
      (5L, 5L, "DDL", "db", "t2", Map.empty[String, String],
        Map.empty[String, String], "DROP TABLE t2", 1700000000L),
      (12L, 12L, "INSERT", "db", "hb", Map.empty[String, String],
        Map("k" -> "12"), null: String, 1700000000L))
      .toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
    writeDf(phase2, reg, rsid1,
      GtidSet.Empty.add(rsid1, 1L).add(rsid1, 3L).add(rsid1, 10L), d1, 1)
    writeDf(ev(Seq((13L, "hb"))), reg, rsid2,
      GtidSet.Empty.add(rsid2, 2L), d2, 1)
    served { case Seq(p1, p2) => run(p1, p2) }

    // held pre-rename row 3 is ON THE WIRE (original table name, its
    // values intact), BEFORE both DDLs in TSO order
    val rows = BinlogWire.readBinlogFiles(spark, out, reg)
      .select(col("log_file"), col("tso"), col("op"),
        col("tableName"), element_at(col("after"), "v").as("v"),
        col("ddl"))
      .collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))
    val inserts = rows.filter(_.getString(2) == "INSERT")
    assert(inserts.map(_.getLong(1)) == Seq(1L, 2L, 3L))
    assert(inserts.map(_.getString(4)) == Seq("a1", "a2", "a3"),
      "the held pre-rename row's values were lost by the re-encode")
    assert(inserts.map(_.getString(3)).forall(_ == "t"),
      "held rows keep their ORIGINAL table name on the wire")
    val ddls = rows.filter(_.getString(2) == "DDL").map(r =>
      (r.getLong(1), r.getString(5)))
    assert(ddls == Seq((4L, "RENAME TABLE t TO t2"),
      (5L, "DROP TABLE t2")),
      "both DDLs must reach the log at their TSO slots, in order")
  }

  test("convertDdl: the live production re-emits sharded DDL as vanilla MySQL (DDLConverter.convertNormalDDL at the extractor hop)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogCV")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val csid1 = java.util.UUID.fromString(
      "0a1b2c3d-cafe-4444-3333-000000000001")
    val csid2 = java.util.UUID.fromString(
      "0a1b2c3d-cafe-4444-3333-000000000002")
    val physical = "CREATE TABLE `t2` (a INT, _drds_implicit_id_ " +
      "bigint AUTO_INCREMENT, PRIMARY KEY (_drds_implicit_id_)) " +
      "DBPARTITION BY HASH(a)"
    val phase1 = Seq(
      (1L, 1L, "INSERT", "db", "t", Map.empty[String, String],
        Map("k" -> "1", "seq" -> "1", "v" -> "a1"), null: String,
        1700000000L),
      (2L, 2L, "DDL", "db", "t2", Map.empty[String, String],
        Map.empty[String, String], physical, 1700000000L),
      (10L, 10L, "INSERT", "db", "hb", Map.empty[String, String],
        Map("k" -> "10"), null: String, 1700000000L))
      .toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
    def writeDf(df: org.apache.spark.sql.DataFrame, sid: java.util.UUID,
        intoDir: String): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-cdcbinlog-cv").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        df.coalesce(1).sortWithinPartitions("tso"), reg, d,
        checksummed = true, gtidSid = Some(sid),
        priorExecuted = GtidSet.Empty)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, "binlog.000000"))
      ()
    }
    writeDf(phase1, csid1, d1)
    writeDf(ev(Seq((11L, "hb"))), csid2, d2)
    val srvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    try {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", srvs(0).port),
          ("dn2", "localhost", srvs(1).port)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(), convertDdl = true)
      q.awaitTermination()
    } finally srvs.foreach(_.close())
    val rows = BinlogWire.readBinlogFiles(spark, out, reg)
      .select(col("tso"), col("op"), col("ddl")).collect().toSeq
      .sortBy(_.getLong(0))
    assert(rows.filter(_.getString(1) == "INSERT").map(_.getLong(0)) ==
      Seq(1L))
    val ddls = rows.filter(_.getString(1) == "DDL").map(_.getString(2))
    assert(ddls == Seq("CREATE TABLE `t2` (a INT)"),
      s"the produced log must carry the LOGICAL statement, got $ddls")
  }

  test("sealed decision snapshot is byte-identical under replay of a _GAPS-writing batch (seal precedes every external write)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogSI")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    def run(skip: Boolean)(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(),
        forceCompleteAfterBatches = 2, sealedGapSkip = skip)
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }
    val ssid1 = java.util.UUID.fromString(
      "0a1b2c3d-eeee-4444-3333-000000000001")
    val ssid2 = java.util.UUID.fromString(
      "0a1b2c3d-eeee-4444-3333-000000000002")
    def wc(rows: Seq[(Long, String)], sid: java.util.UUID,
        prior: GtidSet, intoDir: String, asIndex: Int): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-cdcbinlog-si").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        ev(rows).coalesce(1).sortWithinPartitions("tso"), reg, d,
        checksummed = true, gtidSid = Some(sid), priorExecuted = prior)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
      ()
    }

    // drive to the seal: dn2 delivers txn 1 then dies; dn1 heartbeats
    // past the threshold — seal at 8, txns 2,3 force-released
    wc(Seq((2L, "t"), (3L, "t"), (6L, "hb")), ssid1, GtidSet.Empty, d1, 0)
    wc(Seq((1L, "t")), ssid2, GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => run(skip = false)(p1, p2) }
    wc(Seq((7L, "hb")), ssid1,
      GtidSet.Empty.add(ssid1, 2L).add(ssid1, 3L).add(ssid1, 6L), d1, 1)
    served { case Seq(p1, p2) => run(skip = false)(p1, p2) }
    wc(Seq((8L, "hb")), ssid1,
      GtidSet.Empty.add(ssid1, 2L).add(ssid1, 3L).add(ssid1, 6L)
        .add(ssid1, 7L), d1, 2)
    served { case Seq(p1, p2) => run(skip = false)(p1, p2) }

    // dn2 revives BELOW the seal → refusal; restart with the skip flag
    // writes the _GAPS record for the replayed batch
    wc(Seq((4L, "t")), ssid2, GtidSet.Empty.add(ssid2, 1L), d2, 1)
    wc(Seq((9L, "hb")), ssid1,
      GtidSet.Empty.add(ssid1, 2L).add(ssid1, 3L).add(ssid1, 6L)
        .add(ssid1, 7L).add(ssid1, 8L), d1, 3)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      served { case Seq(p1, p2) => run(skip = false)(p1, p2) }
    }
    served { case Seq(p1, p2) => run(skip = true)(p1, p2) }

    val gapFiles = Option(new java.io.File(s"$out/_GAPS").listFiles())
      .toSeq.flatten.filterNot(_.getName.startsWith("."))
    assert(gapFiles.nonEmpty)
    val gapBatch = gapFiles.map(_.getName.toLong).max
    def snap(): (Seq[Byte], Seq[Byte], Map[String, Seq[Byte]]) = (
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"$root/work/hold/$gapBatch.frontier")).toSeq,
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"$out/_GAPS/$gapBatch")).toSeq,
      Option(new java.io.File(out).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.startsWith("binlog."))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap)
    val before = snap()

    // crash-sim: drop the gap batch's checkpoint commit so the next
    // skip-run REPLAYS it in a fresh decision context (no live poll
    // registry state) — the sealed snapshot, the gap record and every
    // wire byte must come back identical
    new java.io.File(s"$root/ckpt/commits/.$gapBatch.crc").delete()
    assert(new java.io.File(s"$root/ckpt/commits/$gapBatch").delete())
    served { case Seq(p1, p2) => run(skip = true)(p1, p2) }
    val after = snap()
    assert(after._1 == before._1,
      "the sealed decision snapshot must be byte-identical under replay")
    assert(after._2 == before._2,
      "the _GAPS record must be byte-identical under replay")
    assert(after._3 == before._3,
      "replayed wire files must be byte-identical")
    assert(decodedOrder(out) == Seq(1L, 2L, 3L))
  }

  test("Binlog-X fan-out writes the M per-stream logs concurrently (M=8): overlap observed, conservation kept") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogG")
    val out = s"$root/out"
    val regM = (0 until 8).map(i =>
      ("db", s"t$i") -> Seq("k", "seq", "v")).toMap
    def ce(tso: Long, table: String) =
      ChangeEvent(tso, tso, "dn1", s"dn1:$tso", "INSERT", "db", table,
        new java.sql.Timestamp(1700000000000L), Map.empty,
        Map("k" -> tso.toString, "seq" -> "1", "v" -> s"a$tso"), None, 1L)
    val rows = (1L to 32L).map(t => ce(t, s"t${(t % 8).toInt}"))
    val batch = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)
    CdcBinlog.maxConcurrentStreamWrites.set(0)
    CdcBinlog.emitBatch(batch, 0L, Seq("dn1"), regM, Set.empty,
      out, s"$root/work", numPartitions = 2, checksummed = false,
      fanOut = Some(CdcBinlogX.FanOut(streams = 8,
        graft.operators.StreamHash.ByTable)))
    val got = (0 until 8).flatMap { i =>
      val dir = new java.io.File(s"$out/stream-$i")
      if (!dir.isDirectory) Nil
      else BinlogWire.readBinlogFiles(spark, dir.toString, regM)
        .filter(col("op") === "INSERT")
        .select(col("tso")).collect().toSeq.map(_.getLong(0))
    }
    assert(got.sorted == (1L to 32L), "conservation across 8 streams")
    assert(CdcBinlog.maxConcurrentStreamWrites.get() >= 2,
      "the per-stream sink writes must overlap, not run as M " +
        "sequential driver jobs")
  }

  test("Binlog-X per-table stream override: a hot table pins to its own stream (even under ByRecord), conservation and per-stream total order kept") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogH")
    val out = s"$root/out"
    val regM = (0 until 3).map(i =>
      ("db", s"t$i") -> Seq("k", "seq", "v")).toMap
    def ce(tso: Long, table: String) =
      ChangeEvent(tso, tso, "dn1", s"dn1:$tso", "INSERT", "db", table,
        new java.sql.Timestamp(1700000000000L), Map.empty,
        Map("k" -> tso.toString, "seq" -> "1", "v" -> s"a$tso"), None, 1L)
    // t0 is the HOT table (half the rows, many distinct keys — ByRecord
    // would spray it across all streams); t1, t2 hash normally
    val rows = (1L to 32L).map { t =>
      val table = if (t % 2 == 0) "t0" else if (t % 4 == 1) "t1" else "t2"
      ce(t, table)
    }
    val batch = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)
    CdcBinlog.emitBatch(batch, 0L, Seq("dn1"), regM, Set.empty,
      out, s"$root/work", numPartitions = 2, checksummed = false,
      fanOut = Some(CdcBinlogX.FanOut(streams = 4,
        graft.operators.StreamHash.ByRecord, pkCols = Seq("k"),
        overrides = Map("db.t0" -> 3))))
    val perStream: Map[Int, Seq[(Long, String)]] = (0 until 4).map { i =>
      val dir = new java.io.File(s"$out/stream-$i")
      i -> (if (!dir.isDirectory) Seq.empty
      else BinlogWire.readBinlogFiles(spark, dir.toString, regM)
        .filter(col("op") === "INSERT")
        .select(col("log_file"), col("tso"), col("tableName"))
        .collect().toSeq
        .sortBy(r => (r.getString(0), r.getLong(1)))
        .map(r => (r.getLong(1), r.getString(2))))
    }.toMap
    // every t0 row landed on the pinned stream, and ONLY there
    val hot = perStream.view.mapValues(_.filter(_._2 == "t0")).toMap
    assert(hot.filter(_._2.nonEmpty).keySet == Set(3),
      s"hot table must pin to stream 3: ${hot.view.mapValues(_.size).toMap}")
    assert(hot(3).map(_._1) == (1L to 32L).filter(_ % 2 == 0),
      "the pinned stream must carry every hot-table row in TSO order")
    // conservation: every row exactly once across the 4 streams
    assert(perStream.values.flatten.map(_._1).toSeq.sorted == (1L to 32L))
    // per-stream total order: file+decode order is ascending TSO
    perStream.foreach { case (i, evs) =>
      assert(evs.map(_._1) == evs.map(_._1).sorted,
        s"stream $i broke its total order")
    }
    // pin invalidation is loud: an override outside [0, streams)
    intercept[IllegalArgumentException] {
      CdcBinlogX.FanOut(streams = 4, overrides = Map("db.t0" -> 4))
    }
  }

  test("SERVE-WHILE-PRODUCE: a GTID auto-position consumer polls the produced log CONCURRENTLY with production, rotation, and a killed-and-replayed batch — exactly once, total order") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlogJ")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    val out = s"$root/out"
    Seq(d1, d2, out).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-dddd-4444-3333-00000000000f")
    def run(p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(), gtidSid = Some(gsid),
        targetRowsPerFile = 2)
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }
    def crash(): Unit = {
      val commits = new java.io.File(s"$root/ckpt/commits")
      val entries = Option(commits.listFiles()).toSeq.flatten
        .filter(_.getName.forall(_.isDigit))
      val victim = entries.maxBy(_.getName.toInt)
      new java.io.File(commits, s".${victim.getName}.crc").delete()
      assert(victim.delete())
    }

    // the standing consumer: ONE dump server over the produced log for
    // the whole test; a tight-loop GTID auto-position poller that only
    // advances its executed set on a SUCCESSFUL drain (a poll killed
    // by the replay window's delete/rewrite is retried from the same
    // cursor — the server-side auto-position seek makes the retry
    // exactly-once)
    val outSrv = new graft.sinks.BinlogDumpServer(out, "repl", "pw")
    val applied = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var stop = false
    val consumer = new Thread(() => {
      var executed = GtidSet.Empty
      while (!stop) {
        try {
          val (seg, adv, _) = graft.sources.BinlogDumpClient
            .dumpSegmentGtidWithCursorStatus("localhost", outSrv.port,
              "repl", "pw", executed, 777L, 5000, 1L << 16)
          if (seg.length > 4)
            graft.sources.ChangeEventSource
              .toChangeEvents("g", seg, reg, tsoFromXid = false)
              .filter(_.op == "INSERT")
              .foreach(e => { applied.add(e.tso); () })
          executed = adv
        } catch {
          case _: InterruptedException => stop = true
          case scala.util.control.NonFatal(_) =>
            retries.incrementAndGet(); ()
        }
        try Thread.sleep(10)
        catch { case _: InterruptedException => stop = true }
      }
    }, "graft-serve-while-produce-consumer")
    consumer.start()
    try {
      // phase 1: both DNs deliver; barrier 11 emits txns 1-4 (two
      // rotated files under targetRowsPerFile=2)
      writeCall(Seq((1L, "t"), (3L, "t"), (11L, "hb")), sid1,
        GtidSet.Empty, d1, 0)
      writeCall(Seq((2L, "t"), (4L, "t"), (12L, "hb")), sid2,
        GtidSet.Empty, d2, 0)
      served { case Seq(p1, p2) => run(p1, p2) }

      // phase 2: txns 5,6 append (batch 1)
      writeCall(Seq((5L, "t"), (13L, "hb")), sid1,
        GtidSet.Empty.add(sid1, 1L).add(sid1, 3L).add(sid1, 11L), d1, 1)
      writeCall(Seq((6L, "t"), (14L, "hb")), sid2,
        GtidSet.Empty.add(sid2, 2L).add(sid2, 4L).add(sid2, 12L), d2, 1)
      served { case Seq(p1, p2) => run(p1, p2) }

      // kill the last checkpoint commit: phase 3's restart REPLAYS the
      // last batch — deleting and byte-identically rewriting its
      // binlog.<N>.* prefix while the consumer keeps polling — then
      // processes the new data (txns 7,8) as the next batch
      crash()
      writeCall(Seq((7L, "t"), (15L, "hb")), sid1,
        GtidSet.Empty.add(sid1, 1L).add(sid1, 3L).add(sid1, 5L)
          .add(sid1, 11L).add(sid1, 13L), d1, 2)
      writeCall(Seq((8L, "t"), (16L, "hb")), sid2,
        GtidSet.Empty.add(sid2, 2L).add(sid2, 4L).add(sid2, 6L)
          .add(sid2, 12L).add(sid2, 14L), d2, 2)
      served { case Seq(p1, p2) => run(p1, p2) }

      // the consumer must converge on EXACTLY the eight txns, in total
      // TSO order, through appends + rotation + the replay window
      val deadline = System.nanoTime() + 60_000_000_000L
      while (applied.size < 8 && System.nanoTime() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val got = applied.iterator().asScala.toSeq
      assert(got == (1L to 8L),
        s"serve-while-produce must deliver exactly once in total order " +
          s"(got $got after ${retries.get()} consumer retries)")
    } finally {
      stop = true
      consumer.interrupt()
      consumer.join(10000)
      outSrv.close()
    }
  }

  test("a REPLAYED batch rewrites byte-identical files and identical holdback (crash between emit and checkpoint commit)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcbinlog2")
    val out = s"$root/out"
    val work = s"$root/work"
    val rows = Seq(
      ChangeEvent(1L, 1L, "dn1", "dn1:1", "INSERT", "db", "t",
        new java.sql.Timestamp(1700000000000L), Map.empty,
        Map("k" -> "1", "seq" -> "1", "v" -> "a1"), None, 1L),
      ChangeEvent(2L, 2L, "dn2", "dn2:1", "INSERT", "db", "t",
        new java.sql.Timestamp(1700000000000L), Map.empty,
        Map("k" -> "2", "seq" -> "1", "v" -> "a2"), None, 1L),
      ChangeEvent(3L, 3L, "dn1", "dn1:2", "INSERT", "db", "t",
        new java.sql.Timestamp(1700000000000L), Map.empty,
        Map("k" -> "3", "seq" -> "1", "v" -> "a3"), None, 1L))
    val batch = spark.createDataFrame(rows)
      .select(ChangeEvent.schema.fieldNames.map(col): _*)
    def emitOnce(): Unit = CdcBinlog.emitBatch(batch, 0L,
      Seq("dn1", "dn2"), reg, Set.empty, out, work,
      numPartitions = 2, checksummed = false)

    emitOnce()
    // barrier = min(frontier dn1 = 3, dn2 = 2) = 2 → txns 1,2 emit,
    // txn 3 holds
    assert(decodedOrder(out) == Seq(1L, 2L))
    val bytes1 = fileBytes(out)
    val hold1 = spark.read.schema(ChangeEvent.schema)
      .parquet(s"$work/hold/0").select(col("tso")).as[Long]
      .collect().toSeq.sorted
    assert(hold1 == Seq(3L))

    emitOnce() // the replay
    assert(fileBytes(out) == bytes1,
      "a replayed batch must rewrite byte-identical files")
    val hold2 = spark.read.schema(ChangeEvent.schema)
      .parquet(s"$work/hold/0").select(col("tso")).as[Long]
      .collect().toSeq.sorted
    assert(hold2 == hold1)
  }
}
