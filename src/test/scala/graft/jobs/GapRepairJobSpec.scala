package graft.jobs

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.GtidSet
import graft.operators.{TxnApplier, Validation}
import graft.sinks.BinlogWire
import graft.streaming.CdcBinlog

/** The gap-repair loop end-to-end (the reference's validation-driven
  * reconciliation, rpl/validation/ValidationCoordinator.java:27 →
  * reconciliation/): a force-completed Global-Binlog production seals a
  * dead DN out, the `sealedGapSkip` restart drops the DN's revived
  * transactions and records them in `_GAPS`, a downstream replica
  * consuming the log silently diverges — then [[GapRepairJob.repair]]
  * decodes the dropped transactions from the source DN's own log, diffs
  * source vs replica state scoped to exactly the affected keys, applies
  * the reconciliation batch, converges the replica, and archives the
  * gap record. */
class GapRepairJobSpec extends SparkSpec {
  import spark.implicits._

  private val reg = Map(
    ("db", "t") -> Seq("k", "seq", "v"),
    ("db", "hb") -> Seq("k"))

  private def ev(rows: Seq[(Long, String)]) =
    rows.map { case (tso, table) =>
      val after = if (table == "hb") Map("k" -> tso.toString)
        else Map("k" -> tso.toString, "seq" -> "1", "v" -> s"a$tso")
      (tso, tso, "INSERT", "db", table, Map.empty[String, String], after,
        null: String, 1700000000L)
    }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
      "after", "ddl", "tsoTime")

  test("sealed gap → skip-resume → diverged replica → scoped repair converges it, gap archived") {
    val root = java.nio.file.Files.createTempDirectory("graft-gaprepair")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val sid1 = java.util.UUID.fromString(
      "0a1b2c3d-5555-4444-3333-000000000001")
    val sid2 = java.util.UUID.fromString(
      "0a1b2c3d-5555-4444-3333-000000000002")

    def writeDf(df: org.apache.spark.sql.DataFrame, sid: java.util.UUID,
        prior: GtidSet, intoDir: String, asIndex: Int): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-gaprepair-w").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        df.coalesce(1).sortWithinPartitions("tso"), reg, d,
        checksummed = true, gtidSid = Some(sid), priorExecuted = prior)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
      ()
    }
    def wc(rows: Seq[(Long, String)], sid: java.util.UUID,
        prior: GtidSet, intoDir: String, asIndex: Int): Unit =
      writeDf(ev(rows), sid, prior, intoDir, asIndex)
    def produce(skip: Boolean, gapCap: Int = 1000000)(
        p1: Int, p2: Int): Unit = {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", p1), ("dn2", "localhost", p2)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("db", "hb")),
        trigger = Trigger.AvailableNow(),
        forceCompleteAfterBatches = 2, sealedGapSkip = skip,
        maxGapRecords = gapCap)
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }
    val target = WireReplicaJob.TableTarget("db", "t",
      Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string"),
      Seq("k"), "seq", s"$root/target", 2)
    def consume(): Unit = WireTail.replicate(spark, out, reg,
      Seq(target), s"$root/replica-ckpt")
    def state(): Map[Long, String] =
      TxnApplier.readCurrent(spark, target.targetDir)
        .select($"k", $"v").as[(Long, String)].collect().toMap

    // drive to the seal: dn2 delivers txn 1 then dies; dn1 heartbeats
    // past the stall threshold — seal at 8, held 2,3 force-released
    wc(Seq((2L, "t"), (3L, "t"), (6L, "hb")), sid1, GtidSet.Empty, d1, 0)
    wc(Seq((1L, "t")), sid2, GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => produce(skip = false)(p1, p2) }
    wc(Seq((7L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L), d1, 1)
    served { case Seq(p1, p2) => produce(skip = false)(p1, p2) }
    wc(Seq((8L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L)
        .add(sid1, 7L), d1, 2)
    served { case Seq(p1, p2) => produce(skip = false)(p1, p2) }

    // dn2 revives BELOW the seal with an INSERT (new key 4), an
    // UPDATE (key 1 → z1) and a DELETE (key 2): refusal, then the
    // skip-restart drops+records all three — one sealed-out txn per
    // reconciliation kind (missing / mismatched / orphan)
    val revived = Seq(
      (4L, 4L, "INSERT", "db", "t", Map.empty[String, String],
        Map("k" -> "4", "seq" -> "1", "v" -> "a4"), null: String,
        1700000000L),
      (5L, 5L, "UPDATE", "db", "t",
        Map("k" -> "1", "seq" -> "1", "v" -> "a1"),
        Map("k" -> "1", "seq" -> "2", "v" -> "z1"), null: String,
        1700000000L),
      (6L, 6L, "DELETE", "db", "t",
        Map("k" -> "2", "seq" -> "1", "v" -> "a2"),
        Map.empty[String, String], null: String, 1700000000L))
      .toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
    writeDf(revived, sid2, GtidSet.Empty.add(sid2, 1L), d2, 1)
    wc(Seq((9L, "hb")), sid1,
      GtidSet.Empty.add(sid1, 2L).add(sid1, 3L).add(sid1, 6L)
        .add(sid1, 7L).add(sid1, 8L), d1, 3)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      served { case Seq(p1, p2) => produce(skip = false)(p1, p2) }
    }
    // the gap has 3 sealed-out txns: a skip-restart whose gap cap is
    // SMALLER refuses loudly (named limit) instead of collecting an
    // unbounded record onto the driver — and writes NO partial record
    val capEx = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      served { case Seq(p1, p2) =>
        produce(skip = true, gapCap = 2)(p1, p2) }
    }
    assert(Iterator.iterate(capEx: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).exists(c =>
        Option(c.getMessage).exists(_.contains("maxGapRecords=2"))),
      s"expected the named gap-cap refusal, got $capEx")
    assert(!new java.io.File(s"$out/_GAPS").exists() ||
      Option(new java.io.File(s"$out/_GAPS").listFiles()).toSeq.flatten
        .forall(!_.getName.forall(_.isDigit)),
      "an over-cap refusal must not leave a partial _GAPS record")
    served { case Seq(p1, p2) => produce(skip = true)(p1, p2) }

    // the replica consumes the (gapped) log: txns 4,5,6 never reach it
    consume()
    assert(state() == Map(1L -> "a1", 2L -> "a2", 3L -> "a3"),
      "the sealed-out txns must be absent — that divergence is the bug " +
        "this job exists to repair")

    val pending = GapRepairJob.readGaps(spark, out)
    assert(pending.nonEmpty && pending.flatMap(_.entries)
      .map(e => (e._1, e._3)).toSet ==
      Set(("dn2", 4L), ("dn2", 5L), ("dn2", 6L)))
    val gapBatch = pending.map(_.batchId).max

    // REPAIR: scope from the gap record, source truth from the DN logs
    val dnDirs = Map("dn1" -> d1, "dn2" -> d2)
    val reports = GapRepairJob.repair(spark, out, dnDirs, reg,
      Seq(target),
      t => GapRepairJob.srcStateFromLogs(spark, Seq(d1, d2), reg, t))
    assert(reports == Seq(GapRepairJob.TableRepair("db", "t",
      affectedKeys = 3, missing = 1, orphans = 1, mismatched = 1)),
      s"got $reports")

    // the replica CONVERGED: key 4 inserted, key 1 updated to z1,
    // key 2 (deleted at the source) erased
    assert(state() == Map(1L -> "z1", 3L -> "a3", 4L -> "a4"))
    // checksum-level convergence against full source truth
    val src = GapRepairJob.srcStateFromLogs(spark, Seq(d1, d2), reg,
      target)
    val dst = TxnApplier.readCurrent(spark, target.targetDir)
    assert(Validation.diffKinds(src, dst, Seq("k"),
      Seq("seq", "v")).count() == 0L, "src and replica must now match")

    // the gap is ARCHIVED (auditable, no longer pending) and a second
    // repair run is a no-op
    assert(GapRepairJob.readGaps(spark, out).isEmpty)
    assert(new java.io.File(s"$out/_GAPS/archived/$gapBatch").isFile)
    assert(GapRepairJob.repair(spark, out, dnDirs, reg, Seq(target),
      t => GapRepairJob.srcStateFromLogs(spark, Seq(d1, d2), reg, t))
      .isEmpty)
  }

  test("file-prune boundaries: a gap txn LAST in a non-final file is still decoded; srcStateFromLogs' minTso floor prunes by name yet agrees on affected keys") {
    val root = java.nio.file.Files.createTempDirectory("graft-gapprune")
    val dn = s"$root/dn2"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dn))
    val sid = java.util.UUID.fromString(
      "0a1b2c3d-5555-4444-3333-000000000009")
    def write(rows: Seq[(Long, Long)], prior: GtidSet, asIndex: Int): Unit = {
      val df = rows.map { case (tso, k) =>
        (tso, tso, "INSERT", "db", "t", Map.empty[String, String],
          Map("k" -> k.toString, "seq" -> "1", "v" -> s"a$tso"),
          null: String, 1700000000L)
      }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
      val d = java.nio.file.Files
        .createTempDirectory("graft-gapprune-w").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        df.coalesce(1).sortWithinPartitions("tso"), reg, d,
        checksummed = true, gtidSid = Some(sid), priorExecuted = prior)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(dn, f"binlog.$asIndex%06d"))
      ()
    }
    // file 0: txns 2 and 4 — the gap txn (tso 4) is the LAST txn of a
    // NON-final file; file 1: txn 10
    write(Seq((2L, 2L), (4L, 4L)), GtidSet.Empty, 0)
    write(Seq((10L, 10L)), GtidSet.Empty.add(sid, 2L).add(sid, 4L), 1)

    // handcrafted gap record naming exactly txn 4 (the shape the
    // sealedGapSkip restart writes)
    val gapsDir = new java.io.File(s"$root/out/_GAPS")
    gapsDir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(gapsDir.toString, "7"),
      "sealedBarrier=8\ndn2,4,4".getBytes("UTF-8"))

    // seekTso is strictly-above: a seek AT the min gap tso would start
    // at file 1 and silently skip the gap txn — droppedEvents must
    // still decode it
    val gaps = GapRepairJob.readGaps(spark, s"$root/out")
    val dropped = GapRepairJob.droppedEvents(spark, Map("dn2" -> dn),
      reg, gaps)
    assert(dropped.select($"tso").as[Long].collect().toSeq == Seq(4L),
      "the gap txn at the END of a non-final file must be decoded")

    val target = WireReplicaJob.TableTarget("db", "t",
      Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string"),
      Seq("k"), "seq", s"$root/target", 2)
    // floor at minTso=10: file 0 (keys 2,4) is pruned BY NAME — its
    // keys vanish from the floored fold — while the affected key (10)
    // agrees with the unfloored fold exactly
    val floored = GapRepairJob.srcStateFromLogs(spark, Seq(dn), reg,
      target, minTso = Some(10L))
    val full = GapRepairJob.srcStateFromLogs(spark, Seq(dn), reg, target)
    assert(floored.select($"k").as[Long].collect().toSet == Set(10L),
      "files wholly below the floor must not contribute rows")
    assert(full.select($"k").as[Long].collect().toSet == Set(2L, 4L, 10L))
    assert(floored.filter($"k" === 10L).collect().toSeq ==
      full.filter($"k" === 10L).collect().toSeq,
      "the floored fold must agree with the full fold on affected keys")
    // a floor at the gap's own min tso keeps the gap txn's file
    val flooredAtGap = GapRepairJob.srcStateFromLogs(spark, Seq(dn), reg,
      target, minTso = Some(4L))
    assert(flooredAtGap.select($"k").as[Long].collect().toSet ==
      Set(2L, 4L, 10L), "the file holding the first event AT minTso stays")
  }
}
