package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.GtidSet
import graft.sinks.BinlogWire

/** 6→12-digit batch-pad upgrade of a Global-Binlog out dir
  * (CdcBinlog.migrateLegacyBatchPads): a pre-upgrade dir holds
  * `binlog.NNNNNN.*` names whose MIXED coexistence with the new
  * `%012d` pad breaks lexicographic-order-is-TSO-order. Covers the
  * rename mapping (including the legacy `%06d` pad's silent overflow
  * forms), idempotency, conflict handling (byte-identical duplicate
  * dropped, divergent content refused loudly), stream-subdir coverage
  * BEYOND the configured fan-out range, the dual-width replay delete
  * (CdcBinlog.deleteBatchFiles), and the end-to-end upgrade:
  * a live query restarted over a legacy-named dir — with a crash
  * replay pending across the upgrade — migrates, replays without
  * duplicating a transaction, and keeps every already-served byte
  * identical. */
class CdcBinlogPadMigrationSpec extends SparkSpec {
  import spark.implicits._

  private def seed(dir: java.nio.file.Path, name: String,
      content: String): Unit = {
    java.nio.file.Files.write(dir.resolve(name), content.getBytes("UTF-8"))
    ()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Option(dir.toFile.listFiles()).toSeq.flatten.filter(_.isFile)
      .map(_.getName).toSet

  private def text(dir: java.nio.file.Path, name: String): String =
    new String(java.nio.file.Files.readAllBytes(dir.resolve(name)), "UTF-8")

  test("rename mapping: narrow pads (and %06d overflow forms) widen to %012d; wide names, foreign names and subdirs untouched; idempotent; absent dir no-op") {
    val d = java.nio.file.Files.createTempDirectory("graft-padmig1")
    seed(d, "binlog.000003.000001", "AAA")
    seed(d, "binlog.1000000.000000", "BBB") // legacy %06d overflowed to 7 digits
    seed(d, "binlog.000000000005.000000", "CCC") // already migrated
    seed(d, "manifest.txt", "MMM")
    val sub = d.resolve("stream-7")
    java.nio.file.Files.createDirectories(sub)
    seed(sub, "binlog.000001.000000", "DDD")

    CdcBinlog.migrateLegacyBatchPads(d.toString)
    assert(names(d) == Set("binlog.000000000003.000001",
      "binlog.000001000000.000000", "binlog.000000000005.000000",
      "manifest.txt"))
    assert(text(d, "binlog.000000000003.000001") == "AAA")
    assert(text(d, "binlog.000001000000.000000") == "BBB")
    assert(text(d, "binlog.000000000005.000000") == "CCC")
    // single-dir call does NOT recurse — subdir coverage is the
    // migrateAllLegacyBatchPads contract, tested below
    assert(names(sub) == Set("binlog.000001.000000"))

    // idempotent: a replayed startup finds nothing left to match
    CdcBinlog.migrateLegacyBatchPads(d.toString)
    assert(names(d).size == 4 && text(d, "binlog.000000000003.000001") == "AAA")

    // absent dir: fresh deployment, must not throw or create anything
    CdcBinlog.migrateLegacyBatchPads(s"$d/never-created")
    assert(!java.nio.file.Files.exists(d.resolve("never-created")))
  }

  test("migrateAllLegacyBatchPads covers EXISTING stream-* dirs beyond the configured fan-out range") {
    val d = java.nio.file.Files.createTempDirectory("graft-padmig2")
    seed(d, "binlog.000002.000000", "ROOT")
    val s7 = d.resolve("stream-7") // exists on disk, NOT configured
    java.nio.file.Files.createDirectories(s7)
    seed(s7, "binlog.000001.000000", "DDD")
    // configured range names stream-0 which does not exist yet
    CdcBinlog.migrateAllLegacyBatchPads(d.toString, Seq(s"$d/stream-0"))
    assert(names(d) == Set("binlog.000000000002.000000"))
    assert(names(s7) == Set("binlog.000000000001.000000"))
    assert(text(s7, "binlog.000000000001.000000") == "DDD")
    assert(!java.nio.file.Files.exists(d.resolve("stream-0")))
  }

  test("conflict: byte-identical legacy duplicate is dropped; divergent content refuses to start loudly") {
    val d = java.nio.file.Files.createTempDirectory("graft-padmig3")
    seed(d, "binlog.000007.x", "same-bytes")
    seed(d, "binlog.000000000007.x", "same-bytes")
    CdcBinlog.migrateLegacyBatchPads(d.toString)
    assert(names(d) == Set("binlog.000000000007.x"))
    assert(text(d, "binlog.000000000007.x") == "same-bytes")

    seed(d, "binlog.000008.x", "old-attempt")
    seed(d, "binlog.000000000008.x", "new-attempt")
    val e = intercept[RuntimeException] {
      CdcBinlog.migrateLegacyBatchPads(d.toString)
    }
    assert(e.getMessage.contains("pad migration"))
    // both copies left in place for the operator to adjudicate
    assert(text(d, "binlog.000008.x") == "old-attempt")
    assert(text(d, "binlog.000000000008.x") == "new-attempt")
  }

  test("replay supersede: deleteBatchFiles drops the whole batch prefix (orphan partition and 6-digit legacy name included), no other batch's files") {
    val d = java.nio.file.Files.createTempDirectory("graft-padmig5")
    // batch 7's earlier attempt: its partitioning differed from the
    // replay's, so partition 000099 is an orphan no rewrite would touch;
    // one file still carries the pre-upgrade 6-digit pad
    seed(d, "binlog.000000000007.000000", "A")
    seed(d, "binlog.000000000007.000001", "B")
    seed(d, "binlog.000000000007.000099", "ORPHAN")
    seed(d, "binlog.000007.000002", "LEGACY")
    // other batches, including the wide name of batch 7000000 that the
    // narrow prefix binlog.000007 would match without its trailing '.'
    val others = Set("binlog.000000000006.000000",
      "binlog.000000000008.000000", "binlog.000008.000000",
      "binlog.000007000000.000000", "manifest.txt")
    others.foreach(n => seed(d, n, n))
    CdcBinlog.deleteBatchFiles(d.toString, 7L)
    assert(names(d) == others)
    others.foreach(n => assert(text(d, n) == n))
    // absent dir: nothing to supersede, nothing created
    CdcBinlog.deleteBatchFiles(s"$d/never-created", 7L)
    assert(!java.nio.file.Files.exists(d.resolve("never-created")))
  }

  // ---- end-to-end: live production restarted over a legacy-named dir,
  // with a crash replay pending ACROSS the upgrade ----

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

  private def decodedOrder(dir: String): Seq[Long] =
    BinlogWire.readBinlogFiles(spark, dir, reg)
      .filter(col("op") === "INSERT")
      .select(col("log_file"), col("tso")).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).map(_._2)

  test("upgrade replay: legacy-named dir + pending crash replay → migrated names, byte-identical rewrite, no transaction duplicated or lost") {
    val root = java.nio.file.Files.createTempDirectory("graft-padmig4")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val sid1 = java.util.UUID.fromString(
      "0a1b2c3d-7777-4444-3333-000000000001")
    val sid2 = java.util.UUID.fromString(
      "0a1b2c3d-7777-4444-3333-000000000002")

    def writeCall(rows: Seq[(Long, String)], sid: java.util.UUID,
        prior: GtidSet, intoDir: String, asIndex: Int): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-padmig-call").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        ev(rows).coalesce(1).sortWithinPartitions("tso"), reg, d,
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
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    def served(body: Seq[Int] => Unit): Unit = {
      val srvs = Seq(d1, d2).map(d =>
        new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
      try body(srvs.map(_.port)) finally srvs.foreach(_.close())
    }
    def outFiles(): Map[String, Seq[Byte]] =
      Option(new java.io.File(out).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.startsWith("binlog."))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

    // phase 1: dn1 txns 1,3 + heartbeat 10; dn2 txn 2, NO heartbeat —
    // barrier 2 emits 1,2 and holds 3
    writeCall(Seq((1L, "t"), (3L, "t"), (10L, "hb")), sid1,
      GtidSet.Empty, d1, 0)
    writeCall(Seq((2L, "t")), sid2, GtidSet.Empty, d2, 0)
    served { case Seq(p1, p2) => run(p1, p2) }
    assert(decodedOrder(out) == Seq(1L, 2L))
    val phase1 = outFiles()
    assert(phase1.keys.forall(_.startsWith("binlog.000000000000.")))

    // simulate the pre-upgrade on-disk state: every batch-0 file under
    // the old 6-digit pad…
    phase1.keys.foreach { n =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(out, n),
        java.nio.file.Paths.get(out,
          n.replace("binlog.000000000000.", "binlog.000000.")))
    }
    // …and a crash BEFORE batch 0's checkpoint commit, so the upgraded
    // process must REPLAY batch 0 over the legacy-named files
    val commit0 = new java.io.File(s"$root/ckpt/commits/0")
    assert(commit0.exists())
    new java.io.File(s"$root/ckpt/commits/.0.crc").delete()
    assert(commit0.delete())

    // phase 2 input: dn2's heartbeat at 11 releases held txn 3
    writeCall(Seq((11L, "hb")), sid2, GtidSet.Empty.add(sid2, 2L), d2, 1)
    served { case Seq(p1, p2) => run(p1, p2) }

    // every name is back on the wide pad (no mixed widths left)…
    val after = outFiles()
    assert(after.keys.forall(!_.matches("""binlog\.\d{1,11}\..*""")),
      s"legacy-width names survived the upgrade: ${after.keys}")
    // …the replayed batch-0 files are byte-identical to the served
    // originals (a dump consumer mid-file across the upgrade is safe)…
    phase1.foreach { case (name, bytes) =>
      assert(after.get(name).contains(bytes),
        s"replayed $name diverged from the pre-upgrade bytes")
    }
    // …and the log holds every transaction exactly once, in TSO order
    // (the dual-width delete left no duplicate batch-0 content)
    assert(decodedOrder(out) == Seq(1L, 2L, 3L))
  }
}
