package graft.jobs

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TxnApplier
import graft.sinks.BinlogWire
import graft.sinks.BinlogWire._

/** The full MySQL-replica composition over the engine's own wire: a
  * change batch becomes binlog files (checksummed), the decoder turns
  * them back into typed change rows, and the txn-preserving applier
  * replays them — landing on exactly the state the direct path produces.
  * This is the consume-side counterpart of the dumper: binlog in,
  * replica out (the reference's canal → RPL pipeline). */
class WireReplicaSpec extends SparkSpec {
  import spark.implicits._

  test("binlog files → decode → txn apply == direct apply") {
    val root = java.nio.file.Files.createTempDirectory("graft-wirerpl")
    val wireDir = s"$root/wire"
    val directTarget = s"$root/direct"
    val wireTarget = s"$root/replica"

    val accounts = (1L to 6L).map(a => (a, 0L, "UPDATE", 1000L))
      .toDF("acct", "seq", "op", "balance")
    // 8 transfer txns; after-images carry the running balance
    val transfers = (1L to 8L).map(t => (t, (t % 6) + 1, ((t + 2) % 6) + 1, t * 5))
    val deltas = transfers.flatMap { case (t, f, to, amt) =>
      Seq((t, 2 * t, f, -amt), (t, 2 * t + 1, to, amt))
    }.toDF("tso", "seq", "acct", "delta")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"acct").orderBy($"seq")
    val batch = deltas.select($"acct", $"seq", lit("UPDATE").as("op"),
      (lit(1000L) + sum($"delta").over(w)).as("balance"), $"tso")
      .withColumn("ts", lit(1700000000L))

    // direct path
    TxnApplier.bootstrap(accounts, Seq("acct"), directTarget, nBuckets = 4)
    TxnApplier.applyBatch(probed(batch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", directTarget, 4, txnsPerCommit = 3)

    // wire path: encode (typed cells, txn-framed, CRC32), decode, apply
    val specs = Seq(ColSpec("acct", LongLong), ColSpec("seq", LongLong),
      ColSpec("balance", LongLong))
    val ordered = graft.operators.MergeSort.sortedRunsGrouped(
      batch, 2, Seq("tso"), Seq("seq"))
    BinlogWire.writeTxnFramedBinlogFiles(ordered, specs, "bank", "accounts",
      "op", "ts", "tso", wireDir, checksummed = true)
    val decoded = BinlogWire.readBinlogFiles(spark, wireDir,
        Map(("bank", "accounts") -> specs.map(_.name)))
      .select(
        element_at($"after", "acct").cast("long").as("acct"),
        element_at($"after", "seq").cast("long").as("seq"),
        $"op",
        element_at($"after", "balance").cast("long").as("balance"),
        $"tso".as("tso"))
    TxnApplier.bootstrap(accounts, Seq("acct"), wireTarget, nBuckets = 4)
    TxnApplier.applyBatch(probed(decoded, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", wireTarget, 4, txnsPerCommit = 3)

    val direct = TxnApplier.readCurrent(spark, directTarget)
      .select($"acct", $"balance").as[(Long, Long)].collect().toSet
    val viaWire = TxnApplier.readCurrent(spark, wireTarget)
      .select($"acct", $"balance").as[(Long, Long)].collect().toSet
    assert(viaWire == direct)
    // same observable-state count too: the wire preserved txn boundaries
    assert(TxnApplier.versions(wireTarget).size ==
      TxnApplier.versions(directTarget).size)
  }

  test("standing wire replica: tail → txn apply across restarts, exactly-once") {
    val root = java.nio.file.Files.createTempDirectory("graft-wirerpl-stream")
    val wireDir = s"$root/wire"
    val target = s"$root/replica"
    val ckpt = s"$root/ckpt"
    val tableCols = Map(("bank", "accounts") -> Seq("acct", "seq", "balance"))
    val colTypes = Seq("acct" -> "long", "seq" -> "long", "balance" -> "long")

    // 8 transfer txns over 6 accounts; after-images carry running balances
    val transfers = (1L to 8L).map(t => (t, (t % 6) + 1, ((t + 2) % 6) + 1, t * 5))
    val bal = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(1000L)
    // (tso, seq, acct, balance-after) in seq order — the fold the replica
    // must reproduce
    val images = transfers.flatMap { case (t, f, to, amt) =>
      bal(f) = bal(f) - amt; bal(to) = bal(to) + amt
      Seq((t, 2 * t, f, bal(f)), (t, 2 * t + 1, to, bal(to)))
    }
    val expected = bal.toMap // final balance per touched account

    def writeSegment(prefix: String, txns: Seq[(Long, Long, Long, Long)]): Unit = {
      val ev = txns.map { case (tso, seq, acct, balance) =>
        (tso, tso, "UPDATE", "bank", "accounts",
          Map.empty[String, String],
          Map("acct" -> s"$acct", "seq" -> s"$seq", "balance" -> s"$balance"),
          1700000000L)
      }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "tsoTime")
      BinlogWire.writeChangeStreamBinlogFiles(
        ev.coalesce(1).sortWithinPartitions("tso", "txnId"), tableCols,
        wireDir, filePrefix = prefix, checksummed = true)
    }
    def run(ck: String = ckpt): Unit =
      WireTail.replicate(spark, wireDir, tableCols,
        Seq(WireReplicaJob.TableTarget("bank", "accounts", colTypes,
          Seq("acct"), "seq", target, 4)), ck, txnsPerCommit = 3)
    def state(): Map[Long, Long] = TxnApplier.readCurrent(spark, target)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap

    // segment 1: txns 1..4 → wire → replica
    writeSegment("binlog.a.", images.filter(_._1 <= 4))
    run()
    val mid = images.filter(_._1 <= 4)
      .groupBy(_._3).map { case (a, imgs) => a -> imgs.maxBy(_._2)._4 }
    assert(state() == mid)
    val versionsAfterA = TxnApplier.versions(target).size

    // segment 2 lands while the job is down; a restart from the same
    // checkpoint consumes ONLY the unseen files
    writeSegment("binlog.b.", images.filter(_._1 > 4))
    run()
    assert(state() == expected)
    assert(TxnApplier.versions(target).size > versionsAfterA)
    val versionsFinal = TxnApplier.versions(target).size

    // checkpoint loss: a FRESH checkpoint re-reads every wire file, but
    // the applier's committed position gates the replay — no transaction
    // doubles, no new observable state
    run(s"$root/ckpt2")
    assert(state() == expected)
    assert(TxnApplier.versions(target).size == versionsFinal)
  }

  test("dump-from-TSO: fromTso replica applies only the suffix; below-floor files never open") {
    val root = java.nio.file.Files.createTempDirectory("graft-wirerpl-seek")
    val wireDir = s"$root/wire"
    val target = s"$root/replica"
    val tableCols = Map(("bank", "accounts") -> Seq("acct", "seq", "balance"))
    val colTypes = Seq("acct" -> "long", "seq" -> "long", "balance" -> "long")

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
    val specs = Seq(ColSpec("acct", LongLong), ColSpec("seq", LongLong),
      ColSpec("balance", LongLong))
    val ordered = graft.operators.MergeSort.sortedRunsGrouped(
      batch, 3, Seq("tso"), Seq("seq"))
    val files = BinlogWire.writeTxnFramedBinlogFiles(ordered, specs,
      "bank", "accounts", "op", "ts", "tso", wireDir,
      tsoCarrier = "sequence")
    assert(files == 3)

    // the seek lands MID-log: the replica must reproduce exactly the
    // last image per account among txns with tso > 4 — nothing from the
    // prefix leaks in (its accounts stay absent from the empty-bootstrap
    // replica)
    val fromTso = 4L
    WireTail.replicate(spark, wireDir, tableCols,
      Seq(WireReplicaJob.TableTarget("bank", "accounts", colTypes,
        Seq("acct"), "seq", target, 4)), s"$root/ckpt",
      txnsPerCommit = 2, fromTso = Some(fromTso))
    val expectedSuffix = images.filter(_._1 > fromTso)
      .groupBy(_._3).map { case (a, imgs) => a -> imgs.maxBy(_._2)._4 }
    val state = graft.operators.TxnApplier.readCurrent(spark, target)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    assert(state == expectedSuffix)

    // prune proof at the tail layer: corrupt every file BELOW the seek
    // file, then tail with the floor — the suffix still decodes, so a
    // below-floor file is listed but provably never opened (parseStream
    // would fail its bad magic loudly)
    val (seekFile, _) = graft.sinks.BinlogCatalog.seekTso(
      spark, wireDir, fromTso)
    val perFileTsos = graft.sinks.BinlogCatalog
      .showBinlogEvents(spark, wireDir)
      .select($"log_name", $"event_type", $"info")
      .as[(String, String, String)].collect().toSeq
      .collect { case (f, "Sequence", info)
        if info.startsWith("sequence: COMMIT ") =>
          (f, info.stripPrefix("sequence: COMMIT ").toLong) }
    assert(perFileTsos.exists(_._1 < seekFile)) // the floor prunes something
    new java.io.File(wireDir).listFiles()
      .filter(f => f.getName.startsWith("binlog.") && f.getName < seekFile)
      .foreach(f => java.nio.file.Files.write(f.toPath,
        "not a binlog at all".getBytes("UTF-8")))
    val tail = BinlogWire.tailBinlogFiles(spark, wireDir, tableCols,
      minFileName = Some(seekFile))
    val q2 = tail.writeStream.format("memory").queryName("seek_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val got = spark.sql("SELECT DISTINCT tso FROM seek_tail")
      .as[Long].collect().toSet
    assert(got == perFileTsos.filter(_._1 >= seekFile).map(_._2).toSet)
  }

  test("multi-partition producer, one file per trigger: exactly-once apply") {
    // the ADVICE scenario: a MULTI-file wire feed where
    // maxFilesPerTrigger=1 puts every file in its own micro-batch, so
    // the applier's tso gate advances between files. With the enforced
    // one-txn-per-file contract (sortedRunsGrouped on tso) no txn spans
    // a trigger boundary and the replica converges exactly-once.
    val root = java.nio.file.Files.createTempDirectory("graft-wirerpl-mp")
    val wireDir = s"$root/wire"
    val target = s"$root/replica"
    val tableCols = Map(("bank", "accounts") -> Seq("acct", "seq", "balance"))
    val colTypes = Seq("acct" -> "long", "seq" -> "long", "balance" -> "long")

    val transfers = (1L to 8L).map(t => (t, (t % 6) + 1, ((t + 2) % 6) + 1, t * 5))
    val bal = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(1000L)
    val images = transfers.flatMap { case (t, f, to, amt) =>
      bal(f) = bal(f) - amt; bal(to) = bal(to) + amt
      Seq((t, 2 * t, f, bal(f)), (t, 2 * t + 1, to, bal(to)))
    }
    val expected = bal.toMap

    val batch = images.toDF("tso", "seq", "acct", "balance")
      .select($"acct", $"seq", lit("UPDATE").as("op"), $"balance", $"tso")
      .withColumn("ts", lit(1700000000L))
    val specs = Seq(ColSpec("acct", LongLong), ColSpec("seq", LongLong),
      ColSpec("balance", LongLong))
    val ordered = graft.operators.MergeSort.sortedRunsGrouped(
      batch, 3, Seq("tso"), Seq("seq"))
    val files = BinlogWire.writeTxnFramedBinlogFiles(ordered, specs,
      "bank", "accounts", "op", "ts", "tso", wireDir, checksummed = true)
    assert(files >= 2) // the feed is genuinely multi-file

    WireTail.replicate(spark, wireDir, tableCols,
      Seq(WireReplicaJob.TableTarget("bank", "accounts", colTypes,
        Seq("acct"), "seq", target, 4)), s"$root/ckpt",
      txnsPerCommit = 2, maxFilesPerTrigger = 1)
    val state = TxnApplier.readCurrent(spark, target)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    assert(state == expected)
  }

  test("wire tail: one standing stream fans a two-table wire out to per-table targets, incrementally") {
    val root = java.nio.file.Files.createTempDirectory("graft-wirerouted")
    val wireDir = s"$root/wire"
    val tableCols2 = Map(
      ("bank", "accounts") -> Seq("acct", "seq", "balance"),
      ("bank", "audit") -> Seq("aid", "seq", "note"))
    val targets = Seq(
      WireReplicaJob.TableTarget("bank", "accounts",
        Seq("acct" -> "long", "seq" -> "long", "balance" -> "long"),
        Seq("acct"), "seq", s"$root/t_accounts", 2),
      WireReplicaJob.TableTarget("bank", "audit",
        Seq("aid" -> "long", "seq" -> "long", "note" -> "string"),
        Seq("aid"), "seq", s"$root/t_audit", 2))
    def writeSegment(prefix: String,
        rows: Seq[(Long, String, String, Map[String, String], Map[String, String])]): Unit = {
      val ev = rows.map { case (tso, op, table, before, after) =>
        (tso, tso, op, "bank", table, before, after, 1700000000L)
      }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "tsoTime")
      BinlogWire.writeChangeStreamBinlogFiles(
        ev.coalesce(1).sortWithinPartitions("tso", "txnId"), tableCols2,
        wireDir, filePrefix = prefix, checksummed = true)
    }
    def run(): Unit = WireTail.replicate(spark, wireDir, tableCols2,
      targets, s"$root/ckpt", txnsPerCommit = 2)
    def accounts() = TxnApplier.readCurrent(spark, s"$root/t_accounts")
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    def audit() = TxnApplier.readCurrent(spark, s"$root/t_audit")
      .select($"aid", $"note").as[(Long, String)].collect().toMap

    writeSegment("binlog.a.", Seq(
      (1L, "INSERT", "accounts", Map.empty,
        Map("acct" -> "1", "seq" -> "1", "balance" -> "100")),
      (2L, "INSERT", "audit", Map.empty,
        Map("aid" -> "10", "seq" -> "1", "note" -> "open"))))
    run()
    assert(accounts() == Map(1L -> 100L) && audit() == Map(10L -> "open"))

    // a later segment arrives while the stream is down: restart applies
    // ONLY it (checkpoint), routed to both tables — incl. a txn
    // touching both in one commit
    writeSegment("binlog.b.", Seq(
      (3L, "UPDATE", "accounts",
        Map("acct" -> "1", "seq" -> "1", "balance" -> "100"),
        Map("acct" -> "1", "seq" -> "2", "balance" -> "150")),
      (3L, "INSERT", "audit", Map.empty,
        Map("aid" -> "11", "seq" -> "2", "note" -> "credit")),
      (4L, "DELETE", "audit",
        Map("aid" -> "10", "seq" -> "3", "note" -> "open"), Map.empty)))
    val vA = TxnApplier.versions(s"$root/t_accounts").size
    run()
    assert(accounts() == Map(1L -> 150L))
    assert(audit() == Map(11L -> "credit"))
    assert(TxnApplier.versions(s"$root/t_accounts").size > vA)
    // nothing new: the replayed trigger set is empty, state holds
    run()
    assert(accounts() == Map(1L -> 150L) && audit() == Map(11L -> "credit"))

    // segment 3 carries a DDL ON THE WIRE: the routed apply evolves
    // the target, then applies the post-DDL row carrying the new column
    val ev3 = Seq(
      (5L, 5L, "DDL", "bank", "accounts", Map.empty[String, String],
        Map.empty[String, String],
        "ALTER TABLE accounts ADD COLUMN note VARCHAR(32)"),
      (6L, 6L, "INSERT", "bank", "accounts", Map.empty[String, String],
        Map("acct" -> "9", "seq" -> "1", "balance" -> "900",
          "note" -> "wired"), null: String))
      .toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl")
      .withColumn("tsoTime", lit(1700000000L))
    // the post-DDL wire registry carries the new column — as a real
    // source's TABLE_MAP does after the ALTER
    val tableCols2Evolved = tableCols2.updated(("bank", "accounts"),
      Seq("acct", "seq", "balance", "note"))
    BinlogWire.writeChangeStreamBinlogFiles(
      ev3.coalesce(1).sortWithinPartitions("tso", "txnId"),
      tableCols2Evolved, wireDir, filePrefix = "binlog.c.",
      checksummed = true)
    WireTail.replicate(spark, wireDir, tableCols2Evolved, targets,
      s"$root/ckpt", txnsPerCommit = 2)
    val evolved = TxnApplier.readCurrent(spark, s"$root/t_accounts")
      .select($"acct", $"balance", $"note")
      .as[(Long, Long, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(evolved == Map(1L -> ((150L, None)),
      9L -> ((900L, Some("wired")))))
  }

  test("stale consumer registry across batches: post-rename rows decoded under the OLD name land via the persisted lineage") {
    val root = java.nio.file.Files.createTempDirectory("graft-stale")
    val wireDir = s"$root/wire"
    val regV1 = Map(("bank", "accounts") -> Seq("acct", "seq", "v"))
    val regV2 = Map(("bank", "accounts") -> Seq("acct", "seq", "v2"))
    val targets = Seq(WireReplicaJob.TableTarget("bank", "accounts",
      Seq("acct" -> "long", "seq" -> "long", "v" -> "string"),
      Seq("acct"), "seq", s"$root/t", 2))
    def writeSegment(prefix: String,
        reg: Map[(String, String), Seq[String]],
        rows: Seq[(Long, String, Map[String, String], String)]): Unit = {
      val ev = rows.map { case (tso, op, after, ddl) =>
        (tso, tso, op, "bank", "accounts", Map.empty[String, String],
          after, ddl, 1700000000L)
      }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
      BinlogWire.writeChangeStreamBinlogFiles(
        ev.coalesce(1).sortWithinPartitions("tso"), reg, wireDir,
        filePrefix = prefix, checksummed = true)
    }
    // file 1: a row under the original name, then the RENAME
    writeSegment("binlog.a.", regV1, Seq(
      (1L, "INSERT", Map("acct" -> "1", "seq" -> "1", "v" -> "100"), null),
      (2L, "DDL", Map.empty,
        "ALTER TABLE accounts RENAME COLUMN v TO v2")))
    // file 2: the producer's registry evolved (a real source's
    // TABLE_MAP after the ALTER) — but the CONSUMER below still
    // decodes with the STALE v1 registry, so this row's value comes
    // out NAMED "v" by ordinal
    writeSegment("binlog.b.", regV2, Seq(
      (3L, "INSERT", Map("acct" -> "2", "seq" -> "1", "v2" -> "200"), null)))
    // one file per trigger: the rename and the stale-named row land in
    // SEPARATE batches — only the persisted `_renames` lineage can
    // carry the fallback across the batch boundary
    WireTail.replicate(spark, wireDir, regV1, targets, s"$root/ckpt",
      txnsPerCommit = 2, maxFilesPerTrigger = 1)
    val cur = TxnApplier.readCurrent(spark, s"$root/t")
    assert(cur.columns.contains("v2") && !cur.columns.contains("v"))
    assert(cur.select($"acct", $"v2").as[(Long, String)].collect().toMap
      == Map(1L -> "100", 2L -> "200"))
    assert(TxnApplier.renameLineage(s"$root/t") == Map("v2" -> Seq("v")))

    // a LATER plain batch (no DDL anywhere near it) with another
    // stale-named row: the persisted lineage still reads it
    WireReplicaJob.applyRouted(routed(
      Seq((4L, "INSERT", "bank", "accounts", Map.empty[String, String],
        Map("acct" -> "3", "seq" -> "1", "v" -> "300")))
        .toDF("tso", "op", "schemaName", "tableName", "before", "after"),
      targets), targets, txnsPerCommit = 2)
    assert(TxnApplier.readCurrent(spark, s"$root/t")
      .select($"acct", $"v2").as[(Long, String)].collect().toMap
      == Map(1L -> "100", 2L -> "200", 3L -> "300"))

    // reusing the old NAME for a brand-new column evicts it from the
    // chain — images named "v" now feed the NEW column only
    WireReplicaJob.applyRouted(routed(
      Seq((5L, "DDL", "bank", "accounts", Map.empty[String, String],
        Map.empty[String, String],
        "ALTER TABLE accounts ADD COLUMN v VARCHAR(10)"),
        (6L, "INSERT", "bank", "accounts", Map.empty[String, String],
          Map("acct" -> "4", "seq" -> "1", "v" -> "nv", "v2" -> "400"),
          null: String))
        .toDF("tso", "op", "schemaName", "tableName", "before", "after",
          "ddl"), targets),
      targets, txnsPerCommit = 2)
    assert(TxnApplier.renameLineage(s"$root/t") == Map("v2" -> Seq.empty))
    val last = TxnApplier.readCurrent(spark, s"$root/t")
      .select($"acct", $"v2", $"v").as[(Long, String, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(last(4L) == (("400", Some("nv"))))
    assert(last(3L) == (("300", None))) // row 3's old-"v" stayed in v2

    // renaming ONTO an existing column refuses — a duplicate-name
    // schema would misbind cells
    intercept[IllegalArgumentException] {
      WireReplicaJob.applyRouted(routed(
        Seq((7L, "DDL", "bank", "accounts", Map.empty[String, String],
          Map.empty[String, String],
          "ALTER TABLE accounts RENAME COLUMN v TO v2"))
          .toDF("tso", "op", "schemaName", "tableName", "before",
            "after", "ddl"), targets),
        targets)
    }
  }

  test("DDL in-stream: ADD/DROP evolve metadata-only; MODIFY/CHANGE/RENAME rebuild the target; key/seq DDL refuses loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-ddlstream")
    val target = s"$root/t_accounts"
    val targets = Seq(WireReplicaJob.TableTarget("bank", "accounts",
      Seq("acct" -> "long", "seq" -> "long", "balance" -> "long"),
      Seq("acct"), "seq", target, 2))
    def decodedOf(rows: Seq[(Long, String, Map[String, String], String)]) =
      routed(rows.map { case (tso, op, after, ddl) =>
        (tso, op, "bank", "accounts", Map.empty[String, String], after, ddl)
      }.toDF("tso", "op", "schemaName", "tableName", "before", "after",
        "ddl"), targets)

    // batch 1: rows STRADDLE an ADD COLUMN in one batch — pre-DDL rows
    // apply with NULL for the new column, post-DDL rows carry values
    val batch1 = decodedOf(Seq(
      (1L, "INSERT", Map("acct" -> "1", "seq" -> "1", "balance" -> "100"),
        null),
      (2L, "INSERT", Map("acct" -> "2", "seq" -> "1", "balance" -> "200"),
        null),
      (3L, "DDL", Map.empty,
        "ALTER TABLE accounts ADD COLUMN note VARCHAR(32)"),
      (4L, "INSERT", Map("acct" -> "3", "seq" -> "1", "balance" -> "300",
        "note" -> "hi"), null),
      (5L, "UPDATE", Map("acct" -> "1", "seq" -> "2", "balance" -> "150",
        "note" -> "upd"), null)))
    WireReplicaJob.applyRouted(batch1, targets, txnsPerCommit = 2)
    val s1 = TxnApplier.readCurrent(spark, target)
      .select($"acct", $"balance", $"note")
      .as[(Long, Long, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(s1 == Map(1L -> ((150L, Some("upd"))),
      2L -> ((200L, None)), 3L -> ((300L, Some("hi")))))

    // replay the whole batch: DDL no-ops, rows hit the position gate
    val versions = TxnApplier.versions(target).size
    WireReplicaJob.applyRouted(batch1, targets, txnsPerCommit = 2)
    assert(TxnApplier.versions(target).size == versions)

    // batch 2: DROP the added column + one more row
    val batch2 = decodedOf(Seq(
      (6L, "DDL", Map.empty, "ALTER TABLE accounts DROP COLUMN note"),
      (7L, "INSERT", Map("acct" -> "4", "seq" -> "1", "balance" -> "400"),
        null)))
    WireReplicaJob.applyRouted(batch2, targets, txnsPerCommit = 2)
    val cur = TxnApplier.readCurrent(spark, target)
    assert(!cur.columns.contains("note"))
    assert(cur.select($"acct", $"balance").as[(Long, Long)].collect().toMap
      == Map(1L -> 150L, 2L -> 200L, 3L -> 300L, 4L -> 400L))

    // batch 3: re-type of a NON-key column REBUILDS the target in
    // place (TxnApplier.rebuildTarget) — the committed state survives
    // under the new type, and post-DDL rows apply against it
    WireReplicaJob.applyRouted(decodedOf(Seq(
      (8L, "DDL", Map.empty,
        "ALTER TABLE accounts MODIFY COLUMN balance VARCHAR(10)"),
      (9L, "INSERT", Map("acct" -> "5", "seq" -> "1",
        "balance" -> "x500"), null))),
      targets, txnsPerCommit = 2)
    val retyped = TxnApplier.readCurrent(spark, target)
    assert(retyped.schema("balance").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(retyped.select($"acct", $"balance").as[(Long, String)]
      .collect().toMap == Map(1L -> "150", 2L -> "200", 3L -> "300",
        4L -> "400", 5L -> "x500"))

    // batch 4: RENAME of a non-key column rebuilds too, and rows that
    // STRADDLE the rename in one batch land intact — the pre-DDL row
    // still carries the OLD name in its string image and applies
    // through the fallback chain
    WireReplicaJob.applyRouted(decodedOf(Seq(
      (10L, "INSERT", Map("acct" -> "6", "seq" -> "1",
        "balance" -> "600"), null),
      (11L, "DDL", Map.empty,
        "ALTER TABLE accounts RENAME COLUMN balance TO bal"),
      (12L, "INSERT", Map("acct" -> "7", "seq" -> "1",
        "bal" -> "700"), null))),
      targets, txnsPerCommit = 2)
    val renamed = TxnApplier.readCurrent(spark, target)
    assert(!renamed.columns.contains("balance") &&
      renamed.columns.contains("bal"))
    assert(renamed.select($"acct", $"bal").as[(Long, String)]
      .collect().toMap == Map(1L -> "150", 2L -> "200", 3L -> "300",
        4L -> "400", 5L -> "x500", 6L -> "600", 7L -> "700"))

    // replaying the rename batch is idempotent: the rebuilt state and
    // version history are untouched (renamed-away column no-ops, rows
    // hit the position gate)
    val vAfter = TxnApplier.versions(target).size
    WireReplicaJob.applyRouted(decodedOf(Seq(
      (10L, "INSERT", Map("acct" -> "6", "seq" -> "1",
        "balance" -> "600"), null),
      (11L, "DDL", Map.empty,
        "ALTER TABLE accounts RENAME COLUMN balance TO bal"),
      (12L, "INSERT", Map("acct" -> "7", "seq" -> "1",
        "bal" -> "700"), null))),
      targets, txnsPerCommit = 2)
    assert(TxnApplier.readCurrent(spark, target)
      .select($"acct", $"bal").as[(Long, String)].collect().toMap
      == Map(1L -> "150", 2L -> "200", 3L -> "300", 4L -> "400",
        5L -> "x500", 6L -> "600", 7L -> "700"))

    // KEY/sequence columns still refuse loudly — the TableTarget
    // routing names them, so re-keying online would orphan the config
    intercept[IllegalArgumentException] {
      WireReplicaJob.applyRouted(decodedOf(Seq((20L, "DDL",
        Map.empty,
        "ALTER TABLE accounts MODIFY COLUMN acct VARCHAR(10)"))),
        targets)
    }
    intercept[IllegalArgumentException] {
      WireReplicaJob.applyRouted(decodedOf(Seq((21L, "DDL",
        Map.empty, "ALTER TABLE accounts DROP COLUMN acct"))), targets)
    }
    intercept[IllegalArgumentException] {
      WireReplicaJob.applyRouted(decodedOf(Seq((22L, "DDL",
        Map.empty,
        "ALTER TABLE accounts RENAME COLUMN seq TO seqno"))), targets)
    }
    // renaming the routed TABLE itself refuses too — silently letting
    // the stream follow a new name the routing doesn't match would
    // stop replication without a sound
    intercept[IllegalArgumentException] {
      WireReplicaJob.applyRouted(decodedOf(Seq((23L, "DDL",
        Map.empty, "RENAME TABLE accounts TO accounts2"))), targets)
    }
    intercept[IllegalArgumentException] {
      WireReplicaJob.applyRouted(decodedOf(Seq((24L, "DDL",
        Map.empty, "ALTER TABLE accounts RENAME TO accounts2"))),
        targets)
    }
  }

  test("configured-but-quiet target: bootstraps on the first batch, survives maintenance cadences and early DDL") {
    val root = java.nio.file.Files.createTempDirectory("graft-quiet")
    val targets = Seq(
      WireReplicaJob.TableTarget("bank", "accounts",
        Seq("acct" -> "long", "seq" -> "long", "balance" -> "long"),
        Seq("acct"), "seq", s"$root/t_accounts", 2),
      WireReplicaJob.TableTarget("bank", "audit",
        Seq("id" -> "long", "seq" -> "long", "note" -> "string"),
        Seq("id"), "seq", s"$root/t_audit", 2))
    def rowsFor(table: String,
        rows: Seq[(Long, Map[String, String])]) =
      routed(rows.map { case (tso, after) =>
        (tso, "INSERT", "bank", table, Map.empty[String, String], after,
          null.asInstanceOf[String])
      }.toDF("tso", "op", "schemaName", "tableName", "before", "after",
        "ddl"), targets)

    // batch 1 carries rows ONLY for accounts — audit is quiet, but the
    // routed apply must still bootstrap its schema sidecar
    WireReplicaJob.applyRouted(rowsFor("accounts", Seq(
      1L -> Map("acct" -> "1", "seq" -> "1", "balance" -> "100"))),
      targets, txnsPerCommit = 1, applyMode = TxnApplier.ApplyMode.Delta)
    assert(TxnApplier.currentCommit(s"$root/t_audit").isDefined,
      "quiet target must bootstrap on the first batch")
    assert(TxnApplier.targetSchema(s"$root/t_audit").isDefined)

    // the CdcReplica-shaped vacuum cadence over EVERY configured target
    // — including the still-row-less audit — must not fail
    targets.foreach { t =>
      TxnApplier.compact(spark, t.targetDir)
      TxnApplier.vacuum(t.targetDir)
    }
    // compact on a dir nobody ever bootstrapped: a quiet no-op (None)
    assert(TxnApplier.compact(spark, s"$root/t_nowhere").isEmpty)

    // an ALTER for the never-carried-rows table evolves its sidecar
    WireReplicaJob.applyRouted(routed(Seq(
      (2L, "DDL", "bank", "audit", Map.empty[String, String],
        Map.empty[String, String],
        "ALTER TABLE audit ADD COLUMN severity VARCHAR(8)"))
      .toDF("tso", "op", "schemaName", "tableName", "before", "after",
        "ddl"), targets),
      targets, txnsPerCommit = 1, applyMode = TxnApplier.ApplyMode.Delta)
    assert(TxnApplier.targetSchema(s"$root/t_audit").get
      .fieldNames.contains("severity"))

    // audit's FIRST rows arrive after the DDL — they apply with the
    // evolved shape, and accounts' earlier state is untouched
    WireReplicaJob.applyRouted(routed(Seq(
      (3L, "INSERT", "bank", "audit", Map.empty[String, String],
        Map("id" -> "7", "seq" -> "1", "note" -> "n", "severity" -> "hi"),
        null.asInstanceOf[String]))
      .toDF("tso", "op", "schemaName", "tableName", "before", "after",
        "ddl"), targets),
      targets, txnsPerCommit = 1, applyMode = TxnApplier.ApplyMode.Delta)
    assert(TxnApplier.readCurrent(spark, s"$root/t_audit")
      .select($"id", $"severity").as[(Long, String)].collect().toSeq
      == Seq(7L -> "hi"))
    assert(TxnApplier.readCurrent(spark, s"$root/t_accounts")
      .select($"acct", $"balance").as[(Long, Long)].collect().toSeq
      == Seq(1L -> 100L))
  }
}
