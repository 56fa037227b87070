package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bank-transfer invariant over the transaction-preserving applier: the
  * reference's own QA for this consumer class asserts SUM(balance) is
  * constant at every observable target state
  * (polardbx-cdc-transfer/.../Bank.java:90-92,175-198). */
class TxnApplierSpec extends SparkSpec with TxnGroupingCheck {
  import spark.implicits._

  private val nAccounts = 8L
  private val total = nAccounts * 1000L

  private def accounts = (1L to nAccounts)
    .map(a => (a, 0L, "INSERT", 1000L)).toDF("acct", "seq", "op", "balance")

  /** 12 transfer txns: txn t moves 10·t from acct (t%8)+1 to ((t+3)%8)+1.
    * Each txn = two UPDATE after-images sharing commit tso=t; after-
    * balances derived declaratively via a running per-account delta sum. */
  private def transferBatch = {
    val transfers = (1L to 12L)
      .map(t => (t, (t % nAccounts) + 1, ((t + 3) % nAccounts) + 1, t * 10))
    val deltas = transfers.flatMap { case (t, from, to, amt) =>
      Seq((t, 2 * t, from, -amt), (t, 2 * t + 1, to, amt))
    }.toDF("tso", "seq", "acct", "delta")
    val w = Window.partitionBy($"acct").orderBy($"seq")
    deltas.select($"acct", $"seq", lit("UPDATE").as("op"),
      (lit(1000L) + sum($"delta").over(w)).as("balance"), $"tso")
  }

  private def sumAt(dir: String, v: Long): Long =
    TxnApplier.readVersion(spark, dir, v).agg(sum($"balance")).head().getLong(0)

  test("SUM(balance) is constant at EVERY observable target state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-txnbank")
      .resolve("target").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    val commits = TxnApplier.applyBatch(probed(transferBatch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4, txnsPerCommit = 1)
    // one observable state per transaction + the bootstrap
    assert(commits.size == 12)
    val vs = TxnApplier.versions(dir)
    assert(vs.size == 13)
    vs.foreach { v =>
      assert(sumAt(dir, v) == total, s"invariant broken at version $v")
    }
    // every version still has every account (UPDATEs never drop rows)
    vs.foreach { v =>
      assert(TxnApplier.readVersion(spark, dir, v).count() == nAccounts)
    }
    // final state = cumulative net per account
    val net = (1L to 12L)
      .map(t => (t, (t % nAccounts) + 1, ((t + 3) % nAccounts) + 1, t * 10))
      .foldLeft(Map.empty[Long, Long].withDefaultValue(0L)) {
        case (m, (_, f, to, amt)) => m.updated(f, m(f) - amt).updated(to, m(to) + amt)
      }
    val finalState = TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    (1L to nAccounts).foreach { a =>
      assert(finalState(a) == 1000L + net(a), s"acct $a final balance")
    }
  }

  test("merge-applied torn prefix CAN violate the invariant (the gate is real)") {
    // cut the batch mid-transaction: txn 3's debit (seq 6) without its
    // credit (seq 7) — the state a merge applier exposes if a reader
    // lands between its per-bucket replaces, or if the batch boundary
    // splits a transaction
    val torn = transferBatch.filter($"seq" <= 6)
    val images = Appliers.mergeToFinalImages(torn, Seq("acct"), "seq", "op")
    val s = UpsertOracle.upsert(accounts.select($"acct", $"balance"), images,
      Seq("acct")).agg(sum($"balance")).head().getLong(0)
    assert(s != total, "torn prefix should break the invariant")
    assert(s == total - 30L) // txn 3's in-flight amount
  }

  test("replica from nothing: empty bootstrap, delete-only first batch, txn-boundary states, replay exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-txnnothing")
      .resolve("target").toString
    def batch(rows: (Long, Long, String, String, Long)*) =
      rows.toDF("pk", "seq", "op", "v", "tso")
    // txn 5 only deletes a key the target never held; txn 10 inserts
    // pks 1,2; txn 20 updates pk1 and inserts pk3
    val deleteOnly = batch((9L, 1L, "DELETE", "x", 5L))
    val rest = batch((1L, 2L, "INSERT", "a1", 10L),
      (2L, 3L, "INSERT", "b1", 10L), (1L, 4L, "UPDATE", "a2", 20L),
      (3L, 5L, "INSERT", "c1", 20L))
    // no full copy: version 1 is the empty state at position 0, shaped
    // like the batch rows (the standing replica's first-trigger bootstrap)
    TxnApplier.bootstrap(deleteOnly.limit(0).drop("op", "tso"), Seq("pk"),
      dir, nBuckets = 4)
    TxnApplier.applyBatch(probed(deleteOnly, Seq("pk"), 4),
      Seq("pk"), "seq", "op", "tso", dir, 4)
    TxnApplier.applyBatch(probed(rest, Seq("pk"), 4),
      Seq("pk"), "seq", "op", "tso", dir, 4)
    def state(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select($"pk", $"v").as[(Long, String)].collect().toSet
    assert(state(TxnApplier.readCurrent(spark, dir)) ==
      Set((1L, "a2"), (2L, "b1"), (3L, "c1")))
    // every observable state is a transaction boundary — never a
    // half-txn mix
    val boundaries = Seq(Set.empty[(Long, String)],
      Set((1L, "a1"), (2L, "b1")), Set((1L, "a2"), (2L, "b1"), (3L, "c1")))
    val states = TxnApplier.versions(dir)
      .map(v => state(TxnApplier.readVersion(spark, dir, v)))
    assert(states.distinct == boundaries, states)
    assert(TxnApplier.currentCommit(dir).exists(_.lastTso == 20L))
    // a replay of both batches is exactly-once
    val vs = TxnApplier.versions(dir)
    assert(TxnApplier.applyBatch(
      probed(deleteOnly.unionByName(rest), Seq("pk"), 4), Seq("pk"), "seq",
      "op", "tso", dir, 4).isEmpty)
    assert(TxnApplier.versions(dir) == vs)
  }

  test("txnsPerCommit amortizes commits; boundaries stay transactional") {
    val dir = java.nio.file.Files.createTempDirectory("graft-txngrp")
      .resolve("target").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    val commits = TxnApplier.applyBatch(probed(transferBatch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4, txnsPerCommit = 5)
    // ceil(12/5) = 3 commits, each ending on a whole-transaction boundary
    assert(commits.size == 3)
    assert(commits.map(_.lastTso) == Seq(5L, 10L, 12L))
    TxnApplier.versions(dir).foreach { v =>
      assert(sumAt(dir, v) == total, s"invariant broken at version $v")
    }
  }

  test("replay is exactly-once: applied transactions never double") {
    val dir = java.nio.file.Files.createTempDirectory("graft-txnreplay")
      .resolve("target").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    TxnApplier.applyBatch(probed(transferBatch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, 4, txnsPerCommit = 4)
    val vsBefore = TxnApplier.versions(dir)
    val stateBefore = TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toSet
    // foreachBatch replay after crash: same batch again
    val replayed = TxnApplier.applyBatch(probed(transferBatch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, 4, txnsPerCommit = 4)
    assert(replayed.isEmpty)
    assert(TxnApplier.versions(dir) == vsBefore)
    assert(TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toSet ==
      stateBefore)
    // a PARTIAL replay (crash mid-batch: first 2 txn groups committed)
    // resumes at the first unapplied transaction
    val dir2 = java.nio.file.Files.createTempDirectory("graft-txnpart")
      .resolve("target").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir2, nBuckets = 4)
    TxnApplier.applyBatch(
      probed(transferBatch.filter($"tso" <= 7), Seq("acct"), 4), Seq("acct"),
      "seq", "op", "tso", dir2, 4, txnsPerCommit = 4)
    val resumed = TxnApplier.applyBatch(probed(transferBatch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir2, 4, txnsPerCommit = 4)
    assert(resumed.map(_.lastTso) == Seq(11L, 12L))
    TxnApplier.versions(dir2).foreach { v =>
      assert(sumAt(dir2, v) == total, s"invariant broken at version $v")
    }
    assert(TxnApplier.readCurrent(spark, dir2)
      .select($"acct", $"balance").as[(Long, Long)].collect().toSet ==
      stateBefore)
  }

  test("crash between a commit's manifest and pointer: replay converges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-txncrash")
      .resolve("target").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    TxnApplier.applyBatch(probed(transferBatch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso",
      dir, 4, txnsPerCommit = 4) // versions 2,3,4 (tso 4, 8, 12)
    // simulate the publication crash window: version 4's data+manifest
    // landed but the pointer never swung past version 3 — roll it back
    val cur = TxnApplier.currentCommit(dir).get
    assert(cur.version == 4 && cur.lastTso == 12L)
    val pointer = new java.io.File(dir, "_current")
    java.nio.file.Files.write(pointer.toPath, "3,8".getBytes)
    // replay of the same batch resumes at tso > 8, REUSES version 4's
    // slot (the orphan data dir and stale manifest are overwritten), and
    // lands on the same final state
    val resumed = TxnApplier.applyBatch(probed(transferBatch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, 4, txnsPerCommit = 4)
    assert(resumed.map(_.lastTso) == Seq(12L))
    assert(TxnApplier.currentCommit(dir).contains(TxnApplier.Commit(4, 12L)))
    TxnApplier.versions(dir).foreach { v =>
      assert(sumAt(dir, v) == total, s"invariant broken at version $v")
    }
    val net = (1L to 12L)
      .map(t => (t, (t % nAccounts) + 1, ((t + 3) % nAccounts) + 1, t * 10))
      .foldLeft(Map.empty[Long, Long].withDefaultValue(0L)) {
        case (m, (_, f, to, amt)) => m.updated(f, m(f) - amt).updated(to, m(to) + amt)
      }
    val finalState = TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    (1L to nAccounts).foreach { a =>
      assert(finalState(a) == 1000L + net(a), s"acct $a after crash replay")
    }
  }

  test("commits touch only their buckets; untouched files carry over; vacuum reclaims") {
    val dir = java.nio.file.Files.createTempDirectory("graft-txnvac")
      .resolve("target").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    // one txn touching two accounts → at most two buckets rewritten
    val one = transferBatch.filter($"tso" === 1L)
    TxnApplier.applyBatch(probed(one, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, 4)
    val v1Dirs = new java.io.File(dir, "data/v00000001")
      .listFiles().count(_.getName.startsWith("__bucket="))
    val v2Dirs = new java.io.File(dir, "data/v00000002")
      .listFiles().count(_.getName.startsWith("__bucket="))
    val allBuckets = accounts
      .select(Appliers.bucketOf(Seq("acct"), 4).as("b")).distinct().count().toInt
    val txn1Buckets = Seq(2L, 5L).toDF("acct") // txn 1 moves 2 → 5
      .select(Appliers.bucketOf(Seq("acct"), 4).as("b")).distinct().count().toInt
    assert(v1Dirs == allBuckets) // bootstrap wrote every populated bucket
    assert(v2Dirs == txn1Buckets) // commit wrote only touched buckets
    // vacuum keeps everything the current manifest references
    val before = TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toSet
    TxnApplier.vacuum(dir)
    assert(TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toSet == before)
    // the superseded v1 copies of the touched buckets are gone
    val remainingV1 = new java.io.File(dir, "data/v00000001")
      .listFiles().count(_.getName.startsWith("__bucket="))
    assert(remainingV1 == allBuckets - v2Dirs)
  }

  test("rebuildTarget: rename+retype rewrite, position preserved, applies continue, history readable") {
    val dir = java.nio.file.Files
      .createTempDirectory("txnapplier-rebuild").toString + "/t"
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    TxnApplier.applyBatch(probed(transferBatch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4, txnsPerCommit = 4)
    val before = TxnApplier.currentCommit(dir).get
    val stateBefore = TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap

    // rename balance → bal and retype to string, one rebuild
    val c = TxnApplier.rebuildTarget(spark, dir, Seq("acct"), 4,
      df => df.withColumnRenamed("balance", "bal")
        .withColumn("bal", $"bal".cast("string")))
    assert(c.version == before.version + 1)
    assert(c.lastTso == before.lastTso) // the row position is untouched
    val after = TxnApplier.readCurrent(spark, dir)
    assert(after.schema("bal").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(after.select($"acct", $"bal").as[(Long, String)].collect()
      .toMap == stateBefore.map { case (k, v) => k -> v.toString })
    // the persisted sidecar is the rebuilt shape
    assert(TxnApplier.targetSchema(dir).get.fieldNames.contains("bal"))

    // applies CONTINUE against the rebuilt layout (bucket hashes
    // recomputed consistently) and the gate still drops replays
    val more = Seq((20L, 30L, 1L, "UPDATE", "9999"))
      .toDF("tso", "seq", "acct", "op", "bal")
      .select($"acct", $"seq", $"op", $"bal", $"tso")
    TxnApplier.applyBatch(probed(more, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, 4)
    TxnApplier.applyBatch(probed(more, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, 4)
    val finalState = TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"bal").as[(Long, String)].collect().toMap
    assert(finalState(1L) == "9999")
    assert(finalState - 1L ==
      stateBefore.map { case (k, v) => k -> v.toString } - 1L)

    // history stays readable THROUGH the rebuild boundary, rendered
    // in the current schema (evolveSchema semantics)
    val hist = TxnApplier.readVersion(spark, dir, before.version)
    assert(hist.columns.contains("bal"))

    // a rebuild on an EMPTY bootstrapped target keeps the row shape
    val dir2 = java.nio.file.Files
      .createTempDirectory("txnapplier-rebuild2").toString + "/t"
    TxnApplier.bootstrap(accounts.limit(0), Seq("acct"), dir2, 2)
    TxnApplier.rebuildTarget(spark, dir2, Seq("acct"), 2,
      _.withColumnRenamed("balance", "bal"))
    assert(TxnApplier.readCurrent(spark, dir2).columns.contains("bal"))
  }

  test("rebuild crash window: staged schema + manifest without the pointer swap are INVISIBLE") {
    // The pointer swap is the SINGLE commit point for data AND schema.
    // Simulate a crash after rebuildTarget has staged everything it
    // stages pre-swap — new data version, new _schemas/ version, new
    // manifest — but before _current moves: readers must still see the
    // OLD schema over the OLD data (never old data under a renamed
    // schema, which reads the renamed column as all-null forever).
    val dir = java.nio.file.Files
      .createTempDirectory("txnapplier-crash").toString + "/t"
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 2)
    val before = TxnApplier.currentCommit(dir).get
    val stateBefore = TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap

    // stage exactly what a crashed rebuild leaves behind
    val renamed = TxnApplier.readCurrent(spark, dir)
      .withColumnRenamed("balance", "bal")
    val root = new java.io.File(dir)
    new java.io.File(root, "_schemas").mkdirs()
    java.nio.file.Files.write(
      root.toPath.resolve("_schemas/s00000002.json"),
      renamed.schema.json.getBytes("UTF-8"))
    renamed.withColumn("__bucket", Appliers.bucketOf(Seq("acct"), 2))
      .repartition($"__bucket")
      .write.partitionBy("__bucket")
      .parquet(new java.io.File(root, "data/v00000002").toString)
    java.nio.file.Files.write(
      root.toPath.resolve("_manifests/v00000002.manifest"),
      "0\tdata/v00000002/__bucket=0\n1\tdata/v00000002/__bucket=1"
        .getBytes("UTF-8"))

    // pointer never moved -> everything staged is invisible
    assert(TxnApplier.currentCommit(dir).contains(before))
    assert(TxnApplier.targetSchema(dir).get.fieldNames.toSeq ==
      Seq("acct", "seq", "op", "balance")) // OLD schema, not "bal"
    assert(TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect()
      .toMap == stateBefore)

    // the replayed rebuild runs over the crash debris and commits
    val c = TxnApplier.rebuildTarget(spark, dir, Seq("acct"), 2,
      df => df.withColumnRenamed("balance", "bal"))
    assert(c.version == before.version + 1 && c.lastTso == before.lastTso)
    assert(TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"bal").as[(Long, Long)].collect()
      .toMap == stateBefore)
  }

  test("txnsPerCommit = 3: shared and emptied buckets, replayed TSO — every version is its group's state") {
    groupingHolds((batch, dir) => TxnApplier.applyBatch(
      probed(batch, Seq("acct"), 4), Seq("acct"), "seq", "op", "tso", dir,
      nBuckets = 4, txnsPerCommit = 3))
  }
}
