package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DELTA apply mode (merge-on-read + compaction) — the standing-replica
  * shape the sf1 scale rehearsal forced: COW applies of a uniform-key
  * stream rewrite every bucket every trigger (O(n²) over a run); delta
  * commits are O(batch) with the target read only at compaction.
  * Everything here asserts EQUIVALENCE with the COW mode's contract:
  * same states, same per-version transaction boundaries, same replay
  * gate, chains fold away without moving any boundary. */
class TxnApplierDeltaSpec extends SparkSpec with TxnGroupingCheck {
  import spark.implicits._

  private val nAccounts = 8L
  private val total = nAccounts * 1000L

  private def accounts = (1L to nAccounts)
    .map(a => (a, 0L, "INSERT", 1000L)).toDF("acct", "seq", "op", "balance")

  private def transferBatch(from: Long, to: Long) = {
    val transfers = (from to to)
      .map(t => (t, (t % nAccounts) + 1, ((t + 3) % nAccounts) + 1, t * 10))
    val deltas = transfers.flatMap { case (t, f, d, amt) =>
      Seq((t, 2 * t, f, -amt), (t, 2 * t + 1, d, amt))
    }.toDF("tso", "seq", "acct", "delta")
    val w = Window.partitionBy($"acct").orderBy($"seq")
    // running balance from 1000 at the SLICE start: callers chain
    // slices by adding the prior slice's net — for the spec, apply the
    // whole 1..N range in one or more calls so balances stay absolute
    deltas.select($"acct", $"seq", lit("UPDATE").as("op"),
      (lit(1000L) + sum($"delta").over(w)).as("balance"), $"tso")
  }

  private def state(dir: String): Map[Long, Long] =
    TxnApplier.readCurrent(spark, dir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap

  test("delta apply == COW apply: same states at every commit, invariant holds THROUGH the merge-on-read") {
    val root = java.nio.file.Files.createTempDirectory("graft-delta-eq")
    val cow = root.resolve("cow").toString
    val dlt = root.resolve("delta").toString
    Seq(cow, dlt).foreach(d =>
      TxnApplier.bootstrap(accounts, Seq("acct"), d, nBuckets = 4))
    val batch = transferBatch(1L, 12L)
    val c1 = TxnApplier.applyBatch(probed(batch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", cow, nBuckets = 4, txnsPerCommit = 3)
    val c2 = TxnApplier.applyBatchDelta(probed(batch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dlt, nBuckets = 4, txnsPerCommit = 3)
    assert(c1 == c2) // same versions, same lastTso boundaries
    assert(TxnApplier.maxChainLength(dlt) > 1) // chains actually grew
    assert(TxnApplier.maxChainLength(cow) == 1)
    // every observable version: identical state on both modes, and the
    // transfer invariant holds (whole transactions per version)
    c2.foreach { c =>
      val a = TxnApplier.readVersion(spark, cow, c.version)
        .select($"acct", $"balance").as[(Long, Long)].collect().toSet
      val b = TxnApplier.readVersion(spark, dlt, c.version)
        .select($"acct", $"balance").as[(Long, Long)].collect().toSet
      assert(a == b, s"version ${c.version} diverged")
      assert(b.toSeq.map(_._2).sum == total,
        s"invariant broken at delta version ${c.version}")
    }
  }

  test("DELETEs erase through the chain; replay is gated exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delta-del")
      .resolve("t").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    // txn 13: close account 5 (its before-balance rides along — the
    // image only needs the key, like the wire decode's delete shape)
    val del = Seq((5L, 100L, "DELETE", 0L, 13L))
      .toDF("acct", "seq", "op", "balance", "tso")
    TxnApplier.applyBatchDelta(probed(del, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4)
    assert(!state(dir).contains(5L) && state(dir).size == 7)
    // replay the same batch: at-or-below lastTso → no-op, no new commit
    assert(TxnApplier.applyBatchDelta(probed(del, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4).isEmpty)
    // re-insert after the delete in a later txn: newest image wins
    val reins = Seq((5L, 101L, "INSERT", 777L, 14L))
      .toDF("acct", "seq", "op", "balance", "tso")
    TxnApplier.applyBatchDelta(probed(reins, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4)
    assert(state(dir)(5L) == 777L && state(dir).size == 8)
  }

  test("compact folds the chains without moving any transaction boundary; vacuum reclaims the folded deltas") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delta-cmp")
      .resolve("t").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    TxnApplier.applyBatchDelta(probed(transferBatch(1L, 12L), Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4, txnsPerCommit = 2)
    val before = state(dir)
    val cur = TxnApplier.currentCommit(dir).get
    assert(TxnApplier.maxChainLength(dir) > 1)
    val folded = TxnApplier.compact(spark, dir).get
    assert(folded.version == cur.version + 1 &&
      folded.lastTso == cur.lastTso) // same boundary, new version
    assert(TxnApplier.maxChainLength(dir) == 1)
    assert(state(dir) == before)
    assert(before.values.sum == total)
    // compacting a plain target is a no-op (same commit back)
    assert(TxnApplier.compact(spark, dir).contains(folded))
    // the folded chain's delta dirs are no longer referenced by the
    // current manifest: vacuum reclaims every .delta dir
    TxnApplier.vacuum(dir)
    val dataDir = new java.io.File(dir, "data")
    assert(!dataDir.listFiles().exists(_.getName.endsWith(".delta")),
      "folded delta dirs must be reclaimed")
    assert(state(dir) == before) // still readable after the reclaim
  }

  test("a COW apply over live chains folds them first (mixed mode stays correct)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delta-mix")
      .resolve("t").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    TxnApplier.applyBatchDelta(probed(transferBatch(1L, 6L), Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4, txnsPerCommit = 2)
    assert(TxnApplier.maxChainLength(dir) > 1)
    // the second slice carries absolute balances continuing the first:
    // rebuild running sums over the WHOLE range, keep txns 7..12
    val rest = transferBatch(1L, 12L).filter($"tso" > 6L)
    TxnApplier.applyBatch(probed(rest, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4, txnsPerCommit = 6)
    assert(TxnApplier.maxChainLength(dir) == 1) // auto-compacted
    assert(state(dir).values.sum == total)
    // equivalence against one straight COW run of the full range
    val ref = java.nio.file.Files.createTempDirectory("graft-delta-ref")
      .resolve("t").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), ref, nBuckets = 4)
    TxnApplier.applyBatch(probed(transferBatch(1L, 12L), Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", ref, nBuckets = 4, txnsPerCommit = 12)
    assert(state(dir) == state(ref))
  }

  test("delta publication crash window: manifest landed, pointer did not — replay converges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delta-crash")
      .resolve("t").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    val batch = transferBatch(1L, 12L)
    TxnApplier.applyBatchDelta(probed(batch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso",
      dir, nBuckets = 4, txnsPerCommit = 4) // delta versions 2,3,4
    val cur = TxnApplier.currentCommit(dir).get
    assert(cur.version == 4 && cur.lastTso == 12L)
    val expected = state(dir)
    // simulate the crash: version 4's delta dir + manifest landed but
    // the pointer never swung past version 3
    java.nio.file.Files.write(
      new java.io.File(dir, "_current").toPath, "3,8,1".getBytes)
    // replay resumes at tso > 8, REUSES version 4's slot (the orphan
    // delta dir and stale manifest are overwritten — chains appended
    // from manifest v3, never doubled), same final state
    val resumed = TxnApplier.applyBatchDelta(probed(batch, Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4, txnsPerCommit = 4)
    assert(resumed.map(_.lastTso) == Seq(12L))
    assert(TxnApplier.currentCommit(dir).contains(TxnApplier.Commit(4, 12L)))
    assert(state(dir) == expected)
    // every version's chain still reads to a conserved state
    TxnApplier.versions(dir).foreach { v =>
      val s = TxnApplier.readVersion(spark, dir, v)
        .agg(sum($"balance")).head().getLong(0)
      assert(s == total, s"invariant broken at version $v after replay")
    }
    // and the recovered chain compacts + vacuums cleanly
    TxnApplier.compact(spark, dir)
    TxnApplier.vacuum(dir)
    assert(state(dir) == expected)
  }

  test("routed apply with deltaCommits bounds every chain by compactAfter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delta-route")
    val target = graft.jobs.WireReplicaJob.TableTarget("bank", "accounts",
      Seq("acct" -> "bigint", "seq" -> "bigint", "balance" -> "bigint"),
      Seq("acct"), "seq", dir.resolve("t").toString, 4)
    // 6 triggers of 2 txns each through the routed path, threshold 3:
    // chains must fold before they pass it
    (0 until 6).foreach { i =>
      val lo = i * 2 + 1L
      val slice = transferBatch(1L, 12L)
        .filter($"tso" >= lo && $"tso" <= lo + 1L)
        .withColumn("op", lit("UPDATE"))
        .withColumn("schemaName", lit("bank"))
        .withColumn("tableName", lit("accounts"))
        .select($"tso", $"seq", $"op", $"schemaName", $"tableName",
          map().cast("map<string,string>").as("before"),
          map(lit("acct"), $"acct".cast("string"),
            lit("seq"), $"seq".cast("string"),
            lit("balance"), $"balance".cast("string")).as("after"))
      graft.jobs.WireReplicaJob.applyRouted(routed(slice, Seq(target)),
        Seq(target),
        txnsPerCommit = 1, applyMode = TxnApplier.ApplyMode.Delta, compactAfter = 3)
      assert(TxnApplier.maxChainLength(target.targetDir) <= 3 + 1,
        s"chain unbounded after trigger $i")
    }
    val st = TxnApplier.readCurrent(spark, target.targetDir)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    // equivalence with a straight COW apply of the same 12 txns
    // (bootstrapped empty, INSERT-less stream → state is the last
    // image per touched account)
    val ref = java.nio.file.Files.createTempDirectory("graft-delta-rref")
      .resolve("t").toString
    TxnApplier.bootstrap(
      transferBatch(1L, 12L).limit(0).drop("op", "tso"),
      Seq("acct"), ref, nBuckets = 4)
    TxnApplier.applyBatch(probed(transferBatch(1L, 12L), Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", ref, nBuckets = 4, txnsPerCommit = 12)
    val refState = TxnApplier.readCurrent(spark, ref)
      .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    assert(st == refState)
  }

  test("incremental compactBuckets: bounded per call, longest chains first, state identical throughout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delta-inc")
      .resolve("t").toString
    TxnApplier.bootstrap(accounts, Seq("acct"), dir, nBuckets = 4)
    TxnApplier.applyBatchDelta(probed(transferBatch(1L, 12L), Seq("acct"), 4),
      Seq("acct"), "seq", "op", "tso", dir, nBuckets = 4, txnsPerCommit = 2)
    val before = state(dir)
    val cur = TxnApplier.currentCommit(dir).get
    assert(TxnApplier.maxChainLength(dir) > 1)

    // fold at most 2 buckets: one new version, same lastTso, state
    // identical, and the OVERALL longest chain may still be live
    val c1 = TxnApplier.compactBuckets(spark, dir, maxBuckets = 2).get
    assert(c1.version == cur.version + 1 && c1.lastTso == cur.lastTso)
    assert(state(dir) == before)
    assert(before.values.sum == total)

    // keep folding in bounded steps until every chain is plain — the
    // rolling cadence a standing trigger runs; each step preserves the
    // state and the boundary
    var guard = 0
    while (TxnApplier.maxChainLength(dir) > 1 && guard < 10) {
      val prev = TxnApplier.currentCommit(dir).get
      val c = TxnApplier.compactBuckets(spark, dir, maxBuckets = 2).get
      assert(c.lastTso == prev.lastTso)
      assert(state(dir) == before)
      guard += 1
    }
    assert(TxnApplier.maxChainLength(dir) == 1, "chains never drained")
    assert(guard >= 1 && guard <= 3, s"unexpected fold steps: $guard")
    // fully folded: a further bounded call is a no-op (same commit)
    val done = TxnApplier.currentCommit(dir).get
    assert(TxnApplier.compactBuckets(spark, dir, maxBuckets = 2)
      .contains(done))
    // and the folded delta dirs are reclaimable
    TxnApplier.vacuum(dir)
    val dataDir = new java.io.File(dir, "data")
    assert(!dataDir.listFiles().exists(_.getName.endsWith(".delta")))
    assert(state(dir) == before)
  }

  test("Auto mode: small targets stay COW, targets past the crossover flip to delta, live chains are sticky") {
    val root = java.nio.file.Files.createTempDirectory("graft-delta-auto")
    def routedSlice(lo: Long, t: graft.jobs.WireReplicaJob.TableTarget) =
      routed(sliceRows(lo), Seq(t))
    def sliceRows(lo: Long) = transferBatch(1L, 12L)
      .filter($"tso" >= lo && $"tso" <= lo + 1L)
      .withColumn("op", lit("UPDATE"))
      .withColumn("schemaName", lit("bank"))
      .withColumn("tableName", lit("accounts"))
      .select($"tso", $"seq", $"op", $"schemaName", $"tableName",
        map().cast("map<string,string>").as("before"),
        map(lit("acct"), $"acct".cast("string"),
          lit("seq"), $"seq".cast("string"),
          lit("balance"), $"balance".cast("string")).as("after"))
    def mkTarget(name: String) = graft.jobs.WireReplicaJob.TableTarget(
      "bank", "accounts",
      Seq("acct" -> "bigint", "seq" -> "bigint", "balance" -> "bigint"),
      Seq("acct"), "seq", root.resolve(name).toString, 4)

    // crossover far above this tiny table: every trigger stays COW
    val small = mkTarget("small")
    (0 until 3).foreach { i =>
      graft.jobs.WireReplicaJob.applyRouted(routedSlice(i * 2 + 1L, small),
        Seq(small), txnsPerCommit = 1,
        applyMode = TxnApplier.ApplyMode.Auto(crossoverBytes = 1L << 40))
    }
    assert(TxnApplier.maxChainLength(small.targetDir) == 1,
      "a small target under Auto must stay pure COW")
    assert(TxnApplier.targetBytes(small.targetDir) > 0L)

    // crossover of 1 byte: the bootstrapped target is already past it —
    // every trigger goes delta (remeasureCommits=1 probes the size on
    // every trigger, the exact-flip setting)
    val big = mkTarget("big")
    (0 until 3).foreach { i =>
      graft.jobs.WireReplicaJob.applyRouted(routedSlice(i * 2 + 1L, big),
        Seq(big), txnsPerCommit = 1,
        applyMode = TxnApplier.ApplyMode.Auto(crossoverBytes = 1L,
          remeasureCommits = 1L))
    }
    assert(TxnApplier.maxChainLength(big.targetDir) > 1,
      "a past-crossover target under Auto must apply delta")

    // bounded staleness: under the default probe cadence a just-crossed
    // target may keep the stale below-crossover measure for up to
    // remeasureCommits versions — the flip is delayed, never wrong-mode
    // forever (the size probe on object stores is a recursive listing
    // per bucket dir; this bound is what keeps a standing consumer with
    // many small tables from paying it every trigger)
    val lag = mkTarget("lagged")
    (0 until 3).foreach { i =>
      graft.jobs.WireReplicaJob.applyRouted(routedSlice(i * 2 + 1L, lag),
        Seq(lag), txnsPerCommit = 1,
        applyMode = TxnApplier.ApplyMode.Auto(crossoverBytes = 1L,
          remeasureCommits = 1000L))
    }
    assert(TxnApplier.maxChainLength(lag.targetDir) == 1,
      "within the probe cadence the stale 0-byte measure keeps COW")
    assert(!TxnApplier.useDelta(lag.targetDir,
      TxnApplier.ApplyMode.Auto(crossoverBytes = 1L,
        remeasureCommits = 1000L)))
    assert(TxnApplier.useDelta(lag.targetDir,
      TxnApplier.ApplyMode.Auto(crossoverBytes = 1L,
        remeasureCommits = 1L)),
      "a fresh probe sees the crossed size and flips")

    // sticky: with chains live, Auto reports delta even under a huge
    // crossover (a mid-chain COW apply would fold the whole target)
    assert(TxnApplier.useDelta(big.targetDir,
      TxnApplier.ApplyMode.Auto(crossoverBytes = 1L << 40)))

    // both Auto paths land on the same state as a straight COW apply
    // of the same six transactions
    val ref = mkTarget("ref")
    graft.jobs.WireReplicaJob.applyRouted(routed(
      sliceRows(1L).unionByName(sliceRows(3L))
        .unionByName(sliceRows(5L)), Seq(ref)),
      Seq(ref), txnsPerCommit = 1,
      applyMode = TxnApplier.ApplyMode.Cow)
    def st(t: graft.jobs.WireReplicaJob.TableTarget) =
      TxnApplier.readCurrent(spark, t.targetDir)
        .select($"acct", $"balance").as[(Long, Long)].collect().toMap
    assert(st(small) == st(ref) && st(big) == st(ref))
  }

  test("txnsPerCommit = 3: shared and emptied buckets, replayed TSO — every version is its group's state through the merge-on-read") {
    groupingHolds((batch, dir) => TxnApplier.applyBatchDelta(
      probed(batch, Seq("acct"), 4), Seq("acct"), "seq", "op", "tso", dir,
      nBuckets = 4, txnsPerCommit = 3))
  }
}
