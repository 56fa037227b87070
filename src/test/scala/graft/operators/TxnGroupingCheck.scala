package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Commit grouping over one batch, shared by the COW and delta apply
  * specs: `txnsPerCommit` = 3 over nine transactions, where consecutive
  * groups rewrite the same bucket, the last group deletes every row of
  * the bucket it touches, and one replayed transaction sits at or below
  * the bootstrapped `lastTso`. Every published version must read as the
  * state a sequential fold reaches at its group's last transaction, and
  * every commit must carry that transaction's TSO. */
trait TxnGroupingCheck extends SparkSpec {

  def groupingHolds(apply: (DataFrame, String) => Seq[TxnApplier.Commit])
      : Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-grouping")
      .resolve("t").toString
    val nBuckets = 4
    val bucket = ((1L to 8L) ++ (100L to 140L)).toDF("acct")
      .select($"acct", Appliers.bucketOf(Seq("acct"), nBuckets))
      .as[(Long, Int)].collect().toMap
    val accts = (1L to 8L).map(_ -> 1000L).toMap
    val hot = bucket(1L) // the bucket the first two groups both rewrite
    val other = (1L to 8L).find(k => bucket(k) != hot).get
    val fresh = (100L to 140L).find(k => bucket(k) != hot).get
    val hotKeys = (1L to 8L).filter(k => bucket(k) == hot)
    // (tso, acct, op, balance); the tso-5 row is a replay below lastTso
    val txns = Seq(
      (5L, other, "UPDATE", 999L),
      (11L, 1L, "UPDATE", 1L), (12L, other, "UPDATE", 2L),
      (13L, fresh, "INSERT", 3L),
      (14L, 1L, "UPDATE", 4L), (15L, other, "UPDATE", 5L),
      (16L, fresh, "UPDATE", 6L)) ++
      // the last group touches only the hot bucket and empties it
      Seq(17L -> Seq(hotKeys.head), 18L -> Seq(hotKeys.last), 19L -> hotKeys)
        .flatMap { case (t, ks) => ks.map(k => (t, k, "DELETE", 0L)) }
    TxnApplier.bootstrap(
      accts.toSeq.map { case (a, b) => (a, 0L, "INSERT", b) }
        .toDF("acct", "seq", "op", "balance"),
      Seq("acct"), dir, nBuckets, initialTso = 10L)
    val batch = txns.zipWithIndex
      .map { case ((t, a, op, b), i) => (a, i.toLong + 1, op, b, t) }
      .toDF("acct", "seq", "op", "balance", "tso")
    val commits = apply(batch, dir)

    def foldTo(tso: Long): Map[Long, Long] =
      txns.filter(t => t._1 > 10L && t._1 <= tso)
        .foldLeft(accts) {
          case (m, (_, a, "DELETE", _)) => m - a
          case (m, (_, a, _, b)) => m + (a -> b)
        }
    assert(commits.map(_.lastTso) == Seq(13L, 16L, 19L))
    assert(commits.map(_.version) == Seq(2L, 3L, 4L))
    assert(TxnApplier.currentCommit(dir).contains(commits.last))
    commits.foreach { c =>
      val got = TxnApplier.readVersion(spark, dir, c.version)
        .select($"acct", $"balance").as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length,
        s"version ${c.version} holds a key twice")
      assert(got.toMap == foldTo(c.lastTso),
        s"version ${c.version} (lastTso ${c.lastTso})")
    }
    assert(!foldTo(19L).keys.exists(k => bucket(k) == hot))
    // a replay of the whole batch is at or below lastTso: no commit
    assert(apply(batch, dir).isEmpty)
    assert(TxnApplier.currentCommit(dir).contains(commits.last))
  }
}
