package graft.jobs

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.GtidSet
import graft.operators.TxnApplier
import graft.sinks.BinlogWire
import graft.streaming.CdcBinlog

/** The reference QA suite's TRANSFER consistency scenario
  * (polardbx-cdc-test/.../binlog/TransferTest.java): random money
  * transfers — including CROSS-DN XA transactions whose two branches
  * share one commit TSO — flow DN logs → live Global-Binlog production
  * → wire replica, and the conservation invariant (total balance
  * constant) must hold not just at the end but at EVERY committed
  * version of the downstream target: a transfer is atomic or absent,
  * never half-visible. TxnApplier's versioned commits make the
  * invariant directly assertable per txn boundary. */
class TransferConsistencySpec extends SparkSpec {
  import spark.implicits._

  private val reg = Map(
    ("bank", "account") -> Seq("id", "seq", "balance"),
    ("bank", "hb") -> Seq("k"))

  test("random XA transfers: sum(balance) invariant at EVERY downstream commit version") {
    val rnd = new scala.util.Random(20260815L)
    val root = java.nio.file.Files.createTempDirectory("graft-transfer")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val sid1 = java.util.UUID.fromString(
      "0a1b2c3d-1717-4444-3333-000000000001")
    val sid2 = java.util.UUID.fromString(
      "0a1b2c3d-1717-4444-3333-000000000002")

    // 10 accounts, 100 each; account -> DN by parity (a sharded bank)
    val nAccounts = 10
    val balances = scala.collection.mutable.Map(
      (0 until nAccounts).map(_ -> 100L): _*)
    def dnOf(acct: Int): Int = acct % 2

    // 20 transfers at tso 1..20; roughly half are CROSS-DN (XA): the
    // debit and credit rows go to DIFFERENT DN logs under ONE txnId
    // and ONE commit tso — the merger must fuse and the replica must
    // apply them atomically
    case class Leg(tso: Long, acct: Int, balBefore: Long, balAfter: Long)
    val legsByDn = Array(Vector.newBuilder[Leg], Vector.newBuilder[Leg])
    var crossDn = 0
    (1L to 20L).foreach { tso =>
      val from = rnd.nextInt(nAccounts)
      var to = rnd.nextInt(nAccounts)
      while (to == from) to = rnd.nextInt(nAccounts)
      if (dnOf(from) != dnOf(to)) crossDn += 1
      val amount = 1L + rnd.nextInt(10)
      val fb = balances(from); val tb = balances(to)
      balances(from) = fb - amount
      balances(to) = tb + amount
      legsByDn(dnOf(from)) += Leg(tso, from, fb, fb - amount)
      legsByDn(dnOf(to)) += Leg(tso, to, tb, tb + amount)
    }
    assert(crossDn >= 5, s"seed must yield XA coverage, got $crossDn")

    def legDf(legs: Seq[Leg], hbTso: Long) = {
      val rows = legs.map(l =>
        (l.tso, l.tso, "UPDATE", "bank", "account",
          Map("id" -> l.acct.toString, "seq" -> (l.tso - 1).toString,
            "balance" -> l.balBefore.toString),
          Map("id" -> l.acct.toString, "seq" -> l.tso.toString,
            "balance" -> l.balAfter.toString),
          null: String, 1700000000L)) :+
        ((hbTso, hbTso, "INSERT", "bank", "hb",
          Map.empty[String, String], Map("k" -> hbTso.toString),
          null: String, 1700000000L))
      rows.toDF("tso", "txnId", "op", "schemaName", "tableName",
        "before", "after", "ddl", "tsoTime")
    }
    def publish(df: org.apache.spark.sql.DataFrame, sid: java.util.UUID,
        intoDir: String): Unit = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-transfer-w").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        df.coalesce(1).sortWithinPartitions("tso"), reg, d,
        checksummed = true, gtidSid = Some(sid),
        priorExecuted = GtidSet.Empty)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "binlog.000000"),
        java.nio.file.Paths.get(intoDir, "binlog.000000"))
      ()
    }
    publish(legDf(legsByDn(0).result(), 100L), sid1, d1)
    publish(legDf(legsByDn(1).result(), 101L), sid2, d2)

    // produce the global binlog from the two DN logs
    val srvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    try {
      val q = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", srvs(0).port),
          ("dn2", "localhost", srvs(1).port)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("bank", "hb")),
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    } finally srvs.foreach(_.close())

    // the replica: bootstrap the initial 10x100 state, then apply the
    // produced log one transaction per commit — every version is a
    // transaction boundary
    val targetDir = s"$root/target"
    TxnApplier.bootstrap(
      (0 until nAccounts).map(a => (a.toLong, 0L, 100L))
        .toDF("id", "seq", "balance"),
      Seq("id"), targetDir, 4)
    WireTail.replicate(spark, out, reg,
      Seq(WireReplicaJob.TableTarget("bank", "account",
        Seq("id" -> "bigint", "seq" -> "bigint", "balance" -> "bigint"),
        Seq("id"), "seq", targetDir, 4)),
      s"$root/replica-ckpt", txnsPerCommit = 1)

    // final state matches the fixture's books exactly
    val finalState = TxnApplier.readCurrent(spark, targetDir)
      .select($"id", $"balance").as[(Long, Long)].collect().toMap
    assert(finalState == balances.map { case (a, b) => a.toLong -> b }
      .toMap)

    // THE invariant: at every committed version — bootstrap, and one
    // per applied transaction — the bank holds exactly 1000. A split
    // transaction (one XA branch visible without the other) would
    // break conservation at its version.
    val versions = TxnApplier.versions(targetDir)
    assert(versions.size >= 21,
      s"one version per txn expected, got ${versions.size}")
    versions.foreach { v =>
      val sum = TxnApplier.readVersion(spark, targetDir, v)
        .agg(org.apache.spark.sql.functions.sum($"balance"))
        .head().getLong(0)
      assert(sum == 1000L,
        s"version $v leaked money: total $sum — a transaction was " +
          "half-applied")
    }
  }

  test("LIVE chain under ProcessingTime: concurrent transfer workload → CdcBinlog → dump-served CdcReplica; conservation at every downstream poll and every committed version") {
    val rnd = new scala.util.Random(20260816L)
    val root = java.nio.file.Files.createTempDirectory("graft-transfer-live")
    val (d1, d2) = (s"$root/dn1", s"$root/dn2")
    Seq(d1, d2).foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val out = s"$root/out"
    val sids = Array(
      java.util.UUID.fromString("0a1b2c3d-1718-4444-3333-000000000001"),
      java.util.UUID.fromString("0a1b2c3d-1718-4444-3333-000000000002"))
    val gsid = java.util.UUID.fromString(
      "0a1b2c3d-1718-4444-3333-00000000000f")

    val nAccounts = 10
    val balances = scala.collection.mutable.Map(
      (0 until nAccounts).map(_ -> 100L): _*)
    def dnOf(acct: Int): Int = acct % 2

    case class Leg(tso: Long, acct: Int, balBefore: Long, balAfter: Long)
    def wave(tsos: Range): Array[Vector[Leg]] = {
      val byDn = Array(Vector.newBuilder[Leg], Vector.newBuilder[Leg])
      tsos.foreach { t =>
        val tso = t.toLong
        val from = rnd.nextInt(nAccounts)
        var to = rnd.nextInt(nAccounts)
        while (to == from) to = rnd.nextInt(nAccounts)
        val amount = 1L + rnd.nextInt(10)
        val fb = balances(from); val tb = balances(to)
        balances(from) = fb - amount
        balances(to) = tb + amount
        byDn(dnOf(from)) += Leg(tso, from, fb, fb - amount)
        byDn(dnOf(to)) += Leg(tso, to, tb, tb + amount)
      }
      byDn.map(_.result())
    }
    def legDf(legs: Seq[Leg], hbTso: Long) = {
      val rows = legs.map(l =>
        (l.tso, l.tso, "UPDATE", "bank", "account",
          Map("id" -> l.acct.toString, "seq" -> (l.tso - 1).toString,
            "balance" -> l.balBefore.toString),
          Map("id" -> l.acct.toString, "seq" -> l.tso.toString,
            "balance" -> l.balAfter.toString),
          null: String, 1700000000L)) :+
        ((hbTso, hbTso, "INSERT", "bank", "hb",
          Map.empty[String, String], Map("k" -> hbTso.toString),
          null: String, 1700000000L))
      rows.toDF("tso", "txnId", "op", "schemaName", "tableName",
        "before", "after", "ddl", "tsoTime")
    }
    // ATOMIC live publish: encode to a scratch dir, copy to a
    // dot-named temp (invisible to the dump server's binlog. listing),
    // rename into place — the standing servers must never see a torn
    // file mid-append
    val executed = Array(GtidSet.Empty, GtidSet.Empty)
    def publishWave(dn: Int, legs: Seq[Leg], hbTso: Long,
        idx: Int): Unit = {
      val dnDir = if (dn == 0) d1 else d2
      val scratch = java.nio.file.Files
        .createTempDirectory("graft-transfer-lw").toString
      BinlogWire.writeChangeStreamBinlogFiles(
        legDf(legs, hbTso).coalesce(1).sortWithinPartitions("tso"),
        reg, scratch, checksummed = true, gtidSid = Some(sids(dn)),
        priorExecuted = executed(dn))
      legs.foreach(l => executed(dn) = executed(dn).add(sids(dn), l.tso))
      executed(dn) = executed(dn).add(sids(dn), hbTso)
      val tmp = java.nio.file.Paths.get(dnDir, f".binlog.$idx%06d.tmp")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(scratch, "binlog.000000"), tmp)
      java.nio.file.Files.move(tmp,
        java.nio.file.Paths.get(dnDir, f"binlog.$idx%06d"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }

    // wave 0 seeds both logs so the production has a first frontier.
    // Heartbeat TSOs INTERLEAVE with the data (wave w: data 100w+1…,
    // heartbeats at 100w+50/51): a frontier is a PROMISE that the DN
    // delivered everything below it — heartbeating far above data
    // still in flight would let the barrier emit one XA leg without
    // its sibling (that is exactly what the barrier exists to prevent)
    val w0 = wave(1 to 5)
    publishWave(0, w0(0), 50L, 0)
    publishWave(1, w0(1), 51L, 0)

    val targetDir = s"$root/target"
    TxnApplier.bootstrap(
      (0 until nAccounts).map(a => (a.toLong, 0L, 100L))
        .toDF("id", "seq", "balance"),
      Seq("id"), targetDir, 4)
    val target = WireReplicaJob.TableTarget("bank", "account",
      Seq("id" -> "bigint", "seq" -> "bigint", "balance" -> "bigint"),
      Seq("id"), "seq", targetDir, 4)

    val dnSrvs = Seq(d1, d2).map(d =>
      new graft.sinks.BinlogDumpServer(d, "repl", "pw"))
    var outSrv: graft.sinks.BinlogDumpServer = null
    var producer: org.apache.spark.sql.streaming.StreamingQuery = null
    var consumer: org.apache.spark.sql.streaming.StreamingQuery = null
    val pollSums = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        try {
          val cur = TxnApplier.readCurrent(spark, targetDir)
            .agg(org.apache.spark.sql.functions.sum($"balance"))
            .head().getLong(0)
          pollSums.add(cur)
        } catch { case _: Exception => () } // racing a commit swap
        Thread.sleep(50L)
      }
    }, "transfer-live-sampler")
    try {
      producer = CdcBinlog.start(spark,
        Seq(("dn1", "localhost", dnSrvs(0).port),
          ("dn2", "localhost", dnSrvs(1).port)),
        "repl", "pw", reg, out, s"$root/ckpt", s"$root/work",
        numPartitions = 2, heartbeatTables = Set(("bank", "hb")),
        trigger = Trigger.ProcessingTime(100L), gtidSid = Some(gsid))
      // wait for the out log to exist before serving it
      val deadline0 = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!new java.io.File(out).isDirectory &&
          System.nanoTime() < deadline0) Thread.sleep(50L)
      assert(new java.io.File(out).isDirectory, "production never wrote")
      outSrv = new graft.sinks.BinlogDumpServer(out, "repl", "pw")
      consumer = graft.streaming.CdcReplica.start(spark,
        Seq(("gb", "localhost", outSrv.port)), "repl", "pw",
        Map(("bank", "account") -> Seq("id", "seq", "balance")),
        Seq(target), s"$root/replica-ckpt", s"$root/replica-stage",
        s"$root/replica-registry", txnsPerCommit = 1,
        trigger = Trigger.ProcessingTime(100L))
      sampler.start()

      // the CONCURRENT workload: three more waves land while both
      // queries run (heartbeats above each wave release its barrier)
      (1 to 3).foreach { w =>
        Thread.sleep(400L)
        val legs = wave((w * 100 + 1) to (w * 100 + 5))
        publishWave(0, legs(0), w * 100L + 50L, w)
        publishWave(1, legs(1), w * 100L + 51L, w)
      }

      // wait until the replica converges to the books
      val want = balances.map { case (a, b) => a.toLong -> b }.toMap
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var done = false
      while (!done && System.nanoTime() < deadline) {
        Thread.sleep(200L)
        val cur = TxnApplier.readCurrent(spark, targetDir)
          .select($"id", $"balance").as[(Long, Long)].collect().toMap
        done = cur == want
      }
      assert(done, "replica never converged to the transfer books; " +
        s"got ${TxnApplier.readCurrent(spark, targetDir)
          .select($"id", $"balance").as[(Long, Long)].collect().toMap}")
    } finally {
      sampling = false
      sampler.join(5000L)
      if (consumer != null) consumer.stop()
      if (producer != null) producer.stop()
      if (outSrv != null) outSrv.close()
      dnSrvs.foreach(_.close())
    }

    // every LIVE downstream poll observed a conserved bank
    val sums = pollSums.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(sums.nonEmpty, "the sampler must observe live polls")
    assert(sums.forall(_ == 1000L),
      s"a live poll observed a half-applied transfer: ${sums.toSeq
        .filter(_ != 1000L).take(5)}")
    // and every committed version is a transaction boundary that
    // conserves — the TransferTest invariant on the whole live run
    val versions = TxnApplier.versions(targetDir)
    assert(versions.size >= 21,
      s"one version per txn expected, got ${versions.size}")
    versions.foreach { v =>
      val sum = TxnApplier.readVersion(spark, targetDir, v)
        .agg(org.apache.spark.sql.functions.sum($"balance"))
        .head().getLong(0)
      assert(sum == 1000L, s"version $v leaked money: total $sum")
    }
  }
}
