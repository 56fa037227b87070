package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.jobs.WireReplicaJob
import graft.model.GtidSet
import graft.operators.TxnApplier
import graft.sinks.{BinlogWire, RegistrySidecar}

/** Randomized fuzz over the graft-cdc streaming source: seeded random
  * two-table change streams split across THREE DNs (each its own wire
  * log, own GTID sid, own rotation schedule), revealed in random
  * phases, each phase drained by a RESTARTED checkpointed streaming
  * query whose foreachBatch routes into per-table txn targets with
  * in-stream DDL support. The final state of every table must equal a
  * naive sequential fold of the full op stream — across:
  *
  *  - restarts and multi-DN offset bookkeeping (every phase);
  *  - a mid-stream REBUILD DDL (RENAME COLUMN on one table, planted at
  *    a random transaction — wire registry and decode registry both
  *    evolve mid-fuzz);
  *  - a simulated CRASH between `latestOffset` and `commit` (the last
  *    batch's commit marker deleted, and — randomly — its staged
  *    segments lost too, forcing the covering replay re-dump vs the
  *    staged replay, both of which must be exactly-once);
  *  - a mid-stream PROMOTION of one DN (files renumbered +500 in a
  *    fresh dir — GTID auto-position must not care);
  *  - a byte-capped round (Trigger.AvailableNow catch-up splits every
  *    phase into several bounded batches);
  *  - an extra no-new-data run (which must change nothing).
  */
class CdcSourceFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq("alpha", "beta")
  private val dns = Seq("dn1", "dn2", "dn3")
  private val ddlStmt = "ALTER TABLE alpha RENAME COLUMN v TO v2"

  // (tso, seq, table, op, key, value)
  private type Op = (Long, Long, String, String, Long, String)
  // one global txn: (tso, dn, ops); ops empty = the DDL txn
  private type Txn = (Long, String, Seq[Op])

  private def naive(ops: Seq[Op], table: String): Map[Long, String] =
    ops.filter(_._3 == table).sortBy(o => (o._1, o._2))
      .foldLeft(Map.empty[Long, String]) {
        case (state, (_, _, _, "DELETE", k, _)) => state - k
        case (state, (_, _, _, _, k, v)) => state + (k -> v)
      }

  private def regAt(renamed: Boolean) = Map(
    ("db", "alpha") -> Seq("k", "seq", if (renamed) "v2" else "v"),
    ("db", "beta") -> Seq("k", "seq", "v"))

  private def wireDf(txns: Seq[Txn], renamed: Boolean) = {
    val vcol = if (renamed) "v2" else "v"
    txns.flatMap {
      case (tso, _, Nil) =>
        Seq((tso, tso, "DDL", "db", "alpha",
          Map.empty[String, String], Map.empty[String, String],
          ddlStmt, 1700000000L))
      case (_, _, ops) => ops.map { case (tso, seq, table, op, k, v) =>
        val img = Map("k" -> k.toString, "seq" -> seq.toString,
          (if (table == "alpha") vcol else "v") -> v)
        val (before, after) =
          if (op == "DELETE") (img, Map.empty[String, String])
          else (Map.empty[String, String], img)
        (tso, tso, op, "db", table, before, after, null: String,
          1700000000L)
      }
    }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
      "after", "ddl", "tsoTime")
  }

  test("random 3-DN streams over phased restarts, crash replay, DDL and promotion == sequential fold (2 rounds)") {
    val rnd = new scala.util.Random(20260815L)
    (1 to 2).foreach { round =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-cdcfuzz$round").toString
      val sids = dns.map(dn => dn -> java.util.UUID.fromString(
        f"00000000-0000-4000-8000-${round}%06d${dns.indexOf(dn)}%06d"))
        .toMap
      val dnDirs = scala.collection.mutable.Map(
        dns.map(dn => dn -> s"$root/$dn"): _*)
      dns.foreach(dn => java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dnDirs(dn))))
      val targets = tables.map { t =>
        WireReplicaJob.TableTarget("db", t,
          Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
          Seq("k"), "seq", s"$root/t_$t", 2)
      }
      val registryDir = s"$root/registry"

      // global txns 1..N, each assigned to one DN; one of the middle
      // txns is the rebuild DDL
      var seq = 0L
      val nKeys = 3 + rnd.nextInt(6)
      val nTxn = 15L + rnd.nextInt(16)
      val ddlTso = nTxn / 3 + 1 + rnd.nextInt(nTxn.toInt / 3)
      val txns: Seq[Txn] = (1L to nTxn).map { tso =>
        if (tso == ddlTso) (tso, dns(rnd.nextInt(dns.size)), Nil)
        else {
          val ops = (0 until 1 + rnd.nextInt(3)).map { _ =>
            seq += 1
            val op = rnd.nextInt(4) match {
              case 0 => "INSERT"; case 1 | 2 => "UPDATE"; case _ => "DELETE"
            }
            (tso, seq, tables(rnd.nextInt(tables.size)), op,
              rnd.nextInt(nKeys).toLong, s"v$seq")
          }
          (tso, dns(rnd.nextInt(dns.size)), ops)
        }
      }
      val allOps = txns.flatMap(_._3)

      // random increasing phase cutoffs over the global tso order
      val cuts = (rnd.shuffle((1L until nTxn).toList).take(2).sorted
        :+ nTxn).distinct
      val prior = scala.collection.mutable.Map(
        dns.map(_ -> GtidSet.Empty): _*)
      val fileIdx = scala.collection.mutable.Map(dns.map(_ -> 0): _*)

      // publish (lo, hi] to each DN's log. The wire registry flips at
      // the DDL: the segment carrying post-DDL alpha rows must encode
      // column v2, so a phase spanning the DDL splits into two files.
      def publishPhase(lo: Long, hi: Long): Unit = dns.foreach { dn =>
        val mine = txns.filter(t => t._2 == dn && t._1 > lo && t._1 <= hi)
        val segments = Seq(
          mine.filter(_._1 <= ddlTso) -> false,
          mine.filter(_._1 > ddlTso) -> true).filter(_._1.nonEmpty)
        segments.foreach { case (segTxns, renamed) =>
          val d = java.nio.file.Files
            .createTempDirectory("graft-cdcfuzz-w").toString
          BinlogWire.writeChangeStreamBinlogFiles(
            wireDf(segTxns, renamed).coalesce(1)
              .sortWithinPartitions("tso", "txnId"),
            regAt(renamed), d, checksummed = true,
            gtidSid = Some(sids(dn)), priorExecuted = prior(dn))
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(d, "binlog.000000"),
            java.nio.file.Paths.get(dnDirs(dn),
              f"binlog.${fileIdx(dn)}%06d"))
          fileIdx(dn) += 1
          prior(dn) = segTxns.foldLeft(prior(dn))((s, t) =>
            s.add(sids(dn), t._1))
        }
      }

      // round 2 runs byte-capped: every phase's drain splits into
      // several bounded AvailableNow batches
      val capOpt: Map[String, String] =
        if (round == 2) Map("maxBytesPerPoll" -> "1500") else Map.empty

      def drain(ports: Map[String, Int]): Unit = {
        val q = spark.readStream.format("graft-cdc")
          .options(capOpt)
          .option("endpoints",
            dns.map(dn => s"$dn@localhost:${ports(dn)}").mkString(","))
          .option("user", "repl").option("password", "pw")
          .option("tables",
            tables.map(t => s"db.$t:k,seq,v").mkString(";"))
          .option("registryDir", registryDir)
          .load()
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val staged = WireReplicaJob.stageRouted(
              batch, s"$root/stage", targets)
            WireReplicaJob.applyRouted(staged, targets,
              txnsPerCommit = 1 + rnd.nextInt(3))
            val reg0 = RegistrySidecar.resume(registryDir,
              regAt(renamed = false))
            val evolved = RegistrySidecar.evolve(staged.ddls, reg0)
            if (evolved != reg0)
              RegistrySidecar.save(registryDir, evolved)
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }

      def withServers(body: Map[String, Int] => Unit): Unit = {
        val servers = dns.map(dn =>
          dn -> new graft.sinks.BinlogDumpServer(dnDirs(dn),
            "repl", "pw")).toMap
        try body(servers.view.mapValues(_.port).toMap)
        finally servers.values.foreach(_.close())
      }

      // crash between latestOffset and commit: the last batch's commit
      // marker vanishes, so the restart replays it — randomly with the
      // stage intact (staged replay) or lost (covering re-dump)
      def simulateCrash(): Unit = {
        val commits = new java.io.File(s"$root/ckpt/commits")
        val entries = Option(commits.listFiles()).toSeq.flatten
          .filter(_.getName.forall(_.isDigit))
        if (entries.nonEmpty) {
          val victim = entries.maxBy(_.getName.toInt)
          // the local-FS checksum sidecar must go with it, or the
          // replay's own commit rename collides on the stale .crc
          new java.io.File(commits, s".${victim.getName}.crc").delete()
          victim.delete()
          if (rnd.nextBoolean()) {
            val stage = java.nio.file.Paths.get(s"$root/ckpt/graft-stage")
            if (java.nio.file.Files.exists(stage)) {
              import scala.jdk.CollectionConverters._
              java.nio.file.Files.walk(stage).iterator().asScala.toSeq
                .reverse.foreach(java.nio.file.Files.delete)
            }
          }
        }
      }

      // promotion of one DN before one phase: renumbered files in a
      // fresh dir — the GTID cursor must not notice
      def promote(dn: String): Unit = {
        val promoted = s"$root/promoted-$dn"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(promoted))
        new java.io.File(dnDirs(dn)).listFiles
          .filter(_.getName.startsWith("binlog.")).foreach { f =>
            val n = f.getName.stripPrefix("binlog.").toInt
            java.nio.file.Files.copy(f.toPath,
              java.nio.file.Paths.get(promoted, f"binlog.${n + 500}%06d"))
          }
        dnDirs(dn) = promoted
        fileIdx(dn) += 500
      }

      val crashAfterPhase = rnd.nextInt(cuts.size)
      val promoteBeforePhase = rnd.nextInt(cuts.size)
      val promotedDn = dns(rnd.nextInt(dns.size))

      var lo = 0L
      cuts.zipWithIndex.foreach { case (hi, phase) =>
        if (phase == promoteBeforePhase) promote(promotedDn)
        publishPhase(lo, hi)
        lo = hi
        withServers(drain)
        if (phase == crashAfterPhase) simulateCrash()
      }
      // one more restart with NOTHING new published: it replays any
      // crashed batch, then must change nothing further
      withServers(drain)

      tables.foreach { t =>
        val dataCol = if (t == "alpha") "v2" else "v"
        val got = TxnApplier.readCurrent(spark, s"$root/t_$t")
          .select($"k", col(dataCol)).as[(Long, String)].collect().toMap
        assert(got == naive(allOps, t),
          s"round $round table $t diverged (seed-fixed)")
      }
    }
  }
}
