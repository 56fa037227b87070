package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.jobs.WireReplicaJob
import graft.operators.{Checksum, TxnApplier}
import graft.sinks.BinlogDumpServer
import graft.streaming.CdcReplica

/** `replica_apply`: a standing replica under closed-loop writes, with a
  * validation read after each write. Set-up generates a seeded,
  * TSO-ordered change log cut into small waves (see `ChangeGen` for its
  * shape: one hot and 6 cold tables, uniform keys, insert/update/delete),
  * frames each wave as an unpublished wire file, and computes every
  * wave's expected per-table checksum in plain Scala. One `CdcReplica`
  * query (ProcessingTime(0), default Auto apply mode) reads one dump
  * server. Per wave: publish the file by atomic rename and wait until it
  * is applied (the `apply` op), then read every table back with
  * `TxnApplier.readCurrent` + `Checksum.tableChecksum` and compare (the
  * `read` op). One op is outstanding at a time. */
object ReplicaApply {
  val Hot = "hot"
  val Cold: Seq[String] = (0 until 3).map(i => s"t$i")
  private val Tables = Hot +: Cold
  private val Sid = java.util.UUID.fromString("0a1b2c3d-7777-4444-3333-000000000001")

  /** `keys` is the key space over all tables; wave 0 preloads half of it.
    * A wave holds `txnsPerWave` transactions of 1 to 3 rows. */
  final case class Shape(warmup: Int, waves: Int, txnsPerWave: Int,
      keys: Int)
  def shape(tiny: Boolean, seconds: Int): Shape =
    if (tiny) Shape(warmup = 2, waves = 6, txnsPerWave = 20, keys = 400)
    else Shape(warmup = 5, waves = math.max(120, seconds * 20),
      txnsPerWave = 20, keys = 4000)

  final case class Wave(file: String, rows: Int,
      maxTso: Map[String, Long], expected: Map[String, Option[Long]])

  /** Generates the waves into `pending` and returns their expectations.
    * Wave 0 inserts half the key space in transactions of 100 rows, so the
    * replica starts from tables of steady size after a few commits. */
  def generate(seed: Long, s: Shape, pending: String): IndexedSeq[Wave] = {
    Files.createDirectories(Paths.get(pending))
    val gen = new ChangeGen(seed, Hot, Cold, hotShare = 0.4, keys = s.keys)
    val exp = new ExpectedChecksum(Tables)
    val reg = Wire.registry(Tables)
    var tso = 0L
    (0 until s.warmup + s.waves).map { w =>
      val txns = if (w == 0) {
        val b = Vector.newBuilder[Txn]
        var rows = 0
        while (rows < s.keys / 2) {
          tso += 1
          val t = gen.txn(tso, 100, 100, insertOnly = true)
          rows += t.changes.size
          b += t
        }
        b.result()
      } else (0 until s.txnsPerWave).map { _ =>
        tso += 1
        gen.txn(tso, 1, 3)
      }
      val n = txns.size
      txns.foreach(_.changes.foreach(exp.apply))
      val name = f"binlog.$w%06d"
      Wire.writeFile(Paths.get(pending, name), reg, txns, Sid,
        if (tso == n) Vector.empty else Vector((1L, tso - n + 1)))
      val maxTso = txns.flatMap(t => t.changes.map(_.table -> t.tso))
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).max }
      Wave(name, txns.map(_.changes.size).sum, maxTso, exp.snapshot)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val s = shape(ctx.opts.tiny, ctx.opts.seconds)
    val root = ctx.dir("replica")
    val waves = ctx.fixture(3) { i =>
      val dir = s"$root/gen$i"
      (dir, generate(ctx.opts.seed, s, s"$dir/pending"))
    }
    val (genDir, ws) = waves
    val pending = s"$genDir/pending"
    val served = ctx.dir("replica/served")
    val targets = Tables.map(t => WireReplicaJob.TableTarget(Wire.Schema, t,
      Seq("k" -> "bigint", "seq" -> "bigint", "v" -> "string"),
      Seq("k"), "seq", s"$root/target/$t", ctx.opts.cores))
    val dirOf = targets.map(t => t.tableName -> t.targetDir).toMap

    def publish(w: Wave): Unit = Files.move(Paths.get(pending, w.file),
      Paths.get(served, w.file), StandardCopyOption.ATOMIC_MOVE)

    def lastTso(t: String): Long = TxnApplier.currentCommit(dirOf(t))
      .map(_.lastTso).getOrElse(-1L)

    val server = new BinlogDumpServer(served, "repl", "pw")
    publish(ws(0))
    val q = CdcReplica.start(spark, Seq(("dn0", "localhost", server.port)),
      "repl", "pw", Wire.registry(Tables), targets,
      s"$root/ckpt", s"$root/staging", s"$root/registry",
      trigger = Trigger.ProcessingTime(0L))

    /** Waits until every table the wave touched has committed its TSO. */
    def awaitApplied(w: Wave): Unit = {
      var rounds = 0
      q.processAllAvailable()
      while (!w.maxTso.forall { case (t, m) => lastTso(t) >= m }) {
        rounds += 1
        require(rounds < 1000, s"wave ${w.file} never applied")
        q.processAllAvailable()
      }
    }

    def read(w: Wave): Unit = {
      val sums = Tables.map(t => Checksum.tableChecksum(
        TxnApplier.readCurrent(spark, dirOf(t)).select("k", "seq", "v"),
        Wire.Cols).select(lit(t).as("t"), col("checksum")))
        .reduce(_ union _).collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) None
          else Some(r.getLong(1)))).toMap
      ctx.result.check(sums == w.expected,
        s"replica read after ${w.file}: $sums, expected ${w.expected}")
    }

    try {
      ctx.warmup {
        val walls = (0 until s.warmup).map { i =>
          Stats.timedMs {
            if (i > 0) publish(ws(i))
            awaitApplied(ws(i))
            read(ws(i))
          }._2.round
        }
        System.err.println(s"[perfbench] warm-up walls (ms): ${walls.mkString(" ")}")
      }
      val versions0 = Tables.map(t => t -> lastVersion(dirOf(t))).toMap
      TxnApplier.drainCompactionLog()
      val applyMs = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
      val readMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
      val cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
      var rows = 0L
      var traced = 0
      val n = ctx.loop(minOps = 1, maxOps = s.waves) { (i, on) =>
        val w = ws(s.warmup + i)
        val c0 = Stats.cpuNs()
        val (_, aMs) = ctx.traced(on) {
          Stats.timedMs(ctx.trace.span("apply") { publish(w); awaitApplied(w) })
        }
        val (_, rMs) = ctx.traced(on) {
          Stats.timedMs(ctx.trace.span("read")(read(w)))
        }
        cpu += (Stats.cpuNs() - c0) / 1e9
        applyMs += ((aMs, on))
        readMs += rMs
        passS += (aMs + rMs) / 1000.0
        rows += w.rows
        if (on) traced += 1
      }
      val r = ctx.result
      if (!ctx.opts.trace) {
        r.put("op_ms", Stats.median(applyMs.map(_._1).toSeq), "ms")
        r.put("pass_s", Stats.median(passS.toSeq), "s")
        r.put("rows_per_s", rows / (applyMs.map(_._1).sum / 1000.0), "1/s")
        r.put("cpu_s", Stats.median(cpu.toSeq), "s")
      } else {
        Layers.streaming(ctx, traced)
        Layers.overhead(ctx, applyMs.toSeq)
        Layers.spans(ctx, Seq("apply" -> traced, "read" -> traced))
        r.put("replica.apply_ms_p90",
          Stats.quantile(applyMs.map(_._1).toSeq, 0.9), "ms")
        r.put("replica.read_ms_p50", Stats.median(readMs.toSeq), "ms")
        r.put("operators.commits", Tables.map(t =>
          lastVersion(dirOf(t)) - versions0(t)).sum.toDouble / n, "count")
        r.put("operators.versions", Tables.map(t =>
          TxnApplier.versions(dirOf(t)).size).sum.toDouble, "count")
        r.put("operators.target_bytes", Tables.map(t =>
          TxnApplier.targetBytes(dirOf(t))).sum.toDouble, "bytes")
        r.put("operators.max_chain", Tables.map(t =>
          TxnApplier.maxChainLength(dirOf(t))).max.toDouble, "count")
        r.put("operators.compactions",
          TxnApplier.drainCompactionLog().size.toDouble, "count")
      }
      System.err.println(s"[perfbench] replica_apply: $n waves, $rows rows")
    } finally {
      q.stop()
      server.close()
    }
  }

  private def lastVersion(dir: String): Long =
    TxnApplier.currentCommit(dir).map(_.version).getOrElse(0L)
}
