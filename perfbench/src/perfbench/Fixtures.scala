package perfbench

import java.nio.file.{Files, Path}

import graft.sinks.BinlogWire
import graft.sinks.BinlogWire.{ColSpec, VarChar}

/** One row change of the generated change log. `before` is the image the
  * key held before this change (None for an INSERT). */
final case class Change(op: String, table: String, k: Long, seq: Long,
    v: String, before: Option[(Long, String)])

/** One source transaction: every change commits at `tso`, and the
  * transaction id is the tso itself. */
final case class Txn(tso: Long, changes: Vector[Change])

/** Seeded value strings of 9 to 25 characters. */
object Values {
  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  def next(rnd: java.util.Random): String = {
    val n = 8 + rnd.nextInt(17)
    val sb = new StringBuilder("v")
    (0 until n).foreach(_ => sb += alphabet.charAt(rnd.nextInt(alphabet.length)))
    sb.toString
  }
}

/** Seeded change generator in the shape of the repo's own replica
  * workloads: `ScaleRehearsalJob`'s one hot table taking `hotShare` of the
  * rows beside cold tables, and `RoutedReplicaFuzzSpec`'s op mix (INSERT
  * 1/4, UPDATE 2/4, DELETE 1/4) over uniformly drawn keys. The `keys`
  * key space is split over the tables by their share of the rows, so the
  * hot table is the largest, as in `ScaleRehearsalJob`. An INSERT takes
  * a key absent from its table and an UPDATE or DELETE a present one, so
  * inserts and deletes balance and a table keeps its size on average. It
  * keeps the current image of every key, so the UPDATE/DELETE
  * before-images are exact and the expected replica state is known
  * without running the engine. */
final class ChangeGen(seed: Long, val hot: String, val cold: Seq[String],
    hotShare: Double, keys: Int) {
  private val rnd = new java.util.Random(seed)
  private var seqNo = 0L

  val tables: Seq[String] = hot +: cold

  /** Keys 1..size of one table: `perm(0 until present)` are in the table,
    * the rest are absent; a pick swaps a key across the boundary. */
  private final class KeyPool(val size: Int) {
    val perm: Array[Long] = Array.tabulate(size)(i => i + 1L)
    var present = 0
    private def swap(i: Int, j: Int): Unit = {
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    def anyPresent: Long = perm(rnd.nextInt(present))
    def insert(k: Long): Unit = {
      swap(perm.indexOf(k, present), present); present += 1
    }
    def delete(k: Long): Unit = {
      present -= 1; swap(perm.indexOf(k), present)
    }
    def anyAbsent: Long = perm(present + rnd.nextInt(size - present))
  }
  private val pools = tables.map(t => t -> new KeyPool(math.max(1,
    (keys * (if (t == hot) hotShare else (1 - hotShare) / cold.size)).toInt)))
    .toMap

  /** Current image per table: key -> (seq, v). */
  val state: Map[String, scala.collection.mutable.LongMap[(Long, String)]] =
    tables.map(_ -> scala.collection.mutable.LongMap.empty[(Long, String)])
      .toMap

  private def pickTable(): String =
    if (rnd.nextDouble() < hotShare) hot else cold(rnd.nextInt(cold.size))

  /** A transaction of minRows..maxRows changes; a key is touched at most
    * once per transaction, so the apply order inside it never matters.
    * `insertOnly` makes every change an INSERT (the preload). */
  def txn(tso: Long, minRows: Int, maxRows: Int,
      insertOnly: Boolean = false): Txn = {
    val n = minRows + rnd.nextInt(maxRows - minRows + 1)
    val out = Vector.newBuilder[Change]
    val seen = scala.collection.mutable.Set.empty[(String, Long)]
    var tries = 0
    while (seen.size < n && tries < 4 * n) {
      tries += 1
      val t = pickTable()
      val pool = pools(t)
      val op = if (insertOnly) 0 else rnd.nextInt(4)
      val insert = pool.present == 0 || (op == 0 && pool.present < pool.size)
      val k = if (insert) pool.anyAbsent else pool.anyPresent
      if (seen.add((t, k))) out += changeOn(t, k, insert, delete = op == 3)
    }
    Txn(tso, out.result())
  }

  private def changeOn(t: String, k: Long, insert: Boolean,
      delete: Boolean): Change = {
    val st = state(t)
    seqNo += 1
    if (insert) {
      val v = Values.next(rnd)
      st.update(k, (seqNo, v))
      pools(t).insert(k)
      Change("INSERT", t, k, seqNo, v, None)
    } else {
      val old = st(k)
      if (delete) {
        st.remove(k)
        pools(t).delete(k)
        Change("DELETE", t, k, old._1, old._2, Some(old))
      } else {
        val v = Values.next(rnd)
        st.update(k, (seqNo, v))
        Change("UPDATE", t, k, seqNo, v, Some(old))
      }
    }
  }
}

/** Frames generated transactions as binlog wire files with the engine's
  * public event builders, in the layout
  * `BinlogWire.writeChangeStreamBinlogFiles` gives a one-partition change
  * stream: FDE, PREVIOUS_GTIDS, then per transaction GTID(gno = tso),
  * CTS mark, BEGIN, TABLE_MAP + ROWS per change, XID commit. Writing in
  * plain Scala keeps fixture generation free of Spark jobs. */
object Wire {
  val Schema = "db"
  val Cols: Seq[String] = Seq("k", "seq", "v")
  private val Ts = 1700000000L
  private val ServerId = 1L

  def registry(tables: Seq[String]): Map[(String, String), Seq[String]] =
    tables.map(t => (Schema, t) -> Cols).toMap

  /** Half-open [lo, hi) intervals covering the sorted gnos. */
  def intervals(gnos: Seq[Long]): Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var lo = Long.MinValue
    var hi = Long.MinValue
    gnos.foreach { g =>
      if (lo == Long.MinValue) { lo = g; hi = g + 1 }
      else if (g == hi) hi = g + 1
      else { out += ((lo, hi)); lo = g; hi = g + 1 }
    }
    if (lo != Long.MinValue) out += ((lo, hi))
    out.result()
  }

  def writeFile(path: Path, reg: Map[(String, String), Seq[String]],
      txns: Seq[Txn], sid: java.util.UUID,
      prior: Vector[(Long, Long)]): Unit = {
    import BinlogWire._
    val tableIds: Map[(String, String), Long] =
      reg.keys.toSeq.sorted.zipWithIndex.map { case (k, i) => k -> (i + 1L) }
        .toMap
    val specs: Map[(String, String), Seq[ColSpec]] =
      reg.map { case (k, cols) => k -> cols.map(c => ColSpec(c, VarChar(65535))) }
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path))
    try {
      val w = new FileWriter(out, checksummed = true)
      w.write(formatDescription(Ts, ServerId, checksummed = true))
      w.write(previousGtidsEvent(Ts, ServerId,
        if (prior.isEmpty) Seq.empty else Seq(sid -> prior)))
      txns.foreach { t =>
        w.write(gtidEvent(Ts, ServerId, sid, t.tso))
        w.write(markEvent(Ts, ServerId, s"CTS::${t.tso}"))
        w.write(beginEvent(Ts, ServerId))
        t.changes.foreach { c =>
          val key = (Schema, c.table)
          val sp = specs(key)
          val tid = tableIds(key)
          def img(k: Long, seq: Long, v: String) =
            rowImage(sp, Seq(Some(k.toString), Some(seq.toString), Some(v)))
          w.write(tableMap(Ts, ServerId, tid, Schema, c.table, sp))
          w.write(c.op match {
            case "DELETE" =>
              rowsEvent(Ts, ServerId, DeleteRowsEventV2, tid, sp,
                Seq(img(c.k, c.seq, c.v)))
            case "UPDATE" =>
              val (os, ov) = c.before.get
              rowsEvent(Ts, ServerId, UpdateRowsEventV2, tid, sp,
                Seq(img(c.k, os, ov), img(c.k, c.seq, c.v)))
            case _ =>
              rowsEvent(Ts, ServerId, WriteRowsEventV2, tid, sp,
                Seq(img(c.k, c.seq, c.v)))
          })
        }
        w.write(commitEvent(Ts, ServerId, t.tso))
      }
    } finally out.close()
  }
}

/** The replica's expected table state as a running checksum, equal to
  * `graft.operators.Checksum.tableChecksum(df, Seq("k", "seq", "v"))`:
  * bit_xor over rows of crc32("k,seq,v,0,0,0"), null for an empty table. */
final class ExpectedChecksum(tables: Seq[String]) {
  private val xor = scala.collection.mutable.Map(tables.map(_ -> 0L): _*)
  private val rows = scala.collection.mutable.Map(tables.map(_ -> 0L): _*)

  private def crc(k: Long, seq: Long, v: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s"$k,$seq,$v,0,0,0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  def apply(c: Change): Unit = {
    c.before.foreach { case (s, v) =>
      xor(c.table) ^= crc(c.k, s, v); rows(c.table) -= 1 }
    if (c.op != "DELETE") {
      xor(c.table) ^= crc(c.k, c.seq, c.v); rows(c.table) += 1 }
  }

  def snapshot: Map[String, Option[Long]] =
    xor.toMap.map { case (t, x) => t -> (if (rows(t) == 0) None else Some(x)) }
}
