package graft.sinks

import org.apache.hadoop.fs.Path

import graft.util.HadoopIo

/** The wire NAME REGISTRY's `_graft_registry` sidecar: the cross-batch
  * half of the decoder's in-segment schema tracking
  * ([[BinlogWire.evolveRegistry]]). MySQL table maps carry no column
  * names, so ACROSS triggers and restarts the evolved registry must
  * persist or a rename would silently misname later segments' cells (a
  * renamed column decodes under its old name, the shape step reads
  * null, data quietly lost). The standing replicas save it after any
  * batch whose stream carried registry-changing DDL, and the
  * `graft-cdc` source's `registryDir` option reads it at decode time.
  *
  * Format: one line per table, `schema \t table \t c1,c2,...`, sorted
  * by (schema, table); written by atomic swap. */
object RegistrySidecar {

  private val FileName = "_graft_registry"

  /** Persist `reg` under `dir` (atomic swap: a crash mid-save leaves
    * the previous registry). Callers save BEFORE committing their
    * position, so a crash between the two replays the DDL segment
    * against the already-evolved registry (position-based decode keeps
    * the values; the apply gates drop the replayed rows). */
  def save(dir: String, reg: Map[(String, String), Seq[String]]): Unit = {
    val dst = new Path(dir, FileName)
    HadoopIo.fsOf(dst).mkdirs(dst.getParent)
    HadoopIo.writeSwap(new Path(dir, s".$FileName.tmp"), dst, serialize(reg))
  }

  /** One registry's sidecar text — the [[merge]] round-trip format,
    * shared by [[save]] and the batch-versioned snapshots
    * ([[graft.streaming.CdcBinlog]]). The delimiter guard refuses at
    * serialize time any schema/table/column name carrying the
    * sidecar's own separators — those would corrupt the file, failing
    * MatchError or silently misbinding columns on resume. */
  private[graft] def serialize(
      reg: Map[(String, String), Seq[String]]): String = {
    reg.foreach { case ((s, t), cols) =>
      require(!(s + t).exists("\t\n".contains(_)),
        s"registry names must not contain tab/newline: '$s'.'$t'")
      require(cols.forall(c => !c.exists(",\t\n".contains(_))),
        s"column names must not contain comma/tab/newline: '$s'.'$t'")
    }
    reg.toSeq.sortBy(t => (t._1._1, t._1._2)).map { case ((s, t), cols) =>
      s"$s\t$t\t${cols.mkString(",")}"
    }.mkString("\n")
  }

  /** The caller's registry with any persisted evolution applied —
    * sidecar entries override matching tables, tables the sidecar
    * never saw keep the caller's value. */
  def resume(dir: String, initial: Map[(String, String), Seq[String]])
      : Map[(String, String), Seq[String]] = {
    val dst = new Path(dir, FileName)
    if (!HadoopIo.fsOf(dst).exists(dst)) initial
    else merge(HadoopIo.readString(dst), initial)
  }

  /** The sidecar-body half of [[resume]], for callers that read the
    * file themselves (executor-side readers carrying an explicit Hadoop
    * conf — the driver's session conf is not active there). */
  private[graft] def merge(sidecarText: String,
      initial: Map[(String, String), Seq[String]])
      : Map[(String, String), Seq[String]] = {
    val saved = sidecarText.split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(s, t, cols) = line.split("\t", 3)
        (s, t) -> cols.split(",").toSeq.filter(_.nonEmpty)
      }.toMap
    initial.map { case (k, v) => k -> saved.getOrElse(k, v) } ++
      (saved -- initial.keySet)
  }

  /** One batch's registry evolution: fold the batch's DDL rows
    * (tso, schemaName, ddl) into `reg`. The rows come from the batch's
    * staging write ([[graft.jobs.WireReplicaJob.stageRouted]], or the
    * Global Binlog's own stage observation) in (tso, ddl) order — the
    * SAME order as applyRouted's target-side fold, so equal-tso
    * statements cannot fold differently into registry vs target schema
    * across a restart. */
  def evolve(ddls: Seq[(Long, String, String)],
      reg: Map[(String, String), Seq[String]])
      : Map[(String, String), Seq[String]] =
    ddls.foldLeft(reg) { case (r, (_, sch, stmt)) =>
      BinlogWire.evolveRegistry(r, sch, stmt)
    }
}
