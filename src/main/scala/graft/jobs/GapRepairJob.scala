package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Staged, TxnApplier, Validation}
import graft.sinks.{BinlogCatalog, BinlogWire}

/** Targeted repair of SEALED GAPS: when a force-completed Global-Binlog
  * production resumed with `sealedGapSkip`, the sealed-out transactions
  * were dropped from the served log and recorded in
  * `<outDir>/_GAPS/<batchId>` — every downstream replica that consumed
  * the log is silently missing them. This job closes the loop the
  * reference drives through validation-coordinated reconciliation
  * (polardbx-cdc-rpl/.../validation/ValidationCoordinator.java:27 →
  * validation/reconciliation/): read the gap records, decode the
  * dropped transactions from the source DNs' own logs to learn the
  * affected keys, diff SOURCE state vs REPLICA state scoped to exactly
  * those keys, apply the reconciliation batch through the replica's
  * own transactional applier, and archive the repaired record.
  *
  * Why state-diff instead of replaying the dropped events: the replica's
  * apply gate (TxnApplier: `tso > lastTso`) has already advanced past
  * the sealed barrier, so the old-TSO events would be dropped — and
  * replaying them blindly could clobber NEWER images the replica
  * already holds for the same keys. The scoped diff converges the
  * replica to current source truth without either failure mode, exactly
  * the reference's reconciliation semantics.
  *
  * Scale shape: the gap record is driver-small by construction (one
  * line per sealed-out transaction of one stall window). Decode of the
  * dropped transactions prunes source-log files below the gap's min TSO
  * by NAME (`BinlogCatalog.seekTso` → `readBinlogFiles(minFileName)`),
  * the affected-key set is O(gap) and broadcast, and both diff sides
  * are semi-join-narrowed to it before the full-outer diff — repair
  * cost scales with the gap, never with the table.
  */
object GapRepairJob {

  /** One `_GAPS/<batchId>` record: the sealed barrier and the dropped
    * transactions as (dn, txnId, commitTso). */
  final case class Gap(batchId: Long, sealedBarrier: Long,
      entries: Seq[(String, Long, Long)])

  /** Per-table repair outcome (counts are O(gap)-bounded). */
  final case class TableRepair(schemaName: String, tableName: String,
      affectedKeys: Long, missing: Long, orphans: Long, mismatched: Long) {
    def repaired: Long = missing + orphans + mismatched
  }

  private def gapsDir(outDir: String) = new Path(s"$outDir/_GAPS")

  /** Pending (un-archived) gap records, oldest batch first. */
  def readGaps(spark: SparkSession, outDir: String): Seq[Gap] = {
    val dir = gapsDir(outDir)
    val fs = graft.util.HadoopIo.fsOf(dir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.forall(_.isDigit))
      .map { st =>
        val lines = graft.util.HadoopIo.readString(st.getPath)
          .split("\n").toSeq.filter(_.nonEmpty)
        val barrier = lines.headOption match {
          case Some(h) if h.startsWith("sealedBarrier=") =>
            h.stripPrefix("sealedBarrier=").toLong
          case other => sys.error(
            s"malformed gap record ${st.getPath}: first line $other")
        }
        Gap(st.getPath.getName.toLong, barrier,
          lines.tail.map { l =>
            l.split(",") match {
              case Array(dn, txn, tso) => (dn, txn.toLong, tso.toLong)
              case _ => sys.error(
                s"malformed gap line '$l' in ${st.getPath}")
            }
          })
      }
      .sortBy(_.batchId)
  }

  /** The dropped transactions' change events, decoded from each source
    * DN's OWN log (which still holds them — the seal dropped them from
    * the merged output, not from the sources). Files wholly below the
    * DN's min gap TSO are pruned by name and never opened. */
  def droppedEvents(spark: SparkSession, dnDirs: Map[String, String],
      tableCols: Map[(String, String), Seq[String]],
      gaps: Seq[Gap]): DataFrame = {
    import spark.implicits._
    val byDn: Map[String, Seq[Long]] = gaps.flatMap(_.entries)
      .groupBy(_._1).view.mapValues(_.map(_._3).distinct).toMap
    val parts = byDn.toSeq.sortBy(_._1).flatMap { case (dn, tsos) =>
      dnDirs.get(dn).map { dir =>
        // seekTso finds the first txn STRICTLY ABOVE its argument, so
        // seek min-1 — seeking min itself would skip the gap txn's own
        // file whenever that txn is the last one in a non-final file
        val startFile = BinlogCatalog.seekTso(spark, dir, tsos.min - 1L)._1
        val tsoDf = tsos.toDF("__gaptso")
        BinlogWire.readBinlogFiles(spark, dir, tableCols,
            minFileName = Some(startFile).filter(_.nonEmpty))
          .join(broadcast(tsoDf), col("tso") === col("__gaptso"),
            "left_semi")
      }
    }
    val missingDns = byDn.keySet -- dnDirs.keySet
    require(missingDns.isEmpty,
      s"gap records name DN(s) with no log dir: ${missingDns.mkString(",")}")
    parts.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
        BinlogWire.readBinlogFiles(spark, dnDirs.values.headOption
          .getOrElse(sys.error("no DN dirs")), tableCols).schema))
  }

  /** Source truth for a repair target reconstructed from the DN logs
    * themselves: decode → last image per key (DELETEs erase). The
    * test/fallback source-of-truth — production deployments with
    * scannable source tables should pass a direct table scan to
    * [[repair]] instead.
    *
    * `minTso` floors the decode the same way [[droppedEvents]] does
    * (`seekTso` → `readBinlogFiles(minFileName)`): files wholly below
    * the gap's min TSO are pruned BY NAME and never decoded. Sound for
    * the repair scope because row images are full-row — any key a gap
    * transaction touched has its latest image at or after that
    * transaction's TSO, so the floored last-image fold agrees with the
    * unfloored one on every affected key (keys visible only below the
    * floor are not affected and are semi-joined away by [[repair]]).
    * Without `minTso` the whole log is read — correct, but O(log). */
  def srcStateFromLogs(spark: SparkSession, dnDirs: Seq[String],
      tableCols: Map[(String, String), Seq[String]],
      t: WireReplicaJob.TableTarget,
      minTso: Option[Long] = None): DataFrame = {
    val colTypes = TxnApplier.targetSchema(t.targetDir)
      .map(_.fields.toSeq.map(f => f.name -> f.dataType.sql))
      .getOrElse(t.colTypes)
    val decoded = dnDirs.map { d =>
        // seek minTso-1: seekTso is strictly-above, and the floor must
        // keep the file holding the first event AT minTso
        val floor = minTso
          .map(ts => BinlogCatalog.seekTso(spark, d, ts - 1L)._1)
          .filter(_.nonEmpty)
        BinlogWire.readBinlogFiles(spark, d, tableCols,
          minFileName = floor)
      }
      .reduce(_.unionByName(_))
    val typed = WireReplicaJob.shape(decoded, t.schemaName, t.tableName,
      colTypes, keyCols = t.keyCols)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(t.keyCols.map(col): _*)
      .orderBy(col("tso").desc, col(t.seqCol).desc)
    typed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "DELETE")
      .drop("__rn", "op", "tso")
  }

  /** Repair every pending gap against the given replica targets.
    *
    * `srcStateOf` supplies each table's CURRENT source-of-truth rows
    * (typed, covering the target's schema columns) — a scan of the
    * source table in production, [[srcStateFromLogs]] in tests. It is
    * semi-join-narrowed to the affected keys before any heavy work, so
    * a lazily-declared full scan stays scoped.
    *
    * Single-writer contract: run between the replica's triggers (same
    * contract as any out-of-band applier on a TxnApplier target). The
    * reconciliation applies as ONE synthetic transaction at
    * `lastTso + 1`, so the replica's own gate and this repair never
    * re-order each other.
    *
    * Returns per-table outcomes; gap records are archived (moved to
    * `_GAPS/archived/`) only after every target repaired. */
  def repair(spark: SparkSession, outDir: String,
      dnDirs: Map[String, String],
      tableCols: Map[(String, String), Seq[String]],
      targets: Seq[WireReplicaJob.TableTarget],
      srcStateOf: WireReplicaJob.TableTarget => DataFrame,
      txnsPerCommit: Int = 1): Seq[TableRepair] = {
    val gaps = readGaps(spark, outDir)
    if (gaps.isEmpty) return Seq.empty
    WireReplicaJob.validateTargets(targets)
    val dropped = Staged.parquetStage(
      droppedEvents(spark, dnDirs, tableCols, gaps),
      s"$outDir/_GAPS/.repair-stage")
    val out = targets.map { t =>
      val colTypes = TxnApplier.targetSchema(t.targetDir)
        .map(_.fields.toSeq.map(f => f.name -> f.dataType.sql))
        .getOrElse(t.colTypes)
      val allCols = colTypes.map(_._1)
      val valueCols = allCols.filterNot(t.keyCols.contains)
      // the repair SCOPE: distinct keys the sealed-out txns touched on
      // this table (DELETE keys ride the before image via shape).
      // O(gap)-bounded by design and broadcast to both diff sides anyway
      // — collect it ONCE: the count plus the two broadcast builds each
      // re-ran the shape+distinct subtree as its own Spark job.
      val affectedQ = WireReplicaJob.shape(dropped, t.schemaName,
          t.tableName, colTypes, keyCols = t.keyCols)
        .select(t.keyCols.map(col): _*).distinct()
      val affectedRows = affectedQ.collect()
      val affected = spark.createDataFrame(
        java.util.Arrays.asList(affectedRows: _*), affectedQ.schema)
      val nAffected = affectedRows.length.toLong
      if (nAffected == 0L)
        TableRepair(t.schemaName, t.tableName, 0L, 0L, 0L, 0L)
      else {
        val srcScoped = srcStateOf(t)
          .join(broadcast(affected), t.keyCols, "left_semi")
        val dstScoped = TxnApplier.readCurrent(spark, t.targetDir)
          .join(broadcast(affected), t.keyCols, "left_semi")
        val diffs = Validation.diffKinds(srcScoped, dstScoped,
          t.keyCols, valueCols)
        val recon = ValidationJob.reconciliationBatch(diffs)
        val lastTso = TxnApplier.currentCommit(t.targetDir)
          .getOrElse(sys.error(
            s"repair target ${t.targetDir}: not bootstrapped"))
          .lastTso
        // O(gap)-bounded stage: the apply reads the recon batch once it
        // is counted; without it the scoped diff would re-run. The
        // per-op counts and the apply's (tso, bucket) probe ride the
        // stage write as observed metrics (the recon op vocabulary is
        // closed: INSERT/UPDATE/DELETE), so neither the outcome report
        // nor the commit plan costs a separate job.
        val opObs = org.apache.spark.sql.Observation()
        val ops = Seq("INSERT", "UPDATE", "DELETE")
        val opAggs = ops.map(o =>
          count(when(col("op") === o, lit(1))).as(o))
        val staged = Staged.parquetStage(
          recon.withColumn("tso", lit(lastTso + 1L))
            .observe(opObs, opAggs.head, opAggs.tail :+
              TxnApplier.pairsProbe(t.keyCols.map(col), col("tso"),
                t.nBuckets).as("pairs"): _*),
          s"${t.targetDir}/_gap-repair-stage")
        val byOp = ops.map(o =>
          o -> opObs.get(o).asInstanceOf[Long]).toMap
        if (byOp.valuesIterator.sum > 0L)
          TxnApplier.applyBatch(TxnApplier.Probed(staged,
              TxnApplier.pairsOf(opObs.get("pairs"))),
            t.keyCols, t.seqCol, "op", "tso", t.targetDir, t.nBuckets,
            txnsPerCommit)
        TableRepair(t.schemaName, t.tableName, nAffected,
          missing = byOp.getOrElse("INSERT", 0L),
          orphans = byOp.getOrElse("DELETE", 0L),
          mismatched = byOp.getOrElse("UPDATE", 0L))
      }
    }
    archive(outDir, gaps)
    out
  }

  /** Move repaired gap records to `_GAPS/archived/<batchId>` — the gap
    * stays auditable but no longer pending. */
  private def archive(outDir: String, gaps: Seq[Gap]): Unit = {
    val dir = gapsDir(outDir)
    val fs = graft.util.HadoopIo.fsOf(dir)
    val arch = new Path(dir, "archived")
    fs.mkdirs(arch)
    gaps.foreach { g =>
      val src = new Path(dir, g.batchId.toString)
      val dst = new Path(arch, g.batchId.toString)
      if (fs.exists(dst)) fs.delete(dst, false)
      graft.util.HadoopIo.renameOrFail(src, dst)
    }
  }
}
