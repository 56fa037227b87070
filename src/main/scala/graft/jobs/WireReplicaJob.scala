package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TxnApplier
import graft.sinks.RegistrySidecar

/** The routed replica apply: a decoded multi-table change batch, staged
  * once ([[stageRouted]]), folds its DDL into the routed targets'
  * schemas and routes its row events to per-table transaction-preserving
  * targets ([[applyRouted]]) — the reference's replica applier
  * (DdlApplyHelper beside SplitApplier's row routing, polardbx-cdc-rpl/
  * .../applier/SplitApplier.java:43-146, TransactionApplier.java:50-87).
  * Both standing replicas run it through one trigger step
  * ([[applyTrigger]]): the GTID `graft.streaming.CdcReplica` and the
  * (file, pos) dump runner [[LiveReplicaJob.run]].
  *
  * Exactly-once composes from two independent gates: the caller's
  * source position (Spark's offset log, or the runner's cursor sidecar)
  * advances only after the trigger step returns, and each target's
  * committed position drops every replayed transaction at or below its
  * last committed TSO. A crash at any point lands on a transaction
  * boundary some source commit produced.
  *
  * INPUT CONTRACT — whole transactions per batch: the apply gate above
  * makes a txn split across two batches UNSAFE (the first half commits
  * and advances the gate, and the replayed second half is silently
  * dropped). The dump client cuts a capped drain only at a transaction
  * boundary; a consumer tailing wire FILES (`BinlogWire.tailBinlogFiles`)
  * needs one transaction per file, which the writers enforce
  * (`BinlogWire.writeTxnFramedBinlogFiles` mark-range check,
  * `writeChangeStreamBinlogFiles` file-boundary txn check), and files
  * arriving in rotation order, which the writers' monotonic mtimes give.
  */
object WireReplicaJob {

  /** One replicated table's routing target: which decoded rows belong
    * to it (`schemaName`/`tableName`), how they type (`colTypes` must
    * cover `keyCols` and `seqCol`), and where they apply (its own
    * `TxnApplier` target). The reference routes every DBMSRowChange by
    * its own table to per-table apply units
    * (rpl/applier/SplitApplier.java:43-146 per-table split, dispatched
    * through ApplyHelper.java:56-61); here a target IS that unit. */
  final case class TableTarget(schemaName: String, tableName: String,
      colTypes: Seq[(String, String)], keyCols: Seq[String],
      seqCol: String, targetDir: String, nBuckets: Int) {
    def table: (String, String) = (schemaName, tableName)
  }

  /** One routed trigger's input: the decoded frame plus the routing
    * facts its staging write observed ([[stageRouted]]) — the distinct
    * (tso, bucket) pairs of each routed table whose row events the batch
    * carries (an absent table has no entry), and its DDL rows as (tso,
    * schemaName, ddl) in (tso, ddl) order. */
  final case class RoutedBatch(frame: DataFrame,
      pairs: Map[(String, String), Seq[(Long, Int)]],
      ddls: Seq[(Long, String, String)])

  /** Stage a decoded trigger to parquet under `dir` (overwritten per
    * call) and read it back, with the routing facts riding the staging
    * write as observed metrics: each target's (tso, bucket) pairs and the
    * DDL rows. A Binlog-X fan-out stream carries only the tables hashed
    * (or pinned) to it, so a consumer routing the full registry would
    * otherwise pay an apply per absent table (measured ~6 s × absent
    * table per trigger at the sf1 rehearsal), and the pairs are every
    * present table's apply input ([[TxnApplier.Probed]]): its commit
    * groups and touched buckets, known before its one write query is
    * planned. Each row's buckets come from the typed keys of its
    * effective images exactly as [[shape]] builds them (a PK-changing
    * UPDATE yields two), typed by the target's current schema. The probe
    * is bounded by tables, transactions, buckets and DDL statements,
    * never by rows, and costs no job beyond the write itself. */
  def stageRouted(batch: DataFrame, dir: String,
      targets: Seq[TableTarget]): RoutedBatch = {
    validateTargets(targets)
    val probe = org.apache.spark.sql.Observation()
    // a frame without a ddl column (row-only producers) carries no DDL
    val ddls =
      if (batch.columns.contains("ddl")) Seq(ddlProbe.as("ddls")) else Nil
    val aggs = targets.zipWithIndex.map { case (t, i) =>
      targetPairs(t).as(s"pairs$i") } ++ ddls
    val staged = graft.operators.Staged.parquetStage(
      batch.observe(probe, aggs.head, aggs.tail: _*), dir)
    val m = probe.get
    RoutedBatch(staged,
      targets.zipWithIndex
        .map { case (t, i) => t.table -> TxnApplier.pairsOf(m(s"pairs$i")) }
        .filter(_._2.nonEmpty).toMap,
      m.get("ddls").map(ddlsOf).getOrElse(Seq.empty))
  }

  /** A target's (tso, bucket) pairs over decoded rows, as its apply will
    * see them: the rows [[shape]] keeps, each of its images' key cells
    * read through the persisted rename lineage and cast to the target's
    * current key types. Plain aggregates, no lambda: an observed
    * metric ships its expressions with the task result, and a lambda
    * variable would carry its last bound image along. */
  private def targetPairs(t: TableTarget): Column = {
    val types = colTypesOf(t).toMap
    val aliases = TxnApplier.renameLineage(t.targetDir)
    val rows = rowsOf(t.schemaName, t.tableName)
    def pairs(image: Column, of: Column) = TxnApplier.pairsProbe(
      t.keyCols.map(k => imgGet(image, k, aliases).cast(types(k))),
      col("tso"), t.nBuckets, of)
    // the effective image of every row, plus the before image of an
    // UPDATE whose key changed (its DELETE half, see imagesOf)
    array_union(pairs(effectiveImage, rows),
      pairs(col("before"), rows && keyChanged(t.keyCols, aliases)))
  }

  /** The target's current (column, type) pairs — the committed schema
    * once bootstrapped, else the routing's own. */
  private def colTypesOf(t: TableTarget): Seq[(String, String)] =
    TxnApplier.targetSchema(t.targetDir)
      .map(_.fields.toSeq.map(f => f.name -> f.dataType.sql))
      .getOrElse(t.colTypes)

  /** The observed-metric aggregate that lists a decoded batch's DDL
    * rows; [[ddlsOf]] reads its value back. Shared by [[stageRouted]]
    * and the Global Binlog's registry path, which observes its own
    * stage write. */
  private[graft] def ddlProbe: Column =
    collect_list(when(col("op") === "DDL" && col("ddl").isNotNull,
      struct(col("tso").cast("long"), col("schemaName"), col("ddl"))))

  /** [[ddlProbe]]'s value as (tso, schemaName, ddl) rows, ordered by
    * (tso, ddl) as Spark orders them (ddl by UTF-8 bytes) — the
    * deterministic fold order of both the target-side DDL fold and the
    * registry evolution, so equal-tso statements never fold differently
    * into the two across a restart. */
  private[graft] def ddlsOf(observed: Any): Seq[(Long, String, String)] = {
    import org.apache.spark.unsafe.types.UTF8String
    observed.asInstanceOf[Seq[org.apache.spark.sql.Row]]
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortWith { case ((t1, _, d1), (t2, _, d2)) =>
        t1 < t2 || (t1 == t2 &&
          UTF8String.fromString(d1).compareTo(UTF8String.fromString(d2)) < 0)
      }
  }

  /** One present table's apply, shaped by its target's CURRENT schema
    * and rename lineage (not the caller's snapshot: after an evolution
    * or rebuild in an earlier batch, a stale TableTarget or a stale
    * decode registry naming a renamed column by its old name must not
    * drop or null values). */
  private def applyOne(decoded: DataFrame, pairs: Seq[(Long, Int)],
      t: TableTarget, aliases: Map[String, Seq[String]],
      txnsPerCommit: Int, applyMode: TxnApplier.ApplyMode,
      compactAfter: Int, compactMaxBuckets: Int): Unit = {
    val typed = shape(decoded, t.schemaName, t.tableName, colTypesOf(t),
      aliases, t.keyCols)
    val input = TxnApplier.Probed(typed, pairs)
    val delta = TxnApplier.useDelta(t.targetDir, applyMode)
    TxnApplier.recordModeDecision(t.targetDir, delta)
    try {
      if (delta) {
        // the standing-consumer shape: O(batch) delta commits, chains
        // folded once they reach compactAfter (amortized O(target /
        // compactAfter) per trigger — never the COW mode's every-trigger
        // touched-bucket rewrite, which is O(target) against a uniform
        // key stream and O(n²) over a long run). compactMaxBuckets < all
        // bounds the fold PAUSE per trigger (rolling per-bucket
        // incremental compaction) at the cost of chains riding a little
        // above compactAfter while the fold sweeps.
        if (TxnApplier.maxChainLength(t.targetDir) >= compactAfter)
          TxnApplier.compactBuckets(decoded.sparkSession, t.targetDir,
            compactMaxBuckets)
        TxnApplier.applyBatchDelta(input, t.keyCols, t.seqCol, "op", "tso",
          t.targetDir, t.nBuckets, txnsPerCommit)
      } else
        TxnApplier.applyBatch(input, t.keyCols, t.seqCol, "op", "tso",
          t.targetDir, t.nBuckets, txnsPerCommit)
    } catch { case e: TxnApplier.ProbeMiss =>
      throw new IllegalStateException(
        s"routed table ${t.schemaName}.${t.tableName}: ${e.getMessage}", e)
    }
    ()
  }

  /** Per-table applies run CONCURRENTLY (the reference's
    * SplitApplier.parallelExecute — tables are independent apply
    * units): each target owns its directory and its gate, so the only
    * shared object is the immutable decoded frame, and Spark schedules
    * the overlapping jobs across the cluster. Bounded by
    * `maxParallel` driver threads — trigger latency for N tables is
    * ~ceil(N/maxParallel) applies, not N. */
  private def inParallel(targets: Seq[TableTarget], maxParallel: Int)
      (body: TableTarget => Unit): Unit =
    if (targets.size <= 1 || maxParallel <= 1) targets.foreach(body)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxParallel, targets.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        // await EVERY apply (lift to Try — no fail-fast): a fail-fast
        // Await would return while other tables' applies still run,
        // and the caller's retry could then race an orphaned applyBatch
        // on the same targetDir (whose _batchstage the retry deletes).
        // All finish, then the first failure rethrows.
        val done = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(targets.map(t =>
            scala.concurrent.Future(body(t))
              .transform(r => scala.util.Success(r)))),
          scala.concurrent.duration.Duration.Inf)
        done.collectFirst { case scala.util.Failure(e) => throw e }
      } finally pool.shutdown()
      ()
    }

  /** Apply one decoded multi-table batch: fold its DDL into the routed
    * targets' schemas, then route its row events to per-table
    * `TxnApplier` targets — the reference's SplitApplier restated, with
    * DdlApplyHelper's DDL path beside it: the decode side already emits
    * every table's rows (`fromWireSegments` takes the full TABLE_MAP
    * registry), so a multi-table DN stream applies through ONE
    * poll/trigger.
    *
    * Position-gate discipline (what makes the routing crash-safe behind
    * ONE source cursor): every target keeps its OWN committed lastTso,
    * and the caller advances the shared source cursor only after THIS
    * call returns. A crash after table A applied but before table B
    * leaves the cursor unmoved; the re-served batch replays into A's
    * gate (skipped) and applies to B — per-table exactly-once without
    * cross-table coordination.
    *
    * `batch` comes from [[stageRouted]]: each present target reads the
    * staged frame once in its one write query, so no target re-runs the
    * wire decode; a target whose table the batch does not carry skips
    * (its gate only moves when rows apply). Configured-but-quiet targets
    * still bootstrap (schema-only) on the FIRST batch: the schema
    * sidecar must exist before a table's first rows arrive, because the
    * maintenance cadence and the DDL fold read it.
    *
    * DDL semantics and limits, stated loudly:
    *  - ADD COLUMN: metadata-only evolution
    *    ([[TxnApplier.evolveSchema]]); rows decoded BEFORE the DDL
    *    carry no value for the new column and apply as NULL (string
    *    images lack the key), rows after carry their values.
    *  - DROP COLUMN (non-key, non-seq): the column stops being
    *    selected; dropping a key or the sequence column throws.
    *  - MODIFY/CHANGE/RENAME COLUMN (non-key, non-seq): metadata-only
    *    evolution would mis-read existing files, so the target is
    *    REBUILT in place ([[TxnApplier.rebuildTarget]] — cast/rename
    *    the committed state, one full rewrite, pointer-swapped at the
    *    committed txn boundary; the reference's meta layer likewise
    *    applies such DDL by rebuilding its images,
    *    meta/PolarDbXTableMetaManager.java:103). Rows whose string
    *    images carry the OLD name — decoded before the rename in the
    *    same batch, or in ANY later batch by a consumer whose decode
    *    registry is stale — land intact through an old-name fallback
    *    chain, PERSISTED in the target's `_renames` sidecar so the chain
    *    survives batches and restarts; ADDing a column whose name an old
    *    chain holds evicts that name (it now belongs to the new column).
    *  - MODIFY/CHANGE/RENAME touching a KEY or the sequence column:
    *    refused loudly — the caller's TableTarget names them, and
    *    silently re-keying a routed target would orphan its bucketing
    *    contract.
    *  - RENAME TABLE / ALTER ... RENAME TO on a routed table: refused
    *    loudly — the decode registry would follow the new name while
    *    the routing still matched the old one, silently stopping
    *    replication; re-point the TableTarget out of band.
    *  - DDL for tables nobody routes: ignored, like their row events.
    *
    * The DDL stream is folded DRIVER-SIDE in TSO order — DDL is
    * human-scale (schema changes per trigger, not rows), so its rows
    * arrive in `batch.ddls`, observed by the staging write
    * ([[stageRouted]]) at no job of their own. Idempotent across batch
    * replays: re-adding an identical column or re-dropping an absent
    * one no-ops. Row apply then shapes each table with its target's
    * CURRENT (possibly evolved) schema — the target IS the schema state,
    * callers never track evolution. */
  def applyRouted(batch: RoutedBatch, targets: Seq[TableTarget],
      txnsPerCommit: Int = 8, fromTso: Option[Long] = None,
      maxParallelTables: Int = 4,
      applyMode: TxnApplier.ApplyMode = TxnApplier.ApplyMode.Cow,
      compactAfter: Int = 32,
      compactMaxBuckets: Int = Int.MaxValue): Unit = {
    import graft.operators.DdlParser
    validateTargets(targets)
    val decoded = batch.frame
    val spark = decoded.sparkSession
    val byTable = targets.map(t => t.table -> t).toMap
    targets.foreach { t =>
      if (TxnApplier.currentCommit(t.targetDir).isEmpty) {
        val typed = shape(decoded, t.schemaName, t.tableName,
          t.colTypes, keyCols = t.keyCols)
        TxnApplier.bootstrap(typed.limit(0).drop("op", "tso"),
          t.keyCols, t.targetDir, t.nBuckets,
          initialTso = fromTso.getOrElse(0L))
      }
    }
    // DDL honors a position gate like the rows do: a statement at or
    // below max(committed row TSO, committed DDL TSO) already took
    // effect in some earlier trigger and skips — so a replayed batch
    // (even one replayed AFTER later batches, out of order) never
    // re-runs a rename whose chain has moved on. The DDL high-water
    // mark is its own sidecar (TxnApplier.ddlPosition) because row
    // position only advances with row transactions. A crash between a
    // statement's effect and its position commit replays just that
    // statement, which the hasOld/type checks absorb as a no-op. Lazy:
    // first read at the first routed ALTER, before this batch commits
    // any statement, so a batch without DDL reads no sidecar for it.
    lazy val ddlGate: Map[(String, String), Long] = targets.map(t =>
      t.table -> math.max(
        TxnApplier.currentCommit(t.targetDir)
          .map(_.lastTso).getOrElse(0L),
        TxnApplier.ddlPosition(t.targetDir))).toMap
    // per-table fallback chains for renamed columns: the target's
    // PERSISTED lineage (earlier batches' renames — stale-registry
    // decodes may still name those columns the old way in ANY later
    // batch) plus whatever THIS batch's statements add. Changes
    // persist back to the target's `_renames` sidecar.
    val renameAliases = scala.collection.mutable.Map(
      targets.map(t =>
        t.table -> TxnApplier.renameLineage(t.targetDir)): _*)
      .withDefaultValue(Map.empty)
    batch.ddls.foreach { case (tso, defaultSchema, stmt) =>
      DdlParser.parseAll(stmt, defaultSchema).foreach { parsed =>
      parsed match {
        // renaming a ROUTED TABLE refuses loudly: the decode registry
        // would follow the new name while the TableTarget still routes
        // the old one — every later row would silently stop
        // replicating. Re-point the TableTarget out of band instead.
        case DdlParser.RenameTable(pairs)
            if pairs.exists(p => byTable.contains(p._1)) =>
          throw new IllegalArgumentException(
            s"RENAME TABLE on routed table(s) " +
              pairs.map(_._1).filter(byTable.contains)
                .map { case (s3, t3) => s"$s3.$t3" }.mkString(",") +
              " is unsupported online (the routing names the table); " +
              "re-point the TableTarget and restart the stream")
        case DdlParser.AlterTable(s2, t2, actions)
            if byTable.contains((s2, t2)) &&
              actions.exists(_.isInstanceOf[DdlParser.RenameTo]) =>
          throw new IllegalArgumentException(
            s"ALTER TABLE $s2.$t2 RENAME TO ... is unsupported online " +
              "(the routing names the table); re-point the TableTarget " +
              "and restart the stream")
        case DdlParser.AlterTable(s2, t2, actions)
            if byTable.contains((s2, t2)) && tso > ddlGate((s2, t2)) =>
          val t = byTable((s2, t2))
          val aliasesBefore = renameAliases(t.table)
          def curFields = TxnApplier.targetSchema(t.targetDir).getOrElse(
            sys.error(s"target ${t.targetDir}: no schema sidecar"))
            .fields.toVector
          var fields = curFields
          def guardKeySeq(n: String, what: String): Unit =
            require(!t.keyCols.contains(n) && n != t.seqCol,
              s"$what $n: key/sequence columns of routed table " +
                s"${t.schemaName}.${t.tableName} cannot change online " +
                "(the TableTarget routing names them)")
          // flush pending metadata evolution, then rebuild in place —
          // actions observe strict statement order
          def flushThen(rebuild: org.apache.spark.sql.DataFrame =>
              org.apache.spark.sql.DataFrame): Unit = {
            if (fields != curFields)
              TxnApplier.evolveSchema(t.targetDir,
                org.apache.spark.sql.types.StructType(fields))
            TxnApplier.rebuildTarget(spark, t.targetDir, t.keyCols,
              t.nBuckets, rebuild)
            fields = curFields // reload from the rebuilt sidecar
          }
          def recordRename(oldName: String, newName: String): Unit = {
            val al = renameAliases(t.table)
            // the old name inherits any chain it already headed;
            // distinct keeps a replayed statement from duplicating it
            val chain = oldName +: al.getOrElse(oldName, Seq.empty)
            renameAliases(t.table) = (al - oldName) +
              (newName ->
                (chain ++ al.getOrElse(newName, Seq.empty)).distinct)
          }
          // a REUSED name must leave every old chain: images carrying
          // it from here on belong to the NEW column, not the renamed
          // one a stale registry once called by that name
          def evictFromChains(name: String): Unit =
            renameAliases(t.table) = renameAliases(t.table)
              .map { case (k, olds) => k -> olds.filterNot(_ == name) }
          actions.foreach {
            case DdlParser.AddColumn(cd, _, _) =>
              // target layout is bucket-hashed, not ordinal — FIRST/
              // AFTER placement is presentation, appended here
              val dt = parseSqlType(cd.dataType)
              fields.find(_.name == cd.name) match {
                case Some(f) => require(f.dataType == dt,
                  s"ADD COLUMN ${cd.name}: exists as ${f.dataType}, " +
                    s"statement says $dt — rebuild the target")
                case None =>
                  fields = fields :+
                    org.apache.spark.sql.types.StructField(cd.name, dt)
                  evictFromChains(cd.name)
              }
            case DdlParser.DropColumn(n) =>
              guardKeySeq(n, "DROP COLUMN")
              fields = fields.filterNot(_.name == n)
            case DdlParser.ModifyColumn(cd, _, _) =>
              guardKeySeq(cd.name, "MODIFY COLUMN")
              val dt = parseSqlType(cd.dataType)
              require(fields.exists(_.name == cd.name),
                s"MODIFY COLUMN ${cd.name}: no such column on " +
                  s"${t.schemaName}.${t.tableName}")
              if (!fields.find(_.name == cd.name).forall(_.dataType == dt))
                flushThen(df => df.withColumn(cd.name,
                  col(cd.name).cast(dt)))
            case DdlParser.ChangeColumn(oldName, cd, _, _) =>
              // idempotent across batch replays: old gone + new
              // present at the right type is "already applied"
              guardKeySeq(oldName, "CHANGE COLUMN")
              guardKeySeq(cd.name, "CHANGE COLUMN")
              val dt = parseSqlType(cd.dataType)
              val renameNeeded = oldName != cd.name &&
                fields.exists(_.name == oldName)
              require(!renameNeeded || !fields.exists(_.name == cd.name),
                s"CHANGE COLUMN $oldName -> ${cd.name}: target name " +
                  s"already exists on ${t.schemaName}.${t.tableName} " +
                  "(a duplicate-name schema would misbind cells)")
              val curType = fields
                .find(_.name == (if (renameNeeded) oldName else cd.name))
                .map(_.dataType)
              require(curType.isDefined,
                s"CHANGE COLUMN $oldName: no such column on " +
                  s"${t.schemaName}.${t.tableName}")
              if (renameNeeded || !curType.contains(dt))
                flushThen { df =>
                  val r = if (renameNeeded)
                    df.withColumnRenamed(oldName, cd.name) else df
                  if (curType.contains(dt)) r
                  else r.withColumn(cd.name, col(cd.name).cast(dt))
                }
              if (oldName != cd.name) {
                // the NEW name may be a REUSE of a name some other
                // chain still holds (renamed away earlier): evict it
                // there first, then record this rename's own chain
                evictFromChains(cd.name)
                recordRename(oldName, cd.name)
              }
            case DdlParser.RenameColumn(oldName, newName) =>
              guardKeySeq(oldName, "RENAME COLUMN")
              guardKeySeq(newName, "RENAME COLUMN")
              val hasOld = fields.exists(_.name == oldName)
              require(hasOld || fields.exists(_.name == newName),
                s"RENAME COLUMN $oldName: no such column on " +
                  s"${t.schemaName}.${t.tableName}")
              require(!hasOld || !fields.exists(_.name == newName),
                s"RENAME COLUMN $oldName -> $newName: target name " +
                  s"already exists on ${t.schemaName}.${t.tableName} " +
                  "(a duplicate-name schema would misbind cells)")
              if (hasOld) // replay after the rebuild: already applied
                flushThen(_.withColumnRenamed(oldName, newName))
              evictFromChains(newName) // name reuse: see CHANGE above
              recordRename(oldName, newName)
            case DdlParser.AddPrimaryKey(_) | DdlParser.DropPrimaryKey |
                 DdlParser.IgnoredAction => ()
            case other => throw new IllegalArgumentException(
              s"online DDL '$other' on routed table " +
                s"${t.schemaName}.${t.tableName} is unsupported; " +
                "rebuild the target out of band")
          }
          if (fields != curFields)
            TxnApplier.evolveSchema(t.targetDir,
              org.apache.spark.sql.types.StructType(fields))
          // lineage persists BEFORE the position: a crash between the
          // two replays this statement, whose no-op checks absorb it
          if (renameAliases(t.table) != aliasesBefore)
            TxnApplier.saveRenameLineage(t.targetDir,
              renameAliases(t.table))
          TxnApplier.commitDdlPosition(t.targetDir, tso)
        case _ => () // unrouted table or non-evolution statement
      }
      }
    }
    inParallel(targets.filter(t => batch.pairs.contains(t.table)),
        maxParallelTables) { t =>
      applyOne(decoded, batch.pairs(t.table), t, renameAliases(t.table),
        txnsPerCommit, applyMode, compactAfter, compactMaxBuckets)
    }
  }

  private def parseSqlType(t: String): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StructType.fromDDL(s"c $t").head.dataType

  /** One standing replica trigger, the step both runners share
    * (`graft.streaming.CdcReplica`'s micro-batch body and
    * [[LiveReplicaJob.run]]):
    *  1. [[applyRouted]] in `applyMode` — Auto by default: the standing
    *     consumer is exactly the workload whose COW applies go O(n²) once
    *     a target grows (uniform keys touch every bucket every trigger;
    *     see `TxnApplier.applyBatchDelta`), while a SMALL table's COW
    *     apply beats delta's fixed per-trigger cost, so the mode flips
    *     per table at the measured size crossover;
    *  2. the wire name registry's evolution by the batch's DDL, saved to
    *     `registryDir` ([[RegistrySidecar]]) — the NEXT trigger's decode
    *     reads it, and it lands before the caller commits its own
    *     position, so a crash between the two replays the DDL against
    *     the evolved names;
    *  3. every `maintainEvery`-th trigger (0 = never; `trigger` is the
    *     runner's trigger number, Spark's monotonic batchId for the
    *     streaming replica), each target's delta chains fold
    *     (`compactBuckets`, bounded by `compactMaxBuckets`) and then
    *     vacuum reclaims the superseded versions — a chain references
    *     every dir it overlays, so vacuum alone reclaims nothing from it,
    *     and a rebuild-triggering DDL doubles a target on disk until
    *     vacuum runs. Both no-op on un-bootstrapped targets. */
  def applyTrigger(batch: RoutedBatch, targets: Seq[TableTarget],
      tableCols: Map[(String, String), Seq[String]], registryDir: String,
      trigger: Long, txnsPerCommit: Int, fromTso: Option[Long],
      maintainEvery: Long,
      applyMode: TxnApplier.ApplyMode = TxnApplier.ApplyMode.Auto(),
      compactAfter: Int = 32,
      compactMaxBuckets: Int = Int.MaxValue): Unit = {
    applyRouted(batch, targets, txnsPerCommit, fromTso,
      applyMode = applyMode, compactAfter = compactAfter,
      compactMaxBuckets = compactMaxBuckets)
    val reg = RegistrySidecar.resume(registryDir, tableCols)
    val evolved = RegistrySidecar.evolve(batch.ddls, reg)
    if (evolved != reg) RegistrySidecar.save(registryDir, evolved)
    if (maintainEvery > 0 && (trigger + 1) % maintainEvery == 0)
      targets.foreach { t =>
        TxnApplier.compactBuckets(batch.frame.sparkSession, t.targetDir,
          compactMaxBuckets)
        TxnApplier.vacuum(t.targetDir)
      }
  }

  private[jobs] def validateTargets(targets: Seq[TableTarget]): Unit = {
    require(targets.nonEmpty, "no targets")
    require(targets.map(_.table).distinct.size == targets.size,
      "duplicate (schema, table) targets")
    require(targets.map(_.targetDir).distinct.size == targets.size,
      "two tables routed to one targetDir")
    targets.foreach { t =>
      require(t.colTypes.map(_._1).toSet
          .intersect(t.keyCols.toSet) == t.keyCols.toSet
          && t.colTypes.exists(_._1 == t.seqCol),
        s"colTypes must cover keyCols and seqCol for " +
          s"${t.schemaName}.${t.tableName}")
    }
  }

  /** Decoded wire rows → the replica's typed row shape: one table's row
    * events, each string image cast per `colTypes`. DELETE rows carry
    * their values in the BEFORE image (the after side is empty on the
    * wire), so the effective image picks by op — the applier needs the
    * key columns populated to erase the row. `aliases` gives a renamed
    * column its OLD names, newest first: rows decoded before an
    * in-batch RENAME carry the old key in their string image, and the
    * coalesce chain reads them under the new name.
    *
    * With `keyCols` given, an UPDATE whose PRIMARY KEY CHANGED
    * (before-image key ≠ after-image key) SPLITS into DELETE(before) +
    * INSERT(after): keyed by the after image alone, the old key's row
    * would silently survive in the target — the reference detects
    * exactly this and falls back to a serial delete-then-insert
    * (rpl/applier/SplitApplier.java:43-146). One pass via explode; the
    * split rows keep their own seq values and land on DIFFERENT keys,
    * so the applier's per-(txn, key) merge is unaffected. */
  def shape(decoded: DataFrame, schemaName: String, tableName: String,
      colTypes: Seq[(String, String)],
      aliases: Map[String, Seq[String]] = Map.empty,
      keyCols: Seq[String] = Seq.empty): DataFrame =
    decoded
      .filter(rowsOf(schemaName, tableName))
      .select(explode(imagesOf(keyCols, aliases)).as("__e"), col("tso"))
      .select(colTypes.map { case (n, t) =>
        imgGet(col("__e.m"), n, aliases).cast(t).as(n)
      } ++ Seq(col("__e.o").as("op"), col("tso")): _*)

  /** The decoded rows [[shape]] keeps: one table's row events. */
  private def rowsOf(schemaName: String, tableName: String): Column =
    col("schemaName") === schemaName && col("tableName") === tableName &&
      col("op").isin("INSERT", "UPDATE", "DELETE")

  /** A row event's effective images as (o: op, m: image) structs: the
    * [[effectiveImage]], or DELETE(before) + INSERT(after) for an UPDATE
    * whose key changed. */
  private def imagesOf(keyCols: Seq[String],
      aliases: Map[String, Seq[String]]): Column =
    when(keyChanged(keyCols, aliases),
      array(
        struct(lit("DELETE").as("o"), col("before").as("m")),
        struct(lit("INSERT").as("o"), col("after").as("m"))))
      .otherwise(array(struct(col("op").as("o"), effectiveImage.as("m"))))

  /** The image a row event applies: the before image for a DELETE, the
    * after image otherwise. */
  private def effectiveImage: Column =
    when(col("op") === "DELETE", col("before")).otherwise(col("after"))

  /** An UPDATE whose before and after images carry different keys. */
  private def keyChanged(keyCols: Seq[String],
      aliases: Map[String, Seq[String]]): Column =
    if (keyCols.isEmpty) lit(false)
    else col("op") === "UPDATE" && size(col("before")) > 0 &&
      keyCols.map(k => !(imgGet(col("before"), k, aliases) <=>
        imgGet(col("after"), k, aliases))).reduce(_ || _)

  /** Column `n` of a string image, read through its old names, newest
    * first, when the image predates a rename. */
  private def imgGet(m: Column, n: String,
      aliases: Map[String, Seq[String]]): Column =
    coalesce((n +: aliases.getOrElse(n, Seq.empty)).map(a =>
      element_at(m, a)): _*)
}
