package graft.text

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental near-duplicate screening: each NEW batch of documents is
  * checked against a persisted SIGNATURE INDEX of everything admitted
  * before it — the "is this crawl shard already in the corpus" gate a
  * growing training set needs, without ever recomputing the corpus.
  *
  * The index is TWO append-only parquet tables under `indexDir`, both
  * written per source batch (a replayed batch OVERWRITES its own
  * `batch=<id>` directory — idempotent under foreachBatch retries).
  * Within a batch directory the files are FLAT, clustered and sorted
  * on a small integer prune key that is an ordinary DATA column:
  *
  *  - `sigs/batch=<id>`: (doc_id, sig array<long>, sp), sorted by
  *    `sp = pmod(doc_id, sigParts)`;
  *  - `buckets/batch=<id>`: (band, bucket, doc_id, pp), sorted by
  *    `pp = band * bucketParts + pmod(bucket, bucketParts)`.
  *
  * Probes filter with `isin` on the prune key, which pushes into the
  * parquet scan: sorted row groups carry tight min/max stats, so
  * non-colliding row groups are skipped at the footer. Deliberately
  * NOT `partitionBy(prune key)`: a K-dir dynamic-partition commit
  * costs K metadata round-trips per batch on any filesystem (K
  * process forks on a shell-backed local FS, K list+rename rounds on
  * an object store) and multiplies small files by the writer count —
  * measured at 13-18 s of a 20 s batch for K=128 on the bench VM.
  * The one directory that IS partitioned is `batch=<id>` itself:
  * replay overwrite and current-batch exclusion stay directory-level.
  *
  * Candidate generation joins banded buckets on (band, bucket) — ids
  * only, the 8-byte shuffle; signatures attach once per unique
  * candidate pair and similarity is estimated as the matching-slot
  * fraction of the two MinHash signatures (E[match fraction] =
  * Jaccard), so the check never re-reads document text. Within-batch
  * duplicates are caught by the same banded join of the batch against
  * itself (smaller id wins).
  *
  * At 100 TB: per batch the work is O(batch) signature compute + a
  * bucket equi-join whose index side PRUNES AT THE FILE SOURCE to the
  * row groups whose pp range collides with the batch — never a scan of
  * the whole index (the batch's collision set is bounded by
  * bands*bucketParts values, collected as metadata; excluded-batch
  * pruning is directory-level). The signature attach likewise prunes
  * on sp. The index grows by admitted docs only; each batch adds a
  * handful of clustered files, so a long-standing index wants an
  * occasional compaction (a plain sorted parquet rewrite — the layout
  * is stable under it).
  */
object IncrementalDedup {

  /** Screen one batch. Returns the batch with a `dup_of` column: the
    * smallest doc id among matches (estimated Jaccard >= `threshold`)
    * drawn from EVERY already-admitted doc — regardless of id order —
    * plus smaller-id docs of the same batch (the in-batch tiebreak);
    * null if the document is novel. Side effect: the novel rows'
    * signatures and banded buckets are committed to the index under
    * `batch=<batchId>`.
    *
    * `dup_of` is one HOP in the duplicate graph, not the canonical
    * representative: it may name a sibling batch doc that was itself
    * rejected (its own `dup_of` continues the chain), and it may equal
    * the doc's own id when that id was already admitted by an earlier
    * batch (a re-delivery). Consumers that need one representative per
    * group close the chains with `operators/Components` over the
    * (doc_id, dup_of) pairs.
    *
    * `bucketParts`/`sigParts` shape the index layout (see object doc) —
    * they must stay constant for the lifetime of one index. */
  def dedupeBatch(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, batchId: Long, shingleN: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5,
      bucketParts: Int = 16, sigParts: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(!batch.columns.contains("dup_of") && !batch.columns.contains("sig"),
      "dedupeBatch reserves the 'dup_of' and 'sig' column names")
    val spark = batch.sparkSession
    val rows = numHashes / bands

    val sigs = batch.select(col(idCol).cast("long").as("doc_id"),
      DedupApprox.minhashSignatureHashed(
        DedupApprox.hashedShingles(col(textCol), shingleN), numHashes)
        .as("sig"))
    // the batch's collision footprint — which (band, bp) index
    // partitions could hold a colliding bucket — RIDES the sig-stage
    // write as one observed per-band set of bp values (bounded by
    // bucketParts values per band: metadata, not data), replacing a
    // separate distinct+collect job over the staged signatures. The
    // per-band bucket expression is bandHashes' own formula, so the
    // footprint is identical to exploding the staged table. Skipped
    // when the index has no bucket table yet (first batch of a fresh
    // index): the pruned probe returns empty whatever the footprint
    // says.
    val bucketsDir = new Path(s"$indexDir/buckets")
    val indexHasBuckets = graft.util.HadoopIo.fsOf(bucketsDir).exists(bucketsDir)
    val fpObs = org.apache.spark.sql.Observation()
    val sigsToStage = if (!indexHasBuckets) sigs else {
      val bandAggs = (0 until bands).map { b =>
        collect_set(pmod(hash(slice(col("sig"), b * rows + 1, rows)),
          lit(bucketParts)).cast("int")).as(s"band$b")
      }
      sigs.observe(fpObs, bandAggs.head, bandAggs.tail: _*)
    }
    // one signature job; everything below reads this tiny table
    val sigPath = s"$indexDir/__stage/batch=$batchId"
    sigsToStage.write.mode(SaveMode.Overwrite).parquet(sigPath)
    // explicit schema: inference is a footer-read job per call (pure
    // driver latency) for a schema this plan just wrote
    val batchSigs = spark.read.schema(sigs.schema).parquet(sigPath)

    def buckets(sigTable: DataFrame, as: String): DataFrame =
      sigTable.select(col("doc_id").as(as),
          explode(DedupApprox.bandHashes(col("sig"), bands, rows)).as("bh"))
        .select(col("bh.band").as("band"), col("bh.bucket").as("bucket"),
          col(as))

    // decode the observed footprint (empty batch → null metric → empty)
    val batchPairs: Seq[(Int, Int)] =
      if (!indexHasBuckets) Seq.empty[(Int, Int)]
      else {
        val m = fpObs.get
        (0 until bands).flatMap { b =>
          Option(m(s"band$b")).toSeq
            .flatMap(_.asInstanceOf[scala.collection.Seq[Any]])
            .map(bp => (b, bp.asInstanceOf[Int]))
        }
      }

    // index side of the candidate join: ONLY the colliding partitions of
    // the persisted bucket table — the probe never scans the full index.
    // THIS batch's own partition is excluded: under foreachBatch replay
    // it holds the prior attempt's output — reading it would both
    // re-match the batch against itself and race the overwrite below
    val indexBuckets = prunedIndexBuckets(spark, indexDir, batchId,
      batchPairs, bucketParts)

    // candidates: batch vs index — ANY admitted doc is prior art,
    // whatever its id (an id-ordered tiebreak here would silently admit
    // near-dups of larger-id corpus docs) — plus batch vs its own
    // smaller ids (the in-batch tiebreak: smallest id wins)
    val priorSide = indexBuckets
      .withColumn("in_index", lit(true))
      .unionByName(buckets(batchSigs, "prior_id")
        .withColumn("in_index", lit(false)))
    val cand = buckets(batchSigs, "doc_id").join(priorSide, Seq("band", "bucket"))
      .filter(col("in_index") || col("prior_id") < col("doc_id"))
      .select(col("doc_id"), col("prior_id")).distinct()

    // stage the (small) candidate set: the verification join reads it
    // without re-running the bucket join. The sp collision footprint
    // (bounded by sigParts values) RIDES the stage write as observed
    // per-partition presence flags — no separate distinct/collect job.
    val candPath = s"$indexDir/__stage/cand_batch=$batchId"
    val spObs = org.apache.spark.sql.Observation()
    val spAggs = (0 until sigParts).map(sp =>
      max(when(pmod(col("prior_id"), lit(sigParts)) === sp, 1))
        .as(s"sp$sp"))
    cand.observe(spObs, spAggs.head, spAggs.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(candPath)
    val candStaged = spark.read
      .schema("doc_id LONG, prior_id LONG").parquet(candPath)

    // signatures attach only for candidate priors: prune the sigs table
    // to the sp partitions those ids live in
    val candSps = (0 until sigParts)
      .filter(sp => Option(spObs.get(s"sp$sp")).nonEmpty)
    val indexSigs = prunedIndexSigs(spark, indexDir, batchId, candSps)

    val priorSigs = indexSigs
      .unionByName(batchSigs)
      .select(col("doc_id").as("prior_id"), col("sig").as("prior_sig"))
    val matchFrac = {
      val eq = zip_with(col("sig"), col("prior_sig"),
        (a, b) => when(a === b, 1).otherwise(0))
      aggregate(eq, lit(0), (acc, x) => acc + x).cast("double") / numHashes
    }
    val dupOf = candStaged
      .join(batchSigs, "doc_id")
      .join(priorSigs, "prior_id")
      .filter(matchFrac >= threshold)
      .groupBy(col("doc_id")).agg(min(col("prior_id")).as("dup_of"))

    // ONE materialization carries the verdicts, the screened batch AND
    // the signatures — executed BEFORE the index partition overwrite
    // (nothing below may lazily re-run this plan), and every later
    // consumer (the novel-sig index commit, the caller's splits) reads
    // this tiny stage instead of re-scanning the source or re-running
    // the verdict join
    val screenedPath = s"$indexDir/__stage/screened_batch=$batchId"
    val staged = batch
      .withColumn("__did", col(idCol).cast("long"))
      .join(dupOf.withColumnRenamed("doc_id", "__vid"),
        col("__did") === col("__vid"), "left")
      // one sig row per DISTINCT id: a batch that re-delivers the same
      // id twice must not have its rows multiplied by the join
      .join(batchSigs.dropDuplicates("doc_id")
          .withColumnRenamed("doc_id", "__sid"),
        col("__did") === col("__sid"), "left")
      .drop("__vid", "__sid", "__did")
    val stagedSchema = staged.schema
    staged.write.mode(SaveMode.Overwrite).parquet(screenedPath)
    val screened = spark.read.schema(stagedSchema).parquet(screenedPath)

    // admit novel docs: commit their signatures AND banded buckets under
    // this batch's partitions (a replay rewrites the same partitions; one
    // sig per distinct admitted id even if the batch re-delivered rows)
    val novel = screened.filter(col("dup_of").isNull)
      .select(col(idCol).cast("long").as("doc_id"), col("sig"))
      .dropDuplicates("doc_id")
    // flat sorted commits — see the object doc for why this is NOT
    // partitionBy(prune key). Clustering (repartition on the key) keeps
    // each key's rows in one task; the sort makes row-group min/max
    // stats tight so the probes' pushed isin skips at the footer.
    // The two commits are independent tables off the same screened
    // stage — write them concurrently (guide §2.6).
    graft.util.Par.run(Seq(
      () => novel
        .withColumn("sp", pmod(col("doc_id"), lit(sigParts)).cast("int"))
        .repartition(col("sp")).sortWithinPartitions(col("sp"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$indexDir/sigs/batch=$batchId"),
      () => buckets(novel, "doc_id")
        .withColumn("pp", (col("band") * bucketParts +
          pmod(col("bucket"), lit(bucketParts))).cast("int"))
        .repartition(col("pp")).sortWithinPartitions(col("pp"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$indexDir/buckets/batch=$batchId")))
    screened.drop("sig")
  }

  /** The persisted bucket table, pruned to the rows whose prune key
    * `pp` collides with `pairs` and excluding `excludeBatch`'s own
    * directory (replay safety). The batch exclusion prunes at the
    * directory listing (partition column); the pp filter is a flat IN
    * over a data column that PUSHES into the parquet scan — sorted
    * row groups make the footer min/max skip non-colliding groups.
    * (A flat isin, not an OR tree: a 128-term disjunction cost ~10 s
    * of planning per probe through constraint propagation.) */
  private[text] def prunedIndexBuckets(spark: SparkSession, indexDir: String,
      excludeBatch: Long, pairs: Seq[(Int, Int)],
      bucketParts: Int): DataFrame = {
    val dir = s"$indexDir/buckets"
    val schema = StructType.fromDDL("band INT, bucket INT, prior_id LONG")
    val p = new Path(dir)
    val fs = graft.util.HadoopIo.fsOf(p)
    if (!fs.exists(p) || pairs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      recoverSwap(fs, dir)
      val collide: Column =
        col("pp").isin(pairs.map { case (b, m) => b * bucketParts + m }: _*)
      indexTable(spark, dir, "pp")
        .filter(col("batch") =!= excludeBatch && collide)
        .select(col("band"), col("bucket"), col("doc_id").as("prior_id"))
    }
  }

  /** The persisted signature table, pruned to the rows whose `sp` prune
    * key is in `sps` (pushed parquet filter over the sorted key) and
    * excluding `excludeBatch`'s own directory. */
  private[text] def prunedIndexSigs(spark: SparkSession, indexDir: String,
      excludeBatch: Long, sps: Seq[Int]): DataFrame = {
    val dir = s"$indexDir/sigs"
    val schema = StructType.fromDDL("doc_id LONG, sig ARRAY<LONG>")
    val p = new Path(dir)
    val fs = graft.util.HadoopIo.fsOf(p)
    if (!fs.exists(p) || sps.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      recoverSwap(fs, dir)
      indexTable(spark, dir, "sp")
        .filter(col("batch") =!= excludeBatch && col("sp").isin(sps: _*))
        .select(schema.fieldNames.map(col): _*)
    }
  }

  // index-table schemas, validated + cached once per (process, dir):
  // parquet inference is a footer-read Spark job per probe, but an
  // index table's schema is fixed for its lifetime (the layout guard
  // below), so only the FIRST probe of a directory pays it. Metadata
  // only — partition discovery (new batch dirs) still happens per read.
  private val indexSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, StructType]()

  private def indexTable(spark: SparkSession, dir: String,
      key: String): DataFrame = {
    val schema = indexSchemas.computeIfAbsent(dir,
      _ => requirePruneKey(spark.read.parquet(dir), key, dir).schema)
    spark.read.schema(schema).parquet(dir)
  }

  /** Loud incompatible-layout guard: an index written by the earlier
    * partition-directory layout has no data-column prune key and CANNOT
    * be probed by this version — fail with the remedy, not an
    * unresolved-column error deep in a plan. */
  private def requirePruneKey(df: DataFrame, key: String,
      dir: String): DataFrame = {
    if (!df.columns.contains(key)) sys.error(
      s"$dir: no '$key' column — this index predates the flat sorted " +
        "layout. Rebuild it (re-screen the corpus), or rewrite each " +
        "batch partition adding the prune key before probing.")
    df
  }

  /** The compacted partition's reserved batch id: foreachBatch ids are
    * non-negative, so -1 can never collide with a live batch (and the
    * probes' `batch =!= currentBatch` exclusion never excludes it). */
  val CompactedBatch: Long = -1L

  /** Fold all index partitions with `batch <= upToBatch` (plus any
    * previous compaction) into the single `batch=-1` partition, sorted
    * on the prune key — the maintenance rewrite a long-standing index
    * needs so probe listings stay O(recent batches), not O(lifetime).
    *
    * MUST run while the standing query is stopped, with `upToBatch` at
    * most the checkpoint's last COMMITTED batch: a replay of a batch
    * whose own signatures were folded into the compacted partition
    * would screen the batch against itself and reject every row.
    *
    * Crash-safe by ordering, duplicates-tolerated: the new compacted
    * partition is staged and swapped in BEFORE the source partitions
    * are deleted (probe candidates are `distinct`, so a crash window
    * where a row exists in both places only costs duplicate candidate
    * work, never a wrong verdict). The one window where the compacted
    * partition is ASIDE as `.compact_old` (between the two swap
    * renames) is healed by the probes themselves — `recoverSwap` runs
    * before every index read, so a restarted standing query never
    * screens against a history-less index. */
  def compactIndex(spark: SparkSession, indexDir: String,
      upToBatch: Long): Unit = {
    require(upToBatch >= 0, s"upToBatch must be a live batch id: $upToBatch")
    Seq(s"$indexDir/sigs" -> Seq("sp"), s"$indexDir/buckets" -> Seq("pp"))
      .foreach { case (dir, sortCols) =>
        val root = new Path(dir)
        val fs = graft.util.HadoopIo.fsOf(root)
        if (fs.exists(root)) {
          val old = new Path(dir, ".compact_old")
          val target = new Path(dir, s"batch=$CompactedBatch")
          recoverSwap(fs, dir)

          val folded = spark.read.parquet(dir)
            .filter(col("batch") <= upToBatch) // includes batch=-1
            .drop("batch")
            .dropDuplicates() // a prior crash may have left both copies
            .repartition(sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
          val tmp = new Path(dir, "_compact_tmp")
          if (fs.exists(tmp)) fs.delete(tmp, true)
          folded.write.parquet(tmp.toString)
          val sources = fs.listStatus(root).map(_.getPath).filter { p =>
            val n = p.getName
            n.startsWith("batch=") &&
              n.stripPrefix("batch=").toLong <= upToBatch &&
              n != s"batch=$CompactedBatch"
          }
          // swap: stage aside → land the new partition → drop sources.
          // Checked renames throughout — a silently-false rename here
          // followed by the source deletes would lose the folded index
          import graft.util.HadoopIo.renameOrFail
          if (fs.exists(target)) {
            if (fs.exists(old)) fs.delete(old, true)
            renameOrFail(target, old)
          }
          renameOrFail(tmp, target)
          sources.foreach(fs.delete(_, true))
          if (fs.exists(old)) fs.delete(old, true)
        }
      }
  }

  /** Heal the one compaction crash window where the compacted partition
    * was moved aside but its replacement never landed: restore it so
    * readers (which ignore dot-dirs) see the full history again. Runs
    * before every index read AND at the start of compaction. */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val old = new Path(dir, ".compact_old")
    val target = new Path(dir, s"batch=$CompactedBatch")
    if (fs.exists(old) && !fs.exists(target))
      graft.util.HadoopIo.renameOrFail(old, target)
  }

  /** Delete a batch's `__stage` scratch (staged signatures, candidates,
    * screened image) once its outputs are materialized — standing
    * queries call this per trigger so the stage dir never grows
    * unboundedly. Idempotent. */
  def cleanupBatchScratch(indexDir: String, bid: Long): Unit = {
    val stage = new Path(s"$indexDir/__stage")
    val fs = graft.util.HadoopIo.fsOf(stage)
    Seq(s"batch=$bid", s"cand_batch=$bid", s"screened_batch=$bid")
      .foreach { n =>
        val p = new Path(stage, n)
        if (fs.exists(p)) fs.delete(p, true)
      }
  }

  /** The standing form: a document stream screened batch-by-batch
    * against the growing index; novel rows land in `outDir`, duplicates
    * in `outDir/../rejected` with their `dup_of` attribution. */
  def start(spark: SparkSession, sourceDir: String, sourceSchema: StructType,
      idCol: String, textCol: String, indexDir: String, outDir: String,
      rejectedDir: String, checkpointDir: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): StreamingQuery = {
    spark.readStream.schema(sourceSchema)
      .option("maxFilesPerTrigger", 16)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // dedupeBatch's result is stage-backed: both splits below are
        // cheap reads of the screened stage, not re-screens
        val screened = dedupeBatch(batch, idCol, textCol, indexDir, bid,
          shingleN, numHashes, bands, threshold)
        screened.filter(col("dup_of").isNull).drop("dup_of")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$bid")
        screened.filter(col("dup_of").isNotNull)
          .write.mode(SaveMode.Overwrite).parquet(s"$rejectedDir/batch=$bid")
        // both outputs are materialized — the batch's scratch (staged
        // signatures, candidates + screened image) has no live readers;
        // a standing query must not grow __stage forever
        cleanupBatchScratch(indexDir, bid)
      }
      .start()
  }
}
