package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ArrayBinarySearch
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** Transaction-preserving apply: the target only ever exposes states that
  * some source transaction boundary produced.
  *
  * Reference semantics: TransactionApplier applies whole transactions in
  * commit order, each inside one target transaction, merging consecutive
  * small transactions into one target commit to amortize round-trips
  * (polardbx-cdc-rpl/.../applier/TransactionApplier.java:40-104, the
  * merge-to-accelerate loop at :50-87); SplitTransactionApplier
  * parallelizes the work INSIDE a transaction boundary by table
  * (SplitTransactionApplier.java:38-95). The mode exists for consumers
  * that audit transactional consistency — the reference's bank-transfer
  * QA asserts a constant total balance at every observable target state
  * (polardbx-cdc-transfer/.../Bank.java:90-92,175-198). A plain merge
  * apply (final images per key over a whole batch, the specs' converge
  * oracle) converges to
  * the same final state but can expose half of txn A with half of txn B
  * when a batch boundary splits a transaction.
  *
  * Spark restatement — a manifest-versioned bucketed target (the
  * version-pointer indirection every table format uses):
  *
  * {{{
  *   target/
  *     data/v00000007/__bucket=k/...   immutable parquet, written once
  *     _manifests/v00000007.manifest   bucket -> data dir, one per commit
  *     _schemas/s00000003.json         row schema, one per schema change
  *     _current            "version,lastTso,schemaV" — the ONE pointer swap
  * }}}
  *
  * A commit covers ONLY the buckets its transactions touch (fresh files
  * under the commit's version dir), a manifest maps every bucket to its
  * current data dir (touched -> new, untouched -> carried over), and the
  * `_current` pointer swap publishes it. Readers resolve `_current` once
  * and read that manifest's files — they observe exactly one committed
  * version, never a torn mix, and in-flight commits are invisible until
  * the pointer lands.
  *
  * The batch apply is ONE write query + a metadata-only commit loop. Its
  * input is [[Probed]]: the batch plus the (tso, bucket) pairs that the
  * write which materialized it observed, so the driver knows the commit
  * groups and their touched buckets before it plans. The write computes
  * EVERY commit's rewritten-bucket contents in one cumulative pass (for
  * commit group g and bucket b, each key's newest transaction's final
  * image at-or-before g, else its carried target row) over one exchange
  * on the bucket, and writes them `partitionBy(group, bucket)`. The
  * driver then publishes commits in TSO order by renaming each group's
  * staged dir into place and swinging the pointer — serial transaction
  * order lives in O(#commits) metadata renames, not O(#commits) serial
  * Spark jobs, so a 10k-transaction micro-batch is still one shuffle.
  * `txnsPerCommit` > 1 is the reference's own small-transaction merging
  * — every commit boundary is still a transaction boundary. The same
  * write counts the rows whose pair the probe missed (they would
  * publish nowhere) and the apply fails before publishing any of them.
  *
  * The per-trigger plan is sized for a standing replica, where a trigger
  * carries tens of rows and fixed cost dominates: the commit groups and
  * each bucket's writer groups reach the executors as literal arrays
  * bounded by transactions (never a broadcast join, which costs a Spark
  * job of its own per join), and the replay gate reads the committed TSO
  * through a function reference, so each trigger runs the generated
  * classes the previous one compiled.
  *
  * All target IO goes through the Hadoop FileSystem API: `dir` may be any
  * configured scheme (file://, hdfs://, s3a://, oss://). The pointer swap
  * is write-temp + delete + rename — atomic on HDFS-like stores; readers
  * retry once across the delete→rename window.
  */
object TxnApplier {

  /** A committed target version and the last TSO it covers. */
  final case class Commit(version: Long, lastTso: Long)

  /** How a routed apply writes the target. The trade (measured, sf1
    * rehearsal, SCALING.md round 18): COW rewrites every touched
    * bucket's full contents per trigger — O(touched target), the fast
    * shape while the target is small (sub-second at 100 MB) and O(n²)
    * over a standing run once uniform keys touch every bucket of a
    * grown target (25 s+/trigger at 800 MB); DELTA appends O(batch)
    * merge-on-read overlays and pays the fold back at compaction, a
    * per-trigger fixed cost (~seconds of extra pipeline) that loses to
    * COW below a few-hundred-MB target. [[ApplyMode.Auto]] automates
    * the documented crossover: the mode is picked PER TABLE per trigger
    * from the measured committed size ([[targetBytes]] — the manifest
    * already knows it), so a small table stays COW-fast and a growing
    * one flips to delta before the knee. */
  sealed trait ApplyMode
  object ApplyMode {
    /** Copy-on-write touched-bucket rewrite every trigger. */
    case object Cow extends ApplyMode
    /** Merge-on-read delta commits, folded by compaction. */
    case object Delta extends ApplyMode
    /** Delta once the measured target reaches `crossoverBytes`, COW
      * below it. Sticky while live chains exist (a mid-chain COW apply
      * would fold the whole target first — the expensive move Auto
      * exists to avoid). `remeasureCommits` bounds how often the size
      * is actually measured: a below-crossover table re-measures only
      * after that many committed versions (the measure is a recursive
      * listing per referenced dir — on object stores, O(buckets)
      * remote LIST calls; paying it on EVERY trigger for every small
      * table of a standing consumer is the tax this bound removes).
      * Staleness only delays the COW→delta flip by at most that many
      * triggers — both modes are correct, the knee is a cost curve,
      * not a cliff. */
    final case class Auto(crossoverBytes: Long = DefaultCrossoverBytes,
        remeasureCommits: Long = DefaultRemeasureCommits)
      extends ApplyMode
    /** The measured COW/delta crossover (sf1 rehearsal: COW wins to
      * ~100 MB, loses clearly by ~800 MB; the knee sits in between). */
    val DefaultCrossoverBytes: Long = 256L << 20
    /** Default size-probe cadence in committed versions. */
    val DefaultRemeasureCommits: Long = 16L
  }

  // dir -> (measured bytes, version measured at); per-JVM, valid under
  // the single-writer-per-target deployment contract (the only writer
  // that can change the size is the one consulting the cache)
  private val targetBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Resolve the mode for one target right now. O(1) metadata for the
    * fixed modes; Auto reads the current pointer (O(1)) and re-measures
    * the committed size only every `remeasureCommits` versions — the
    * measure itself is one listing pass, O(files of the current
    * version) driver-side, the same cost class as the maintenance
    * passes that run next to it. */
  def useDelta(dir: String, mode: ApplyMode): Boolean = mode match {
    case ApplyMode.Cow => false
    case ApplyMode.Delta => true
    case ApplyMode.Auto(crossover, remeasure) =>
      maxChainLength(dir) > 1 ||
        targetBytesCached(dir, remeasure) >= crossover
  }

  private def targetBytesCached(dir: String, remeasure: Long): Long = {
    val v = currentCommit(dir).map(_.version).getOrElse(-1L)
    Option(targetBytesCache.get(dir)) match {
      // re-measure on cadence, and on any non-monotone version (a
      // rebuilt/reset target must never serve a stale size)
      case Some((b, mv)) if v >= mv && v - mv < remeasure => b
      case _ =>
        val b = targetBytes(dir)
        targetBytesCache.put(dir, (b, v))
        b
    }
  }

  /** Measured bytes of everything the CURRENT version references (base
    * buckets + live delta overlays). 0 for un-bootstrapped dirs. */
  def targetBytes(dir: String): Long = {
    val root = new Path(dir)
    currentCommit(dir) match {
      case None => 0L
      case Some(c) =>
        val fs = fsOf(root)
        readManifest(root, c.version).values
          .flatMap(chainOf).toSeq.distinct
          .map { rel =>
            val p = new Path(root, rel)
            if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
          }.sum
    }
  }

  private def fsOf(p: Path): FileSystem = graft.util.HadoopIo.fsOf(p)

  private def manifestDir(root: Path) = new Path(root, "_manifests")
  private def currentFile(root: Path) = new Path(root, "_current")
  private def schemaFile(root: Path) = new Path(root, "_schema")
  private def schemasDir(root: Path) = new Path(root, "_schemas")
  private def schemaVersionFile(root: Path, sv: Long) =
    new Path(schemasDir(root), f"s$sv%08d.json")
  private def manifestFile(root: Path, v: Long) =
    new Path(manifestDir(root), f"v$v%08d.manifest")
  private def versionRel(v: Long): String = f"data/v$v%08d"

  /** The pointer record plus the SCHEMA VERSION it selects. The third
    * pointer field binds data and schema into ONE commit point: a
    * schema-changing operation (evolve, rebuild) stages its schema as
    * `_schemas/s{N}.json` first and publishes it only via the pointer
    * swap, so a crash between the two leaves BOTH the old data and the
    * old schema current — never the old data read under a renamed /
    * retyped schema. Legacy 2-field pointers report schemaV 0, which
    * resolves to the unversioned `_schema` sidecar. */
  private def readPointer(root: Path): Option[(Commit, Long)] = {
    val fs = fsOf(root)
    def readOnce: Option[(Commit, Long)] =
      try {
        val parts = graft.util.HadoopIo.readString(currentFile(root)).trim.split(",")
        Some((Commit(parts(0).toLong, parts(1).toLong),
          if (parts.length > 2) parts(2).toLong else 0L))
      } catch { case _: java.io.FileNotFoundException => None }
    if (!fs.exists(currentFile(root))) readOnce // retry across a swap
    else readOnce.orElse(readOnce)
  }

  /** The committed version pointer, or None for an un-bootstrapped dir. */
  def currentCommit(dir: String): Option[Commit] =
    readPointer(new Path(dir)).map(_._1)

  /** All committed versions, oldest first (the observable-state history —
    * each was `_current` for some interval). */
  def versions(dir: String): Seq[Long] = {
    val root = new Path(dir)
    val fs = fsOf(root)
    if (!fs.exists(manifestDir(root))) Seq.empty
    else fs.listStatus(manifestDir(root)).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
      .sorted
  }

  /** A manifest VALUE is a chain of data dirs, oldest→newest,
    * ';'-joined: a plain COW entry is a 1-element chain (the bucket's
    * full contents); `.delta` entries after it are merge-on-read
    * overlays ([[applyBatchDelta]]). */
  private def chainOf(entry: String): Seq[String] =
    entry.split(";").toSeq
  private def isDelta(rel: String): Boolean = rel.contains(".delta")
  private def deltaVersionRel(v: Long): String = f"data/v$v%08d.delta"

  private def keysFile(root: Path) = new Path(root, "_keys")

  /** Persist (keyCols, nBuckets) once — merge-on-read and compaction
    * need them without the caller in scope (readVersion has no apply
    * parameters). Written by bootstrap; back-filled by the first
    * delta apply on a pre-existing target. */
  private def writeKeyCols(root: Path, keyCols: Seq[String],
      nBuckets: Int): Unit =
    graft.util.HadoopIo.writeSwap(new Path(root, "._keys.tmp"),
      keysFile(root), s"${keyCols.mkString(",")}\n$nBuckets")

  private def readKeyCols(root: Path): (Seq[String], Int) = {
    val fs = fsOf(root)
    require(fs.exists(keysFile(root)),
      s"txn target $root: no _keys sidecar — delta chains need the " +
        "key columns persisted (bootstrap or one delta apply writes it)")
    val lines = graft.util.HadoopIo.readString(keysFile(root)).split("\n")
    (lines(0).split(",").toSeq, lines(1).trim.toInt)
  }

  /** Longest manifest chain of the current version — the compaction
    * trigger signal (1 = fully compacted / pure COW; grows by one per
    * delta commit on a touched bucket). */
  def maxChainLength(dir: String): Int = {
    val root = new Path(dir)
    currentCommit(dir) match {
      case None => 0
      case Some(c) =>
        val m = readManifest(root, c.version)
        if (m.isEmpty) 0 else m.values.map(chainOf(_).size).max
    }
  }

  private def readManifest(root: Path, v: Long): Map[Int, String] = {
    val fs = fsOf(root)
    graft.util.HadoopIo.readString(manifestFile(root, v)).split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(b, p) = line.split("\t", 2)
        b.toInt -> p
      }.toMap
  }

  private def writeManifest(root: Path, v: Long, entries: Map[Int, String]): Unit = {
    val fs = fsOf(root)
    fs.mkdirs(manifestDir(root))
    val body = entries.toSeq.sortBy(_._1)
      .map { case (b, p) => s"$b\t$p" }.mkString("\n")
    graft.util.HadoopIo.writeSwap(new Path(manifestDir(root), s".v$v.tmp"),
      manifestFile(root, v), body)
  }

  /** The atomic commit point: everything before this swap is invisible
    * to readers; a crash before it leaves the previous version current
    * (orphan data files and staged schema versions, reclaimed /
    * overwritten later). `schemaV` rides in the same record so data
    * version and schema version become visible ATOMICALLY. */
  private def commitPointer(root: Path, c: Commit, schemaV: Long): Unit =
    graft.util.HadoopIo.writeSwap(new Path(root, "._current.tmp"),
      currentFile(root), s"${c.version},${c.lastTso},$schemaV")

  /** Pointer swap for the read-modify-write callers (evolveSchema /
    * rebuildTarget): verifies the pointer still reads as it did when
    * the caller started before swinging it, failing LOUDLY if a
    * concurrent writer committed in between — a silent swap there
    * would regress version AND lastTso, making committed transactions
    * disappear and re-apply. This narrows the race window to the
    * re-read→rename gap rather than eliminating it: the DEPLOYMENT
    * CONTRACT is single-writer per target (one replica applier owns a
    * target dir, the reference's single TransactionApplier per
    * stream), and this check turns most contract violations into an
    * error instead of data loss. */
  private def commitPointerFrom(root: Path, expected: (Commit, Long),
      c: Commit, schemaV: Long): Unit = {
    val now = readPointer(root)
    if (!now.contains(expected))
      sys.error(s"txn target $root: pointer moved ${expected} -> ${now} " +
        "during a schema evolution/rebuild — a concurrent writer is " +
        "violating the single-writer contract; refusing the swap")
    commitPointer(root, c, schemaV)
  }

  /** Stage schema version `sv` (invisible until a pointer names it). */
  private def writeSchemaVersion(root: Path, sv: Long,
      schema: StructType): Unit = {
    fsOf(root).mkdirs(schemasDir(root))
    graft.util.HadoopIo.writeSwap(
      new Path(schemasDir(root), f".s$sv%08d.tmp"),
      schemaVersionFile(root, sv), schema.json)
  }

  private def listBucketDirs(fs: FileSystem, d: Path): Map[Int, Path] =
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bucket="))
      .map(s => s.getPath.getName.stripPrefix("__bucket=").toInt -> s.getPath)
      .toMap

  /** The target's row schema, persisted at bootstrap — readers and the
    * applier skip per-action parquet footer inference (each one is a
    * driver round-trip; a micro-batch applier pays it per batch).
    * Resolved through the POINTER's schema version: the schema a
    * reader sees is exactly the one the committed pointer names, so a
    * crash between staging a new schema and swinging the pointer is
    * invisible. Legacy targets (2-field pointer) read `_schema`. */
  private def readTargetSchema(root: Path): Option[StructType] = {
    val sv = readPointer(root).map(_._2).getOrElse(0L)
    val p = if (sv > 0) schemaVersionFile(root, sv) else schemaFile(root)
    try Some(DataType.fromJson(
      graft.util.HadoopIo.readString(p)).asInstanceOf[StructType])
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The persisted target row schema (None before bootstrap). */
  def targetSchema(dir: String): Option[StructType] =
    readTargetSchema(new Path(dir))

  /** The target's committed DDL position — the highest statement TSO
    * whose schema effect (evolution or rebuild) has been applied; 0
    * before any. Row position (`Commit.lastTso`) only advances with
    * ROW transactions, so DDL needs its own high-water mark: without
    * one, a batch replayed after LATER batches would re-run a rename
    * whose chain has moved on and fail its column lookup. */
  def ddlPosition(dir: String): Long =
    try graft.util.HadoopIo.readString(
      new Path(new Path(dir), "_ddltso")).trim.toLong
    catch { case _: java.io.FileNotFoundException => 0L }

  /** Advance the DDL position (monotonic; regressions ignored). Call
    * AFTER the statement's schema effect lands — a crash between the
    * two replays the statement, whose no-op checks absorb it. */
  def commitDdlPosition(dir: String, tso: Long): Unit =
    if (tso > ddlPosition(dir)) {
      val root = new Path(dir)
      graft.util.HadoopIo.writeSwap(new Path(root, "._ddltso.tmp"),
        new Path(root, "_ddltso"), tso.toString)
    }

  /** The target's persisted RENAME LINEAGE: for each current column
    * name, the older names it has carried (newest first). The row
    * apply reads a renamed column through this fallback chain, so
    * string images decoded under a STALE registry (a consumer whose
    * tableCols predate the rename — e.g. a wire-file tail across
    * batches) still land their values instead of
    * silently nulling out. Maintained by the DDL fold
    * (WireReplicaJob.applyRouted): renames append, and ADDing
    * a column whose name an old chain holds evicts that name (the
    * name is REUSED for a different column; old images under it must
    * no longer feed the renamed one). */
  def renameLineage(dir: String): Map[String, Seq[String]] =
    try graft.util.HadoopIo.readString(
        new Path(new Path(dir), "_renames")).split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(nw, olds) = line.split("\t", 2)
        nw -> olds.split(",").toSeq.filter(_.nonEmpty)
      }.toMap
    catch { case _: java.io.FileNotFoundException => Map.empty }

  /** Overwrite the rename lineage (atomic swap). */
  def saveRenameLineage(dir: String,
      lineage: Map[String, Seq[String]]): Unit = {
    // delimiter guard: a column name carrying the sidecar's separators
    // would corrupt it — misbinding the fallback chain on resume
    lineage.foreach { case (nw, olds) =>
      require((nw +: olds).forall(c => !c.exists(",\t\n".contains(_))),
        s"rename-lineage column names must not contain " +
          s"comma/tab/newline: '$nw'")
    }
    val root = new Path(dir)
    graft.util.HadoopIo.writeSwap(new Path(root, "._renames.tmp"),
      new Path(root, "_renames"),
      lineage.toSeq.sortBy(_._1)
        .map { case (nw, olds) => s"$nw\t${olds.mkString(",")}" }
        .mkString("\n"))
  }

  /** ONLINE schema evolution of the target — the replica's ADD/DROP
    * COLUMN path. Metadata-only: a new `_schemas/s{N}.json` version is
    * staged and the pointer swap publishes it (data version and
    * lastTso unchanged); data files never rewrite. Carried-over files read
    * added columns as NULL (`spark.read.schema` fills missing parquet
    * columns) and dropped columns simply stop being selected. The
    * sidecar is the CURRENT shape, so versioned reads render history
    * in the evolved schema too — the replica semantics (MySQL's
    * instant ADD COLUMN renders old rows with the new column as well).
    * Safe moves only: callers must not rename or re-type columns this
    * way (old files would mis-read) — `WireReplicaJob.applyRouted`
    * enforces the restriction loudly. */
  def evolveSchema(dir: String, newSchema: StructType): Unit = {
    val root = new Path(dir)
    val (cur, sv) = readPointer(root).getOrElse(
      sys.error(s"txn target $dir: bootstrap before evolving"))
    writeSchemaVersion(root, sv + 1, newSchema)
    commitPointerFrom(root, (cur, sv), cur, sv + 1)
  }

  /** Read one committed version (time travel over observable states). */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val root = new Path(dir)
    val entries = readManifest(root, v)
    val rels = entries.values.toSeq.sorted.flatMap(chainOf)
    val (deltaRels, baseRels) = rels.partition(isDelta)
    if (deltaRels.nonEmpty)
      return mergedRead(spark, root, entries)
    val paths = baseRels.distinct.map(rel => new Path(root, rel).toString)
    if (paths.isEmpty) readTargetSchema(root) match {
      // an empty version still HAS the target's row shape — a rebuild
      // or projection over it must see real columns, not a 0-field frame
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => spark.emptyDataFrame
    }
    else readTargetSchema(root) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** MERGE-ON-READ: base bucket contents overlaid with the delta
    * chains' final images — per key the newest image (by the change
    * stream's commit TSO; base rows sit below every delta) wins, DELETE
    * images erase. The read-side half of [[applyBatchDelta]]'s
    * write-cheap contract; [[compact]] folds it back to a plain read.
    *
    * `entries` is the (sub)manifest to read — bucket → chain. A
    * group-level `.delta` dir is SHARED by every bucket its commit
    * touched, and incremental compaction ([[compactBuckets]]) can fold
    * it out of SOME of those chains while others still hold it — so a
    * delta row only counts for buckets whose CURRENT chain still holds
    * its dir (otherwise a partially-folded dir would resurrect the
    * folded buckets' stale images over their new base). Rels are
    * grouped by their holder-bucket set: one scan+filter per distinct
    * set (1 scan in the never-partially-folded case, ≤ chain-length
    * scans mid-sweep, all column-pruned). */
  private def mergedRead(spark: SparkSession, root: Path,
      entries: Map[Int, String]): DataFrame = {
    val s = readTargetSchema(root).getOrElse(sys.error(
      s"txn target $root: merge-on-read needs the schema sidecar"))
    val (keyCols, _) = readKeyCols(root)
    val chains = entries.map { case (b, e) => b -> chainOf(e) }
    val baseRels =
      chains.values.flatten.filterNot(isDelta).toSeq.distinct
    val base =
      if (baseRels.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      else spark.read.schema(s).parquet(
        baseRels.map(rel => new Path(root, rel).toString): _*)
    val deltaSchema = s
      .add("effective_op", org.apache.spark.sql.types.StringType)
      .add("__delta_tso", org.apache.spark.sql.types.LongType)
      .add("__bucket", org.apache.spark.sql.types.IntegerType)
    val holders: Map[String, Set[Int]] = chains.toSeq
      .flatMap { case (b, ch) => ch.filter(isDelta).map(_ -> b) }
      .groupBy(_._1).map { case (rel, bs) => rel -> bs.map(_._2).toSet }
    val deltaReads = holders.groupBy(_._2).toSeq.map {
      case (allowed, rels) =>
        spark.read.schema(deltaSchema)
          .parquet(rels.keys.toSeq.sorted
            .map(rel => new Path(root, rel).toString): _*)
          .filter(col("__bucket").isin(allowed.toSeq: _*))
    }
    val deltas = deltaReads
      .reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        deltaSchema))
      .drop("__bucket")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__delta_tso").desc)
    base
      .withColumn("effective_op", lit("KEEP"))
      .withColumn("__delta_tso", lit(-1L))
      .unionByName(deltas)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("effective_op") =!= "DELETE")
      .select(s.fieldNames.toSeq.map(col): _*)
  }

  /** Read the current committed state (what any consumer sees). */
  def readCurrent(spark: SparkSession, dir: String): DataFrame =
    currentCommit(dir) match {
      case Some(c) => readVersion(spark, dir, c.version)
      case None => sys.error(s"txn target $dir: not bootstrapped")
    }

  /** Initial full state as version 1 (the RPL full-copy handoff point).
    * `initial` must carry the same columns a change-batch row does (key,
    * seq, op, payload) — the target's row shape is the batch's. */
  def bootstrap(initial: DataFrame, keyCols: Seq[String], dir: String,
      nBuckets: Int, initialTso: Long = 0L): Unit = {
    if (currentCommit(dir).isDefined)
      sys.error(s"txn target $dir: already bootstrapped")
    val root = new Path(dir)
    val fs = fsOf(root)
    val v = 1L
    val d = new Path(root, versionRel(v))
    initial.withColumn("__bucket", Appliers.bucketOf(keyCols, nBuckets))
      // clustered dynamic write: one writer per bucket dir, not
      // tasks x buckets files (bucket count bounds the parallelism,
      // which is the layout's read parallelism anyway)
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").mode(SaveMode.Overwrite)
      .parquet(d.toString)
    val entries = listBucketDirs(fs, d)
      .map { case (b, _) => b -> s"${versionRel(v)}/__bucket=$b" }
    // persist the row schema once: every later read and apply resolves
    // columns from this sidecar, never a parquet footer job
    writeSchemaVersion(root, 1L, initial.schema)
    // and the key layout: merge-on-read and compaction resolve keys
    // from this sidecar (readVersion has no apply parameters in scope)
    writeKeyCols(root, keyCols, nBuckets)
    writeManifest(root, v, entries)
    commitPointer(root, Commit(v, initialTso), 1L)
  }

  /** REBUILD the target for DDL the metadata-only evolution path
    * refuses (re-type / rename): read the CURRENT committed state,
    * push it through `transform`, and publish the result as ONE new
    * version covering every bucket — pointer-swapped at the committed
    * txn boundary (`lastTso` unchanged, so the apply gate's
    * exactly-once story is untouched) with the transformed schema
    * staged as a new `_schemas/` version named by the SAME pointer
    * record — data and schema flip in one atomic swap, so neither a
    * reader nor a crash-replay can ever pair old data with the
    * renamed/retyped schema. The reference's meta
    * layer applies arbitrary DDL by rebuilding its table images
    * (meta/PolarDbXTableMetaManager.java:103,
    * MemoryTableMeta.java:122-147); this is that rebuild as one
    * distributed job — the full-rewrite price of a re-type, paid
    * once, never silently.
    *
    * `keyCols` are the key columns AFTER the transform (bucket hashes
    * recompute from the transformed values, so the layout and every
    * later applyBatch agree). `transform` must be IDEMPOTENT
    * (withColumnRenamed on an absent column and cast-to-same-type
    * both no-op) — a replayed trigger re-runs it against the
    * already-rebuilt state. Storage: the rebuild is a full second
    * copy until `vacuum` reclaims the superseded versions — schedule
    * one after a rebuild on a large target. */
  def rebuildTarget(spark: SparkSession, dir: String,
      keyCols: Seq[String], nBuckets: Int,
      transform: DataFrame => DataFrame): Commit = {
    val root = new Path(dir)
    val (cur, sv) = readPointer(root)
      .getOrElse(sys.error(s"txn target $dir: bootstrap before rebuilding"))
    val fs = fsOf(root)
    val rebuilt = transform(readCurrent(spark, dir))
    require(keyCols.forall(rebuilt.columns.contains),
      s"rebuildTarget: transformed frame lacks key columns " +
        s"${keyCols.filterNot(rebuilt.columns.contains).mkString(",")}")
    val v = cur.version + 1
    val d = new Path(root, versionRel(v))
    if (fs.exists(d)) fs.delete(d, true) // uncommitted crash debris
    rebuilt.withColumn("__bucket", Appliers.bucketOf(keyCols, nBuckets))
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").mode(SaveMode.Overwrite)
      .parquet(d.toString)
    val entries = listBucketDirs(fs, d)
      .map { case (b, _) => b -> s"${versionRel(v)}/__bucket=$b" }
    // staged, invisible: the pointer swap below is the SINGLE commit
    // point for data AND schema — a crash here leaves old data read
    // under the old schema, and the replay's no-op checks (which read
    // the pointer-selected schema) correctly re-run the rebuild
    writeSchemaVersion(root, sv + 1, rebuilt.schema)
    // keys may change across a rebuild (rename): keep the sidecar in
    // step so later delta applies and compactions merge on the right
    // columns (idempotent under replay, like the transform itself)
    writeKeyCols(root, keyCols, nBuckets)
    writeManifest(root, v, entries)
    val c = Commit(v, cur.lastTso)
    commitPointerFrom(root, (cur, sv), c, sv + 1)
    c
  }

  /** The replay gate: rows past the committed `lastTso`. The TSO is
    * read through the function's closure, not inlined as a literal, so
    * every trigger's gate compiles to the same generated class — an
    * inlined literal makes each new TSO new source, compiled once per
    * table per trigger and evicting stable classes from the codegen
    * cache. */
  private def pastTso(tsoCol: String, lastTso: Long): Column =
    udf((t: Long) => t > lastTso).apply(col(tsoCol).cast("long"))

  /** A change batch ready to apply: `frame` holds the typed rows (the
    * target's columns plus the op, seq and tso columns) and `pairs` the
    * distinct (tso, bucket) pair of every row, observed by the write
    * that materialized `frame`. The pairs are the driver's whole view
    * of the batch — its commit groups and each group's touched buckets,
    * bounded by txns × buckets-per-txn, never by rows — so the apply
    * plans its one write without reading the batch first. [[stage]]
    * builds one; callers that already write the batch observe
    * [[pairsProbe]] on that write instead (`WireReplicaJob.stageRouted`,
    * `GapRepairJob`). `frame` must read the same rows every time (a
    * staged table, or a pure view of one). */
  final case class Probed(frame: DataFrame, pairs: Seq[(Long, Int)])

  /** The probe aggregate: every distinct (tso, bucket) pair of the rows
    * that satisfy `where` and whose key columns are `keys`, bucketed as
    * the target buckets them. */
  def pairsProbe(keys: Seq[Column], tso: Column, nBuckets: Int,
      where: Column = lit(true)): Column =
    collect_set(when(where, struct(tso.cast("long"),
      Appliers.bucketOfKeys(keys, nBuckets))))

  /** An observed pair array as (tso, bucket) pairs. */
  def pairsOf(observed: Any): Seq[(Long, Int)] =
    observed.asInstanceOf[Seq[org.apache.spark.sql.Row]]
      .map(r => (r.getLong(0), r.getInt(1)))

  /** Stage a typed change batch under `dir` (overwritten per call) with
    * [[pairsProbe]] riding the write: the input of [[applyBatch]] and
    * [[applyBatchDelta]] for callers that hold a plain frame. */
  def stage(batch: DataFrame, keyCols: Seq[String], tsoCol: String,
      nBuckets: Int, dir: String): Probed = {
    val probe = org.apache.spark.sql.Observation()
    val staged = Staged.parquetStage(batch.observe(probe,
      pairsProbe(keyCols.map(col), col(tsoCol), nBuckets).as("pairs")), dir)
    Probed(staged, pairsOf(probe.get("pairs")))
  }

  /** Crash points on the apply's durable steps, armed only by tests:
    * called with the target dir and the step — "written" once the one
    * write landed and before any publish, then "published <i>" after
    * commit group i's pointer swap. A no-op otherwise. */
  @volatile private[graft] var onStep: (String, String) => Unit =
    (_, _) => ()

  /** An apply's image rows whose (tso, bucket) pair no commit group
    * writes: the probe missed them, and publishing would drop them. */
  final class ProbeMiss(val dir: String, val rows: Long, val fromTso: Long,
      val toTso: Long) extends IllegalStateException(
    s"txn target $dir: $rows row(s) in TSO range [$fromTso, $toTso] " +
      "have no commit group for their (tso, bucket) pair; nothing was " +
      "published")

  /** The probe's (tso, bucket) pairs as the ordered commit groups
    * (`txnsPerCommit` consecutive TSOs each) and each group's touched
    * buckets, indexed by group. */
  private def commitGroups(tsoBuckets: Seq[(Long, Int)],
      txnsPerCommit: Int): (Vector[Array[Long]], Vector[Set[Int]]) = {
    val groups = tsoBuckets.map(_._1).distinct.sorted
      .grouped(math.max(1, txnsPerCommit)).map(_.toArray).toVector
    val bucketsOf = tsoBuckets.groupMap(_._1)(_._2)
    (groups, groups.map(_.flatMap(bucketsOf).toSet))
  }

  /** The batch's rows past the replay gate in the apply's column set —
    * the target's columns plus `__seq`, `__op`, `__tso_ord`, `__grp` (the
    * commit group) and `__bucket` — with the probe guard observed on
    * them. A row's group is its TSO's position among the groups' sorted
    * TSOs, one binary search over a literal array (O(#txns) driver data,
    * no join); the guard counts the rows whose TSO is in no group or
    * whose group does not write their bucket (`writers`, bucket → the
    * groups that rewrite it), and [[checkProbe]] reads it once the write
    * that runs this plan returns. */
  private def imageRows(input: Probed, targetCols: Seq[String],
      keyCols: Seq[String], seqCol: String, opCol: String, tsoCol: String,
      lastTso: Long, groups: Seq[Array[Long]], txnsPerCommit: Int,
      writers: Column, nBuckets: Int)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val pos = ColumnBridge.column(ArrayBinarySearch(
      ColumnBridge.expression(typedLit(groups.flatten)),
      ColumnBridge.expression(col(tsoCol).cast("long"))))
    val rows = input.frame.filter(pastTso(tsoCol, lastTso))
      .select(targetCols.map(col) ++ Seq(col(seqCol).as("__seq"),
        col(opCol).as("__op"), col(tsoCol).cast("long").as("__tso_ord"),
        when(pos >= 0, (pos / math.max(1, txnsPerCommit)).cast("int"))
          .as("__grp"),
        Appliers.bucketOf(keyCols, nBuckets).as("__bucket")): _*)
    val missed = !coalesce(
      array_contains(writers, col("__grp")), lit(false))
    val guard = org.apache.spark.sql.Observation()
    (rows.observe(guard, count(when(missed, 1)).as("rows"),
      min(when(missed, col("__tso_ord"))).as("from"),
      max(when(missed, col("__tso_ord"))).as("to")), guard)
  }

  private def checkProbe(guard: org.apache.spark.sql.Observation,
      dir: String): Unit = {
    val m = guard.get
    val n = m("rows").asInstanceOf[Long]
    if (n > 0) throw new ProbeMiss(dir, n, m("from").asInstanceOf[Long],
      m("to").asInstanceOf[Long])
  }

  /** `df` clustered on `key` for the apply's one window: a single task,
    * with no shuffle, when the whole input (the batch rows plus any
    * carried target rows, as the file listing sizes them) fits the size
    * AQE aims one post-shuffle partition at — below it a shuffle buys
    * parallelism the input cannot use and costs a map-stage job — else
    * one hash exchange on `key`. A standing trigger's tens of rows over a
    * small target take the first shape: one job per table. */
  private def clustered(df: DataFrame, key: String): DataFrame =
    if (df.queryExecution.analyzed.stats.sizeInBytes <=
        df.sparkSession.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      df.coalesce(1)
    else df.repartition(col(key))

  /** Each bucket's writer groups, ascending, as a literal array read
    * at `bucket`: bounded by groups × buckets, never rows. */
  private def writersOf(touchedByGrp: Vector[Set[Int]], nBuckets: Int,
      bucket: Column): Column =
    element_at(typedLit(Seq.tabulate(nBuckets)(b =>
      touchedByGrp.indices.filter(g => touchedByGrp(g)(b)))), bucket + 1)

  /** The target's data columns, resolved without a footer job when the
    * schema sidecar exists. */
  private def targetColsOf(spark: SparkSession, root: Path,
      manifest: Map[Int, String], batch: DataFrame): Seq[String] =
    readTargetSchema(root) match {
      case Some(s) => s.fieldNames.toSeq // bootstrap-persisted sidecar
      case None => manifest.values.toSeq.sorted.headOption match {
        case Some(entry) => // footer-only schema probe of a current file
          spark.read.parquet(
            new Path(root, chainOf(entry).head).toString).columns.toSeq
        case None => batch.columns.toSeq
      }
    }

  /** Apply a change batch preserving transaction atomicity: transactions
    * (grouped by `tsoCol`, the commit TSO) are applied in TSO order,
    * `txnsPerCommit` consecutive transactions per atomic target commit.
    * Exactly-once across batch replays: transactions at or below the
    * committed `lastTso` are skipped — in the probe's pairs and in the
    * rows — so a foreachBatch replay after a crash resumes at the first
    * unapplied transaction; a half-applied batch never doubles, and a
    * fully replayed one runs no job.
    *
    * Cost shape (see object doc): ONE write query — the per-transaction
    * final images and every commit's rewritten-bucket contents in one
    * plan with one exchange — then metadata-only publication per commit.
    * The plan joins no driver-built frame: the (tso → commit group) and
    * (bucket → writer groups) maps ride it as literal arrays built from
    * `input.pairs`. A crash mid-publication leaves a committed prefix of
    * whole commit groups; the rest replays. */
  def applyBatch(input: Probed, keyCols: Seq[String], seqCol: String,
      opCol: String, tsoCol: String, dir: String, nBuckets: Int = 64,
      txnsPerCommit: Int = 1): Seq[Commit] = {
    val spark = input.frame.sparkSession
    val root = new Path(dir)
    val (start0, schemaV0) = readPointer(root)
      .getOrElse(sys.error(s"txn target $dir: bootstrap first"))
    // COW apply over delta chains: the per-bucket target read wants
    // plain bucket dirs — fold the chains first (rare mixed-mode path)
    val (start, schemaV) =
      if (readManifest(root, start0.version).values
          .exists(e => chainOf(e).exists(isDelta))) {
        compact(spark, dir)
        readPointer(root).get
      } else (start0, schemaV0)
    val pairs = input.pairs.filter(_._1 > start.lastTso)
    if (pairs.isEmpty) return Seq.empty
    val fs = fsOf(root)
    val staging = new Path(root, "_batchstage")
    if (fs.exists(staging)) fs.delete(staging, true)
    try {
      val (groups, touchedByGrp) = commitGroups(pairs, txnsPerCommit)
      val manifest = readManifest(root, start.version)
      val targetCols = targetColsOf(spark, root, manifest,
        input.frame)
      val writers = writersOf(touchedByGrp, nBuckets, col("__bucket"))
      val (images, guard) = imageRows(input, targetCols, keyCols, seqCol,
        opCol, tsoCol, start.lastTso, groups, txnsPerCommit, writers,
        nBuckets)

      // the one write: every commit's rewritten-bucket contents. Rows in
      // play: the touched buckets' current target rows (pseudo txn
      // order -1) plus the batch rows. Each bucket's writer-group list
      // replicates each row to every commit that rewrites its bucket and
      // could see it (group <= writer); per (writer, key) the newest txn
      // wins, within it the highest seq (the per-transaction final
      // image), and a DELETE image erases.
      val allTouched = touchedByGrp.flatten.toSet
      val targetPaths = allTouched.toSeq.sorted.flatMap(manifest.get)
        .map(rel => new Path(root, rel).toString)
      val targetRead = readTargetSchema(root) match {
        case Some(s) => spark.read.schema(s)
        case None => spark.read
      }
      val unioned =
        if (targetPaths.isEmpty) images
        else images.unionByName(
          targetRead.parquet(targetPaths: _*)
            .select(targetCols.map(col) ++ Seq(
              lit(null).cast(images.schema("__seq").dataType).as("__seq"),
              lit("KEEP").as("__op"), lit(-1L).as("__tso_ord"),
              lit(-1).as("__grp"),
              Appliers.bucketOf(keyCols, nBuckets).as("__bucket")): _*))
      val outPath = new Path(staging, "out")
      // newest-wins per (writer, key) as a WINDOW, not an aggregate: a
      // max_by(struct) carries a struct buffer, which no hash-based
      // aggregate exec supports — Catalyst picks SortAggregate, whose
      // partial phase adds a map-side sort of the replicated rows on top
      // of the final-side sort (measured ~1.5x the window at sf0.1). The
      // window's keys lead with (__wv, __bucket), so one clustering on
      // __bucket (which every key of the window holds) serves it, and its
      // sort order is the one the partitioned write needs — no exchange
      // or sort of its own. Rows tie only on a repeated (tso, seq) of one
      // key, the same tie the per-transaction merge has always had.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy((Seq("__wv", "__bucket") ++ keyCols).map(col): _*)
        .orderBy(col("__tso_ord").desc, col("__seq").desc)
      clustered(unioned, "__bucket")
        .withColumn("__wv",
          explode(filter(writers, wv => wv >= col("__grp"))))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("__op") =!= "DELETE")
        .select(targetCols.map(col) ++ Seq(col("__wv"), col("__bucket")): _*)
        .write.partitionBy("__wv", "__bucket").mode(SaveMode.Overwrite)
        .parquet(outPath.toString)
      checkProbe(guard, dir)
      onStep(dir, "written")

      // publication — metadata only, in TSO order: rename each group's
      // staged dir into place, write its manifest, swing the pointer
      var entries = manifest
      val commits = Seq.newBuilder[Commit]
      groups.zipWithIndex.foreach { case (g, i) =>
        val v = start.version + 1 + i
        val dst = new Path(root, versionRel(v))
        fs.mkdirs(dst.getParent)
        if (fs.exists(dst)) fs.delete(dst, true) // uncommitted crash debris
        val src = new Path(outPath, s"__wv=$i")
        if (fs.exists(src)) {
          if (!fs.rename(src, dst))
            sys.error(s"txn target: rename $src -> $dst failed")
        } else fs.mkdirs(dst) // group deleted every row it touched
        val newDirs = listBucketDirs(fs, dst)
          .map { case (b, _) => b -> s"${versionRel(v)}/__bucket=$b" }
        entries = (entries -- touchedByGrp(i)) ++ newDirs
        writeManifest(root, v, entries)
        val c = Commit(v, g.last)
        commitPointer(root, c, schemaV)
        onStep(dir, s"published $i")
        commits += c
      }
      commits.result()
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }

  /** [[applyBatch]] in DELTA mode — the standing-replica shape.
    *
    * The COW apply reads and rewrites every TOUCHED bucket's full
    * contents per call; a standing consumer of uniformly-keyed
    * transactions touches every bucket every trigger, so its per-trigger
    * cost grows with the accumulated target — O(n²) over the run (the
    * sf1 scale rehearsal measured 0.75 s/trigger at a 100 MB target vs
    * 25–29 s/trigger and climbing at 800 MB, same txns/trigger). The
    * reference applier never sees this because its target is a B-tree
    * (MySQL point updates, TransactionApplier.java:40-104); a parquet
    * target needs the LSM shape instead: commit each group's FINAL
    * IMAGES as a `.delta` overlay appended to the touched buckets'
    * manifest chains — O(batch) per trigger, no target read at all —
    * and let reads merge ([[readVersion]]) until [[compact]] folds the
    * chains back into plain bucket dirs.
    *
    * Same contract as [[applyBatch]] everywhere else: transactions
    * whole and in TSO order, `txnsPerCommit` per atomic commit, the
    * `lastTso` gate makes foreachBatch replays exactly-once, every
    * published version is a transaction-boundary state (the transfer
    * invariant holds per version THROUGH the merge-on-read), and a
    * crash mid-publication leaves a committed prefix whose replay
    * rewrites the same versions byte-compatibly. */
  def applyBatchDelta(input: Probed, keyCols: Seq[String],
      seqCol: String, opCol: String, tsoCol: String, dir: String,
      nBuckets: Int = 64, txnsPerCommit: Int = 1): Seq[Commit] = {
    val spark = input.frame.sparkSession
    val root = new Path(dir)
    val (start, schemaV) = readPointer(root)
      .getOrElse(sys.error(s"txn target $dir: bootstrap first"))
    val fs = fsOf(root)
    if (!fs.exists(keysFile(root))) writeKeyCols(root, keyCols, nBuckets)
    val pairs = input.pairs.filter(_._1 > start.lastTso)
    if (pairs.isEmpty) return Seq.empty
    val staging = new Path(root, "_batchstage")
    if (fs.exists(staging)) fs.delete(staging, true)
    try {
      val (groups, touchedByGrp) = commitGroups(pairs, txnsPerCommit)
      val manifest = readManifest(root, start.version)
      val targetCols = targetColsOf(spark, root, manifest,
        input.frame)
      val (images, guard) = imageRows(input, targetCols, keyCols, seqCol,
        opCol, tsoCol, start.lastTso, groups, txnsPerCommit,
        writersOf(touchedByGrp, nBuckets, col("__bucket")), nBuckets)
      // the ONLY data write: each group's final images, clustered on the
      // group (the image merge's window keys lead with it) — O(batch)
      // rows, the target is never read. ONE dir per group, not per
      // (group, bucket): dynamic-partition write costs ~1s per output
      // partition (writer open/commit), measured 8× the whole job at
      // bucket granularity; __bucket rides along as a DATA column (no
      // read path prunes delta buckets — compaction restores the
      // bucket-pruned layout)
      val outPath = new Path(staging, "out")
      Appliers.mergeToFinalImages(clustered(images, "__grp"),
          Seq("__grp", "__tso_ord") ++ keyCols, "__seq", "__op")
        .select(targetCols.map(col) ++ Seq(col("effective_op"),
          col("__tso_ord").as("__delta_tso"), col("__grp").as("__wv"),
          col("__bucket")): _*)
        .write.partitionBy("__wv").mode(SaveMode.Overwrite)
        .parquet(outPath.toString)
      checkProbe(guard, dir)
      onStep(dir, "written")
      // publication — metadata only, in TSO order: each group's staged
      // dir becomes a `.delta` version appended to the chain of EVERY
      // bucket it touches (readers dedupe the shared rel)
      var entries = manifest
      val commits = Seq.newBuilder[Commit]
      groups.zipWithIndex.foreach { case (g, i) =>
        val v = start.version + 1 + i
        val dst = new Path(root, deltaVersionRel(v))
        fs.mkdirs(dst.getParent)
        if (fs.exists(dst)) fs.delete(dst, true) // crash debris
        val src = new Path(outPath, s"__wv=$i")
        if (fs.exists(src)) {
          if (!fs.rename(src, dst))
            sys.error(s"txn target: rename $src -> $dst failed")
        } else fs.mkdirs(dst)
        entries = touchedByGrp(i)
          .foldLeft(entries) { case (m, b) =>
            val rel = deltaVersionRel(v)
            m.updated(b, m.get(b).map(_ + ";" + rel).getOrElse(rel))
          }
        writeManifest(root, v, entries)
        val c = Commit(v, g.last)
        commitPointer(root, c, schemaV)
        onStep(dir, s"published $i")
        commits += c
      }
      commits.result()
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }

  /** Fold every delta chain back into plain per-bucket dirs: ONE new
    * version holding the merged current state, pointer-swapped at the
    * same `lastTso` (no transaction boundary moves — readers see an
    * identical state, cheaper to read). The LSM compaction to
    * [[applyBatchDelta]]'s memtable flushes; cost O(target), amortized
    * over however many delta commits the caller lets accumulate
    * (`compactAfter` at the apply sites). No-op when already plain, and
    * (like [[vacuum]]) on an un-bootstrapped dir — compaction is a
    * MAINTENANCE pass callers run on a cadence over every configured
    * target, and a configured-but-quiet table (no rows yet, so no
    * bootstrap) must not fail the cadence. */
  def compact(spark: SparkSession, dir: String): Option[Commit] =
    compactBuckets(spark, dir, maxBuckets = Int.MaxValue)

  /** INCREMENTAL compaction: fold at most `maxBuckets` delta chains
    * (longest first) into plain bucket dirs, carrying every other
    * manifest entry over unchanged — ONE new version at the SAME
    * `lastTso`, so no transaction boundary moves and readers see an
    * identical state either side of the fold.
    *
    * This is the standing-trigger shape of [[compact]]: a full fold is
    * O(live-chain target) inside whatever trigger the `compactAfter`
    * cadence lands on — a periodic latency cliff once targets reach
    * GB scale. Folding K buckets per trigger bounds the pause at
    * O(K × bucket) while the rolling cadence still visits every chain
    * (the next trigger's maxChainLength is still ≥ the threshold until
    * all chains fold). Buckets whose fold produced zero rows (every
    * key deleted) drop from the manifest like any emptied bucket. A
    * shared group-level `.delta` dir stays referenced by chains not
    * yet folded and is reclaimed by [[vacuum]] only once the LAST
    * chain holding it folds. */
  def compactBuckets(spark: SparkSession, dir: String,
      maxBuckets: Int): Option[Commit] = {
    val root = new Path(dir)
    val (cur, sv) = readPointer(root).getOrElse(return None)
    val manifest = readManifest(root, cur.version)
    val candidates = manifest.toSeq
      .filter { case (_, e) => chainOf(e).exists(isDelta) }
      .sortBy { case (b, e) => (-chainOf(e).size, b) }
      .take(math.max(0, maxBuckets))
    if (candidates.isEmpty) return Some(cur)
    val t0 = System.nanoTime()
    val selected = candidates.map(_._1).toSet
    val fs = fsOf(root)
    val (keyCols, nBuckets) = readKeyCols(root)
    val merged = mergedRead(spark, root, candidates.toMap)
    val v = cur.version + 1
    val d = new Path(root, versionRel(v))
    if (fs.exists(d)) fs.delete(d, true) // uncommitted crash debris
    merged.withColumn("__bucket", Appliers.bucketOf(keyCols, nBuckets))
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").mode(SaveMode.Overwrite)
      .parquet(d.toString)
    val folded = listBucketDirs(fs, d)
      .map { case (b, _) => b -> s"${versionRel(v)}/__bucket=$b" }
    writeManifest(root, v, (manifest -- selected) ++ folded)
    val c = Commit(v, cur.lastTso)
    commitPointer(root, c, sv)
    recordCompaction(dir, selected.size,
      (System.nanoTime() - t0) / 1000000L)
    Some(c)
  }

  /** One compaction fold's telemetry: where, how many buckets folded,
    * and the PAUSE it cost — compaction runs inside standing triggers,
    * so this is the maintenance latency a deployment watches. */
  final case class CompactionEvent(dir: String, buckets: Int,
      wallMs: Long)

  // bounded driver-side ring of recent folds: rehearsals/dashboards
  // drain it; a long-lived replica that nobody drains stays O(1) memory
  private val compactionLog =
    new java.util.concurrent.ConcurrentLinkedQueue[CompactionEvent]()
  private val CompactionLogCap = 4096
  private def recordCompaction(dir: String, buckets: Int,
      wallMs: Long): Unit = {
    compactionLog.add(CompactionEvent(dir, buckets, wallMs))
    while (compactionLog.size > CompactionLogCap) compactionLog.poll()
  }

  /** Drain (read + clear) the recent-compaction telemetry ring. */
  def drainCompactionLog(): Seq[CompactionEvent] = {
    val out = Seq.newBuilder[CompactionEvent]
    var e = compactionLog.poll()
    while (e != null) { out += e; e = compactionLog.poll() }
    out.result()
  }

  /** One routed-apply mode CHANGE for a target: the committed version
    * at which the apply path flipped and the direction — the live-run
    * observable for [[ApplyMode.Auto]]'s crossover (a COW→delta flip
    * should appear exactly once per table that outgrows the crossover;
    * a delta→COW flip mid-chain would be the fold-the-world hazard the
    * sticky rule exists to prevent). */
  final case class ModeFlip(dir: String, version: Long, delta: Boolean)

  private val modeLog =
    new java.util.concurrent.ConcurrentLinkedQueue[ModeFlip]()
  private val lastMode =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Record the routed apply's mode decision for `dir`; only CHANGES
    * land in the telemetry ring (a standing consumer makes one call
    * per table per trigger — the ring stays sparse). */
  def recordModeDecision(dir: String, delta: Boolean): Unit = {
    val prev = lastMode.put(dir, java.lang.Boolean.valueOf(delta))
    if (prev == null || prev.booleanValue() != delta) {
      modeLog.add(ModeFlip(dir,
        currentCommit(dir).map(_.version).getOrElse(-1L), delta))
      while (modeLog.size > CompactionLogCap) modeLog.poll()
    }
  }

  /** Drain (read + clear) the mode-flip telemetry ring. */
  def drainModeLog(): Seq[ModeFlip] = {
    val out = Seq.newBuilder[ModeFlip]
    var e = modeLog.poll()
    while (e != null) { out += e; e = modeLog.poll() }
    out.result()
  }

  /** Reclaim data dirs no manifest ≥ `keepFrom` references (default: only
    * the current version's files are retained). Manifests are kept — they
    * are the observable-state history and cost O(nBuckets) text each. */
  def vacuum(dir: String, keepFrom: Option[Long] = None): Unit = {
    val cur = currentCommit(dir).map(_.version).getOrElse(return)
    val root = new Path(dir)
    val fs = fsOf(root)
    val from = keepFrom.getOrElse(cur)
    // qualify both sides: listStatus returns scheme-qualified paths,
    // manifest-derived ones may be bare
    val referenced = versions(dir).filter(_ >= from)
      .flatMap(v => readManifest(root, v).values)
      .flatMap(chainOf) // a delta chain references every dir in it
      .map(rel => fs.makeQualified(new Path(root, rel)).toString).toSet
    val dataRoot = new Path(root, "data")
    if (!fs.exists(dataRoot)) return
    fs.listStatus(dataRoot).toSeq.filter(_.isDirectory).foreach { vd =>
      // a delta version dir is referenced WHOLE (one rel per group,
      // shared across its touched buckets' chains) — never walk into it
      if (!referenced.contains(fs.makeQualified(vd.getPath).toString)) {
        listBucketDirs(fs, vd.getPath).values
          .filterNot(p => referenced.contains(fs.makeQualified(p).toString))
          .foreach(p => fs.delete(p, true))
        // only bucket dirs are ever referenced below the version level:
        // a version dir with none left holds at most write markers
        // (_SUCCESS) — reclaim it whole
        if (listBucketDirs(fs, vd.getPath).isEmpty)
          fs.delete(vd.getPath, true)
      }
    }
  }
}
