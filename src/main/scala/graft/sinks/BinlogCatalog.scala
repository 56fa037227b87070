package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dump-service SHOW surface over a wire-log directory — the
  * reference serves `SHOW BINARY LOGS` / `SHOW BINLOG EVENTS` /
  * `SHOW MASTER STATUS` as gRPC streams off its file manager
  * (polardbx-cdc-dumper/.../CdcServer.java:100-155); here each is a
  * DataFrame over the same binlog.* files the BinlogWire sinks write,
  * reachable through any Hadoop FS scheme.
  *
  * Scale shape: the driver touches only the file LISTING (one
  * bounded `listStatus`, same stance as Backup/OrderedSink); frame
  * parsing is one executor task per file over the streaming parser
  * (`BinlogWire.parseStream` — bounded memory, files past 2 GiB never
  * materialize). A thousand-file log parses as a thousand parallel
  * tasks, not a driver loop.
  */
object BinlogCatalog {

  /** SHOW BINARY LOGS — one row per wire file, name-ordered (the
    * reference's getAllBinlogFilesOrdered: CdcServer.java:100-118).
    * Listing-only: no file is opened. */
  def showBinaryLogs(spark: SparkSession, dir: String,
      filePrefix: String = "binlog."): DataFrame = {
    import spark.implicits._
    listFiles(dir, filePrefix).toDF("log_name", "file_size")
  }

  /** SHOW MASTER STATUS — the latest file cursor: max wire file and
    * its end position (every file a batch writer produced is complete,
    * so end-of-file IS the cursor). An empty/missing dir yields the
    * reference's empty-manager answer: one row ("", 4)
    * (CdcServer.java:136-155). */
  def showMasterStatus(spark: SparkSession, dir: String,
      filePrefix: String = "binlog."): DataFrame = {
    import spark.implicits._
    val last = listFiles(dir, filePrefix, allowMissing = true)
      .lastOption.getOrElse(("", 4L))
    Seq(last).toDF("file", "position")
  }

  /** The log's executed GTID set — SHOW MASTER STATUS's
    * Executed_Gtid_Set column: the union of every GTID event the log
    * carries. THE bootstrap value for a GTID replica that should start
    * "from now" (seed `CdcReplica.start`'s `startExecuted` with it and
    * the first poll serves only what commits afterwards — MySQL's
    * auto-position enrollment). One streaming-parse task per SCANNED
    * file folding its frames into an interval-compact set; with populated
    * PREVIOUS_GTIDS the scan covers only the files past the newest
    * previous-set (usually one) — see the fast path below. A
    * GTID-less log answers Empty. */
  def executedGtidSet(spark: SparkSession, dir: String,
      filePrefix: String = "binlog."): graft.model.GtidSet = {
    import spark.implicits._
    val all = listFiles(dir, filePrefix, allowMissing = true).map(_._1)
    if (all.isEmpty) return graft.model.GtidSet.Empty
    // fast path off the populated PREVIOUS_GTIDS index: the NEWEST
    // file carrying a non-empty previous-set summarizes every file
    // before it, so only the suffix from that file on needs scanning —
    // one head peek + one file scan for a freshly-rotated log, instead
    // of O(history). Backward peek, steady-state O(1). The summarized
    // prefix may include `priorExecuted` history from files already
    // purged from this directory — deliberately so: MySQL's
    // gtid_executed likewise covers gtid_purged. Legacy logs (no
    // populated set anywhere) scan every file, as before.
    val rfs = graft.util.HadoopIo.fsOf(new org.apache.hadoop.fs.Path(dir))
    var seed = graft.model.GtidSet.Empty
    var found = -1
    var i = all.size - 1
    // the walk INCLUDES index 0: after a retention pass the oldest
    // surviving file's PREVIOUS_GTIDS is the only summary of the
    // purged prefix — skipping it would shrink the executed set the
    // moment a purge leaves a single file, and a consumer seeded from
    // it would re-request purged history (then hit the 1236)
    while (i >= 0 && found < 0) {
      BinlogWire.readPreviousGtids(rfs,
          new org.apache.hadoop.fs.Path(dir, all(i))) match {
        case Some(prev) if !prev.isEmpty => found = i; seed = prev
        case _ => i -= 1
      }
    }
    val files = all.drop(math.max(found, 0))
    val confMap = graft.util.HadoopIo.confMap
    val base = dir
    spark.createDataset(files).map { name =>
      val p = new org.apache.hadoop.fs.Path(base, name)
      val fs = p.getFileSystem(graft.util.HadoopIo.confFrom(confMap))
      val in = fs.open(p)
      try {
        val b = graft.model.GtidSet.builder()
        BinlogWire.parseStream(in).flatMap(frameGtid)
          .foreach { case (sid, gno) => b.add(sid, gno) }
        b.result().text
      } finally in.close()
    }.collect()
      .foldLeft(seed)(
        (acc, t) => acc.union(graft.model.GtidSet.parse(t)))
  }

  /** [[executedGtidSet]] computed entirely ON THE DRIVER — same
    * backward PREVIOUS_GTIDS walk, same suffix fold, no Spark job. For
    * metadata-sized suffixes polled at high frequency (the heartbeat
    * producer's per-beat executed-set check: N DNs × one beat period
    * must not cost 2N Spark jobs); use the Spark variant when a legacy
    * log without populated summaries forces an O(history) scan. */
  def executedGtidSetLocal(dir: String,
      filePrefix: String = "binlog."): graft.model.GtidSet = {
    val all = listFiles(dir, filePrefix, allowMissing = true).map(_._1)
    if (all.isEmpty) return graft.model.GtidSet.Empty
    val rfs = graft.util.HadoopIo.fsOf(new org.apache.hadoop.fs.Path(dir))
    var seed = graft.model.GtidSet.Empty
    var found = -1
    var i = all.size - 1
    while (i >= 0 && found < 0) {
      BinlogWire.readPreviousGtids(rfs,
          new org.apache.hadoop.fs.Path(dir, all(i))) match {
        case Some(prev) if !prev.isEmpty => found = i; seed = prev
        case _ => i -= 1
      }
    }
    val b = graft.model.GtidSet.builder(seed)
    all.drop(math.max(found, 0)).foreach { name =>
      val in = rfs.open(new org.apache.hadoop.fs.Path(dir, name))
      try BinlogWire.parseStream(in).flatMap(frameGtid)
        .foreach { case (sid, gno) => b.add(sid, gno) }
      finally in.close()
    }
    b.result()
  }

  /** SHOW BINLOG EVENTS [IN logName] [FROM pos] [LIMIT limit] — the
    * per-event listing (CdcServer.java:119-134; MySQL's column set:
    * Log_name, Pos, Event_type, Server_id, End_log_pos, Info). With no
    * logName every file lists (one task per file); `pos`/`limit` filter
    * within each file, mirroring the reference's reader windowing.
    * Positions are within-file byte offsets: first event at 4 (after
    * the magic), each next at the previous end_log_pos — asserted
    * against raw file sizes in BinlogCatalogSpec. */
  def showBinlogEvents(spark: SparkSession, dir: String,
      logName: Option[String] = None, pos: Long = 4L,
      limit: Long = Long.MaxValue,
      filePrefix: String = "binlog."): DataFrame = {
    import spark.implicits._
    val files = listFiles(dir, filePrefix)
      .filter(f => logName.forall(_ == f._1)).map(_._1)
    require(logName.isEmpty || files.nonEmpty,
      s"showBinlogEvents: no wire file named ${logName.get} under $dir")
    val confMap = graft.util.HadoopIo.confMap
    val base = dir
    spark.createDataset(files).flatMap { name =>
      // lazy per-row iterator + task-completion close (the
      // readBinlogFiles pattern): a multi-GiB file's event listing
      // streams through the task, never materializing in its heap
      val p = new org.apache.hadoop.fs.Path(base, name)
      val fs = p.getFileSystem(graft.util.HadoopIo.confFrom(confMap))
      val in = fs.open(p)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      // close on exhaustion too: a partition listing MANY files would
      // otherwise hold one open FD per file until the task ends (and a
      // driver-side caller, with no TaskContext, would never close);
      // the listener above stays as the backstop for take(limit)
      // stopping a file's listing early
      val frames = BinlogWire.parseStream(in)
      val closing = new Iterator[BinlogWire.Frame] {
        private var open = true
        def hasNext: Boolean = open && {
          val h = frames.hasNext
          if (!h) { open = false; in.close() }
          h
        }
        def next(): BinlogWire.Frame = frames.next()
      }
      var off = 4L // events start after the 4-byte magic
      closing
        .map { f => val start = off; off = f.nextPos; (start, f) }
        .filter { case (start, _) => start >= pos }
        .take(if (limit > Int.MaxValue) Int.MaxValue else limit.toInt)
        .map { case (start, f) =>
          (name, start, typeName(f.typeCode), f.serverId, f.nextPos, info(f))
        }
    }.toDF("log_name", "pos", "event_type", "server_id", "end_log_pos",
      "info")
  }

  /** Dump-from-TSO seek: the (file, offset) where a dump serving
    * "everything after `tso`" starts — the first transaction unit whose
    * tso carrier (CTS mark, SEQUENCE commit/heartbeat, or GCN) EXCEEDS
    * `tso`, in file-name order (the reference's
    * SearchTsoEventHandleV2 locating a dump's start before CdcServer
    * serves it). The offset points at the txn unit's first frame (the
    * GTID when present, else the carrier), so a reader starting there
    * sees whole transactions only. When the entire log is at or below
    * `tso` the cursor is the END of the last file (nothing to replay);
    * an empty log answers ("", 4) like showMasterStatus.
    *
    * Scale shape: one streaming-parse task per file, each exiting at
    * its first qualifying carrier — only the files wholly BELOW the
    * target (the prefix a seek skips) scan to their end; per-file
    * answers (name, offset) are the sole driver-side collect. The O(1)
    * fast path for a consumer resuming its OWN cursor is
    * OrderedSink.recoverPosition; this is the cold seek for an
    * arbitrary caller-supplied TSO. */
  def seekTso(spark: SparkSession, dir: String, tso: Long,
      filePrefix: String = "binlog."): (String, Long) = {
    import spark.implicits._
    val files = listFiles(dir, filePrefix, allowMissing = true)
    if (files.isEmpty) return ("", 4L)
    val confMap = graft.util.HadoopIo.confMap
    val base = dir
    val perFile = spark.createDataset(files.map(_._1)).map { name =>
      val p = new org.apache.hadoop.fs.Path(base, name)
      val fs = p.getFileSystem(graft.util.HadoopIo.confFrom(confMap))
      val in = fs.open(p)
      val found =
        try firstTxnAfter(BinlogWire.parseStream(in), tso)
        finally in.close()
      (name, found.getOrElse(-1L))
    }.collect().toMap
    files.map(_._1).collectFirst { case n if perFile(n) >= 0 =>
      (n, perFile(n))
    }.getOrElse { val (n, sz) = files.last; (n, sz) }
  }

  /** Dump-from-TIME seek: the (file, offset) where a dump serving
    * "everything committed at or after wall-clock `epochMs`" starts —
    * the reference's timestamp-based position search
    * (canal/core/model/SearchPositionParam resolving a start TSO for
    * MysqlWithTsoEventParser) restated over the public TSO layout
    * (physical milliseconds << 22, logical low bits): the first txn
    * whose physical component is at or after `epochMs` is exactly the
    * first txn with tso > (epochMs << 22) - 1, so this delegates to
    * [[seekTso]] and inherits its cursor/whole-transaction contract. */
  def seekTime(spark: SparkSession, dir: String, epochMs: Long,
      filePrefix: String = "binlog."): (String, Long) = {
    require(epochMs >= 0 && epochMs < (1L << 41),
      s"epochMs $epochMs outside the 41-bit physical range of the " +
        "TSO layout")
    seekTso(spark, dir, (epochMs << 22) - 1, filePrefix)
  }

  /** GTID auto-position seek: the (file, offset) of the first
    * transaction whose GTID is NOT in `executed` — the content-
    * addressed analog of [[seekTso]] and the start cursor a
    * COM_BINLOG_DUMP_GTID dump serves from (reference:
    * canal/core/dump/MysqlConnection.java driving dump-by-GTID with
    * MysqlGTIDSet). Because the cursor names TRANSACTIONS, the answer
    * survives file renames/renumbering (source failover, relay
    * re-serving) where a (file, pos) cursor gets error 1236. Same
    * scale shape as seekTso: one early-exit streaming-parse task per
    * file; only fully-executed files (the prefix the seek skips) scan
    * to their end. A log with no un-executed txn answers the end of
    * the last file; an empty log answers ("", 4). A GTID-LESS txn in
    * a mixed log counts as never-executed (the dump server's
    * serve-always semantics — see firstTxnNotIn). */
  def seekGtid(spark: SparkSession, dir: String,
      executed: graft.model.GtidSet,
      filePrefix: String = "binlog."): (String, Long) = {
    import spark.implicits._
    val files = listFiles(dir, filePrefix, allowMissing = true)
    if (files.isEmpty) return ("", 4L)
    // file-level prune BEFORE any body walk (the dump server's own
    // fast path): files proven fully-executed by a successor's
    // populated PREVIOUS_GTIDS cannot contain the first un-executed
    // txn — head-peek cost only, O(1) peeks for a near-caught-up
    // cursor. Legacy empty-prev logs fall back to walking every file.
    val root = new org.apache.hadoop.fs.Path(dir)
    val rfs = graft.util.HadoopIo.fsOf(root)
    val from = BinlogWire.gtidServeStart(rfs,
      files.map(f => new org.apache.hadoop.fs.Path(dir, f._1)), executed)
    val suffix = files.drop(from)
    val confMap = graft.util.HadoopIo.confMap
    val base = dir
    val executedText = executed.text // serializable closure payload
    val perFile = spark.createDataset(suffix.map(_._1)).map { name =>
      val exec = graft.model.GtidSet.parse(executedText)
      val p = new org.apache.hadoop.fs.Path(base, name)
      val fs = p.getFileSystem(graft.util.HadoopIo.confFrom(confMap))
      val in = fs.open(p)
      val found =
        try firstTxnNotIn(BinlogWire.parseStream(in), exec)
        finally in.close()
      (name, found.getOrElse(-1L))
    }.collect().toMap
    suffix.map(_._1).collectFirst { case n if perFile(n) >= 0 =>
      (n, perFile(n))
    }.getOrElse { val (n, sz) = files.last; (n, sz) }
  }

  /** The (sid, gno) a GTID frame names. */
  private[sinks] def frameGtid(f: BinlogWire.Frame)
      : Option[(java.util.UUID, Long)] =
    if (f.typeCode != BinlogWire.GtidEvent) None
    else BinlogWire.parseGtidBody(f.body)

  /** A txn unit is "not executed" when its GTID is absent from the
    * set — or when it CARRIES no GTID at all: a GTID-less transaction
    * can never appear in any executed set, so it is never-executed by
    * definition, matching the dump server's serve-always semantics for
    * such txns (streamFileGtid). Flagging it at its XID (the earliest
    * point GTID-lessness is known) keeps a mixed log's seek cursor
    * from silently skipping unapplied GTID-less transactions. */
  private def firstTxnNotIn(frames: Iterator[BinlogWire.Frame],
      executed: graft.model.GtidSet): Option[Long] = {
    var off = 4L
    var txnStart = -1L
    var sawGtid = false
    var res = Option.empty[Long]
    while (res.isEmpty && frames.hasNext) {
      val f = frames.next()
      val start = off
      off = f.nextPos
      val preamble = f.typeCode == BinlogWire.FormatDescriptionEvent ||
        f.typeCode == BinlogWire.PreviousGtidsEvent ||
        f.typeCode == BinlogWire.RotateEvent ||
        f.typeCode == BinlogWire.TableMapEvent
      if (txnStart < 0 && !preamble) { txnStart = start; sawGtid = false }
      frameGtid(f).foreach { case (sid, gno) =>
        sawGtid = true
        if (!executed.contains(sid, gno)) res = Some(txnStart)
      }
      if (f.typeCode == BinlogWire.XidEvent) {
        if (!sawGtid && res.isEmpty && txnStart >= 0) res = Some(txnStart)
        txnStart = -1L
      }
    }
    res
  }

  /** Offset of the first txn unit whose tso carrier exceeds `tso`
    * (frames start at offset 4, after the magic). A txn unit opens at
    * the first non-preamble frame after the previous XID — the GTID or
    * the carrier itself — and file preamble (FDE, PREVIOUS_GTIDS,
    * TABLE_MAP, ROTATE) never opens one. */
  private def firstTxnAfter(frames: Iterator[BinlogWire.Frame],
      tso: Long): Option[Long] = {
    var off = 4L
    var txnStart = -1L
    var res = Option.empty[Long]
    while (res.isEmpty && frames.hasNext) {
      val f = frames.next()
      val start = off
      off = f.nextPos
      val preamble = f.typeCode == BinlogWire.FormatDescriptionEvent ||
        f.typeCode == BinlogWire.PreviousGtidsEvent ||
        f.typeCode == BinlogWire.RotateEvent ||
        f.typeCode == BinlogWire.TableMapEvent
      if (txnStart < 0 && !preamble) txnStart = start
      carrierTso(f).foreach(t => if (t > tso) res = Some(txnStart))
      if (f.typeCode == BinlogWire.XidEvent) txnStart = -1L
    }
    res
  }

  /** The tso a frame carries, for any of the three wire carriers. */
  private def carrierTso(f: BinlogWire.Frame): Option[Long] =
    f.typeCode match {
      case BinlogWire.SequenceEvent =>
        val r = new BinlogWire.ByteReader(f.body)
        val t = r.u8(); val v = r.le(8)
        if (t == BinlogWire.CommitSequence ||
          t == BinlogWire.HeartbeatSequence) Some(v)
        else None
      case BinlogWire.GcnEvent =>
        val r = new BinlogWire.ByteReader(f.body)
        r.u8()
        Some(r.le(8))
      case BinlogWire.RowsQueryEvent =>
        val s = new String(f.body.drop(1),
          java.nio.charset.StandardCharsets.UTF_8)
        if (s.startsWith("CTS::")) Some(s.stripPrefix("CTS::").toLong)
        else None
      case _ => None
    }

  /** Per-file structural stats (frames, transactions, bytes) — the
    * aggregate the q62/q63 wire queries report; one streaming-parse
    * task per file. */
  def fileStats(spark: SparkSession, dir: String,
      filePrefix: String = "binlog."): DataFrame = {
    import spark.implicits._
    val files = listFiles(dir, filePrefix).map(_._1)
    val confMap = graft.util.HadoopIo.confMap
    val base = dir
    spark.createDataset(files).map { name =>
      val p = new org.apache.hadoop.fs.Path(base, name)
      val fs = p.getFileSystem(graft.util.HadoopIo.confFrom(confMap))
      val len = fs.getFileStatus(p).getLen
      val in = fs.open(p)
      val (nFrames, nTxns) = try {
        var frames = 0L
        var txns = 0L
        BinlogWire.parseStream(in).foreach { f =>
          frames += 1
          if (f.typeCode == BinlogWire.XidEvent) txns += 1
        }
        (frames, txns)
      } finally in.close()
      (name, nFrames, nTxns, len)
    }.toDF("log_file", "n_frames", "n_txns", "n_bytes")
  }

  /** MySQL SHOW BINLOG EVENTS type names for the codes the wire sinks
    * emit; unknown codes print as unknown(N) rather than failing a
    * listing (a diagnostic surface should describe, not reject). */
  def typeName(code: Int): String = code match {
    case BinlogWire.QueryEvent => "Query"
    case BinlogWire.RotateEvent => "Rotate"
    case BinlogWire.FormatDescriptionEvent => "Format_desc"
    case BinlogWire.XidEvent => "Xid"
    case BinlogWire.TableMapEvent => "Table_map"
    case BinlogWire.RowsQueryEvent => "Rows_query"
    case BinlogWire.WriteRowsEventV2 => "Write_rows"
    case BinlogWire.UpdateRowsEventV2 => "Update_rows"
    case BinlogWire.DeleteRowsEventV2 => "Delete_rows"
    case BinlogWire.GtidEvent => "Gtid"
    case BinlogWire.PreviousGtidsEvent => "Previous_gtids"
    case BinlogWire.SequenceEvent => "Sequence"
    case BinlogWire.GcnEvent => "Gcn"
    case c => s"unknown($c)"
  }

  /** Human-readable Info column, the subset MySQL prints that our
    * frames can state without a table-map join: statement text for
    * Query/Rows_query, xid for Xid, next-file for Rotate. */
  private def info(f: BinlogWire.Frame): String = f.typeCode match {
    case BinlogWire.XidEvent =>
      "COMMIT /* xid=" + new BinlogWire.ByteReader(f.body).le(8) + " */"
    case BinlogWire.RowsQueryEvent =>
      new String(f.body.drop(1), java.nio.charset.StandardCharsets.UTF_8)
    case BinlogWire.QueryEvent =>
      BinlogWire.queryStatement(f.body)
    case BinlogWire.RotateEvent =>
      new String(f.body.drop(8),
        java.nio.charset.StandardCharsets.UTF_8) +
        ";pos=" + new BinlogWire.ByteReader(f.body).le(8)
    case BinlogWire.SequenceEvent =>
      val r = new BinlogWire.ByteReader(f.body)
      val t = r.u8(); val n = r.le(8)
      val tn = t match {
        case BinlogWire.SnapshotSequence => "SNAPSHOT"
        case BinlogWire.CommitSequence => "COMMIT"
        case BinlogWire.HeartbeatSequence => "HEART_BEAT"
        case _ => s"INVALID($t)"
      }
      s"sequence: $tn $n"
    case BinlogWire.GcnEvent =>
      val r = new BinlogWire.ByteReader(f.body)
      r.u8()
      s"gcn: ${r.le(8)}"
    case _ => ""
  }

  /** Name-ordered (name, size) listing of the wire files under `dir` —
    * bounded driver metadata, the one non-distributed step. A missing
    * directory fails LOUDLY (a typo'd or lost log dir must not read as
    * an empty log); only showMasterStatus tolerates it, mirroring the
    * reference's empty-manager answer. */
  /** PURGE BINARY LOGS analog — the dumper's retention pass
    * (polardbx-cdc-backup/.../clean/BinlogCleaner.java:75 purgeLocal,
    * with ICleanerBarrier guards): delete the PREFIX of the
    * name-ordered log whose files' transactions all lie at or below
    * `tso`. Prefix-only
    * (a mid-log gap would corrupt file-order continuity, exactly like
    * MySQL's PURGE TO), the newest file never purges (it is the active
    * head), and `barrier` can veto a file (backup-not-done,
    * consumer-not-past-it — the cleaner-barrier hook); a vetoed file
    * stops the purge so the surviving log stays a contiguous suffix.
    *
    * Auto-position consumers are unaffected: surviving files'
    * cumulative PREVIOUS_GTIDS cover the purged prefix (the
    * executedGtidSet contract above), so a GTID cursor past the purge
    * point serves normally while one inside it gets the server's loud
    * purged-log 1236 — MySQL's own semantics. Returns the purged file
    * names. */
  def purgeBefore(spark: SparkSession, dir: String, tso: Long,
      filePrefix: String = "binlog.",
      barrier: String => Boolean = _ => true): Seq[String] = {
    val files = listFiles(dir, filePrefix, allowMissing = true).map(_._1)
    if (files.size <= 1) return Seq.empty
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = graft.util.HadoopIo.fsOf(root)
    // The file holding the first txn ABOVE `tso` must survive;
    // everything name-ordered before it is wholly at/below the mark.
    // Resolved WITHOUT scanning the log end-to-end (each retention
    // pass would otherwise read O(entire log) bytes): name order is
    // TSO order by the writer contract, so file i is wholly covered
    // whenever file i+1's FIRST carrier is at/below the watermark — a
    // head peek, not a scan. Only the single BOUNDARY file (next head
    // above the watermark, or no next head) needs a real walk, and
    // that walk early-exits at its first txn above the mark. Files
    // past the boundary are never opened.
    def headTso(name: String): Option[Long] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, name))
      try {
        val it = BinlogWire.parseStream(in)
        var res = Option.empty[Long]
        while (res.isEmpty && it.hasNext) res = carrierTso(it.next())
        res
      } finally in.close()
    }
    def whollyCovered(name: String): Boolean = {
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, name))
      try firstTxnAfter(BinlogWire.parseStream(in), tso).isEmpty
      finally in.close()
    }
    val keepIdx = {
      var i = 0
      var found = -1
      while (found < 0 && i < files.size - 1) {
        // peek file i+1's head: at/below the mark proves file i covered
        if (headTso(files(i + 1)).exists(_ <= tso)) i += 1
        else if (whollyCovered(files(i))) { found = i + 1 }
        else found = i
      }
      if (found < 0) files.size - 1 else found
    }
    val victims = files.take(keepIdx)
      .filterNot(_ == files.last)
      .takeWhile(barrier)
    victims.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, n), false))
    victims
  }

  private def listFiles(dir: String, filePrefix: String,
      allowMissing: Boolean = false): Seq[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = graft.util.HadoopIo.fsOf(root)
    if (!fs.exists(root)) {
      if (allowMissing) Seq.empty
      else throw new java.io.FileNotFoundException(
        s"BinlogCatalog: wire-log directory does not exist: $dir")
    } else fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(filePrefix))
      .map(st => (st.getPath.getName, st.getLen))
      .sortBy(_._1)
  }
}
