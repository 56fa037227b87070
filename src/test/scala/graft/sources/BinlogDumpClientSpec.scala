package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.{BinlogCatalog, BinlogWire}
import graft.sinks.BinlogWire._

/** The live COM_BINLOG_DUMP dialogue end to end: handshake + native-
  * password auth + register-slave + dump against a protocol-faithful
  * in-process server, with the drained segments decoding to exactly
  * what the wire files contain. */
class BinlogDumpClientSpec extends SparkSpec {
  import spark.implicits._

  private val specs = Seq(ColSpec("id", LongLong), ColSpec("v", VarChar(32)))
  private val tableCols = Map(("app", "t") -> Seq("id", "v"))

  /** A 2-file checksummed wire log: 8 txns (tso 1..8), one row each. */
  private def writeLog(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dump").toString
    val df = (1L to 8L).map(i => (i, s"v$i", "INSERT", i, i))
      .toDF("id", "v", "op", "tso", "seq")
      .withColumn("ts", lit(1700000000L))
    val ordered = graft.operators.MergeSort.sortedRunsGrouped(df, 2,
      Seq("tso"), Seq("seq"))
    BinlogWire.writeTxnFramedBinlogFiles(ordered, specs, "app", "t", "op",
      "ts", "tso", dir, checksummed = true, tsoCarrier = "sequence")
    dir
  }

  test("full dialogue: dump from file start == reading the files directly") {
    val dir = writeLog()
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "s3cret")
    try {
      val seg = BinlogDumpClient.dumpSegment("localhost", srv.port,
        "repl", "s3cret", "binlog.000000", 4L)
      val live = ChangeEventSource.fromWireSegments(
          Seq(("dn1", seg)).toDF("dn", "payload"), "dn", "payload", tableCols)
        .select($"tso", $"op", element_at($"after", "id").cast("long"))
        .as[(Long, String, Long)].collect().toSet
      val files = BinlogWire.readBinlogFiles(spark, dir, tableCols)
        .select($"tso", $"op", element_at($"after", "id").cast("long"))
        .as[(Long, String, Long)].collect().toSet
      assert(live == files && live.size == 8)
    } finally srv.close()
  }

  test("a >16MB event crosses the dump transport intact (packet splitting at the 0xFFFFFF cap)") {
    // one event above the single-packet limit (the reference's
    // BigEventTest scenario — a huge blob row or RowsQuery): the server
    // must split it into max-size packets and the client must reassemble
    val dir = java.nio.file.Files.createTempDirectory("graft-bigev")
    val f = dir.resolve("binlog.000000")
    val out = java.nio.file.Files.newOutputStream(f)
    try {
      val w = new BinlogWire.FileWriter(out)
      w.write(BinlogWire.formatDescription(1700000000L, 1L))
      w.write(BinlogWire.markEvent(1700000000L, 1L,
        "CTS::1")) // a normal small event before the monster
      w.write(BinlogWire.markEvent(1700000000L, 1L,
        "x" * (17 * 1024 * 1024)))
      w.write(BinlogWire.markEvent(1700000000L, 1L, "CTS::2"))
    } finally out.close()
    val fileBytes = java.nio.file.Files.readAllBytes(f)
    val srv = new graft.sinks.BinlogDumpServer(dir.toString, "repl", "pw")
    try {
      val seg = BinlogDumpClient.dumpSegment("localhost", srv.port,
        "repl", "pw", "binlog.000000", 4L)
      assert(seg.length == fileBytes.length,
        s"segment ${seg.length} bytes vs file ${fileBytes.length}")
      assert(java.util.Arrays.equals(seg, fileBytes),
        "the >16MB event must cross the dump byte-identically")
    } finally srv.close()
  }

  test("caching_sha2_password fast-auth: MySQL 8's default plugin round-trips; a wrong proof is refused") {
    val dir = writeLog()
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "s3cret",
      authPlugin = "caching_sha2_password")
    try {
      // the client follows the server's advertised plugin: SHA-256
      // proof, AuthMoreData(0x03) fast-auth epilogue, then the dump
      val seg = BinlogDumpClient.dumpSegment("localhost", srv.port,
        "repl", "s3cret", "binlog.000000", 4L)
      val live = ChangeEventSource.fromWireSegments(
          Seq(("dn1", seg)).toDF("dn", "payload"), "dn", "payload",
          tableCols)
        .select($"tso").as[Long].collect().toSet
      assert(live == (1L to 8L).toSet)
      // wrong password → the scramble proof cannot match → 1045
      val denied = intercept[BinlogDumpClient.ServerError] {
        BinlogDumpClient.dumpSegment("localhost", srv.port,
          "repl", "wrong", "binlog.000000", 4L)
      }
      assert(denied.code == 1045)
    } finally srv.close()
    // an empty password skips the proof (and the fast-auth epilogue)
    // entirely under BOTH plugins — MySQL's own empty-password shape
    val srv2 = new graft.sinks.BinlogDumpServer(dir, "repl", "",
      authPlugin = "caching_sha2_password")
    try {
      val seg = BinlogDumpClient.dumpSegment("localhost", srv2.port,
        "repl", "", "binlog.000000", 4L)
      assert(seg.nonEmpty)
    } finally srv2.close()
  }

  test("caching_sha2_password FULL auth: a cold-cache server demands the RSA exchange and the client completes it without TLS") {
    val dir = writeLog()
    // sha2FullAuth plays the MySQL 8 server whose per-user auth cache
    // is empty: it cannot verify the fast proof, so it answers
    // AuthMoreData(0x04) and runs the public-key exchange instead
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "s3cret",
      authPlugin = "caching_sha2_password", sha2FullAuth = true)
    try {
      val seg = BinlogDumpClient.dumpSegment("localhost", srv.port,
        "repl", "s3cret", "binlog.000000", 4L)
      val live = ChangeEventSource.fromWireSegments(
          Seq(("dn1", seg)).toDF("dn", "payload"), "dn", "payload",
          tableCols)
        .select($"tso").as[Long].collect().toSet
      assert(live == (1L to 8L).toSet)
      // a wrong password decrypts to the wrong XOR image → 1045 (the
      // refusal happens AFTER the key exchange — proof the server
      // verified the sealed password, not the fast proof)
      val denied = intercept[BinlogDumpClient.ServerError] {
        BinlogDumpClient.dumpSegment("localhost", srv.port,
          "repl", "wrong", "binlog.000000", 4L)
      }
      assert(denied.code == 1045)
    } finally srv.close()
    // the obfuscation round-trips: XOR with the nonce twice = identity,
    // and the trailing NUL terminator is part of the sealed image
    val nonce = Array.tabulate[Byte](20)(i => (i + 1).toByte)
    val x = BinlogDumpClient.xorWithNonce("s3cret", nonce)
    assert(x.length == "s3cret".length + 1)
    val unx = x.indices.map(i =>
      (x(i) ^ nonce(i % nonce.length)).toByte).toArray
    assert(new String(unx.dropRight(1), "UTF-8") == "s3cret" &&
      unx.last == 0)
  }

  test("dump from a seekTso cursor replays only the suffix (multi-file seek)") {
    val dir = writeLog()
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "s3cret")
    try {
      for (t <- Seq(2L, 5L, 7L)) {
        val (file, off) = BinlogCatalog.seekTso(spark, dir, t)
        val seg = BinlogDumpClient.dumpSegment("localhost", srv.port,
          "repl", "s3cret", file, off)
        val tsos = ChangeEventSource.fromWireSegments(
            Seq(("dn1", seg)).toDF("dn", "payload"), "dn", "payload",
            tableCols)
          .select($"tso").as[Long].collect().toSet
        assert(tsos == (t + 1 to 8L).toSet, s"cursor tso=$t")
      }
    } finally srv.close()
  }

  test("pollSegments: a DN fleet drains in parallel tasks into the envelope") {
    val dirs = Seq("dnA", "dnB").map(_ => writeLog())
    val servers = dirs.map(new graft.sinks.BinlogDumpServer(_, "repl", "pw"))
    try {
      val endpoints = servers.zipWithIndex.map { case (s, i) =>
        BinlogDumpClient.Endpoint(s"dn$i", "localhost", s.port, "repl",
          "pw", "binlog.000000", 4L)
      }
      val envelope = ChangeEventSource.fromWireSegments(
        BinlogDumpClient.pollSegments(spark, endpoints), "dn", "payload",
        tableCols)
      val rows = envelope.select($"partitionId", $"tso")
        .as[(String, Long)].collect()
      assert(rows.length == 16) // 8 txns from each DN
      assert(rows.map(_._1).toSet == Set("dn0", "dn1"))
      // and the downstream TSO sort has a carrier for every row
      assert(rows.forall(_._2 >= 1L))
    } finally servers.foreach(_.close())
  }

  test("standing live tail: the cursor advances across polls, each reading only new data") {
    // a rotate-chained 4-file log; the server starts with only the
    // first two files on disk (the producer hasn't rotated further) —
    // poll 1 drains them and lands its cursor on the successor the
    // chain names, poll 2 picks up exactly the files that appeared
    val full = java.nio.file.Files.createTempDirectory("graft-tail-full").toString
    val df = (1L to 8L).map(i => (i, s"v$i", "INSERT", i, i))
      .toDF("id", "v", "op", "tso", "seq")
      .withColumn("ts", lit(1700000000L))
    val ordered = graft.operators.MergeSort.sortedRunsGrouped(df, 4,
      Seq("tso"), Seq("seq"))
    BinlogWire.writeTxnFramedBinlogFiles(ordered, specs, "app", "t", "op",
      "ts", "tso", full, checksummed = true, tsoCarrier = "sequence",
      rotateChain = true)
    val served = java.nio.file.Files.createTempDirectory("graft-tail-srv").toString
    def publish(names: String*): Unit = names.foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(full, n), java.nio.file.Paths.get(served, n))
    }
    publish("binlog.000000", "binlog.000001")
    val srv = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try {
      def decode(seg: Array[Byte]): Set[Long] =
        ChangeEventSource.fromWireSegments(
            Seq(("dn1", seg)).toDF("dn", "payload"), "dn", "payload",
            tableCols)
          .select($"tso").as[Long].collect().toSet
      val (seg1, f1, p1) = BinlogDumpClient.dumpSegmentWithCursor(
        "localhost", srv.port, "repl", "pw", "binlog.000000", 4L)
      val first = decode(seg1)
      assert((f1, p1) == (("binlog.000002", 4L)), s"cursor = ($f1, $p1)")
      // the producer rotates twice more; poll 2 resumes at the cursor
      publish("binlog.000002", "binlog.000003")
      val (seg2, f2, p2) = BinlogDumpClient.dumpSegmentWithCursor(
        "localhost", srv.port, "repl", "pw", f1, p1)
      val second = decode(seg2)
      assert(first.intersect(second).isEmpty, "a txn was served twice")
      assert(first.union(second) == (1L to 8L).toSet)
      // the active log's dangling successor: keep the cursor, retry
      // after the producer rotates (the real replica behavior)
      assert(f2 == "binlog.000004" && p2 == 4L)
      val gone = intercept[java.io.IOException] {
        BinlogDumpClient.dumpSegment("localhost", srv.port, "repl", "pw",
          f2, p2)
      }
      assert(gone.getMessage.contains("Could not find first log file"))
    } finally srv.close()
  }

  /** A mid-file resume re-receives the file's head prologue (the
    * server's documented adaptation: FDE + maps re-serve so the dump
    * stays self-describing) — strip that CONTIGUOUS head run so
    * byte-identity across capped vs uncapped drains compares the
    * actual event stream. */
  private def stripHeadPrologue(seg: Array[Byte]): Seq[Byte] = {
    // NOT RotateEvent: a resume landing before a file's trailing chain
    // link receives that rotate as genuine stream content
    val prologue = Set(FormatDescriptionEvent, TableMapEvent,
      PreviousGtidsEvent)
    val out = Seq.newBuilder[Byte]
    var off = 4
    var inP = true
    while (off + 19 <= seg.length) {
      val tc = seg(off + 4) & 0xFF
      val len = (seg(off + 9) & 0xFF) | ((seg(off + 10) & 0xFF) << 8) |
        ((seg(off + 11) & 0xFF) << 16) | ((seg(off + 12) & 0xFF) << 24)
      inP &&= prologue.contains(tc)
      if (!inP) out ++= seg.slice(off, off + len)
      off += len
    }
    out.result()
  }

  private def lastEventType(seg: Array[Byte]): Int = {
    var off = 4
    var tc = -1
    while (off + 19 <= seg.length) {
      tc = seg(off + 4) & 0xFF
      off += (seg(off + 9) & 0xFF) | ((seg(off + 10) & 0xFF) << 8) |
        ((seg(off + 11) & 0xFF) << 16) | ((seg(off + 12) & 0xFF) << 24)
    }
    tc
  }

  test("maxBytes: a catch-up from an old cursor drains over N bounded polls, byte-identically, cutting only on txn boundaries") {
    // rotate-chained so mid-log cursors resume across files
    val dir = java.nio.file.Files.createTempDirectory("graft-cap").toString
    val df = (1L to 8L).map(i => (i, s"v$i", "INSERT", i, i))
      .toDF("id", "v", "op", "tso", "seq")
      .withColumn("ts", lit(1700000000L))
    val ordered = graft.operators.MergeSort.sortedRunsGrouped(df, 4,
      Seq("tso"), Seq("seq"))
    BinlogWire.writeTxnFramedBinlogFiles(ordered, specs, "app", "t", "op",
      "ts", "tso", dir, checksummed = true, tsoCarrier = "sequence",
      rotateChain = true)
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "pw")
    try {
      val full = BinlogDumpClient.dumpSegment("localhost", srv.port,
        "repl", "pw", "binlog.000000", 4L)
      val cap = 300L
      var file = "binlog.000000"; var pos = 4L
      var polls = 0
      val got = Seq.newBuilder[Byte]
      var more = true
      while (more && polls < 32) {
        try {
          val (seg, nf, np) = BinlogDumpClient.dumpSegmentWithCursor(
            "localhost", srv.port, "repl", "pw", file, pos,
            maxBytes = cap)
          // a capped cut may only land on a commit or rotate — a mid-
          // txn cut would let the apply gate drop the replayed half
          assert(Set(XidEvent, RotateEvent).contains(lastEventType(seg)),
            s"poll $polls cut on event type ${lastEventType(seg)}")
          assert(seg.length < full.length,
            s"poll $polls drained the whole history despite the cap")
          // a fresh-file poll's prologue is real stream content; a
          // MID-FILE resume's is the server's re-serve — strip it
          got ++= (if (pos == 4L) seg.drop(4).toSeq
                   else stripHeadPrologue(seg))
          file = nf; pos = np; polls += 1
        } catch {
          case e: BinlogDumpClient.ServerError
              if e.code == BinlogDumpClient.ErrUnknownLog => more = false
        }
      }
      assert(polls >= 3, s"expected a multi-poll catch-up, got $polls")
      assert(got.result() == full.drop(4).toSeq,
        "capped polls did not reassemble the byte-identical event stream")
    } finally srv.close()
  }

  test("sparse-gno stream: range claims stitch to ONE interval across capped polls; skipped txns' TABLE_MAPs are not re-served") {
    import graft.model.GtidSet
    val sid = java.util.UUID.fromString(
      "0a1b2c3d-aaaa-bbbb-3333-444455556666")
    // a fan-out stream's shape: this log carries only the ODD tsos of
    // the global sequence (gnos 1,3,5,...,31 — gaps are other streams')
    val dir = java.nio.file.Files.createTempDirectory("graft-sparse").toString
    val df = (0L until 16L).map(i => (2 * i + 1, s"v$i", "INSERT",
        2 * i + 1, i)).toDF("id", "v", "op", "tso", "seq")
      .withColumn("ts", lit(1700000000L))
    BinlogWire.writeTxnFramedBinlogFiles(
      graft.operators.MergeSort.sortedRunsGrouped(df, 4, Seq("tso"),
        Seq("seq")),
      specs, "app", "t", "op", "ts", "tso", dir, checksummed = true,
      gtidSid = Some(sid), rotateChain = true, tsoCarrier = "sequence")
    def countMaps(seg: Array[Byte]): Int = {
      var off = 4; var n = 0
      while (off + 19 <= seg.length) {
        if ((seg(off + 4) & 0xFF) == BinlogWire.TableMapEvent) n += 1
        off += ((seg(off + 9) & 0xFF) | ((seg(off + 10) & 0xFF) << 8) |
          ((seg(off + 11) & 0xFF) << 16) | ((seg(off + 12) & 0xFF) << 24))
      }
      n
    }
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "pw")
    try {
      // capped polls: each drains a slice; the range claim must stitch
      // to the PRIOR claim so the cursor never accretes hole intervals
      // (holes break the server's PREVIOUS_GTIDS file pruning — the
      // sf1 rehearsal measured polls collapsing to 2 new txns each)
      var set = GtidSet.Empty
      var polls = 0
      var done = false
      while (!done && polls < 32) {
        val (seg, adv, eof) =
          BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
            "localhost", srv.port, "repl", "pw", set, 99L, 30000,
            maxBytes = 2048, rangeClaim = true)
        if (adv != set)
          assert(adv.sets(sid).size == 1,
            s"claim accreted intervals after poll $polls: ${adv.text}")
        done = eof && adv == set
        set = adv
        polls += 1
      }
      assert(set.sets(sid).last._2 - 1 == 31L, s"did not reach the tail: ${set.text}")
      assert(polls > 2, "the cap must force multiple polls for this test")
      // TABLE_MAP economy: a dump over a mostly-executed log must not
      // re-send the skipped txns' per-txn map declarations
      val full = BinlogDumpClient.dumpSegmentGtid(
        "localhost", srv.port, "repl", "pw", GtidSet.Empty)
      val tail = BinlogDumpClient.dumpSegmentGtid(
        "localhost", srv.port, "repl", "pw", GtidSet.parse(s"$sid:1-27"))
      assert(countMaps(tail) < countMaps(full) / 2,
        s"skipped txns' maps re-served: tail=${countMaps(tail)} " +
          s"full=${countMaps(full)}")
      // and the served complement still decodes whole
      val tsos = ChangeEventSource.fromWireSegments(
          Seq(("dn1", tail)).toDF("dn", "payload"), "dn", "payload",
          tableCols)
        .select($"tso").as[Long].collect().toSet
      assert(tsos == Set(29L, 31L))
    } finally srv.close()
  }

  test("GTID auto-position: dump from a set, cursor advances, and survives a full log RENAME (where file+pos gets 1236)") {
    import graft.model.GtidSet
    val sid = java.util.UUID.fromString(
      "0a1b2c3d-1111-2222-3333-444455556666")
    def writeGtidLog(dir: String): Unit = {
      val df = (1L to 8L).map(i => (i, s"v$i", "INSERT", i, i))
        .toDF("id", "v", "op", "tso", "seq")
        .withColumn("ts", lit(1700000000L))
      val ordered = graft.operators.MergeSort.sortedRunsGrouped(df, 4,
        Seq("tso"), Seq("seq"))
      BinlogWire.writeTxnFramedBinlogFiles(ordered, specs, "app", "t",
        "op", "ts", "tso", dir, checksummed = true,
        gtidSid = Some(sid), rotateChain = true, tsoCarrier = "sequence")
    }
    def decode(seg: Array[Byte]): Set[Long] =
      ChangeEventSource.fromWireSegments(
          Seq(("dn1", seg)).toDF("dn", "payload"), "dn", "payload",
          tableCols)
        .select($"tso").as[Long].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("graft-gtid").toString
    writeGtidLog(dir)
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "pw")
    try {
      // bootstrap from the EMPTY set: everything serves; the advanced
      // cursor names every txn (gno := tso)
      val (seg1, set1, _) =
        BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
          "localhost", srv.port, "repl", "pw", GtidSet.Empty)
      assert(decode(seg1) == (1L to 8L).toSet)
      assert(set1.text == s"$sid:1-8")
      // caught-up poll: nothing new
      val (seg2, set2, _) =
        BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
          "localhost", srv.port, "repl", "pw", set1)
      assert(decode(seg2).isEmpty && set2 == set1)
      // a PARTIAL set serves exactly the complement — content, not
      // position, addresses the dump
      val partial = GtidSet.parse(s"$sid:1-5")
      val (seg3, set3, _) =
        BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
          "localhost", srv.port, "repl", "pw", partial)
      assert(decode(seg3) == Set(6L, 7L, 8L))
      assert(set3.text == s"$sid:1-8")
      // seekGtid names the same resume point the tso seek derives
      // (gno := tso, so the cursors are interconvertible)
      assert(graft.sinks.BinlogCatalog.seekGtid(spark, dir, partial) ==
        graft.sinks.BinlogCatalog.seekTso(spark, dir, 5L))
      // the SHOW surface: Executed_Gtid_Set over the whole log — the
      // "start from now" bootstrap value (dumping with it is caught up)
      assert(graft.sinks.BinlogCatalog.executedGtidSet(spark, dir).text
        == s"$sid:1-8")
      assert(graft.sinks.BinlogCatalog
        .executedGtidSet(spark, writeLog()).isEmpty) // GTID-less log
    } finally srv.close()

    // FAILOVER: the same content re-served under entirely new file
    // names (renumbered log). The file+pos cursor is dead — 1236; the
    // GTID set keeps working and serves exactly the un-executed tail.
    val dir2 = java.nio.file.Files.createTempDirectory("graft-gtid2").toString
    new java.io.File(dir).listFiles.filter(_.getName.startsWith("binlog."))
      .foreach { f =>
        val n = f.getName.stripPrefix("binlog.").toInt
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(dir2, f"binlog.${n + 700}%06d"))
      }
    val srv2 = new graft.sinks.BinlogDumpServer(dir2, "repl", "pw")
    try {
      val stale = intercept[BinlogDumpClient.ServerError] {
        BinlogDumpClient.dumpSegment("localhost", srv2.port, "repl", "pw",
          "binlog.000000", 4L) // the pre-failover (file, pos) cursor
      }
      assert(stale.code == BinlogDumpClient.ErrUnknownLog)
      val (seg4, set4, _) =
        BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
          "localhost", srv2.port, "repl", "pw", GtidSet.parse(s"$sid:1-5"))
      assert(decode(seg4) == Set(6L, 7L, 8L))
      assert(set4.text == s"$sid:1-8")
    } finally srv2.close()
  }

  test("GTID file pruning: cumulative PREVIOUS_GTIDS across rotations; a fully-executed prefix is never opened; polls cost O(new data)") {
    import graft.model.GtidSet
    val sid = java.util.UUID.fromString(
      "0a1b2c3d-1111-2222-3333-444455557777")
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    def mk(lo: Long, hi: Long, parts: Int) = {
      val df = (lo to hi).map(i => (i, s"v$i", "INSERT", i, i))
        .toDF("id", "v", "op", "tso", "seq")
        .withColumn("ts", lit(1700000000L))
      graft.operators.MergeSort.sortedRunsGrouped(df, parts,
        Seq("tso"), Seq("seq"))
    }
    def writeCall(lo: Long, hi: Long, parts: Int, startIdx: Int,
        prior: GtidSet): Unit = {
      val d = java.nio.file.Files.createTempDirectory("graft-prune-w").toString
      BinlogWire.writeTxnFramedBinlogFiles(mk(lo, hi, parts), specs,
        "app", "t", "op", "ts", "tso", d, checksummed = true,
        gtidSid = Some(sid), tsoCarrier = "sequence",
        priorExecuted = prior)
      new java.io.File(d).listFiles.filter(_.getName.startsWith("binlog."))
        .foreach { f =>
          val n = f.getName.stripPrefix("binlog.").toInt + startIdx
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(dir, f"binlog.$n%06d"))
        }
    }
    // two writer calls appending to one log — the rotation chain
    // across triggers, priorExecuted threading call 1's set into
    // call 2's files
    writeCall(1L, 6L, 3, 0, GtidSet.Empty)
    val afterCall1 = BinlogCatalog.executedGtidSet(spark, dir)
    assert(afterCall1.text == s"$sid:1-6")
    writeCall(7L, 10L, 2, 3, afterCall1)

    val fs = graft.util.HadoopIo.fsOf(new org.apache.hadoop.fs.Path(dir))
    val names = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("binlog.")).sorted.toSeq
    assert(names.size == 5)
    val paths = names.map(n => new org.apache.hadoop.fs.Path(dir, n))
    def fileGtids(p: org.apache.hadoop.fs.Path): GtidSet = {
      val in = fs.open(p)
      try BinlogWire.parseStream(in).foldLeft(GtidSet.Empty) { (acc, f) =>
        if (f.typeCode == BinlogWire.GtidEvent)
          BinlogWire.parseGtidBody(f.body)
            .fold(acc) { case (s, g) => acc.add(s, g) }
        else acc
      } finally in.close()
    }
    val perFile = paths.map(fileGtids)
    // each file's PREVIOUS_GTIDS == the union of EVERYTHING before it
    // (earlier files of both calls) — cumulative, real, not empty
    paths.zipWithIndex.foreach { case (p, i) =>
      val expected = perFile.take(i).foldLeft(GtidSet.Empty)(_ union _)
      assert(BinlogWire.readPreviousGtids(fs, p).contains(expected),
        s"prev of ${p.getName}")
      if (i > 0) assert(!expected.isEmpty)
    }
    // the whole-log set reads off the newest previous-set + one file
    assert(BinlogCatalog.executedGtidSet(spark, dir).text == s"$sid:1-10")
    // prune index: caught-up-to-prefix consumers start past the prefix
    assert(BinlogWire.gtidServeStart(fs, paths, GtidSet.Empty) == 0)
    assert(BinlogWire.gtidServeStart(fs, paths, perFile.head) == 1)
    val allButLast = perFile.dropRight(1).foldLeft(GtidSet.Empty)(_ union _)
    assert(BinlogWire.gtidServeStart(fs, paths, allButLast) == 4)
    // seekGtid's pruned walk names the same cursor the tso seek does
    assert(BinlogCatalog.seekGtid(spark, dir, allButLast) ==
      BinlogCatalog.seekTso(spark, dir,
        members(allButLast).map(_._2).max))

    // PROOF the pruned prefix is never READ, not merely never served:
    // corrupt file 0 past its last event. A dump whose executed set
    // proves file 0 done succeeds (the file is skipped unopened); a
    // cold dump must walk it and dies loudly on the corruption.
    val f0 = java.nio.file.Paths.get(dir, names.head)
    java.nio.file.Files.write(f0, Array.fill[Byte](19)(0xFF.toByte),
      java.nio.file.StandardOpenOption.APPEND)
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "pw")
    try {
      def decode(seg: Array[Byte]): Set[Long] =
        ChangeEventSource.fromWireSegments(
            Seq(("dn1", seg)).toDF("dn", "payload"), "dn", "payload",
            tableCols)
          .select($"tso").as[Long].collect().toSet
      val (seg, set, _) =
        BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
          "localhost", srv.port, "repl", "pw", perFile.head)
      assert(decode(seg) ==
        (1L to 10L).toSet -- members(perFile.head).map(_._2))
      assert(set.text == s"$sid:1-10")
      intercept[java.io.IOException] {
        BinlogDumpClient.dumpSegmentGtid("localhost", srv.port, "repl",
          "pw", GtidSet.Empty)
      }
      // steady-state poll bytes are O(new data): a consumer missing
      // only the newest file's txns receives less than that one
      // file's size (+ magic), never the log's history
      val (segN, setN, _) =
        BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
          "localhost", srv.port, "repl", "pw", allButLast)
      assert(segN.length <= fs.getFileStatus(paths.last).getLen + 4)
      assert(decode(segN) == members(perFile.last).map(_._2))
      assert(setN.text == s"$sid:1-10")
    } finally srv.close()
  }

  private def members(s: graft.model.GtidSet): Set[(java.util.UUID, Long)] =
    s.sets.toSeq.flatMap { case (sid, ivs) =>
      ivs.flatMap { case (lo, hi) => (lo until hi).map(sid -> _) }
    }.toSet

  test("auth and unknown-log failures are loud, carrying the server message") {
    val dir = writeLog()
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "right")
    try {
      val denied = intercept[java.io.IOException] {
        BinlogDumpClient.dumpSegment("localhost", srv.port, "repl",
          "wrong", "binlog.000000", 4L)
      }
      assert(denied.getMessage.contains("Access denied"))
      val missing = intercept[java.io.IOException] {
        BinlogDumpClient.dumpSegment("localhost", srv.port, "repl",
          "right", "binlog.999999", 4L)
      }
      assert(missing.getMessage.contains("Could not find first log file"))
    } finally srv.close()
  }

  test("idle heartbeat: a caught-up poll carries a HEARTBEAT frame — liveness without data, cursor intact") {
    import graft.model.GtidSet
    val dir = writeLog()
    def frames(seg: Array[Byte]): Seq[Int] = {
      var off = 4
      val b = Seq.newBuilder[Int]
      while (off + 19 <= seg.length) {
        b += (seg(off + 4) & 0xFF)
        off += (seg(off + 9) & 0xFF) | ((seg(off + 10) & 0xFF) << 8) |
          ((seg(off + 11) & 0xFF) << 16) | ((seg(off + 12) & 0xFF) << 24)
      }
      b.result()
    }
    // without the option: caught-up polls carry no liveness signal
    val plain = new graft.sinks.BinlogDumpServer(dir, "repl", "pw")
    val endPos = new java.io.File(dir, "binlog.000001").length
    try {
      val seg = BinlogDumpClient.dumpSegment("localhost", plain.port,
        "repl", "pw", "binlog.000001", endPos)
      assert(!frames(seg).contains(BinlogWire.HeartbeatEvent))
    } finally plain.close()

    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "pw",
      idleHeartbeats = true)
    try {
      // file/pos: idle standing poll answers prologue + ONE heartbeat;
      // the heartbeat's next_pos re-anchors the cursor at the file end
      val (seg, f, p) = BinlogDumpClient.dumpSegmentWithCursor(
        "localhost", srv.port, "repl", "pw", "binlog.000001", endPos)
      assert(frames(seg).count(_ == BinlogWire.HeartbeatEvent) == 1)
      assert(f == "binlog.000001" && p == endPos)
      // heartbeats decode to NO rows — liveness, not data
      assert(BinlogWire.decodeFile(seg, tableCols).isEmpty)

      // GTID: fully-caught-up auto-position poll — same signal, set
      // unchanged
      val all = graft.sinks.BinlogCatalog.executedGtidSet(spark, dir)
      val (gseg, gset, _) =
        BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
          "localhost", srv.port, "repl", "pw", all)
      assert(gset == all)
      // this log carries no GTIDs (writeLog is sid-less), so every txn
      // re-serves; a caught-up GTID log's heartbeat is covered by
      // CdcReplicaSpec. Either way a non-advancing poll must still be
      // LIVE.
      assert(gseg.length > 4)
    } finally srv.close()
  }

  test("no Nagle on the dialogue: 20 back-to-back caught-up GTID dumps finish in well under one delayed ACK each") {
    // a caught-up dump answers with several small packets; with Nagle on
    // either socket each dial waits out Linux's ~40 ms delayed ACK, so
    // 20 dials would take >= 800 ms
    val sid = java.util.UUID.fromString(
      "0a1b2c3d-1111-2222-3333-4444555577bb")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nodelay").toString
    BinlogWire.writeTxnFramedBinlogFiles(
      Seq((1L, "v1", "INSERT", 1L, 1L)).toDF("id", "v", "op", "tso", "seq")
        .withColumn("ts", lit(1700000000L)),
      specs, "app", "t", "op", "ts", "tso", dir, checksummed = true,
      tsoCarrier = "sequence", gtidSid = Some(sid))
    val all = BinlogCatalog.executedGtidSet(spark, dir)
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "pw")
    try {
      def dial(): Unit = {
        val (_, next, caughtUp) =
          BinlogDumpClient.dumpSegmentGtidWithCursorStatus(
            "localhost", srv.port, "repl", "pw", all)
        assert(next == all && caughtUp)
      }
      dial() // warm the classes and the server's file index
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => dial())
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(ms < 600L, s"20 caught-up dials took $ms ms")
    } finally srv.close()
  }

  test("idle heartbeats feed the StallMonitor: a live-but-idle source never reads as silent") {
    import graft.jobs.{LiveReplicaJob, WireReplicaJob}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hb-run-log").toString
    val hbSpecs = Seq(ColSpec("id", LongLong), ColSpec("seq", LongLong),
      ColSpec("v", VarChar(32)))
    val df = (1L to 4L).map(i => (i, i, s"v$i", "INSERT", i))
      .toDF("id", "seq", "v", "op", "tso")
      .withColumn("ts", lit(1700000000L))
    BinlogWire.writeTxnFramedBinlogFiles(
      graft.operators.MergeSort.sortedRunsGrouped(df, 1,
        Seq("tso"), Seq("seq")),
      hbSpecs, "app", "t", "op", "ts", "tso", dir, checksummed = true,
      tsoCarrier = "sequence")
    val root = java.nio.file.Files.createTempDirectory("graft-hb-run")
    val srv = new graft.sinks.BinlogDumpServer(dir, "repl", "pw",
      idleHeartbeats = true)
    try {
      val targets = Seq(WireReplicaJob.TableTarget("app", "t",
        Seq("id" -> "long", "seq" -> "long", "v" -> "string"),
        Seq("id"), "seq", s"$root/replica", 2))
      val mon = new graft.streaming.StallMonitor(noDataThresholdSeconds = 0)
      // trigger 1 drains; triggers 2..3 are IDLE — with a zero silence
      // threshold, any 0-liveness note would alarm instantly. The
      // heartbeat-carrying polls keep the clock fed: no alarm.
      LiveReplicaJob.run(spark,
        Seq(BinlogDumpClient.Endpoint("dn1", "localhost", srv.port,
          "repl", "pw", "binlog.000000", 4L)),
        Map(("app", "t") -> Seq("id", "seq", "v")), targets,
        s"$root/stage", s"$root/cursors", intervalMs = 0,
        maxTriggers = 3, monitor = Some(mon))
      assert(graft.operators.TxnApplier
        .readCurrent(spark, s"$root/replica").count() == 4L)
      assert(!mon.alarms.exists(_.kind == "no_data"))
    } finally srv.close()
  }

  test("prune boundary binary-searches: cold cursor costs O(log N) head peeks, caught-up stays ONE") {
    import graft.model.GtidSet
    val sid = java.util.UUID.fromString(
      "0a1b2c3d-1111-2222-3333-4444555588aa")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-prune-log").toString
    // one writer call, 32 files with REAL cumulative PREVIOUS_GTIDS:
    // 64 single-row txns, 2 per file
    val df = (1L to 64L).map(i => (i, s"v$i", "INSERT", i, i))
      .toDF("id", "v", "op", "tso", "seq")
      .withColumn("ts", lit(1700000000L))
    BinlogWire.writeTxnFramedBinlogFiles(
      graft.operators.MergeSort.sortedRunsGrouped(df, 32,
        Seq("tso"), Seq("seq")),
      specs, "app", "t", "op", "ts", "tso", dir, checksummed = true,
      tsoCarrier = "sequence", gtidSid = Some(sid))
    val fs = graft.util.HadoopIo.fsOf(new org.apache.hadoop.fs.Path(dir))
    val paths = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("binlog.")).sorted.toSeq
      .map(n => new org.apache.hadoop.fs.Path(dir, n))
    assert(paths.size == 32)
    val logBound = // ⌈log₂ 32⌉ + 2
      math.ceil(math.log(paths.size) / math.log(2)).toInt + 2
    var peeks = 0
    def counting(p: org.apache.hadoop.fs.Path) = {
      peeks += 1
      BinlogWire.readPreviousGtids(fs, p)
    }
    def runAt(executed: GtidSet): (Int, Int) = {
      peeks = 0
      (BinlogWire.gtidServeStart(paths, executed, counting _), peeks)
    }
    def firstK(k: Int): GtidSet = // txns of files 0..k-1 (2 per file)
      if (k == 0) GtidSet.Empty
      else (1L to 2L * k).foldLeft(GtidSet.Empty)(_.add(sid, _))

    // caught-up consumer: ONE peek, whatever the log length
    val (iAll, pAll) = runAt(firstK(32))
    assert(iAll == 31 && pAll == 1)
    // fully cold: nothing prunes, and the search still costs O(log N)
    val (i0, p0) = runAt(GtidSet.Empty)
    assert(i0 == 0 && p0 <= logBound)
    // every partial depth: the answer matches the linear rule (largest
    // i whose previous-set the cursor covers) at O(log N) peeks
    (1 to 31).foreach { k =>
      val (i, p) = runAt(firstK(k))
      assert(i == k, s"depth $k")
      assert(p <= logBound, s"depth $k cost $p > $logBound")
    }
    // the 3-arg entry point (production callers) agrees
    assert(BinlogWire.gtidServeStart(fs, paths, firstK(7)) == 7)
  }
}
