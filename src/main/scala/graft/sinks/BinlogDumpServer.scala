package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.BinlogDumpClient

/** The dump-service SERVER side: serves a wire-log directory to any
  * MySQL-replication consumer over the public dump dialogue — the
  * reference's `CdcServer.dump` re-serving its file manager's binlogs
  * (dumper/dump/CdcServer.java:154; readers BinlogDumpReader/
  * LogFileReader), restated over the engine's own wire files. Speaks
  * the server half of what [[graft.sources.BinlogDumpClient]] dials:
  * v10 initial handshake with a per-connection scramble,
  * mysql_native_password verification (a wrong proof answers ERR 1045
  * and closes), caching_sha2_password fast auth AND full auth
  * (`sha2FullAuth=true` plays the cold-cache MySQL 8 server: RSA
  * public-key exchange over a non-TLS transport),
  * COM_REGISTER_SLAVE, and COM_BINLOG_DUMP streaming raw
  * events from the requested (file, pos) — FDE and the file's
  * self-describing prologue first — through every later file in name
  * order, then the NON_BLOCK caught-up EOF. `BinlogCatalog.seekTso`
  * output is a valid dump cursor.
  *
  * One adaptation to this engine's files, documented at seekTso too: a
  * real server re-sends only the FDE on a mid-file dump because MySQL
  * files re-declare TABLE_MAP per statement; these files declare maps
  * once per file, so the head prologue (FDE/PREVIOUS_GTIDS/TABLE_MAP)
  * re-serves with it.
  *
  * Scale shape: one daemon thread per consumer connection; each dump
  * streams its files through bounded-memory event framing (19-byte
  * header → length → body, never a whole file in heap) off any Hadoop
  * FS scheme — an archived log serves exactly like a local one. This
  * is the serving tier a downstream replica (or this repo's own
  * LiveReplicaJob and `graft-cdc` source) polls; Spark jobs are the
  * producers and consumers,
  * the server is transport.
  */
final class BinlogDumpServer(wireDir: String, user: String,
    password: String, filePrefix: String = "binlog.",
    idleHeartbeats: Boolean = false,
    authPlugin: String = "mysql_native_password",
    sha2FullAuth: Boolean = false) {
  require(Set("mysql_native_password", "caching_sha2_password")
    .contains(authPlugin), s"unsupported auth plugin $authPlugin")
  require(!sha2FullAuth || authPlugin == "caching_sha2_password",
    "sha2FullAuth is a caching_sha2_password mode")

  private val server = new java.net.ServerSocket(0)
  def port: Int = server.getLocalPort

  /** Accepted-connection count — lets a consumer-side test PROVE its
    * dial economy (e.g. the streaming source's staged path: one drain
    * dial per trigger, readers never re-dial in steady state). */
  val sessionsServed = new java.util.concurrent.atomic.AtomicInteger(0)

  private val accepter = new Thread(() => {
    try while (!server.isClosed) {
      val sock = server.accept()
      // a caught-up dump flushes as several small packets: without this
      // each waits out the client's delayed ACK (~40 ms per dial)
      sock.setTcpNoDelay(true)
      sessionsServed.incrementAndGet()
      val t = new Thread(() => serve(sock), s"binlog-dump-${sock.getPort}")
      t.setDaemon(true)
      t.start()
    } catch { case _: Exception => () } // server closed
  }, "binlog-dump-accept")
  accepter.setDaemon(true)
  accepter.start()

  def close(): Unit = server.close()

  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray

  private final class PacketIO(sock: java.net.Socket) {
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream))
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    var seq: Int = 0
    def read(): Array[Byte] = {
      val hdr = new Array[Byte](4)
      in.readFully(hdr)
      val len = (hdr(0) & 0xFF) | ((hdr(1) & 0xFF) << 8) |
        ((hdr(2) & 0xFF) << 16)
      seq = (hdr(3) & 0xFF) + 1
      val buf = new Array[Byte](len)
      in.readFully(buf)
      // 0xFFFFFF payloads continue in the next packet (and a max-size
      // final chunk is followed by an EMPTY one) — protocol framing,
      // same as the client side
      if (len == 0xFFFFFF) buf ++ read() else buf
    }
    def write(payload: Array[Byte]): Unit = {
      // MySQL packet framing caps one packet at 0xFFFFFF bytes: a
      // bigger payload (a >16MB binlog event — huge blob row, giant
      // RowsQuery) SPLITS into max-size chunks, and a payload that is
      // an exact multiple of the cap ends with an empty packet so the
      // reader knows it is complete. Without this, the 3-byte length
      // silently truncates and the stream desyncs mid-dump.
      var off = 0
      var more = true
      while (more) {
        val n = math.min(payload.length - off, 0xFFFFFF)
        out.write(n & 0xFF)
        out.write((n >> 8) & 0xFF)
        out.write((n >> 16) & 0xFF)
        out.write(seq & 0xFF)
        out.write(payload, off, n)
        seq += 1
        off += n
        more = n == 0xFFFFFF
      }
      out.flush()
    }
  }

  private def ok(): Array[Byte] =
    Array(0x00.toByte, 0x00.toByte, 0x00.toByte) ++ le(2L, 2) ++ le(0L, 2)

  private def err(code: Int, sqlState: String, msg: String): Array[Byte] =
    Array(0xFF.toByte) ++ le(code.toLong, 2) ++ Array('#'.toByte) ++
      sqlState.getBytes(UTF_8) ++ msg.getBytes(UTF_8)

  /** Stream one file's events to `emit`, bounded memory: 19-byte
    * header → declared length → body, one event in heap at a time.
    * `serveFrom` gates by within-file offset; the head prologue
    * (FDE=15, TABLE_MAP=19, PREVIOUS_GTIDS=35, ROTATE=4) always
    * serves. */
  /** Returns the count of NON-prologue frames served — the "did this
    * dump carry anything new" signal the idle heartbeat keys on. */
  private def streamFile(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, serveFrom: Long,
      emit: Array[Byte] => Unit): Int = {
    val preamble = Set(15, 19, 35, 4)
    var newFrames = 0
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(path)))
    try {
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(magic.sameElements(BinlogWire.Magic), s"bad magic in $path")
      var off = 4L
      var inPrologue = true
      var done = false
      while (!done) {
        val header = new Array[Byte](19)
        val first = in.read()
        if (first < 0) done = true
        else {
          header(0) = first.toByte
          in.readFully(header, 1, 18)
          val len = (header(9) & 0xFF) | ((header(10) & 0xFF) << 8) |
            ((header(11) & 0xFF) << 16) | ((header(12) & 0xFF) << 24)
          val body = new Array[Byte](len - 19)
          in.readFully(body)
          inPrologue &&= preamble.contains(header(4) & 0xFF)
          if (inPrologue || off >= serveFrom) {
            emit(header ++ body)
            if (!inPrologue) newFrames += 1
          }
          off += len
        }
      }
    } finally in.close()
    newFrames
  }

  /** Stream one file for a GTID auto-position dump: infrastructure
    * events (FDE, PREVIOUS_GTIDS, TABLE_MAP declarations, rotate chain
    * links) always serve; a TRANSACTION serves iff its GTID is not in
    * the consumer's executed set — the skip runs from the GTID event
    * to the txn's XID commit. This is the WITHIN-file filter; whole
    * fully-executed files are pruned before it via their successors'
    * populated PREVIOUS_GTIDS (`BinlogWire.gtidServeStart` at the
    * dump site), matching real MySQL's file-then-event pruning order.
    * A GTID-less txn (log written without a sid) never matches the
    * executed set and always serves. */
  /** Returns the count of served TRANSACTION frames (infrastructure
    * events excluded) — the idle-heartbeat signal. */
  private def streamFileGtid(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, executed: graft.model.GtidSet,
      emit: Array[Byte] => Unit): Int = {
    var newFrames = 0
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(path)))
    try {
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(magic.sameElements(BinlogWire.Magic), s"bad magic in $path")
      var skipping = false
      var done = false
      while (!done) {
        val header = new Array[Byte](19)
        val first = in.read()
        if (first < 0) done = true
        else {
          header(0) = first.toByte
          in.readFully(header, 1, 18)
          val len = (header(9) & 0xFF) | ((header(10) & 0xFF) << 8) |
            ((header(11) & 0xFF) << 16) | ((header(12) & 0xFF) << 24)
          val body = new Array[Byte](len - 19)
          in.readFully(body)
          (header(4) & 0xFF) match {
            case BinlogWire.GtidEvent
                if BinlogWire.parseGtidBody(body).isDefined =>
              val (sid, gno) = BinlogWire.parseGtidBody(body).get
              skipping = executed.contains(sid, gno)
              if (!skipping) { emit(header ++ body); newFrames += 1 }
            case BinlogWire.FormatDescriptionEvent |
                 BinlogWire.PreviousGtidsEvent |
                 BinlogWire.RotateEvent =>
              emit(header ++ body)
            case BinlogWire.TableMapEvent =>
              // a map OUTSIDE any skipped txn is a declaration (the
              // file-head prologue, or a between-txns re-declare) and
              // always serves; a map INSIDE a skipped txn rides with
              // the txn — these files re-declare maps per transaction,
              // so re-serving them over a long executed prefix fills
              // the poll's byte budget with data the consumer already
              // has (measured: 64 MB polls carrying 2 new txns)
              if (!skipping) emit(header ++ body)
            case BinlogWire.XidEvent =>
              if (!skipping) { emit(header ++ body); newFrames += 1 }
              skipping = false
            case _ =>
              if (!skipping) { emit(header ++ body); newFrames += 1 }
          }
        }
      }
    } finally in.close()
    newFrames
  }

  /** One HEARTBEAT_LOG_EVENT frame: body = the newest file's name,
    * next_pos = its end offset — the MySQL idle-liveness signal
    * (reference semantics: TsoHeartbeat.java:53-67, progress
    * guaranteed even when the source is idle). Sent on a caught-up
    * dump when `idleHeartbeats` is on, so a standing client can tell
    * an idle source from a dead dialogue without a wall clock. */
  private def heartbeatFrame(fileName: String, endPos: Long): Array[Byte] = {
    val body = fileName.getBytes(UTF_8)
    // always carry a CRC32 trailer: a checksummed stream's parsers
    // verify it; an unchecksummed stream's treat it as 4 opaque body
    // bytes nothing reads (the body is provenance text only)
    val ev = le(0L, 4) ++ Array(BinlogWire.HeartbeatEvent.toByte) ++
      le(0L, 4) ++ le((19 + body.length + 4).toLong, 4) ++
      le(endPos, 4) ++ le(0L, 2) ++ body
    val crc = new java.util.zip.CRC32()
    crc.update(ev)
    ev ++ le(crc.getValue, 4)
  }

  private def serve(sock: java.net.Socket): Unit = {
    val io = new PacketIO(sock)
    try {
      // per-connection scramble (time-seeded; only equality with the
      // client's proof matters, not unpredictability strength here —
      // swap in SecureRandom where the transport faces real networks)
      val rnd = new java.util.Random(System.nanoTime())
      val scramble = new Array[Byte](20)
      rnd.nextBytes(scramble)
      scramble.indices.foreach { i => // MySQL scrambles are NUL-free
        if (scramble(i) == 0) scramble(i) = 1
      }
      io.seq = 0
      io.write(Array(10.toByte) ++
        "8.0.32-graft-dump".getBytes(UTF_8) ++ Array(0.toByte) ++
        le(99L, 4) ++ scramble.take(8) ++ Array(0.toByte) ++
        le(0x8201L, 2) ++ Array(33.toByte) ++ le(2L, 2) ++ le(0x8L, 2) ++
        Array(21.toByte) ++ new Array[Byte](10) ++
        scramble.drop(8) ++ Array(0.toByte) ++
        authPlugin.getBytes(UTF_8) ++ Array(0.toByte))
      val resp = io.read()
      var i = 4 + 4 + 1 + 23 // caps, max packet, charset, reserved
      val userEnd = resp.indexOf(0.toByte, i)
      val gotUser = new String(resp.slice(i, userEnd), UTF_8)
      i = userEnd + 1
      val authLen = resp(i) & 0xFF
      i += 1
      val gotAuth = resp.slice(i, i + authLen)
      // the plugin the CLIENT answered with (CLIENT_PLUGIN_AUTH puts
      // its z-terminated name right after the auth response); absent →
      // pre-plugin client, treated as mysql_native_password
      val pluginFrom = i + authLen
      val pluginEnd = resp.indexOf(0.toByte, pluginFrom)
      val clientPlugin =
        if (pluginEnd > pluginFrom)
          new String(resp.slice(pluginFrom, pluginEnd), UTF_8)
        else "mysql_native_password"
      if (sha2FullAuth && clientPlugin == "caching_sha2_password" &&
          gotAuth.nonEmpty) {
        // FULL auth — the cold-cache server shape: a real MySQL whose
        // per-user sha2 cache is empty CANNOT verify the fast proof
        // (the cache holds the only derivable verifier), so it demands
        // the key exchange instead. AuthMoreData 0x04, then the 0x02
        // public-key request → PEM reply → RSA-OAEP decrypt → compare
        // XOR(password ++ NUL, nonce). (A success primes the real
        // server's cache; this server holds the plaintext, so the flag
        // exists to BE that cold server for clients under test.)
        io.write(Array(0x01.toByte, 0x04.toByte))
        val req = io.read()
        if (req.length != 1 || (req(0) & 0xFF) != 0x02) {
          // only the non-TLS public-key path is served here
          io.write(err(1045, "28000",
            s"Access denied for user '$gotUser' (expected public key " +
              "request)"))
          return
        }
        val pub = BinlogDumpServer.rsaKeys.getPublic.getEncoded
        val pem = "-----BEGIN PUBLIC KEY-----\n" +
          java.util.Base64.getMimeEncoder(64, "\n".getBytes(UTF_8))
            .encodeToString(pub) +
          "\n-----END PUBLIC KEY-----\n"
        io.write(Array(0x01.toByte) ++ pem.getBytes(UTF_8))
        val sealed_ = io.read()
        val fullOk = gotUser == user && (try {
          val c = javax.crypto.Cipher.getInstance(
            "RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
          c.init(javax.crypto.Cipher.DECRYPT_MODE,
            BinlogDumpServer.rsaKeys.getPrivate)
          java.util.Arrays.equals(c.doFinal(sealed_),
            BinlogDumpClient.xorWithNonce(password, scramble))
        } catch {
          case _: java.security.GeneralSecurityException => false
        })
        if (!fullOk) {
          io.write(err(1045, "28000",
            s"Access denied for user '$gotUser'"))
          return
        }
        io.write(ok())
      } else {
        // the server holds the plaintext, so BOTH proof families verify
        // directly on the fast path
        val proofOk = clientPlugin match {
          case "mysql_native_password" => java.util.Arrays.equals(gotAuth,
            BinlogDumpClient.nativePassword(password, scramble))
          case "caching_sha2_password" => java.util.Arrays.equals(gotAuth,
            BinlogDumpClient.sha2Password(password, scramble))
          case _ => false
        }
        if (gotUser != user || !proofOk) {
          io.write(err(1045, "28000", s"Access denied for user '$gotUser'"))
          return
        }
        // caching_sha2's fast-auth handshake tail: AuthMoreData 0x03
        // ("fast auth success") precedes the OK — MySQL 8 wire shape,
        // which stock connectors expect (empty proofs skip it, like the
        // real server's empty-password path)
        if (clientPlugin == "caching_sha2_password" && gotAuth.nonEmpty)
          io.write(Array(0x01.toByte, 0x03.toByte))
        io.write(ok())
      }
      var open = true
      while (open) {
        io.seq = 0
        val cmd = io.read()
        cmd.headOption.map(_ & 0xFF) match {
          case Some(0x15) => io.write(ok()) // COM_REGISTER_SLAVE
          case Some(0x12) => // COM_BINLOG_DUMP
            val pos = (cmd(1) & 0xFFL) | ((cmd(2) & 0xFFL) << 8) |
              ((cmd(3) & 0xFFL) << 16) | ((cmd(4) & 0xFFL) << 24)
            // flags(2) + serverId(4), then the file name
            val file = new String(cmd.drop(11), UTF_8)
            val root = new org.apache.hadoop.fs.Path(wireDir)
            val fs = graft.util.HadoopIo.fsOf(root)
            val files =
              if (!fs.exists(root)) Seq.empty
              else fs.listStatus(root).toSeq
                .filter(st => st.isFile &&
                  st.getPath.getName.startsWith(filePrefix))
                .map(_.getPath).sortBy(_.getName)
                .dropWhile(_.getName < file)
            if (files.isEmpty || files.head.getName != file)
              io.write(err(1236, "HY000",
                s"Could not find first log file name in binary log index file: $file"))
            else {
              var served = 0
              files.zipWithIndex.foreach { case (p, fi) =>
                served += streamFile(fs, p, if (fi == 0) pos else 4L,
                  bytes => io.write(Array(0x00.toByte) ++ bytes))
              }
              if (idleHeartbeats && served == 0) {
                val last = files.last
                io.write(Array(0x00.toByte) ++ heartbeatFrame(
                  last.getName, fs.getFileStatus(last).getLen))
              }
              io.write(Array(0xFE.toByte) ++ le(0L, 2) ++ le(2L, 2))
            }
          case Some(0x1e) => // COM_BINLOG_DUMP_GTID (auto-position)
            // payload: flags(2) serverId(4) nameLen(4) name pos(8)
            // dataLen(4) <encoded executed GTID set>; auto-position
            // ignores name/pos — the SET is the cursor
            // the WHOLE payload parse sits inside the guard (nameLen/
            // dataLen reads included): a truncated command answers the
            // same 1236 as a malformed set instead of dropping the
            // connection on an out-of-bounds read
            val executed =
              try {
                var i = 1 + 2 + 4
                val nameLen = (0 until 4).map(k =>
                  (cmd(i + k) & 0xFF) << (8 * k)).sum
                i += 4 + nameLen + 8
                val dataLen = (0 until 4).map(k =>
                  (cmd(i + k) & 0xFF) << (8 * k)).sum
                i += 4
                graft.model.GtidSet.decode(cmd.slice(i, i + dataLen))
              } catch { case _: Exception => null }
            if (executed == null)
              io.write(err(1236, "HY000",
                "Malformed GTID set in COM_BINLOG_DUMP_GTID"))
            else {
              val root = new org.apache.hadoop.fs.Path(wireDir)
              val fs = graft.util.HadoopIo.fsOf(root)
              val files =
                if (!fs.exists(root)) Seq.empty
                else fs.listStatus(root).toSeq
                  .filter(st => st.isFile &&
                    st.getPath.getName.startsWith(filePrefix))
                  .map(_.getPath).sortBy(_.getName)
              // FILE-LEVEL pruning, the way a real server serves
              // auto-position: a file whose successor's PREVIOUS_GTIDS
              // is a (non-empty) subset of the consumer's executed set
              // is fully executed and never opened — a caught-up
              // standing consumer costs one head peek + the tail file,
              // O(new data) per poll, not O(log history). Skipped
              // files serve NOTHING (not even prologue): every wire
              // file is self-describing, so the dump starts clean at
              // the first file that can carry un-executed txns.
              // MySQL's purged-log guard: the HEAD file's
              // PREVIOUS_GTIDS names every transaction rotated or
              // purged out of this directory; a consumer whose
              // executed set does not cover it needs data that no
              // longer exists here — answer the loud 1236 a real
              // master gives, never a silently gapped stream
              val purged = files.headOption
                .flatMap(BinlogWire.readPreviousGtids(fs, _))
                .getOrElse(graft.model.GtidSet.Empty)
              if (!purged.isSubsetOf(executed))
                io.write(err(1236, "HY000",
                  "Cannot replicate because the master purged " +
                  s"required binary logs: executed '${executed.text}'" +
                  s" does not cover purged '${purged.text}'"))
              else {
              val from = BinlogWire.gtidServeStart(fs, files, executed)
              var served = 0
              files.drop(from).foreach { p =>
                served += streamFileGtid(fs, p, executed,
                  bytes => io.write(Array(0x00.toByte) ++ bytes))
              }
              if (idleHeartbeats && served == 0 && files.nonEmpty) {
                val last = files.last
                io.write(Array(0x00.toByte) ++ heartbeatFrame(
                  last.getName, fs.getFileStatus(last).getLen))
              }
              io.write(Array(0xFE.toByte) ++ le(0L, 2) ++ le(2L, 2))
              }
            }
          case Some(0x01) | None => open = false // COM_QUIT / closed
          case Some(other) =>
            io.write(err(1047, "08S01", s"Unknown command $other"))
        }
      }
    } catch {
      case _: Exception => () // consumer dropped — its session only
    } finally sock.close()
  }
}

object BinlogDumpServer {
  /** RSA keypair for the caching_sha2 full-auth exchange — the real
    * server's auto-generated key files (caching_sha2_password_private/
    * public_key_path). One pair per JVM: generation costs ~100ms and
    * key identity across server instances is exactly how a deployment
    * with provisioned key files behaves. */
  private[sinks] lazy val rsaKeys: java.security.KeyPair = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }
}
