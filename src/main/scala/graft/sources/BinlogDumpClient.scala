package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}

/** COM_BINLOG_DUMP protocol client — the live-DN dialogue the reference
  * speaks to tail a MySQL-family server directly
  * (canal/.../binlog/DirectLogFetcher.java:55-180 reads the dump
  * stream; connection setup in canal/core/dump/MysqlConnection.java).
  * Everything here is the PUBLIC MySQL client/server wire protocol:
  * v10 initial handshake, HandshakeResponse41, both proof families —
  * mysql_native_password and caching_sha2_password fast-auth (MySQL
  * 8's default; plugin negotiated from the server's advertisement,
  * AuthSwitchRequest honored) — COM_REGISTER_SLAVE, COM_BINLOG_DUMP,
  * and the event-packet stream (each packet `00 <raw binlog event>`;
  * `FE` EOF when a NON_BLOCK dump catches up; `FF` server error).
  *
  * Spark shape: one endpoint = one executor task (`pollSegments`
  * mapPartitions — the reference's per-DN fetcher thread becomes a
  * task), each draining its DN to EOF with BINLOG_DUMP_NON_BLOCK and
  * returning ONE segment of raw event bytes behind the binlog magic —
  * exactly the packet unit `ChangeEventSource.fromWireSegments`
  * normalizes, so the §3.1 DAG consumes a live DN and an archived file
  * through the same path. Repeated polls ARE the micro-batch loop: the
  * caller advances (file, pos) per DN from the decoded stream or a
  * `BinlogCatalog.seekTso` cursor, so each trigger reads only the
  * suffix — per-trigger bytes are bounded by the DN's new data, never
  * the log's history.
  *
  * Deliberately NOT here: connection pooling and TLS. Both MySQL auth
  * families ARE here, including caching_sha2's FULL-auth path over a
  * plaintext link (cold server cache → AuthMoreData 0x04 → public-key
  * request → RSA-OAEP-sealed XOR(password, nonce)) — a fresh MySQL 8
  * connection with an empty auth cache and no TLS authenticates.
  */
object BinlogDumpClient {

  /** One DN to tail: where to dial, how to authenticate, and the dump
    * start cursor ((file, pos) — `BinlogCatalog.seekTso` or the
    * consumer's own recovered position). */
  case class Endpoint(dn: String, host: String, port: Int, user: String,
      password: String, binlogFile: String, pos: Long = 4L)

  // capability flags (public protocol constants)
  private val ClientLongPassword = 0x00000001L
  private val ClientProtocol41 = 0x00000200L
  private val ClientSecureConnection = 0x00008000L
  private val ClientPluginAuth = 0x00080000L
  private val BinlogDumpNonBlock = 0x01
  private val ComQuit = 0x01
  private val ComBinlogDump = 0x12
  private val ComRegisterSlave = 0x15
  private val ComBinlogDumpGtid = 0x1e

  /** MySQL packet framing: 3-byte LE payload length + 1-byte sequence
    * id; payloads of 0xFFFFFF continue in the next packet. */
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
      if (len == 0xFFFFFF) buf ++ read() else buf
    }

    def write(payload: Array[Byte]): Unit = {
      // split at the 0xFFFFFF packet cap (an exact-multiple payload
      // ends with an empty packet) — commands are usually tiny, but a
      // COM_BINLOG_DUMP_GTID carrying a very wide executed set must
      // not silently truncate its length field
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

  /** SHA1(password) XOR SHA1(scramble ++ SHA1(SHA1(password))) — the
    * mysql_native_password proof (empty password → empty response);
    * shared with the serving side (`sinks/BinlogDumpServer`). */
  private[graft] def nativePassword(password: String,
      scramble: Array[Byte]): Array[Byte] =
    if (password.isEmpty) Array.emptyByteArray
    else {
      val sha = java.security.MessageDigest.getInstance("SHA-1")
      val p1 = sha.digest(password.getBytes(UTF_8))
      sha.reset()
      val p2 = sha.digest(p1)
      sha.reset()
      sha.update(scramble)
      sha.update(p2)
      val proof = sha.digest()
      p1.indices.foreach(i => proof(i) = (proof(i) ^ p1(i)).toByte)
      proof
    }

  /** XOR(SHA256(password), SHA256(SHA256(SHA256(password)) ++ nonce))
    * — the caching_sha2_password FAST-AUTH proof (MySQL 8's default
    * plugin; empty password → empty response). When the server's auth
    * cache misses it demands FULL auth instead — the RSA key-exchange
    * path below ([[rsaEncryptPassword]]). */
  private[graft] def sha2Password(password: String,
      nonce: Array[Byte]): Array[Byte] =
    if (password.isEmpty) Array.emptyByteArray
    else {
      val sha = java.security.MessageDigest.getInstance("SHA-256")
      val p1 = sha.digest(password.getBytes(UTF_8))
      sha.reset()
      val p2 = sha.digest(p1)
      sha.reset()
      sha.update(p2)
      sha.update(nonce)
      val proof = sha.digest()
      p1.indices.foreach(i => proof(i) = (proof(i) ^ p1(i)).toByte)
      proof
    }

  /** caching_sha2_password FULL-AUTH obfuscation: (password ++ NUL)
    * XOR the handshake nonce, nonce repeated — the cleartext shape the
    * client RSA-encrypts when the server's auth cache misses and the
    * transport is not TLS (MySQL 8's sha2_password_common scramble;
    * the XOR keeps the RSA input non-replayable across connections).
    * Shared with the serving side's decrypt-and-verify. */
  private[graft] def xorWithNonce(password: String,
      nonce: Array[Byte]): Array[Byte] = {
    val plain = password.getBytes(UTF_8) :+ 0.toByte
    plain.indices.map(i =>
      (plain(i) ^ nonce(i % nonce.length)).toByte).toArray
  }

  /** Encrypt the XOR-obfuscated password under the server's RSA public
    * key (PEM, as the server sends it in its AuthMoreData reply to the
    * 0x02 public-key request). caching_sha2_password uses OAEP padding
    * — sha256_password's PKCS#1 v1.5 is the OLD plugin's shape. */
  private[graft] def rsaEncryptPassword(password: String,
      nonce: Array[Byte], publicKeyPem: String): Array[Byte] = {
    val der = java.util.Base64.getMimeDecoder.decode(
      publicKeyPem
        .replace("-----BEGIN PUBLIC KEY-----", "")
        .replace("-----END PUBLIC KEY-----", ""))
    val key = java.security.KeyFactory.getInstance("RSA")
      .generatePublic(new java.security.spec.X509EncodedKeySpec(der))
    val c = javax.crypto.Cipher.getInstance(
      "RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE, key)
    c.doFinal(xorWithNonce(password, nonce))
  }

  /** The proof for whichever plugin the server names. */
  private def proofFor(plugin: String, password: String,
      scramble: Array[Byte]): Array[Byte] = plugin match {
    case "caching_sha2_password" => sha2Password(password, scramble)
    case "mysql_native_password" => nativePassword(password, scramble)
    case other => throw new java.io.IOException(
      s"BinlogDumpClient: server requests unsupported auth plugin " +
        s"'$other' (supported: mysql_native_password, " +
        "caching_sha2_password)")
  }

  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray

  /** A server ERR response, typed so standing pollers can distinguish
    * expected conditions (1236 unknown log = the producer has not
    * rotated to the cursor's file yet) from real failures. */
  final class ServerError(val code: Int, message: String)
    extends java.io.IOException(message)

  /** ER_MASTER_FATAL_ERROR_READING_BINLOG — the unknown-log answer. */
  val ErrUnknownLog = 1236

  /** A 1236 whose message signals an UNRECOVERABLE condition, never a
    * transient rotate/promotion window: a malformed GTID set is a
    * config/encode bug, and a source that PURGED binlogs still holding
    * required GTIDs can never serve them — retrying either forever
    * reads as a silently stalled replica. MySQL's purged-gtid texts
    * ("the master has purged binary logs containing GTIDs that the
    * slave requires" / the 8.0 source/replica wording) both carry
    * "purged". */
  def fatal1236(msg: String): Boolean = {
    val m = if (msg == null) "" else msg
    m.contains("Malformed GTID set") || m.toLowerCase.contains("purged")
  }

  /** The refusal for a GTID-less log met by a GTID auto-position
    * consumer: the served row and commit frames carry no GTID event, so
    * the executed set can never advance — the consumer would re-drain
    * the log on every poll and apply nothing. */
  def gtidlessLog(dn: String): IllegalStateException =
    new IllegalStateException(
      s"graft-cdc: DN $dn served row/commit events but no GTID event — " +
      "a GTID auto-position source cannot advance on a GTID-less log " +
      "(written without a gtidSid, the wire writers' default); write the " +
      "log with a gtidSid, or replicate it with the (file, pos) dump " +
      "runner graft.jobs.LiveReplicaJob.run")

  /** ERR packet (0xFF) → loud failure carrying the server's message. */
  private def failOnErr(payload: Array[Byte], context: String): Array[Byte] = {
    if (payload.nonEmpty && (payload(0) & 0xFF) == 0xFF) {
      val code = (payload(1) & 0xFF) | ((payload(2) & 0xFF) << 8)
      val msgFrom = if (payload.length > 3 && payload(3) == '#') 9 else 3
      val msg = new String(payload.drop(msgFrom), UTF_8)
      throw new ServerError(code,
        s"BinlogDumpClient: server error $code during $context: $msg")
    }
    payload
  }

  /** Dial, authenticate, register, and drain ONE NON_BLOCK dump from
    * (binlogFile, pos): returns the raw event bytes (headers + bodies,
    * CRC trailers intact) the server streamed before its caught-up EOF,
    * prefixed with the binlog magic — a segment `fromWireSegments`
    * (and `BinlogWire.parseStream`) consumes directly. The server sends
    * the file's FORMAT_DESCRIPTION before the events at `pos`, so the
    * segment is self-describing (checksum algorithm included).
    *
    * `maxBytes` BOUNDS the poll: steady-state polls are naturally
    * bounded by the DN's new data, but a bootstrap from an old cursor
    * (or a catch-up after downtime) would otherwise drain the DN's
    * entire remaining history into this task's heap in one dump (the
    * reference streams through a bounded fetcher ring —
    * canal/.../DirectLogFetcher.java). Past the cap the drain stops at
    * the next TRANSACTION boundary (XID commit or file rotate — a
    * mid-txn cut would let the applier's position gate commit half a
    * transaction and drop the replayed second half), sends COM_QUIT,
    * and the caller resumes from the
    * [[dumpSegmentWithCursor]] cursor on the next poll — catch-up
    * happens over several bounded triggers. The cap is therefore soft
    * by up to one transaction (the irreducible unit of atomic apply). */
  def dumpSegment(host: String, port: Int, user: String, password: String,
      binlogFile: String, pos: Long, serverId: Long = 12345L,
      soTimeoutMs: Int = 30000, maxBytes: Long = Long.MaxValue): Array[Byte] =
    withDump(host, port, user, password, serverId, soTimeoutMs,
      Array(ComBinlogDump.toByte) ++ le(pos, 4) ++
        le(BinlogDumpNonBlock, 2) ++ le(serverId, 4) ++
        binlogFile.getBytes(UTF_8),
      maxBytes)._1

  /** GTID AUTO-POSITION dump: the cursor is the consumer's executed
    * GTID set, not a (file, pos) — COM_BINLOG_DUMP_GTID (reference:
    * canal/core/dump/MysqlConnection.java dumping by MysqlGTIDSet).
    * The server serves every transaction NOT in `executed`, whatever
    * file it lives in and whatever that file is NAMED — the cursor
    * survives source failover, log renumbering and relay re-serving,
    * the cases where a (file, pos) cursor answers error 1236. Returns
    * a magic-prefixed segment exactly like [[dumpSegment]]. */
  def dumpSegmentGtid(host: String, port: Int, user: String,
      password: String, executed: graft.model.GtidSet,
      serverId: Long = 12345L, soTimeoutMs: Int = 30000,
      maxBytes: Long = Long.MaxValue): Array[Byte] =
    withDump(host, port, user, password, serverId, soTimeoutMs,
      gtidDumpCommand(executed, serverId), maxBytes)._1

  /** The COM_BINLOG_DUMP_GTID command bytes — flags(2) =
    * NON_BLOCK | BINLOG_THROUGH_GTID; empty name + pos 4
    * (auto-position means the SET positions the dump). One builder for
    * every GTID dump entry point so a flag change cannot diverge them. */
  private def gtidDumpCommand(executed: graft.model.GtidSet,
      serverId: Long): Array[Byte] = {
    val data = executed.encode
    Array(ComBinlogDumpGtid.toByte) ++ le(0x01L | 0x04L, 2) ++
      le(serverId, 4) ++ le(0L, 4) ++ le(4L, 8) ++
      le(data.length.toLong, 4) ++ data
  }

  /** [[dumpSegmentGtid]] plus the ADVANCED executed set for the next
    * poll (the input set unioned with every GTID the segment carries;
    * `poll(set) → apply → poll(set')` is the failover-proof standing
    * tail) and whether the drain ended at the server's CAUGHT-UP EOF
    * (vs the byte cap): `true` means the DN had nothing more at drain
    * time — the signal a Trigger.AvailableNow run uses to mark a DN
    * complete and terminate instead of tailing a live producer
    * forever. */
  def dumpSegmentGtidWithCursorStatus(host: String, port: Int,
      user: String, password: String, executed: graft.model.GtidSet,
      serverId: Long = 12345L, soTimeoutMs: Int = 30000,
      maxBytes: Long = Long.MaxValue,
      rangeClaim: Boolean = false)
      : (Array[Byte], graft.model.GtidSet, Boolean) = {
    val (seg, caughtUp) = withDump(host, port, user, password, serverId,
      soTimeoutMs, gtidDumpCommand(executed, serverId), maxBytes)
    (seg, advanceExecuted(seg, executed, rangeClaim), caughtUp)
  }

  /** REPLAY drain: re-dump from `start` and stop as soon as the served
    * transactions COVER `target` — the bounded re-serve a replayed
    * micro-batch needs. A replayed offset range `[start, target]` was
    * drained once before, so the server must be able to re-serve it;
    * data that arrived AFTER the range (potentially hours of log on a
    * busy DN) must not be buffered just to be filtered away. The drain
    * tracks the served GTIDs and terminates at the first GTID event
    * past coverage (transactions are served in log order, so the first
    * out-of-range transaction marks the end of the range region) —
    * memory is bounded by the RANGE size plus one event, never the
    * post-range backlog. A caught-up EOF before coverage fails loudly:
    * a range the source can no longer re-serve must fail the query
    * rather than silently emit a subset.
    * Reference analog: the bounded fetch loop a replica recovery runs
    * (canal/core/dump/MysqlConnection.java dump dialogue). */
  def dumpSegmentGtidCovering(host: String, port: Int, user: String,
      password: String, start: graft.model.GtidSet,
      target: graft.model.GtidSet, serverId: Long = 12345L,
      soTimeoutMs: Int = 30000): Array[Byte] =
    withDump(host, port, user, password, serverId, soTimeoutMs,
      gtidDumpCommand(start, serverId),
      maxBytes = Long.MaxValue, coverage = Some((start, target)))._1

  /** The drained segment's GTIDs unioned into `executed` — the
    * advanced auto-position cursor. */
  /** With `rangeClaim`, the cursor advances by PER-SID RANGE CLAIM
    * instead of per-GNO inserts: each SID's drained [first, last] gno
    * range is claimed whole, gaps included. Sound ONLY against a log
    * whose per-SID gno order equals its serve order FOREVER — true for
    * this library's PRODUCED logs (the wire writers enforce monotone
    * commit-tso framing and appends are barrier-ordered), NOT for raw
    * DN ingress, where heartbeat files at wall-clock tsos legitimately
    * precede later data at older tsos. The payoff is structural: a
    * fan-out stream's gno space is sparse (it carries only its share
    * of the global tso sequence), so a per-GNO cursor grows
    * O(transactions) intervals — the sf1-class scale rehearsal
    * measured a 20 MB streaming OFFSET per batch before this existed;
    * the claim keeps the cursor O(SIDs). The claim is LOG-SCOPED:
    * only ever present this cursor to the log that produced it. */
  private[graft] def advanceExecuted(seg: Array[Byte],
      executed: graft.model.GtidSet,
      rangeClaim: Boolean = false): graft.model.GtidSet = {
    val set = graft.model.GtidSet.builder(executed)
    val firstSeen = scala.collection.mutable.Map[java.util.UUID, Long]()
    val lastSeen = scala.collection.mutable.Map[java.util.UUID, Long]()
    var off = 4
    while (off + 19 <= seg.length) {
      val tc = seg(off + 4) & 0xFF
      val len = (seg(off + 9) & 0xFF) | ((seg(off + 10) & 0xFF) << 8) |
        ((seg(off + 11) & 0xFF) << 16) | ((seg(off + 12) & 0xFF) << 24)
      if (tc == graft.sinks.BinlogWire.GtidEvent)
        graft.sinks.BinlogWire.parseGtidBody(seg.slice(off + 19, off + len))
          .foreach { case (sid, gno) =>
            if (rangeClaim) {
              // the claim's soundness rests on per-SID monotonicity —
              // a log violating it must refuse, never silently claim
              lastSeen.get(sid).filter(_ >= gno).foreach(prev =>
                throw new IllegalStateException(
                  s"BinlogDumpClient: GTID $sid:$gno after $sid:$prev " +
                  "— the served log is not TSO-ordered per SID; the " +
                  "range-claim cursor cannot advance on a disordered " +
                  "log (disable rangeClaimOffsets for this source)"))
              if (!firstSeen.contains(sid)) firstSeen(sid) = gno
              lastSeen(sid) = gno
            } else set.add(sid, gno)
          }
      // a MariaDB-flavor GTID carrier would advance NOTHING here: the
      // standing poll's cursor would never move and every trigger
      // would re-drain the log — refuse by name instead (the same
      // stance decodeStream takes)
      if (tc == graft.sinks.BinlogWire.MariaGtidEvent ||
          tc == graft.sinks.BinlogWire.MariaGtidListEvent)
        throw new IllegalArgumentException(
          s"BinlogDumpClient: MariaDB-flavor GTID carrier (event type " +
          s"$tc) in an auto-position dump — this cursor tracks MySQL " +
          "sid:gno sets and cannot advance on MariaDB domain GTIDs; " +
          "MariaDB GTID-flavored logs are not supported (the decoder " +
          "refuses MARIA_GTID and MARIA_GTID_LIST on every path)")
      off += len
    }
    firstSeen.foreach { case (sid, first) =>
      // STITCH to the prior claim: gnos between the prior claimed end
      // and this poll's first served gno are not on this log (the
      // TSO-ordered serve would have sent them first) — claim them
      // too. Without the stitch the cursor accretes one interval per
      // poll, and the holes break the server's PREVIOUS_GTIDS subset
      // test: file pruning stops covering, every later poll re-walks
      // the log from the top, and the drain budget fills with
      // re-served declarations — the sf1 rehearsal measured polls
      // collapsing from 538k new txns to 2 exactly this way.
      val from = executed.sets.get(sid).flatMap(_.lastOption)
        .map(_._2).filter(_ < first).getOrElse(first)
      set.addRange(sid, from, lastSeen(sid) + 1L)
    }
    set.result()
  }

  /** Dial + authenticate + register, issue one dump command, drain it
    * (optionally `maxBytes`-capped at txn boundaries; optionally
    * coverage-terminated — see [[dumpSegmentGtidCovering]]), COM_QUIT. */
  private def withDump(host: String, port: Int, user: String,
      password: String, serverId: Long, soTimeoutMs: Int,
      dumpCommand: Array[Byte], maxBytes: Long,
      coverage: Option[(graft.model.GtidSet, graft.model.GtidSet)] = None)
      : (Array[Byte], Boolean) = {
    val sock = new java.net.Socket()
    // no Nagle: the dialogue is small request/answer packets, and a
    // delayed ACK would hold each for ~40 ms
    sock.setTcpNoDelay(true)
    sock.connect(new java.net.InetSocketAddress(host, port), soTimeoutMs)
    sock.setSoTimeout(soTimeoutMs)
    try {
      val io = new PacketIO(sock)
      // ---- v10 initial handshake ----
      val hs = failOnErr(io.read(), "handshake")
      require(hs.nonEmpty && (hs(0) & 0xFF) == 10,
        s"BinlogDumpClient: unsupported protocol version ${hs(0) & 0xFF}")
      var i = 1
      while (hs(i) != 0) i += 1 // server version, z-terminated
      i += 1
      i += 4 // thread id
      val auth1 = hs.slice(i, i + 8); i += 8
      i += 1 // filler
      i += 2 // capability flags (lower)
      i += 1 // charset
      i += 2 // status
      i += 2 // capability flags (upper)
      val authLen = hs(i) & 0xFF; i += 1
      i += 10 // reserved
      val auth2Len = math.max(13, authLen - 8)
      val auth2 = hs.slice(i, i + auth2Len).takeWhile(_ != 0)
      val scramble = auth1 ++ auth2
      // the plugin the SERVER advertises (z-terminated after the
      // scramble tail) decides the proof family — MySQL 8 defaults to
      // caching_sha2_password, 5.7-era servers to mysql_native_password
      val pluginFrom = i + auth2Len
      val pluginEnd = hs.indexOf(0.toByte, pluginFrom)
      val serverPlugin =
        if (pluginEnd > pluginFrom)
          new String(hs.slice(pluginFrom, pluginEnd), UTF_8)
        else "mysql_native_password"
      // ---- HandshakeResponse41 ----
      val caps = ClientLongPassword | ClientProtocol41 |
        ClientSecureConnection | ClientPluginAuth
      val authResp = proofFor(serverPlugin, password, scramble)
      io.write(le(caps, 4) ++ le(1L << 24, 4) ++ Array(33.toByte) ++
        new Array[Byte](23) ++
        user.getBytes(UTF_8) ++ Array(0.toByte) ++
        Array(authResp.length.toByte) ++ authResp ++
        serverPlugin.getBytes(UTF_8) ++ Array(0.toByte))
      // auth epilogue: OK | ERR | AuthMoreData (caching_sha2 fast-auth
      // 0x03 then OK; 0x04 = full auth → RSA key exchange below) |
      // AuthSwitchRequest (re-proof under the requested plugin)
      var authReply = failOnErr(io.read(), "authentication")
      var authDone = false
      while (!authDone) {
        authReply.headOption.map(_ & 0xFF) match {
          case Some(0x01) => // AuthMoreData
            if (authReply.length >= 2 && (authReply(1) & 0xFF) == 0x03)
              authReply = failOnErr(io.read(), "authentication (fast-auth ok)")
            else if (authReply.length >= 2 && (authReply(1) & 0xFF) == 0x04) {
              // FULL auth: the server's sha2 cache missed. Non-TLS
              // transport → request the server's RSA public key (one
              // 0x02 byte), then send XOR(password ++ NUL, nonce)
              // encrypted under it (OAEP) — the public MySQL 8 shape
              // (caching_sha2_password request_public_key path)
              io.write(Array(0x02.toByte))
              val keyReply =
                failOnErr(io.read(), "authentication (public key)")
              if (keyReply.isEmpty || (keyReply(0) & 0xFF) != 0x01)
                throw new java.io.IOException("BinlogDumpClient: " +
                  "expected AuthMoreData carrying the RSA public key")
              val pem = new String(keyReply.drop(1), UTF_8)
              io.write(rsaEncryptPassword(password, scramble, pem))
              authReply = failOnErr(io.read(), "authentication (full auth)")
            } else throw new java.io.IOException(
              "BinlogDumpClient: unrecognized AuthMoreData tag " +
                s"${if (authReply.length >= 2) authReply(1) & 0xFF else -1}")
          case Some(0xFE) if authReply.length > 1 => // AuthSwitchRequest
            val pe = authReply.indexOf(0.toByte, 1)
            val plug = new String(authReply.slice(1, pe), UTF_8)
            val newScramble =
              authReply.slice(pe + 1, authReply.length).takeWhile(_ != 0)
            io.write(proofFor(plug, password, newScramble))
            authReply = failOnErr(io.read(), "authentication (switch)")
          case _ => authDone = true // OK
        }
      }
      // ---- COM_REGISTER_SLAVE (what a replica announces) ----
      io.seq = 0
      io.write(Array(ComRegisterSlave.toByte) ++ le(serverId, 4) ++
        Array(0.toByte, 0.toByte, 0.toByte) ++ // empty host/user/password
        le(0L, 2) ++ le(0L, 4) ++ le(0L, 4)) // port, rank, master id
      failOnErr(io.read(), "COM_REGISTER_SLAVE")
      // ---- the dump command (NON_BLOCK: EOF when caught up) ----
      io.seq = 0
      io.write(dumpCommand)
      val events = Vector.newBuilder[Array[Byte]]
      var done = false
      var drained = 0L
      // coverage tracking rides the library-wide log contract (tso
      // order, per-SID monotone gnos): the replayed range is covered
      // exactly when every target SID's cursor reached that SID's MAX
      // target gno. Per-SID maxima, O(1) per event — never a per-event
      // isSubsetOf, which is quadratic over interval-rich sets, and
      // never a per-GNO count, which a range-claimed (gap-inclusive)
      // start/target pair would mis-count.
      val targetMax: Map[java.util.UUID, Long] =
        coverage.fold(Map.empty[java.util.UUID, Long]) { case (_, t) =>
          t.sets.map { case (sid, ivs) => sid -> (ivs.last._2 - 1L) }
        }
      val pending = scala.collection.mutable.Set[java.util.UUID]()
      coverage.foreach { case (start, _) =>
        targetMax.foreach { case (sid, mx) =>
          val startMax = start.sets.get(sid).map(_.last._2 - 1L)
            .getOrElse(Long.MinValue)
          if (startMax < mx) pending += sid
        }
      }
      var sawEof = false
      while (!done) {
        val p = failOnErr(io.read(), "binlog dump")
        if (p.nonEmpty && (p(0) & 0xFF) == 0xFE && p.length < 9) {
          done = true; sawEof = true
        } else {
          require(p.nonEmpty && p(0) == 0,
            "BinlogDumpClient: malformed event packet (no OK marker)")
          // event type sits after the OK byte + 4 timestamp bytes
          val tc = p(5) & 0xFF
          // coverage-terminated drain: the first GTID event past
          // coverage starts a transaction OUTSIDE the replayed range —
          // exclude it and stop (log order means everything after it
          // is outside too)
          val pastRange = coverage.isDefined && pending.isEmpty &&
            tc == graft.sinks.BinlogWire.GtidEvent
          if (pastRange) done = true
          else {
            if (coverage.isDefined &&
                tc == graft.sinks.BinlogWire.GtidEvent)
              graft.sinks.BinlogWire.parseGtidBody(p.drop(20)) match {
                case Some((sid, gno)) =>
                  if (targetMax.get(sid).exists(gno >= _)) pending -= sid
                case None =>
                  // a GTID event whose body won't parse can never
                  // advance `served`, so coverage would never complete
                  // — the drain would silently buffer the DN's whole
                  // post-range backlog to EOF and then blame a purged
                  // log. Name the real problem at the event instead.
                  throw new IllegalArgumentException(
                    "BinlogDumpClient: unparseable GTID event body " +
                    s"(${p.length - 1} bytes) in a coverage-terminated " +
                    "replay drain — cannot track served transactions, " +
                    "refusing to drain to EOF")
              }
            events += p.drop(1)
            drained += p.length - 1
            if (drained >= maxBytes) {
              // capped: stop at the first txn boundary from here on
              if (tc == graft.sinks.BinlogWire.XidEvent ||
                  tc == graft.sinks.BinlogWire.RotateEvent) done = true
            }
          }
        }
      }
      coverage.foreach { case (_, target) =>
        if (sawEof && pending.nonEmpty)
          throw new java.io.IOException(
            "BinlogDumpClient: replay drain reached caught-up EOF " +
            s"before covering the replayed range — SIDs " +
            s"${pending.mkString(", ")} never reached their target " +
            s"maxima in '${target.text}'; the source can no longer " +
            "re-serve this offset range (purged log?), failing loudly " +
            "instead of emitting a subset")
      }
      io.seq = 0
      io.write(Array(ComQuit.toByte))
      (graft.sinks.BinlogWire.Magic ++ events.result().flatten, sawEof)
    } finally sock.close()
  }

  /** `dumpSegment` plus the RESUME CURSOR for the next poll: walks the
    * drained events' headers — each event's next_position advances the
    * within-file offset, and a ROTATE event (the chain link every
    * rotate-chained wire file ends with, and what a real server emits
    * between files) switches the file name. The returned (file, pos) is
    * where THIS dump stopped, so `poll(cursor) → apply → poll(cursor')`
    * is the standing live tail — each trigger reads only the DN's new
    * data. The final rotate of an active log names its successor before
    * that file exists; a poll landing on it gets the server's
    * unknown-log error — keep the cursor and retry after the producer
    * rotates (the real replica behavior). Cursor tracking needs the
    * rotate chain; on a chainless log the file never switches, so only
    * single-file logs are safely resumable without it. */
  def dumpSegmentWithCursor(host: String, port: Int, user: String,
      password: String, binlogFile: String, pos: Long,
      serverId: Long = 12345L, soTimeoutMs: Int = 30000,
      maxBytes: Long = Long.MaxValue)
      : (Array[Byte], String, Long) = {
    val seg = dumpSegment(host, port, user, password, binlogFile, pos,
      serverId, soTimeoutMs, maxBytes)
    var file = binlogFile
    var cursor = pos
    var crc = false
    var off = 4 // walk the segment's events (skip the magic)
    while (off + 19 <= seg.length) {
      val tc = seg(off + 4) & 0xFF
      val len = (seg(off + 9) & 0xFF) | ((seg(off + 10) & 0xFF) << 8) |
        ((seg(off + 11) & 0xFF) << 16) | ((seg(off + 12) & 0xFF) << 24)
      val nextPos = (seg(off + 13) & 0xFFL) |
        ((seg(off + 14) & 0xFFL) << 8) | ((seg(off + 15) & 0xFFL) << 16) |
        ((seg(off + 16) & 0xFFL) << 24)
      if (tc == graft.sinks.BinlogWire.FormatDescriptionEvent)
        crc = len >= 24 && seg(off + len - 5) == 1
      if (tc == graft.sinks.BinlogWire.RotateEvent) {
        val body = seg.slice(off + 19, off + len)
        val name = body.drop(8).dropRight(if (crc) 4 else 0)
        file = new String(name, UTF_8)
        cursor = (0 until 8).map(i => (body(i) & 0xFFL) << (8 * i)).sum
      } else if (nextPos > 0) cursor = nextPos
      off += len
    }
    (seg, file, cursor)
  }

  /** One poll across a DN fleet: each endpoint dials, authenticates and
    * drains its dump IN ITS OWN EXECUTOR TASK (the reference's per-DN
    * fetcher thread, restated as task parallelism — a thousand DNs are
    * a thousand tasks, no driver hop), yielding (dn, payload) rows for
    * `ChangeEventSource.fromWireSegments`. Credentials travel inside
    * the endpoint rows; a real deployment injects them from its secret
    * store when building the endpoint list. */
  def pollSegments(spark: SparkSession, endpoints: Seq[Endpoint],
      serverId: Long = 12345L, soTimeoutMs: Int = 30000,
      maxBytes: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    spark.createDataset(endpoints)
      .repartition(math.max(1, endpoints.size))
      .map(e => (e.dn, dumpSegment(e.host, e.port, e.user, e.password,
        e.binlogFile, e.pos, serverId, soTimeoutMs, maxBytes)))
      .toDF("dn", "payload")
  }
}
