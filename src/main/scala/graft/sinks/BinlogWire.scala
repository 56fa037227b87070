package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

/** Byte-exact MySQL binlog wire encoding: field codecs, row images and
  * v4 event/file framing — so a downstream that speaks the MySQL
  * replication wire format can consume the engine's output.
  *
  * Reference semantics: polardbx-cdc-format's field codec family —
  * `format/field/Field.java` + 20 per-type subclasses created by
  * `MakeFieldFactory.java` — encodes typed values into binlog row-image
  * bytes, and the dumper frames them into TABLE_MAP / ROWS events
  * (`dumper/.../logfile/LogFileGenerator.java`, `EventGenerator.java`).
  * The byte layouts implemented here are the publicly documented MySQL
  * binary log formats (binlog event header v4, table-map column
  * metadata, row-image null bitmaps, and the per-type cell encodings
  * including the packed NEWDECIMAL and DATETIME2/TIMESTAMP2 formats).
  *
  * Spark placement: encoding is SINK-side work on already-ordered rows
  * (the reference's ParallelWriter encodes in parallel worker threads,
  * commits in order) — so the surface here is pure byte functions used
  * from `mapPartitions` over sorted-run partitions: parallel encode,
  * partition-indexed ordered output, no driver involvement. Cell
  * encoders are self-inverse-tested (a decoder ships alongside) and
  * golden-byte-verified in BinlogWireSpec; full consumability by a live
  * MySQL server is not testable in this container and is NOT claimed.
  */
object BinlogWire {

  // ---- wire column types (MySQL type codes + table-map metadata) ----

  sealed trait Wire { def typeCode: Int; def meta: Array[Byte] = Array.empty }
  case object Tiny extends Wire { val typeCode = 1 }
  case object Short extends Wire { val typeCode = 2 }
  case object Int24 extends Wire { val typeCode = 9 }
  case object Long4 extends Wire { val typeCode = 3 }
  case object LongLong extends Wire { val typeCode = 8 }
  case object Float4 extends Wire {
    val typeCode = 4; override def meta = Array(4.toByte)
  }
  case object Double8 extends Wire {
    val typeCode = 5; override def meta = Array(8.toByte)
  }
  case object Year extends Wire { val typeCode = 13 }
  case object Date3 extends Wire { val typeCode = 10 }
  /** 5.6+ temporal formats; `fsp` = fractional-second precision 0..6
    * (DATETIME(3)/(6) are routine in operational MySQL). The fractional
    * part packs into ceil(fsp/2) extra big-endian bytes holding the
    * fraction scaled to 2*ceil(fsp/2) digits. Negative TIME is out of
    * scope (offset-binary whole-value packing). */
  final case class Time2(fsp: Int = 0) extends Wire {
    require(fsp >= 0 && fsp <= 6)
    val typeCode = 19; override def meta = Array(fsp.toByte)
  }
  final case class DateTime2(fsp: Int = 0) extends Wire {
    require(fsp >= 0 && fsp <= 6)
    val typeCode = 18; override def meta = Array(fsp.toByte)
  }
  final case class Timestamp2(fsp: Int = 0) extends Wire {
    require(fsp >= 0 && fsp <= 6)
    val typeCode = 17; override def meta = Array(fsp.toByte)
  }
  /** `collation` on the string types is the COLUMN's MySQL collation id
    * (charset comes from the table schema, not the table-map metadata —
    * exactly MySQL's layout; the reference resolves it the same way,
    * canal/.../binlog/CharsetConversion.java:29 +
    * format/.../field/StringField.java:35). Values encode/decode in
    * that charset via `Charsets.of`; default utf8mb4. `binary` (63)
    * rides ISO-8859-1 so byte images roundtrip exactly. */
  final case class VarChar(maxLen: Int,
      collation: Int = Charsets.Utf8mb4Default) extends Wire {
    val typeCode = 15
    override def meta = Array((maxLen & 0xFF).toByte, ((maxLen >> 8) & 0xFF).toByte)
  }
  final case class Blob(lenBytes: Int,
      collation: Int = Charsets.Utf8mb4Default) extends Wire {
    require(lenBytes >= 1 && lenBytes <= 4)
    val typeCode = 252
    override def meta = Array(lenBytes.toByte)
  }
  final case class NewDecimal(precision: Int, scale: Int) extends Wire {
    require(precision >= 1 && precision <= 65 && scale >= 0 && scale <= precision)
    val typeCode = 246
    override def meta = Array(precision.toByte, scale.toByte)
  }
  /** BIT(n): value big-endian in ceil(n/8) bytes; meta = (n%8, n/8). */
  final case class Bit(bits: Int) extends Wire {
    require(bits >= 1 && bits <= 64)
    val typeCode = 16
    override def meta = Array((bits % 8).toByte, (bits / 8).toByte)
  }
  /** CHAR(n) rides MYSQL_TYPE_STRING with the byte length folded into the
    * two metadata bytes (high two bits XOR-packed into meta0's 0x30
    * bits — the documented STRING metadata packing all public binlog
    * readers implement). Row image: length-prefixed like VARCHAR. */
  final case class CharW(maxBytes: Int,
      collation: Int = Charsets.Utf8mb4Default) extends Wire {
    require(maxBytes >= 0 && maxBytes <= 1023, "CHAR is at most 255 chars / 1020 bytes")
    val typeCode = 254
    override def meta = Array(
      (0xFE ^ (((maxBytes >> 8) & 0x3) << 4)).toByte, (maxBytes & 0xFF).toByte)
  }
  /** ENUM rides MYSQL_TYPE_STRING; meta0 = real type 247, meta1 = pack
    * length (1 byte under 256 members, else 2). The wire carries the
    * 1-BASED ORDINAL — member names live in the table schema, exactly as
    * in MySQL — so decode yields the ordinal; `values` (when known at the
    * encode site) lets the encoder accept the member string. */
  final case class EnumW(values: Seq[String] = Nil, packLen: Int = 1) extends Wire {
    require(packLen == 1 || packLen == 2)
    require(values.isEmpty || values.size < (1 << (8 * packLen)),
      s"${values.size} enum members overflow a $packLen-byte ordinal")
    val typeCode = 254
    override def meta = Array(247.toByte, packLen.toByte)
  }
  object EnumW {
    def of(values: String*): EnumW =
      EnumW(values.toSeq, if (values.size < 256) 1 else 2)
  }
  /** SET rides MYSQL_TYPE_STRING; meta0 = real type 248, meta1 = pack
    * length 1..8. The wire carries the member BITMASK (bit i = member i
    * present), little-endian. */
  final case class SetW(values: Seq[String] = Nil, packLen: Int = 1) extends Wire {
    require(packLen >= 1 && packLen <= 8)
    require(values.isEmpty || values.size <= 8 * packLen,
      s"${values.size} set members overflow $packLen bitmask bytes")
    val typeCode = 254
    override def meta = Array(248.toByte, packLen.toByte)
  }
  object SetW {
    def of(values: String*): SetW = SetW(values.toSeq, (values.size + 7) / 8)
  }
  /** GEOMETRY: opaque WKB payload behind a 4-byte length (the engine
    * never interprets the bytes — the reference's GeometryField is the
    * same pass-through). String image = lowercase hex. */
  case object Geometry extends Wire {
    val typeCode = 255; override def meta = Array(4.toByte)
  }
  /** JSON: MySQL binary-JSON document behind a 4-byte length (JsonB
    * implements the jsonb encoding). */
  case object Json extends Wire {
    val typeCode = 245; override def meta = Array(4.toByte)
  }
  /** Pre-5.6 temporal formats (the reference keeps their codecs for old
    * masters — DatetimeField/TimeField/TimestampField/NewDateField):
    * DATETIME as packed decimal YYYYMMDDHHMMSS in a LE uint64, TIME as
    * decimal HHMMSS in a LE int24, TIMESTAMP as a LE uint32 epoch,
    * NEWDATE sharing DATE's bitfield layout (handled by Date3). */
  case object DatetimeLegacy extends Wire { val typeCode = 12 }
  case object TimeLegacy extends Wire { val typeCode = 11 }
  case object TimestampLegacy extends Wire { val typeCode = 7 }

  final case class ColSpec(name: String, wire: Wire)

  // ---- primitive writers ----

  private def le(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * i)) & 0xFF).toByte)

  private def be(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte)

  private val Pow10 = Array(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)

  private def fracByteCount(fsp: Int): Int = (fsp + 1) / 2

  /** Fractional seconds: micros scaled to 2*ceil(fsp/2) digits, BE. */
  private def encodeFrac(micros: Long, fsp: Int): Array[Byte] =
    if (fsp == 0) Array.empty
    else {
      val digits = 2 * fracByteCount(fsp)
      be(micros / Pow10(6 - digits), fracByteCount(fsp))
    }

  /** MySQL packed "length-encoded integer". */
  def lenEnc(v: Long): Array[Byte] =
    if (v < 251) Array(v.toByte)
    else if (v <= 0xFFFFL) 0xFC.toByte +: le(v, 2)
    else if (v <= 0xFFFFFFL) 0xFD.toByte +: le(v, 3)
    else 0xFE.toByte +: le(v, 8)

  // ---- cell codecs (row-image encoding per wire type) ----

  /** Encode one non-null cell. Accepted runtime types follow the Spark
    * row values the sink sees: numbers as Long/Int/Short/Byte, Float,
    * Double, String, Array[Byte], java.sql.Date/Timestamp,
    * java.math.BigDecimal / scala BigDecimal. */
  def encodeCell(wire: Wire, value: Any): Array[Byte] = wire match {
    case Tiny => le(num(value), 1)
    case Short => le(num(value), 2)
    case Int24 => le(num(value), 3)
    case Long4 => le(num(value), 4)
    case LongLong => le(num(value), 8)
    case Float4 =>
      le(java.lang.Float.floatToIntBits(value match {
        case f: Float => f
        case d: Double => d.toFloat
        case n: Number => n.floatValue()
      }).toLong & 0xFFFFFFFFL, 4)
    case Double8 =>
      le(java.lang.Double.doubleToLongBits(value match {
        case d: Double => d
        case n: Number => n.doubleValue()
      }), 8)
    case Year => le(num(value) - 1900, 1)
    case Date3 =>
      val d = value match {
        case d: java.sql.Date => d.toLocalDate
        case d: java.time.LocalDate => d
        case t: java.time.LocalDateTime => t.toLocalDate
      }
      le((d.getYear.toLong << 9) | (d.getMonthValue.toLong << 5) | d.getDayOfMonth, 3)
    case Time2(fsp) =>
      val t = value match {
        case t: java.sql.Time => t.toLocalTime
        case t: java.time.LocalTime => t
      }
      be(0x800000L + ((t.getHour.toLong << 12) | (t.getMinute << 6) | t.getSecond), 3) ++
        encodeFrac(t.getNano / 1000L, fsp)
    case DateTime2(fsp) =>
      val dt = value match {
        case t: java.sql.Timestamp => t.toLocalDateTime
        case t: java.time.LocalDateTime => t
        case i: java.time.Instant =>
          java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
      }
      val ym = dt.getYear.toLong * 13 + dt.getMonthValue
      be(0x8000000000L + ((ym << 22) | (dt.getDayOfMonth.toLong << 17) |
        (dt.getHour.toLong << 12) | (dt.getMinute.toLong << 6) | dt.getSecond), 5) ++
        encodeFrac(dt.getNano / 1000L, fsp)
    case Timestamp2(fsp) =>
      val (epoch, micros) = value match {
        case t: java.sql.Timestamp => (t.getTime / 1000, t.getNanos / 1000L)
        case i: java.time.Instant => (i.getEpochSecond, i.getNano / 1000L)
        case n: Number => (n.longValue(), 0L)
      }
      be(epoch, 4) ++ encodeFrac(micros, fsp)
    case VarChar(maxLen, coll) =>
      val bytes = strBytes(value, coll)
      val prefixMax = if (maxLen < 256) 255 else 65535
      require(bytes.length <= prefixMax,
        s"varchar value of ${bytes.length} bytes overflows the " +
          s"$prefixMax-byte length prefix — a wrapped length would " +
          "misframe every event after it")
      (if (maxLen < 256) le(bytes.length.toLong, 1)
       else le(bytes.length.toLong, 2)) ++ bytes
    case Blob(lenBytes, coll) =>
      val bytes = strBytes(value, coll)
      require(lenBytes >= 8 / 2 || bytes.length < (1L << (8 * lenBytes)),
        s"blob value of ${bytes.length} bytes overflows a $lenBytes-byte length")
      le(bytes.length.toLong, lenBytes) ++ bytes
    case NewDecimal(p, s) => encodeDecimal(dec(value), p, s)
    case Bit(bits) =>
      val v = num(value)
      // bits >= 63: (1L << bits) wraps negative, but every non-negative
      // long fits in 63 bits anyway (64 additionally admits negatives
      // as the full unsigned image)
      require(bits == 64 || (v >= 0 && (bits >= 63 || v < (1L << bits))),
        s"bit value $v overflows BIT($bits)")
      be(v, (bits + 7) / 8)
    case CharW(maxBytes, coll) =>
      val bytes = strBytes(value, coll)
      require(bytes.length <= maxBytes,
        s"char value of ${bytes.length} bytes overflows CHAR($maxBytes)")
      (if (maxBytes < 256) le(bytes.length.toLong, 1)
       else le(bytes.length.toLong, 2)) ++ bytes
    case EnumW(values, packLen) =>
      val ord = value match {
        case s: String if values.nonEmpty =>
          val i = values.indexOf(s)
          require(i >= 0, s"'$s' is not an enum member of $values")
          i + 1L
        case n => num(n)
      }
      require(ord >= 1 && ord < (1L << (8 * packLen)),
        s"enum ordinal $ord outside a $packLen-byte wire slot")
      le(ord, packLen)
    case SetW(values, packLen) =>
      val mask = value match {
        case s: String if values.nonEmpty => // comma-joined member list
          s.split(',').filter(_.nonEmpty).foldLeft(0L) { (m, v) =>
            val i = values.indexOf(v)
            require(i >= 0, s"'$v' is not a set member of $values")
            m | (1L << i)
          }
        case n => num(n)
      }
      require(packLen == 8 || (mask >= 0 && mask < (1L << (8 * packLen))),
        s"set bitmask $mask outside $packLen wire bytes")
      le(mask, packLen)
    case Geometry =>
      val bytes = value match {
        case b: Array[Byte] => b
        case s: String => hexToBytes(s)
      }
      le(bytes.length.toLong, 4) ++ bytes
    case Json =>
      val doc = value match {
        // repair-or-quarantine: a sloppy upstream JSON cell must never
        // wedge the wire writer (JsonRepairUtil.java:37 posture)
        case s: String => JsonB.encodeTolerant(s)._1
        case b: Array[Byte] => b // pre-encoded jsonb
      }
      le(doc.length.toLong, 4) ++ doc
    case DatetimeLegacy =>
      val dt = value match {
        case t: java.sql.Timestamp => t.toLocalDateTime
        case t: java.time.LocalDateTime => t
      }
      le(dt.getYear.toLong * 10000000000L + dt.getMonthValue * 100000000L +
        dt.getDayOfMonth * 1000000L + dt.getHour * 10000L +
        dt.getMinute * 100L + dt.getSecond, 8)
    case TimeLegacy =>
      val t = value match {
        case t: java.sql.Time => t.toLocalTime
        case t: java.time.LocalTime => t
      }
      le(t.getHour * 10000L + t.getMinute * 100L + t.getSecond, 3)
    case TimestampLegacy =>
      le(value match {
        case t: java.sql.Timestamp => t.getTime / 1000
        case i: java.time.Instant => i.getEpochSecond
        case n: Number => n.longValue()
      }, 4)
  }

  private def hexToBytes(s: String): Array[Byte] = {
    require(s.length % 2 == 0, "odd-length hex string")
    Array.tabulate(s.length / 2)(i =>
      Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte)
  }

  private def bytesToHex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xFF}%02x").mkString

  private def num(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: scala.Short => s.toLong
    case b: Byte => b.toLong
    case n: Number => n.longValue()
  }

  private def strBytes(v: Any, collation: Int): Array[Byte] = v match {
    case s: String =>
      val cs = Charsets.of(collation)
      val bytes = s.getBytes(cs)
      // a charset that cannot represent the value substitutes '?' bytes —
      // that is silent data corruption on the wire; verify by decoding back
      require(new String(bytes, cs) == s,
        s"value not representable in MySQL collation $collation ($cs)")
      bytes
    case b: Array[Byte] => b
  }

  private def dec(v: Any): BigDecimal = v match {
    case d: BigDecimal => d
    case d: java.math.BigDecimal => BigDecimal(d)
    case s: String => BigDecimal(s)
    case n: Number => BigDecimal(n.toString)
  }

  // ---- NEWDECIMAL: MySQL packed decimal (strings/decimal.c layout) ----

  /** Bytes needed for `d` leading/trailing digits of one group. */
  private def digitsToBytes(d: Int): Int = d match {
    case 0 => 0
    case 1 | 2 => 1
    case 3 | 4 => 2
    case 5 | 6 => 3
    case _ => 4 // 7..9
  }

  /** MySQL NEWDECIMAL: digits packed base-10^9 into 4-byte big-endian
    * groups, partial leading/trailing groups in the minimum byte count,
    * sign folded in by flipping the first byte's MSB (positive) or
    * complementing every byte (negative). Example from the public MySQL
    * internals docs: DECIMAL(14,4) 1234567890.1234 → 81 0D FB 38 D2 04 D2
    * (golden-verified in BinlogWireSpec). */
  def encodeDecimal(value: BigDecimal, precision: Int, scale: Int): Array[Byte] = {
    val neg = value.signum < 0
    val abs = value.abs.setScale(scale, BigDecimal.RoundingMode.HALF_UP)
    val intDigits = precision - scale
    val unscaled = abs.underlying.unscaledValue // abs * 10^scale as BigInt
    val digits = unscaled.toString.reverse.padTo(precision, '0').reverse // exactly precision digits
    require(digits.length == precision,
      s"decimal $value overflows DECIMAL($precision,$scale)")
    val (intPart, fracPart) = digits.splitAt(intDigits)

    val out = Array.newBuilder[Byte]
    // integer side: leading partial group first, then full 9-digit groups
    val intLead = intDigits % 9
    if (intLead > 0)
      out ++= be(intPart.take(intLead).foldLeft(0L)(_ * 10 + _ - '0'), digitsToBytes(intLead))
    intPart.drop(intLead).grouped(9).foreach { g =>
      out ++= be(g.foldLeft(0L)(_ * 10 + _ - '0'), 4)
    }
    // fraction side: full groups, then trailing partial group
    val fracFull = (scale / 9) * 9
    fracPart.take(fracFull).grouped(9).foreach { g =>
      out ++= be(g.foldLeft(0L)(_ * 10 + _ - '0'), 4)
    }
    val fracTail = scale - fracFull
    if (fracTail > 0)
      out ++= be(fracPart.drop(fracFull).foldLeft(0L)(_ * 10 + _ - '0'), digitsToBytes(fracTail))

    // sign fold (decimal2bin): negative complements every byte; both
    // signs then flip the first byte's MSB — so positive has it set,
    // negative clear
    val bytes = out.result()
    val signed = if (neg) bytes.map(b => (~b).toByte) else bytes
    signed(0) = (signed(0) ^ 0x80).toByte
    signed
  }

  /** Inverse of encodeDecimal (spec roundtrip witness). */
  def decodeDecimal(bytes0: Array[Byte], precision: Int, scale: Int): BigDecimal = {
    val neg = (bytes0(0) & 0x80) == 0
    val bytes = if (neg) bytes0.map(b => (~b).toByte) else bytes0.clone()
    bytes(0) = (bytes(0) ^ 0x80).toByte
    val intDigits = precision - scale
    val intLead = intDigits % 9
    var pos = 0
    val sb = new StringBuilder
    def readGroup(nBytes: Int, nDigits: Int): Unit = {
      var v = 0L
      (0 until nBytes).foreach { i => v = (v << 8) | (bytes(pos + i) & 0xFF) }
      pos += nBytes
      sb ++= v.toString.reverse.padTo(nDigits, '0').reverse
    }
    if (intLead > 0) readGroup(digitsToBytes(intLead), intLead)
    (0 until intDigits / 9).foreach(_ => readGroup(4, 9))
    (0 until scale / 9).foreach(_ => readGroup(4, 9))
    val fracTail = scale % 9
    if (fracTail > 0) readGroup(digitsToBytes(fracTail), fracTail)
    val digits = sb.toString()
    val (i, f) = digits.splitAt(intDigits)
    val s = (if (neg) "-" else "") + (if (i.isEmpty) "0" else i) +
      (if (f.nonEmpty) "." + f else "")
    BigDecimal(s)
  }

  // ---- row images ----

  /** Null bitmap over `n` columns: bit i of byte i/8 is (1 << (i%8)). */
  def nullBitmap(nulls: Seq[Boolean]): Array[Byte] = {
    val bm = new Array[Byte]((nulls.length + 7) / 8)
    nulls.zipWithIndex.foreach { case (isNull, i) =>
      if (isNull) bm(i / 8) = (bm(i / 8) | (1 << (i % 8))).toByte
    }
    bm
  }

  /** One row image: null bitmap + concatenated non-null cells. */
  def rowImage(specs: Seq[ColSpec], values: Seq[Option[Any]]): Array[Byte] = {
    require(specs.length == values.length, "row arity != column specs")
    nullBitmap(values.map(_.isEmpty)) ++
      specs.zip(values).flatMap {
        case (spec, Some(v)) => encodeCell(spec.wire, v)
        case (_, None) => Array.empty[Byte]
      }
  }

  // ---- event framing (binlog v4) ----

  val HeaderLength = 19
  val QueryEvent = 2
  val RotateEvent = 4
  val FormatDescriptionEvent = 15
  val XidEvent = 16
  val TableMapEvent = 19
  // the dump-dialogue liveness signal a server sends when the
  // consumer is caught up (MySQL HEARTBEAT_LOG_EVENT; reference
  // analog: the TsoHeartbeat that guarantees progress even when idle,
  // TsoHeartbeat.java:53-67); body = the current file name, next_pos
  // = its end — never written to files, wire-only
  val HeartbeatEvent = 27
  val RowsQueryEvent = 29
  val WriteRowsEventV2 = 30
  val UpdateRowsEventV2 = 31
  val DeleteRowsEventV2 = 32
  val GtidEvent = 33
  val PreviousGtidsEvent = 35
  // PolarDB-X additions to the MySQL event-type space: the XA-TSO
  // carriers a real PolarDB-X DN stream interleaves with standard
  // events (reference type registry LogEvent.java:181,184; bodies
  // SequenceLogEvent.java:28-58, GcnLogEvent.java:29-53 — 1-byte
  // type/flag + 8-byte LE value; dispatch LogDecoder.java:131-140).
  // Public protocol constants, same standing as the MySQL codes above.
  val SequenceEvent = 80
  val GcnEvent = 105
  // SEQUENCE type discriminants (SequenceLogEvent.ENUM_SEQUENCE_TYPE
  // ordinals: INVALID, SNAPSHOT, COMMIT, HEART_BEAT)
  val SnapshotSequence = 1
  val CommitSequence = 2
  val HeartbeatSequence = 3
  // MariaDB flavor (reference event registry: canal/binlog/event/
  // mariadb/AnnotateRowsEvent.java, MariaGtidLogEvent.java,
  // MariaGtidListLogEvent.java; public MariaDB protocol codes).
  // ANNOTATE_ROWS carries provenance text (harmless); the GTID
  // carriers position a MariaDB replica — see decodeStream for why
  // they refuse rather than skip.
  val MariaAnnotateRowsEvent = 160
  val MariaBinlogCheckpointEvent = 161
  val MariaGtidEvent = 162
  val MariaGtidListEvent = 163

  private def header(timestamp: Long, typeCode: Int, serverId: Long,
      eventLen: Int, nextPos: Long, flags: Int = 0): Array[Byte] =
    le(timestamp, 4) ++ Array(typeCode.toByte) ++ le(serverId, 4) ++
      le(eventLen.toLong, 4) ++ le(nextPos, 4) ++ le(flags.toLong, 2)

  /** An event body before position assignment. */
  final case class Event(timestamp: Long, typeCode: Int, serverId: Long,
      body: Array[Byte]) {
    def length: Int = HeaderLength + body.length
  }

  def tableMap(timestamp: Long, serverId: Long, tableId: Long,
      schemaName: String, tableName: String, specs: Seq[ColSpec]): Event = {
    val sn = schemaName.getBytes(UTF_8)
    val tn = tableName.getBytes(UTF_8)
    val metaBlock = specs.flatMap(_.wire.meta).toArray
    val body =
      le(tableId, 6) ++ le(1L, 2) ++ // flags: TM_BIT_HAS_... none → 1? keep 1 (end-of-stmt)
        Array(sn.length.toByte) ++ sn ++ Array(0.toByte) ++
        Array(tn.length.toByte) ++ tn ++ Array(0.toByte) ++
        lenEnc(specs.length.toLong) ++
        specs.map(_.wire.typeCode.toByte).toArray ++
        lenEnc(metaBlock.length.toLong) ++ metaBlock ++
        nullBitmap(specs.map(_ => true)) // all columns nullable at the wire
    Event(timestamp, TableMapEvent, serverId, body)
  }

  /** WRITE/DELETE rows event: one image per row. UPDATE: (before, after)
    * pairs flattened — pass rows as consecutive images with
    * `imagesPerRow = 2`. */
  def rowsEvent(timestamp: Long, serverId: Long, typeCode: Int,
      tableId: Long, specs: Seq[ColSpec],
      images: Seq[Array[Byte]]): Event = {
    val present = {
      val bm = new Array[Byte]((specs.length + 7) / 8)
      specs.indices.foreach(i => bm(i / 8) = (bm(i / 8) | (1 << (i % 8))).toByte)
      bm
    }
    val bitmaps =
      if (typeCode == UpdateRowsEventV2) present ++ present else present
    val body =
      le(tableId, 6) ++ le(1L, 2) ++
        le(2L, 2) ++ // v2 extra-data length (2 = none)
        lenEnc(specs.length.toLong) ++ bitmaps ++
        images.flatten.toArray
    Event(timestamp, typeCode, serverId, body)
  }

  /** BEGIN as a QUERY event (EventGenerator.makeBegin semantics): empty
    * schema, no status vars, statement text "BEGIN". */
  def beginEvent(timestamp: Long, serverId: Long): Event = {
    val body = le(0L, 4) ++ le(0L, 4) ++ // thread id, exec time
      Array(0.toByte) ++ le(0L, 2) ++ le(0L, 2) ++ // schema len, errcode, status len
      Array(0.toByte) ++ // schema terminator
      "BEGIN".getBytes(UTF_8)
    Event(timestamp, QueryEvent, serverId, body)
  }

  /** COMMIT as an XID event: 8-byte transaction id. */
  def commitEvent(timestamp: Long, serverId: Long, xid: Long): Event =
    Event(timestamp, XidEvent, serverId, le(xid, 8))

  /** A DDL statement as a QUERY event with its default schema (the
    * dumper's writeDdl framing — DDL travels as statement text). */
  def ddlEvent(timestamp: Long, serverId: Long, schemaName: String,
      statement: String): Event = {
    val sb = schemaName.getBytes(UTF_8)
    val body = le(0L, 4) ++ le(0L, 4) ++ // thread id, exec time
      Array(sb.length.toByte) ++ le(0L, 2) ++ le(0L, 2) ++
      sb ++ Array(0.toByte) ++
      statement.getBytes(UTF_8)
    Event(timestamp, QueryEvent, serverId, body)
  }

  /** Positional mark as a ROWS_QUERY event (EventGenerator.makeMarkEvent
    * semantics — the reference stamps its TSO, e.g. "CTS::<tso>", here). */
  def markEvent(timestamp: Long, serverId: Long, content: String): Event = {
    val bytes = content.getBytes(UTF_8)
    // the leading byte is the query LENGTH capped at 255 (length-honoring
    // parsers read exactly that many bytes; full text still spans to the
    // event end for readers that use the event size)
    Event(timestamp, RowsQueryEvent, serverId,
      Array(math.min(bytes.length, 255).toByte) ++ bytes)
  }

  /** ROTATE: position + next file name (file chain across partitions). */
  def rotateEvent(timestamp: Long, serverId: Long, nextFile: String,
      pos: Long = 4L): Event =
    Event(timestamp, RotateEvent, serverId,
      le(pos, 8) ++ nextFile.getBytes(UTF_8))

  /** PolarDB-X SEQUENCE event: the XA-TSO carrier for 5.7-family DNs —
    * 1-byte sequence type + 8-byte LE sequence number
    * (SequenceLogEvent.java:28-58). COMMIT carries a txn's commit tso;
    * SNAPSHOT a read snapshot; HEART_BEAT keeps idle sources advancing
    * the global clock. */
  def sequenceEvent(timestamp: Long, serverId: Long, seqType: Int,
      seq: Long): Event =
    Event(timestamp, SequenceEvent, serverId,
      Array(seqType.toByte) ++ le(seq, 8))

  /** PolarDB-X GCN event: the 8.0-family DN commit-number carrier —
    * 1-byte flag + 8-byte LE gcn (GcnLogEvent.java:29-53). */
  def gcnEvent(timestamp: Long, serverId: Long, gcn: Long,
      flag: Int = 0): Event =
    Event(timestamp, GcnEvent, serverId, Array(flag.toByte) ++ le(gcn, 8))

  private def uuidBytes(sid: java.util.UUID): Array[Byte] =
    be(sid.getMostSignificantBits, 8) ++ be(sid.getLeastSignificantBits, 8)

  /** GTID preceding a transaction (5.6 layout: commit flag + SID + GNO —
    * later servers append logical timestamps; readers use the event
    * length). The engine assigns GNO := the transaction's TSO, so the
    * GTID sequence inherits the log's total order and a position maps
    * 1:1 to a GTID set. */
  def gtidEvent(timestamp: Long, serverId: Long, sid: java.util.UUID,
      gno: Long): Event =
    Event(timestamp, GtidEvent, serverId,
      Array(1.toByte) ++ uuidBytes(sid) ++ le(gno, 8))

  /** The (sid, gno) a GTID event body names — the single decoder the
    * catalog seek, the server's skip filter, and the client's cursor
    * walk all share (one place to extend for later layout variants).
    * Layout per [[gtidEvent]]: commit flag, SID as big-endian UUID
    * halves, GNO little-endian. */
  def parseGtidBody(body: Array[Byte]): Option[(java.util.UUID, Long)] =
    if (body.length < 25) None
    else Some((
      new java.util.UUID(
        (0 until 8).foldLeft(0L)((a, k) => (a << 8) | (body(1 + k) & 0xFFL)),
        (0 until 8).foldLeft(0L)((a, k) => (a << 8) | (body(9 + k) & 0xFFL))),
      (0 until 8).map(k => (body(17 + k) & 0xFFL) << (8 * k)).sum))

  /** PREVIOUS_GTIDS at file start: the GTID sets fully contained in
    * earlier files — per set, SID + [start, end) intervals. */
  def previousGtidsEvent(timestamp: Long, serverId: Long,
      sets: Seq[(java.util.UUID, Seq[(Long, Long)])]): Event = {
    val out = Array.newBuilder[Byte]
    out ++= le(sets.length.toLong, 8)
    sets.foreach { case (sid, intervals) =>
      out ++= uuidBytes(sid) ++ le(intervals.length.toLong, 8)
      intervals.foreach { case (start, end) =>
        out ++= le(start, 8) ++ le(end, 8)
      }
    }
    Event(timestamp, PreviousGtidsEvent, serverId, out.result())
  }

  /** ONE transaction (a single INSERT row) as a complete wire segment,
    * encoded ON THE DRIVER — byte-identical to
    * [[writeChangeStreamBinlogFiles]] over the same one-row,
    * one-partition frame (FDE → PREVIOUS_GTIDS(prior) → GTID(gno=tso)
    * → CTS mark → BEGIN → TABLE_MAP → WRITE_ROWS → COMMIT; the
    * partition-end commit stamps timestamp 0, as the Spark writer
    * does). The heartbeat producer's fast path: a beat is metadata-
    * sized, so launching a Spark job per DN per period to frame 8
    * events is pure scheduler overhead — N DNs beat with ZERO jobs. */
  def singleTxnSegmentBytes(schemaName: String, tableName: String,
      cols: Seq[String], after: Map[String, String], tso: Long,
      gtidSid: java.util.UUID, prior: graft.model.GtidSet,
      checksummed: Boolean = false, tsEpochSec: Long = 1700000000L,
      serverId: Long = 1L): Array[Byte] = {
    val specs = cols.map(c => ColSpec(c, VarChar(65535)))
    val baos = new java.io.ByteArrayOutputStream()
    val w = new FileWriter(baos, checksummed = checksummed)
    w.write(formatDescription(tsEpochSec, serverId,
      checksummed = checksummed))
    w.write(previousGtidsEvent(tsEpochSec, serverId,
      prevEventSets(prior.text)))
    w.write(gtidEvent(tsEpochSec, serverId, gtidSid, gno = tso))
    w.write(markEvent(tsEpochSec, serverId, s"CTS::$tso"))
    w.write(beginEvent(tsEpochSec, serverId))
    w.write(tableMap(tsEpochSec, serverId, 1L, schemaName, tableName,
      specs))
    w.write(rowsEvent(tsEpochSec, serverId, WriteRowsEventV2, 1L, specs,
      Seq(rowImage(specs, cols.map(after.get)))))
    w.write(commitEvent(0L, serverId, tso))
    baos.toByteArray
  }

  /** Driver-side prefix fold for the writers: per-partition gno sets
    * (text) → pid → the CUMULATIVE executed set strictly before that
    * partition's file (prior ∪ earlier partitions). Bounded metadata:
    * partition-count entries of interval-compact texts.
    *
    * When the whole batch is per-SID MONOTONE across partitions (each
    * partition's min gno above everything before it — the writers'
    * range partitioning on commit tso with gno := tso guarantees it;
    * verified, not assumed), each prefix COMPACTS to one [min, max]
    * claim per SID. Sound at the LOG level: file-name order is tso
    * order and appends are monotone, so a gno inside a prefix range
    * that is absent from the log can never be written later — and the
    * file header stays O(SIDs) instead of O(transactions-so-far),
    * which in a sparse gno space (fan-out streams) otherwise grows
    * into multi-MB PREVIOUS_GTIDS events. A non-monotone batch falls
    * back to the exact union. */
  private def prefixGnoSets(perPart: Seq[(Int, String)],
      prior: graft.model.GtidSet): Map[Int, String] = {
    val parts = perPart.sortBy(_._1)
      .map { case (pid, txt) => (pid, graft.model.GtidSet.parse(txt)) }
    val monotone = parts.map(_._2).foldLeft((prior, true)) {
      case ((acc, ok), next) =>
        val stillOk = ok && next.sets.forall { case (sid, ivs) =>
          acc.sets.get(sid).forall(aivs => ivs.head._1 >= aivs.last._2)
        }
        (acc.union(next), stillOk)
    }._2
    def compact(s: graft.model.GtidSet): graft.model.GtidSet =
      if (!monotone) s
      else graft.model.GtidSet(s.sets.map { case (sid, ivs) =>
        sid -> Vector((ivs.head._1, ivs.last._2))
      })
    var acc = prior
    parts.map { case (pid, next) =>
      val mine = compact(acc).text
      acc = acc.union(next)
      pid -> mine
    }.toMap
  }

  /** The PREVIOUS_GTIDS gather pass re-executes the input plan and
    * assumes partition contents are deterministic. Verify the
    * assumption: compare the gathered per-partition gno sets against
    * what each writer task ACTUALLY framed and fail loudly on any
    * mismatch — a violated determinism assumption must surface as an
    * error at write time, never as pruned (silently skipped)
    * transactions at dump time (`gtidServeStart` trusts the emitted
    * previous-sets). Partitions the writer skipped (empty, no rotate
    * chain) compare as the empty set. */
  private def checkGatheredGnos(gathered: Seq[(Int, String)],
      actual: java.util.List[(Int, String)]): Unit = {
    import scala.jdk.CollectionConverters._
    val act = actual.asScala.groupBy(_._1)
      .map { case (p, xs) => p -> xs.head._2 }
    val gath = gathered.toMap
    (gath.keySet ++ act.keySet).toSeq.sorted.foreach { pid =>
      val g = graft.model.GtidSet.parse(gath.getOrElse(pid, ""))
      val a = graft.model.GtidSet.parse(act.getOrElse(pid, ""))
      if (g != a)
        throw new IllegalStateException(
          s"wire GTID gather: partition $pid gathered gnos '${g.text}' " +
          s"but the writer framed '${a.text}' — the input plan " +
          "re-executed nondeterministically, so the emitted " +
          "PREVIOUS_GTIDS would disagree with the files' actual " +
          "transactions and a GTID dump could prune files still holding " +
          "unserved data; materialize the input (Staged.parquetStage) " +
          "before the wire write")
    }
  }

  /** A previous-set text in [[previousGtidsEvent]]'s argument shape
    * (SIDs in the same sorted order GtidSet.encode uses). */
  private def prevEventSets(txt: String)
      : Seq[(java.util.UUID, Seq[(Long, Long)])] =
    graft.model.GtidSet.parse(txt).sets.toSeq.sortBy(_._1.toString)
      .map { case (s, ivs) => (s, ivs: Seq[(Long, Long)]) }

  /** PEEK one file's PREVIOUS_GTIDS — the prune index a GTID dump
    * reads before deciding whether the file's PREDECESSORS need
    * walking at all (real MySQL prunes whole files this way before
    * its event filter runs; reference models the populated event in
    * canal/binlog/event/PreviousGtidsLogEvent.java and relies on
    * server-side file pruning when dumping by GTID set,
    * canal/core/dump/MysqlConnection.java). Cost: the file's first
    * couple of events, never its body — the event sits directly after
    * the FDE in every file the writers produce (and in MySQL's own).
    * None for a file without one (legacy/GTID-less logs). */
  def readPreviousGtids(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Option[graft.model.GtidSet] = {
    val in = fs.open(path)
    try {
      val frames = parseStream(in)
      var res = Option.empty[graft.model.GtidSet]
      var done = false
      var seen = 0
      while (!done && seen < 4 && frames.hasNext) {
        val f = frames.next()
        seen += 1
        if (f.typeCode == PreviousGtidsEvent) {
          // GtidSet.decode reads exactly what its counts dictate — a
          // trailing CRC32 on checksummed files is ignored
          res = Some(graft.model.GtidSet.decode(f.body))
          done = true
        } else if (f.typeCode != FormatDescriptionEvent &&
          f.typeCode != RotateEvent) done = true // past the head
      }
      res
    } finally in.close()
  }

  /** The index of the first wire file a GTID auto-position dump must
    * actually WALK: every file before it is proven fully-executed by
    * some successor's PREVIOUS_GTIDS being a non-empty subset of the
    * consumer's executed set. Backward scan from the newest file, so a
    * caught-up consumer pays ONE head peek regardless of log length —
    * the steady-state poll is O(new data), not O(history).
    *
    * An EMPTY previous-set never prunes: it is indistinguishable from
    * a legacy file written before the sets were populated, and
    * treating it as "nothing before me" would skip unexecuted data in
    * such logs (the first file's genuinely-empty set prunes nothing
    * anyway — there are no predecessors to skip). Correctness rests on
    * the writers' contract: a file's previous-set covers EVERY txn in
    * its predecessors (cumulative across rotations, `priorExecuted`
    * included), and GTID'd logs are uniformly GTID'd (the writers
    * stamp every txn or none). */
  def gtidServeStart(fs: org.apache.hadoop.fs.FileSystem,
      files: Seq[org.apache.hadoop.fs.Path],
      executed: graft.model.GtidSet): Int =
    gtidServeStart(files, executed, readPreviousGtids(fs, _))

  /** [[gtidServeStart]] with an injectable head peek (each peek is one
    * driver-side file open — tests count them).
    *
    * Cost: O(log N) peeks for ANY cursor, not just a caught-up one.
    * The cumulative-writer contract makes previous-sets MONOTONE along
    * the file sequence (each file's set covers its predecessor's), so
    * `prev(i) ⊆ executed` is true on a prefix and false on a suffix —
    * the prune boundary binary-searches. A caught-up consumer still
    * pays exactly ONE peek (the newest file probes first — the
    * steady-state poll stays O(new data)). The returned index is
    * VERIFIED against the prune rule before returning, so on a log
    * that violates the contract (mixed legacy files, non-monotone
    * sets) the search can only under-prune — never skip unserved
    * data. */
  def gtidServeStart(files: Seq[org.apache.hadoop.fs.Path],
      executed: graft.model.GtidSet,
      peek: org.apache.hadoop.fs.Path => Option[graft.model.GtidSet])
      : Int = {
    val n = files.size
    if (n <= 1) return 0
    val cache = scala.collection.mutable.Map
      .empty[Int, Option[graft.model.GtidSet]]
    def prev(i: Int) = cache.getOrElseUpdate(i, peek(files(i)))
    // the full prune rule: a non-empty previous-set inside the
    // consumer's executed set proves every predecessor fully served
    def ok(i: Int) = prev(i).exists(p => !p.isEmpty && p.isSubsetOf(executed))
    // the monotone search predicate: empty sets count as ⊆ (they sit
    // at the physical prefix under the contract), absent sets do not
    def below(i: Int) = prev(i).exists(_.isSubsetOf(executed))
    if (ok(n - 1)) return n - 1 // caught-up fast path: ONE peek
    var best = 0
    var l = 1
    var h = n - 2
    while (l <= h) {
      val m = (l + h) >>> 1
      if (below(m)) { best = m; l = m + 1 } else h = m - 1
    }
    if (best >= 1 && ok(best)) best else 0
  }

  def formatDescription(timestamp: Long, serverId: Long,
      serverVersion: String = "8.0.32-graft",
      checksummed: Boolean = false): Event = {
    // post-header length table for v4 event types 1..38 (the standard
    // 8.0 values for the types we emit; 0 for the rest is tolerated by
    // readers because the table is length-prefixed by the event size)
    val postHeader = new Array[Byte](39)
    postHeader(QueryEvent - 1) = 13.toByte
    postHeader(RotateEvent - 1) = 8.toByte
    postHeader(FormatDescriptionEvent - 1) = 84.toByte
    postHeader(TableMapEvent - 1) = 8.toByte
    postHeader(WriteRowsEventV2 - 1) = 10.toByte
    postHeader(UpdateRowsEventV2 - 1) = 10.toByte
    postHeader(DeleteRowsEventV2 - 1) = 10.toByte
    val ver = serverVersion.getBytes(UTF_8).take(50).padTo(50, 0.toByte)
    val body = le(4L, 2) ++ ver ++ le(timestamp, 4) ++
      Array(HeaderLength.toByte) ++ postHeader ++
      Array((if (checksummed) 1 else 0).toByte) // checksum_alg OFF/CRC32
    Event(timestamp, FormatDescriptionEvent, serverId, body)
  }

  val Magic: Array[Byte] = Array(0xFE, 0x62, 0x69, 0x6E).map(_.toByte)

  /** Assemble a binlog file: magic + events with chained next_position.
    * `startPos` supports continuation files (rotate semantics). With
    * `checksummed`, every event carries the MySQL CRC32 trailer (alg 1 —
    * what 5.6+ servers emit by default; the FDE must have been built with
    * checksummed = true so readers see the alg byte). */
  def assembleFile(events: Seq[Event], startPos: Long = 4L,
      checksummed: Boolean = false): Array[Byte] = {
    var pos = startPos
    val out = Array.newBuilder[Byte]
    out ++= Magic
    events.foreach { e =>
      val extra = if (checksummed) 4 else 0
      pos += e.length + extra
      val hdr = header(e.timestamp, e.typeCode, e.serverId,
        e.length + extra, pos)
      out ++= hdr
      out ++= e.body
      if (checksummed) {
        val crc = new java.util.zip.CRC32()
        crc.update(hdr); crc.update(e.body)
        out ++= le(crc.getValue, 4)
      }
    }
    out.result()
  }

  /** Incremental event writer: streams events to `out` with the chained
    * next_position, so a partition of any size encodes without buffering
    * the whole file (the LogFileGenerator write loop). */
  final class FileWriter(out: java.io.OutputStream, startPos: Long = 4L,
      checksummed: Boolean = false) {
    private var pos = startPos
    out.write(Magic)
    def write(e: Event): Unit = {
      val extra = if (checksummed) 4 else 0
      pos += e.length + extra
      val hdr = header(e.timestamp, e.typeCode, e.serverId,
        e.length + extra, pos)
      out.write(hdr)
      out.write(e.body)
      if (checksummed) {
        val crc = new java.util.zip.CRC32()
        crc.update(hdr); crc.update(e.body)
        out.write(le(crc.getValue, 4))
      }
    }
    def position: Long = pos
  }

  /** Encode an ORDERED DataFrame into rotated binlog files — one file per
    * partition, named by partition index so concatenating files in name
    * order preserves the total order (OrderedSink's sorted-run
    * convention; the reference rotates `binlog.000001…` the same way).
    * Parallel encode, no driver involvement: each task streams its
    * partition through a FileWriter onto the Hadoop FS (ParallelWriter's
    * parallel-encode/ordered-commit, with Spark's committer as the
    * serial part).
    *
    * Ops: INSERT → WRITE_ROWS, DELETE → DELETE_ROWS, UPDATE →
    * WRITE_ROWS full-image replace (the reference MergeApplier's
    * REPLACE-mode wire shape; before-image UPDATE framing needs the
    * before columns, which this one-image surface does not carry).
    * Returns the number of files written. */
  def writeBinlogFiles(df: org.apache.spark.sql.DataFrame,
      specs: Seq[ColSpec], schemaName: String, tableName: String,
      opCol: String, timestampCol: String, outDir: String,
      serverId: Long = 1L, tableId: Long = 1L,
      rowsPerEvent: Int = 1024, checksummed: Boolean = false): Int = {
    val names = specs.map(_.name)
    val confMap = graft.util.HadoopIo.confMap
    val counter = df.sparkSession.sparkContext.longAccumulator("binlogFiles")
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val conf = graft.util.HadoopIo.confFrom(confMap)
        val path = new org.apache.hadoop.fs.Path(outDir, f"binlog.$pid%06d")
        val fs = path.getFileSystem(conf)
        val out = fs.create(path, true)
        try {
          val w = new FileWriter(out, checksummed = checksummed)
          var wroteHeader = false
          it.grouped(rowsPerEvent).foreach { chunk =>
            val ts = chunk.head.getAs[Number](timestampCol).longValue()
            if (!wroteHeader) {
              w.write(formatDescription(ts, serverId, checksummed = checksummed))
              w.write(tableMap(ts, serverId, tableId, schemaName, tableName, specs))
              wroteHeader = true
            }
            // consecutive same-op runs — order must survive the framing
            val runs = scala.collection.mutable.ArrayBuffer
              .empty[(Boolean, scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row])]
            chunk.foreach { r =>
              val d = r.getAs[String](opCol) == "DELETE"
              if (runs.isEmpty || runs.last._1 != d)
                runs += ((d, scala.collection.mutable.ArrayBuffer(r)))
              else runs.last._2 += r
            }
            runs.foreach { case (isDelete, rows) =>
              val images = rows.toSeq.map { r =>
                rowImage(specs, names.map(n => Option(r.getAs[Any](n))))
              }
              w.write(rowsEvent(ts, serverId,
                if (isDelete) DeleteRowsEventV2 else WriteRowsEventV2,
                tableId, specs, images))
            }
          }
        } finally out.close()
        counter.add(1)
      }
    }
    counter.value.toInt
  }

  /** Transaction-framed encode: each transaction's rows land between a
    * TSO mark (ROWS_QUERY "CTS::<tso>"), a BEGIN query event, and an XID
    * commit — the LogFileGenerator envelope (writeDml:636-729 frames DML
    * between makeBegin/makeCommit with the TSO mark). Rows must arrive
    * ordered by (tso, seq) — feed sorted runs. UPDATE rows emit proper
    * before+after image pairs when `beforeCols` names the before-image
    * columns (same order as `specs`); otherwise full-image WRITE_ROWS
    * (replace semantics). Returns files written. */
  def writeTxnFramedBinlogFiles(df: org.apache.spark.sql.DataFrame,
      specs: Seq[ColSpec], schemaName: String, tableName: String,
      opCol: String, timestampCol: String, tsoCol: String, outDir: String,
      serverId: Long = 1L, tableId: Long = 1L,
      beforeCols: Option[Seq[String]] = None,
      checksummed: Boolean = false,
      gtidSid: Option[java.util.UUID] = None,
      rotateChain: Boolean = false,
      tsoCarrier: String = "mark",
      priorExecuted: graft.model.GtidSet = graft.model.GtidSet.Empty): Int = {
    val names = specs.map(_.name)
    require(beforeCols.forall(_.length == names.length),
      "beforeCols arity must match specs")
    // how the commit tso travels on the wire: "mark" = the CDC CTS
    // rows-query mark (the global-binlog shape); "sequence" = a
    // PolarDB-X 5.7-DN SEQUENCE commit event; "gcn" = an 8.0-DN GCN
    // event. All three decode back to the same tso column.
    require(Set("mark", "sequence", "gcn").contains(tsoCarrier),
      s"tsoCarrier must be mark|sequence|gcn, got $tsoCarrier")
    val confMap = graft.util.HadoopIo.confMap
    // REAL per-file PREVIOUS_GTIDS: each file states the cumulative
    // executed set of everything before it — `priorExecuted` (earlier
    // calls appending to the same log: the rotation chain across
    // triggers) plus all earlier partitions of THIS call. One extra
    // narrow pass gathers per-partition gno interval sets (gno := tso;
    // compact texts, partition-count many), the driver prefix-folds
    // them — this is what lets a GTID dump prune fully-executed files
    // by reading one head event instead of walking the whole log
    // (gtidServeStart). The pass re-executes df's plan, relying on the
    // same partition-content determinism the pid-named files already
    // do. `priorExecuted` MUST be the executed set of the log these
    // files append to (pass BinlogCatalog.executedGtidSet or thread
    // the writer's own advancing set) — an unrelated set would prune
    // wrongly downstream.
    //
    // PIN the partitioning across the gather and the write: both
    // re-execute df's plan, and a range-partitioned input RESAMPLES its
    // boundaries per execution once the data is large enough to
    // subsample (RangePartitioner seeds off the rdd id, which differs
    // between executions) — small inputs sample every row and happen to
    // agree, which is why only at-scale runs trip the cross-check.
    // persist() makes both passes read the same computed partitions;
    // checkGatheredGnos stays the loud backstop for a lost-and-
    // recomputed block.
    val pinned = gtidSid.isDefined &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (pinned)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (prevTexts, gatheredGnos): (Map[Int, String], Seq[(Int, String)]) =
      gtidSid match {
        case Some(sid) =>
          val perPart = df.select(df.col(tsoCol).cast("long"))
            .as[Long](org.apache.spark.sql.Encoders.scalaLong)
            .mapPartitions { it =>
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val b = graft.model.GtidSet.builder()
              it.foreach(t => b.add(sid, t))
              Iterator.single((pid, b.result().text))
            }(org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.scalaInt,
              org.apache.spark.sql.Encoders.STRING))
            .collect().toSeq
          (prefixGnoSets(perPart, priorExecuted), perPart)
        case None => (Map.empty, Seq.empty)
      }
    // the writer's ACTUAL framed gnos, cross-checked against the gather
    // after the write (checkGatheredGnos) — bounded: one compact text
    // per partition
    val actualGnos = df.sparkSession.sparkContext
      .collectionAccumulator[(Int, String)]("binlogTxnActualGnos")
    val counter = df.sparkSession.sparkContext.longAccumulator("binlogTxnFiles")
    // ONE-TXN-PER-FILE contract, enforced: TxnApplier's exactly-once
    // gate skips everything at or below the target's committed tso, so a
    // txn split across two wire files that land in different triggers
    // would have its second half silently dropped. Each partition's tso
    // marks must strictly increase (checked in the executor) and the
    // per-file [first,last] mark ranges must be disjoint and monotonic
    // in file order (checked on the driver below) — exactly what
    // MergeSort.sortedRunsGrouped(df, n, Seq(tsoCol), Seq(seq)) yields.
    val markRanges = df.sparkSession.sparkContext
      .collectionAccumulator[(Int, Long, Long)]("binlogTxnMarkRanges")
    // streamed consumers (tailBinlogFiles → FileStreamSource) order
    // files by MODIFICATION TIME, ties unstable — tasks finishing out of
    // order would deliver file 2 before file 1 and the applier's tso
    // gate would then drop file 1's txns as already-applied. Stamp each
    // file's mtime from its partition id so delivery order = file order.
    // Intra-call spread is #files ms; successive calls stay ordered as
    // long as they start further apart than that (micro-batch triggers
    // are seconds; wire fan-outs are tens of files).
    val mtimeBase = System.currentTimeMillis()
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      // in rotate-chain mode an EMPTY partition still writes its
      // header-only file, so the chain is dense and a missing file is
      // always a LOST segment, never a legitimately skipped one
      if (it.hasNext || rotateChain) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val conf = graft.util.HadoopIo.confFrom(confMap)
        val path = new org.apache.hadoop.fs.Path(outDir, f"binlog.$pid%06d")
        val fs = path.getFileSystem(conf)
        val out = fs.create(path, true)
        val wroteGnos = graft.model.GtidSet.builder()
        try {
          val w = new FileWriter(out, checksummed = checksummed)
          var openTso = Option.empty[Long]
          var firstMark = Long.MinValue
          var headerDone = false
          def image(r: org.apache.spark.sql.Row, cols: Seq[String]) =
            rowImage(specs, cols.map(n => Option(r.getAs[Any](n))))
          def rowsFor(r: org.apache.spark.sql.Row, ts: Long): Event =
            r.getAs[String](opCol) match {
              case "DELETE" =>
                rowsEvent(ts, serverId, DeleteRowsEventV2, tableId, specs,
                  Seq(image(r, names)))
              case "UPDATE" if beforeCols.isDefined =>
                rowsEvent(ts, serverId, UpdateRowsEventV2, tableId, specs,
                  Seq(image(r, beforeCols.get), image(r, names)))
              case _ =>
                rowsEvent(ts, serverId, WriteRowsEventV2, tableId, specs,
                  Seq(image(r, names)))
            }
          it.foreach { r =>
            val ts = r.getAs[Number](timestampCol).longValue()
            val tso = r.getAs[Number](tsoCol).longValue()
            if (!headerDone) {
              w.write(formatDescription(ts, serverId, checksummed = checksummed))
              gtidSid.foreach(_ =>
                w.write(previousGtidsEvent(ts, serverId,
                  prevEventSets(prevTexts.getOrElse(pid, "")))))
              w.write(tableMap(ts, serverId, tableId, schemaName,
                tableName, specs))
              headerDone = true
            }
            if (!openTso.contains(tso)) {
              if (openTso.exists(_ >= tso))
                throw new IllegalStateException(
                  s"wire txn framing: partition $pid saw tso $tso after " +
                  s"${openTso.get} — an unordered feed would reopen a " +
                  "committed txn (duplicate CTS mark in one file); feed " +
                  "MergeSort.sortedRunsGrouped(df, n, Seq(tsoCol), Seq(seqCol))")
              openTso.foreach(x => w.write(commitEvent(ts, serverId, x)))
              gtidSid.foreach { sid =>
                w.write(gtidEvent(ts, serverId, sid, gno = tso))
                wroteGnos.add(sid, tso)
              }
              tsoCarrier match {
                case "sequence" =>
                  w.write(sequenceEvent(ts, serverId, CommitSequence, tso))
                case "gcn" => w.write(gcnEvent(ts, serverId, tso))
                case _ => w.write(markEvent(ts, serverId, s"CTS::$tso"))
              }
              w.write(beginEvent(ts, serverId))
              if (firstMark == Long.MinValue) firstMark = tso
              openTso = Some(tso)
            }
            w.write(rowsFor(r, ts))
          }
          openTso.foreach(x => w.write(commitEvent(0L, serverId, x)))
          openTso.foreach(last => markRanges.add((pid, firstMark, last)))
          if (rotateChain) {
            if (!headerDone) {
              // header-only file: still carries its cumulative
              // previous-set, so the prune index stays dense
              w.write(formatDescription(0L, serverId, checksummed = checksummed))
              gtidSid.foreach(_ =>
                w.write(previousGtidsEvent(0L, serverId,
                  prevEventSets(prevTexts.getOrElse(pid, "")))))
            }
            w.write(rotateEvent(0L, serverId, f"binlog.${pid + 1}%06d"))
          }
        } finally out.close()
        fs.setTimes(path, mtimeBase + pid, -1)
        gtidSid.foreach(_ => actualGnos.add((pid, wroteGnos.result().text)))
        counter.add(1)
      }
    }
    gtidSid.foreach(_ => checkGatheredGnos(gatheredGnos, actualGnos.value))
    if (pinned) { df.unpersist(); () }
    // driver-side half of the contract: per-file mark ranges disjoint and
    // monotonic in file (= pid) order. Dedupe by pid — a retried task
    // re-adds an identical entry.
    val ranges = {
      import scala.jdk.CollectionConverters._
      markRanges.value.asScala.groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
    }
    ranges.sliding(2).foreach {
      case Seq((p1, _, hi), (p2, lo, _)) if hi >= lo =>
        throw new IllegalStateException(
          s"wire txn framing: file $p1's tso range ends at $hi but file " +
          s"$p2's starts at $lo — a txn split or interleaved across files " +
          "breaks TxnApplier's exactly-once gate (its second half replays " +
          "at or below the committed tso and is dropped); feed " +
          "MergeSort.sortedRunsGrouped(df, n, Seq(tsoCol), Seq(seqCol))")
      case _ => ()
    }
    counter.value.toInt
  }

  /** Multi-table txn-framed encode from a CDC change stream in the
    * model's STRING-IMAGE shape (`before`/`after` map<string,string> —
    * ChangeEvent): each table's columns become VarChar cells in the
    * declared order, with a TABLE_MAP emitted before every rows event
    * (MySQL re-sends table maps per statement; readers bind rows events
    * to the last map with that table id). Transactions frame as
    * mark/BEGIN/rows/XID in arrival order — feed runs sorted by
    * (commit order, intra-txn seq). INSERT/UPDATE images come from
    * `after`; DELETE from `before` (falling back to `after` when the
    * stream carries no before-images); UPDATE emits before+after pairs
    * when the before image is present. String-image mode is the
    * variable-width subset of the codec family — byte-exact TYPED cells
    * are `writeTxnFramedBinlogFiles` with explicit ColSpecs. */
  def writeChangeStreamBinlogFiles(df: org.apache.spark.sql.DataFrame,
      tableCols: Map[(String, String), Seq[String]], outDir: String,
      opCol: String = "op", timestampCol: String = "tsoTime",
      txnCol: String = "txnId", tsoCol: String = "tso",
      schemaCol: String = "schemaName", tableCol: String = "tableName",
      beforeCol: String = "before", afterCol: String = "after",
      serverId: Long = 1L, filePrefix: String = "binlog.",
      checksummed: Boolean = false,
      gtidSid: Option[java.util.UUID] = None,
      rotateChain: Boolean = false,
      serverIdCol: Option[String] = None,
      priorExecuted: graft.model.GtidSet = graft.model.GtidSet.Empty,
      ddlLogical: Boolean = false): Int = {
    val tableIds: Map[(String, String), Long] =
      tableCols.keys.toSeq.sorted.zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }.toMap
    val specsOf: Map[(String, String), Seq[ColSpec]] =
      tableCols.map { case (k, cols) =>
        k -> cols.map(c => ColSpec(c, VarChar(65535)))
      }
    val confMap = graft.util.HadoopIo.confMap
    val hasDdlCol = df.columns.contains("ddl")
    // cumulative PREVIOUS_GTIDS per file (see writeTxnFramedBinlogFiles
    // for the full contract): gno := the tso at each txn-OPEN row, so
    // the gather pass replicates the txn-open detection below. PIN the
    // partitioning across the gather and the write (see the twin
    // comment in writeTxnFramedBinlogFiles: range-partitioned inputs
    // resample boundaries per execution at scale).
    val pinned = gtidSid.isDefined &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (pinned)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (prevTexts, gatheredGnos): (Map[Int, String], Seq[(Int, String)]) =
      gtidSid match {
        case Some(sid) =>
          val perPart = df
            .select(df.col(txnCol).cast("long"), df.col(tsoCol).cast("long"))
            .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.scalaLong))
            .mapPartitions { it =>
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val b = graft.model.GtidSet.builder()
              var open = Option.empty[Long]
              it.foreach { case (txn, tso) =>
                if (!open.contains(txn)) { b.add(sid, tso); open = Some(txn) }
              }
              Iterator.single((pid, b.result().text))
            }(org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.scalaInt,
              org.apache.spark.sql.Encoders.STRING))
            .collect().toSeq
          (prefixGnoSets(perPart, priorExecuted), perPart)
        case None => (Map.empty, Seq.empty)
      }
    // writer's actual framed gnos for the post-write determinism
    // cross-check (see checkGatheredGnos)
    val actualGnos = df.sparkSession.sparkContext
      .collectionAccumulator[(Int, String)]("binlogCdcActualGnos")
    val counter = df.sparkSession.sparkContext.longAccumulator("binlogCdcFiles")
    // ONE-TXN-PER-FILE contract (see writeTxnFramedBinlogFiles): here
    // txns are keyed by txnId and row tsos legitimately interleave
    // across txns, so the enforceable invariant is at file boundaries —
    // a txnId that closes one file and reopens the next is a split txn
    // (the shape a range boundary inside a txn produces, e.g. sortedRuns
    // on (tso) instead of sortedRunsGrouped on (commitTso, txnId)). Each
    // fragment would decode under its own CTS mark, breaking source-txn
    // atomicity and, across triggers, TxnApplier's exactly-once gate.
    val edgeTxns = df.sparkSession.sparkContext
      .collectionAccumulator[(Int, Long, Long)]("binlogCdcEdgeTxns")
    // monotonic mtimes in file order — see writeTxnFramedBinlogFiles:
    // FileStreamSource delivers by mtime, and out-of-order delivery
    // breaks the downstream applier's exactly-once tso gate
    val mtimeBase = System.currentTimeMillis()
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      // rotate-chain mode: empty partitions write header-only files so
      // the chain stays dense (missing file = lost segment, always)
      if (it.hasNext || rotateChain) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val conf = graft.util.HadoopIo.confFrom(confMap)
        val path = new org.apache.hadoop.fs.Path(outDir, f"$filePrefix$pid%06d")
        val fs = path.getFileSystem(conf)
        val out = fs.create(path, true)
        val wroteGnos = graft.model.GtidSet.builder()
        try {
          val w = new FileWriter(out, checksummed = checksummed)
          var openTxn = Option.empty[Long]
          var firstTxn = Long.MinValue
          var headerDone = false
          // per-row server id (relay byte-fidelity); trailing events use
          // the last row's — a file-scoped writer default before any row
          var sid = serverId
          it.foreach { r =>
            val ts = r.getAs[Any](timestampCol) match {
              case t: java.sql.Timestamp => t.getTime / 1000
              case t: java.time.Instant => t.getEpochSecond
              case t: java.time.LocalDateTime =>
                t.toEpochSecond(java.time.ZoneOffset.UTC)
              case n: Number => n.longValue()
            }
            sid = serverIdCol.map(c => r.getAs[Number](c).longValue())
              .getOrElse(serverId)
            if (!headerDone) {
              w.write(formatDescription(ts, sid, checksummed = checksummed))
              gtidSid.foreach(_ =>
                w.write(previousGtidsEvent(ts, sid,
                  prevEventSets(prevTexts.getOrElse(pid, "")))))
              headerDone = true
            }
            val txn = r.getAs[Number](txnCol).longValue()
            if (!openTxn.contains(txn)) {
              openTxn.foreach(x => w.write(commitEvent(ts, sid, x)))
              gtidSid.foreach { gsid =>
                val gno = r.getAs[Number](tsoCol).longValue()
                w.write(gtidEvent(ts, sid, gsid, gno = gno))
                wroteGnos.add(gsid, gno)
              }
              w.write(markEvent(ts, sid,
                s"CTS::${r.getAs[Number](tsoCol).longValue()}"))
              w.write(beginEvent(ts, sid))
              if (firstTxn == Long.MinValue) firstTxn = txn
              openTxn = Some(txn)
            }
            val op = r.getAs[String](opCol)
            if (op == "DDL") {
              // DDL travels as statement text, not a row image. With
              // `ddlLogical` the PHYSICAL (sharding-dialect) statement
              // converts to vanilla MySQL on its way to the wire
              // (DDLConverter.convertNormalDDL at the extractor layer)
              // — plain executor-side Scala, no UDF in any plan
              val stmt0 = if (!hasDdlCol) ""
                else Option(r.getAs[String]("ddl")).getOrElse("")
              val stmt = if (ddlLogical && stmt0.nonEmpty)
                graft.operators.DdlConvert.toLogicalDdl(stmt0) else stmt0
              w.write(ddlEvent(ts, sid, r.getAs[String](schemaCol), stmt))
            } else {
            val key = (r.getAs[String](schemaCol), r.getAs[String](tableCol))
            val specs = specsOf.getOrElse(key,
              sys.error(s"no column spec for table $key"))
            val cols = tableCols(key)
            val tid = tableIds(key)
            def img(m: Map[String, String]) =
              rowImage(specs, cols.map(m.get))
            val before = Option(r.getAs[Map[String, String]](beforeCol))
              .getOrElse(Map.empty)
            val after = Option(r.getAs[Map[String, String]](afterCol))
              .getOrElse(Map.empty)
            w.write(tableMap(ts, sid, tid, key._1, key._2, specs))
            w.write(op match {
              case "DELETE" =>
                rowsEvent(ts, sid, DeleteRowsEventV2, tid, specs,
                  Seq(img(if (before.nonEmpty) before else after)))
              case "UPDATE" if before.nonEmpty =>
                rowsEvent(ts, sid, UpdateRowsEventV2, tid, specs,
                  Seq(img(before), img(after)))
              case _ =>
                rowsEvent(ts, sid, WriteRowsEventV2, tid, specs,
                  Seq(img(after)))
            })
            }
          }
          openTxn.foreach(x => w.write(commitEvent(0L, sid, x)))
          openTxn.foreach(last => edgeTxns.add((pid, firstTxn, last)))
          if (rotateChain) {
            if (!headerDone) {
              w.write(formatDescription(0L, sid, checksummed = checksummed))
              gtidSid.foreach(_ =>
                w.write(previousGtidsEvent(0L, sid,
                  prevEventSets(prevTexts.getOrElse(pid, "")))))
            }
            w.write(rotateEvent(0L, sid, f"$filePrefix${pid + 1}%06d"))
          }
        } finally out.close()
        fs.setTimes(path, mtimeBase + pid, -1)
        gtidSid.foreach(_ => actualGnos.add((pid, wroteGnos.result().text)))
        counter.add(1)
      }
    }
    gtidSid.foreach(_ => checkGatheredGnos(gatheredGnos, actualGnos.value))
    if (pinned) { df.unpersist(); () }
    // driver-side boundary check: a txnId closing file p and opening
    // file p+1 is one source txn split into two wire txns
    val edges = {
      import scala.jdk.CollectionConverters._
      edgeTxns.value.asScala.groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
    }
    edges.sliding(2).foreach {
      case Seq((p1, _, last), (p2, first, _)) if last == first =>
        throw new IllegalStateException(
          s"wire txn framing: txnId $last spans files $p1 and $p2 — each " +
          "fragment decodes under its own CTS mark, breaking source-txn " +
          "atomicity and TxnApplier's exactly-once replay gate; keep txns " +
          "whole per file with MergeSort.sortedRunsGrouped(df, n, " +
          "Seq(commitTsoCol, txnIdCol), Seq(tsoCol))")
      case _ => ()
    }
    counter.value.toInt
  }

  // ---- decode side (the canal/binlog-parse analog) ----

  /** A decoded change row: string images keyed by column name (or "@i"
    * ordinals when the table map carries no names — MySQL's do not), the
    * transaction's TSO mark and XID once its commit is seen. `hdrTs` /
    * `serverId` are the source event HEADER's timestamp (epoch seconds)
    * and server id — carried through so a relay can re-emit the
    * original stamps instead of regenerating them (the reference's
    * relay stores and re-serves the source bytes). */
  final case class DecodedRow(schemaName: String, tableName: String,
      op: String, before: Map[String, String], after: Map[String, String],
      tso: Option[Long], xid: Option[Long], ddl: Option[String] = None,
      gtid: Option[String] = None, hdrTs: Long = 0L, serverId: Long = 1L)

  /** One parsed wire frame: the header's event type, timestamp (epoch
    * seconds), server id and next-position, plus the body with the CRC
    * trailer stripped. The full header travels with the frame so
    * relays and consumers are byte-faithful to the source — nothing is
    * re-stamped downstream. */
  final case class Frame(typeCode: Int, timestamp: Long, serverId: Long,
      nextPos: Long, body: Array[Byte])

  private[sinks] final class ByteReader(b: Array[Byte], var pos: Int = 0) {
    def u8(): Int = { val v = b(pos) & 0xFF; pos += 1; v }
    def le(n: Int): Long = {
      var v = 0L; (0 until n).foreach(i => v |= (b(pos + i) & 0xFFL) << (8 * i))
      pos += n; v
    }
    def be(n: Int): Long = {
      var v = 0L
      (0 until n).foreach { i => v = (v << 8) | (b(pos + i) & 0xFFL) }
      pos += n
      v
    }
    def bytes(n: Int): Array[Byte] = { val r = b.slice(pos, pos + n); pos += n; r }
    def lenEnc(): Long = u8() match {
      case 0xFC => le(2)
      case 0xFD => le(3)
      case 0xFE => le(8)
      case v => v.toLong
    }
    def remaining: Int = b.length - pos
  }

  private def wireFromTableMap(typeCode: Int, meta: ByteReader): Wire =
    typeCode match {
      case 1 => Tiny
      case 2 => Short
      case 3 => Long4
      case 4 => { meta.u8(); Float4 }
      case 5 => { meta.u8(); Double8 }
      case 7 => TimestampLegacy
      case 8 => LongLong
      case 9 => Int24
      case 10 | 14 => Date3 // NEWDATE shares DATE's bitfield layout
      case 11 => TimeLegacy
      case 12 => DatetimeLegacy
      case 13 => Year
      case 15 => VarChar(meta.le(2).toInt)
      case 16 => { val lo = meta.u8(); Bit(meta.u8() * 8 + lo) }
      case 17 => Timestamp2(meta.u8())
      case 18 => DateTime2(meta.u8())
      case 19 => Time2(meta.u8())
      case 245 => { meta.u8(); Json }
      case 246 => NewDecimal(meta.u8(), meta.u8())
      case 252 => Blob(meta.u8())
      case 254 => // STRING carrier: CHAR, ENUM or SET per meta0
        meta.u8() match {
          case 247 => EnumW(Nil, meta.u8())
          case 248 => SetW(Nil, meta.u8())
          case b0 => // CHAR: high length bits XOR-packed into meta0's 0x30
            val b1 = meta.u8()
            CharW(b1 | (((b0 & 0x30) ^ 0x30) << 4))
        }
      case 255 => { meta.u8(); Geometry }
      case other => sys.error(s"unsupported wire type $other")
    }

  /** ".<fsp digits>" suffix, or "" at fsp 0. */
  private def decodeFracStr(r: ByteReader, fsp: Int): String =
    if (fsp == 0) ""
    else {
      val digits = 2 * fracByteCount(fsp)
      val stored = r.be(fracByteCount(fsp))
      val shown = stored / Pow10(digits - fsp)
      "." + ("%0" + fsp + "d").format(shown)
    }

  /** Decode one cell to its canonical string image (the model's
    * string-image convention; TypeMatrixSpec's codec family). */
  private[sinks] def decodeCell(wire: Wire, r: ByteReader): String = wire match {
    case Tiny => r.le(1).toByte.toString
    case Short => r.le(2).toShort.toString
    case Int24 => { val v = r.le(3); (((v << 40) >> 40)).toString } // sign-extend
    case Long4 => r.le(4).toInt.toString
    case LongLong => r.le(8).toString
    case Float4 => java.lang.Float.intBitsToFloat(r.le(4).toInt).toString
    case Double8 => java.lang.Double.longBitsToDouble(r.le(8)).toString
    case Year => (r.le(1) + 1900).toString
    case Date3 =>
      val v = r.le(3)
      f"${v >> 9}%04d-${(v >> 5) & 0xF}%02d-${v & 0x1F}%02d"
    case Time2(fsp) =>
      val v = r.be(3) - 0x800000L
      f"${v >> 12}%02d:${(v >> 6) & 0x3F}%02d:${v & 0x3F}%02d" +
        decodeFracStr(r, fsp)
    case DateTime2(fsp) =>
      val v = r.be(5) - 0x8000000000L
      val ym = v >> 22
      f"${ym / 13}%04d-${ym % 13}%02d-${(v >> 17) & 0x1F}%02d " +
        f"${(v >> 12) & 0x1F}%02d:${(v >> 6) & 0x3F}%02d:${v & 0x3F}%02d" +
        decodeFracStr(r, fsp)
    case Timestamp2(fsp) => r.be(4).toString + decodeFracStr(r, fsp)
    case VarChar(maxLen, coll) =>
      val n = (if (maxLen < 256) r.le(1) else r.le(2)).toInt
      new String(r.bytes(n), Charsets.of(coll))
    case Blob(lenBytes, coll) =>
      val n = r.le(lenBytes).toInt
      new String(r.bytes(n), Charsets.of(coll))
    case NewDecimal(p, s) =>
      val len = (p - s) / 9 * 4 + digitsToBytes((p - s) % 9) +
        s / 9 * 4 + digitsToBytes(s % 9)
      // plain notation: MySQL renders DECIMAL(10,10) as 0.0000000001,
      // never 1E-10 (BigDecimal.toString drifts to scientific there)
      decodeDecimal(r.bytes(len), p, s).bigDecimal.toPlainString
    case Bit(bits) => r.be((bits + 7) / 8).toString
    case CharW(maxBytes, coll) =>
      val n = (if (maxBytes < 256) r.le(1) else r.le(2)).toInt
      new String(r.bytes(n), Charsets.of(coll))
    case EnumW(_, packLen) => r.le(packLen).toString // 1-based ordinal
    case SetW(_, packLen) => r.le(packLen).toString  // member bitmask
    case Geometry => bytesToHex(r.bytes(r.le(4).toInt))
    case Json => JsonB.decodeToStringTolerant(r.bytes(r.le(4).toInt))
    case DatetimeLegacy =>
      val v = r.le(8)
      val (d, t) = (v / 1000000L, v % 1000000L)
      f"${d / 10000}%04d-${d / 100 % 100}%02d-${d % 100}%02d " +
        f"${t / 10000}%02d:${t / 100 % 100}%02d:${t % 100}%02d"
    case TimeLegacy =>
      val v = r.le(3)
      f"${v / 10000}%02d:${v / 100 % 100}%02d:${v % 100}%02d"
    case TimestampLegacy => r.le(4).toString
  }

  /** Parse a QUERY event body into (schema, statement) — the layout
    * beginEvent/ddlEvent write: thread id, exec time, schema len,
    * error code, status-var block, schema + 0x00, statement to the
    * event end. */
  def queryParts(body: Array[Byte]): (String, String) = {
    val r = new ByteReader(body)
    r.le(4); r.le(4) // thread id, exec time
    val schemaLen = r.u8()
    r.le(2); val statusLen = r.le(2).toInt // error code, status vars
    r.bytes(statusLen)
    val sn = new String(r.bytes(schemaLen), UTF_8); r.u8() // 0x00
    (sn, new String(r.bytes(r.remaining), UTF_8))
  }

  /** Statement text of a QUERY event body (SHOW BINLOG EVENTS' Info). */
  def queryStatement(body: Array[Byte]): String = queryParts(body)._2

  /** Decode a binlog file produced by the writers above back into change
    * rows — the parse direction the reference's canal layer implements
    * over real MySQL logs. `colNames` maps (schema, table) to column
    * names; tables absent from it decode with "@1"-style ordinals
    * (TABLE_MAP carries no names). Supports checksum-off files with the
    * event types this object emits; skips unknown frames. */
  /** Fold ONE DDL statement into a column-name registry, with MySQL's
    * ORDINAL semantics (FIRST/AFTER honored, CHANGE repositions when
    * asked) — what the producer's table layout does, hence what the
    * wire's per-position cells follow. CREATE TABLE registers,
    * RENAME/DROP TABLE move/remove entries; statements for unknown
    * tables (and unparseable ones) leave the registry untouched.
    * Shared by the schema-tracking decoder ([[decodeStream]]) and the
    * standing replicas' PERSISTED registry
    * ([[RegistrySidecar]]) — the same fold, applied within
    * a segment there and across triggers/restarts here. */
  def evolveRegistry(reg: Map[(String, String), Seq[String]],
      defaultSchema: String, stmt: String)
      : Map[(String, String), Seq[String]] = {
    import graft.operators.DdlParser
    def place(cols: Seq[String], name: String, first: Boolean,
        after: Option[String]): Seq[String] =
      if (first) name +: cols
      else after match {
        case Some(a) if cols.contains(a) =>
          cols.flatMap(c => if (c == a) Seq(c, name) else Seq(c))
        case _ => cols :+ name
      }
    // multi-statement query events fold EVERY statement (the
    // reference's MemoryTableMeta applies each in order)
    DdlParser.parseAll(stmt, defaultSchema).foldLeft(reg) {
      (reg, parsed) => parsed match {
      case DdlParser.CreateTable(s2, t2, cols, _, _) =>
        reg.updated((s2, t2), cols.map(_.name))
      case DdlParser.AlterTable(s2, t2, actions) =>
        reg.get((s2, t2)) match {
          case None => reg
          case Some(cur0) =>
            var cur = cur0
            actions.foreach {
              case DdlParser.AddColumn(cd, first, after)
                  if !cur.contains(cd.name) =>
                cur = place(cur, cd.name, first, after)
              case DdlParser.DropColumn(n) => cur = cur.filterNot(_ == n)
              // a rename ONTO an existing (different) column would put
              // a duplicate name in the registry and misbind cells by
              // name — MySQL never emits such a statement, so treat it
              // like unparseable DDL: leave the registry untouched
              case DdlParser.RenameColumn(o, n)
                  if o == n || !cur.contains(n) =>
                cur = cur.map(c => if (c == o) n else c)
              case DdlParser.ChangeColumn(o, cd, first, after)
                  if o == cd.name || !cur.contains(cd.name) =>
                val renamed = cur.map(c => if (c == o) cd.name else c)
                cur = if (!first && after.isEmpty) renamed
                  else place(renamed.filterNot(_ == cd.name), cd.name,
                    first, after)
              case DdlParser.ModifyColumn(cd, first, after)
                  if first || after.isDefined =>
                cur = place(cur.filterNot(_ == cd.name), cd.name,
                  first, after)
              case _ => ()
            }
            val updated = reg.updated((s2, t2), cur)
            actions.collectFirst {
              case DdlParser.RenameTo(s3, t3) => (s3.getOrElse(s2), t3)
            }.fold(updated)(dst => updated - ((s2, t2)) + (dst -> cur))
        }
      case DdlParser.RenameTable(pairs) =>
        pairs.foldLeft(reg) { case (r, (from, to)) =>
          r.get(from).fold(r)(cols => r - from + (to -> cols))
        }
      case DdlParser.DropTable(ts) => ts.foldLeft(reg)(_ - _)
      case _ => reg
    }
    }
  }

  def decodeFile(bytes: Array[Byte],
      colNames: Map[(String, String), Seq[String]] = Map.empty): Seq[DecodedRow] =
    decodeStream(parseFile(bytes).iterator, colNames).toSeq

  /** Streaming decode: turns a frame iterator into change rows, holding
    * at most one OPEN transaction's rows in memory (rows publish when
    * their XID commit is seen — the reference's parse-then-commit
    * visibility). This is the form `readBinlogFiles` runs per partition,
    * so an unbounded log file decodes in bounded memory. */
  def decodeStream(frames: Iterator[Frame],
      colNames: Map[(String, String), Seq[String]] = Map.empty)
      : Iterator[DecodedRow] = new Iterator[DecodedRow] {
    private val tables = scala.collection.mutable.Map
      .empty[Long, (String, String, Seq[Wire])]
    // SCHEMA-TRACKING name registry: seeded from `colNames`, evolved by
    // every DDL statement the stream itself carries (CREATE TABLE
    // registers, ADD/DROP/RENAME/CHANGE/MODIFY reposition — MySQL's
    // ordinal semantics, FIRST/AFTER honored) — the reference's meta
    // manager replaying DDL to know each position's column layout
    // (meta/PolarDbXTableMetaManager.java:103, MemoryTableMeta.java:
    // 122-147), applied AT DECODE TIME. A stream whose producer renames
    // a column mid-file therefore decodes correctly from the INITIAL
    // registry alone; callers no longer hand-evolve it.
    private var liveNames: Map[(String, String), Seq[String]] = colNames
    private var tso = Option.empty[Long]
    private var gtid = Option.empty[String]
    private val pending = scala.collection.mutable.ArrayBuffer.empty[DecodedRow]
    private var emit: Iterator[DecodedRow] = Iterator.empty
    private var drained = false

    private def consume(frame: Frame): Unit = {
      val typeCode = frame.typeCode
      val body = frame.body
      typeCode match {
        case GtidEvent =>
          val r = new ByteReader(body)
          r.u8() // commit flag
          val msb = r.be(8); val lsb = r.be(8)
          val gno = r.le(8)
          gtid = Some(s"${new java.util.UUID(msb, lsb)}:$gno")
        case TableMapEvent =>
          val r = new ByteReader(body)
          val tid = r.le(6); r.le(2) // flags
          val sn = new String(r.bytes(r.u8()), UTF_8); r.u8() // terminator
          val tn = new String(r.bytes(r.u8()), UTF_8); r.u8()
          val nCols = r.lenEnc().toInt
          val typeCodes = (0 until nCols).map(_ => r.u8())
          val metaLen = r.lenEnc().toInt
          val meta = new ByteReader(r.bytes(metaLen))
          tables(tid) = (sn, tn, typeCodes.map(tc => wireFromTableMap(tc, meta)))
        case RowsQueryEvent =>
          val s = new String(body.drop(1), UTF_8)
          if (s.startsWith("CTS::")) tso = Some(s.stripPrefix("CTS::").toLong)
        case SequenceEvent =>
          // COMMIT sequence = the txn's commit tso on 5.7-family DNs —
          // same authority as the CTS mark. HEART_BEAT publishes an
          // immediate clock row (no txn scope): it is how an IDLE
          // source advances the downstream completeness gate, so
          // swallowing it would stall every all-sources window the
          // idle DN participates in (SequenceLogEvent.java:66-78).
          val r = new ByteReader(body)
          val seqType = r.u8()
          val seq = r.le(8)
          if (seqType == CommitSequence) tso = Some(seq)
          else if (seqType == HeartbeatSequence)
            emit = Iterator.single(DecodedRow("", "", "HEARTBEAT",
              Map.empty, Map.empty, Some(seq), None,
              hdrTs = frame.timestamp, serverId = frame.serverId))
        case GcnEvent =>
          // 8.0-family DN commit number — the tso carrier when present
          val r = new ByteReader(body)
          r.u8() // flag
          tso = Some(r.le(8))
        case XidEvent =>
          val xid = new ByteReader(body).le(8)
          emit = pending.toList.map(_.copy(xid = Some(xid))).iterator
          pending.clear()
          tso = None // the mark scopes ONE txn; the next must carry its own
          gtid = None
        case QueryEvent =>
          val (sn, stmt) = queryParts(body)
          if (stmt != "BEGIN") { // BEGIN frames a txn; anything else is DDL
            pending += DecodedRow(sn, "", "DDL", Map.empty, Map.empty,
              tso, None, ddl = Some(stmt), gtid = gtid,
              hdrTs = frame.timestamp, serverId = frame.serverId)
            liveNames = evolveRegistry(liveNames, sn, stmt)
          }
        case tc if tc == WriteRowsEventV2 || tc == UpdateRowsEventV2 ||
            tc == DeleteRowsEventV2 =>
          val r = new ByteReader(body)
          val tid = r.le(6); r.le(2) // flags
          val extraLen = r.le(2).toInt
          if (extraLen > 2) r.bytes(extraLen - 2)
          val nCols = r.lenEnc().toInt
          r.bytes((nCols + 7) / 8) // present bitmap (all set by our writers)
          if (tc == UpdateRowsEventV2) r.bytes((nCols + 7) / 8)
          val (sn, tn, wires) = tables.getOrElse(tid,
            sys.error(s"rows event for unmapped table $tid"))
          val names = liveNames.getOrElse((sn, tn),
            (1 to nCols).map(i => s"@$i"))
          require(names.length >= nCols,
            s"table $sn.$tn: TABLE_MAP declares $nCols columns but the " +
              s"(evolved) registry names only ${names.length} " +
              s"(${names.mkString(",")}) — the producer applied DDL this " +
              "decoder's schema tracking did not capture")
          def image(): Map[String, String] = {
            val nb = r.bytes((nCols + 7) / 8)
            wires.zipWithIndex.flatMap { case (w, i) =>
              if ((nb(i / 8) & (1 << (i % 8))) != 0) None
              else Some(names(i) -> decodeCell(w, r))
            }.toMap
          }
          while (r.remaining > 0) {
            val (op, before, after) = tc match {
              case WriteRowsEventV2 => ("INSERT", Map.empty[String, String], image())
              case DeleteRowsEventV2 => ("DELETE", image(), Map.empty[String, String])
              case _ => val b = image(); ("UPDATE", b, image())
            }
            pending += DecodedRow(sn, tn, op, before, after, tso, None,
              gtid = gtid, hdrTs = frame.timestamp, serverId = frame.serverId)
          }
        case HeartbeatEvent =>
          // caught-up liveness from the dump dialogue: no rows, no
          // cursor change — consumed by name (the client's cursor walk
          // reads its next_pos; see BinlogDumpServer idleHeartbeats)
          ()
        case MariaGtidEvent | MariaGtidListEvent =>
          // REFUSE, loudly and by name: these are a MariaDB replica's
          // POSITION carriers (domain-server-seqno GTIDs — a different
          // cursor algebra from MySQL's sid:gno sets this engine
          // tracks). Skipping them like unknown frames would let a
          // Maria-flavored relay replicate with a silently
          // non-advancing GTID cursor — every restart re-draining the
          // full log and any failover losing position.
          throw new IllegalArgumentException(
            s"BinlogWire.decodeStream: MariaDB-flavor GTID carrier " +
            s"(event type $typeCode, ${if (typeCode == MariaGtidEvent)
              "MARIA_GTID" else "MARIA_GTID_LIST"}) — this decoder " +
            "tracks MySQL GTIDs (event 33) and will not silently skip " +
            "a position carrier; replicate a MariaDB source with " +
            "(file, pos) cursors, or serve a MySQL-flavored relay")
        case MariaAnnotateRowsEvent =>
          // MariaDB's rows-query analog: the annotating statement text
          // (reference AnnotateRowsEvent.getRowsQuery) — provenance
          // only, no cursor or row semantics; consumed BY NAME so a
          // Maria relay's annotations are a recognized no-op, never an
          // anonymous skip
          ()
        case MariaBinlogCheckpointEvent =>
          // names the newest fully-synced file for the producer's own
          // crash recovery — file-management metadata, not data
          ()
        case _ => // FDE / QUERY(BEGIN) / ROTATE / PREVIOUS_GTIDS: no rows
      }
    }

    private def advance(): Unit = {
      while (!emit.hasNext && frames.hasNext) consume(frames.next())
      if (!emit.hasNext && !drained) { // unterminated tail (no XID seen)
        emit = pending.toList.iterator
        pending.clear()
        drained = true
      }
    }

    def hasNext: Boolean = { advance(); emit.hasNext }
    def next(): DecodedRow = {
      advance()
      emit.next()
    }
  }

  /** Read a directory of binlog files into a DataFrame of decoded change
    * rows — the engine-side source over its own wire output (and any
    * checksum-off file limited to the supported event/type set). */
  def readBinlogFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
      colNames: Map[(String, String), Seq[String]] = Map.empty,
      minFileName: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val confMap = graft.util.HadoopIo.confMap
    val root = new org.apache.hadoop.fs.Path(dir)
    // minFileName prunes by NAME (name order is TSO order for every
    // writer in this library): files wholly below a seek position are
    // never opened — the batch-reader analog of tailBinlogFiles'
    // pruning, for seekTso/seekGtid-scoped reads over a long log
    val files = graft.util.HadoopIo.fsOf(root).listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("binlog.") &&
        minFileName.forall(s.getPath.getName >= _))
      .map(_.getPath.toString).sorted
    spark.createDataset(files).flatMap { path =>
      val conf = graft.util.HadoopIo.confFrom(confMap)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      // stream the file through the incremental parser — a file of any
      // size (the writers support unbounded partitions) decodes in
      // bounded memory; the task-completion listener closes the stream
      // whether the iterator drains or the task dies mid-way
      val in = fs.open(p)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      decodeStream(parseStream(in), colNames).map(d => (path.split('/').last,
        d.schemaName, d.tableName, d.op, d.before, d.after, d.tso, d.xid,
        d.ddl, d.gtid, d.hdrTs, d.serverId))
    }.toDF("log_file", "schemaName", "tableName", "op", "before", "after",
      "tso", "xid", "ddl", "gtid", "ts", "server_id")
  }

  /** Tail a directory of binlog wire files as a STREAM of decoded change
    * rows — the dump-service→downstream-replica hop (the reference's
    * DumperSlave serving a replica over the MySQL protocol) restated as a
    * Structured Streaming source. File discovery and exactly-once
    * bookkeeping come from Spark's file stream source (checkpointed: a
    * restart resumes at the first unseen file); only the `path` column is
    * read from it, and each task then decodes its file through the
    * incremental `parseStream` — a segment of any size decodes in bounded
    * memory, same as the batch reader. Schema matches `readBinlogFiles`.
    *
    * Compose downstream like any change stream: windowed aggregation,
    * `foreachBatch` + an applier, or a wire→wire relay.
    */
  def tailBinlogFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
      colNames: Map[(String, String), Seq[String]] = Map.empty,
      maxFilesPerTrigger: Int = 16,
      minFileName: Option[String] = None): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val confMap = graft.util.HadoopIo.confMap
    spark.readStream
      .format("binaryFile")
      // the binaryFile source's fixed schema, stated explicitly (file
      // stream sources don't infer)
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "binlog.*")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select("path") // prune content: the decoder streams the file itself
      .as[String]
      // name-order floor (the dump-from-TSO start cursor): files below
      // it are dropped BEFORE the decode flatMap, so a pruned file is
      // listed but never opened — a seek's cost is O(suffix), not
      // O(whole log)
      .filter(path => minFileName.forall(m =>
        new org.apache.hadoop.fs.Path(path).getName >= m))
      .flatMap { path =>
        val conf = graft.util.HadoopIo.confFrom(confMap)
        val p = new org.apache.hadoop.fs.Path(path)
        val in = p.getFileSystem(conf).open(p)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        decodeStream(parseStream(in), colNames).map(d => (p.getName,
          d.schemaName, d.tableName, d.op, d.before, d.after, d.tso, d.xid,
          d.ddl, d.gtid, d.hdrTs, d.serverId))
      }
      .toDF("log_file", "schemaName", "tableName", "op", "before", "after",
        "tso", "xid", "ddl", "gtid", "ts", "server_id")
  }

  /** Verify the ROTATE chain over a directory of binlog files written
    * with `rotateChain = true`: each file's trailing ROTATE must name
    * EXACTLY the next existing file — the chain is dense by construction
    * (empty partitions write header-only files), so any gap is a LOST
    * segment and fails loudly (the reference's binlog-file sequence
    * check when serving a dump: a hole in the rotation chain means lost
    * log). Returns the verified chain as (log_file, rotate_target)
    * pairs; the final file's dangling target (its successor was never
    * written — the "active file" state) is allowed. */
  def verifyRotateChain(spark: org.apache.spark.sql.SparkSession,
      dir: String, filePrefix: String = "binlog.")
      : Seq[(String, Option[String])] = {
    import spark.implicits._
    val confMap = graft.util.HadoopIo.confMap
    val root = new org.apache.hadoop.fs.Path(dir)
    val files = graft.util.HadoopIo.fsOf(root).listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(filePrefix))
      .map(_.getPath.toString).sorted
    val targets = spark.createDataset(files).map { path =>
      val conf = graft.util.HadoopIo.confFrom(confMap)
      val p = new org.apache.hadoop.fs.Path(path)
      val in = p.getFileSystem(conf).open(p)
      val t = try {
        parseStream(in).foldLeft(Option.empty[String]) {
          case (_, Frame(RotateEvent, _, _, _, body)) =>
            Some(new String(body.drop(8), UTF_8))
          case (acc, _) => acc
        }
      } finally in.close()
      (p.getName, t)
    }.collect().sortBy(_._1).toSeq
    targets.sliding(2).foreach {
      case Seq((file, target), (next, _)) =>
        val t = target.getOrElse(sys.error(
          s"rotate chain broken: $file carries no ROTATE but $next follows"))
        require(t == next,
          s"rotate chain broken: $file rotates to $t but the next file " +
            s"present is $next — a log segment is missing")
      case _ => // single file: nothing to chain
    }
    targets
  }

  /** Split a file's bytes back into `Frame`s — the spec's structural
    * witness over in-memory bytes. Unbounded files go through
    * `parseStream` (one event in memory at a time). */
  def parseFile(bytes: Array[Byte]): Seq[Frame] =
    parseStream(new java.io.ByteArrayInputStream(bytes)).toSeq

  /** Incremental frame parser: decodes `Frame`s (full header fields +
    * body) one at a time off the stream — the read-side dual of
    * FileWriter's incremental encode, so a multi-GB binlog file (the
    * writers support unbounded partitions) never needs to be
    * materialized as one array. Verifies + strips the CRC32 trailer
    * when the FDE declares alg 1. */
  def parseStream(in: java.io.InputStream): Iterator[Frame] = {
    val din = new java.io.DataInputStream(in)
    val magic = new Array[Byte](4)
    din.readFully(magic)
    require(magic.sameElements(Magic), "bad magic")
    new Iterator[Frame] {
      private var checksummed = false
      private var nextFrame: Option[Frame] = None
      private var eof = false
      private def fetch(): Unit = if (nextFrame.isEmpty && !eof) {
        val hdr = new Array[Byte](HeaderLength)
        val first = din.read()
        if (first < 0) { eof = true }
        else {
          hdr(0) = first.toByte
          din.readFully(hdr, 1, HeaderLength - 1)
          var timestamp = 0L
          (0 until 4).foreach(k => timestamp |= (hdr(k) & 0xFFL) << (8 * k))
          val typeCode = hdr(4) & 0xFF
          var serverId = 0L
          (0 until 4).foreach(k => serverId |= (hdr(5 + k) & 0xFFL) << (8 * k))
          var len = 0L
          (0 until 4).foreach(k => len |= (hdr(9 + k) & 0xFFL) << (8 * k))
          var nextPos = 0L
          (0 until 4).foreach(k => nextPos |= (hdr(13 + k) & 0xFFL) << (8 * k))
          require(len >= HeaderLength && len <= Int.MaxValue.toLong,
            s"event type $typeCode declares invalid length $len")
          var body = new Array[Byte](len.toInt - HeaderLength)
          din.readFully(body)
          // the FDE's checksum-alg byte governs the whole file: with CRC32
          // every event (the FDE included) carries a 4-byte trailer,
          // covered bytes = header + body — verify and strip
          if (typeCode == FormatDescriptionEvent && body.length >= 5)
            checksummed = body(body.length - 5) == 1
          if (checksummed) {
            val crc = new java.util.zip.CRC32()
            crc.update(hdr)
            crc.update(body, 0, body.length - 4)
            var stored = 0L
            (0 until 4).foreach(k =>
              stored |= (body(body.length - 4 + k) & 0xFFL) << (8 * k))
            require(crc.getValue == stored,
              s"CRC mismatch in event type $typeCode")
            body = body.dropRight(4)
          }
          nextFrame = Some(Frame(typeCode, timestamp, serverId, nextPos, body))
        }
      }
      def hasNext: Boolean = { fetch(); nextFrame.isDefined }
      def next(): Frame = {
        fetch()
        val f = nextFrame.getOrElse(throw new NoSuchElementException)
        nextFrame = None
        f
      }
    }
  }
}
