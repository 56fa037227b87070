package graft.sinks

import graft.SparkSpec
import graft.sinks.BinlogWire._

/** MariaDB-flavor events in a relayed stream: the GTID carriers
  * (MARIA_GTID 162, MARIA_GTID_LIST 163 — a different cursor algebra
  * from MySQL sid:gno sets) must refuse LOUDLY by event name, never
  * skip like unknown frames (a silent skip leaves a Maria-flavored
  * replica's GTID cursor non-advancing forever); ANNOTATE_ROWS (160)
  * and BINLOG_CHECKPOINT (161) are provenance/file-management metadata
  * and decode as recognized no-ops with the surrounding rows intact.
  * Reference event registry: canal/binlog/event/mariadb/
  * AnnotateRowsEvent.java, MariaGtidLogEvent.java,
  * MariaGtidListLogEvent.java. */
class MariaFlavorSpec extends SparkSpec {

  private val specs = Seq(ColSpec("id", LongLong), ColSpec("v", VarChar(32)))
  private val reg = Map(("app", "t") -> Seq("id", "v"))
  private val ts = 1700000000L

  private def txnFrames(withMaria: Seq[Event]): Array[Byte] = {
    val row = rowsEvent(ts, 1L, WriteRowsEventV2, 1L, specs,
      Seq(rowImage(specs, Seq(Some(7L), Some("x")))))
    assembleFile(Seq(formatDescription(ts, 1L)) ++ withMaria ++ Seq(
      tableMap(ts, 1L, 1L, "app", "t", specs),
      markEvent(ts, 1L, "CTS::7"),
      beginEvent(ts, 1L),
      row,
      commitEvent(ts, 1L, 7L)))
  }

  test("MARIA_GTID / MARIA_GTID_LIST refuse loudly by name, never a silent skip") {
    // MariaDB GTID body: seq_no(8 LE) + domain_id(4 LE) + flags(1)
    val mariaGtid = Event(ts, MariaGtidEvent, 1L,
      Array.fill[Byte](13)(0))
    val e1 = intercept[IllegalArgumentException] {
      BinlogWire.decodeFile(txnFrames(Seq(mariaGtid)), reg)
    }
    assert(e1.getMessage.contains("MARIA_GTID") &&
      e1.getMessage.contains("162"))

    val mariaList = Event(ts, MariaGtidListEvent, 1L,
      Array.fill[Byte](4)(0))
    val e2 = intercept[IllegalArgumentException] {
      BinlogWire.decodeFile(txnFrames(Seq(mariaList)), reg)
    }
    assert(e2.getMessage.contains("MARIA_GTID_LIST"))
  }

  test("ANNOTATE_ROWS and BINLOG_CHECKPOINT are recognized no-ops; rows decode intact") {
    val annotate = Event(ts, MariaAnnotateRowsEvent, 1L,
      "INSERT INTO t VALUES (7, 'x')".getBytes("UTF-8"))
    val checkpoint = Event(ts, MariaBinlogCheckpointEvent, 1L,
      "mariadb-bin.000001".getBytes("UTF-8"))
    val rows = BinlogWire.decodeFile(
      txnFrames(Seq(annotate, checkpoint)), reg)
    assert(rows.size == 1)
    assert(rows.head.tso.contains(7L))
    assert(rows.head.after == Map("id" -> "7", "v" -> "x"))
  }

  test("the auto-position cursor walk refuses a Maria GTID carrier too") {
    val seg = txnFrames(Seq(Event(ts, MariaGtidEvent, 1L,
      Array.fill[Byte](13)(0))))
    val e = intercept[IllegalArgumentException] {
      // same walk dumpSegmentGtidWithCursorStatus runs over a drained
      // segment (the file bytes share the magic+frames layout)
      graft.sources.BinlogDumpClient.advanceExecuted(seg,
        graft.model.GtidSet.Empty)
    }
    assert(e.getMessage.contains("MariaDB"))
    // no runner replicates a MariaDB GTID-flavored log: the refusal
    // must not send the user to (file, pos) cursors
    assert(e.getMessage.contains("not supported") &&
      !e.getMessage.contains("(file, pos)"))
  }
}
