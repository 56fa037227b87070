package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.ChangeEvent

/** Socket/Kafka-shaped ingress into the engine's ChangeEvent envelope —
  * the live-feed counterpart of the file wire tail. The reference tails
  * each DN over COM_BINLOG_DUMP (canal/.../binlog/DirectLogFetcher.java)
  * and normalizes packets into its DBMS event model; here the transport
  * is WHATEVER Spark source the deployment has (`socket`, `kafka`, rate,
  * MemoryStream in tests — anything producing a streaming DataFrame of
  * per-record payloads), and this adapter is the normalization step: a
  * declarative column mapping into `ChangeEvent.schema` that the §3.1
  * operators (Pipeline.*, OrderedSink) consume unchanged; LiveReplicaJob
  * and CdcSource decode their DN segments through it.
  *
  * Scale shape: pure per-row projection (from_json + casts, zero UDFs,
  * stays in whole-stage codegen), so ingress parallelism is the source's
  * partitioning — Kafka partitions map 1:1 to tasks and a thousand-DN
  * fleet fans in without a driver hop. Ordering across DNs is NOT this
  * layer's job (packets interleave arbitrarily); the downstream
  * heartbeat gate + TSO sort impose global order exactly as they do for
  * file sources.
  */
object ChangeEventSource {

  /** JSON record feed (the Kafka/socket line shape) → ChangeEvent rows.
    * `mode` is from_json's parse mode: FAILFAST (default) surfaces a
    * malformed packet as a stream failure — a CDC feed that silently
    * drops records would corrupt the downstream exactly-once story;
    * PERMISSIVE maps malformed to nulls for quarantine flows. */
  def fromJson(raw: DataFrame, valueCol: String,
      mode: String = "FAILFAST"): DataFrame =
    raw.select(from_json(col(valueCol), ChangeEvent.schema,
        Map("mode" -> mode)).as("r"))
      .select(col("r.*"))

  /** Raw wire-byte feed — the COM_BINLOG_DUMP shape itself: each record
    * is one complete binlog SEGMENT (magic + FDE + frames, the rotation
    * unit every BinlogWire sink emits and a dump server streams per
    * file), tagged with its source DN. Decodes per record via the
    * bounded-memory frame parser into change rows, then normalizes to
    * the envelope; tso authority is whatever the stream carries (CTS
    * mark, SEQUENCE, or GCN — all three decode identically). A segment
    * is the natural packet unit because table-map state is segment-
    * scoped (every file re-declares its maps), so decode needs no
    * cross-record state and parallelism stays per-record.
    *
    * `tsoAuthority` states what orders a row whose segment carries NO
    * tso (no CTS mark, SEQUENCE, or GCN — e.g. a bare-MySQL feed):
    * "wire" (default) fails loudly — xids are not globally ordered
    * across DNs, so a silent fallback would let the downstream TSO
    * sort produce a wrong global order, the same silent-corruption
    * class `envelope()` refuses for tsoTime; "xid" opts in to xid
    * order for a SINGLE-source feed where xid order is commit order.
    *
    * txnId = the wire xid; traceId = "<dn>:<n>" (arrival index within
    * the segment — intra-txn order, the reference's trace-id role). */
  def fromWireSegments(raw: DataFrame, dnCol: String, payloadCol: String,
      colNames: Map[(String, String), Seq[String]] = Map.empty,
      tsoAuthority: String = "wire")
      : DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val tsoFromXid = tsoAuthority match {
      case "wire" => false
      case "xid" => true
      case other => throw new IllegalArgumentException(
        s"ChangeEventSource.fromWireSegments: unknown tsoAuthority " +
        s"'$other' (expected \"wire\" or \"xid\")")
    }
    val decoded = raw
      .select(col(dnCol).cast("string"), col(payloadCol).cast("binary"))
      .as[(String, Array[Byte])]
      .flatMap { case (dn, bytes) =>
        toChangeEvents(dn, bytes, colNames, tsoFromXid)
      }
    envelope(decoded.toDF())
  }

  /** One wire SEGMENT → ChangeEvent rows: the per-record decode
    * [[fromWireSegments]] runs inside its flatMap, factored so the
    * `graft-cdc` streaming source's partition readers
    * ([[graft.streaming.CdcSource]]) produce the IDENTICAL envelope. */
  def toChangeEvents(dn: String, bytes: Array[Byte],
      colNames: Map[(String, String), Seq[String]],
      tsoFromXid: Boolean): Iterator[ChangeEvent] =
    graft.sinks.BinlogWire.decodeFile(bytes, colNames).iterator
      .zipWithIndex.map { case (r, i) =>
        graft.model.ChangeEvent(
          tso = r.tso.getOrElse {
            if (tsoFromXid) r.xid.getOrElse(0L)
            else throw new IllegalArgumentException(
              s"ChangeEventSource.fromWireSegments: segment from DN " +
              s"'$dn' decoded a row with no tso carrier (no CTS " +
              "mark, SEQUENCE, or GCN). xids are not globally " +
              "ordered across DNs, so there is no safe implicit " +
              "fallback; pass tsoAuthority = \"xid\" only for a " +
              "single-source feed whose xid order IS commit order.")
          },
          txnId = r.xid.getOrElse(0L),
          partitionId = dn,
          traceId = f"$dn%s:$i%09d",
          op = if (r.ddl.isDefined) "DDL" else r.op,
          schemaName = r.schemaName,
          tableName = r.tableName,
          tsoTime = new java.sql.Timestamp(r.hdrTs * 1000L),
          before = r.before,
          after = r.after,
          ddl = r.ddl,
          serverId = r.serverId)
      }

  /** Relational feed (columns already split, e.g. a Kafka topic with a
    * schema registry, or a test MemoryStream of tuples) → the exact
    * envelope: validates presence, casts types, fills the optional
    * columns a thin feed omits (traceId/ddl/serverId/images). Fails at
    * PLAN time on a missing required column — a misconfigured feed
    * should not start. */
  def envelope(raw: DataFrame,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty)
      : DataFrame = {
    val present = raw.columns.toSet
    val cols = ChangeEvent.schema.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else defaults.get(f.name).map(_.cast(f.dataType).as(f.name))
        .getOrElse(f.name match {
          case "traceId" => lit("").as("traceId")
          case "before" | "after" =>
            map().cast(f.dataType).as(f.name)
          case "ddl" => lit(null).cast(f.dataType).as("ddl")
          case "serverId" => lit(0L).as("serverId")
          case other =>
            // tsoTime deliberately has NO silent fallback: the tso's
            // physical-time encoding is layout-specific (VirtualTso is
            // a 19-digit prefix, packed tsos shift it left), so any
            // guessed conversion would feed wrong event times into
            // watermarks and the heartbeat gate. The caller states the
            // layout via `defaults` — e.g.
            // Map("tsoTime" -> timestamp_millis(col("tso"))) when the
            // feed's tso IS epoch millis.
            throw new IllegalArgumentException(
              s"ChangeEventSource.envelope: feed lacks required column " +
              s"'$other' and no default was given; present: " +
              present.toSeq.sorted.mkString(", "))
        })
    }
    raw.select(cols.toIndexedSeq: _*)
  }
}
