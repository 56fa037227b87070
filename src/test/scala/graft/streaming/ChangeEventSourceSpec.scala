package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec
import graft.operators.MergeSort
import graft.sinks.OrderedSink
import graft.sources.ChangeEventSource

/** Live-feed ingress (socket/Kafka shape, MemoryStream as transport):
  * out-of-order multi-DN packets → ChangeEvent envelope → the UNCHANGED
  * §3.1 DAG, with the heartbeat gate and checkpointed kill/resume
  * behaving exactly as they do for file sources. */
class ChangeEventSourceSpec extends SparkSpec {
  import spark.implicits._

  /** The §3.1 DAG's sink: each micro-batch appends TSO-ordered and
    * position-idempotent (OrderedSink.appendSince) under a checkpoint. */
  private def startOrdered(src: DataFrame, outDir: String, ckpt: String,
      numPartitions: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        OrderedSink.appendSince(batch, "tso", outDir, numPartitions)
      }
      .start()

  private def packet(tso: Long, dn: String, op: String,
      table: String = "t", hb: Boolean = false): String = {
    val secs = tso // fixture: 1 tso tick = 1 second of physical time
    // ISO-8601 with explicit Z: Timestamp.toString would render in the
    // JVM default timezone while from_json parses under the session's
    // fixed UTC — a non-UTC machine would shift every window
    s"""{"tso":$tso,"txnId":${tso / 10},"partitionId":"$dn",""" +
      s""""traceId":"tr-$tso","op":"$op","schemaName":"app",""" +
      s""""tableName":"$table","tsoTime":"${java.time.Instant
        .ofEpochSecond(secs)}",""" +
      s""""after":{"id":"$tso"},"serverId":${if (dn == "dn1") 1 else 2}}"""
  }

  test("json packets from two DNs, out of order, through the §3.1 DAG with kill/resume") {
    val root = Files.createTempDirectory("graft-ces").toString
    val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEventSource.fromJson(
      input.toDF().withColumnRenamed("value", "v"), "v")
    // the adapter's output IS the envelope schema (from_json makes
    // every field nullable; names and types are the contract)
    assert(envelope.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      graft.model.ChangeEvent.schema.fields.map(f => (f.name, f.dataType)).toSeq)

    // wave 1: interleaved, out-of-order packets from both DNs
    input.addData(
      packet(30L, "dn2", "INSERT"), packet(10L, "dn1", "INSERT"),
      packet(40L, "dn2", "UPDATE"), packet(20L, "dn1", "INSERT"))
    val q1 = startOrdered(envelope.filter(col("op") =!= "HEARTBEAT"),
      outDir, ckpt, numPartitions = 2)
    q1.processAllAvailable(); q1.stop() // KILL mid-stream

    val out1 = spark.read.parquet(outDir)
    assert(out1.count() == 4)
    assert(MergeSort.disorderCount(out1.orderBy($"tso"), "tso") == 0)

    // wave 2: RESUME from the same checkpoint — only the delta lands,
    // heartbeats are filtered out, nothing duplicates
    input.addData(
      packet(50L, "dn1", "HEARTBEAT"), packet(60L, "dn2", "DELETE"))
    val q2 = startOrdered(envelope.filter(col("op") =!= "HEARTBEAT"),
      outDir, ckpt, numPartitions = 2)
    q2.processAllAvailable(); q2.stop()

    val out2 = spark.read.parquet(outDir)
    assert(out2.count() == 5) // 4 + DELETE; the heartbeat gated out
    assert(out2.select(countDistinct($"tso")).head().getLong(0) == 5)
    assert(out2.select(sum($"tso")).head().getLong(0) == 160L)
  }

  test("heartbeat completeness gate over the adapted feed") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEventSource.fromJson(
      input.toDF().withColumnRenamed("value", "v"), "v")
    // window [0,60): only dn1 heartbeats; [60,120): both DNs report;
    // the 200s ticks advance the watermark past both windows' close
    input.addData(
      packet(10L, "dn1", "HEARTBEAT"), packet(20L, "dn1", "INSERT"),
      packet(70L, "dn1", "HEARTBEAT"), packet(80L, "dn2", "HEARTBEAT"),
      packet(90L, "dn2", "INSERT"),
      packet(200L, "dn1", "HEARTBEAT"), packet(200L, "dn2", "HEARTBEAT"))
    val gated = Pipeline.heartbeatWindowsStream(envelope, "tsoTime",
      "partitionId", "60 seconds", "10 seconds", expectedSources = 2)
    val q = gated.writeStream.format("memory").queryName("ces_gate")
      .outputMode("append").start()
    q.processAllAvailable()
    // a second empty pass lets the advanced watermark close the windows
    input.addData(packet(300L, "dn1", "HEARTBEAT"))
    q.processAllAvailable(); q.stop()
    val emitted = spark.sql(
        "SELECT CAST(w.start AS LONG), complete FROM ces_gate")
      .as[(Long, Boolean)].collect().toMap
    assert(emitted(0L) == false) // dn2 never reported in [0,60)
    assert(emitted(60L) == true) // both DNs present in [60,120)
  }

  test("envelope: thin relational feeds map in; missing required column fails at plan time") {
    val thin = Seq((100L, 10L, "dn1", "INSERT", "app", "t"))
      .toDF("tso", "txnId", "partitionId", "op", "schemaName", "tableName")
    // tsoTime has NO silent fallback — the tso's physical-time layout
    // is feed-specific, so the caller must state the conversion
    val noClock = intercept[IllegalArgumentException] {
      ChangeEventSource.envelope(thin)
    }
    assert(noClock.getMessage.contains("'tsoTime'"))
    val env = ChangeEventSource.envelope(thin,
      defaults = Map("tsoTime" -> timestamp_millis(col("tso"))))
    assert(env.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      graft.model.ChangeEvent.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val row = env.as[graft.model.ChangeEvent].collect().head
    assert(row.tso == 100L && row.traceId == "" && row.serverId == 0L)
    assert(row.tsoTime.getTime == 100L) // the layout the caller declared
    val bad = thin.drop("op")
    val err = intercept[IllegalArgumentException] {
      ChangeEventSource.envelope(bad)
    }
    assert(err.getMessage.contains("'op'") ||
      err.getMessage.contains("'tsoTime'"))
  }

  test("wire-byte segments decode into the envelope under all three tso carriers") {
    import graft.sinks.BinlogWire
    import graft.sinks.BinlogWire._
    val specs = Seq(ColSpec("id", LongLong), ColSpec("v", VarChar(32)))
    val df = Seq((1L, "a", "INSERT", 100L, 1L), (2L, "b", "INSERT", 100L, 2L),
        (3L, "c", "INSERT", 200L, 3L))
      .toDF("id", "v", "op", "tso", "seq")
      .withColumn("ts", lit(1700000000L))
      .coalesce(1).sortWithinPartitions("tso", "seq")
    Seq("mark", "sequence", "gcn").foreach { carrier =>
      val dir = Files.createTempDirectory(s"graft-seg-$carrier").toString
      BinlogWire.writeTxnFramedBinlogFiles(df, specs, "app", "t", "op",
        "ts", "tso", dir, tsoCarrier = carrier)
      val bytes = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "binlog.000000").toPath)
      val envelope = ChangeEventSource.fromWireSegments(
        Seq(("dn7", bytes)).toDF("dn", "payload"), "dn", "payload",
        Map(("app", "t") -> Seq("id", "v")))
      val rows = envelope
        .select($"tso", $"txnId", $"partitionId", $"op",
          element_at($"after", "id"))
        .as[(Long, Long, String, String, String)].collect().toSeq.sortBy(_._5)
      assert(rows == Seq(
        (100L, 100L, "dn7", "INSERT", "1"),
        (100L, 100L, "dn7", "INSERT", "2"),
        (200L, 200L, "dn7", "INSERT", "3")), s"carrier=$carrier")
      // intra-segment order is preserved in the traceId
      val traces = envelope.select($"traceId").as[String].collect().toSeq
      assert(traces.sorted == traces && traces.head.startsWith("dn7:"))
    }
    // and the same segments drive the streaming DAG
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-seg-stream").toString
    BinlogWire.writeTxnFramedBinlogFiles(df, specs, "app", "t", "op",
      "ts", "tso", dir, tsoCarrier = "sequence")
    val bytes = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "binlog.000000").toPath)
    val input = MemoryStream[(String, Array[Byte])]
    val outDir = Files.createTempDirectory("graft-seg-out").toString
    input.addData(("dn7", bytes))
    val q = startOrdered(
      ChangeEventSource.fromWireSegments(
        input.toDF().toDF("dn", "payload"), "dn", "payload",
        Map(("app", "t") -> Seq("id", "v"))),
      outDir, Files.createTempDirectory("graft-seg-ck").toString, 1)
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(outDir).count() == 3)
  }

  test("wire segments carry DDL events into the envelope as op=DDL rows") {
    import graft.sinks.BinlogWire
    // hand-framed segment: FDE + DDL query + a txn — the mixed stream a
    // relay actually sees. No CTS/SEQUENCE/GCN precedes the DDL, so the
    // feed must state its tso authority explicitly (here: xid order,
    // the single-source stance).
    val baos = new java.io.ByteArrayOutputStream()
    val w = new BinlogWire.FileWriter(baos)
    w.write(BinlogWire.formatDescription(1700000000L, 1L))
    w.write(BinlogWire.ddlEvent(1700000001L, 1L, "app",
      "ALTER TABLE t ADD COLUMN c INT"))
    val envelope = ChangeEventSource.fromWireSegments(
      Seq(("dn1", baos.toByteArray)).toDF("dn", "payload"), "dn", "payload",
      tsoAuthority = "xid")
    val rows = envelope.select($"op", $"schemaName", $"ddl")
      .as[(String, String, Option[String])].collect().toSeq
    assert(rows == Seq(("DDL", "app",
      Some("ALTER TABLE t ADD COLUMN c INT"))))
  }

  test("a markless segment fails loudly unless the tso authority is stated") {
    import graft.sinks.BinlogWire
    // same hand-framed no-carrier segment as above: under the default
    // "wire" authority this must FAIL, naming the fix — xids are not
    // globally ordered across DNs, so a silent tso=xid fallback would
    // feed a wrong global order into the downstream TSO sort
    val baos = new java.io.ByteArrayOutputStream()
    val w = new BinlogWire.FileWriter(baos)
    w.write(BinlogWire.formatDescription(1700000000L, 1L))
    w.write(BinlogWire.ddlEvent(1700000001L, 1L, "app", "CREATE TABLE t (id INT)"))
    val seg = Seq(("dn1", baos.toByteArray)).toDF("dn", "payload")
    val ex = intercept[Exception] {
      ChangeEventSource.fromWireSegments(seg, "dn", "payload").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("tsoAuthority")), ex.toString)
    // and a bogus authority is rejected at call time, before any job
    val bad = intercept[IllegalArgumentException] {
      ChangeEventSource.fromWireSegments(seg, "dn", "payload",
        tsoAuthority = "hope")
    }
    assert(bad.getMessage.contains("tsoAuthority"))
  }

  test("raw wire bytes drive stateful transaction assembly end to end") {
    import graft.sinks.BinlogWire
    import graft.sinks.BinlogWire._
    // two txns on the wire (sequence carrier), streamed as ONE segment
    val specs = Seq(ColSpec("id", LongLong), ColSpec("v", VarChar(32)))
    val df = Seq((1L, "a", "INSERT", 100L, 1L), (2L, "b", "INSERT", 100L, 2L),
        (3L, "c", "INSERT", 200L, 3L))
      .toDF("id", "v", "op", "tso", "seq")
      .withColumn("ts", lit(1700000000L))
      .coalesce(1).sortWithinPartitions("tso", "seq")
    val dir = Files.createTempDirectory("graft-e2e-asm").toString
    BinlogWire.writeTxnFramedBinlogFiles(df, specs, "app", "t", "op",
      "ts", "tso", dir, tsoCarrier = "sequence")
    val bytes = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "binlog.000000").toPath)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Array[Byte])]
    val envelope = ChangeEventSource.fromWireSegments(
      input.toDF().toDF("dn", "payload"), "dn", "payload",
      Map(("app", "t") -> Seq("id", "v")))
    // wire rows publish on decode with their COMMIT already seen, so
    // synthesize the assembly's COMMIT control rows from the xid
    // boundary — txnId groups close when their last row arrives
    val withCommit = envelope.as[graft.model.ChangeEvent].flatMap { e =>
      Seq(e, e.copy(op = "COMMIT"))
    }
    val assembled = Pipeline.assembleTransactions(withCommit, timeout = None)
    val q = assembled.writeStream.format("memory").queryName("e2e_asm")
      .outputMode("append").start()
    input.addData(("dn1", bytes))
    q.processAllAvailable(); q.stop()
    val txns = spark.sql(
        "SELECT txnId, tso, nEvents FROM e2e_asm ORDER BY tso")
      .as[(Long, Long, Int)].collect().toSeq
    assert(txns == Seq((100L, 100L, 2), (200L, 200L, 1)))
  }

  test("wire segments over a REAL TCP socket drive the §3.1 DAG with kill/resume") {
    import graft.sinks.BinlogWire
    import graft.sinks.BinlogWire._
    // the one ingress transport the MemoryStream cases never exercise:
    // an in-process TCP server streams line-framed segments ("<dn>
    // <base64(segment)>", the text shape Spark's socket source carries)
    // through fromWireSegments into the UNCHANGED DAG. The socket
    // source is NON-REPLAYABLE (no checkpoint recovery), so kill/resume
    // exactly-once comes from the SINK: the resumed query starts a
    // fresh checkpoint, the dumb server re-serves EVERYTHING, and
    // OrderedSink.appendSince's position cursor drops the
    // already-appended prefix — the repo's stated stance that ordering
    // and exactly-once are the sink's job, transport is the source's.
    val specs = Seq(ColSpec("id", LongLong), ColSpec("v", VarChar(32)))
    def segment(rows: Seq[(Long, String, Long, Long)]): Array[Byte] = {
      val dir = Files.createTempDirectory("graft-sock-seg").toString
      val df = rows.map { case (id, v, tso, seq) => (id, v, "INSERT", tso, seq) }
        .toDF("id", "v", "op", "tso", "seq")
        .withColumn("ts", lit(1700000000L))
        .coalesce(1).sortWithinPartitions("tso", "seq")
      BinlogWire.writeTxnFramedBinlogFiles(df, specs, "app", "t", "op",
        "ts", "tso", dir, tsoCarrier = "sequence")
      java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "binlog.000000").toPath)
    }
    def line(dn: String, bytes: Array[Byte]): String =
      dn + " " + java.util.Base64.getEncoder.encodeToString(bytes)
    val batch1 = Seq(line("dn1", segment(Seq((1L, "a", 100L, 1L), (2L, "b", 100L, 2L)))),
      line("dn2", segment(Seq((3L, "c", 150L, 3L)))))
    val batch2 = Seq(line("dn1", segment(Seq((4L, "d", 200L, 4L), (5L, "e", 200L, 5L)))))

    val server = new java.net.ServerSocket(0)
    @volatile var pending: Seq[String] = batch1
    val opened = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    val accepter = new Thread(() => {
      try while (!server.isClosed) {
        val sock = server.accept()
        opened.add(sock)
        val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8), true)
        pending.foreach(out.println)
        out.flush() // connection stays open: the source keeps reading
      } catch { case _: Exception => () } // server closed: accept loop ends
    })
    accepter.setDaemon(true)
    accepter.start()

    val root = Files.createTempDirectory("graft-sock").toString
    val outDir = s"$root/out"
    def start(ckpt: String) = {
      val raw = spark.readStream.format("socket")
        .option("host", "localhost")
        .option("port", server.getLocalPort)
        .load()
      val envelope = ChangeEventSource.fromWireSegments(
        raw.select(
          substring_index(col("value"), " ", 1).as("dn"),
          unbase64(substring_index(col("value"), " ", -1)).as("payload")),
        "dn", "payload", Map(("app", "t") -> Seq("id", "v")))
      // a socket feed has no "drained" state — run as a STANDING query
      // (AvailableNow would see an empty just-connected source and stop)
      startOrdered(envelope, outDir, ckpt, numPartitions = 2,
        trigger = Trigger.ProcessingTime("500 milliseconds"))
    }
    def awaitRows(n: Long): Long = {
      val deadline = System.currentTimeMillis() + 60000
      var c = -1L
      while (c != n && System.currentTimeMillis() < deadline) {
        c = try spark.read.parquet(outDir).count()
        catch { case _: Exception => -1L }
        if (c != n) Thread.sleep(200)
      }
      c
    }
    try {
      val q1 = start(s"$root/ckpt1")
      assert(awaitRows(3L) == 3L) // batch1: 2 txns, 3 rows, both DNs
      q1.stop() // KILL mid-stream
      // RESUME: the dumb server re-serves batch1 TOO — the sink's
      // position cursor must drop it, appending only the new segment
      pending = batch1 ++ batch2
      val q2 = start(s"$root/ckpt2")
      assert(awaitRows(5L) == 5L)
      q2.stop()
      val out = spark.read.parquet(outDir)
      assert(out.select(countDistinct($"tso")).head().getLong(0) == 3)
      assert(out.select($"partitionId").distinct().as[String].collect()
        .toSet == Set("dn1", "dn2"))
      assert(MergeSort.disorderCount(out.orderBy($"tso"), "tso") == 0)
    } finally {
      opened.forEach(s => try s.close() catch { case _: Exception => () })
      server.close()
    }
  }

  test("FAILFAST surfaces malformed packets as stream failures") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    // the malformed record must be AVAILABLE before the query starts:
    // the query runs Trigger.AvailableNow, which snapshots the offsets
    // at start — data added after the snapshot is not processed, and
    // the test would race query startup (it won that race only while
    // startup was slow)
    input.addData("""{"tso": NOT_JSON""")
    val q = startOrdered(
      ChangeEventSource.fromJson(
        input.toDF().withColumnRenamed("value", "v"), "v"),
      Files.createTempDirectory("graft-ff-out").toString,
      Files.createTempDirectory("graft-ff-ck").toString, 1)
    val ex = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    assert(ex.getMessage != null)
  }
}
