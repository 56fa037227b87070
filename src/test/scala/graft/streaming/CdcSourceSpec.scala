package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.jobs.WireReplicaJob
import graft.operators.TxnApplier
import graft.sinks.{BinlogWire, RegistrySidecar}

/** The live dump dialogue as a FIRST-CLASS Structured Streaming source:
  * `spark.readStream.format("graft-cdc")` with the executed GTID set as
  * the Spark-managed offset. The composed lifecycle test runs the
  * shipped GTID standing replica, `CdcReplica.start`, through
  * bootstrap → rotation → in-stream RENAME that rebuilds the routed
  * target → kill → source failover to a renumbered log → restart; the
  * position lives in the QUERY CHECKPOINT alone — every restart passes
  * the ORIGINAL (stale) registry and no cursor at all, and the failover
  * repoint is just fresh endpoint options under the same checkpoint. */
class CdcSourceSpec extends SparkSpec {

  test("CdcPollRegistry key identity survives RELATIVE checkpoint paths (qualified both sides)") {
    spark // force session init so HadoopIo.conf resolves consistently
    val cwd = new java.io.File(".").getCanonicalPath
    val info = CdcPollRegistry.PollInfo(Set("dnA"), Set("dnA"))
    // Spark hands the SOURCE a qualified location; the caller may hold
    // the raw relative string it passed as checkpointLocation
    CdcPollRegistry.record(s"file:$cwd/ckpt-rel-pr17/sources/0", info)
    assert(CdcPollRegistry.lookup("ckpt-rel-pr17").contains(info),
      "a relative query checkpoint dir must find the qualified record")
    // and the reverse orientation
    val info2 = CdcPollRegistry.PollInfo(Set("dnB"), Set.empty)
    CdcPollRegistry.record("ckpt-rel-pr17b/sources/0", info2)
    assert(CdcPollRegistry.lookup(s"file:$cwd/ckpt-rel-pr17b")
      .contains(info2))
  }
  import spark.implicits._

  private val sid = java.util.UUID.fromString(
    "0a1b2c3d-6666-4444-3333-222211110000")

  private def ev(rows: Seq[(Long, String, Map[String, String], String)]) =
    rows.map { case (tso, op, after, ddl) =>
      (tso, tso, op, "db", "t", Map.empty[String, String], after, ddl,
        1700000000L)
    }.toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
      "after", "ddl", "tsoTime")

  private def writeCall(
      rows: Seq[(Long, String, Map[String, String], String)],
      reg: Map[(String, String), Seq[String]], prior: String,
      intoDir: String, asIndex: Int): Unit = {
    val d = java.nio.file.Files
      .createTempDirectory("graft-cdcsrc-call").toString
    BinlogWire.writeChangeStreamBinlogFiles(
      ev(rows).coalesce(1).sortWithinPartitions("tso"), reg, d,
      checksummed = true, gtidSid = Some(sid),
      priorExecuted = graft.model.GtidSet.parse(prior))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(d, "binlog.000000"),
      java.nio.file.Paths.get(intoDir, f"binlog.$asIndex%06d"))
  }

  private def ins(t: Long, valName: String, value: String) =
    (t, "INSERT", Map("k" -> s"$t", "seq" -> "1", valName -> value),
      null: String)

  test("micro-batch source: offsets are executed GTID sets; restart reads only new data from the checkpoint") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcsrc1")
    val served = s"$root/served"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(served))
    val reg = Map(("db", "t") -> Seq("k", "seq", "v"))
    writeCall((1L to 3L).map(t => ins(t, "v", s"a$t")), reg, "", served, 0)

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def runOnce(port: Int): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("endpoints", s"dn1@localhost:$port")
        .option("user", "repl").option("password", "pw")
        .option("tables", "db.t:k,seq,v")
        .load()
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= batch.select($"tso", $"after"("v"))
              .as[(Long, String)].collect()
          }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    val srv1 = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try runOnce(srv1.port) finally srv1.close()
    assert(seen.sorted.toSeq == (1L to 3L).map(t => (t, s"a$t")))

    // the checkpointed offset is the executed set; a restart drains
    // ONLY the complement — no startExecuted, no sidecar
    writeCall(Seq(ins(4L, "v", "a4"), ins(5L, "v", "a5")), reg,
      s"$sid:1-3", served, 1)
    seen.clear()
    val srv2 = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try runOnce(srv2.port) finally srv2.close()
    assert(seen.sorted.toSeq == Seq((4L, "a4"), (5L, "a5")))

    // idle source: a further restart sees no new batch at all
    seen.clear()
    val srv3 = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try runOnce(srv3.port) finally srv3.close()
    assert(seen.isEmpty)
  }

  test("STREAMING replica lifecycle: bootstrap → rename rebuild → failover restart, position from the checkpoint alone") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcsrc2")
    val served = s"$root/served"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(served))
    val regV1 = Map(("db", "t") -> Seq("k", "seq", "v"))
    val regV2 = Map(("db", "t") -> Seq("k", "seq", "v2"))
    val targets = Seq(WireReplicaJob.TableTarget("db", "t",
      Seq("k" -> "long", "seq" -> "long", "v" -> "string"),
      Seq("k"), "seq", s"$root/target", 2))
    val registryDir = s"$root/registry"

    // the streaming replica: routed apply with in-stream DDL, the
    // registry sidecar save (the decode side of the NEXT batch reads it
    // through the source's registryDir option) and a vacuum per batch
    def runReplica(port: Int): Unit =
      CdcReplica.start(spark, Seq(("dn1", "localhost", port)), "repl", "pw",
        regV1, targets, s"$root/ckpt", s"$root/stage_decoded", registryDir,
        txnsPerCommit = 2, vacuumEveryBatches = 1,
        trigger = Trigger.AvailableNow()).awaitTermination()
    def state(): Map[Long, String] =
      TxnApplier.readCurrent(spark, s"$root/target")
        .select($"k", col("v2")).as[(Long, String)].collect().toMap

    // phase 1: bootstrap txns 1..4
    writeCall((1L to 4L).map(t => ins(t, "v", s"a$t")), regV1, "", served, 0)
    val srv1 = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try runReplica(srv1.port) finally srv1.close()
    assert(TxnApplier.readCurrent(spark, s"$root/target")
      .select($"k", $"v").as[(Long, String)].collect().toMap
      == (1L to 4L).map(t => t -> s"a$t").toMap)

    // phase 2: rotation with an in-stream RENAME v -> v2 mid-log
    writeCall(Seq(ins(5L, "v", "a5"),
      (6L, "DDL", Map.empty[String, String],
        "ALTER TABLE t RENAME COLUMN v TO v2")), regV1, s"$sid:1-4",
      served, 1)
    writeCall(Seq(ins(7L, "v2", "b7"), ins(8L, "v2", "b8")), regV2,
      s"$sid:1-6", served, 2)
    val srv2 = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    try runReplica(srv2.port) finally srv2.close()
    assert(state() == ((1L to 5L).map(t => t -> s"a$t") ++
      Seq(7L -> "b7", 8L -> "b8")).toMap)
    assert(RegistrySidecar.resume(registryDir, regV1) == regV2)

    // phase 3: FAILOVER — promoted source, renumbered files, corrupted
    // fully-executed prefix (the restart can only succeed by pruning
    // it unopened), new txns 9..10. Same checkpoint, new port: the
    // repoint is just fresh options.
    val promoted = s"$root/promoted"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(promoted))
    new java.io.File(served).listFiles
      .filter(_.getName.startsWith("binlog.")).foreach { f =>
        val n = f.getName.stripPrefix("binlog.").toInt
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(promoted, f"binlog.${n + 500}%06d"))
      }
    writeCall(Seq(ins(9L, "v2", "b9"), ins(10L, "v2", "b10")), regV2,
      s"$sid:1-8", promoted, 503)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(promoted, "binlog.000500"),
      Array.fill[Byte](19)(0xFF.toByte),
      java.nio.file.StandardOpenOption.APPEND)
    val srv3 = new graft.sinks.BinlogDumpServer(promoted, "repl", "pw")
    try runReplica(srv3.port) finally srv3.close()
    assert(state() == ((1L to 5L).map(t => t -> s"a$t") ++
      Seq(7L -> "b7", 8L -> "b8", 9L -> "b9", 10L -> "b10")).toMap)
    // the rebuild's superseded versions were vacuumed by the batch hook
    assert(!new java.io.File(s"$root/target/data/v00000001").exists())
  }

  test("one STANDING query advances across triggers without restart") {
    // every other test restarts per phase; this one keeps ONE query
    // running while the producer rotates — the source must advance its
    // offset across triggers of the same run (repeated latestOffset
    // calls on one stream instance) and deliver each txn exactly once
    val root = java.nio.file.Files.createTempDirectory("graft-cdcsrc4")
    val served = s"$root/served"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(served))
    val reg = Map(("db", "t") -> Seq("k", "seq", "v"))
    writeCall((1L to 3L).map(t => ins(t, "v", s"a$t")), reg, "", served, 0)
    val srv = new graft.sinks.BinlogDumpServer(served, "repl", "pw")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val q = spark.readStream.format("graft-cdc")
        .option("endpoints", s"dn1@localhost:${srv.port}")
        .option("user", "repl").option("password", "pw")
        .option("tables", "db.t:k,seq,v")
        .load()
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= batch.select($"tso").as[Long].collect() }
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        assert(seen.synchronized(seen.sorted.toSeq) == Seq(1L, 2L, 3L))
        // the producer rotates mid-run; the SAME query picks it up
        writeCall(Seq(ins(4L, "v", "a4"), ins(5L, "v", "a5")), reg,
          s"$sid:1-3", served, 1)
        q.processAllAvailable()
        assert(seen.synchronized(seen.sorted.toSeq) == (1L to 5L))
      } finally q.stop()
    } finally srv.close()
  }

  test("replay filter keeps only transactions inside the offset range") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cdcsrc3").toString
    val reg = Map(("db", "t") -> Seq("k", "seq", "v"))
    BinlogWire.writeChangeStreamBinlogFiles(
      ev((1L to 5L).map(t => ins(t, "v", s"a$t")))
        .coalesce(1).sortWithinPartitions("tso"), reg, dir,
      checksummed = true, gtidSid = Some(sid))
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "binlog.000000"))
    // a replayed batch's range ends at :1-3; txns 4..5 arrived later
    val kept = CdcSegmentFilter.keepWithin(bytes,
      graft.model.GtidSet.parse(s"$sid:1-3"))
    val rows = graft.sources.ChangeEventSource
      .toChangeEvents("dn1", kept, reg, tsoFromXid = false).toSeq
    assert(rows.map(_.tso).sorted == Seq(1L, 2L, 3L))
    assert(rows.map(_.after("v")).sorted == Seq("a1", "a2", "a3"))
  }
}
