package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.jobs.WireReplicaJob
import graft.operators.TxnApplier

/** THE GTID standing replica: the `graft-cdc` source wired to the
  * routed transaction-preserving apply as ONE checkpointed
  * StreamingQuery, with Spark owning triggers, offsets, restart
  * recovery, progress metrics, and the streaming UI. Its upstream must
  * carry GTID events (the source refuses a GTID-less log); a log
  * written without a GTID sid replicates through the (file, pos) dump
  * runner in `graft.jobs` (the refusal names it).
  *
  * Per micro-batch: the decoded multi-table change batch stages once
  * ([[WireReplicaJob.stageRouted]]), and that one staging write also
  * observes each routed table's (tso, bucket) pairs and the DDL rows, so
  * routing, both DDL folds and every table's commit plan run no job of
  * their own. The batch then runs the standing replicas' one trigger
  * step, [[WireReplicaJob.applyTrigger]]: the DDL-aware routed apply
  * (per-table committed-TSO gates make replayed batches exactly-once;
  * in-stream ADD/DROP evolve metadata-only, MODIFY/CHANGE/RENAME rebuild
  * in place) in `applyMode` (Auto by default), the wire name registry's
  * evolution persisted to the `registryDir` sidecar (the NEXT batch's
  * decode reads it through the source's registryDir option), and an
  * optional maintenance cadence that folds delta chains and vacuums.
  * What remains per trigger is the source poll, the staging write and
  * one write query per present table.
  *
  * Restart story: kill the query, start it again with the same
  * `checkpointDir` — the offset log holds the per-DN executed GTID
  * sets, so the replica resumes at the last committed batch; repoint
  * `endpoints` at a promoted source across the restart and the same
  * checkpoint keeps the position (GTID cursors name transactions, not
  * files). The registry sidecar ([[graft.sinks.RegistrySidecar]])
  * carries column renames across the restart.
  *
  * Liveness: a [[StallMonitor]] added with `spark.streams.addListener`
  * counts an idle trigger whose every dialed DN answered with a
  * HEARTBEAT frame (a server with idle heartbeats on) as live, so a
  * caught-up replica of an idle source never raises `no_data`.
  */
object CdcReplica {

  def start(spark: SparkSession,
      endpoints: Seq[(String, String, Int)],
      user: String, password: String,
      tableCols: Map[(String, String), Seq[String]],
      targets: Seq[WireReplicaJob.TableTarget],
      checkpointDir: String, stagingDir: String, registryDir: String,
      txnsPerCommit: Int = 8,
      vacuumEveryBatches: Long = 0L,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      maxBytesPerPoll: Long = CdcConf.DefaultMaxBytesPerPoll,
      startExecuted: Map[String, String] = Map.empty,
      soTimeoutMs: Int = 30000,
      serverId: Long = 12345L,
      applyMode: TxnApplier.ApplyMode = TxnApplier.ApplyMode.Auto(),
      compactAfter: Int = 32,
      compactMaxBuckets: Int = Int.MaxValue): StreamingQuery = {
    // the option strings reuse the sidecar/offset delimiters — refuse
    // names that would corrupt them (same guard family as RegistrySidecar)
    endpoints.foreach { case (dn, _, _) =>
      require(!dn.exists(c => "\"\\,;=@/".contains(c) || c.isWhitespace),
        s"DN name '$dn' carries option/offset/path delimiters")
    }
    tableCols.foreach { case ((s, t), cols) =>
      require(!(s + t).exists(";:,".contains(_)) && !s.contains("."),
        s"table name '$s'.'$t' carries option delimiters")
      require(cols.forall(c => !c.exists(";:,".contains(_))),
        s"column names of '$s'.'$t' carry option delimiters")
    }
    val reader = spark.readStream.format("graft-cdc")
      .option("endpoints",
        endpoints.map { case (dn, h, p) => s"$dn@$h:$p" }.mkString(","))
      // a replica's upstream is a PRODUCED wire log (writer-enforced
      // per-SID tso order), so the compact range-claim cursor is sound
      // — without it, a fan-out stream's sparse gno space grows the
      // streaming offset O(consumed transactions) (20 MB per batch at
      // the sf1 rehearsal scale)
      .option("rangeClaimOffsets", "true")
      .option("user", user).option("password", password)
      .option("tables", tableCols.map { case ((s, t), cols) =>
        s"$s.$t:${cols.mkString(",")}"
      }.mkString(";"))
      .option("registryDir", registryDir)
      .option("maxBytesPerPoll", maxBytesPerPoll.toString)
      .option("soTimeoutMs", soTimeoutMs.toString)
      .option("serverId", serverId.toString)
    val withStart =
      if (startExecuted.isEmpty) reader
      else reader.option("startExecuted", startExecuted
        .map { case (dn, set) => s"$dn=$set" }.mkString(";"))
    withStart.load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // the maintenance cadence runs off Spark's MONOTONIC batchId (not
        // a closure counter, which would reset on every query restart and
        // drift the schedule)
        WireReplicaJob.applyTrigger(
          WireReplicaJob.stageRouted(batch, stagingDir, targets), targets,
          tableCols, registryDir, batchId, txnsPerCommit, None,
          vacuumEveryBatches, applyMode, compactAfter, compactMaxBuckets)
      }
      .trigger(trigger)
      .start()
  }
}
