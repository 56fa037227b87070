package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.{Filters, TxnApplier}

/** Full-copy → incremental handoff: stand up a replica by copying the
  * source snapshot, recording the snapshot position, then applying the
  * change stream from exactly that position — as one orchestrated job.
  *
  * Reference semantics: the RPL state machine drives FULL_COPY, persists
  * the position it covered, then transitions the task to INCREMENTAL
  * starting there (polardbx-cdc-rpl/.../taskmeta/FSMMetaManager.java —
  * state transitions and position persistence; DataImportTask full→incr
  * sequencing). Without the orchestration a user runs the two halves by
  * hand and the position hand-across is where replicas silently diverge.
  *
  * Spark restatement: the target itself IS the state machine. The
  * manifest-versioned txn target's `_current` pointer (version, lastTso)
  * is the persisted FSM state:
  *
  *  - pointer absent  → FULL state: bootstrap the target from the
  *    snapshot as version 1, stamping `snapshotTso` as the position the
  *    copy covers — one atomic transition, the copy and its position
  *    commit together (the reference persists them in taskmeta);
  *  - pointer present → INCREMENTAL state: stream micro-batches through
  *    `TxnApplier.applyBatch`, which applies only transactions past the
  *    committed `lastTso` — the handoff filter, restart recovery and
  *    replay idempotence are all the same one check.
  *
  * A crash anywhere re-enters `run` safely: before the bootstrap commit
  * the copy redoes; after it, the job drops straight into incremental and
  * resumes at whatever `lastTso` the target last committed. The snapshot
  * copy is one distributed write (chunk-parallel by Spark partitioning;
  * for JDBC-ish sources feed a `FullCopy.jdbcPredicates`-partitioned
  * frame as `snapshot`).
  */
object HandoffJob {

  /** Start (or resume) the handoff pipeline; returns the incremental
    * stream. `snapshot` must be the source state AS OF `snapshotTso` —
    * every change with tso ≤ snapshotTso folded in, none after. */
  def run(spark: SparkSession, snapshot: DataFrame, snapshotTso: Long,
      sourceDir: String, sourceSchema: StructType,
      spec: Filters.ReplicaSpec, dbCol: String, tableCol: String,
      keyCols: Seq[String], seqCol: String, opCol: String, tsoCol: String,
      targetDir: String, checkpointDir: String,
      nBuckets: Int = 64, txnsPerCommit: Int = 1,
      continuous: Option[String] = None): StreamingQuery = {
    if (TxnApplier.currentCommit(targetDir).isEmpty)
      TxnApplier.bootstrap(snapshot, keyCols, targetDir, nBuckets,
        initialTso = snapshotTso)
    val src = spark.readStream
      .schema(sourceSchema)
      .option("maxFilesPerTrigger", 16)
      .parquet(sourceDir)
    val trigger = continuous match {
      case Some(interval) => Trigger.ProcessingTime(interval)
      case None => Trigger.AvailableNow()
    }
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-check: that is an extra scan of every micro-batch;
        // an empty stage probes no pair, so the apply runs no job
        val filtered = Filters.replicaFilter(batch, spec, dbCol, tableCol)
        TxnApplier.applyBatch(TxnApplier.stage(filtered, keyCols, tsoCol,
            nBuckets, s"$checkpointDir/_apply_stage"),
          keyCols, seqCol, opCol, tsoCol, targetDir, nBuckets, txnsPerCommit)
        ()
      }
      .start()
  }
}
