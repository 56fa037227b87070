package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.ChangeEvent

/** Structured-Streaming restatement of the Global-Binlog pipeline
  * (SURVEY §3.1): N change sources → union → filter → stateful transaction
  * assembly → heartbeat-window completeness gate → TSO-ordered sink.
  *
  * Reference semantics:
  *  - Sorter/TxnBuffer hold open transactions until COMMIT, discard on
  *    ROLLBACK, time out lost commits (polardbx-cdc-task/.../extractor/
  *    sort/Sorter.java:43-220; storage/TxnBuffer.java:56);
  *  - LogEventMerger emits a heartbeat window only when every source has
  *    reported the interval (merge/LogEventMerger.java:203-236;
  *    HeartBeatWindow.java:30), with force-complete after a threshold;
  *  - big-transaction state spills to RocksDB (storage/LogEventStorage
  *    .java:51) — in Spark, the RocksDB state store provider.
  */
object Pipeline {

  /** Session configs for big-state pipelines: RocksDB-backed streaming
    * state (the TxnBuffer→RocksDB spill analog, storage/LogEventStorage
    * .java:51 — in Spark it's one provider switch; state no longer bounded
    * by executor heap). Apply with `spark.conf.set`. */
  val rocksDbStateStore: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** One assembled transaction. */
  final case class TxnEnvelope(txnId: Long, tso: Long, nEvents: Int,
      ops: Seq[String], tables: Seq[String])

  /** Open-transaction buffer (public so Spark can derive its Encoder). */
  final case class TxnState(events: Seq[ChangeEvent])

  /** Stateful transaction assembly: buffer per txnId, emit envelope on
    * COMMIT, discard on ROLLBACK, evict abandoned state on timeout
    * (Sorter skip-whitelist semantics). `timeout = None` disables eviction
    * (no timeout-check micro-batches — right for replay/backfill runs);
    * production streams pass a duration to drop lost-commit transactions. */
  def assembleTransactions(events: Dataset[ChangeEvent],
      timeout: Option[String] = Some("30 seconds")): Dataset[TxnEnvelope] = {
    import events.sparkSession.implicits._
    val mode = if (timeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.txnId)
      .flatMapGroupsWithState[TxnState, TxnEnvelope](OutputMode.Append, mode) {
        (txnId: Long, it: Iterator[ChangeEvent], state: GroupState[TxnState]) =>
          if (state.hasTimedOut) {
            state.remove() // lost commit — drop, like the skip whitelist
            Iterator.empty
          } else {
            val buffered = state.getOption.map(_.events).getOrElse(Nil)
            val incoming = it.toList
            val all = buffered ++ incoming.filterNot(e =>
              e.op == "COMMIT" || e.op == "ROLLBACK")
            if (incoming.exists(_.op == "ROLLBACK")) {
              state.remove()
              Iterator.empty
            } else if (incoming.exists(_.op == "COMMIT")) {
              state.remove()
              val sorted = all.sortBy(_.traceId)
              val tso = (incoming ++ buffered).map(_.tso).max
              Iterator.single(TxnEnvelope(txnId, tso, sorted.size,
                sorted.map(_.op), sorted.map(_.tableName).distinct))
            } else {
              state.update(TxnState(all))
              timeout.foreach(state.setTimeoutDuration)
              Iterator.empty
            }
          }
      }
  }

  /** Heartbeat-window completeness gate (batch or foreachBatch form):
    * tumbling windows over the TSO time, a window passes only when every
    * expected source delivered a heartbeat in it. Returns
    * (window, n_events, n_sources, complete). */
  def heartbeatWindows(df: DataFrame, tsCol: String, sourceCol: String,
      windowLen: String, expectedSources: Int): DataFrame =
    df.groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col(sourceCol)).as("n_sources"))
      .withColumn("complete", col("n_sources") === expectedSources)

  /** Streaming heartbeat gate with watermark: late data beyond the
    * watermark is dropped (the force-complete analog — a window that
    * closed without all sources is surfaced as complete=false).
    *
    * The source count is EXACT, via two-phase distinct: pre-aggregate per
    * (window, source), then count rows per window — chained streaming
    * aggregations, supported since multiple-stateful-operator support.
    * The reference's barrier is exact (HeartBeatWindow.isComplete,
    * merge/HeartBeatWindow.java:30); an approx_count_distinct gate could
    * mark an incomplete window complete on HLL error, and a correctness
    * barrier must not be probabilistic. The per-(window,source) state is
    * bounded: sources × open windows rows. */
  def heartbeatWindowsStream(df: DataFrame, tsCol: String, sourceCol: String,
      windowLen: String, watermarkDelay: String,
      expectedSources: Int): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("__n_src_events"))
      .groupBy(col("w"))
      .agg(
        sum(col("__n_src_events")).as("n_events"),
        count(lit(1)).as("n_sources"))
      .withColumn("complete", col("n_sources") === expectedSources)
}
