package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** One raised alarm: `kind` is "no_data" (the source has produced zero
  * rows for longer than the threshold) or "merge_delay" (the newest
  * event time the pipeline has merged lags wall clock past the
  * threshold). */
final case class StallAlarm(queryId: String, kind: String, batchId: Long,
    lagSeconds: Long, thresholdSeconds: Long)

/** No-data / stall watchdog over standing queries.
  *
  * Reference semantics: the merger alarms when no tokens arrive past a
  * threshold and tracks merge delay = now − newest merged event time
  * (polardbx-cdc-task/.../merge/LogEventMerger.java:347-373,
  * ALARM_NODATA_THRESHOLD). A pipeline that is "running" but silent is
  * an incident — upstream died, a filter eats everything, or the source
  * position is wedged — and throughput metrics alone never page anyone.
  *
  * Spark restatement: a StreamingQueryListener — progress events already
  * carry per-batch input row counts and (via `Dataset.observe`) any
  * event-time watermark the pipeline taps, so the watchdog costs zero
  * extra passes at any scale; it reads driver-side progress metadata,
  * never data. Attach with `spark.streams.addListener(monitor)`.
  *
  * `delayMetric` names an observation on the streaming DataFrame (e.g.
  * `df.observe("graft_tap", max(col("tsoTime").cast("long")).as("max_ts"))`)
  * whose column yields the newest merged event time in epoch seconds;
  * when set, merge delay is checked against `mergeDelayThresholdSeconds`.
  *
  * After a no-data alarm the silence clock re-arms, so a wedged source
  * raises one alarm per threshold window instead of one per trigger. */
final class StallMonitor(noDataThresholdSeconds: Long,
    mergeDelayThresholdSeconds: Long = Long.MaxValue,
    delayMetric: Option[(String, String)] = None,
    now: () => Long = () => System.currentTimeMillis())
  extends StreamingQueryListener {

  private val lastDataMs = TrieMap.empty[String, Long]
  private val raised = new ConcurrentLinkedQueue[StallAlarm]()

  /** Alarms raised so far, oldest first. */
  def alarms: Seq[StallAlarm] = raised.iterator().asScala.toSeq

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = {
    lastDataMs.put(e.id.toString, now())
    ()
  }

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val maxEventTime = delayMetric.flatMap { case (name, colName) =>
      Option(p.observedMetrics.get(name)).flatMap { row =>
        row.getAs[Any](colName) match {
          case null => None
          case n: Number => Some(n.longValue())
          case t: java.sql.Timestamp => Some(t.getTime / 1000)
          case i: java.time.Instant => Some(i.getEpochSecond)
          case other => sys.error(s"stall monitor: observed metric " +
            s"$name.$colName has non-temporal type ${other.getClass}")
        }
      }
    }
    record(p.id.toString, p.batchId, p.numInputRows, maxEventTime)
  }

  // a trigger with no available data emits Idle, not Progress — for the
  // watchdog that IS the signal: an idle trigger is a zero-row batch,
  // unless every DN its graft-cdc source dialed answered with a
  // HEARTBEAT frame (the source is idle, the dialogue alive; reference
  // TsoHeartbeat.java:53-67, progress guaranteed even when idle)
  override def onQueryIdle(
      e: StreamingQueryListener.QueryIdleEvent): Unit = {
    val id = e.id.toString
    if (CdcPollRegistry.heardHeartbeat(id)) lastDataMs.put(id, now())
    else record(id, batchId = -1L, numInputRows = 0L, None)
    ()
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    lastDataMs.remove(e.id.toString)
    ()
  }

  /** Batch-poller entry: a standing POLL loop (the (file, pos) live
    * replica runner) has no StreamingQuery and hence no listener
    * events — it reports each trigger's input here instead and gets
    * back any alarms the call raised. Same thresholds, same re-arm
    * behavior. */
  def noteBatch(loopId: String, batchId: Long, numInputRows: Long,
      maxEventTimeSec: Option[Long] = None): Seq[StallAlarm] =
    record(loopId, batchId, numInputRows, maxEventTimeSec)

  /** The watchdog core, one call per progress event — separated so the
    * threshold logic is testable without standing up real streams. */
  private[streaming] def record(queryId: String, batchId: Long,
      numInputRows: Long, maxEventTimeSec: Option[Long]): Seq[StallAlarm] = {
    val t = now()
    val out = Seq.newBuilder[StallAlarm]
    if (numInputRows > 0) lastDataMs.put(queryId, t)
    else {
      val since = lastDataMs.getOrElseUpdate(queryId, t)
      val silentSec = (t - since) / 1000
      if (silentSec >= noDataThresholdSeconds) {
        out += StallAlarm(queryId, "no_data", batchId, silentSec,
          noDataThresholdSeconds)
        lastDataMs.put(queryId, t) // re-arm: one alarm per window
      }
    }
    maxEventTimeSec.foreach { maxTs =>
      val delaySec = t / 1000 - maxTs
      if (delaySec >= mergeDelayThresholdSeconds)
        out += StallAlarm(queryId, "merge_delay", batchId, delaySec,
          mergeDelayThresholdSeconds)
    }
    val result = out.result()
    result.foreach(raised.add)
    result
  }
}
