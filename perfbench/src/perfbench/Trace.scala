package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded from the benchmark's own files around each call into a
  * layer, and the Spark counters of the jobs that ran inside them. A job
  * belongs to the span whose interval holds its submission time. The
  * listeners are registered only while tracing is on, so an untraced op
  * pays for none of this. */
final class Trace(spark: SparkSession) {
  private final case class Job(id: Int, start: Long, var end: Long,
      stages: Seq[Int])
  private final class StageSum {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var input = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
    var output = 0L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageSums = mutable.Map.empty[Int, StageSum]
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val progress =
    mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private var onProgress: StreamingQueryListener.QueryProgressEvent => Unit =
    _ => ()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        jobs += Job(e.jobId, e.time, -1L, e.stageIds)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        Trace.this.synchronized {
          val s = stageSums.getOrElseUpdate(e.stageId, new StageSum)
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.input += m.inputMetrics.bytesRead
          s.shRead += m.shuffleReadMetrics.totalBytesRead
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          s.output += m.outputMetrics.bytesWritten
        }
      }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      Trace.this.synchronized(progress += e)
      onProgress(e)
    }
  }

  private var on = false

  def start(progressHook: StreamingQueryListener.QueryProgressEvent => Unit =
      _ => ()): Unit = if (!on) {
    onProgress = progressHook
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(queryListener)
    on = true
  }

  /** Stops recording after every event already posted has been delivered. */
  def stop(): Unit = if (on) {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(queryListener)
    on = false
  }

  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      if (on) synchronized(spans += ((name, t0, t1)))
    }
  }

  def progressEvents: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(progress.map(_.progress).toSeq)

  /** The per-span counters: jobs, stages, tasks, driver-only time (span wall
    * minus the union of its job intervals), executor time and bytes. Each is
    * the total over every interval of the span divided by `per`. */
  def spanCounters(name: String, per: Double): Map[String, Double] =
    synchronized {
      val ivs = spans.filter(_._1 == name).map(s => (s._2, s._3))
      val mine = jobs.filter(j => ivs.exists { case (a, b) =>
        j.start >= a && j.start <= b })
      val stageIds = mine.flatMap(_.stages).distinct
      val sums = stageIds.flatMap(stageSums.get)
      val wall = ivs.map { case (a, b) => b - a }.sum.toDouble
      val covered = ivs.map { case (a, b) =>
        val cut = mine.filter(j => j.start >= a && j.start <= b)
          .map(j => (j.start, math.min(if (j.end < 0) b else j.end, b)))
          .sortBy(_._1)
        var total = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        cut.foreach { case (s, e) =>
          if (s > curB) {
            if (curB > curA) total += curB - curA
            curA = s; curB = e
          } else curB = math.max(curB, e)
        }
        if (curB > curA) total += curB - curA
        total
      }.sum.toDouble
      val d = if (per <= 0) 1.0 else per
      Map(
        "jobs" -> mine.size / d,
        "stages" -> stageIds.size / d,
        "tasks" -> sums.map(_.tasks).sum / d,
        "driver_only_ms" -> (wall - covered) / d,
        "executor_cpu_ms" -> sums.map(_.cpuNs).sum / 1e6 / d,
        "executor_run_ms" -> sums.map(_.runMs).sum / d,
        "gc_ms" -> sums.map(_.gcMs).sum / d,
        "bytes_input" -> sums.map(_.input).sum / d,
        "shuffle_read" -> sums.map(_.shRead).sum / d,
        "shuffle_write" -> sums.map(_.shWrite).sum / d,
        "spill" -> sums.map(_.spill).sum / d,
        "output" -> sums.map(_.output).sum / d)
    }
}

object Trace {
  val SpanCounters: Seq[String] = Seq("jobs", "stages", "tasks",
    "driver_only_ms", "executor_cpu_ms", "executor_run_ms", "gc_ms",
    "bytes_input", "shuffle_read", "shuffle_write", "spill", "output")
}
