package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{GraftSession, SparkEntry}

/** Per-job profiler for a declared query under the Bench config: runs a
  * warm pass, then one timed pass with a listener recording every Spark
  * job's wall time and description — the "which action inside this
  * operator is the expensive one" measurement the optimization guide
  * (§1) starts from, without the UI (disabled in the sandbox).
  * Usage: sbt "runMain graft.tools.ProfileQuery <sfDir> <query> [query..]"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val (scratch, localDir) = GraftSession.scratch("graft-prof", None)
    val spark = GraftSession.build("graft-profile", GraftSession.cores,
      Some(localDir))

    final case class Job(id: Int, desc: String, start: Long,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val desc = Seq(
          prop("spark.sql.execution.id").map(id => s"exec=$id"),
          prop("spark.job.description").orElse(prop("callSite.short")))
          .flatten.mkString(" ")
        val job = Job(j.jobId, desc, j.time)
        job.stages = j.stageInfos.size
        job.tasks = j.stageInfos.map(_.numTasks).sum
        jobs.put(j.jobId, job)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach(_.end = j.time)
      }
    }

    // streaming lifecycle attribution: every QueryProgressEvent's
    // durationMs breakdown (triggerExecution, queryPlanning, walCommit,
    // addBatch, latestOffset, ...) plus start/termination timestamps —
    // the "where do the non-job seconds of a streaming query go" surface
    val streamEvents =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val streamListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = {
          streamEvents.add(
            s"[stream ${System.currentTimeMillis()}] started ${e.id}")
          ()
        }
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          import scala.jdk.CollectionConverters._
          val d = e.progress.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          streamEvents.add(
            s"[stream ${System.currentTimeMillis()}] batch=" +
              s"${e.progress.batchId} rows=${e.progress.numInputRows} $d")
          ()
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
          streamEvents.add(
            s"[stream ${System.currentTimeMillis()}] terminated ${e.id}")
          ()
        }
      }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass (JIT, codegen cache, staged inputs)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      jobs.clear()
      streamEvents.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(streamListener)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      spark.streams.removeListener(streamListener)
      Thread.sleep(200) // let listener events drain
      println(s"===== $name total=${f"$total%.3f"}s jobs=${jobs.size} =====")
      import scala.jdk.CollectionConverters._
      val all = jobs.values.asScala.toSeq.sortBy(_.start)
      val sumMs = all.map(j => math.max(0L, j.end - j.start)).sum
      println(f"sum(job wall)=${sumMs / 1000.0}%.3fs (gaps = driver/plan time)")
      all.foreach { j =>
        val dur = math.max(0L, j.end - j.start)
        println(f"  job ${j.id}%4d @${j.start - w0}%6d +${dur}%5d ms stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(100)}")
      }
      streamEvents.asScala.foreach { s =>
        // rewrite absolute ms to query-relative offsets for readability
        val p = s.indexOf(' ')
        val q = s.indexOf(']')
        val ts = s.substring(p + 1, q).toLong
        println(s"  [stream @${ts - w0}]${s.substring(q + 1)}")
      }
    }
    spark.stop()
    GraftSession.dropScratch(scratch)
  }
}
