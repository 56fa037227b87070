package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run, named `<module>.<what>`. Every
  * run reports every name; a layer a workload does not reach reads 0. */
object Layers {
  val Spans: Seq[String] = Seq("drain", "apply", "read", "query")

  val Kernels: Seq[String] = Seq("hashed_shingles", "minhash_signature",
    "simhash64", "nfc_normalize", "char_set_count", "char_set_count_chain",
    "han_count", "han_count_chain", "rolling_hash", "rolling_hash_chain",
    "token_ngrams", "token_ngrams_chain", "vec_dot", "vec_l2sq",
    "vec_normalize", "vec_normalize_chain")

  /** (name, unit) of every per-layer metric. */
  val names: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms",
    "sources.get_batch_ms" -> "ms",
    "sources.bytes_in" -> "bytes",
    "sources.dn_lag_max" -> "count",
    "streaming.triggers" -> "count",
    "streaming.add_batch_ms" -> "ms",
    "streaming.wal_ms" -> "ms",
    "streaming.held_rows_max" -> "count",
    "streaming.held_segments_max" -> "count",
    "sinks.wire_bytes" -> "bytes",
    "sinks.wire_files" -> "count",
    "sinks.wire_bytes_per_row" -> "bytes",
    "operators.commits" -> "count",
    "operators.versions" -> "count",
    "operators.target_bytes" -> "bytes",
    "operators.max_chain" -> "count",
    "operators.compactions" -> "count",
    "replica.apply_ms_p90" -> "ms",
    "replica.read_ms_p50" -> "ms",
    "trace.overhead_ms" -> "ms",
    "trace.overhead_frac" -> "ratio") ++
    Kernels.map(k => s"functions.$k.rows_per_s" -> "1/s") ++
    CurationBatch.Queries.flatMap(q => Seq(s"$q.ms" -> "ms",
      s"$q.jobs" -> "count")) ++
    Spans.flatMap(s => Trace.SpanCounters.map(c => s"$s.$c" -> unitOf(c)))

  def unitOf(counter: String): String =
    if (counter.endsWith("_ms")) "ms"
    else if (Seq("jobs", "stages", "tasks").contains(counter)) "count"
    else "bytes"

  /** Source and micro-batch figures from the traced progress events, per
    * traced op: durations, trigger count, drained bytes and DN lag. */
  def streaming(ctx: Ctx, tracedOps: Int): Unit = {
    val ev = ctx.trace.progressEvents.filter(_.numInputRows > 0)
    val per = math.max(tracedOps, 1).toDouble
    def dur(k: String) =
      ev.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))
        .sum / per
    val srcMetrics = ev.flatMap(_.sources.toSeq).map(_.metrics.asScala.toMap)
    val r = ctx.result
    r.put("sources.latest_offset_ms", dur("latestOffset"), "ms")
    r.put("sources.get_batch_ms", dur("getBatch"), "ms")
    r.put("sources.bytes_in", srcMetrics.flatMap(_.get("drainedBytes"))
      .map(_.toDouble).sum / per, "bytes")
    r.put("sources.dn_lag_max", srcMetrics.flatMap(_.collect {
      case (k, v) if k.startsWith("pendingTxns.") => v.toDouble })
      .maxOption.getOrElse(0.0), "count")
    r.put("streaming.triggers", ev.size / per, "count")
    r.put("streaming.add_batch_ms", dur("addBatch"), "ms")
    r.put("streaming.wal_ms", dur("walCommit") + dur("commitOffsets"), "ms")
  }

  /** Tracing overhead: median traced op minus median untraced op. The
    * first op, untraced and the least warm, is left out unless it is the
    * only untraced one. */
  def overhead(ctx: Ctx, ops: Seq[(Double, Boolean)]): Unit = {
    val rest = if (ops.size > 2) ops.drop(1) else ops
    val on = Stats.median(rest.filter(_._2).map(_._1))
    val off = Stats.median(rest.filterNot(_._2).map(_._1))
    ctx.result.put("trace.overhead_ms", on - off, "ms")
    ctx.result.put("trace.overhead_frac", if (off > 0) (on - off) / off
      else 0.0, "ratio")
  }

  /** Span counters per traced op of each span. */
  def spans(ctx: Ctx, perSpan: Seq[(String, Int)]): Unit =
    perSpan.foreach { case (s, n) =>
      ctx.trace.spanCounters(s, n).foreach { case (c, v) =>
        ctx.result.put(s"$s.$c", v, unitOf(c))
      }
    }

  /** Fills every per-layer name the workload did not report with 0; a
    * workload's own extra names follow. */
  def complete(r: Result): Unit = {
    val got = r.metrics.clone()
    r.metrics.clear()
    names.foreach { case (n, u) =>
      val (v, unit) = got.getOrElse(n, (0.0, u))
      r.put(n, v, unit)
    }
    got.foreach { case (n, (v, u)) => if (!r.metrics.contains(n)) r.put(n, v, u) }
  }
}
