package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.sketch

/** `curation_batch`: the batch curation family with no wire and no
  * streaming. Set-up generates a seeded corpus in the shape of the sf0.1
  * `documents` and `embeddings` tables (5000 word-soup documents over 20
  * sources with a few planted exact duplicates; 2000 64-d vectors in 10
  * clusters), then runs one warm-up pass. A timed pass materializes every
  * listed `SparkEntry` query with a noop write, as `graft.Bench` does.
  * The result fingerprint (row count and an order-free hash of the rows)
  * rides the same execution as an observed metric, so checking costs no
  * extra job; every pass must reproduce the warm-up pass, and the pinned
  * goldens where the seed has them. */
object CurationBatch {
  /** The rule: the query's main work is in `functions/expressions.scala`,
    * `text/` or `ml/`, it reads only the documents/embeddings tables, and
    * it costs under ~0.35 s at sf0.1 — plus q70, the top wall-clock cost of
    * the family, which is always listed. */
  val Queries: Seq[String] = Seq("q35_fingerprint", "q37_simhash",
    "q70_incremental_dedup", "q76_nfc_normalize", "q84_quantize_int8")

  /** Rows-only queries (approximate or order-dependent output): only the
    * row count is compared. */
  val RowsOnly: Set[String] = Set("q37_simhash", "q70_incremental_dedup")

  val WarmupPasses = 2

  private val Vocab = ("batch part spark line column order small sort fast " +
    "value scan a hash slow group agg filter query big key window row " +
    "table stream merge data join vector the customer").split(" ")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14,
    "fr" -> 0.15, "es" -> 0.15)

  final case class Shape(docs: Int, vecs: Int, dim: Int)
  def shape(tiny: Boolean): Shape =
    if (tiny) Shape(docs = 400, vecs = 200, dim = 64)
    else Shape(docs = 5000, vecs = 2000, dim = 64)

  /** Seeded documents: (doc_id, text, lang, source, n_chars). */
  def documents(seed: Long, s: Shape): Seq[(Long, String, String, String, Long)] = {
    val rnd = new java.util.Random(seed)
    val texts = Array.tabulate(s.docs) { _ =>
      val n = 8 + rnd.nextInt(90)
      Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    }
    // ~0.2% planted exact duplicates of an earlier document
    (1 until s.docs).foreach { i =>
      if (rnd.nextInt(500) == 0) texts(i) = texts(rnd.nextInt(i))
    }
    texts.indices.map { i =>
      val u = rnd.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) =>
        (l, acc + p) }.tail.find(_._2 >= u).map(_._1).getOrElse("en")
      (i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  /** Seeded embeddings: (vec_id, unit-norm float vector, cluster label). */
  def embeddings(seed: Long, s: Shape): Seq[(Long, Array[Float], Int)] = {
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val centroids = Array.fill(10, s.dim)(rnd.nextGaussian())
    (0 until s.vecs).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(s.dim)(j =>
        centroids(label)(j) + 0.6 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
  }

  def writeCorpus(spark: SparkSession, seed: Long, s: Shape, dir: String): Unit = {
    import spark.implicits._
    documents(seed, s).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(seed, s).map { case (i, v, l) => (i, v.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Runs one query to a noop sink; returns (ms, rows, hash). */
  def runQuery(spark: SparkSession, name: String, data: String)
      : (Double, Long, Long) = {
    val obs = Observation(name)
    val (_, ms) = Stats.timedMs {
      val df = SparkEntry.queries(name)(spark, data)
      val rowHash = xxhash64(to_json(struct(df.columns.map(c => col(c)): _*)))
      df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(rowHash.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("h"))
        .write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    (ms, m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** The pinned goldens: seed -> query -> (rows, hash). */
  def goldens(path: String): Map[Long, Map[String, (Long, Long)]] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val Line = """(\d+)\s+(\S+)\s+(\d+)\s+(-?\d+)""".r
      scala.io.Source.fromFile(f, "UTF-8").getLines().collect {
        case Line(seed, q, n, h) => (seed.toLong, q, (n.toLong, h.toLong))
      }.toSeq.groupBy(_._1).map { case (s, xs) =>
        s -> xs.map(x => x._2 -> x._3).toMap }
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val s = shape(ctx.opts.tiny)
    val data = ctx.fixture(3) { i =>
      val dir = ctx.dir(s"corpus$i")
      writeCorpus(spark, ctx.opts.seed, s, dir)
      dir
    }
    val pinned = if (ctx.opts.tiny) Map.empty[String, (Long, Long)]
      else goldens(sys.props.getOrElse("perfbench.goldens", ""))
        .getOrElse(ctx.opts.seed, Map.empty)
    // every pass must reproduce the warm-up pass, and the pinned goldens
    // where this seed has them
    val first = ctx.warmup((1 to WarmupPasses).map(_ => Queries.map { q =>
      val (_, n, h) = runQuery(spark, q, data)
      q -> (n, h)
    }.toMap).last)
    def same(q: String, a: (Long, Long), b: (Long, Long)) =
      if (RowsOnly(q)) a._1 == b._1 else a == b
    def check(q: String, got: (Long, Long)): Unit = {
      ctx.result.check(same(q, got, first(q)),
        s"$q: $got differs from the warm-up pass's ${first(q)}")
      pinned.get(q).foreach(p => ctx.result.check(same(q, got, p),
        s"$q: $got differs from the pinned golden $p"))
    }

    val samples = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val passS = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    var traced = 0
    val n = ctx.loop(minOps = 2, maxOps = 1000) { (_, on) =>
      val c0 = Stats.cpuNs()
      val (_, ms) = ctx.traced(on) {
        Stats.timedMs(Queries.foreach { q =>
          val (qms, rows, h) = ctx.trace.span("query") {
            ctx.trace.span(q)(runQuery(spark, q, data))
          }
          check(q, (rows, h))
          samples += ((q, qms, on))
        })
      }
      cpu += (Stats.cpuNs() - c0) / 1e9
      passS += ((ms / 1000.0, on))
      if (on) traced += 1
    }
    if (sys.props.contains("perfbench.printGoldens"))
      Queries.foreach(q => println(s"golden ${ctx.opts.seed} $q " +
        s"${first(q)._1} ${first(q)._2}"))
    val corpusRows = (s.docs + s.vecs).toDouble
    val r = ctx.result
    if (!ctx.opts.trace) {
      // the queries differ ~30x in cost, so a median over all samples jumps
      // between them; the geometric mean of per-query medians does not
      val perQuery = Queries.map(q =>
        Stats.median(samples.filter(_._1 == q).map(_._2).toSeq))
      r.put("op_ms", math.exp(perQuery.map(math.log).sum / perQuery.size), "ms")
      val batch = Stats.median(passS.map(_._1).toSeq)
      r.put("pass_s", batch, "s")
      r.put("rows_per_s", corpusRows / batch, "1/s")
      r.put("cpu_s", Stats.median(cpu.toSeq), "s")
    } else {
      Layers.overhead(ctx, passS.map { case (s, on) => (s * 1000.0, on) }.toSeq)
      ctx.trace.spanCounters("query", traced).foreach { case (c, v) =>
        r.put(s"query.$c", v, Layers.unitOf(c)) }
      Queries.foreach { q =>
        r.put(s"$q.ms", Stats.median(samples.filter(x => x._1 == q && x._3)
          .map(_._2).toSeq), "ms")
        r.put(s"$q.jobs", ctx.trace.spanCounters(q, traced)("jobs"), "count")
      }
      Kernels.run(ctx, graft.sources.Tables.documents(spark, data),
        graft.sources.Tables.embeddings(spark, data))
    }
    System.err.println(s"[perfbench] curation_batch: $n passes of " +
      s"${Queries.size} queries; " + Queries.map(q => s"$q " +
        samples.filter(_._1 == q).map(_._2.round).mkString("/")).mkString(", "))
  }
}

/** Kernel microbench: rows/s of each native `sketch` expression over one
  * fixed column of the generated corpus, beside the interpreted chain it
  * replaced where one exists. Inputs are cached first, so a timing is the
  * expression and its projection only. */
object Kernels {
  private val Mod = 2147483629L
  private val Reps = 3

  def run(ctx: Ctx, documents: DataFrame, embeddings: DataFrame): Unit = {
    val copies = if (ctx.opts.tiny) 1 else 4
    val docs = documents.select("text")
    val text = (1 until copies).foldLeft(docs)((d, _) => d.union(docs))
      .repartition(ctx.opts.cores)
      .withColumn("shingles", sketch.hashed_shingles(col("text"), 3))
      .withColumn("tokens", transform(split(col("text"), " "), t => xxhash64(t)))
      .cache()
    val vecs0 = embeddings.select("embedding")
    val vecs = (1 until copies).foldLeft(vecs0)((d, _) => d.union(vecs0))
      .repartition(ctx.opts.cores).cache()
    val nText = text.count()
    val nVec = vecs.count()

    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    def toks = split(col("text"), " ")
    val e = col("embedding")
    val norm = sqrt(hofDot(e, e))
    val cases: Seq[(String, DataFrame, Long, org.apache.spark.sql.Column)] = Seq(
      ("hashed_shingles", text, nText, sketch.hashed_shingles(col("text"), 3)),
      ("minhash_signature", text, nText,
        sketch.minhash_signature(col("shingles"), 64)),
      ("simhash64", text, nText, sketch.simhash64(col("tokens"))),
      ("nfc_normalize", text, nText, sketch.nfc_normalize(col("text"))),
      ("char_set_count", text, nText, sketch.char_set_count(col("text"), "aeiou")),
      ("char_set_count_chain", text, nText,
        length(col("text")) - length(translate(col("text"), "aeiou", ""))),
      ("han_count", text, nText, sketch.han_count(col("text"))),
      ("han_count_chain", text, nText,
        length(regexp_replace(col("text"), "[^\\p{IsHan}]", ""))),
      ("rolling_hash", text, nText, sketch.rolling_hash(col("text"), Mod)),
      ("rolling_hash_chain", text, nText,
        aggregate(split(col("text"), ""), lit(0L),
          (acc, ch) => pmod(acc * 31L + ascii(ch).cast("long"), lit(Mod)))),
      ("token_ngrams", text, nText, sketch.token_ngrams(col("text"), 3)),
      ("token_ngrams_chain", text, nText,
        when(size(toks) < 3, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(toks) - 3),
            i => array_join(slice(toks, i + 1, lit(3)), " ")))),
      ("vec_dot", vecs, nVec, sketch.vec_dot(e, e)),
      ("vec_l2sq", vecs, nVec, sketch.vec_l2sq(e, reverse(e))),
      ("vec_normalize", vecs, nVec, sketch.vec_normalize(e)),
      ("vec_normalize_chain", vecs, nVec,
        when(norm === 0.0, transform(e, x => x.cast("double")))
          .otherwise(transform(e, x => x.cast("double") / norm))))
    require(cases.map(_._1) == Layers.Kernels, "kernel list drifted")
    cases.foreach { case (name, df, rows, expr) =>
      val run = () => df.select(expr.as("out")).write.format("noop")
        .mode("overwrite").save()
      run()
      // a slow chain is timed once, so the microbench stays within seconds
      val first = Stats.timedMs(run())._2
      val ms = if (first > 1000) first
        else Stats.median(first +: (2 to Reps).map(_ => Stats.timedMs(run())._2))
      ctx.result.put(s"functions.$name.rows_per_s", rows / (ms / 1000.0), "1/s")
    }
    text.unpersist()
    vecs.unpersist()
  }
}
