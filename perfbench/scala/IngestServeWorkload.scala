package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Bm25, Dedup, Pq, QualityClassifier, Similarity, Text}
import graft.pipeline.IngestPipeline
import graft.pipeline.IngestPipeline._

/** `ingest_serve`: the seeded stream replayed closed-loop through
  * `IngestPipeline.ingestBatch`, one 50-doc batch after the other, with
  * serve calls against the indexes: IVF and IVF-PQ, which the loop grows,
  * and a BM25 index over the history.
  *
  * Gates on: exact (fingerprint index), hot-span scrub, lang-id, quality
  * model, winnowing decontamination and the feed-cardinality sketch. Gates
  * off, because one batch with them does not fit a run: near-dup band
  * probe, semantic IVF probe, BM25 retrieval decontamination and the
  * perplexity gate (see perfbench/README.md for the per-gate costs).
  *
  * Set-up installs the history, eval suite, indexes and models and serves
  * one round. The timed cycle is the loop's first batch and `ServeRounds`
  * rounds of serve calls, then `maintain` (IVF and PQ health, hot-span
  * refresh, index folds) and `ServeRounds` more rounds. The first batch
  * carries the ingest path's JIT and codegen warm-up: a warm-up batch does
  * not fit a run.
  */
final class IngestServeWorkload(
    spark: SparkSession, o: Opts, tracer: Tracer, rep: Report, heap: Main.HeapWatch) {

  private val K = 10
  private val ServeRounds = 1
  private val QueriesPerCall = 4
  private val BatchDocs = 50
  /** Stream kinds that the exact and decontamination gates stop. */
  private val Stopped = Set("exact_dup", "eval_leak")

  private val paths = IngestPaths(s"${o.work}/ingest")
  private val bm25Serve = s"${o.work}/ingest/bm25_serve"

  private def table(name: String): DataFrame = spark.read.parquet(s"${o.corpus}/$name.parquet")

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private val termSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false), StructField("term", StringType)))

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, o.cores), schema)

  /** Installs everything the gates and serve calls read; returns the
    * lang-id and quality gates (their models travel in the config). The
    * three independent chains (text indexes, models, vector indexes) run
    * on their own threads, as a deployment would install them.
    */
  private def install(): (LangGateConfig, QualityGateConfig) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val text = Future {
        val span = SpanScrubConfig()
        Dedup.writeSpanCountIndex(table("history"), paths.spanIndex, k = span.k,
          minCount = span.minCount)
        Dedup.refreshHotSpanList(spark, paths.spanIndex)
        // the indexes hold history as the loop would have landed it: scrubbed
        val landed = Text.scrubAgainstHotList(table("history"), "text", "doc_id", span.k,
          Dedup.readHotSpanList(spark, paths.spanIndex)).cache()
        Dedup.writeFingerprintIndex(landed, paths.fpIndex)
        Bm25.buildIndex(landed, "text", "doc_id", bm25Serve)
        landed.unpersist()
      }
      val models = Future {
        Dedup.writeEvalIndex(table("eval"), paths.evalIndex, k = 8, w = 4)
        (LangGateConfig(QualityClassifier.trainCentroidMulti(table("lang"), "text", "lang"), Set("en")),
          QualityGateConfig(QualityClassifier.trainCentroid(table("quality"), "text", "label")))
      }
      val vectors = Future {
        val historyEmb = table("history_emb")
        val cents = Similarity.kmeansCentroids(historyEmb, k = 16, iters = 2)
        Similarity.writeIvfIndex(historyEmb, cents, paths.ivfIndex)
        val pq = Pq.train(historyEmb, Pq.initCodebooks(historyEmb, dims = 64, m = 16, k = 16), iters = 1)
        Pq.writeIvfPqIndex(historyEmb, cents, pq, paths.ivfPqIndex)
      }
      Await.result(text, Duration.Inf)
      Await.result(vectors, Duration.Inf)
      Await.result(models, Duration.Inf)
    } finally pool.shutdown()
  }

  def run(): Unit = {
    val stream = table("stream").orderBy("doc_id").collect()
    val embs = table("stream_emb").collect().map(r => r.getLong(0) -> r).toMap
    val byBatch = stream.groupBy(_.getAs[Int]("batch"))
    val truth = stream.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("kind")).toMap
    val terms = table("serve_terms").collect()
    val vecs = table("serve_vecs").collect()
    val (langGate, qualityGate) = tracer.span("install", "setup")(install())
    // untraced runs ingest batch 0, traced runs batches 0 to 3
    val offered = (0 to (if (o.trace) 3 else 0)).flatMap(b => byBatch(b).toSeq)
    val modelPass = modelVerdicts(offered, langGate, qualityGate)

    val funnels = mutable.ArrayBuffer.empty[FunnelReport]
    val accepted = mutable.LinkedHashMap.empty[Int, Long] // batch -> accepted docs
    var round = 0

    def ingest(b: Int, withFunnel: Boolean): Double = {
      val rows = byBatch(b).toSeq
      val docs = frame(rows.map(r => Row(r.getAs[Long]("doc_id"), r.getAs[String]("text"))), docSchema)
      val emb = frame(rows.map(r => embs(r.getAs[Long]("doc_id"))), embSchema)
      rep.attempted += 1
      val t0 = System.nanoTime()
      val n = tracer.span(s"batch-$b", "ingest_batch") {
        // batch ids start at 1: the installed indexes are generation 0, and
        // a batch publishing under an existing generation is a replay, so
        // its fingerprints and span counts would be skipped
        IngestPipeline.ingestBatch(spark, paths, docs, b.toLong + 1, embedBatch = Some(emb),
          decontam = Some(DecontamConfig()), spanScrub = Some(SpanScrubConfig()),
          langGate = Some(langGate), qualityGate = Some(qualityGate),
          cardSketch = Some(CardSketchConfig()),
          funnelSink = if (withFunnel) Some((f: FunnelReport) => funnels += f) else None)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      accepted(b) = n
      if (n <= 0) rep.fail(s"batch $b accepted nothing")
      ms
    }

    def maintain(upTo: Int): Double = {
      val t0 = System.nanoTime()
      tracer.span(s"maintain-$upTo", "maintain") {
        IngestPipeline.maintain(spark, paths, health = Some(IvfHealthConfig(sampleQueries = 4)),
          pqHealth = Some(PqHealthConfig(sampleQueries = 4)))
      }
      (System.nanoTime() - t0) / 1e6
    }

    /** One round: a BM25, an IVF and an IVF-PQ call, each for
      * `QueriesPerCall` queries; returns the three latencies. */
    def serveRound(): Seq[Double] = {
      val qIds = (0 until QueriesPerCall).map(i => (round * QueriesPerCall + i) % 16).toSet
      round += 1
      val probes = terms.filter(r => qIds.contains(r.getLong(0).toInt)).toSeq
      val qv = vecs.zipWithIndex.collect { case (r, i) if qIds.contains(i) => r }.toSeq
      Seq[(String, () => DataFrame)](
        "bm25" -> (() => Bm25.search(spark, frame(probes, termSchema), bm25Serve, K)),
        "ivf" -> (() => Similarity.queryIvfIndex(spark, paths.ivfIndex, frame(qv, embSchema),
          nProbe = 4, k = K)),
        "pq" -> (() => Pq.queryIvfPqIndex(spark, paths.ivfPqIndex, frame(qv, embSchema),
          nProbe = 4, k = K))
      ).map { case (kind, call) =>
        rep.attempted += 1
        val t0 = System.nanoTime()
        val rows = try {
          tracer.span(s"$kind-$round", s"serve_$kind") {
            val df = tracer.span(kind, "build") {
              val built = call()
              tracer.recordAnalysis(built)
              built
            }
            tracer.span(kind, "materialize")(df.collect())
          }
        } catch { case t: Throwable => rep.fail(s"serve $kind threw $t"); Array.empty[Row] }
        val ms = (System.nanoTime() - t0) / 1e6
        checkServe(kind, rows, qIds.size)
        ms
      }
    }

    def checkServe(kind: String, rows: Array[Row], nQueries: Int): Unit = {
      val byQuery = rows.groupBy(r => r.getAs[Long]("query_id"))
      val ok = byQuery.size == nQueries && byQuery.values.forall { rs =>
        rs.map(_.getAs[Number]("rank").intValue).sorted.toSeq == (1 to K)
      }
      if (!ok) rep.fail(s"serve $kind: expected ranks 1..$K for each of $nQueries queries, got " +
        byQuery.map { case (q, rs) => s"$q:${rs.length}" }.mkString(","))
    }

    // set-up ends with one serve round: the timed rounds then are warm, so
    // their median and tail compare like with like
    serveRound()
    val setupS = Main.uptimeS()
    heap.sample()

    /** Batch b and its serve rounds; returns (batch ms, serve ms, wall s). */
    def batchAndServe(b: Int): (Double, Seq[Double], Double) = {
      val t0 = System.nanoTime()
      val batchMs = ingest(b, withFunnel = false)
      val serve = (0 until ServeRounds).flatMap(_ => serveRound())
      (batchMs, serve, (System.nanoTime() - t0) / 1e9)
    }
    // A traced run first ingests batch 0 with the funnel sink on (eleven
    // counts per batch; the funnel check), then times batch 2 and its serve
    // rounds traced between batches 1 and 3 untraced, so warm-up drift
    // cancels out of the overhead figure. Every batch runs before the one
    // maintenance cycle: maintain refreshes the hot-span list, and with the
    // near-dup gate off a re-presentation scrubbed under a newer list than
    // its original would no longer match the fingerprint index.
    if (o.trace) ingest(0, withFunnel = true)
    val before1 = if (o.trace) Some(batchAndServe(1)) else None
    if (o.trace) { tracer.enable(); tracer.markTimed() }
    val timedBatch = if (o.trace) 2 else 0
    val (batchMs, before, beforeS) = batchAndServe(timedBatch)
    val after1 = if (o.trace) {
      tracer.disable()
      val u = batchAndServe(3)
      tracer.enable()
      tracer.markTimed()
      Some(u)
    } else None
    val m0 = System.nanoTime()
    val maintainMs = maintain(timedBatch)
    val after = (0 until ServeRounds).flatMap(_ => serveRound())
    val passS = beforeS + (System.nanoTime() - m0) / 1e9
    val serveMs = before ++ after

    // checks, untimed
    checkFunnels(funnels.toSeq)
    val lakeIds = spark.read.parquet(paths.docLake).select("doc_id").collect().map(_.getLong(0))
    rep.attempted += 1
    if (lakeIds.length.toLong != accepted.values.sum)
      rep.fail(s"lake holds ${lakeIds.length} docs, batches accepted ${accepted.values.sum}")
    // the accepted set follows from the ground truth and the models: every
    // doc the lang-id and quality models let through lands, unless it is an
    // injected exact duplicate or eval leak (the near-dup and semantic gates
    // are off, so near-duplicates and re-encodings land)
    val expected = offered.filter(r => !Stopped(r.getAs[String]("kind")))
      .map(_.getAs[Long]("doc_id")).filter(modelPass).toSet
    val lakeSet = lakeIds.toSet
    def byKind(ids: Set[Long]) = ids.groupBy(truth).map { case (k, v) =>
      s"${v.size} $k: ${v.toSeq.sorted.take(5).mkString(" ")}" }.toSeq.sorted.mkString("; ")
    rep.attempted += 1
    if (lakeSet != expected)
      rep.fail(s"accepted set differs from the ground truth: rejected [${byKind(expected -- lakeSet)}], " +
        s"landed [${byKind(lakeSet -- expected)}]")
    val stoppedByModels = offered.map(_.getAs[Long]("doc_id")).filterNot(modelPass).toSet
    rep.line(s"ground truth: ${lakeSet.size} of ${offered.length} docs landed; the models " +
      s"stopped ${stoppedByModels.groupBy(truth).map { case (k, v) => s"${v.size} $k" }.toSeq.sorted.mkString(", ")}")
    val timedDocs = byBatch(timedBatch).length
    val s = serveMs
    rep.line(f"workload ingest_serve: set-up $setupS%.2f s; timed cycle $passS%.3f s " +
      f"(1 batch of $timedDocs docs, ${s.length} serve calls, 1 maintenance cycle)")
    rep.line(f"ingest_docs_per_s = ${timedDocs / ((batchMs + maintainMs) / 1000)}%.2f docs/s; " +
      f"batch_p50_ms = $batchMs%.1f ms; maintain_s = ${maintainMs / 1000}%.3f s; " +
      "accepted " + accepted.map { case (b, n) => s"$n of batch $b" }.mkString(", "))
    rep.line(f"serve_p50_ms = ${Stats.median(s)}%.1f ms; serve_p90_ms = ${Stats.percentile(s, 90)}%.1f ms " +
      s"(${s.length} samples, ${Stats.beyond(s.length, 90)} beyond p90; highest supported tail: " +
      s"${Stats.supportedTail(s.length).map(p => s"p$p").getOrElse("none")})")
    if (!o.trace) {
      rep.put("setup_s", setupS, "s")
      rep.put("pass_s", passS, "s")
      rep.put("query_p50_ms", Stats.median(s), "ms")
      rep.put("query_p90_ms", Stats.percentile(s, 90), "ms")
    } else {
      tracer.drain()
      Layers.report(tracer, rep, 1.0)
      val untraced = (before1.get._3 + after1.get._3) / 2
      val overhead = beforeS - untraced
      rep.put("trace.overhead_s", overhead, "s")
      rep.line(f"batch and serve rounds: traced $beforeS%.3f s, untraced $untraced%.3f s: " +
        f"tracing overhead $overhead%.3f s")
      ingestLayers(timedDocs, funnels.toSeq, accepted(timedBatch), stream)
    }
  }

  /** Ids of the docs that the lang-id, length and quality-model gates let
    * through: the calls `ingestBatch` makes, on the text scrubbed against
    * the hot list every batch before `maintain` sees. Set-up runs this, so
    * the accepted-set check needs no work inside the timed cycle.
    */
  private def modelVerdicts(
      rows: Seq[Row], lang: LangGateConfig, quality: QualityGateConfig): Set[Long] = {
    val docs = frame(rows.map(r => Row(r.getAs[Long]("doc_id"), r.getAs[String]("text"))), docSchema)
    val scrubbed = Text.scrubAgainstHotList(docs, "text", "doc_id", SpanScrubConfig().k,
      Dedup.readHotSpanList(spark, paths.spanIndex))
    val langOk = QualityClassifier.classifyMulti(scrubbed, "text", lang.models)
      .filter(col("pred").isin(lang.keep.toSeq: _*)).select(scrubbed.columns.map(col): _*)
    QualityClassifier.classify(IngestPipeline.qualityFilter(langOk), "text", quality.model,
      quality.minScoreE4).filter(col("label") === "keep")
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  private def checkFunnels(fs: Seq[FunnelReport]): Unit = fs.foreach { f =>
    rep.attempted += 1
    val chain = Seq(f.input, f.afterLang, f.afterQuality, f.afterClassifier, f.afterPerplexity,
      f.afterIntraDedup, f.afterExactIndex, f.afterDecontam, f.afterRetrievalDecontam,
      f.afterNearDup, f.accepted)
    if (chain.zip(chain.drop(1)).exists { case (a, b) => b > a } || f.input != BatchDocs)
      rep.fail(s"funnel of batch ${f.batchId} does not telescope from $BatchDocs: ${chain.mkString(" ")}")
  }

  /** Ingest, serve and sink figures of the traced cycle, as report lines. */
  private def ingestLayers(
      offered: Int, funnels: Seq[FunnelReport], acceptedLast: Long, stream: Array[Row]): Unit = {
    val ts = tracer.timedSpans
    def kind(k: String) = ts.filter(_.kind == k)
    val children = tracer.spans.groupBy(_.parent)
    def jobsUnder(s: Span): Long =
      tracer.statsOf(s.id).jobs + children.getOrElse(s.id, Nil).map(jobsUnder).sum
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def put(name: String, v: Double, unit: String): Unit = rep.line(f"$name = $v%.3f $unit")
    put("ingest.batch_jobs", kind("ingest_batch").map(jobsUnder).sum.toDouble, "count")
    put("ingest.maintain_jobs", kind("maintain").map(jobsUnder).sum.toDouble, "count")
    Seq[(String, FunnelReport => Long)](
      "input" -> (_.input), "lang" -> (_.afterLang), "quality" -> (_.afterQuality),
      "classifier" -> (_.afterClassifier), "perplexity" -> (_.afterPerplexity),
      "intra_dedup" -> (_.afterIntraDedup), "exact_index" -> (_.afterExactIndex),
      "decontam" -> (_.afterDecontam), "retrieval_decontam" -> (_.afterRetrievalDecontam),
      "near_dup" -> (_.afterNearDup), "accepted" -> (_.accepted)
    ).foreach { case (n, g) => put(s"ingest.funnel.$n", funnels.map(g).sum.toDouble, "docs") }
    put("ingest.accept_ratio", acceptedLast.toDouble / offered, "ratio")
    Seq("bm25", "ivf", "pq").foreach(k => put(s"serve.${k}_ms", med(kind(s"serve_$k").map(_.ms)), "ms"))
    val serveSpans = ts.filter(_.kind.startsWith("serve_"))
    val serveIds = serveSpans.map(_.id).toSet
    put("serve.build_ms", med(ts.filter(s => s.kind == "build" && serveIds(s.parent)).map(_.ms)), "ms")
    put("serve.jobs", med(serveSpans.map(s => jobsUnder(s).toDouble)), "count")
    val writers = kind("ingest_batch") ++ kind("maintain")
    val outBytes = writers.map(s => tracer.statsOf(s.id).outputBytes).sum.toDouble
    put("sinks.output_bytes", outBytes, "bytes")
    val textBytes = stream.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("text").getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).toMap
    val lake = spark.read.parquet(paths.docLake)
    val lakeIds = lake.select("doc_id").collect().map(_.getLong(0))
    val lastIds = lake.filter(col("__ver") === lake.agg(max("__ver")).head().get(0))
      .select("doc_id").collect().map(_.getLong(0))
    put("sinks.write_amp", outBytes / math.max(1.0, lastIds.map(textBytes).sum.toDouble), "ratio")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(paths.root)).filterNot(_.getName.endsWith(".crc"))
    put("sinks.root_bytes_per_accepted_byte",
      files.map(_.length).sum / math.max(1.0, lakeIds.map(textBytes).sum.toDouble), "ratio")
    put("sinks.live_files", files.count(_.getName.endsWith(".parquet")).toDouble, "count")
  }
}
