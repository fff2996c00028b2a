package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `etl` and `curation`: timed passes over a slice of the registry.
  *
  * Set-up is the session start, one checked pass and one warm-up pass. The
  * checked pass builds and collects each query once and compares its
  * digest with the recorded one; it builds every fixture the query bodies
  * build lazily and pays the JVM's cold start. The warm-up pass pays the
  * JIT and codegen warm-up that left the first pass after the checked one
  * up to 60% slower than the next. The timed window then runs whole
  * passes, each in a seed-permuted order, until `--seconds` have passed; a
  * query is built and then materialized through a `noop` write, because
  * `count()` lets Catalyst prune the projections under test.
  */
final class RegistryWorkload(
    spark: SparkSession, o: Opts, tracer: Tracer, rep: Report, heap: Main.HeapWatch) {

  private def load(): Seq[RegistryWorkload.Entry] =
    Files.readAllLines(Paths.get(o.registry)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => RegistryWorkload.Entry(a(0), a(1), a(2)))

  def run(): Unit = {
    val fns = SparkEntry.queries
    val (present, missing) = load().filter(_.workload == o.workload).partition(e => fns.contains(e.name))
    missing.foreach { e => rep.attempted += 1; rep.fail(s"${e.name}: not in the registry") }
    val rnd = new scala.util.Random(o.seed)
    def order(): Seq[RegistryWorkload.Entry] = rnd.shuffle(present)

    // set-up: the checked pass
    order().foreach { e =>
      rep.attempted += 1
      try {
        val d = Digest.of(fns(e.name)(spark, o.data))
        if (d != e.digest) rep.fail(s"${e.name}: digest $d, recorded ${e.digest}")
      } catch { case t: Throwable => rep.fail(s"${e.name}: check threw $t") }
      spark.catalog.clearCache()
    }
    pass(order()) // set-up: the warm-up pass
    val setupS = Main.uptimeS()
    heap.sample()

    // timed windows of whole passes
    // per-query figures are each query's median over the window's passes,
    // so one pass that a burst of load or residual warm-up slowed does not
    // decide the median or the tail
    def window(seconds: Double): (Seq[Double], Seq[Double]) = {
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[Double]
      val samples = mutable.ArrayBuffer.empty[(String, Double)]
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        val p0 = System.nanoTime()
        samples ++= pass(order())
        passes += (System.nanoTime() - p0) / 1e9
      }
      val perQuery = samples.groupBy(_._1).values.map(q => Stats.median(q.map(_._2).toSeq)).toSeq
      (passes.toSeq, perQuery)
    }
    // a traced run times single passes, untraced, traced, untraced, so
    // warm-up drift cancels out of the overhead figure
    val (passes, perQuery) = window(if (o.trace) 0 else o.seconds)
    val passS = Stats.median(passes)
    rep.line(s"workload ${o.workload}: ${present.length} queries, set-up ${f"$setupS%.2f"} s, " +
      "timed passes " + passes.map(p => f"$p%.2f").mkString(" ") + " s")
    rep.line(f"pass_s = $passS%.3f s; query_p50_ms = ${Stats.median(perQuery)}%.1f ms; " +
      f"query_p90_ms = ${Stats.percentile(perQuery, 90)}%.1f ms " +
      s"(${perQuery.length} per-query medians of ${passes.length} passes, " +
      s"${Stats.beyond(perQuery.length, 90)} beyond p90; " +
      s"highest supported tail: ${Stats.supportedTail(perQuery.length).map(p => s"p$p").getOrElse("none")})")
    if (!o.trace) {
      rep.put("setup_s", setupS, "s")
      rep.put("pass_s", passS, "s")
      rep.put("query_p50_ms", Stats.median(perQuery), "ms")
      rep.put("query_p90_ms", Stats.percentile(perQuery, 90), "ms")
    } else {
      tracer.enable()
      tracer.markTimed()
      val (tPasses, _) = window(0)
      tracer.disable()
      Layers.report(tracer, rep, tPasses.length.toDouble)
      val (uPasses, _) = window(0)
      val untraced = (passS + Stats.median(uPasses)) / 2
      val overhead = Stats.median(tPasses) - untraced
      rep.put("trace.overhead_s", overhead, "s")
      rep.line(f"traced pass_s = ${Stats.median(tPasses)}%.3f s, untraced $untraced%.3f s: " +
        f"tracing overhead = $overhead%.3f s per pass")
    }
  }

  /** One timed pass; returns each query's build+materialize milliseconds. */
  private def pass(entries: Seq[RegistryWorkload.Entry]): Seq[(String, Double)] = {
    val fns = SparkEntry.queries
    entries.map { e =>
      rep.attempted += 1
      val t0 = System.nanoTime()
      try {
        tracer.span(e.name, "query") {
          val df: DataFrame = tracer.span(e.name, "build") {
            val built = fns(e.name)(spark, o.data)
            tracer.recordAnalysis(built)
            built
          }
          tracer.span(e.name, "materialize")(df.write.format("noop").mode("overwrite").save())
        }
      } catch { case t: Throwable => rep.fail(s"${e.name}: threw $t") }
      val ms = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      e.name -> ms
    }
  }
}

object RegistryWorkload {
  /** One registry line: a timed query, its workload, and the digest of its
    * output recorded from a DuckDB-matched run. */
  final case class Entry(name: String, workload: String, digest: String)
}
