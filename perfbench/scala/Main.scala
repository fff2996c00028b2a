package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Options the runner passes to the JVM. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    data: String,
    corpus: String,
    work: String,
    registry: String,
    out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("data"), m.getOrElse("corpus", ""),
      get("work"), get("registry"), get("out"))
  }
}

/** What one run reports: end-to-end metrics (untraced), per-layer metrics
  * (traced), the human-readable lines, and the check tally.
  */
final class Report {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val lines: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def line(s: String): Unit = lines += s
  def fail(what: String): Unit = { failed += 1; failures += what }
}

object Main {

  /** Old-generation occupancy after a full collection, taken at the end
    * of set-up and at the end of the run; the peak of those is the run's
    * retained heap. Occupancy after young collections also counts garbage
    * promoted but not yet collected, so it varies with GC timing. Each
    * sample collects three times, with pauses: the first collection only
    * queues the weak references that Spark's ContextCleaner then releases
    * (broadcasts, shuffles, accumulators).
    */
  final class HeapWatch {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isCollectionUsageThresholdSupported && p.getName.contains("Old Gen"))
    private var peak = 0L
    def sample(): Unit = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      pools.foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
    }
    def peakMb(): Double = { sample(); peak / (1024.0 * 1024.0) }
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spark = GraftSession.builder("graftbench", shufflePartitions = o.cores)
      .master(s"local[${o.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rep = new Report
    val heap = new HeapWatch
    val runId = s"${o.workload}-${o.seed}-${if (o.trace) "traced" else "untraced"}"
    val tracer = new Tracer(spark, runId)
    try {
      o.workload match {
        case "etl" | "curation" => new RegistryWorkload(spark, o, tracer, rep, heap).run()
        case "ingest_serve" => new IngestServeWorkload(spark, o, tracer, rep, heap).run()
        case other => sys.error(s"unknown workload '$other'")
      }
      if (o.trace) tracer.dump(Paths.get(o.work, "spans.jsonl"))
      else rep.put("peak_heap_mb", heap.peakMb(), "MB")
    } catch {
      case e: Throwable =>
        rep.attempted += 1
        rep.fail(s"run aborted: $e")
        e.printStackTrace()
    }
    val ratio = if (rep.attempted == 0) 1.0 else rep.failed.toDouble / rep.attempted
    rep.line(f"failed_ratio = $ratio%.4f (${rep.failed} of ${rep.attempted} operations)")
    rep.failures.take(20).foreach(f => rep.line(s"FAILED: $f"))
    val result = Json.obj(Seq(
      "correct" -> (if (rep.failed == 0 && rep.attempted > 0) "true" else "false"),
      "attempted" -> math.max(rep.attempted, 1L).toString,
      "failed" -> rep.failed.toString,
      "metrics" -> Json.obj(rep.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Files.writeString(Paths.get(o.out), rep.lines.mkString("", "\n", "\n") + result + "\n")
    spark.stop()
  }

  /** Seconds since this JVM started: set-up time includes JVM and session start. */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}
