package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: a query build, a materialize, an ingest batch, a
  * maintenance cycle or a serve call. `parent` is -1 for a root span.
  */
final case class Span(
    id: Long, parent: Long, name: String, kind: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side counters attributed to one span. */
final class SpanStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var analysisMs = 0.0
  var optimizeMs = 0.0
  var planningMs = 0.0
  val taskMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
}

/** Span recorder. Untraced, it only keeps wall times. Traced, it sets each
  * span's id as the Spark job group, so the registered listeners attach
  * every job, stage and task to the span that caused it, and every
  * `QueryExecution`'s tracker phases to the span that ran it.
  */
final class Tracer(spark: SparkSession, runId: String) {
  @volatile var traced = false
  /** Only spans that start inside a timed interval count in the layer
    * metrics: set-up and the untraced windows of a traced run do not. */
  private val timed = mutable.ArrayBuffer.empty[(Long, Long)]
  private val nextId = new AtomicLong(0L)
  private val stack = mutable.Stack[Span]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stats = new ConcurrentHashMap[Long, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val sentinelSeen = new AtomicLong(-1L)

  def statsOf(id: Long): SpanStats = stats.computeIfAbsent(id, _ => new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == Tracer.Sentinel) sentinelSeen.set(e.jobId)
      else if (group != null && group.startsWith(Tracer.GroupPrefix)) {
        val id = group.stripPrefix(Tracer.GroupPrefix).toLong
        e.stageIds.foreach(s => stageSpan.put(s, id))
        statsOf(id).synchronized { statsOf(id).jobs += 1 }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        val st = statsOf(id)
        st.synchronized { st.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        val st = statsOf(id)
        st.synchronized {
          st.tasks += 1
          st.taskMs += e.taskInfo.duration.toDouble
          if (m != null) {
            st.runMs += m.executorRunTime
            st.cpuMs += m.executorCpuTime / 1e6
            st.gcMs += m.jvmGCTime
            st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            st.inputBytes += m.inputMetrics.bytesRead
            st.inputRecords += m.inputMetrics.recordsRead
            st.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Tracker phases arrive on the listener bus; a QueryExecution is
    * attributed to the innermost span open when its analysis started.
    */
  private val phases = new ConcurrentHashMap[Long, (Long, Double, Double, Double)]()
  private val qeSeq = new AtomicLong(0L)
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      phases.put(qeSeq.incrementAndGet(),
        (start, ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
          ms(QueryPlanningTracker.PLANNING)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  // wall-clock anchor so listener millisecond stamps map onto span nanos
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** Register the listeners; spans opened from now on carry job groups. */
  def enable(): Unit = if (!traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    traced = true
  }

  /** Drain and remove the listeners; later spans are timed only. */
  def disable(): Unit = if (traced) {
    if (timed.nonEmpty) timed(timed.length - 1) = (timed.last._1, System.nanoTime())
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    traced = false
  }

  /** A DataFrame is analyzed when it is built, by a QueryExecution that no
    * listener sees: charge its tracker's analysis phase to the open span. */
  def recordAnalysis(df: org.apache.spark.sql.DataFrame): Unit =
    if (traced) stack.headOption.foreach { s =>
      val ms = df.queryExecution.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val st = statsOf(s.id)
      st.synchronized { st.analysisMs += ms }
    }

  /** Open a timed interval; `disable` closes it. */
  def markTimed(): Unit = timed += ((System.nanoTime(), Long.MaxValue))

  def timedSpans: Seq[Span] =
    spans.iterator.filter(s => timed.exists { case (a, b) => s.startNs >= a && s.startNs < b }).toSeq

  def span[T](name: String, kind: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1L)
    val id = nextId.getAndIncrement()
    val open = Span(id, parent, name, kind, System.nanoTime(), 0L)
    stack.push(open)
    if (traced) spark.sparkContext.setJobGroup(Tracer.GroupPrefix + id, s"$kind $name")
    try body
    finally {
      stack.pop()
      spans += open.copy(endNs = System.nanoTime())
      if (traced) stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(Tracer.GroupPrefix + p.id, s"${p.kind} ${p.name}")
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Block until the listener bus has delivered every event posted so far:
    * a sentinel job's start event is queued behind all of them.
    */
  def drain(): Unit = if (traced) {
    spark.sparkContext.setJobGroup(Tracer.Sentinel, "drain")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sentinelSeen.get() < 0 && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
    sentinelSeen.set(-1L)
    attributePhases()
  }

  private def attributePhases(): Unit = {
    val done = spans.toVector
    phases.asScala.foreach { case (seq, (startMs, a, o, p)) =>
      val t = msToNs(startMs)
      val holders = done.filter(s => s.startNs <= t + 2000000L && t <= s.endNs)
      if (holders.nonEmpty) {
        val inner = holders.maxBy(_.startNs)
        val st = statsOf(inner.id)
        st.synchronized { st.analysisMs += a; st.optimizeMs += o; st.planningMs += p }
      }
      phases.remove(seq)
    }
  }

  private lazy val childMs: Map[Long, Double] =
    spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }

  /** Span time minus the time of its child spans (call after the run). */
  def selfMs(s: Span): Double = s.ms - childMs.getOrElse(s.id, 0.0)

  /** One JSON object per span: timing, parent, run id and the Spark
    * counters attributed to it.
    */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      val st = statsOf(s.id)
      sb.append(Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "start_ns" -> (s.startNs - anchorNs).toString, "end_ns" -> (s.endNs - anchorNs).toString,
        "self_ms" -> Json.num(selfMs(s)), "jobs" -> st.jobs.toString,
        "stages" -> st.stages.toString, "tasks" -> st.tasks.toString,
        "run_ms" -> Json.num(st.runMs), "cpu_ms" -> Json.num(st.cpuMs),
        "gc_ms" -> Json.num(st.gcMs), "shuffle_read_bytes" -> st.shuffleRead.toString,
        "shuffle_write_bytes" -> st.shuffleWrite.toString, "spill_bytes" -> st.spill.toString,
        "input_bytes" -> st.inputBytes.toString, "input_records" -> st.inputRecords.toString,
        "output_bytes" -> st.outputBytes.toString,
        "analysis_ms" -> Json.num(st.analysisMs), "optimize_ms" -> Json.num(st.optimizeMs),
        "planning_ms" -> Json.num(st.planningMs)))).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val GroupPrefix = "graftbench-span-"
  val Sentinel = "graftbench-sentinel"
}

/** Minimal JSON rendering for the result line and the span dump. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
