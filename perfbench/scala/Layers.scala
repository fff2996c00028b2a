package graftbench

/** Per-layer metrics of a traced window, from its spans and the Spark
  * counters attributed to them. Every figure is per `unit` of work (a
  * registry pass, or an ingest cycle of one batch with its serve calls),
  * so runs of different lengths compare.
  *
  *   - build: DataFrame construction, including the jobs it runs eagerly;
  *   - catalyst: tracker phases of every query execution;
  *   - exec: everything executed after construction (materialize, ingest
  *     and maintenance jobs);
  *   - sources: bytes and records read by scans.
  */
object Layers {

  def report(tr: Tracer, rep: Report, units: Double): Unit = {
    val ts = tr.timedSpans
    val (build, rest) = ts.partition(_.kind == "build")
    def sum(spans: Seq[Span])(f: SpanStats => Double): Double =
      spans.map(s => f(tr.statsOf(s.id))).sum
    def per(v: Double): Double = v / units
    rep.put("build.ms", per(build.map(_.ms).sum), "ms")
    rep.put("build.jobs", per(sum(build)(_.jobs.toDouble)), "count")
    rep.put("catalyst.analysis_ms", per(sum(ts)(_.analysisMs)), "ms")
    rep.put("catalyst.optimize_ms", per(sum(ts)(_.optimizeMs)), "ms")
    rep.put("catalyst.planning_ms", per(sum(ts)(_.planningMs)), "ms")
    rep.put("exec.ms", per(rest.filter(_.kind == "materialize").map(_.ms).sum +
      rest.filter(s => s.kind == "ingest_batch" || s.kind == "maintain").map(tr.selfMs).sum), "ms")
    rep.put("exec.jobs", per(sum(rest)(_.jobs.toDouble)), "count")
    rep.put("exec.stages", per(sum(rest)(_.stages.toDouble)), "count")
    rep.put("exec.tasks", per(sum(rest)(_.tasks.toDouble)), "count")
    rep.put("exec.run_ms", per(sum(rest)(_.runMs)), "ms")
    rep.put("exec.cpu_ms", per(sum(rest)(_.cpuMs)), "ms")
    rep.put("exec.gc_ms", per(sum(rest)(_.gcMs)), "ms")
    rep.put("exec.shuffle_read_bytes", per(sum(rest)(_.shuffleRead.toDouble)), "bytes")
    rep.put("exec.shuffle_write_bytes", per(sum(rest)(_.shuffleWrite.toDouble)), "bytes")
    rep.put("exec.spill_bytes", per(sum(rest)(_.spill.toDouble)), "bytes")
    val taskMs = rest.flatMap(s => tr.statsOf(s.id).taskMs)
    rep.put("exec.task_skew",
      if (taskMs.isEmpty) 1.0 else taskMs.max / math.max(1.0, Stats.median(taskMs)), "ratio")
    rep.put("sources.input_bytes", per(sum(ts)(_.inputBytes.toDouble)), "bytes")
    rep.put("sources.input_records", per(sum(ts)(_.inputRecords.toDouble)), "count")
  }
}
