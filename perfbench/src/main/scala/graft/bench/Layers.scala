package graft.bench

/** The per-layer metrics of a traced run. Totals are per pass (summed over
  * the traced passes, divided by their number) so they compare with
  * pass_s; per-call DedupService figures are medians over calls; session
  * and warm-up are the run's one set-up. A layer the workload does not
  * touch reads 0. */
object Layers {
  def metrics(run: Run, traced: Seq[PassResult], untraced: Seq[PassResult],
              sessionS: Double, warmS: Double, peakRssMb: Double): Json = {
    val passIds = traced.map(_.span.id).toSet
    val leaves = run.spans.all.toSeq.filter(s => passIds.contains(s.parent))
    val counts = run.listener
      .map(l => SpanCounts.attribute(run.spans.all.toSeq.filter(_.kind != "pass"), l))
      .getOrElse(Map.empty)
    val n = math.max(1, traced.length).toDouble
    def of(p: Span => Boolean) = leaves.filter(p)
    def secs(ss: Seq[Span]) = ss.map(_.secs).sum / n
    def sum(ss: Seq[Span]) = ss.map(s => counts.getOrElse(s.id, SpanCounts.zero))
      .foldLeft(SpanCounts.zero)(_ + _)
    def build(tag: String) = of(s => s.kind == "build" && s.tag == tag)
    // execution: the verified action of a query, every DedupService call
    val exec = of(s => Set("action", "init", "ingest", "labels")(s.kind))
    val e = sum(exec)
    val execWall = exec.map(_.secs).sum
    val ingests = of(_.kind == "ingest")
    val all = sum(leaves)
    val out = new Json
    def m(name: String, v: Double, unit: String) = out.metric(name, v, unit)
    m("GraftSession.session_s", sessionS, "s")
    m("sources.warm_s", warmS, "s")
    m("operators.build_s", secs(build("operators")), "s")
    m("operators.build_jobs", sum(build("operators")).jobs / n, "count")
    m("ops.build_s", secs(build("ops")), "s")
    m("ops.build_jobs", sum(build("ops")).jobs / n, "count")
    m("plans.plan_s", secs(of(_.kind == "plan")), "s")
    m("exec.action_s", execWall / n, "s")
    m("exec.jobs", e.jobs / n, "count")
    m("exec.stages", e.stages / n, "count")
    m("exec.tasks", e.tasks / n, "count")
    m("exec.task_s", e.taskS / n, "s")
    m("exec.cpu_s", e.cpuS / n, "s")
    m("exec.gc_s", exec.map(_.gcMs).sum / 1e3 / n, "s")
    m("exec.cpu_util", if (execWall > 0) e.cpuS / (execWall * run.nproc) else 0.0, "ratio")
    m("exec.shuffle_read_bytes", e.shuffleRead / n, "B")
    m("exec.shuffle_write_bytes", e.shuffleWrite / n, "B")
    m("exec.spill_bytes", e.spill / n, "B")
    m("exec.failed_tasks", e.failedTasks / n, "count")
    m("sources.input_bytes", all.inputBytes / n, "B")
    m("sources.output_bytes", all.outputBytes / n, "B")
    m("DedupService.init_s", Stats.median(of(_.kind == "init").map(_.secs)), "s")
    m("DedupService.ingest_jobs",
      Stats.median(ingests.map(s => counts.getOrElse(s.id, SpanCounts.zero).jobs.toDouble)), "count")
    m("DedupService.ingest_input_bytes",
      Stats.median(ingests.map(s => counts.getOrElse(s.id, SpanCounts.zero).inputBytes.toDouble)), "B")
    m("DedupService.labels_read_s", Stats.median(of(_.kind == "labels").map(_.secs)), "s")
    m("DedupService.stored_bytes_per_input_byte",
      if (traced.exists(_.inputBytes > 0)) run.storedRatio(traced) else 0.0, "ratio")
    m("driver.peak_rss_mb", peakRssMb, "MB")
    m("trace.overhead_s",
      Stats.median(traced.map(_.secs)) - Stats.median(untraced.map(_.secs)), "s")
    out
  }
}
