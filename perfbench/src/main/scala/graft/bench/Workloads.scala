package graft.bench

/** A benchmark workload: either a list of named queries run in a
  * seed-permuted order each pass, or the dedup service loop. The first
  * `warmPasses` passes are set-up: the JVM keeps compiling through the
  * first two passes, and timing them made the run-to-run spread twice as
  * wide. At least `minPasses` passes are timed. */
final case class Workload(name: String, queries: Seq[String], warmPasses: Int, minPasses: Int,
                          dedup: Boolean = false, dedupBatches: Int = 0) {
  /** The tables warmed at set-up: every table for the query workloads
    * (as graft.Bench does), the corpus alone for the dedup service. */
  def tables: Seq[String] = if (dedup) Seq("documents") else graft.sources.Tables.names
}

object Workloads {
  /** Build-dominated: most of each query's time is spent inside the query
    * function (eager checkpoint, collect, isEmpty and stats jobs). */
  val driverHeavy: Workload = Workload("driver_heavy", Seq(
    "q_label_prop", "q_dedup_cc_incr", "q_nn_descent"),
    warmPasses = 2, minPasses = 2)

  /** Short relational, analytics and event queries: about one eager job
    * each, so planning, scans and execution dominate. */
  val relationalShort: Workload = Workload("relational_short", Seq(
    "q1_pricing_summary", "q_cube", "q_window_topk", "q_range_join", "q_asof_join",
    "q_sessionize"),
    warmPasses = 2, minPasses = 2)

  /** DedupService.init on 80% of the documents, then the rest ingested in
    * equal batches, then the labeling read back. */
  val dedupMaintain: Workload = Workload("dedup_maintain", Nil,
    warmPasses = 1, minPasses = 1, dedup = true, dedupBatches = 2)

  val byName: Map[String, Workload] =
    Seq(driverHeavy, relationalShort, dedupMaintain).map(w => w.name -> w).toMap

  /** The layer a query is booked to: the package (`operators`, `ops`, ...)
    * of the graft module that defines and lists the query function. */
  def layerOf(fn: AnyRef): String =
    fn.getClass.getName.stripPrefix("graft.").takeWhile(_ != '.')
}
