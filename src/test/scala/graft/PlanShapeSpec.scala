package graft

import graft.operators.Relational

/** Regression guards for the physical-plan properties PLANS.md documents:
  * if a future change drops a broadcast or un-pushes a filter, these fail
  * before the benchmark does. */
class PlanShapeSpec extends SparkSpec {

  private def executed(q: graft.Q): String = {
    val df = q.fn(spark, TinyDir)
    df.collect()
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("region volume: all five dim joins broadcast, region filter pushed") {
    val plan = executed(Relational.qRegionVolume)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4, plan)
    assert(plan.contains("EqualTo(r_name,ASIA)"), plan)
  }

  test("pricing summary: shipdate predicate reaches the parquet scan") {
    val plan = executed(Relational.q1PricingSummary)
    assert(plan.contains("LessThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("codegen id"), plan) // whole-stage codegen spans
  }

  test("enrich join: lineitem-free star join reads only needed columns") {
    val plan = executed(Relational.qEnrichJoin)
    assert(!plan.contains("l_orderkey"), plan) // no stray fact scan
    assert(plan.contains("ReadSchema: struct<c_custkey"), plan)
  }

  test("range join: bucket equi-join, never a nested-loop") {
    val plan = executed(operators.Analytics.qRangeJoin)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cube: one Expand pass, not per-grouping-set rescans") {
    val plan = executed(operators.Analytics.qCube)
    // formatted AQE output prints the final and the initial plan, so each
    // physical operator can appear twice — the guard is: Expand present,
    // and no more Expands/scans than those two printings imply
    assert("\\(\\d+\\) Expand".r.findAllIn(plan).size <= 2, plan)
    assert(plan.contains("Expand"), plan)
    assert("Location: InMemoryFileIndex \\[file:[^\\]]*orders\\.parquet"
      .r.findAllIn(plan).size <= 1, plan)
  }

  test("tfidf: document-frequency join broadcasts (corpus never reshuffles for it)") {
    val plan = executed(ops.TextAnalysis2.qTfidf)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("contamination: probe shingles broadcast against the corpus scan") {
    val plan = executed(ops.CorpusQuality.qContamination)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("entity match: blocking key is a hash-join key, not a nested loop over the vocab") {
    val plan = executed(ops.Retrieval.qEntityMatch)
    // the substring block equality is extractable → BroadcastHashJoin with
    // the levenshtein/length refinements as join-condition residue
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bm25: global top-20 runs through the TopKPerKey heap-prune, not a full sort") {
    val plan = executed(ops.Retrieval.qBm25)
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("vocab coverage: no unpartitioned window over the vocabulary (distributed prefix sum)") {
    val df = ops.Retrieval.qVocabCoverage.fn(spark, TinyDir)
    df.collect()
    // every Window in the plan must be partitioned — an empty partition
    // spec is the single-task global sort this operator exists to avoid
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: unwrap(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r +: unwrap(r.child)
        case o => o +: o.children.flatMap(unwrap)
      }
    val windows = unwrap(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      windows.map(w => w.partitionSpec).mkString("; "))
  }

  test("min-cost supplier: all equi hash joins, no nested loop") {
    val plan = executed(operators.Relational2.qMinCostSupplier)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("seq pack: reads only the three needed document columns") {
    val plan = executed(ops.Retrieval.qSeqPack)
    assert(plan.contains("ReadSchema: struct<doc_id"), plan)
    assert(!plan.contains("n_chars"), plan)
    assert(!plan.contains("lang"), plan)
  }

  test("delta detect: one full-outer join on the key, scans read two columns") {
    val plan = executed(operators.LoaderOps.qDeltaDetect)
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("o_orderdate"), plan) // pruned
  }

  test("shuffle budgets of flagship shapes are pinned") {
    // every entry is (query, max shuffle exchanges in the executed plan):
    // an accidental extra repartition/distinct/global-sort fails here
    // before it doubles a 100 TB job's shuffle volume. Reused exchanges
    // count once (they move data once).
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: unwrap(q.plan)
        case o => o +: o.children.flatMap(unwrap)
      }
    val budgets = Seq(
      ("q1_pricing_summary", 2),  // agg + output sort
      ("q_enrich_join", 1),       // broadcast dims; output sort only
      ("q_region_volume", 4),     // fact-fact join pair + agg + sort
      ("q_dedup_exact", 2),       // content-hash groupBy + output sort
      ("q_shard_plan", 5),        // range part + offsets pair + agg + sort
      ("q_corpus_card", 3),       // distinct Expand agg pair + tiny sort
      ("q_skew_audit", 2))        // key-count agg (+TakeOrdered, no sort)
    budgets.foreach { case (name, cap) =>
      val df = SparkEntry.queries(name)(spark, TinyDir)
      df.collect()
      val shuffles = unwrap(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.distinct
      info(s"$name: ${shuffles.size} shuffle exchange(s)")
      assert(shuffles.size <= cap,
        s"$name shuffles ${shuffles.size} > budget $cap:\n" +
          shuffles.map(_.outputPartitioning).mkString("\n"))
    }
  }
}
