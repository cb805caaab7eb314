package graft

/** The one task-metrics recorder: its drains pin every event to the body
  * that caused it, and a known scan reads as jobs, tasks and bytes. */
class MeasureSpec extends SparkSpec {

  test("a scan reads as jobs, tasks and input bytes; no event leaks across windows") {
    val (rows, scan) = Measure(spark)(graft.sources.Tables.lineitem(spark, TinyDir).count())
    assert(rows > 0)
    assert(scan.jobs >= 1 && scan.tasks >= 1 && scan.inputBytes > 0, scan)
    assert(scan.stageNames.nonEmpty && scan.stages.forall(_.wallSec >= 0), scan)
    // every task-end of a many-task job lands inside its own window ...
    val (_, wide) = Measure(spark)(spark.sparkContext.parallelize(1 to 200, 200).count())
    assert(wide.jobs == 1 && wide.stages.size == 1 && wide.tasks == 200, wide.stages)
    // ... and none leaks into the next one
    val ((), idle) = Measure(spark)(())
    assert(idle.jobs == 0 && idle.tasks == 0 && idle.stages.isEmpty, idle)
  }

  test("jobs are attributed to the graft frame that started them, AQE stage jobs included") {
    val df = graft.sources.Tables.orders(spark, TinyDir)
      .groupBy("o_custkey").count().orderBy("o_custkey")
    val (_, m) = Measure(spark)(df.collect())
    assert(m.jobs >= 2, m.jobSites) // AQE: a shuffle-stage job, then the result
    assert(m.jobSites.forall(_.contains("MeasureSpec.scala:")), m.jobSites)
    assert(m.jobsPerSite.map(_._2).sum == m.jobs)
    assert(Measure.graftFrame(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
        "graft.Measure$.apply(Measure.scala:2)\n" +
        "graft.ops.Dedup$NearDupIndex$.$anonfun$query$1(Dedup.scala:3)\n" +
        "graft.Bench$.main(Bench.scala:4)").contains("query at Dedup.scala:3"))
    assert(Measure.graftFrame(
      "graft.operators.LocalRoute$.checkpoint(LocalRoute.scala:1)\n" +
        "graft.operators.GraphOps2$.connectedComponents(GraphOps2.scala:2)")
      .contains("connectedComponents at GraphOps2.scala:2"))
  }
}
