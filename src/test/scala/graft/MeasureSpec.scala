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
}
