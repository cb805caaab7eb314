package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev utility: per-stage breakdown of one query's execution.
  * Usage: runMain graft.ProfileRun <sfDir> <query> [warm]
  * Attaches a SparkListener and prints, for every stage of the measured
  * run: wall time, summed task time, shuffle read/write bytes, rows, and
  * the call site — the local-mode stand-in for the Spark UI's stage page
  * (guide §7.1; spark.ui is disabled in this harness). With `warm`, runs
  * the query once before measuring (JIT/codegen/page-cache paid). */
object ProfileRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val warm = args.contains("warm")
    val spark = GraftSession.builder("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmTables(spark, sfDir)
    val fn = Bench.fnOf(name)
    if (warm) {
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      Bench.sweep(spark)
    }
    final case class St(var name: String = "", var submitted: Long = 0L,
                        var completed: Long = 0L, var taskMs: Long = 0L,
                        var shufRead: Long = 0L, var shufWrite: Long = 0L,
                        var input: Long = 0L, var tasks: Int = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val st = stages.getOrElseUpdate(e.stageInfo.stageId, St())
        st.name = e.stageInfo.name
        st.submitted = System.currentTimeMillis()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val st = stages.getOrElseUpdate(si.stageId, St())
        st.completed = System.currentTimeMillis()
        st.taskMs = si.taskMetrics.executorRunTime
        st.shufRead = si.taskMetrics.shuffleReadMetrics.totalBytesRead
        st.shufWrite = si.taskMetrics.shuffleWriteMetrics.bytesWritten
        st.input = si.taskMetrics.inputMetrics.bytesRead
        st.tasks = si.numTasks
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).count()
    val secs = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    println(f"PROFILE $name rows=$rows total=$secs%.2fs stages=${stages.size}")
    val items = stages.toSeq.sortBy { case (_, s) => -(s.completed - s.submitted) }
    items.take(40).foreach { case (id, s) =>
      val wall = (s.completed - s.submitted) / 1000.0
      println(f"STAGE $id%5d wall=$wall%6.2fs task=${s.taskMs / 1000.0}%7.2fs " +
        f"tasks=${s.tasks}%3d in=${s.input / 1048576.0}%7.1fMB " +
        f"sr=${s.shufRead / 1048576.0}%7.1fMB sw=${s.shufWrite / 1048576.0}%7.1fMB  ${s.name.take(110)}")
    }
    val totWall = items.map { case (_, s) => s.completed - s.submitted }.sum / 1000.0
    println(f"PROFILE_SUM stage_wall=$totWall%.2fs (overlaps possible)")
    spark.stop()
  }
}
