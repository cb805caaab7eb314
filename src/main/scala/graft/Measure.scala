package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The one task-metrics recorder: what a measured body's Spark jobs ran.
  * `Measure(spark)(body)` drains the listener bus, registers a listener,
  * times `body`, drains again and removes the listener — the drains sit
  * outside the timed region, and every event delivered in between
  * belongs to `body` (nothing else may run jobs on the context meanwhile). */
object Measure {

  /** One stage of the body: wall time from its StageInfo (submission to
    * completion; 0 if it never completed) and its tasks' metric sums. */
  final case class Stage(id: Int, name: String, wallSec: Double, tasks: Long,
                         taskSec: Double, cpuSec: Double, inputBytes: Long,
                         inputRecords: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long)

  /** `secs` is `body`'s wall time; `stageNames` lists every stage the
    * body's jobs declared at job start (skipped ones too); `stages` the
    * stages that ran tasks or completed, in stage-id order. */
  final case class Sample(secs: Double, jobs: Int, stageNames: Seq[String], stages: Seq[Stage]) {
    def tasks: Long = stages.map(_.tasks).sum
    def taskSec: Double = stages.map(_.taskSec).sum
    def cpuSec: Double = stages.map(_.cpuSec).sum
    def inputBytes: Long = stages.map(_.inputBytes).sum
    def inputRecords: Long = stages.map(_.inputRecords).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  }

  private final class Recorder extends SparkListener {
    private var jobs = 0
    private val stageNames = mutable.ArrayBuffer.empty[String]
    private val stages = mutable.SortedMap.empty[Int, Stage]
    private def stage(id: Int) = stages.getOrElse(id, Stage(id, "", 0, 0, 0, 0, 0, 0, 0, 0))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      stageNames ++= e.stageInfos.map(_.name)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val wallMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
      stages(si.stageId) = stage(si.stageId).copy(name = si.name, wallSec = wallMs / 1e3)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      val m = e.taskMetrics
      stages(e.stageId) = if (m == null) s.copy(tasks = s.tasks + 1) else s.copy(
        tasks = s.tasks + 1,
        taskSec = s.taskSec + m.executorRunTime / 1e3,
        cpuSec = s.cpuSec + m.executorCpuTime / 1e9,
        inputBytes = s.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = s.inputRecords + m.inputMetrics.recordsRead,
        shuffleReadBytes = s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten)
    }

    def sample(secs: Double): Sample =
      synchronized(Sample(secs, jobs, stageNames.toSeq, stages.values.toSeq))
  }

  def apply[A](spark: SparkSession)(body: => A): (A, Sample) = {
    val sc = spark.sparkContext
    ListenerDrain.drain(sc)
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val out = body
      val secs = (System.nanoTime() - t0) / 1e9
      ListenerDrain.drain(sc)
      (out, rec.sample(secs))
    } finally sc.removeSparkListener(rec)
  }
}
