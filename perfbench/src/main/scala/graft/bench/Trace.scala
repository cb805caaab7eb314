package graft.bench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One timed call into a graft layer. `kind` names the layer boundary
  * (build, plan, action, init, ingest, labels, session, warm), `op` the
  * operation it belongs to, `parent` the enclosing pass span (-1 at top). */
final case class Span(id: Int, kind: String, op: String, tag: String, parent: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      gcMs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run; written once at the end. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private def gcMsNow: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def open(kind: String, op: String, tag: String = "", parent: Int = -1): Span =
    Span(all.length, kind, op, tag, parent, System.nanoTime(), 0L,
      System.currentTimeMillis(), 0L, gcMsNow)

  def close(s: Span): Span = {
    val done = s.copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis(),
      gcMs = gcMsNow - s.gcMs)
    all += done
    done
  }

  def time[T](kind: String, op: String, tag: String = "", parent: Int = -1)(body: => T): (T, Span) = {
    val s = open(kind, op, tag, parent)
    val v = body
    (v, close(s))
  }
}

/** Per-stage totals of the task metrics the layer metrics sum. */
final class StageTotals {
  var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L
}

/** A job as its start event reported it. */
final case class Job(id: Int, timeMs: Long, stageIds: Seq[Int])

/** The traced run's one SparkListener: job start times (for attribution
  * to spans), the stages each job lists, and task metrics per stage. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[Job]
  val completedStages = mutable.Set.empty[Int]
  val stages = mutable.Map.empty[Int, StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    completedStages += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stages.getOrElseUpdate(e.stageId, new StageTotals)
    t.tasks += 1
    if (e.reason != Success) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Counts attributed to one span: the jobs that started inside it and the
  * stages and tasks those jobs ran. */
final case class SpanCounts(jobs: Int, stages: Int, tasks: Long, failedTasks: Long,
                            taskS: Double, cpuS: Double, shuffleRead: Long,
                            shuffleWrite: Long, spill: Long, inputBytes: Long,
                            outputBytes: Long) {
  def +(o: SpanCounts): SpanCounts = SpanCounts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, failedTasks + o.failedTasks, taskS + o.taskS, cpuS + o.cpuS,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes)
}

object SpanCounts {
  val zero: SpanCounts = SpanCounts(0, 0, 0L, 0L, 0.0, 0.0, 0L, 0L, 0L, 0L, 0L)

  /** Attribute every job to the leaf span it started in, by job start
    * time: spans run one after another on the driver thread, so a job
    * belongs to the latest leaf span that opened at or before it. Call
    * only after a listener-bus drain. */
  def attribute(leaves: Seq[Span], l: JobListener): Map[Int, SpanCounts] = l.synchronized {
    val sorted = leaves.sortBy(_.startMs).toIndexedSeq
    val starts = sorted.map(_.startMs)
    val ranBy = mutable.Map.empty[Int, Int] // stage -> first job listing it
    l.jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => ranBy.getOrElseUpdate(s, j.id)))
    val out = mutable.Map.empty[Int, SpanCounts]
    l.jobs.foreach { j =>
      val i = starts.lastIndexWhere(_ <= j.timeMs)
      if (i >= 0 && j.timeMs <= sorted(i).endMs) {
        val ran = j.stageIds.filter(s => ranBy(s) == j.id && l.completedStages(s))
        val st = ran.flatMap(l.stages.get)
        val c = SpanCounts(1, ran.length, st.map(_.tasks).sum, st.map(_.failedTasks).sum,
          st.map(_.runMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9,
          st.map(_.shuffleRead).sum, st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
          st.map(_.inputBytes).sum, st.map(_.outputBytes).sum)
        val id = sorted(i).id
        out(id) = out.getOrElse(id, zero) + c
      }
    }
    out.toMap
  }
}
