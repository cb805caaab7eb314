package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** The one task-metrics recorder: what a measured body's Spark jobs ran.
  * `Measure(spark)(body)` drains the listener bus, registers a listener,
  * times `body`, drains again and removes the listener — the drains sit
  * outside the timed region, and every event delivered in between
  * belongs to `body` (nothing else may run jobs on the context meanwhile).
  *
  * Each job is attributed to a call site ([[siteOf]]): for a job inside a
  * SQL execution, the first graft frame of the stack that started the
  * execution, so AQE's asynchronous stage jobs (whose own call site is
  * `withThreadLocalCaptured at CompletableFuture.java`) name the
  * operator that built them; for any other job, its own call site. */
object Measure {

  /** One stage of the body: its job's call site, wall time from its
    * StageInfo (submission to completion; 0 if it never completed) and its
    * tasks' metric sums. */
  final case class Stage(id: Int, site: String, wallSec: Double, tasks: Long,
                         taskSec: Double, cpuSec: Double, inputBytes: Long,
                         inputRecords: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long)

  /** `secs` is `body`'s wall time; `jobSites` holds each job's call site
    * in start order; `stageNames` lists every stage the body's jobs
    * declared at job start (skipped ones too); `stages` the stages that
    * ran tasks or completed, in stage-id order. */
  final case class Sample(secs: Double, jobSites: Seq[String], stageNames: Seq[String],
                          stages: Seq[Stage]) {
    def jobs: Int = jobSites.size
    /** Jobs per call site, most first (ties by site). */
    def jobsPerSite: Seq[(String, Int)] =
      jobSites.groupBy(identity).map { case (k, v) => (k, v.size) }.toSeq
        .sortBy { case (k, n) => (-n, k) }
    def tasks: Long = stages.map(_.tasks).sum
    def taskSec: Double = stages.map(_.taskSec).sum
    def cpuSec: Double = stages.map(_.cpuSec).sum
    def inputBytes: Long = stages.map(_.inputBytes).sum
    def inputRecords: Long = stages.map(_.inputRecords).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  }

  /** `method at File.scala:line` of the first graft frame in a call-site
    * stack (one frame per line), skipping the measurement harness's own
    * (`Bench`, `Measure`) and the shared route helpers' (`LocalRoute`'s
    * checkpoint, probe and collect run for the operator that called
    * them); a lambda frame names its enclosing method. */
  private[graft] def graftFrame(stack: String): Option[String] =
    stack.linesIterator.map(_.trim).find { l =>
      l.startsWith("graft.") && !l.startsWith("graft.Bench") && !l.startsWith("graft.Measure") &&
        !l.startsWith("graft.operators.LocalRoute")
    }.map { l =>
      val open = l.indexOf('(')
      val qualified = if (open < 0) l else l.substring(0, open)
      val method = qualified.substring(qualified.lastIndexOf('.') + 1)
        .stripPrefix("$anonfun$").replaceAll("\\$\\d+$", "")
      if (open < 0) method else s"$method at ${l.substring(open + 1).stripSuffix(")")}"
    }

  /** A job's call site: inside a SQL execution (`spark.sql.execution.id`),
    * the execution's site from `sqlSites`; otherwise the job's
    * `callSite.short` property, or, when unset, the name of its last
    * stage (which Spark sets to the same short call site). */
  private def siteOf(e: SparkListenerJobStart, sqlSites: collection.Map[Long, String]): String = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop(SQLExecution.EXECUTION_ID_KEY).flatMap(id => sqlSites.get(id.toLong))
      .orElse(prop("callSite.short"))
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("unknown"))
  }

  private final class Recorder extends SparkListener {
    private val jobSites = mutable.ArrayBuffer.empty[String]
    private val sqlSites = mutable.Map.empty[Long, String]
    private val stageSites = mutable.Map.empty[Int, String]
    private val stageNames = mutable.ArrayBuffer.empty[String]
    private val stages = mutable.SortedMap.empty[Int, Stage]
    private def stage(id: Int) = stages.getOrElse(id, Stage(id, "", 0, 0, 0, 0, 0, 0, 0, 0))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        sqlSites(s.executionId) = graftFrame(s.details).getOrElse(s.description)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = siteOf(e, sqlSites)
      jobSites += site
      e.stageInfos.foreach(si => stageSites(si.stageId) = site)
      stageNames ++= e.stageInfos.map(_.name)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val wallMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
      stages(si.stageId) = stage(si.stageId).copy(
        site = stageSites.getOrElse(si.stageId, si.name), wallSec = wallMs / 1e3)
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
      synchronized(Sample(secs, jobSites.toSeq, stageNames.toSeq, stages.values.toSeq))
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
