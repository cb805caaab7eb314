package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.ops.DedupService
import graft.sources.Tables

/** graft's benchmark harness, launched once per run by perfbench/run.py.
  *
  * It drives graft only through its public entry points (GraftSession,
  * sources.Tables, SparkEntry.queries, DataFrame.queryExecution and
  * ops.DedupService) and writes one JSON result file. With `--trace 1`
  * it first repeats the untraced measurement, then registers one
  * SparkListener and measures the same passes again, so the per-layer
  * numbers come with the tracing overhead they cost.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --refs FILE --work DIR --out FILE
  *          [--tiny] [--corrupt OP] [--record [--dump VERIFY_OUT_DIR]]
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, refs: String, work: String, out: String,
                        tiny: Boolean, corrupt: Option[String], record: Boolean,
                        dump: Option[String])

  def parse(a: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < a.length) {
      a(i) match {
        case f @ ("--tiny" | "--record") => kv(f) = "1"; i += 1
        case k if k.startsWith("--") && i + 1 < a.length => kv(k) = a(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument $other")
      }
    }
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1", req("--data"), req("--refs"), req("--work"),
      req("--out"), kv.contains("--tiny"), kv.get("--corrupt"), kv.contains("--record"),
      kv.get("--dump"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.byName.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val refs = Refs.load(args.refs, new File(args.data).getName)
    val run = new Run(args, workload, refs)
    val result = run.execute()
    Files.write(Paths.get(args.out), result.getBytes(StandardCharsets.UTF_8))
  }
}

/** One operation's outcome. `secs` is its wall time; a failed operation
  * (an exception or a result that does not match its reference) is kept
  * for the failure count only, its reason in the run's failure list. */
final case class OpResult(name: String, secs: Double, ok: Boolean)

/** One pass: the timed operations in order, the pass's own span, and for
  * dedup_maintain the init and labels-read time (timed, but not operations)
  * and the service's stored and input bytes. */
final case class PassResult(ops: Seq[OpResult], span: Span, otherSecs: Double = 0.0,
                            storedBytes: Long = 0L, inputBytes: Long = 0L) {
  def secs: Double = ops.map(_.secs).sum + otherSecs
}

final class Run(args: PerfBench.Args, workload: Workload, refs: Refs) {
  val spans = new Spans
  val nproc: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  var spark: SparkSession = _
  var listener: Option[JobListener] = None
  val failures = mutable.ArrayBuffer.empty[String]

  private def drain(): Unit =
    if (listener.nonEmpty) org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)

  /** Bench.runOne's hygiene, untimed, between operations: drop cached
    * plans and every persisted RDD except the serving generations that
    * graft.streaming.FrozenSides owns. */
  private def hygiene(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val keep = graft.streaming.FrozenSides.ownedRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      // blocking, so no block removal overlaps the next timed operation
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  // ---- set-up -----------------------------------------------------------

  private def startSession(): (Span, Span) = {
    val (s, sessionSpan) = spans.time("session", "GraftSession") {
      val s = GraftSession.builder("perfbench").getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    spark = s
    val (_, warmSpan) = spans.time("warm", "sources") {
      workload.tables.foreach(n => Tables.tableNormalized(spark, args.data, n).count())
    }
    (sessionSpan, warmSpan)
  }

  /** The untimed warm-up passes: the first pass runs twice as long as a
    * steady one (JIT, codegen, first touch), so it is paid as set-up. The
    * dedup service's calls cost about the same whatever the batch, so its
    * warm-up stops after the first ingest. */
  private def warmUp(): Double = {
    val ws = (0 until workload.warmPasses).map { i =>
      if (workload.dedup) dedupPass(-1 - i, maxBatches = 1) else pass(-1 - i)
    }
    failures.clear() // a failure repeats, and is counted, in the timed passes
    ws.map(_.span.secs).sum
  }

  // ---- query workloads ----------------------------------------------------

  private def runQuery(name: String, parent: Int): OpResult = {
    hygiene()
    val fn = SparkEntry.queries(name)
    val tag = Workloads.layerOf(fn)
    try {
      val (df, b) = spans.time("build", name, tag, parent)(fn(spark, args.data))
      val (d, _) = spans.time("plan", name, tag, parent) {
        val d = Digest.wrap(df)
        d.queryExecution.executedPlan
        d
      }
      val (v, a) = spans.time("action", name, tag, parent)(Digest.read(d.collect().head))
      drain()
      val secs = (a.endNs - b.startNs) / 1e9
      refs.check(name, v) match {
        case None => OpResult(name, secs, ok = true)
        case Some(why) => failures += s"$name: $why"; OpResult(name, secs, ok = false)
      }
    } catch {
      case e: Throwable =>
        drain()
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        OpResult(name, 0.0, ok = false)
    }
  }

  private def queryPass(names: Seq[String], pass: Int): PassResult = {
    val order = new scala.util.Random(args.seed * 1000003L + pass).shuffle(names)
    val p = spans.open("pass", s"pass$pass")
    val ops = order.map(n => runQuery(n, p.id))
    PassResult(ops, spans.close(p))
  }

  // ---- dedup_maintain -------------------------------------------------------

  /** The seeded split of the corpus: base (80%) and equal ingest batches,
    * written once as parquet so the service only ever sees its inputs. */
  private lazy val dedupInputs: (String, Seq[String], Long) = {
    val docs = Tables.documents(spark, args.data)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val shuffled = new scala.util.Random(args.seed).shuffle(ids.toSeq)
    val nBase = (shuffled.length * 0.8).toInt
    val batches = workload.dedupBatches
    val rest = shuffled.drop(nBase)
    val per = math.ceil(rest.length.toDouble / batches).toInt
    val assign = shuffled.take(nBase).map(_ -> 0) ++
      rest.grouped(per).zipWithIndex.flatMap { case (g, i) => g.map(_ -> (i + 1)) }
    val session = spark
    import session.implicits._
    val part = assign.toDF("doc_id", "part")
    val dir = s"${args.work}/dedup_inputs"
    docs.join(part, "doc_id").write.mode("overwrite").partitionBy("part").parquet(dir)
    val base = s"$dir/part=0"
    val bs = (1 to batches).map(i => s"$dir/part=$i").filter(p => new File(p).exists())
    (base, bs, Dirs.bytesUnder(new File(dir)))
  }

  private def dedupPass(pass: Int, maxBatches: Int = Int.MaxValue): PassResult = {
    val (base, allBatches, inputBytes) = dedupInputs
    val batches = allBatches.take(maxBatches)
    val dir = s"${args.work}/dedup_service/pass$pass"
    Dirs.deleteTree(new File(dir))
    val p = spans.open("pass", s"pass$pass")
    val ops = mutable.ArrayBuffer.empty[OpResult]
    var extra = 0.0
    try {
      val (_, i) = spans.time("init", "init", "ops", p.id) {
        DedupService.init(spark.read.parquet(base), dir)
      }
      drain()
      extra += i.secs
      batches.zipWithIndex.foreach { case (b, k) =>
        hygiene()
        val (_, s) = spans.time("ingest", s"ingest${k + 1}", "ops", p.id) {
          DedupService.ingest(spark, dir, k + 1L, spark.read.parquet(b))
        }
        drain()
        ops += OpResult(s"ingest${k + 1}", s.secs, ok = true)
      }
      hygiene()
      val (v, l) = spans.time("labels", "labels", "ops", p.id) {
        Digest.read(Digest.wrap(Labeling.canonical(DedupService.labels(spark, dir))).collect().head)
      }
      drain()
      extra += l.secs
      // the whole maintained labeling is the result every ingest built:
      // a mismatch fails every ingest of the pass
      refs.check("dedup_labels", v).foreach { why =>
        failures += s"dedup_labels: $why"
        ops.indices.foreach(i => ops(i) = ops(i).copy(ok = false))
      }
    } catch {
      case e: Throwable =>
        drain()
        failures += s"dedup pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
        val done = ops.length
        (done until batches.length).foreach(k => ops += OpResult(s"ingest${k + 1}", 0.0, ok = false))
        ops.indices.foreach(i => ops(i) = ops(i).copy(ok = false))
    }
    val span = spans.close(p)
    val stored = Dirs.bytesUnder(new File(dir))
    Dirs.deleteTree(new File(dir))
    PassResult(ops.toSeq, span, extra, stored, inputBytes)
  }

  private def pass(i: Int): PassResult =
    if (workload.dedup) dedupPass(i) else queryPass(workload.queries, i)

  /** Whole passes until the window has elapsed, and at least the
    * workload's minimum (one in the tiny smoke runs). */
  private def window(firstPass: Int): Seq[PassResult] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[PassResult]
    val minPasses = if (args.tiny) 1 else workload.minPasses
    while (out.length < minPasses || (System.nanoTime() - t0) / 1e9 < args.seconds)
      out += pass(firstPass + out.length)
    out.toSeq
  }

  // ---- the run ----------------------------------------------------------------

  def execute(): String = {
    val (session, warm) = startSession()
    if (workload.dedup) dedupInputs
    if (args.record) return record()
    args.corrupt.foreach(refs.corrupt)
    val warmUpSecs = if (args.tiny) 0.0 else warmUp()
    val untraced = window(0)
    val traced =
      if (!args.trace) Nil
      else {
        val l = new JobListener
        spark.sparkContext.addSparkListener(l)
        listener = Some(l)
        window(untraced.length)
      }
    val measured = untraced ++ traced
    val ops = measured.flatMap(_.ops)
    val okTimes = untraced.flatMap(_.ops).filter(_.ok).map(_.secs)
    val rss = Stats.peakRssMb()
    val out = new Json
    out.str("workload", args.workload).num("seed", args.seed.toDouble)
      .num("attempted", ops.length.toDouble).num("failed", ops.count(!_.ok).toDouble)
      .num("passes", untraced.length.toDouble).num("ops", okTimes.length.toDouble)
    // gated end-to-end metrics: steady enough run to run for a bound
    val e2e = new Json
    e2e.metric("setup_s", session.secs + warm.secs + warmUpSecs, "s")
      .metric("pass_s", Stats.median(untraced.map(_.secs)), "s")
    out.obj("end_to_end", e2e)
    // reported, not gated: a median over a few heterogeneous operations
    // and the JVM's adaptive heap move too much from run to run
    val (tailLevel, tail) = Stats.tail(okTimes)
    val summary = new Json
    summary.num("op_p50_s", Stats.median(okTimes))
      .num("op_tail_percentile", tailLevel)
      .num("op_tail_s", tail)
      .num("failed_frac", if (ops.isEmpty) 0.0 else ops.count(!_.ok).toDouble / ops.length)
      .num("peak_rss_mb", rss)
    if (workload.dedup) summary.num("stored_bytes_per_input_byte", storedRatio(untraced))
    out.obj("summary", summary)
    if (args.trace)
      out.obj("per_layer", Layers.metrics(this, traced, untraced, session.secs, warm.secs, rss))
    out.strs("failures", failures.take(20).toSeq)
    writeTrace()
    spark.stop()
    out.render
  }

  def storedRatio(ps: Seq[PassResult]): Double =
    Stats.median(ps.map(p => p.storedBytes.toDouble / math.max(1L, p.inputBytes)))

  /** Write every span (with the per-span counts of a traced run) once the
    * run ends; spans are kept in memory until then. */
  private def writeTrace(): Unit = {
    val counts = listener.map(l => SpanCounts.attribute(spans.all.filter(_.kind != "pass").toSeq, l))
      .getOrElse(Map.empty)
    val sb = new StringBuilder("[\n")
    spans.all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      val c = counts.getOrElse(s.id, SpanCounts.zero)
      if (i > 0) sb.append(",\n")
      sb.append(f"""{"id":${s.id},"kind":"${s.kind}","op":"${s.op}","tag":"${s.tag}",""" +
        f""""parent":${s.parent},"start_ms":${s.startMs},"secs":${s.secs}%.6f,"gc_ms":${s.gcMs},""" +
        f""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_s":${c.taskS}%.3f,""" +
        f""""cpu_s":${c.cpuS}%.3f,"input_bytes":${c.inputBytes},"shuffle_write_bytes":${c.shuffleWrite}}""")
    }
    sb.append("\n]\n")
    val f = new File(s"${args.work}/../traces/${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    f.getParentFile.mkdirs()
    Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Reference values for the workload's data, from one pass each. */
  private def record(): String = {
    val out = new Json
    if (workload.dedup) {
      val dir = s"${args.work}/dedup_reference"
      Dirs.deleteTree(new File(dir))
      // from scratch: one init over every document
      DedupService.init(Tables.documents(spark, args.data), dir)
      val l = Labeling.canonical(DedupService.labels(spark, dir))
      val v = Digest.read(Digest.wrap(l).collect().head)
      val comps = l.select(countDistinct(col("component"))).head.getLong(0)
      out.obj("dedup_labels", new Json().num("rows", v.rows.toDouble).str("hash", v.hash.toString)
        .num("components", comps.toDouble))
    } else {
      workload.queries.foreach { q =>
        val v = Digest.read(Digest.wrap(SparkEntry.queries(q)(spark, args.data)).collect().head)
        val e = new Json().num("rows", v.rows.toDouble).str("hash", v.hash.toString)
        // a graft.Verify dump of the same query, already compared with the
        // DuckDB oracle by tools/check_oracle.py, must digest to the same value
        args.dump.map(d => new File(s"$d/$q")).filter(_.isDirectory).foreach { f =>
          val dumped = Digest.read(Digest.wrap(spark.read.parquet(f.getPath)).collect().head)
          e.str("verify_dump", if (dumped == v) "match" else s"MISMATCH $dumped")
        }
        out.obj(q, e)
        hygiene()
      }
    }
    spark.stop()
    out.render
  }
}

object Labeling {
  /** A labeling with each component renamed to its smallest doc_id, so two
    * labelings of the same partition compare equal whatever ids they use. */
  def canonical(labels: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
    labels.select(col("doc_id"), min(col("doc_id")).over(w).as("component"))
  }
}
