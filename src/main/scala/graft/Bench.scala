package graft

import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** graft's measurement entry point. With no arguments, the per-round
  * benchmark: every SparkEntry query and production twin against
  * SPARK_GRAFT_SF_DIR, one JSON line of per-query seconds on stdout and
  * each query's wall, CPU, layer columns and routes in bench_full.json.
  * A short warmup (table scans + one tiny aggregate) pays the JVM/codegen
  * and parquet-footer costs once so per-query numbers measure the plans,
  * not first-touch effects. Modes ("prod/<name>" names a production twin):
  *  - `time <sfDir> <q...>`: a warm-up pass, then three ROUND-ROBIN passes
  *    (a sustained host contention window poisons back-to-back samples of
  *    one query); prints rows and min/med/max seconds per query;
  *  - `plan <sfDir> [<outDir> <suffix>] <q...>`: the formatted physical
  *    plan before execution, printed or written to `<outDir>/<q>_<suffix>.txt`;
  *  - `profile <sfDir> <q> [warm]`: one run's jobs per call site
  *    ([[Measure]]'s attribution), then its per-stage table: the local
  *    stand-in for the Spark UI's job and stage pages; `warm` runs the
  *    query first. */
object Bench {
  type Fn = (SparkSession, String) => DataFrame

  /** A query by name; "prod/<name>" resolves the production twin from
    * Production.forms. */
  def fnOf(name: String): Fn =
    if (name.startsWith("prod/")) Production.forms(name.stripPrefix("prod/"))
    else SparkEntry.queries(name)

  /** Touch every table once (JVM, codegen and parquet-footer costs). */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    graft.sources.Tables.names.foreach { n =>
      try graft.sources.Tables.tableNormalized(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }

  /** Drop every cached plan and persisted RDD, so the next query is
    * measured from a clean slate: iterative operators leave
    * localCheckpoint RDD blocks behind (freed only on driver GC via the
    * ContextCleaner); letting them accumulate across 100+ queries
    * evicts/THRASHes later queries' storage and poisons their timings.
    * Blocking, so block removal never overlaps the next timed region.
    * EXEMPT the FrozenSides serving generations (r14): stripping a live
    * generation's blocks while its identity stays valid forces every
    * later sample through a lost-block failure + evict + re-read — a
    * measurement artifact no production serving loop pays. */
  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val protectedIds = graft.streaming.FrozenSides.ownedRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!protectedIds.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case Nil => full(_, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      case "time" :: sfDir :: names if names.nonEmpty => time(_, sfDir, names)
      case "plan" :: sfDir :: rest if rest.nonEmpty => plan(_, sfDir, rest)
      case "profile" :: sfDir :: name :: rest => profile(_, sfDir, name, rest.contains("warm"))
      case _ => throw new IllegalArgumentException("usage: Bench [time|plan|profile] <sfDir> ...")
    }
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try mode(spark) finally spark.stop()
  }

  /** [[warmTables]], one untimed run of each query, then [[sweep]]. */
  private def warmUp(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    warmTables(spark, sfDir)
    names.foreach { n => try fnOf(n)(spark, sfDir).count() catch { case _: Throwable => () } }
    sweep(spark)
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    warmUp(spark, sfDir, names)
    val samples = for (_ <- 1 to 3; name <- names) yield {
      val (rows, m) = Measure(spark)(Try(fnOf(name)(spark, sfDir).count()))
      sweep(spark)
      (name, rows, m.secs)
    }
    names.foreach { name =>
      val runs = samples.filter(_._1 == name)
      val ts = runs.map(_._3).sorted
      runs.map(_._2).find(_.isFailure).getOrElse(runs.head._2) match {
        case Failure(e) => println(s"TIME $name FAIL ${e.toString.take(600)}")
        case Success(rows) => println(f"TIME $name rows=$rows min=${ts.head}%.2f " +
          f"med=${ts(ts.length / 2)}%.2f max=${ts.last}%.2f")
      }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, rest: Seq[String]): Unit = {
    val isQuery = (n: String) => n.startsWith("prod/") || SparkEntry.queries.contains(n)
    val (outDir, names) =
      if (isQuery(rest.head)) (None, rest) else (Some((rest(0), rest(1))), rest.drop(2))
    outDir.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      try {
        val txt = fnOf(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        outDir match {
          case Some((dir, suffix)) =>
            Files.write(Paths.get(s"$dir/${name.replace("/", "_")}_$suffix.txt"), txt.getBytes("UTF-8"))
            println(s"PLAN_OK $name")
          case None => println(s"PLAN $name\n$txt")
        }
      } catch { case e: Throwable => println(s"PLAN_FAIL $name ${e.toString.take(200)}") }
    }
  }

  private def profile(spark: SparkSession, sfDir: String, name: String, warm: Boolean): Unit = {
    warmUp(spark, sfDir, if (warm) Seq(name) else Nil)
    val (rows, m) = Measure(spark)(fnOf(name)(spark, sfDir).count())
    println(f"PROFILE $name rows=$rows total=${m.secs}%.2fs jobs=${m.jobs} stages=${m.stages.size}")
    m.jobsPerSite.foreach { case (site, n) => println(f"SITE jobs=$n%3d  $site") }
    def mb(b: Long) = b / 1048576.0
    m.stages.sortBy(-_.wallSec).take(40).foreach { s =>
      println(f"STAGE ${s.id}%5d wall=${s.wallSec}%6.2fs task=${s.taskSec}%7.2fs " +
        f"tasks=${s.tasks}%3d in=${mb(s.inputBytes)}%7.1fMB " +
        f"sr=${mb(s.shuffleReadBytes)}%7.1fMB sw=${mb(s.shuffleWriteBytes)}%7.1fMB  ${s.site.take(110)}")
    }
    println(f"PROFILE_SUM stage_wall=${m.stages.map(_.wallSec).sum}%.2fs (overlaps possible)")
  }

  private def full(spark: SparkSession, sfDir: String): Unit = {
    // warmup: touch every table, run one shuffle+codegen pipeline
    warmTables(spark, sfDir)
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // per-query executor CPU (VERDICT r14 #7): the bench inputs are
    // single-row-group parquet, so scan-fused stages run single-threaded
    // and CPU savings are invisible in wall clock — record task CPU per
    // query into the bench_full.json artifact, with the query's layer
    // columns: `build_sec` (fn returning, before the count), jobs,
    // stages, tasks, task time, input and shuffle bytes. Measure reads
    // them after a listener-bus drain, OUTSIDE the timed region.
    // The query's driver-route decisions (operators.LocalRoute) ride
    // along, drained outside the timed region too.
    final case class Run(ok: Boolean, buildSec: Double, m: Measure.Sample,
                         routes: Seq[graft.operators.LocalRoute.Record]) {
      def secs: Double = m.secs
    }
    def runOne(fn: Fn): Run = {
      graft.operators.LocalRoute.drain()
      var buildNs = 0L
      val (ok, m) = Measure(spark) {
        val t0 = System.nanoTime()
        try { val df = fn(spark, sfDir); buildNs = System.nanoTime() - t0; df.count(); true }
        catch { case _: Throwable => false }
      }
      val routes = graft.operators.LocalRoute.drain()
      sweep(spark)
      Run(ok, buildNs / 1e9, m, routes)
    }
    // This machine is shared, and contention windows are SUSTAINED (r10:
    // four untouched queries drifted +60-80% in the driver run although
    // each got an immediate min-of-two — both samples landed inside the
    // same window). An immediate retry cannot decorrelate that; a retry
    // PASS can: the slow tail is re-measured as its own sweep, minutes of
    // wall-clock after the first sample of the same query. Policy:
    //   pass 1: every query (gate + production twins) once;
    //   pass 2: everything that measured >1.0s, re-measured in a second
    //           interleaved sweep; keep the min;
    //   pass 3: queries still >2.5s whose two samples disagree >25% —
    //           the genuinely noisy slow tail — get a third sample.
    // min (not median) because contention noise is strictly one-sided:
    // the fastest observed run is the best estimate of the plan's cost.
    val gateItems = SparkEntry.queries.toSeq.sortBy(_._1)
    val prodItems = Production.forms.toSeq.sortBy(_._1).map { case (n, f) => ("prod/" + n, f) }
    val allItems: Seq[(String, Fn)] = gateItems ++ prodItems
    val pass1 = allItems.map { case (name, fn) => (name, fn, runOne(fn)) }
    val retryItems = pass1.filter { case (_, _, m) => m.ok && m.secs > 1.0 }
    val pass2 = retryItems.map { case (name, fn, m1) => (name, fn, m1, runOne(fn)) }
    val pass3 = pass2.flatMap { case (name, fn, m1, m2) =>
      val best = if (m2.ok) math.min(m1.secs, m2.secs) else m1.secs
      val spread = if (m2.ok) math.abs(m1.secs - m2.secs) / math.max(best, 1e-9) else 0.0
      if (best > 2.5 && spread > 0.25) Some((name, fn, runOne(fn))) else None
    }
    // best sample per query: min wall among passing samples (its CPU rides
    // along — CPU of the least-contended run is the best plan-cost estimate
    // for the same reason the min wall is)
    val bestSample: Map[String, Run] = {
      val samples = pass1.map { case (n, _, m) => (n, m) } ++
        pass2.map { case (n, _, _, m) => (n, m) } ++
        pass3.map { case (n, _, m) => (n, m) }
      samples.groupBy(_._1).map { case (n, ms) =>
        val oks = ms.map(_._2).filter(_.ok)
        (n, if (oks.nonEmpty) oks.minBy(_.secs) else ms.head._2)
      }
    }
    val bestOf: Map[String, Double] = bestSample.map { case (n, m) => (n, m.secs) }
    val okOf: Map[String, Boolean] =
      pass1.map { case (n, _, m) => (n, m.ok) }.toMap
    val results = gateItems.map { case (name, _) => (name, bestOf(name), okOf(name)) }
    // The driver captures only the LAST 2000 chars of output and parses the
    // JSON line out of that tail — a line longer than ~1880 chars gets its
    // head cut off and fails to parse (it did in r1/r2). Emit per-query
    // times at 3-decimal precision and, if the line still exceeds the
    // budget, drop the FASTEST queries from the map (keeping a count of
    // omissions) so the headline + slow tail always parse.
    // headline total covers PASSING queries only — time a failed query
    // burned before throwing must not be attributed to the passing set
    // (it would distort the round-over-round per-query mean the
    // attempted/ran triple exists to make unambiguous). Failed elapsed is
    // reported separately alongside the failed names.
    val total = results.collect { case (_, secs, true) => secs }.sum
    val failedSecs = results.collect { case (_, secs, false) => secs }.sum
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
    val failedPart =
      if (failed.isEmpty) ""
      else s""","failed":${failed.mkString("[", ",", "]")},"failed_secs":${
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(failedSecs))}"""
    // Locale-pinned formatting: the f"" interpolator honors the JVM default
    // locale, and a comma-decimal locale would emit invalid JSON.
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // explicit attempted/ran/failed triple so the round-over-round
    // per-query mean has an unambiguous denominator (failed queries are
    // NEVER inside omitted_fast — that count covers ran-and-passed
    // queries dropped from the map for line-length only)
    val attempted = results.length
    val ran = results.count(_._3)
    // PRODUCTION twins (VERDICT r9 #2): the certify=false forms of the
    // certificate-carrying gate queries, timed into their own field so
    // the production cost and the certificate cost stay separately
    // visible round-over-round. Kept OUT of `total` (the headline stays
    // comparable across rounds). Measured by the SAME multi-pass policy
    // as gate queries (VERDICT r10 #2: a one-shot twin measured 7.0s
    // against its certified sibling's retried 3.4s — structurally
    // impossible and purely a measurement artifact).
    val prodTimes = prodItems.map { case (key, _) =>
      (key.stripPrefix("prod/"), bestOf(key), okOf(key))
    }
    val prodPart = {
      val entries = prodTimes.collect { case (k, v, true) => s""""$k":${d3(v)}""" }
      // a twin that starts throwing must stay VISIBLE in the diff — a
      // silently shrinking prod map reads as "twin removed", not broken
      val broken = prodTimes.collect { case (k, _, false) => s""""$k"""" }
      val failedPart =
        if (broken.isEmpty) "" else s""","prod_failed":${broken.mkString("[", ",", "]")}"""
      val main =
        if (entries.isEmpty) "" else s""","prod":${entries.mkString("{", ",", "}")}"""
      main + failedPart
    }
    // Incremental-dedup scan-bytes sweep (VERDICT r9 #8): the IncrBench
    // phases' input MB, inlined so a scan regression (like r9's
    // above-cap fallback reading more than from-scratch) is caught by
    // diffing bench files round-over-round. Seconds stay IncrBench's
    // concern; the JSON carries the scale-relevant bytes.
    val incrPart =
      try {
        val ps = IncrBench.phases(spark, sfDir)
        def mb1(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
        val keyOf = Map(
          "incremental_1pct" -> "i1", "incremental_5pct" -> "i5",
          "incremental_10pct" -> "i10", "incremental_20pct" -> "i20",
          "incremental_inquery" -> "inq", "from_scratch" -> "scratch")
        val entries = ps.flatMap(p => keyOf.get(p.name).map(k => s""""$k":${mb1(p.readMb)}"""))
        if (entries.isEmpty) "" else s""","incr_mb":${entries.mkString("{", ",", "}")}"""
      } catch { case _: Throwable => "" }
    def line(qs: Seq[(String, Double, Boolean)], omitted: Int): String = {
      val m = qs.map { case (k, v, _) => s""""$k":${d3(v)}""" }.mkString("{", ",", "}")
      val om = if (omitted == 0) "" else s""","omitted_fast":$omitted"""
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","attempted":$attempted,"ran":$ran,"queries":$m,"sf":"$sfDir"$om$failedPart$prodPart$incrPart}"""
    }
    // the queries map carries passing queries only (failed ones are fully
    // accounted by the failed array + attempted-ran)
    val bySlow = results.filter(_._3).sortBy(-_._2)
    var keep = bySlow.length
    var out = line(bySlow.take(keep).sortBy(_._1), bySlow.length - keep)
    while (out.length > 1880 && keep > 1) {
      keep -= 1
      out = line(bySlow.take(keep).sortBy(_._1), bySlow.length - keep)
    }
    println(out)
    // COMPLETE per-query artifact (VERDICT r14 #5/#6): the stdout line's
    // 1880-char budget drops the fastest queries from the printed map,
    // which produced phantom "dropped_from_bench" diffs two rounds
    // running. Every query (gate + prod twins), wall AND executor-CPU
    // seconds, lands in bench_full.json next to the repo — the stdout
    // line above stays the driver contract, byte-format unchanged.
    try {
      def ent(key: String): String = {
        val r = bestSample(key)
        val m = r.m
        val routes = r.routes.map(_.json).mkString("[", ",", "]")
        s""""$key":{"sec":${d3(r.secs)},"build_sec":${d3(r.buildSec)},""" +
          s""""cpu_sec":${d3(m.cpuSec)},"ok":${r.ok},"jobs":${m.jobs},""" +
          s""""stages":${m.stages.size},"tasks":${m.tasks},"task_sec":${d3(m.taskSec)},""" +
          s""""input_b":${m.inputBytes},"shuffle_read_b":${m.shuffleReadBytes},""" +
          s""""shuffle_write_b":${m.shuffleWriteBytes},"routes":$routes}"""
      }
      val gates = gateItems.map(_._1).map(ent).mkString("{", ",", "}")
      val prods = prodItems.map(_._1).map(ent).mkString("{", ",", "}")
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val full =
        s"""{"total_sec":${d3(total)},"attempted":$attempted,"ran":$ran,""" +
          s""""sf":"$sfDir","cpus":$cpus,"queries":$gates,"prod":$prods}"""
      Files.write(Paths.get("bench_full.json"), full.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // artifact only — never fail the bench
  }
}
