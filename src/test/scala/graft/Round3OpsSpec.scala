package graft

import graft.operators.{Events2, GraphOps2, LoaderOps}
import graft.ops.Retrieval
import org.apache.spark.sql.functions._

/** Behavior specs for the round-3 operators (beyond the DuckDB oracle
  * hash checks that AllQueriesSpec + Verify already run). */
class Round3OpsSpec extends SparkSpec {

  test("delta detect classifies inserts/deletes/updates consistently with the carve rule") {
    val rows = LoaderOps.qDeltaDetect.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(0)
      val change = r.getString(1)
      // old excludes k%10==3, new excludes k%10==7, prices bump where k%13==0
      if (k % 10 == 3) assert(change == "insert", s"key $k")
      else if (k % 10 == 7) assert(change == "delete", s"key $k")
      else { assert(change == "update"); assert(k % 13 == 0, s"key $k") }
      if (change == "insert") assert(r.isNullAt(2) && !r.isNullAt(3))
      if (change == "delete") assert(!r.isNullAt(2) && r.isNullAt(3))
      if (change == "update") assert(!r.isNullAt(2) && !r.isNullAt(3))
    }
  }

  test("fk integrity audits every edge of the star schema with zero orphans on clean data") {
    val rows = LoaderOps.qFkIntegrity.fn(spark, TinyDir).collect()
    assert(rows.length == 6)
    rows.foreach(r => assert(r.getLong(2) == 0L, s"orphans on ${r.getString(0)}"))
  }

  test("rolling 7-day mean equals the naive per-row recomputation") {
    val rows = Events2.qRollingStats.fn(spark, TinyDir).collect()
      .groupBy(_.getString(0)).values
    rows.foreach { series =>
      val byDay = series.sortBy(_.getString(1))
      byDay.zipWithIndex.foreach { case (r, i) =>
        val window = byDay.slice(math.max(0, i - 6), i + 1)
        val expect = BigDecimal(window.map(_.getLong(2)).sum) / window.length
        assert(math.abs(r.getDouble(4) - expect.toDouble) < 1e-6, s"day ${r.getString(1)}")
      }
    }
  }

  test("first/last touch agrees with a direct min/max by (ts, event_id)") {
    val ev = graft.sources.Tables.events(spark, TinyDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"), col("event_id"))
      .collect().groupBy(_.getLong(0))
    val got = Events2.qFirstLastTouch.fn(spark, TinyDir).collect()
    got.foreach { r =>
      val evs = ev(r.getLong(0)).sortBy(e => (e.getLong(2), e.getLong(3)))
      assert(r.getString(1) == evs.head.getString(1))
      assert(r.getLong(2) == evs.head.getLong(2))
      assert(r.getString(3) == evs.last.getString(1))
      assert(r.getLong(4) == evs.last.getLong(2))
      assert(r.getLong(5) == evs.length.toLong)
    }
  }

  test("anomaly screen keeps every day and only flags above mean + 2 sd") {
    val rows = Events2.qAnomalyDays.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cnt, mean, sd, flag) = (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))
      // rounded mean/sd reported; flag computed pre-rounding — allow the 4dp slack
      if (flag) assert(cnt > mean + 2 * sd - 1e-3)
      else assert(cnt <= mean + 2 * sd + 1e-3)
    }
  }

  test("gap stats: min <= avg <= max and gaps counted per user") {
    val rows = Events2.qGapStats.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getLong(2) <= r.getDouble(4) + 0.01)
      assert(r.getDouble(4) <= r.getLong(3) + 0.01)
    }
  }

  test("bm25 ranks are contiguous from 1 and scores non-increasing") {
    val rows = Retrieval.qBm25.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.zipWithIndex.foreach { case (r, i) => assert(r.getLong(3) == i + 1L) }
    rows.sliding(2).foreach {
      case Array(hi, lo) => assert(hi.getDouble(2) >= lo.getDouble(2))
      case _ =>
    }
  }

  test("vocab coverage is monotone and ends at 1.0") {
    val rows = Retrieval.qVocabCoverage.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(3) <= b.getDouble(3) + 1e-9)
        assert(a.getLong(1) >= b.getLong(1)) // counts non-increasing by rank
      case _ =>
    }
    assert(math.abs(rows.last.getDouble(3) - 1.0) < 1e-6)
  }

  test("bigram LM probabilities: top-3 per token, each prob in (0,1], MLE denominator consistent") {
    val rows = Retrieval.qBigramLm.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.length <= 3)
      g.foreach(r => assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0))
    }
  }

  test("PMI pairs are ordered (ta < tb) and scores descending") {
    val rows = Retrieval.qCooccurPmi.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    rows.foreach(r => assert(r.getString(0) < r.getString(1)))
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(3) >= b.getDouble(3))
      case _ =>
    }
  }

  test("entity match: every probe finds its intended type within distance 2") {
    val rows = Retrieval.qEntityMatch.fn(spark, TinyDir).collect()
    val matched = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(matched("STANDRD") == "STANDARD")
    assert(matched("LRGE") == "LARGE")
    assert(matched("ECONMY") == "ECONOMY")
    assert(matched("SMAL") == "SMALL")
    rows.foreach(r => assert(r.getLong(2) <= 2))
  }

  test("count-min sketch estimates bound the exact counts from above within eps * total") {
    val rows = Retrieval.qHeavyHitters.fn(spark, TinyDir).collect()
    assert(rows.length == 20)
    rows.foreach(r => assert(r.getBoolean(2),
      s"CMS must never under-count (${r.getString(0)})"))
    // numeric error bound on the raw estimates (the query emits the
    // oracled exact half + the est>=exact guarantee flag)
    val total = graft.sources.Tables.documents(spark, TinyDir)
      .select(explode(split(col("text"), " ")).as("t")).count()
    Retrieval.heavyHittersRaw(spark, TinyDir).foreach { case (t, exact, est) =>
      assert(est >= exact, s"CMS must never under-count ($t)")
      assert(est <= exact + (0.0001 * total).toLong + 1, s"CMS error above bound ($t)")
    }
  }

  test("dedup cluster pick: survivors are kept cluster minima, drops map to a kept survivor") {
    val rows = GraphOps2.qDedupClusterPick.fn(spark, TinyDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    val keepSet = rows.filter(_._3).map(_._1).toSet
    rows.foreach { case (id, survivor, keep) =>
      assert(keep == (id == survivor))
      assert(survivor <= id) // survivor is the min id of the cluster
      assert(keepSet(survivor), s"survivor $survivor of $id must itself be kept")
    }
  }

  test("triangles are oriented a<b<c and all three edges are near-dup pairs") {
    val tris = GraphOps2.qTriangleCount.fn(spark, TinyDir).collect()
    val edges = graft.ops.Dedup.qDedupNgram.fn(spark, TinyDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    tris.foreach { t =>
      val (a, b, c) = (t.getLong(0), t.getLong(1), t.getLong(2))
      assert(a < b && b < c)
      assert(edges((a, b)) && edges((b, c)) && edges((a, c)))
    }
  }

  test("global top-k: row_number over an un-partitioned window plans and matches sort+limit") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, (i * 37 % 101).toLong)).toDF("id", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v").desc, col("id"))
    val got = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 7)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = df.orderBy(col("v").desc, col("id")).limit(7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.sameElements(expect.sorted))
  }

  test("approx-distinct rewrite: off by default (exact), on → HLL within rsd, filters untouched") {
    import spark.implicits._
    val df = (1 to 20000).map(i => (i % 7, (i % 997).toLong)).toDF("g", "x")
    df.createOrReplaceTempView("adr_t")
    val exact = spark.sql("SELECT g, COUNT(DISTINCT x) AS d FROM adr_t GROUP BY g ORDER BY g")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    withConf("spark.graft.approxDistinct.enabled" -> "true") {
      val approx = spark.sql("SELECT g, COUNT(DISTINCT x) AS d FROM adr_t GROUP BY g ORDER BY g")
      assert(approx.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))
      val got = approx.collect().map(r => (r.getInt(0), r.getLong(1)))
      exact.zip(got).foreach { case ((g1, e), (g2, a)) =>
        assert(g1 == g2)
        assert(math.abs(a - e).toDouble / e <= 0.15, s"group $g1: exact=$e approx=$a")
      }
      // FILTER-qualified distinct must be left exact
      val filtered = spark.sql(
        "SELECT COUNT(DISTINCT x) FILTER (WHERE x < 100) FROM adr_t")
      assert(!filtered.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))
    }
    val off = spark.sql("SELECT g, COUNT(DISTINCT x) AS d FROM adr_t GROUP BY g ORDER BY g")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(off.sameElements(exact))
  }

  test("string agg roster is sorted and matches the group count") {
    val rows = LoaderOps.qStringAgg.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val names = r.getString(2).split(",").toSeq
      assert(names.length.toLong == r.getLong(1))
      assert(names == names.sorted)
    }
  }

  test("quantile normalization: same rank across groups maps to the same reference value") {
    val rows = graft.operators.Scoring.qQuantileNorm.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty)
    // output is ordered (seg, rank), so the i-th row of each segment is
    // that segment's rank-(i+1) value: every segment at the same rank must
    // share one reference value — the defining property of quantile norm
    val bySeg = rows.groupBy(_.getString(0)).values.map(_.map(_.getDouble(3)))
    val maxLen = bySeg.map(_.length).max
    (0 until maxLen).foreach { i =>
      val refs = bySeg.flatMap(s => if (i < s.length) Some(s(i)) else None).toSet
      assert(refs.size == 1, s"rank ${i + 1} maps to ${refs.size} reference values")
    }
  }

  test("sequence packing: offsets stay inside the budget and cumsum is consistent") {
    val rows = graft.ops.Retrieval.qSeqPack.fn(spark, TinyDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).values.foreach { docs =>
      var cum = 0L
      docs.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) == cum / 2048)
        assert(r.getLong(4) == cum % 2048)
        assert(r.getLong(4) >= 0 && r.getLong(4) < 2048)
        cum += r.getLong(2)
      }
    }
  }

  test("minhash cluster pick: keep/drop decision has the survivor invariants") {
    val rows = graft.ops.Dedup.qDedupMinhashPick.fn(spark, TinyDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    val keepSet = rows.filter(_._3).map(_._1).toSet
    rows.foreach { case (id, survivor, keep) =>
      assert(keep == (id == survivor))
      assert(survivor <= id)
      assert(keepSet(survivor))
    }
    // every doc gets exactly one decision
    assert(rows.map(_._1).distinct.length == rows.length)
    // and the candidate graph matched the exact pair graph edge-for-edge
    val flags = graft.ops.Dedup.qDedupMinhashPick.fn(spark, TinyDir)
      .select("pairs_exact_verified").distinct().collect().map(_.getBoolean(0))
    assert(flags.sameElements(Array(true)), "minhash graph diverged from exact")
  }

  test("sorted write produces disjoint per-file key ranges (file-skipping layout)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toString + "/orders"
    graft.sources.Tables.writeSorted(
      graft.sources.Tables.orders(spark, TinyDir), dir, "o_orderkey", 4)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, "file key ranges must be disjoint")
      case _ =>
    }
  }

  test("incremental aggregate maintenance equals full recompute, including negative deltas") {
    import spark.implicits._
    val facts1 = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)).toDF("id", "g", "v")
    val facts2 = Seq((4L, "a", 7L), (5L, "c", 2L)).toDF("id", "g", "v")
    def full(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("v"))
    val base = full(facts1)
    val inc = graft.operators.MergeOps.incrementalAgg(base, facts2, Seq("g"), Seq("v"))
    val want = full(facts1.union(facts2))
    assert(inc.orderBy("g").collect().toSeq == want.orderBy("g").collect().toSeq)
    // retract facts2 again: back to the base rollup, group c disappears
    val retracted = graft.operators.MergeOps.incrementalAgg(inc, facts2, Seq("g"), Seq("v"), negate = true)
    assert(retracted.orderBy("g").collect().toSeq == base.orderBy("g").collect().toSeq)
  }

  test("inference batching: batches bounded, scores partitioning-invariant, every doc scored once") {
    val docs = graft.sources.Tables.documents(spark, TinyDir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    def run(parts: Int) = graft.ops.Multimodal
      .batchedInfer(docs.repartition(parts), "doc_id", "payload", batchSize = 8)
      .collect()
    val a = run(3); val b = run(7)
    assert(a.length == b.length && a.length == docs.count())
    a.foreach(r => assert(r.getLong(2) <= 8 && r.getLong(3) < r.getLong(2)))
    // model scores must not depend on how rows were batched/partitioned
    val sa = a.map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val sb = b.map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(sa == sb)
  }

  test("TopKAgg equals sort-limit per group and is partitioning-invariant") {
    import spark.implicits._
    val rows = (1 to 5000).map(i => ((i % 13).toLong, ((i * 7919) % 4001).toLong))
    def run(parts: Int) = rows.toDF("g", "v").repartition(parts)
      .groupBy("g").agg(graft.functions.TopKAgg(col("v"), 5).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val a = run(2); val b = run(11)
    assert(a == b)
    val want = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted(Ordering[Long].reverse).take(5)
    }
    a.foreach { case (g, top) => assert(top == want(g), s"group $g") }
  }

  test("ORC roundtrip preserves rows and schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = graft.sources.Tables.nation(spark, TinyDir)
    graft.sources.Tables.writeOrc(src, dir + "/nation_orc")
    val back = graft.sources.Tables.readOrc(spark, dir + "/nation_orc")
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      src.orderBy("n_nationkey").collect().toSeq)
  }

  test("streaming windowed distinct: per-day sketch counts match exact cardinality on small data") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]
    val q = graft.streaming.StreamingOps.windowedDistinct(
        mem.toDF().toDF("user_id", "ts"), "user_id")
      .writeStream.format("memory").queryName("wdist").outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 11:00:00")),
        (2L, ts("2024-01-01 12:00:00")), (3L, ts("2024-01-02 09:00:00")))
      q.processAllAvailable()
      mem.addData((9L, ts("2024-01-05 00:00:00"))) // advance watermark past both days
      q.processAllAvailable()
      val got = spark.sql("SELECT day, approx_distinct, n_events FROM wdist")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // HLL is exact at tiny cardinalities
      assert(got("2024-01-01") == ((2L, 3L)))
      assert(got("2024-01-02") == ((1L, 1L)))
    } finally q.stop()
  }

  test("streaming funnel: conversion emitted on final stage, abandonment on timeout") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
    val evs = mem.toDF().toDF("user_id", "event_type", "ts")
      .as[graft.streaming.StreamingOps.TEv]
    val q = graft.streaming.StreamingOps.funnelStream(
        evs, Seq("signup", "click", "purchase"), timeoutMs = 3600L * 1000)
      .writeStream.format("memory").queryName("funl").outputMode("append").start()
    try {
      // user 1 converts in order; user 2 stalls after signup+click
      mem.addData(
        (1L, "signup", ts("2024-01-01 10:00:00")), (1L, "click", ts("2024-01-01 10:05:00")),
        (1L, "purchase", ts("2024-01-01 10:10:00")),
        (2L, "signup", ts("2024-01-01 10:00:00")), (2L, "click", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      // advance watermark far past user 2's timeout
      mem.addData((9L, "view", ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      mem.addData((9L, "view", ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, converted, stages_reached, duration_us FROM funl")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getInt(2), r.getLong(3))).toSet
      assert(got.contains((1L, true, 3, 600L * 1000 * 1000)))
      assert(got.contains((2L, false, 2, 120L * 1000 * 1000)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the gap, drops the rest") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val views = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = graft.streaming.StreamingOps.intervalJoinStreams(
      clicks.toDF().toDF("user_id", "click_id", "ts"),
      views.toDF().toDF("user_id", "view_id", "ts"), "user_id")
    val q = joined.select("click_id", "view_id")
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      views.addData((1L, 100L, ts("2024-01-01 10:00:00")), (1L, 101L, ts("2024-01-01 09:00:00")),
        (2L, 200L, ts("2024-01-01 10:05:00")))
      clicks.addData((1L, 1L, ts("2024-01-01 10:10:00")), (2L, 2L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, view_id FROM ssjoin")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // click 1 pairs with view 100 (10 min prior) but NOT 101 (70 min prior)
      assert(got == Set((1L, 100L), (2L, 200L)))
    } finally q.stop()
  }
}
