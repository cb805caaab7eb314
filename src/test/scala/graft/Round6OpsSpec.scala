package graft

import graft.operators.Repair
import graft.plans.ApproxPercentileRewrite
import graft.sources.{Tables => T}
import org.apache.spark.sql.functions._

/** Invariants for the round-6 repair/smoothing operators and the
  * approx-percentile rewrite (the DuckDB oracle pins exact values for
  * q_impute/q_ewma; these pin semantics the hash can't express). */
class Round6OpsSpec extends SparkSpec {

  test("q_impute: flags exactly the k=0 rows, imputes the per-type median, keeps the rest") {
    val out = Repair.qImpute.fn(spark, TinyDir).collect()
    val n = T.events(spark, TinyDir).count()
    assert(out.length == n.toInt)
    assert(out.exists(_.getAs[Int]("was_imputed") == 1), "sentinel rows exist in the data")
    out.foreach { r =>
      val raw = r.getAs[Long]("k_raw")
      val filled = r.getAs[Double]("k_filled")
      if (raw == 0L) {
        assert(r.getAs[Int]("was_imputed") == 1)
        assert(filled > 0.0, "imputed value comes from nonzero medians")
      } else {
        assert(r.getAs[Int]("was_imputed") == 0)
        assert(filled == raw.toDouble)
      }
    }
    // per-type imputed value is constant (one median per group)
    val imputed = out.filter(_.getAs[Int]("was_imputed") == 1)
      .groupBy(_.getAs[String]("event_type"))
    imputed.values.foreach { rows =>
      assert(rows.map(_.getAs[Double]("k_filled")).distinct.length == 1)
    }
  }

  test("q_ewma: smoothed value stays inside the trailing-window envelope; first day equals x") {
    val out = Repair.qEwma.fn(spark, TinyDir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("day"),
        r.getAs[Double]("x"), r.getAs[Double]("ewma")))
    assert(out.nonEmpty)
    out.groupBy(_._1).values.foreach { series =>
      val sorted = series.sortBy(_._2)
      // first observation: no history, ewma == x
      assert(math.abs(sorted.head._4 - sorted.head._3) < 1e-9)
      // convexity: ewma is a weighted mean of the last <=7 x values
      sorted.zipWithIndex.foreach { case ((_, _, _, e), i) =>
        val window = sorted.slice(math.max(0, i - 6), i + 1).map(_._3)
        assert(e >= window.min - 1e-6 && e <= window.max + 1e-6)
      }
    }
  }

  test("approx-percentile rewrite: off by default, close to exact when on, weighted untouched") {
    val df = () => spark.read.parquet(s"$TinyDir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("med"))
    val offPlan = df().queryExecution.optimizedPlan.toString
    assert(offPlan.contains("percentile") && !offPlan.contains("approx"), offPlan)
    val exact = df().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    withConf(ApproxPercentileRewrite.EnabledKey -> "true") {
      val onPlan = df().queryExecution.optimizedPlan.toString
      assert(onPlan.contains("percentile_approx") || onPlan.contains("approx_percentile"), onPlan)
      val approx = df().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      approx.foreach { case (k, v) =>
        val e = exact(k)
        assert(math.abs(v - e) <= math.max(1.0, e * 0.05), s"group $k: approx $v vs exact $e")
      }
      // weighted (frequency != 1) percentile must NOT rewrite
      val weighted = spark.read.parquet(s"$TinyDir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5, 2)").as("med"))
      val wPlan = weighted.queryExecution.optimizedPlan.toString
      assert(!wPlan.contains("percentile_approx") && !wPlan.contains("approx_percentile"), wPlan)
    }
  }

  test("streaming as-of join: latest quote at-or-before each event, out-of-order safe") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.StreamingOps.{AsofIn, asofStream}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AsofIn]
    val q = asofStream(mem.toDS(), watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("asof_out").outputMode("append").start()
    try {
      // batch 1: an early unmatched event, a quote, an event after it
      mem.addData(
        AsofIn(7L, ts("2024-01-01 09:00:00"), is_quote = false, id = 100L, qval = 0),
        AsofIn(7L, ts("2024-01-01 10:00:00"), is_quote = true, id = 0L, qval = 1.0),
        AsofIn(7L, ts("2024-01-01 10:45:00"), is_quote = false, id = 101L, qval = 0))
      q.processAllAvailable()
      // batch 2 arrives OUT OF ORDER: a quote BEFORE event 101's ts, and a
      // later event — the 2h watermark delay keeps the 10:30 quote
      // inside the lateness horizon (wm after batch 1 = 10:45 - 2h)
      mem.addData(
        AsofIn(7L, ts("2024-01-01 10:30:00"), is_quote = true, id = 0L, qval = 2.0),
        AsofIn(7L, ts("2024-01-01 11:00:00"), is_quote = false, id = 102L, qval = 0))
      q.processAllAvailable()
      // push the watermark far past everything so all events finalize
      mem.addData(AsofIn(8L, ts("2024-01-02 12:00:00"), is_quote = true, id = 0L, qval = 9.9))
      q.processAllAvailable()
      mem.addData(AsofIn(8L, ts("2024-01-03 12:00:00"), is_quote = true, id = 0L, qval = 9.9))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, quote_us, qval, matched FROM asof_out WHERE key = 7")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
      def usOf(s: String) = ts(s).getTime * 1000
      assert(got == Set(
        (100L, 0L, 0.0, false),                           // before any quote
        (101L, usOf("2024-01-01 10:30:00"), 2.0, true),   // out-of-order quote wins
        (102L, usOf("2024-01-01 10:30:00"), 2.0, true)))  // latest known quote
    } finally q.stop()
  }

  test("streaming MV maintenance: snapshot equals full batch recompute after several batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_mv").resolve("mv").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Double)]
    val df = mem.toDF().toDF("grp", "n", "amt")
    val q = graft.streaming.StreamingOps.mvMaintainSink(df, dir,
      keys = Seq("grp"), sumCols = Seq("n", "amt")).start()
    try {
      mem.addData(("a", 1L, 1.5), ("a", 2L, 2.5), ("b", 10L, 0.5))
      q.processAllAvailable()
      mem.addData(("b", 5L, 1.0), ("c", 7L, 7.0))
      q.processAllAvailable()
      mem.addData(("a", 3L, 3.0))
      q.processAllAvailable()
      val got = spark.read.parquet(dir).collect()
        .map(r => (r.getAs[String]("grp"), r.getAs[Long]("cnt"),
          r.getAs[Long]("n"), r.getAs[Double]("amt"))).toSet
      val expect = Set(
        ("a", 3L, 6L, 7.0),
        ("b", 2L, 15L, 1.5),
        ("c", 1L, 7L, 7.0))
      assert(got == expect)
    } finally q.stop()
  }
}
