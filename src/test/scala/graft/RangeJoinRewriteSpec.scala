package graft

import graft.plans.RangeJoinRewrite
import org.apache.spark.sql.functions._

class RangeJoinRewriteSpec extends SparkSpec {

  private def naiveRangeJoin() = {
    val orders = graft.sources.Tables.orders(spark, TinyDir)
    val bands = spark.range(0, 12).select(col("id").as("band"),
      (col("id") * 50000).cast("double").as("lo"),
      ((col("id") + 1) * 50000).cast("double").as("hi"))
    orders.join(bands, col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band").agg(count(lit(1)).as("n"))
  }

  test("naive range join rewrites to a bucket hash join with identical results") {
    withConf(RangeJoinRewrite.WidthKey -> "50000") {
      val df = naiveRangeJoin()
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("__graft_bucket"), s"rewrite did not fire:\n$physical")
      assert(!physical.contains("BroadcastNestedLoopJoin"),
        s"still nested-loop:\n$physical")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val want = withConf(RangeJoinRewrite.EnabledKey -> "false") {
        naiveRangeJoin().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(got === want)
    }
  }

  test("rewrite leaves equi-joins and non-range joins alone") {
    withConf(RangeJoinRewrite.WidthKey -> "50000") {
      val c = graft.sources.Tables.customer(spark, TinyDir)
      val o = graft.sources.Tables.orders(spark, TinyDir)
      val eq = o.join(c, col("o_custkey") === col("c_custkey"))
      assert(!eq.queryExecution.executedPlan.toString.contains("__graft_bucket"))
    }
  }

  test("degenerate interval (hi <= lo) yields no matches, no crash") {
    import spark.implicits._
    withConf(RangeJoinRewrite.WidthKey -> "10") {
      val probes = Seq((1L, 5.0), (2L, 25.0)).toDF("id", "x")
      val bands = Seq((0L, 30.0, 30.0), (1L, 20.0, 30.0)).toDF("band", "lo", "hi")
      val got = probes.join(bands, col("x") >= col("lo") && col("x") < col("hi"))
        .select("id", "band").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((2L, 1L)))
    }
  }
}
