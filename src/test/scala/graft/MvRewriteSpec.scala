package graft

import java.nio.file.Files

import graft.plans.MvRewrite
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Transparent MV routing (rule_mv_rewrite): rewritten plans scan the MV
  * parquet instead of the base table, results stay bit-equal to the
  * un-rewritten plan, and every guard (non-derivable agg, non-key group,
  * non-key filter, conf off) leaves the plan untouched. */
class MvRewriteSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val basePath = s"$TinyDir/lineitem.parquet"
  private lazy val mvPath = Files.createTempDirectory("mv").toString + "/li_mv"

  private def setup(): Unit = {
    MvRewrite.register(spark, "li_rollup", basePath,
      keys = Seq("l_returnflag", "l_linestatus"),
      measures = Seq("l_quantity", "l_extendedprice"),
      mvPath = mvPath)
  }

  override def afterAll(): Unit = {
    MvRewrite.clear()
    super.afterAll()
  }

  private def q() = spark.read.parquet(basePath)
    .groupBy("l_returnflag")
    .agg(sum("l_quantity").as("sq"), max("l_extendedprice").as("mx"),
      count(lit(1)).as("n"))
    .orderBy("l_returnflag")

  test("aggregate over the base table is routed to the MV and stays exact") {
    setup()
    val withMv = q()
    val planStr = withMv.queryExecution.executedPlan.toString
    assert(planStr.contains("li_mv"), planStr)
    assert(!planStr.contains("lineitem.parquet"), planStr)
    val gotMv = withMv.collect()

    val gotBase = withConf(MvRewrite.EnabledKey -> "false") {
      val base = q()
      assert(!base.queryExecution.executedPlan.toString.contains("li_mv"))
      base.collect()
    }

    assert(gotMv.map(_.toString).toSeq == gotBase.map(_.toString).toSeq)
    assert(gotMv.nonEmpty)
  }

  test("key-only filters are routed and prune the MV; results exact") {
    setup()
    val withMv = spark.read.parquet(basePath)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_linestatus").agg(sum("l_extendedprice").as("s"))
      .orderBy("l_linestatus")
    assert(withMv.queryExecution.executedPlan.toString.contains("li_mv"))
    val gotMv = withMv.collect()
    val gotBase = withConf(MvRewrite.EnabledKey -> "false") {
      spark.read.parquet(basePath)
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus").agg(sum("l_extendedprice").as("s"))
        .orderBy("l_linestatus").collect()
    }
    assert(gotMv.map(_.toString).toSeq == gotBase.map(_.toString).toSeq)
  }

  test("guards: non-derivable shapes never rewrite") {
    setup()
    // AVG is not stored -> untouched
    val avg = spark.read.parquet(basePath)
      .groupBy("l_returnflag").agg(org.apache.spark.sql.functions.avg("l_quantity"))
    assert(!avg.queryExecution.executedPlan.toString.contains("li_mv"))
    // group key outside the MV keys -> untouched
    val badKey = spark.read.parquet(basePath)
      .groupBy("l_shipdate").agg(sum("l_quantity"))
    assert(!badKey.queryExecution.executedPlan.toString.contains("li_mv"))
    // filter on a non-key -> untouched
    val badFilter = spark.read.parquet(basePath)
      .filter(col("l_quantity") > 10)
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    assert(!badFilter.queryExecution.executedPlan.toString.contains("li_mv"))
    // COUNT(col) (null-sensitive) -> untouched
    val countCol = spark.read.parquet(basePath)
      .groupBy("l_returnflag").agg(count(col("l_quantity")))
    assert(!countCol.queryExecution.executedPlan.toString.contains("li_mv"))
    // DISTINCT -> untouched
    val dist = spark.read.parquet(basePath)
      .groupBy("l_returnflag").agg(countDistinct(col("l_linestatus")))
    assert(!dist.queryExecution.executedPlan.toString.contains("li_mv"))
  }

  test("two rewritten aggregates coexist in one plan (fresh exprIds)") {
    setup()
    val a = spark.read.parquet(basePath)
      .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
    val b = spark.read.parquet(basePath)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val joined = a.join(b, "l_returnflag").orderBy("l_returnflag")
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("li_mv"))
    val got = joined.collect()
    val exp = withConf(MvRewrite.EnabledKey -> "false") {
      val a2 = spark.read.parquet(basePath)
        .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
      val b2 = spark.read.parquet(basePath)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      a2.join(b2, "l_returnflag").orderBy("l_returnflag").collect()
    }
    assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
  }
}
