package graft

import graft.operators.SkewOps
import graft.sources.{Buckets, Tables}
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {

  test("salted inner join equals plain inner join exactly") {
    val orders = Tables.orders(spark, TinyDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, TinyDir)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    val plain = orders.join(cust, "o_custkey")
      .select("o_orderkey", "o_custkey", "o_totalprice", "c_name")
      .collect().map(_.toSeq).toSet
    val salted = SkewOps.saltedInnerJoin(orders, cust, "o_custkey", 7)
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("hotKeys surfaces the heaviest join keys") {
    val hot = SkewOps.hotKeys(Tables.lineitem(spark, TinyDir), "l_suppkey", 3).collect()
    assert(hot.length == 3)
    assert(hot(0).getLong(1) >= hot(1).getLong(1))
  }

  test("bucketed-by-key tables join without an Exchange") {
    val o = Tables.orders(spark, TinyDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, TinyDir).select("c_custkey", "c_name", "c_acctbal")
      .withColumnRenamed("c_custkey", "o_custkey")
    Buckets.writeBucketed(o, "orders_b", "o_custkey", 8, sortBy = Some("o_custkey"))
    Buckets.writeBucketed(c, "cust_b", "o_custkey", 8, sortBy = Some("o_custkey"))
    val joined = spark.table("orders_b").join(spark.table("cust_b"), "o_custkey")
    // disable broadcast so the co-located sort-merge path is exercised
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange hashpartitioning"), s"plan:\n$plan")
      assert(joined.count() == o.join(c, "o_custkey").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS cust_b")
    }
  }
}
