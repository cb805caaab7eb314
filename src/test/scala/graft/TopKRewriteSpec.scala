package graft

import graft.plans.TopKRewrite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKRewriteSpec extends SparkSpec {

  private def windowTopk(dir: String) = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  test("row_number<=k filter is rewritten to TopKPerKey under the window") {
    val df = windowTopk(TinyDir)
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("TopKPerKey"), s"optimized:\n$optimized")
    // window + filter still present: semantics preserved
    assert(optimized.contains("Window"), s"optimized:\n$optimized")
  }

  test("rewritten plan returns identical rows to the unrewritten plan") {
    val expected = withConf(TopKRewrite.ConfKey -> "false") {
      windowTopk(SmallDir).collect().map(_.toSeq).toSet
    }
    val got = windowTopk(SmallDir).collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("rank() (tie-keeping) is NOT rewritten") {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    val df = spark.read.parquet(s"$TinyDir/orders.parquet")
      .withColumn("r", rank().over(w))
      .filter(col("r") <= 2)
    assert(!df.queryExecution.optimizedPlan.toString().contains("TopKPerKey"))
  }
}
