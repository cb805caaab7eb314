package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {

  test("codegen cosine is bit-identical to the HOF left-fold formulation") {
    val e = spark.read.parquet(s"$TinyDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib")).limit(2000)
    val hof =
      aggregate(zip_with(col("va"), col("vb"), _ * _), lit(0.0), _ + _) /
        (sqrt(aggregate(zip_with(col("va"), col("va"), _ * _), lit(0.0), _ + _)) *
          sqrt(aggregate(zip_with(col("vb"), col("vb"), _ * _), lit(0.0), _ + _)))
    val diff = pairs
      .withColumn("c1", VectorFunctions.cosineSim(col("va"), col("vb")))
      .withColumn("c2", hof)
      .filter(col("c1") =!= col("c2")) // exact double comparison
    assert(diff.isEmpty)
  }

  test("dot_product matches a manual computation") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(VectorFunctions.dotProduct(col("a"), col("b"))).head().getDouble(0)
    assert(got == 32.0)
  }

  test("SQL names resolve via GraftExtensions registration") {
    val r = spark.sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
      "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) d").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 11.0)
  }
}
