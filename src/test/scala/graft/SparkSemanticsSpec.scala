package graft

import graft.functions.{CosineSimilarity, DotProduct, SparkSemantics}
import graft.operators.LocalRoute
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

/** The driver replays' shared kernel, pinned against Spark's own
  * evaluation: every SparkSemantics helper on adversarial doubles, and
  * LocalRoute's observed-count contract at the gate boundary. */
class SparkSemanticsSpec extends SparkSpec {

  private def same(a: Double, b: Double): Boolean = java.lang.Double.compare(a, b) == 0

  private val adversarial: Seq[Double] = Seq(
    // exact decimal ties: HALF_UP on the decimal form rounds them up,
    // while rint on the binary x * 1e6 product rounds some of them down
    2.5e-6, 1.0000005, -0.0000035, 0.0000005, -0.0000005, 2.0000005, -2.0000005,
    123.4567895, 3.41638650000000021, 0.1234565, 1.0000015, 0.5, 1.5, 2.5,
    // near-ties on either side of the midpoint
    1.00000049999999, 1.00000050000001, 0.1234564999999, 0.12345650000001,
    // signed zeros, subnormals, extremes, non-finite values
    0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue, 1e-300,
    Double.MaxValue, -Double.MaxValue, 1e17, 123456789.9999995,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity) ++
    // quotient-shaped values whose 7th decimal sits at ...5
    (1 to 200).map(k => (k * 1000 + 0.5) / 1e6) ++
    (1 to 200).map(k => -(k * 997 + 0.5) / 1e6) ++
    (1 to 200).map(k => k / 7.0 / 1e3)

  test("round matches Spark's Round expression at 0, 2 and 6 decimals") {
    // the rint copy disagrees on at least one tie: the set is adversarial
    assert(adversarial.exists(x => !x.isNaN && !x.isInfinite &&
      !same(math.rint(x * 1e6) / 1e6, SparkSemantics.round(x, 6))))
    for (d <- Seq(0, 2, 6); x <- adversarial) {
      val want = Round(Literal(x), Literal(d)).eval().asInstanceOf[Double]
      val got = SparkSemantics.round(x, d)
      assert(same(got, want), s"round($x, $d): $got != Spark $want")
    }
  }

  test("round matches the column round() on a DataFrame") {
    import spark.implicits._
    val want = adversarial.toDF("x").select(round(col("x"), 6)).collect().map(_.getDouble(0))
    adversarial.zip(want).foreach { case (x, w) =>
      assert(same(SparkSemantics.round(x, 6), w), s"round($x, 6) != $w")
    }
  }

  test("compare orders like a Spark sort: NaN greatest, -0.0 == 0.0") {
    import spark.implicits._
    val vals = Seq(Double.NaN, 1.0, -0.0, 0.0, Double.NegativeInfinity, Double.NaN,
      -Double.MinPositiveValue, Double.MinPositiveValue, Double.PositiveInfinity,
      -1.0, 0.0, -0.0, 2.5e-6, Double.MaxValue, -Double.MaxValue)
    val indexed = vals.zipWithIndex
    val sparkOrder = indexed.toDF("x", "i").orderBy(col("x"), col("i"))
      .collect().map(_.getInt(1)).toSeq
    val ours = indexed.sortWith { case ((x, i), (y, j)) =>
      val c = SparkSemantics.compare(x, y)
      if (c != 0) c < 0 else i < j
    }.map(_._2)
    assert(ours === sparkOrder)
    val descOrder = indexed.toDF("x", "i").orderBy(col("x").desc, col("i"))
      .collect().map(_.getInt(1)).toSeq
    val oursDesc = indexed.sortWith { case ((x, i), (y, j)) =>
      val c = SparkSemantics.compare(y, x)
      if (c != 0) c < 0 else i < j
    }.map(_._2)
    assert(oursDesc === descOrder)
    assert(SparkSemantics.compare(-0.0, 0.0) == 0)
    assert(SparkSemantics.compare(Double.NaN, Double.NaN) == 0)
    assert(SparkSemantics.compare(Double.NaN, Double.PositiveInfinity) > 0)
  }

  test("dot and cosine are DotProduct's and CosineSimilarity's folds") {
    val rnd = new scala.util.Random(7)
    val arrays: Seq[Array[Double]] = Seq(
      Array(1.0, 2.0, 3.0), Array(1.0, 2.0), Array.empty[Double],
      Array(0.0, 0.0, 0.0), Array(-0.0, 0.0, -0.0),
      Array(Double.NaN, 1.0, 2.0), Array(Double.PositiveInfinity, 1.0, 0.0),
      Array(Double.MinPositiveValue, Double.MinPositiveValue, 1.0),
      Array(1e300, 1e300, 1e-300), Array(0.1, 0.2, 0.3, 0.4)) ++
      (1 to 20).map(_ => Array.fill(1 + rnd.nextInt(8))(rnd.nextGaussian()))
    def ad(a: Array[Double]) = new GenericArrayData(a)
    for (a <- arrays; b <- arrays) {
      val wantDot = DotProduct(null, null).nullSafeEval(ad(a), ad(b)).asInstanceOf[Double]
      val wantCos = CosineSimilarity(null, null).nullSafeEval(ad(a), ad(b)).asInstanceOf[Double]
      assert(same(SparkSemantics.dot(a, b), wantDot), s"dot ${a.toSeq} ${b.toSeq}")
      assert(same(SparkSemantics.cosine(a, b), wantCos), s"cosine ${a.toSeq} ${b.toSeq}")
    }
  }

  /** `body`'s result and the names of the stages its jobs ran. */
  private def stagesOf[A](body: => A): (A, Seq[String]) = {
    val (out, m) = Measure(spark)(body)
    (out, m.stageNames)
  }

  test("LocalRoute.rows: Some at the gate, None past it with no collect job") {
    val gate = 5L
    val (at, atM) = LocalRoute.checkpoint(spark.range(gate).toDF("id"))
    val (over, overM) = LocalRoute.checkpoint(spark.range(gate + 1).toDF("id"))
    LocalRoute.drain()
    val (got, atStages) = stagesOf(LocalRoute.rows(at, atM.getLong(0), gate, "spec"))
    assert(got.map(_.map(_.getLong(0)).toSeq.sorted) === Some((0L until gate).toSeq))
    assert(atStages.exists(_.startsWith("collect")), s"probe stages: $atStages")
    assert(LocalRoute.drain() === Seq(LocalRoute.Record("spec", "rows", gate, gate, "local")))
    val (none, overStages) = stagesOf(LocalRoute.rows(over, overM.getLong(0), gate, "spec"))
    assert(none.isEmpty)
    assert(!overStages.exists(_.startsWith("collect")), s"probe stages: $overStages")
    assert(LocalRoute.drain() ===
      Seq(LocalRoute.Record("spec", "rows", gate + 1, gate, "distributed")))
  }

  test("LocalRoute.relation returns a LocalRelation; ineligible inputs are not probed") {
    import spark.implicits._
    val df = LocalRoute.relation(spark,
      Seq(org.apache.spark.sql.Row(1L, "a")), Seq((0L, "")).toDF("k", "v").schema)
    assert(df.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a")))
    LocalRoute.drain()
    assert(LocalRoute.rows(df, 1L, 10L, "spec", eligible = LocalRoute.longKeyed(df)).isEmpty)
    assert(LocalRoute.drain() === Seq(LocalRoute.Record("spec", "rows", -1L, 10L, "distributed")))
  }

  test("LocalRoute.checkpoint's observed count equals count()") {
    import spark.implicits._
    val inputs = Seq(
      "empty" -> spark.range(0).toDF("id"),
      "optimizer-emptied" -> spark.range(10).toDF("id").filter(lit(false)),
      "LocalRelation" -> Seq(1L, 2L, 3L).toDF("id"),
      "multi-partition aggregate" ->
        spark.range(0, 1000, 1, 8).groupBy((col("id") % 37).as("k")).count())
    inputs.foreach { case (name, df) =>
      val (cp, m) = LocalRoute.checkpoint(df)
      val n = m.getLong(0)
      assert(m.length === 1, name)
      assert(n === df.count(), name)
      assert(cp.count() === n, name)
      // the extra aggregates ride the same materialization and equal a
      // plain agg over the input
      val c = col(df.columns.head)
      val extras = Seq(min(c), max(c), count(c), sum(c))
      val (cpx, mx) = LocalRoute.checkpoint(df, extras: _*)
      assert(mx.getLong(0) === n, name)
      assert(mx.toSeq.tail === df.agg(extras.head, extras.tail: _*).head().toSeq, name)
      assert(cpx.count() === n, name)
    }
  }

  test("LocalRoute.checkpoint: a LocalRelation comes back as it is, with no job") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("id")
    val ((cp, m), sample) = Measure(spark)(LocalRoute.checkpoint(df))
    assert(cp eq df)
    assert(m.getLong(0) === 3L)
    assert(sample.jobs === 0, s"job sites: ${sample.jobSites}")
  }

  test("LocalRoute.checkpoint's extra aggregates cost no job beyond the checkpoint") {
    def input = spark.range(0, 1000, 1, 8).groupBy((col("id") % 37).as("k")).count()
    val (_, plain) = Measure(spark)(LocalRoute.checkpoint(input))
    val ((_, m), withExtras) = Measure(spark)(
      LocalRoute.checkpoint(input, min(col("k")), max(col("count"))))
    assert(m.toSeq === Seq(37L, 0L, 28L))
    assert(withExtras.jobs === plain.jobs,
      s"plain: ${plain.jobSites}; with extras: ${withExtras.jobSites}")
  }

  test("LocalRoute.rows on a checkpoint's known count fires no job") {
    val (cp, n) = LocalRoute.checkpoint(spark.range(0, 100, 1, 4).toDF("id"))
    LocalRoute.drain()
    val (none, m) = Measure(spark)(LocalRoute.rows(cp, n.getLong(0), 10L, "spec"))
    assert(none.isEmpty)
    assert(m.jobs === 0, s"job sites: ${m.jobSites}")
    assert(LocalRoute.drain() === Seq(LocalRoute.Record("spec", "rows", 100L, 10L, "distributed")))
  }

  test("xxhash64Long is Spark's xxhash64 on a BIGINT") {
    import spark.implicits._
    val xs = Seq(0L, 1L, -1L, 42L, Long.MinValue, Long.MaxValue, Int.MinValue.toLong,
      Int.MaxValue.toLong + 1L, 7L * 1000003L + 3L, -123456789012345L) ++
      (1 to 200).map(i => i.toLong * 0x9E3779B97F4A7C15L)
    val want = xs.toDF("x").select(col("x"), xxhash64(col("x"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    xs.foreach(x => assert(SparkSemantics.xxhash64Long(x) === want(x), s"x = $x"))
  }
}
