package graft

import graft.operators.SkewOps
import org.apache.spark.sql.functions._

/** Planted-skew demo for op_salted_join (r7 verdict #8): q_skew_audit's
  * salt_factor formula feeds the salted join, the hot key provably
  * spreads over `factor` shuffle buckets, and AQE's runtime skew-join
  * split is confirmed from the EXECUTED plan on the same planted skew. */
class SaltedSkewSpec extends SparkSpec {

  // one mega-key (5k rows) + a uniform tail (100 keys × 20 rows)
  private def skewedFact = {
    import spark.implicits._
    ((1 to 5000).map(i => (999L, s"hot$i")) ++
      (for (k <- 1 to 100; i <- 1 to 20) yield (k.toLong, s"t$k-$i")))
      .toDF("k", "payload")
  }

  private def dim = {
    import spark.implicits._
    ((1 to 100).map(_.toLong) :+ 999L).map(k => (k, s"dim$k")).toDF("k", "attr")
  }

  test("audit salt_factor feeds the salted join; hot key spreads over factor buckets") {
    val fact = skewedFact
    val audit = SkewOps.suggestedSaltFactors(fact, "k", topN = 5, parts = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the planted mega-key carries 5000/7000 of the rows -> needs ~23 of
    // 32 reducers; the tail keys need 1
    assert(audit(999L) >= 16L, s"audit missed the skew: ${audit(999L)}")
    assert(audit.filter(_._1 != 999L).values.forall(_ == 1L))
    val factor = audit.values.max.toInt
    val salted = SkewOps.saltedInnerJoin(fact, dim, "k", factor)
    // exact equivalence with the plain join
    val plain = fact.join(dim, "k")
    assert(salted.count() == plain.count())
    // decimal sum: a long sum of 7000 xxhash64 values overflows under ANSI
    def cksum(df: org.apache.spark.sql.DataFrame) = df.select(
      sum(xxhash64(col("k"), col("payload"), col("attr")).cast("decimal(38,0)")))
      .head.getDecimal(0)
    assert(cksum(salted) == cksum(plain), "salted join changed the result set")
    // the hot key's rows really occupy `factor` distinct salt buckets
    // (the join key becomes (k, salt) -> factor reducers instead of one)
    val spread = fact.withColumn("__salt",
        pmod(hash(fact.columns.map(col): _*), lit(factor)))
      .filter(col("k") === 999L)
      .select(countDistinct(col("__salt"))).head.getLong(0)
    assert(spread == factor.toLong,
      s"hot key occupies $spread of $factor salt buckets")
  }

  test("AQE runtime skew-join split fires on the planted skew (executed plan)") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // thresholds low enough that the 5k-row hot partition counts as skewed
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // force a sort-merge join: broadcast would dodge the skew machinery
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs: _*) {
      val joined = skewedFact.join(dim, "k")
      // materialize THIS DataFrame (count() would plan a separate query
      // and leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == 7000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$plan")
    }
  }
}
