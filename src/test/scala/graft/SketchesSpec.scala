package graft

import graft.functions.{KmvAgg, SampleQuantileAgg}
import org.apache.spark.sql.functions._

/** agg_kmv / agg_sample_quantile: error bounds vs exact answers, set
  * algebra, and the bit-determinism contract (both sketches are pure
  * functions of the input set). */
class SketchesSpec extends SparkSpec {

  test("kmv distinct estimate is exact below k and within 15% above") {
    import spark.implicits._
    // 5000 distinct longs, k=512 → saturated estimator path.
    val df = (1L to 5000L).toDF("v").repartition(7)
    val bytes = df.agg(KmvAgg.agg(xxhash64(col("v")), 512)).head().getAs[Array[Byte]](0)
    val est = KmvAgg.estimateDistinct(bytes)
    assert(math.abs(est - 5000) / 5000.0 < 0.15, s"est=$est")
    // 300 distinct < k → exact.
    val small = (1L to 300L).toDF("v")
    val b2 = small.agg(KmvAgg.agg(xxhash64(col("v")), 512)).head().getAs[Array[Byte]](0)
    assert(KmvAgg.estimateDistinct(b2) == 300.0)
  }

  test("kmv set ops recover union/intersect/jaccard within 20%") {
    import spark.implicits._
    // A = [1, 6000], B = [3001, 9000] → |A∪B| = 9000, |A∩B| = 3000, J = 1/3.
    val a = (1L to 6000L).toDF("v").agg(KmvAgg.agg(xxhash64(col("v")), 1024))
      .head().getAs[Array[Byte]](0)
    val b = (3001L to 9000L).toDF("v").agg(KmvAgg.agg(xxhash64(col("v")), 1024))
      .head().getAs[Array[Byte]](0)
    val (u, i, j) = KmvAgg.setOps(a, b)
    assert(math.abs(u - 9000) / 9000.0 < 0.2, s"union=$u")
    assert(math.abs(i - 3000) / 3000.0 < 0.2, s"intersect=$i")
    assert(math.abs(j - 1.0 / 3) < 0.07, s"jaccard=$j")
    // Union of a sketch with itself is itself.
    assert(KmvAgg.union(a, a).toSeq == a.toSeq)
  }

  test("q_sketch_setops tracks the exact per-pair vocabulary overlap") {
    // the query carries the oracled exact half + the tolerance flag
    val out = SparkEntry.queries("q_sketch_setops")(spark, TinyDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("est_within_tol"),
        s"${r.getString(0)}-${r.getString(1)} KMV estimate outside tolerance")
    }
    // independent numeric bound: rebuild the sketches, estimate directly
    val tk = graft.sources.Tables.documents(spark, TinyDir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val sk = tk.groupBy("source")
      .agg(KmvAgg.agg(xxhash64(col("token")), 1024).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
    val toks = tk.select("source", "token").distinct().collect()
      .groupBy(_.getString(0)).map { case (s, rs) => s -> rs.map(_.getString(1)).toSet }
    for (sa <- sk.keys; sb <- sk.keys if sa < sb) {
      val (eu, ei, ej) = KmvAgg.setOps(sk(sa), sk(sb))
      val (va, vb) = (toks(sa), toks(sb))
      val (u, i) = ((va ++ vb).size, (va & vb).size)
      val j = i.toDouble / u
      assert(math.abs(eu - u) / u < 0.15, s"$sa-$sb union est=$eu exact=$u")
      assert(math.abs(ei - i) / math.max(i, 1) < 0.25,
        s"$sa-$sb intersect est=$ei exact=$i")
      assert(math.abs(ej - j) < 0.1, s"$sa-$sb jaccard est=$ej exact=$j")
    }
  }

  test("q_sketch_quantile tracks exact percentiles within 5%") {
    // the query carries the oracled exact half + the rank certificate
    val out = SparkEntry.queries("q_sketch_quantile")(spark, TinyDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("rank_err_ok"),
        s"${r.getString(0)} sample value strays beyond 5% CDF position")
    }
    // independent numeric bound: rebuild the sample sketch, read the
    // quantiles off it directly, compare against exact percentiles
    val est = graft.sources.Tables.lineitem(spark, TinyDir)
      .groupBy("l_returnflag")
      .agg(SampleQuantileAgg.agg(
        xxhash64(col("l_orderkey"), col("l_linenumber")),
        col("l_extendedprice"), 4096).as("sk"))
      .collect()
      .map { r =>
        val b = r.getAs[Array[Byte]]("sk")
        r.getString(0) -> (SampleQuantileAgg.quantile(b, 0.5),
          SampleQuantileAgg.quantile(b, 0.9), SampleQuantileAgg.quantile(b, 0.99))
      }.toMap
    val exact = graft.sources.Tables.lineitem(spark, TinyDir)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ps"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(est.keySet == exact.keySet)
    for ((flag, (p50, p90, p99)) <- est) {
      val ex = exact(flag)
      assert(math.abs(p50 - ex(0)) / ex(0) < 0.05, s"$flag p50 est=$p50 exact=${ex(0)}")
      assert(math.abs(p90 - ex(1)) / ex(1) < 0.05, s"$flag p90 est=$p90 exact=${ex(1)}")
      assert(math.abs(p99 - ex(2)) / ex(2) < 0.05, s"$flag p99 est=$p99 exact=${ex(2)}")
    }
  }

  test("sample_quantile sketch merge == single-pass sketch") {
    import spark.implicits._
    val rows = (1L to 2000L).map(i => (i, (i * 37 % 1000).toDouble))
    val df = rows.toDF("id", "v")
    def sketch(d: org.apache.spark.sql.DataFrame): Array[Byte] =
      d.agg(SampleQuantileAgg.agg(xxhash64(col("id")), col("v"), 256))
        .head().getAs[Array[Byte]](0)
    val whole = sketch(df)
    val merged = SampleQuantileAgg.merge(
      sketch(df.filter(col("id") <= 1000)), sketch(df.filter(col("id") > 1000)))
    assert(whole.toSeq == merged.toSeq, "sidecar fold-in differs from recompute")
  }

  test("cms estimates never under-count and stay within the εN bound") {
    import spark.implicits._
    // Zipf-ish: key i appears ~1000/i times; 200 distinct keys, N≈5878.
    val rows = (1 to 200).flatMap(i => Seq.fill(1000 / i)(i.toLong))
    val df = rows.toDF("v").repartition(7)
    val bytes = df.agg(graft.functions.CmsAgg.agg(xxhash64(col("v")), 1024, 4))
      .head().getAs[Array[Byte]](0)
    val exact = rows.groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    val n = rows.size.toLong
    // ε = e/width; allow the classic bound with δ-slack absorbed (d=4).
    val epsN = math.ceil(math.E / 1024 * n).toLong + 1
    val hashed = df.select(col("v"), xxhash64(col("v")).as("h")).distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((k, c) <- exact) {
      val est = graft.functions.CmsAgg.estimate(bytes, hashed(k))
      assert(est >= c, s"CMS under-counted key $k: est=$est exact=$c")
      assert(est <= c + epsN, s"key $k overcount ${est - c} > εN=$epsN")
    }
  }

  test("cms sketch merge == single-pass sketch (bit-identical)") {
    import spark.implicits._
    val df = (1L to 3000L).map(i => (i, i % 97)).toDF("id", "v")
    def sketch(d: org.apache.spark.sql.DataFrame): Array[Byte] =
      d.agg(graft.functions.CmsAgg.agg(xxhash64(col("v")), 256, 4))
        .head().getAs[Array[Byte]](0)
    val whole = sketch(df)
    val merged = graft.functions.CmsAgg.merge(
      sketch(df.filter(col("id") % 2 === 0)), sketch(df.filter(col("id") % 2 === 1)))
    assert(whole.toSeq == merged.toSeq, "counter addition must be exact")
  }

  test("cms join-size estimate never under-counts and is tight at adequate width") {
    import spark.implicits._
    // A: keys 1..1000 once each; B: keys 501..1500 three times each
    // → exact join size = 500 * 3 = 1500
    val a = (1L to 1000L).toDF("k")
      .agg(graft.functions.CmsAgg.agg(xxhash64(col("k")), 8192, 4))
      .head().getAs[Array[Byte]](0)
    val b = (501L to 1500L).flatMap(k => Seq(k, k, k)).toDF("k")
      .agg(graft.functions.CmsAgg.agg(xxhash64(col("k")), 8192, 4))
      .head().getAs[Array[Byte]](0)
    val est = graft.functions.CmsAgg.joinSizeEstimate(a, b)
    assert(est >= 1500L, s"under-counted join size: $est")
    // noise ≈ |A|·|B|/w = 1000·3000/8192 ≈ 366 per row; min of 4 rows
    assert(est <= 1500L + 1500L, s"estimate too loose: $est vs exact 1500")
  }

  test("q_join_size_est: every estimate covers the exact join count") {
    val rows = SparkEntry.queries("q_join_size_est")(spark, TinyDir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(1) > 0L, s"degenerate join in ${r.getString(0)}")
      assert(r.getBoolean(2), s"${r.getString(0)} under-counted")
    }
    // numeric overcount bound on the raw estimates (the query itself now
    // emits the oracled exact half + the est>=exact guarantee flag)
    graft.ops.Sketches.joinSizeCases(spark, TinyDir).foreach {
      case (name, exact, est) =>
        assert(est >= exact, s"$name under-counted: $est < $exact")
        val rel = (est - exact).toDouble / exact
        assert(rel < 0.5, s"$name overcount $rel too loose at this width")
    }
  }

  test("q_sketch_cms: per-source estimates cover exact counts, bounded overcount") {
    import spark.implicits._
    val out = SparkEntry.queries("q_sketch_cms")(spark, TinyDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("est_ge_exact"),
        s"${r.getString(0)}/${r.getString(1)} under-counted")
      assert(r.getAs[Boolean]("overcount_le_eps"),
        s"${r.getString(0)}/${r.getString(1)} overcount above its εN bound")
      assert(r.getAs[Long]("exact_n") >= 0L)
    }
    // independent numeric bound: rebuild the per-source sketch, probe the
    // same tokens through CmsAgg.estimate directly, and re-derive εN from
    // scratch — the query's own flag computation is not trusted here
    val tk = graft.sources.Tables.documents(spark, TinyDir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val probes = out.map(_.getString(1)).distinct.toSeq
    val hashes = probes.toDF("token").withColumn("h", xxhash64(col("token")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = tk.filter(col("token").isin(probes: _*))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap.withDefaultValue(0L)
    val sk = tk.groupBy("source")
      .agg(graft.functions.CmsAgg.agg(xxhash64(col("token")), 1024, 4).as("sk"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getAs[Array[Byte]]("sk"), r.getLong(2))))
    for ((src, (bytes, n)) <- sk; t <- probes) {
      val est = graft.functions.CmsAgg.estimate(bytes, hashes(t))
      val x = exact((src, t))
      val epsN = math.ceil(math.E / 1024 * n).toLong
      assert(est >= x, s"$src/$t under-counted: $est < $x")
      assert(est <= x + epsN, s"$src/$t overcount ${est - x} > εN=$epsN")
    }
    // every top-10 probe token occurs somewhere in the corpus
    val byToken = out.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getAs[Long]("exact_n")).sum)
    byToken.foreach { case (t, n) => assert(n > 0L, s"probe token '$t' never seen") }
  }

  Seq("q_sketch_setops", "q_sketch_quantile", "q_sketch_cms").foreach { name =>
    test(s"$name is bit-identical under 3-way and 13-way shuffles") {
      val fn = SparkEntry.queries(name)
      def run(parts: Int): Seq[String] =
        withConf("spark.sql.shuffle.partitions" -> parts.toString) {
          fn(spark, TinyDir).collect().map(_.toString).toSeq
        }
      assert(run(3) == run(13), s"$name output depends on shuffle width")
    }
  }
}
