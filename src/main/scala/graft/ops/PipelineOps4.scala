package graft.ops

import graft.Q
import graft.functions.Exact._
import graft.functions.SparkSemantics
import graft.operators.LocalRoute
import graft.sources.{Tables => T}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StructType}

/** Round-11 (session 3) LLM-data-pipeline operators:
  *
  *  - [[qEmbedQuantize]] — int8 scalar quantization of the embedding
  *    column with per-vector reconstruction-error audit: the storage /
  *    serving compression step every large embedding corpus ships
  *    (FAISS `ScalarQuantizer` semantics, 255-level asymmetric min/max).
  *  - [[qCurriculum]] — perplexity-staged curriculum ordering: the
  *    easy→hard staged schedule (difficulty = bigram-LM avg NLL, the
  *    q_perplexity model) with a deterministic intra-stage shuffle —
  *    the data-ordering pass between selection and sharding.
  *
  * Both fully oracled (DuckDB hash equality) from birth.
  */
object PipelineOps4 {

  /** INT8 SCALAR QUANTIZATION of the embedding column + reconstruction
    * audit — the compression step an embedding store applies before
    * serving (the `ScalarQuantizer`/`QT_8bit` idea: per-DIMENSION
    * min/max over the corpus, 255 uniform levels, q = ⌊(x−mn)·255/(mx−mn)⌋
    * clamped to [0,255], x̂ = mn + q·(mx−mn)/255). Output per vector:
    * the code-content checksum Σq (pins the actual codes, not just the
    * error), MSE and L∞ of the reconstruction.
    *
    * At scale: ONE corpus pass builds the 2·D-number model (posexplode →
    * per-dimension min/max — map-side combinable, D-row shuffle), the
    * model broadcasts back as two D-length arrays, and quantization is a
    * second map-side pass (per-row HOF transforms, no shuffle). Nothing
    * vector-sized ever shuffles; the audit aggregations are per-row
    * sequential folds.
    *
    * Determinism (SURVEY §5): min/max are comparison-exact; the quantize
    * and dequantize arithmetic is a fixed shape of double ops mirrored
    * token-for-token in the oracle; folds start from 0.0 and run in index
    * order both engines (list_reduce over list_prepend(0.0, ·) ==
    * `aggregate(·, 0.0, +)`); errors are ≥ 0 so the greatest-fold is
    * order-free. */
  val qEmbedQuantize: Q = Q(
    "q_embed_quantize",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |el AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
      |dm AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY i),
      |md AS (SELECT list(mn ORDER BY i) AS mnl, list(mx ORDER BY i) AS mxl FROM dm),
      |q AS (SELECT vec_id, v, mnl, mxl,
      |        list_transform(range(1, len(v) + 1), i ->
      |          CASE WHEN mxl[i] > mnl[i]
      |               THEN least(greatest(floor((v[i] - mnl[i]) * CAST(255.0 AS DOUBLE) / (mxl[i] - mnl[i])),
      |                                   CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE))
      |               ELSE CAST(0.0 AS DOUBLE) END) AS ql
      |      FROM e, md),
      |er AS (SELECT vec_id, ql, len(v) AS n,
      |        list_transform(range(1, len(v) + 1), i ->
      |          v[i] - (mnl[i] + ql[i] * (mxl[i] - mnl[i]) / CAST(255.0 AS DOUBLE))) AS dl
      |      FROM q)
      |SELECT vec_id,
      |  CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ql), (a, b) -> a + b) AS BIGINT) AS qsum,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(dl, d -> d * d)),
      |                    (a, b) -> a + b) / n, 6) AS mse,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(dl, d -> abs(d))),
      |                    (a, b) -> greatest(a, b)), 6) AS linf
      |FROM er ORDER BY vec_id""".stripMargin) { (s, d) =>
    val e = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.crossJoin(broadcast(quantModel(e)))
      .withColumn("ql", quantCodes)
      .withColumn("dl", transform(col("v"), (x, i) => {
        val mn = element_at(col("mnl"), i + 1)
        val mx = element_at(col("mxl"), i + 1)
        x - (mn + element_at(col("ql"), i + 1) * (mx - mn) / lit(255.0))
      }))
    q.select(col("vec_id"),
      aggregate(col("ql"), lit(0.0), _ + _).cast("long").as("qsum"),
      round(aggregate(transform(col("dl"), e2 => e2 * e2), lit(0.0), _ + _)
        / size(col("v")), 6).as("mse"),
      round(aggregate(transform(col("dl"), e2 => abs(e2)), lit(0.0),
        (a, b) => greatest(a, b)), 6).as("linf"))
      .orderBy("vec_id")
  }

  /** One-row (mnl, mxl) per-dimension min/max quantization model of a
    * (vec_id, v) frame — corpus pass once, 2·D numbers out, broadcast
    * back to every consumer. */
  private def quantModel(e: DataFrame): DataFrame = {
    val dims = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims.agg(
      array_sort(collect_list(struct(col("i"), col("mn")))).as("ms"),
      array_sort(collect_list(struct(col("i"), col("mx")))).as("xs"))
      .select(transform(col("ms"), t => t.getField("mn")).as("mnl"),
        transform(col("xs"), t => t.getField("mx")).as("mxl"))
  }

  /** 255-level code column for `v` against broadcast `mnl`/`mxl`. */
  private def quantCodes: org.apache.spark.sql.Column =
    transform(col("v"), (x, i) => {
      val mn = element_at(col("mnl"), i + 1)
      val mx = element_at(col("mxl"), i + 1)
      when(mx > mn,
        least(greatest(floor((x - mn) * lit(255.0) / (mx - mn)).cast("double"),
          lit(0.0)), lit(255.0)))
        .otherwise(lit(0.0))
    })

  /** QUANTIZATION RETRIEVAL AUDIT — does int8 storage preserve neighbor
    * RANKING, not just values? For 16 deterministic probe vectors (lowest
    * vec_ids), compare exact-cosine top-10 against asymmetric-distance
    * top-10 (full-precision query × dequantized corpus — FAISS's ADC) and
    * report the overlap. The eval leg q_ann_eval gives LSH/IVF, applied
    * to [[qEmbedQuantize]]'s codes: the number a serving team reads
    * before switching the store to int8.
    *
    * At scale: probes are a broadcast 16-row table; ONE corpus pass
    * computes both cosines per (probe, vec) — O(Q·n) work, no pair
    * shuffle wider than Q·n rows keyed by probe; both top-k windows ride
    * one exchange. */
  val qQuantizeAnn: Q = Q(
    "q_quantize_ann",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |el AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
      |dm AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY i),
      |md AS (SELECT list(mn ORDER BY i) AS mnl, list(mx ORDER BY i) AS mxl FROM dm),
      |xh AS (SELECT vec_id, v,
      |        list_transform(range(1, len(v) + 1), i ->
      |          mnl[i] + (CASE WHEN mxl[i] > mnl[i]
      |            THEN least(greatest(floor((v[i] - mnl[i]) * CAST(255.0 AS DOUBLE) / (mxl[i] - mnl[i])),
      |                                CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE))
      |            ELSE CAST(0.0 AS DOUBLE) END) * (mxl[i] - mnl[i]) / CAST(255.0 AS DOUBLE)) AS vh
      |      FROM e, md),
      |pr AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 16),
      |pa AS (SELECT p.qid, x.vec_id AS dst,
      |         list_inner_product(p.qv, x.v) / (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(x.v, x.v))) AS ce,
      |         list_inner_product(p.qv, x.vh) / (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(x.vh, x.vh))) AS cq
      |       FROM pr p, xh x WHERE x.vec_id <> p.qid),
      |rr AS (SELECT qid, dst,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ce DESC, dst) AS re,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cq DESC, dst) AS rq
      |       FROM pa),
      |ov AS (SELECT a.qid, COUNT(*) AS cnt
      |       FROM (SELECT qid, dst FROM rr WHERE re <= 10) a
      |       JOIN (SELECT qid, dst FROM rr WHERE rq <= 10) b USING (qid, dst)
      |       GROUP BY a.qid)
      |SELECT pr.qid AS vec_id,
      |  CAST(coalesce(ov.cnt, 0) AS INT) AS overlap,
      |  round(CAST(coalesce(ov.cnt, 0) AS DOUBLE) / CAST(10.0 AS DOUBLE), 6) AS recall
      |FROM pr LEFT JOIN ov ON ov.qid = pr.qid
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    import graft.functions.VectorFunctions.cosineSim
    val e = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val xh = e.crossJoin(broadcast(quantModel(e)))
      .withColumn("ql", quantCodes)
      .withColumn("vh", transform(col("v"), (x, i) => {
        val mn = element_at(col("mnl"), i + 1)
        val mx = element_at(col("mxl"), i + 1)
        mn + element_at(col("ql"), i + 1) * (mx - mn) / lit(255.0)
      }))
      .select(col("vec_id"), col("v"), col("vh"))
    val probes = e.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val pa = xh.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("dst"),
        cosineSim(col("qv"), col("v")).as("ce"),
        cosineSim(col("qv"), col("vh")).as("cq"))
    val we = Window.partitionBy("qid").orderBy(col("ce").desc, col("dst").asc)
    val wq = Window.partitionBy("qid").orderBy(col("cq").desc, col("dst").asc)
    val ranked = pa.withColumn("re", row_number().over(we))
      .withColumn("rq", row_number().over(wq))
    val both = ranked.filter(col("re") <= 10).select("qid", "dst")
      .join(ranked.filter(col("rq") <= 10).select("qid", "dst"), Seq("qid", "dst"))
      .groupBy("qid").agg(count(lit(1)).as("cnt"))
    probes.select("qid").join(both, Seq("qid"), "left")
      .select(col("qid").as("vec_id"),
        coalesce(col("cnt"), lit(0L)).cast("int").as("overlap"),
        round(coalesce(col("cnt"), lit(0L)).cast("double") / lit(10.0), 6).as("recall"))
      .orderBy("vec_id")
  }

  /** PERPLEXITY-STAGED CURRICULUM ordering — the data-ORDERING pass of a
    * training pipeline (curriculum learning: present easy text first,
    * hard text later; difficulty = average bigram negative log-likelihood
    * under the corpus LM, the exact q_perplexity model). Docs are ranked
    * by difficulty, cut into 4 equal-population stages, and shuffled
    * WITHIN each stage by a seeded hash (xxhash64(doc_id, 17)) so each
    * stage streams in a deterministic pseudo-random order — rerun-stable,
    * no RNG state. Output: (doc_id, difficulty, stage, pos).
    *
    * At scale: the LM + scoring is q_perplexity's plan (two model-sized
    * aggregations + hash joins); the global difficulty rank and the
    * intra-stage positions are both [[PipelineOps3.exclusivePrefixSum]] —
    * range-partitioned distributed ranks, every window task bounded by
    * its range cut. No global single-task window anywhere (the naive
    * `row_number() OVER (ORDER BY difficulty)` would serialize the
    * corpus through one task).
    *
    * Determinism: difficulty is the 6dp-rounded avg NLL (DECIMAL-summed
    * per doc, SURVEY §5); both rank orders end in doc_id so exact
    * difficulty/hash ties are total-ordered; stage = rank·4 div n is
    * integer arithmetic. */
  val qCurriculum: Q = Q(
    "q_curriculum",
    {
      val hx = OracleKit.xxhash64Sql(
        "SELECT doc_id, difficulty, stage FROM st", "doc_id",
        "doc_id, difficulty, stage", Some(17))
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |pos AS (SELECT doc_id, unnest(l) AS t, generate_subscripts(l, 1) AS ord FROM toks),
         |big AS (SELECT doc_id, t AS cur, LEAD(t) OVER (PARTITION BY doc_id ORDER BY ord) AS nxt FROM pos),
         |bg AS (SELECT doc_id, cur, nxt FROM big WHERE nxt IS NOT NULL),
         |bc AS (SELECT cur, nxt, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
         |cc AS (SELECT cur, CAST(SUM(c2) AS BIGINT) AS c1 FROM bc GROUP BY 1),
         |term AS (SELECT doc_id, round(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)), 6) AS lp
         |         FROM bg JOIN bc USING (cur, nxt) JOIN cc USING (cur)),
         |agg AS (SELECT doc_id, COUNT(*) AS nb,
         |               CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) AS sl
         |        FROM term GROUP BY 1),
         |d0 AS (SELECT d.doc_id,
         |         coalesce(round(-a.sl / a.nb, 6), CAST(0.0 AS DOUBLE)) AS difficulty
         |       FROM documents d LEFT JOIN agg a USING (doc_id)),
         |nn AS (SELECT COUNT(*) AS n FROM d0),
         |rk AS (SELECT doc_id, difficulty,
         |         ROW_NUMBER() OVER (ORDER BY difficulty, doc_id) - 1 AS r FROM d0),
         |st AS (SELECT doc_id, difficulty, CAST((r * 4) // n AS INT) AS stage FROM rk, nn),
         |hx AS ($hx)
         |SELECT doc_id, difficulty, stage,
         |  ROW_NUMBER() OVER (PARTITION BY stage ORDER BY hk, doc_id) - 1 AS pos
         |FROM hx ORDER BY stage, pos""".stripMargin
    }) { (s, d) =>
    val docs = T.documents(s, d)
    val pos = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("ord", "t")))
    val wDoc = Window.partitionBy("doc_id").orderBy("ord")
    val bg = pos.withColumn("nxt", lead(col("t"), 1).over(wDoc))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("t").as("cur"), col("nxt"))
    val bc = bg.groupBy("cur", "nxt").agg(count(lit(1)).as("c2"))
    val cc = bc.groupBy("cur").agg(sum(col("c2")).cast("long").as("c1"))
    val term = bg.join(bc, Seq("cur", "nxt")).join(cc, Seq("cur"))
      .select(col("doc_id"), round(log(dbl(col("c2")) / dbl(col("c1"))), 6).as("lp"))
    val agg = term.groupBy("doc_id")
      .agg(count(lit(1)).as("nb"),
        dbl(sum(col("lp").cast(DecimalType(18, 6)))).as("sl"))
      .select(col("doc_id"), round(-col("sl") / col("nb"), 6).as("avg_nll"))
    val d0 = docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("avg_nll"), lit(0.0)).as("difficulty"))
      .withColumn("__g", lit(0)).withColumn("one", lit(1L))
    val ranked = PipelineOps3.exclusivePrefixSum(
      d0, "__g", Seq("difficulty", "doc_id"), "one", 32)
    val nDf = ranked.groupBy().agg(count(lit(1)).as("n"))
    val st = ranked.crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("difficulty"),
        expr("CAST((pre * 4) div n AS INT)").as("stage"))
      .withColumn("hk", xxhash64(col("doc_id"), lit(17)))
      .withColumn("one", lit(1L))
    PipelineOps3.exclusivePrefixSum(st, "stage", Seq("hk", "doc_id"), "one", 32)
      .select(col("doc_id"), col("difficulty"), col("stage"), col("pre").as("pos"))
      .orderBy("stage", "pos")
  }

  /** NN-DESCENT approximate KNN graph (Dong, Moses & Li, WWW 2011) —
    * the GRAPH-construction member of the ANN family (IVF/PQ/LSH answer
    * point queries; this builds the all-nodes k-NN graph the semdedup /
    * label-prop / hard-negative passes consume, WITHOUT the Θ(n²) exact
    * join that q_knn_graph guards against). The algorithm's invariant:
    * "a neighbor of a neighbor is probably a neighbor" — start from an
    * arbitrary graph and repeatedly compare each node against its
    * neighbors' neighbors, keeping the best k.
    *
    * Shape per round (all equi-joins + one bounded window):
    *   und  = edges ∪ reversed(edges)             (the B(p) = N∪N⁻¹ set)
    *   cand = pairs of und-neighbors through a common point (local join)
    *   keep = top-k of (cand ∪ current) by (cosine DESC, dst ASC)
    * Candidate volume is n·(2k)² per round — LINEAR in n for fixed k
    * (vs n²/2 exact) as a TRUE worst-case bound, because the reverse
    * neighbor set is deterministically ρ-sampled to k per node
    * ([[boundedNeighborSets]]; without the sample a single hub vector's
    * unbounded in-degree makes the local join quadratic). Every stage
    * is a hash equi-join on node id with a per-node window bounded by
    * 4k²+k rows. Rounds are fixed (2)
    * and each round's result is eagerly checkpointed (bounded lineage,
    * PLANS.md round-2 rule).
    *
    * Init is a DETERMINISTIC pseudo-random graph: node rid's m-th
    * neighbor is (rid·37 + m·101 + 13) mod n on the distributed
    * [[PipelineOps3.exclusivePrefixSum]] rank — NN-descent converges
    * from any start, and a seeded congruential start keeps the gate
    * exact with no RNG state. k = 14 / 2 rounds lands recall ≈ 0.91
    * even on the ISOTROPIC bench embeddings (the method's worst case —
    * no cluster structure to exploit; convergence is k-driven, measured
    * 0.35@k6r2 → 0.83@k12r2 → 0.91@k14r2 on sf0.001) and is exact on clustered
    * corpora (planted spec). Determinism: cosine is the codegen'd
    * [[graft.functions.CosineSimilarity]] left fold, bit-identical to
    * the oracle's list_inner_product shape; rank ties break on dst id.
    *
    * Output: (src_id, rnk, dst_id, sim) — each node's approximate k
    * nearest neighbors. */
  val qNnDescent: Q = Q("q_nn_descent", nnDescentOracleSql()) { (s, d) =>
    val vecs = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    nnDescentGraph(vecs, k = 14, rounds = 2)
  }

  /** Input gate for the NN-Descent driver replay, in DOUBLES (rows ×
    * dim) — the same driver-sized-by-construction bound the r14 kmeans
    * route uses (≤ 16 MB of vectors). Past it — any real embedding
    * corpus — the distributed loop ships unchanged. Both routes emit the
    * identical scored graph (exact replay of the congruential init, the
    * ρ-sampled reverse neighborhoods, the fused cosine fold and Spark's
    * nan-safe (cv DESC, dst ASC) ranking); NnDescentRouteSpec pins
    * bit-identity across the gate, and the q_nn_descent / q_graph_search
    * oracles hash the routed results at all three SFs. */
  private[graft] val NnDescentDriverMaxDoubles: Long = 2000000L

  private[graft] def nnDescentGraph(vecs: DataFrame, k: Int, rounds: Int,
                                    driverMaxDoubles: Long = NnDescentDriverMaxDoubles): DataFrame = {
    val spark = vecs.sparkSession
    // The congruential init needs a dense 0..n-1 node numbering. The
    // vectors' one checkpoint (rid = vec_id) observes the bounds that
    // decide the route: vec ids that are already dense (the common
    // layout) ARE the numbering and that checkpoint is `ev`; otherwise a
    // range-partitioned distributed rank is built from it (never a global
    // single-task window). Both routes yield the same rid on dense ids,
    // so the oracle (ROW_NUMBER over vec_id) covers both. The same
    // observation carries max vector width for the driver-route gate below.
    val (cp, b) = LocalRoute.checkpoint(
      vecs.select(col("vec_id").as("rid"), col("vec_id"), col("v")),
      min(col("vec_id")), max(col("vec_id")), max(size(col("v"))),
      count(col("vec_id")), count(col("v")))
    val n = b.getLong(0)
    val dense = n > 0 && b.getLong(1) == 0L && b.getLong(2) == n - 1
    val ev = if (dense) cp
    else {
      val base = cp.select(col("vec_id"), col("v"))
        .withColumn("__g", lit(0)).withColumn("one", lit(1L))
      val ranked = PipelineOps3.exclusivePrefixSum(base, "__g", Seq("vec_id"), "one", 32)
        .select(col("pre").as("rid"), col("vec_id"), col("v"))
        .localCheckpoint(true)
      // `ranked` is materialized and no longer reads `cp`: free cp's
      // blocks rather than hold a second stored copy of the vectors
      cp.queryExecution.logical match {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ =>
      }
      ranked
    }
    // driver route (see LocalRoute) for the iterative middle only — the
    // loop pays ~6 Spark jobs per round; the scored rows return through
    // the SHARED final projection below. Null vectors or ids stay on it.
    val dimMax = if (b.isNullAt(3)) 0L else b.getInt(3).toLong
    val scored: DataFrame =
      if (LocalRoute.admit("nnDescentGraph", "values", n * math.max(1L, dimMax),
          driverMaxDoubles, eligible = n > 0 && b.getLong(4) == n && b.getLong(5) == n)) {
        val vs = new Array[Array[Double]](n.toInt)
        ev.select(col("rid"), col("v")).collect()
          .foreach(r => vs(r.getLong(0).toInt) = r.getSeq[Double](1).toArray)
        LocalRoute.relation(spark, driverNnDescent(vs, k, rounds), new StructType()
          .add("src", LongType, nullable = false).add("dst", LongType, nullable = false)
          .add("cv", DoubleType, nullable = false).add("rnk", IntegerType, nullable = false))
      } else distributedNnDescent(ev, n, k, rounds)
    scored
      .join(ev.select(col("rid").as("src"), col("vec_id").as("src_id")), "src")
      .join(ev.select(col("rid").as("dst"), col("vec_id").as("dst_id")), "dst")
      .select(col("src_id"), col("rnk"), col("dst_id"), round(col("cv"), 6).as("sim"))
      .orderBy("src_id", "rnk")
  }

  private def distributedNnDescent(ev: DataFrame, n: Long, k: Int,
                                   rounds: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosineSim
    val vecs = ev
    var edges = ev.select(col("rid"), explode(sequence(lit(1), lit(k))).as("m"))
      .select(col("rid").as("src"),
        ((col("rid") * 37 + col("m") * 101 + 13) % n).as("dst"))
      .filter(col("dst") =!= col("src")).distinct()
    var scored: DataFrame = null
    for (_ <- 1 to rounds) {
      // B(p) = N(p) ∪ sample_k(N⁻¹(p)) as ONE set column — see
      // [[boundedNeighborSets]]; the reverse side is ρ-sampled to k per
      // node (Dong et al. 2011 §2.3) so |B(p)| ≤ 2k HOLDS even when one
      // hub vector lands in millions of neighbor lists. The local join
      // is then a map-side double explode (|B|² ≤ 4k² pair rows, no
      // join), and the candidate dedup is a second collect_set keyed on
      // the new src — which ALSO leaves the data hash-partitioned by
      // src, so the broadcast array joins and the top-k window below
      // add no further exchange (the naive
      // distinct-join-distinct-window form pays four shuffles).
      val bp = boundedNeighborSets(edges, k)
      val pairs = bp.select(explode(col("bp")).as("u"), col("bp"))
        .select(col("u").as("src"), explode(col("bp")).as("dst"))
        .filter(col("dst") =!= col("src"))
      // scale-adaptive parallelism for the expansion stage: the dedup
      // agg's exchange carries node-sized SETS (tiny bytes), so AQE
      // coalesces its read to 1-2 tasks — and that read is where the
      // round's real work runs (explode to ≤ n·(2k)² candidate rows, a
      // dim-wide cosine each, the top-k window sort). The candidate
      // volume is KNOWN (the |B(p)| ≤ 2k bound), so derive the partition
      // count from it — ~200k scored rows per task, floored at runtime
      // cores — instead of letting byte-based coalescing serialize a
      // compute-bound stage (guide §2: derive partitioning from input
      // size, here the post-explosion size). r15: the r14 8·cores CEILING
      // is gone (VERDICT r14 #3 — it let per-task candidate rows grow
      // without bound past ~1.6M·cores); the only cap left is the
      // absolute task-count sanity bound.
      val par = graft.operators.GraphOps2.expansionTasks(
        vecs.sparkSession, n * 4L * k * k)
      val all = pairs.union(edges.select("src", "dst"))
        .repartition(par, col("src"))
        .groupBy("src").agg(collect_set(col("dst")).as("ds"))
        .select(col("src"), explode(col("ds")).as("dst"))
      val sims = all
        .join(ev.select(col("rid").as("src"), col("v").as("va")), "src")
        .join(ev.select(col("rid").as("dst"), col("v").as("vb")), "dst")
        .select(col("src"), col("dst"), cosineSim(col("va"), col("vb")).as("cv"))
      val w = Window.partitionBy("src").orderBy(col("cv").desc, col("dst").asc)
      scored = sims.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .localCheckpoint(true)
      edges = scored.select("src", "dst")
    }
    scored
  }

  /** Driver replay of [[distributedNnDescent]]'s rounds over the
    * collected (rid-indexed) vectors — bit-identical by construction:
    * the congruential init's long arithmetic, the reverse-neighbor
    * ρ-sample's (xxhash64(src·1000003+dst), dst) order
    * ([[graft.functions.SparkSemantics.xxhash64Long]], JVM overflow wrap
    * and all), the set
    * semantics of the candidate dedup (collect_set ≙ HashSet), the
    * fused dot/na/nb cosine fold of [[graft.functions.CosineSimilarity]],
    * and Spark's nan-safe double ordering for the (cv DESC, dst ASC)
    * top-k window (NaN greatest, -0.0 == 0.0 — java.lang.Double.compare
    * would order -0.0 ties differently). Returns the last round's scored
    * rows (src, dst, cv, rnk ≤ k). */
  private def driverNnDescent(vs: Array[Array[Double]], k: Int, rounds: Int): Seq[Row] = {
    val n = vs.length
    // congruential init, distinct (sets make order irrelevant)
    var edges: Array[Array[Long]] = {
      val sets = Array.fill(n)(new java.util.HashSet[java.lang.Long]())
      var rid = 0
      while (rid < n) {
        var m = 1
        while (m <= k) {
          val dst = (rid.toLong * 37L + m.toLong * 101L + 13L) % n.toLong
          if (dst != rid.toLong) { sets(rid).add(dst); () }
          m += 1
        }
        rid += 1
      }
      sets.map { s =>
        val a = new Array[Long](s.size); var i = 0
        val it = s.iterator; while (it.hasNext) { a(i) = it.next(); i += 1 }
        a
      }
    }
    var scoredOut: Seq[Row] = Seq.empty
    for (_ <- 1 to rounds) {
      // reverse adjacency, then the deterministic k-sample per node
      val rev = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Long])
      var s = 0
      while (s < n) {
        val es = edges(s); var i = 0
        while (i < es.length) { rev(es(i).toInt) += s.toLong; i += 1 }
        s += 1
      }
      // B(p) = N(p) ∪ revK(p)
      val bp = new Array[Array[Long]](n)
      var p = 0
      while (p < n) {
        val ordered = rev(p).sortBy(d =>
          (graft.functions.SparkSemantics.xxhash64Long(p.toLong * 1000003L + d), d))
        val set = new java.util.HashSet[java.lang.Long]()
        edges(p).foreach(d => { set.add(d); () })
        ordered.take(k).foreach(d => { set.add(d); () })
        val a = new Array[Long](set.size); var i = 0
        val it = set.iterator; while (it.hasNext) { a(i) = it.next(); i += 1 }
        bp(p) = a
        p += 1
      }
      // local join: every ordered (u, w) pair within each B set, w != u,
      // unioned with the current edges, deduped per src (collect_set)
      val cand = Array.fill(n)(new java.util.HashSet[java.lang.Long]())
      p = 0
      while (p < n) {
        val a = bp(p); var i = 0
        while (i < a.length) {
          val u = a(i); var j = 0
          while (j < a.length) {
            val w = a(j)
            if (w != u) { cand(u.toInt).add(w); () }
            j += 1
          }
          i += 1
        }
        p += 1
      }
      s = 0
      while (s < n) {
        edges(s).foreach(d => { cand(s).add(d); () }); s += 1
      }
      // score every candidate, rank (cv DESC, dst ASC), keep top k
      val nextEdges = new Array[Array[Long]](n)
      val out = Seq.newBuilder[Row]
      s = 0
      while (s < n) {
        val cs = cand(s)
        if (cs.isEmpty) nextEdges(s) = Array.empty[Long]
        else {
          val arr = new Array[(Long, Double)](cs.size)
          var i = 0
          val it = cs.iterator
          while (it.hasNext) {
            val d = it.next().longValue()
            arr(i) = (d, SparkSemantics.cosine(vs(s), vs(d.toInt))); i += 1
          }
          val sorted = arr.sortWith { (x, y) =>
            val c = SparkSemantics.compare(y._2, x._2) // cv DESC
            if (c != 0) c < 0 else x._1 < y._1 // dst ASC
          }
          val keep = math.min(k, sorted.length)
          val es = new Array[Long](keep)
          i = 0
          while (i < keep) {
            out += Row(s.toLong, sorted(i)._1, sorted(i)._2, i + 1)
            es(i) = sorted(i)._1
            i += 1
          }
          nextEdges(s) = es
        }
        s += 1
      }
      edges = nextEdges
      scoredOut = out.result()
    }
    scoredOut
  }

  /** B(p) = N(p) ∪ sample_k(N⁻¹(p)) for every node, one set column per
    * node. Out-degree is already ≤ k (the round's top-k window); the
    * REVERSE neighbor set is the unbounded side — in-degree has no cap,
    * and a hub vector (exact-duplicate clusters, boilerplate-heavy
    * crawls) that appears in m neighbor lists would make the |B|² local
    * join quadratic in m. Dong et al. 2011's fix is ρ-sampling the
    * reverse neighbors; here ρ·k = k and the sample is DETERMINISTIC: a
    * per-node row_number over xxhash64(src·1000003 + dst) (same replay
    * machinery as the epoch shuffle — the oracle recomputes the
    * identical hash), ties on dst. So |B(p)| ≤ 2k ALWAYS and the
    * candidate volume n·(2k)² is a true worst-case bound, not an
    * isotropic-data assumption ([[NnDescentSpec]] plants a 10×-injected
    * hub and asserts the bound from the built sets). */
  private[graft] def boundedNeighborSets(edges: DataFrame, k: Int): DataFrame = {
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    val wR = Window.partitionBy("src")
      .orderBy(xxhash64(col("src") * lit(1000003L) + col("dst")).asc, col("dst").asc)
    val revK = rev.withColumn("rr", row_number().over(wR))
      .filter(col("rr") <= k).drop("rr")
    edges.select("src", "dst").union(revK)
      .groupBy("src").agg(collect_set(col("dst")).as("bp"))
  }

  /** The q_nn_descent oracle: the same congruential init and 2 unrolled
    * local-join rounds in plain SQL (UNION dedups exactly like Spark's
    * union().distinct(); the per-node window ranks by the identical
    * (cosine DESC, dst) key; [[OracleKit.cosSql]] matches the codegen'd
    * left fold bit-for-bit). MATERIALIZED on the scored sets — each is
    * referenced twice and DuckDB inlines CTEs. The CTE chain (through
    * `fin`, the ranked final graph) is shared with the
    * [[qGraphSearch]] oracle, which searches over the same graph. */
  private def nnDescentCtes(k: Int, rounds: Int): String = {
    val cos = OracleKit.cosSql("x.v", "y.v")
    val roundsSql = (1 to rounds).map { t =>
      val p = s"e${t - 1}"
      // the reverse side replays boundedNeighborSets' ρ-sample: the same
      // xxhash64(src·1000003 + dst) order key (exact HUGEINT arithmetic
      // feeds the replay's mod-2^64 step, so any wrap matches Spark's)
      val rh = OracleKit.xxhash64Sql(
        s"SELECT dst AS src, src AS dst FROM $p",
        "(src::HUGEINT * 1000003 + dst)", "src, dst", None)
      s"""rk$t AS (SELECT src, dst,
         |          ROW_NUMBER() OVER (PARTITION BY src ORDER BY hk, dst) AS rr
         |        FROM ($rh)),
         |u$t AS (SELECT src, dst FROM $p
         |        UNION SELECT src, dst FROM rk$t WHERE rr <= $k),
         |c$t AS (SELECT a.dst AS src, b.dst AS dst FROM u$t a JOIN u$t b
         |          ON a.src = b.src AND a.dst <> b.dst
         |        UNION SELECT src, dst FROM $p),
         |s$t AS MATERIALIZED (SELECT c.src, c.dst, $cos AS cv
         |        FROM c$t c JOIN ev x ON x.rid = c.src JOIN ev y ON y.rid = c.dst),
         |e$t AS MATERIALIZED (SELECT src, dst, cv FROM (
         |        SELECT src, dst, cv,
         |          ROW_NUMBER() OVER (PARTITION BY src ORDER BY cv DESC, dst) AS rnk
         |        FROM s$t) WHERE rnk <= $k),
         |""".stripMargin
    }.mkString
    s"""WITH ev AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |        ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rid FROM embeddings),
       |nn AS (SELECT COUNT(*) AS n FROM ev),
       |e0 AS MATERIALIZED (SELECT DISTINCT rid AS src, (rid * 37 + m * 101 + 13) % n AS dst
       |      FROM ev, nn, unnest(range(1, ${k + 1})) AS z(m)
       |      WHERE (rid * 37 + m * 101 + 13) % n <> rid),
       |$roundsSql
       |fin AS MATERIALIZED (SELECT src, dst, cv,
       |          ROW_NUMBER() OVER (PARTITION BY src ORDER BY cv DESC, dst) AS rnk
       |        FROM s$rounds)
       |""".stripMargin
  }

  private def nnDescentOracleSql(k: Int = 14, rounds: Int = 2): String =
    nnDescentCtes(k, rounds) +
      s"""SELECT x.vec_id AS src_id, CAST(f.rnk AS INT) AS rnk, y.vec_id AS dst_id,
         |       round(f.cv, 6) AS sim
         |FROM fin f JOIN ev x ON x.rid = f.src JOIN ev y ON y.rid = f.dst
         |WHERE f.rnk <= $k
         |ORDER BY src_id, rnk""".stripMargin

  /** GRAPH-ANN SERVING over the NN-Descent graph (the HNSW layer-0 /
    * DiskANN search idea, batch-expressed; completes graph-ANN —
    * construction landed r11, this is the serving leg): each query
    * starts from a small DETERMINISTIC entry set (the `entries` lowest
    * vec_ids), then `hops` rounds of greedy beam expansion — score the
    * frontier's graph neighbors against the query, keep the best `beam`
    * per query — and finally the top-k of EVERYTHING visited. Where
    * HNSW walks one node at a time per query, the batch form advances
    * every query one hop per round: the frontier⋈graph expansion is one
    * hash equi-join on node id, scoring is one map-side cosine against
    * the broadcast probe set, and the beam prune is a per-query window —
    * so a million concurrent queries cost 3 joins + 3 windows total,
    * not a million walks. Per query per round the candidate set is
    * ≤ beam·(k+1) rows; nothing is ever corpus×corpus.
    *
    * Determinism: entry set and all tie-breaks are (score DESC, node
    * ASC); the graph itself is the oracle-pinned [[qNnDescent]] build.
    * Output: (query_id, neighbor_id, cos, rnk) like the q_ann_* family
    * (rank over 6-dp rounded cosine, self-matches dropped). Recall vs
    * exact top-k is ≥ 0.8 on the bench corpus ([[GraphSearchSpec]]) —
    * the number a serving team reads before replacing exact re-rank. */
  val qGraphSearch: Q = Q("q_graph_search", graphSearchOracleSql()) { (s, d) =>
    val vecs = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graphSearch(vecs, k = 14, rounds = 2, entries = 4, beam = 8, hops = 3, topK = 5)
  }

  private[graft] def graphSearch(vecs: DataFrame, k: Int, rounds: Int, entries: Int,
                                 beam: Int, hops: Int, topK: Int): DataFrame = {
    val graph = nnDescentGraph(vecs, k, rounds)
      .select(col("src_id").as("gsrc"), col("dst_id").as("gdst"))
      .localCheckpoint(true)
    // deliberately NOT checkpointed: a projection over the parquet scan
    // re-reads ~MBs per hop join, strictly cheaper than the eager
    // materialization job a checkpoint costs (r14 profile: the one-shot
    // gate query is job-count-bound; the PERSISTED serving paths —
    // GraphBundle/FrozenSides — pass their own materialized sides)
    val corpus = vecs.select(col("vec_id").as("node"), col("v").as("nv"))
    val probes = corpus.filter(col("node") < 10)
      .select(col("node").as("query_id"), col("nv").as("qv"))
    searchWith(graph, corpus, probes, pickEntries(graph, entries), beam, hops, topK)
  }

  /** DEGREE-PICKED, NEIGHBORHOOD-EXCLUDED entry set for the beam search
    * (VERDICT r12 #6 — entry-by-lowest-id could start every walk inside
    * ONE cluster of a clustered corpus and never escape in `hops` hops):
    * greedily take the highest IN-degree node (in a kNN graph that is a
    * local hub — well-connected, a good place to start), then EXCLUDE
    * its out-neighborhood before the next pick, so successive entries
    * come from disjoint graph regions — `entries` diverse restarts, the
    * flat-graph stand-in for HNSW's upper layers. Deterministic (degree
    * DESC, node ASC; exclusion is the picked node + its out-edges) and
    * replayed verbatim by the oracle. Driver cost: one in-degree
    * aggregation over the edge table, then `entries` argmax probes on
    * the materialized degree table and one k-row neighbor read per pick
    * — model-sized collects, never corpus rows. Returns the (rank,
    * node) picks in pick order; greedy is prefix-stable, so the first E
    * rows ARE pickEntries(graph, E). */
  private[graft] def pickEntries(graph: DataFrame, entries: Int): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    // NOT checkpointed: one cheap aggregation over the caller's already-
    // materialized edge table — recomputing it for the one fetch (plus
    // the rare spill-over probes) costs less than the eager
    // materialization job a checkpoint pays (r14 job-count trim)
    val deg = graph.groupBy(col("gdst").as("node")).agg(count(lit(1)).as("dc"))
    // TWO driver jobs, not 2·entries: fetch the top slice of the degree
    // table once, fetch the out-neighborhoods of everything in it once,
    // then run the greedy locally. The greedy's picks provably stay
    // inside the slice while |picked ∪ excluded| < slice size (excluded
    // only grows, so scanning the (dc DESC, node) order and taking the
    // first non-excluded node IS the global argmax), so the slice is
    // sized for out-degree ≤ 30 · entries; a graph that exceeds it falls
    // back to per-pick argmax probes for the remainder — same rule,
    // same picks.
    val fetch = math.max(entries * 32, 64)
    val top = deg.orderBy(col("dc").desc, col("node")).limit(fetch)
      .select("node").collect().map(_.getLong(0))
    val nbrs: Map[Long, Array[Long]] = graph
      .join(broadcast(top.toSeq.toDF("gsrc")), "gsrc")
      .select("gsrc", "gdst").collect()
      .groupBy(_.getLong(0)).map { case (src, rs) => src -> rs.map(_.getLong(1)) }
    val picked = scala.collection.mutable.ArrayBuffer[Long]()
    var excluded = Set.empty[Long]
    val it = top.iterator
    while (picked.size < entries && it.hasNext) {
      val n = it.next()
      if (!excluded.contains(n)) {
        picked += n
        excluded ++= nbrs.getOrElse(n, Array.empty)
        excluded += n
      }
    }
    // spill-over (out-degree beyond the slice's sizing): per-pick probes
    var exhausted = picked.size >= entries ||
      deg.count() <= fetch // slice WAS the whole table
    while (picked.size < entries && !exhausted) {
      val rem = deg.filter(!col("node").isin((excluded ++ picked).toSeq: _*))
      rem.orderBy(col("dc").desc, col("node")).limit(1).collect() match {
        case Array(row) =>
          val n = row.getLong(0)
          picked += n
          excluded ++= graph.filter(col("gsrc") === n)
            .select("gdst").collect().map(_.getLong(0))
          excluded += n
        case _ => exhausted = true
      }
    }
    picked.toSeq.zipWithIndex.map { case (n, i) => (i + 1, n) }.toDF("erank", "node")
  }

  /** The oracle replay of [[pickEntries]]: `entries` unrolled greedy
    * steps over the in-degree table of edge CTE `g` (gsrc, gdst), each
    * excluding the previous picks' out-neighborhoods. Emits CTEs
    * `deg, en1..enN, ex1..exN` and the final `en(node)`. */
  private def pickEntriesCtes(entries: Int): String = {
    val steps = (1 to entries).map { i =>
      val notIn = if (i == 1) ""
                  else s" WHERE node NOT IN (SELECT node FROM ex${i - 1})"
      val prev = if (i == 1) "" else s"SELECT node FROM ex${i - 1} UNION "
      s"""en$i AS (SELECT node FROM deg$notIn ORDER BY dc DESC, node LIMIT 1),
         |ex$i AS (${prev}SELECT node FROM en$i
         |  UNION SELECT g.gdst AS node FROM g JOIN en$i ON g.gsrc = en$i.node),
         |""".stripMargin
    }.mkString
    s"""deg AS MATERIALIZED (SELECT gdst AS node, COUNT(*)::BIGINT AS dc FROM g GROUP BY gdst),
       |$steps
       |en AS (${(1 to entries).map(i => s"SELECT node FROM en$i").mkString(" UNION ")}),
       |""".stripMargin
  }

  /** The search core against an already-built graph + vector side
    * (`graph`: gsrc/gdst edges, `corpus`: node/nv — both expected
    * materialized, e.g. [[graft.streaming.FrozenSides.parquetTable]]'s
    * checkpoints or [[nnDescentGraph]]'s). Per-query and graph-frozen, so
    * answers are COMPOSITIONAL: any micro-batching of the probe stream
    * returns identical rows per query — the streaming serving sink's
    * correctness contract (the AnnIndex.queryWith posture). */
  private[graft] def searchWith(graph: DataFrame, corpus: DataFrame, probes: DataFrame,
                                entry: DataFrame, beam: Int, hops: Int, topK: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosineSim
    var frontier = probes.select("query_id").crossJoin(broadcast(entry.select("node")))
    // visited accumulates SCORED rows, so the closing ranking re-joins
    // nothing: every candidate arrives with its cosine, and a (query,
    // node) re-visit carries the bit-identical double (same codegen'd
    // expression), so one final distinct dedups the union
    var visitedScored: DataFrame = null
    for (_ <- 1 to hops) {
      val cand = frontier
        .unionByName(frontier.join(graph, frontier("node") === graph("gsrc"))
          .select(col("query_id"), col("gdst").as("node")))
        .distinct()
      // one checkpoint per hop: `scored` feeds BOTH the beam prune and
      // the visited accumulator, and its exact stats keep the next
      // hop's joins broadcast-sized
      val scored = cand.join(corpus, "node").join(broadcast(probes), "query_id")
        .select(col("query_id"), col("node"), cosineSim(col("qv"), col("nv")).as("cs"))
        .localCheckpoint(true)
      visitedScored =
        if (visitedScored == null) scored else visitedScored.unionByName(scored)
      val wB = Window.partitionBy("query_id").orderBy(col("cs").desc, col("node"))
      frontier = scored.withColumn("br", row_number().over(wB))
        .filter(col("br") <= beam)
        .select("query_id", "node")
    }
    val fsc = visitedScored.distinct()
      .filter(col("node") =!= col("query_id"))
      .withColumn("cos", round(col("cs"), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("node"))
    fsc.withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("node").as("neighbor_id"), col("cos"), col("rnk"))
      .orderBy("query_id", "rnk", "neighbor_id")
  }

  /** The q_graph_search oracle: [[nnDescentCtes]]'s graph, then the
    * fixed `hops` beam rounds unrolled — candidate UNION (dedups like
    * Spark's union().distinct()), one scored CTE per round with the
    * identical unrounded beam key, ROW_NUMBER beam prune, visited-set
    * accumulation — and the final rank over 6-dp rounded cosine. */
  private def graphSearchOracleSql(k: Int = 14, rounds: Int = 2, entries: Int = 4,
                                   beam: Int = 8, hops: Int = 3, topK: Int = 5): String = {
    val cosQ = OracleKit.cosSql("p.qv", "e.v")
    val hopsSql = (1 to hops).map { t =>
      val p = s"gf${t - 1}"
      s"""gc$t AS (SELECT query_id, node FROM $p
         |       UNION SELECT f.query_id, g.gdst AS node FROM $p f JOIN g ON g.gsrc = f.node),
         |gs$t AS MATERIALIZED (SELECT c.query_id, c.node, $cosQ AS cs
         |       FROM gc$t c JOIN ev e ON e.vec_id = c.node JOIN pr p ON p.query_id = c.query_id),
         |gf$t AS MATERIALIZED (SELECT query_id, node FROM (
         |       SELECT query_id, node, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, node) AS br
         |       FROM gs$t) WHERE br <= $beam),
         |gv$t AS (SELECT query_id, node FROM gv${t - 1} UNION SELECT query_id, node FROM gc$t),
         |""".stripMargin
    }.mkString
    nnDescentCtes(k, rounds) + ",\n" +
      s"""g AS MATERIALIZED (SELECT x.vec_id AS gsrc, y.vec_id AS gdst
         |     FROM fin f JOIN ev x ON x.rid = f.src JOIN ev y ON y.rid = f.dst
         |     WHERE f.rnk <= $k),
         |pr AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id < 10),
         |${pickEntriesCtes(entries)}
         |gf0 AS (SELECT query_id, node FROM pr, en),
         |gv0 AS (SELECT query_id, node FROM gf0),
         |$hopsSql
         |fsc AS (SELECT v.query_id, v.node, round($cosQ, 6) AS cos
         |       FROM gv$hops v JOIN ev e ON e.vec_id = v.node JOIN pr p ON p.query_id = v.query_id
         |       WHERE v.node <> v.query_id)
         |SELECT query_id, node AS neighbor_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT *, RANK() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rnk FROM fsc)
         |WHERE rnk <= $topK
         |ORDER BY query_id, rnk, neighbor_id""".stripMargin
  }

  /** FASTTEXT-STYLE QUALITY CLASSIFIER over hashed token features — the
    * linear text filter of the GPT-3/CCNet lineage (Brown et al. 2020
    * train a classifier with a trusted corpus as the positive class and
    * score every crawl page; CCNet's fastText filter is the same idea):
    * features = bag of tokens hashed into D=64 buckets (the native
    * codegen [[graft.functions.NgramHashes]] — no token string survives
    * the scan), count-normalized to frequencies (fastText's mean-of-
    * embeddings with one-hot bucket embeddings); weak labels from a
    * trusted heuristic (here lang='en' stands in for "looks like the
    * reference corpus"); trained with the SAME IRLS machinery as
    * q_logistic_probe ([[PipelineOps3.logisticFitBetas]]); every doc
    * then scored p = σ(β·x + b).
    *
    * At scale: feature extraction is one map-side pass + a (doc, 64)
    * count shuffle; training is `iters` corpus scans accumulating a
    * model-sized (D+1)² buffer (nothing vector-sized shuffles); scoring
    * is map-side with β broadcast. The featurized table is eagerly
    * checkpointed so the IRLS passes do not re-tokenize the corpus.
    *
    * Determinism: counts are exact; the frequency division is one
    * double op; β agreement across engines is the q_logistic_probe
    * argument (κ ≈ 1 ridged system — any correct solver lands within
    * machine precision, 6dp rounding absorbs it). */
  val qQualityClassifier: Q = Q("q_quality_classifier", qualityClassifierOracleSql()) { (s, d) =>
    qualityClassify(T.documents(s, d), buckets = 64, lambda = 1e-3, iters = 3)
  }

  /** Hashed-unigram featurization + the weak label: one map-side hash
    * pass, a (doc, bucket) count shuffle, dense 64-vector assembly. */
  private def hashedLabeled(docs: DataFrame, buckets: Int): DataFrame = {
    val cnt = docs.select(col("doc_id"),
        explode(graft.functions.NgramHashes(col("text"), 1)).as("h"))
      .withColumn("b", pmod(col("h"), lit(buckets.toLong)))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val feats = cnt.groupBy("doc_id").agg(
        map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"),
        sum(col("c")).cast("long").as("nt"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(buckets - 1L)), i =>
          coalesce(element_at(col("m"), i), lit(0L)).cast("double")
            / col("nt").cast("double")).as("x"))
    feats.join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
  }

  /** Score featurized docs against a one-row broadcast (`__w`, `__b0`)
    * model frame — the single eta expression both the one-shot classifier
    * and the streaming gate evaluate, so their scores are identical by
    * construction. */
  private def scoreFeaturized(labeled: DataFrame, modelRow: DataFrame): DataFrame = {
    val p = lit(1.0) / (lit(1.0) +
      exp(-(aggregate(zip_with(col("x"), col("__w"), _ * _), lit(0.0), _ + _)
        + col("__b0"))))
    labeled.crossJoin(broadcast(modelRow))
      .select(col("doc_id"), round(p, 6).as("score"),
        (p >= 0.5).cast("int").as("pred"), col("y").cast("int").as("label"))
      .orderBy("doc_id")
  }

  private[graft] def qualityClassify(docs: DataFrame, buckets: Int,
                                     lambda: Double, iters: Int): DataFrame = {
    val s = docs.sparkSession
    val labeled = hashedLabeled(docs, buckets).localCheckpoint(true)
    // an empty corpus is a result, not an outage: the zero model scores
    // zero rows (the feature dim is the FIXED bucket count, so nothing
    // needs to be derived from data)
    val beta = if (labeled.isEmpty) new Array[Double](buckets + 1)
    else PipelineOps3.logisticFitBetas(
      labeled.select(col("x"), col("y")), lambda, iters)
    import s.implicits._
    scoreFeaturized(labeled,
      Seq((beta.take(buckets).toSeq, beta(buckets))).toDF("__w", "__b0"))
  }

  /** The FROZEN quality model as a persistable table: rows (i, w) with
    * i = 0..D-1 the bucket weights and i = -1 the intercept — the
    * artifact [[graft.streaming.StreamingOps.classifierGateSink]]
    * broadcasts against an arriving stream (the q_dsir model posture:
    * fit once on the reference corpus, score every later crawl page). */
  def qualityModel(docs: DataFrame, buckets: Int = 64, lambda: Double = 1e-3,
                   iters: Int = 3): DataFrame = {
    val s = docs.sparkSession
    val labeled = hashedLabeled(docs, buckets).localCheckpoint(true)
    // an empty (or filtered-to-empty) reference corpus is a result, not
    // an outage: freeze the zero model (mirrors qualityClassify's guard;
    // the dimension is the fixed bucket count, nothing is data-derived)
    val beta = if (labeled.isEmpty) new Array[Double](buckets + 1)
    else PipelineOps3.logisticFitBetas(
      labeled.select(col("x"), col("y")), lambda, iters)
    import s.implicits._
    ((-1, beta(buckets)) +: (0 until buckets).map(i => (i, beta(i))))
      .toDF("i", "w")
  }

  /** Score documents against a (frozen) quality model table. Per-doc and
    * model-broadcast, so scoring is COMPOSITIONAL: any partition of the
    * corpus into micro-batches scores identically — the streaming gate's
    * correctness contract (the dsirScore recipe). */
  def qualityScoreWith(model: DataFrame, docs: DataFrame,
                       buckets: Int = 64): DataFrame = {
    val modelRow = model.agg(
      array_sort(collect_list(struct(col("i"), col("w")))).as("s"))
      .select(
        transform(slice(col("s"), 2, buckets), t => t.getField("w")).as("__w"),
        element_at(col("s"), 1).getField("w").as("__b0"))
    scoreFeaturized(hashedLabeled(docs, buckets), modelRow)
  }

  /** The q_quality_classifier oracle: hashed-unigram featurization
    * (xxhash64 per distinct token via [[OracleKit.xxhash64StrSteps]];
    * D = 64 divides 2^64 so unsigned `% 64` IS Spark's pmod — the
    * q_dsir bucket argument), dense 64-vectors by a doc×bucket grid,
    * then [[PipelineOps3.irlsRoundsSql]]'s three CG-solved IRLS rounds
    * and a per-doc sigmoid scoring tail. */
  private def qualityClassifierOracleSql(dimD: Int = 64, lambda: Double = 1e-3,
                                         rounds: Int = 3, cgIters: Int = 128): String = {
    val d1 = dimD + 1
    val xx = OracleKit.nestedProjections(
      "SELECT sh FROM dds", OracleKit.xxhash64StrSteps("sh"), "sh, hu")
    val head =
      s"""WITH RECURSIVE dtoks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
         |dug AS MATERIALIZED (SELECT doc_id, unnest(tok) AS sh FROM dtoks),
         |dds AS MATERIALIZED (SELECT DISTINCT sh FROM dug),
         |dgx AS MATERIALIZED ($xx),
         |dbk AS (SELECT sh, hu % $dimD AS b FROM dgx),
         |occ AS MATERIALIZED (SELECT g.doc_id, k.b FROM dug g JOIN dbk k USING (sh)),
         |cnt AS MATERIALIZED (SELECT doc_id, b, COUNT(*) AS c FROM occ GROUP BY 1, 2),
         |dn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nt FROM cnt GROUP BY 1),
         |grid AS (SELECT dn.doc_id, z.i, dn.nt FROM dn, (SELECT unnest(range(0, $dimD)) AS i) z),
         |xv AS MATERIALIZED (SELECT g.doc_id,
         |        list(CAST(coalesce(c.c, 0) AS DOUBLE) / CAST(g.nt AS DOUBLE) ORDER BY g.i) AS xr
         |      FROM grid g LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.b = g.i
         |      GROUP BY g.doc_id),
         |ex AS MATERIALIZED (SELECT x.doc_id AS vec_id,
         |        list_append(x.xr, CAST(1.0 AS DOUBLE)) AS xt,
         |        CASE WHEN d.lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
         |      FROM xv x JOIN documents d ON d.doc_id = x.doc_id),
         |pos AS (SELECT unnest(range(1, $d1 + 1)) AS i),
         |""".stripMargin
    val tail =
      s"""sc AS (SELECT ex.vec_id AS doc_id, ex.y,
         |    1.0 / (1.0 + exp(-list_inner_product(ex.xt, b$rounds.beta))) AS p
         |  FROM ex, b$rounds)
         |SELECT doc_id, round(p, 6) AS score,
         |  CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred,
         |  CAST(y AS INT) AS label
         |FROM sc ORDER BY doc_id""".stripMargin
    head + PipelineOps3.irlsRoundsSql(dimD, lambda, rounds, cgIters) + tail
  }

  /** CLUSTER LABELING — the corpus-cartography card (the Atlas-style
    * "what is each region of embedding space ABOUT" table): k-means
    * cells from the q_embed_cluster machinery (the bit-stable
    * [[Similarity.fitKmeansCodebook]] Lloyd fit), joined to the
    * documents (vec_id == doc_id, the established pairing), and each
    * cell labeled with its 5 most DISTINCTIVE tokens — smoothed
    * log-ratio of in-cell frequency vs corpus frequency (the DSIR
    * importance shape applied cell-vs-corpus), not raw counts, so stop
    * words cancel and the label actually describes the cluster.
    *
    * At scale: the codebook is model-fit-sized (sample-bounded driver
    * Lloyd); cell assignment is a pure projection; the token pass is one
    * corpus-sized equi-join (doc_id) + a (cell, token) count shuffle;
    * everything after is vocabulary-sized, and the two 1-row totals ride
    * broadcast. Output: (cell, rnk, tok, score, c). */
  val qClusterLabels: Q = Q("q_cluster_labels", clusterLabelsOracleSql()) { (s, d) =>
    val emb = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val codebook = Similarity.fitKmeansCodebook(
      emb.select(col("vec_id").as("id"), col("v")), k = 8)
    val cells = emb
      .withColumn("cell", Similarity.nearestCell(col("v"), codebook))
      .select(col("vec_id").as("doc_id"), col("cell"))
    val toks = T.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val ct = toks.join(cells, Seq("doc_id"))
      .groupBy("cell", "tok").agg(count(lit(1)).as("c"))
    val nt = ct.groupBy("cell").agg(sum(col("c")).cast("long").as("n"))
    val gt = ct.groupBy("tok").agg(sum(col("c")).cast("long").as("g"))
    val tot = gt.agg(sum(col("g")).cast("long").as("t"),
      count(lit(1)).as("vsz"))
    val score = round(
      log((dbl(col("c")) + 1) / (dbl(col("n")) + dbl(col("vsz")))) -
        log((dbl(col("g")) + 1) / (dbl(col("t")) + dbl(col("vsz")))), 6)
    val sc = ct.join(nt, Seq("cell")).join(gt, Seq("tok"))
      .crossJoin(broadcast(tot))
      .select(col("cell"), col("tok"), col("c"), score.as("score"))
    val w = Window.partitionBy("cell").orderBy(col("score").desc, col("tok").asc)
    sc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("cell"), col("rnk"), col("tok"), col("score"), col("c"))
      .orderBy("cell", "rnk")
  }

  /** The q_cluster_labels oracle: [[OracleKit.kmeansCtes]] replays the
    * Lloyd fit bit-identically (the q_embed_cluster argument), the
    * argmax assignment mirrors nearestCell's (cosine DESC, cid) rank,
    * and the token scoring is plain SQL in the exact double shapes. */
  private def clusterLabelsOracleSql(k: Int = 8, iters: Int = 4): String = {
    val vecs = "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
    val (ctes, cb) = OracleKit.kmeansCtes(vecs, k, iters)
    val cos = OracleKit.cosSql("s.v", "c.cent")
    (ctes ++ Seq(
      s"asg AS MATERIALIZED (SELECT id AS doc_id, cell FROM (SELECT s.id, c.cid AS cell," +
        s" ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY $cos DESC, c.cid) AS rn" +
        s" FROM km_vecs s CROSS JOIN $cb c) WHERE rn = 1)",
      "tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)",
      "ct AS MATERIALIZED (SELECT a.cell, t.tok, COUNT(*) AS c FROM tk t JOIN asg a USING (doc_id) GROUP BY 1, 2)",
      "nt AS (SELECT cell, CAST(SUM(c) AS BIGINT) AS n FROM ct GROUP BY 1)",
      "gt AS MATERIALIZED (SELECT tok, CAST(SUM(c) AS BIGINT) AS g FROM ct GROUP BY 1)",
      "tt AS (SELECT CAST(SUM(g) AS BIGINT) AS t, COUNT(*)::BIGINT AS vsz FROM gt)",
      "sc AS (SELECT ct.cell, ct.tok, ct.c," +
        " round(ln((CAST(ct.c AS DOUBLE) + 1) / (CAST(nt.n AS DOUBLE) + CAST(tt.vsz AS DOUBLE)))" +
        " - ln((CAST(gt.g AS DOUBLE) + 1) / (CAST(tt.t AS DOUBLE) + CAST(tt.vsz AS DOUBLE))), 6) AS score" +
        " FROM ct JOIN nt USING (cell) JOIN gt USING (tok) CROSS JOIN tt)"))
      .mkString("WITH ", ", ", " ") +
      "SELECT cell, CAST(rnk AS INT) AS rnk, tok, score, c FROM (" +
      "SELECT cell, tok, c, score, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY score DESC, tok) AS rnk FROM sc)" +
      " WHERE rnk <= 5 ORDER BY cell, rnk"
  }

  /** PREFERENCE-PAIR MINING — the DPO/RLHF data-prep pass: within each
    * source, pair the highest-quality documents against the
    * lowest-quality ones (chosen rank i ↔ rejected rank i, i ≤ 3) with
    * the quality margin attached — the standard recipe for
    * bootstrapping preference data from a scalar quality signal when no
    * human ranking exists (same-source pairing keeps the contrast about
    * QUALITY, not domain). The signal is the canonical
    * [[TextAnalysis.qualityScoreExpr]] — the exact score the mix
    * planner and quality gates already consume, so preferences can
    * never drift from the pipeline's own quality notion.
    *
    * At scale: one scoring pass (map-side regex counts), two top-3
    * windows per source — both heap-pruned by the plan_topk rewrite
    * (rule_topk_rewrite turns row_number ≤ k into a bounded per-key
    * heap, no per-source sort) — and one (source, rank) equi-join.
    * Degenerate sources self-heal: the `cq > rq` margin filter drops
    * pairs where top and bottom meet (tiny or uniform-quality sources),
    * so a doc never prefers itself. */
  val qPreferencePairs: Q = Q(
    "q_preference_pairs",
    """WITH q AS (SELECT doc_id, source,
      |  round(0.4 * (CAST(stop AS DOUBLE) / CAST(tokens AS DOUBLE))
      |      + 0.3 * (1.0 - CAST(punct AS DOUBLE) / CAST(chars AS DOUBLE))
      |      + 0.3 * least(1.0, CAST(tokens AS DOUBLE) / 100.0), 6) AS quality
      |FROM (SELECT doc_id, source,
      |    CAST(length(text) AS BIGINT) AS chars,
      |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tokens,
      |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS punct,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|and|or|to|in)\b')) AS BIGINT) AS stop
      |  FROM documents)),
      |c AS (SELECT source, doc_id AS chosen_id, quality AS cq,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rnk FROM q),
      |r AS (SELECT source, doc_id AS rejected_id, quality AS rq,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality ASC, doc_id) AS rnk FROM q)
      |SELECT source, CAST(rnk AS INT) AS rnk, chosen_id, rejected_id,
      |  round(cq - rq, 6) AS margin
      |FROM c JOIN r USING (source, rnk)
      |WHERE rnk <= 3 AND cq > rq
      |ORDER BY source, rnk""".stripMargin) { (s, d) =>
    val q = T.documents(s, d).select(col("doc_id"), col("source"),
      TextAnalysis.qualityScoreExpr(col("text")).as("quality"))
    val wc = Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id").asc)
    val wr = Window.partitionBy("source").orderBy(col("quality").asc, col("doc_id").asc)
    val c = q.withColumn("rnk", row_number().over(wc)).filter(col("rnk") <= 3)
      .select(col("source"), col("rnk"), col("doc_id").as("chosen_id"), col("quality").as("cq"))
    val r = q.withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= 3)
      .select(col("source"), col("rnk"), col("doc_id").as("rejected_id"), col("quality").as("rq"))
    c.join(r, Seq("source", "rnk")).filter(col("cq") > col("rq"))
      .select(col("source"), col("rnk"), col("chosen_id"), col("rejected_id"),
        round(col("cq") - col("rq"), 6).as("margin"))
      .orderBy("source", "rnk")
  }

  /** IVF nprobe TUNING TABLE — the recall/cost curve an operator reads
    * before fixing the serving index's probe count: for 16 deterministic
    * probe vectors, exact top-10 vs cell-restricted top-10 at
    * nprobe ∈ {1,2,4,8}, reporting mean recall AND the mean fraction of
    * the corpus actually scanned (the cost axis — recall without its
    * price is not a tuning table). Uses the q_ann_ivf machinery (same
    * bit-stable codebook fit, same cell-preference ranking), evaluated
    * at every grid point off ONE checkpointed (probe, neighbor) pair
    * table — the corpus is paired with the probe set once, not once per
    * grid point.
    *
    * Determinism: per-probe recalls and scan fractions round to 6dp and
    * aggregate as DECIMAL(18,6) (order-invariant, SURVEY §5); the means
    * are the decimal sums cast to double and divided by the probe COUNT
    * — deliberately UN-rounded: a final round(·, 6) sat exactly on a
    * half-ulp boundary at the gate SF and split the engines (Spark
    * rounds the shortest decimal repr, DuckDB the exact binary — the
    * OracleKit decimal-cast pitfall), while the raw division of
    * identical doubles is bit-equal by construction. */
  val qIvfTune: Q = Q("q_ivf_tune", ivfTuneOracleSql()) { (s, d) =>
    import graft.functions.VectorFunctions.cosineSim
    val k = 16; val grid = Seq(1, 2, 4, 8); val topK = 10
    val corpus = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val codebook = Similarity.fitKmeansCodebook(
      corpus.select(col("vec_id").as("id"), col("v")), k)
    import s.implicits._
    val cents = codebook.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq.toDF("cid", "cv")
    val nAll = corpus.count()
    val assigned = corpus.select(col("vec_id"), col("v"),
      Similarity.nearestCell(col("v"), codebook).as("cell"))
    val probes = corpus.filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cid"))
    val pcells = probes.crossJoin(broadcast(cents))
      .withColumn("ccos", cosineSim(col("qv"), col("cv")))
      .withColumn("crnk", row_number().over(wProbe))
      .select(col("query_id"), col("cid").as("cell"), col("crnk"))
    val pairs = assigned.crossJoin(broadcast(probes))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
        cosineSim(col("qv"), col("v")).as("cos"))
      .join(broadcast(pcells), Seq("query_id", "cell"))
      .localCheckpoint(true)
    val wq = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val exact = pairs.withColumn("re", row_number().over(wq))
      .filter(col("re") <= topK).select("query_id", "neighbor_id")
    // every grid point in ONE pass: explode the grid onto the pair table
    // (≤ |grid|× rows), rank within (query, nprobe), aggregate — four
    // separate per-n job chains collapse into one window + two groupBys
    val gridCol = array(grid.map(lit): _*)
    val sub = pairs.select(col("query_id"), col("neighbor_id"), col("crnk"),
        col("cos"), explode(gridCol).as("np"))
      .filter(col("crnk") <= col("np"))
    val wqn = Window.partitionBy("query_id", "np")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val ap = sub.withColumn("ra", row_number().over(wqn))
      .filter(col("ra") <= topK).select("query_id", "np", "neighbor_id")
    val ov = exact.join(ap, Seq("query_id", "neighbor_id"))
      .groupBy("query_id", "np").agg(count(lit(1)).as("ov"))
    val cf = sub.groupBy("query_id", "np").agg(count(lit(1)).as("cand"))
    probes.select(col("query_id"), explode(gridCol).as("np"))
      .join(ov, Seq("query_id", "np"), "left")
      .join(cf, Seq("query_id", "np"), "left")
      .select(col("np"),
        round(coalesce(col("ov"), lit(0L)).cast("double") / lit(topK.toDouble), 6)
          .cast(DecimalType(18, 6)).as("rec"),
        round(coalesce(col("cand"), lit(0L)).cast("double") / lit((nAll - 1).toDouble), 6)
          .cast(DecimalType(18, 6)).as("frac"))
      .groupBy("np")
      .agg(count(lit(1)).as("nq"), sum(col("rec")).as("sr"), sum(col("frac")).as("sf"))
      .select(col("np").as("nprobe"),
        (dbl(col("sr")) / dbl(col("nq"))).as("mean_recall"),
        (dbl(col("sf")) / dbl(col("nq"))).as("mean_scan_frac"))
      .orderBy("nprobe")
  }

  /** The q_ivf_tune oracle: the q_ann_ivf replay (bit-identical Lloyd
    * via [[OracleKit.kmeansCtes]], argmax assignment, cell-preference
    * ranks) with the grid evaluation unrolled — one shared pair CTE,
    * per-nprobe windowed top-10 + overlap + candidate counts, DECIMAL
    * means. */
  private def ivfTuneOracleSql(k: Int = 16, iters: Int = 4,
                               grid: Seq[Int] = Seq(1, 2, 4, 8),
                               topK: Int = 10): String = {
    val vecs = "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
    val (ctes, cb) = OracleKit.kmeansCtes(vecs, k, iters)
    val base = ctes ++ Seq(
      s"asg AS MATERIALIZED (SELECT id, v, cell FROM (SELECT s.id, s.v, c.cid AS cell," +
        s" ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY ${OracleKit.cosSql("s.v", "c.cent")} DESC, c.cid) AS rn" +
        s" FROM km_vecs s CROSS JOIN $cb c) WHERE rn = 1)",
      s"pc AS MATERIALIZED (SELECT q.id AS query_id, c.cid AS cell," +
        s" ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY ${OracleKit.cosSql("q.v", "c.cent")} DESC, c.cid) AS crnk" +
        s" FROM km_vecs q CROSS JOIN $cb c WHERE q.id < 16)",
      "prb AS (SELECT id AS query_id, v AS qv FROM km_vecs WHERE id < 16)",
      "nall AS (SELECT COUNT(*) AS n FROM km_vecs)",
      s"pairs AS MATERIALIZED (SELECT p.query_id, a.id AS neighbor_id, pc.crnk," +
        s" ${OracleKit.cosSql("p.qv", "a.v")} AS cos" +
        s" FROM prb p JOIN asg a ON a.id <> p.query_id" +
        s" JOIN pc ON pc.query_id = p.query_id AND pc.cell = a.cell)",
      s"ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id," +
        s" ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS re" +
        s" FROM pairs) WHERE re <= $topK)")
    val perN = grid.flatMap { n =>
      Seq(
        s"ap$n AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id," +
          s" ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS ra" +
          s" FROM pairs WHERE crnk <= $n) WHERE ra <= $topK)",
        s"ov$n AS (SELECT e.query_id, COUNT(*) AS ov FROM ex e JOIN ap$n a USING (query_id, neighbor_id) GROUP BY 1)",
        s"cf$n AS (SELECT query_id, COUNT(*) AS cand FROM pairs WHERE crnk <= $n GROUP BY 1)",
        s"row$n AS (SELECT $n AS nprobe," +
          s" CAST(SUM(rec) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_recall," +
          s" CAST(SUM(frac) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_scan_frac" +
          s" FROM (SELECT" +
          s" CAST(round(CAST(coalesce(ov$n.ov, 0) AS DOUBLE) / CAST($topK.0 AS DOUBLE), 6) AS DECIMAL(18,6)) AS rec," +
          s" CAST(round(CAST(coalesce(cf$n.cand, 0) AS DOUBLE) / CAST(nall.n - 1 AS DOUBLE), 6) AS DECIMAL(18,6)) AS frac" +
          s" FROM prb LEFT JOIN ov$n ON ov$n.query_id = prb.query_id" +
          s" LEFT JOIN cf$n ON cf$n.query_id = prb.query_id CROSS JOIN nall))")
    }
    (base ++ perN).mkString("WITH ", ", ", " ") +
      grid.map(n => s"SELECT * FROM row$n").mkString("", " UNION ALL ", " ORDER BY nprobe")
  }

  /** ZIPF-LAW FIT of the corpus token distribution — the one-row
    * diagnostic a corpus card quotes ("does this look like natural
    * language?"): token frequencies ranked, OLS of ln(freq) on ln(rank)
    * over the non-hapax tail (count ≥ 2 — the singleton plateau is
    * excluded by rule, not by eyeball), reporting the fitted exponent
    * (natural text ≈ −1), intercept and R². A synthetic or
    * template-generated corpus shows up as a flat slope or a broken R²
    * before any human reads a sample.
    *
    * At scale: one corpus token-count shuffle; the rank is a
    * [[PipelineOps3.exclusivePrefixSum]] over the VOCAB-sized count
    * table (range-partitioned — no single-task global window); the
    * regression is five DECIMAL(18,6) sums of 6dp-rounded log terms
    * (order-invariant) with the closed form evaluated on the cast
    * scalars. */
  val qZipfFit: Q = Q(
    "q_zipf_fit",
    """WITH cnt AS (SELECT tok, COUNT(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok),
      |nt AS (SELECT COUNT(*) AS n_types FROM cnt),
      |rk AS (SELECT tok, c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk FROM cnt),
      |ft AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 6) AS x,
      |              round(ln(CAST(c AS DOUBLE)), 6) AS y
      |       FROM rk WHERE c >= 2),
      |tm AS (SELECT x, y, round(x * x, 6) AS xx, round(x * y, 6) AS xy,
      |              round(y * y, 6) AS yy FROM ft),
      |ag AS (SELECT COUNT(*) AS m,
      |  CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(xx AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(xy AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
      |  CAST(SUM(CAST(yy AS DECIMAL(18,6))) AS DOUBLE) AS syy FROM tm),
      |fin AS (SELECT m,
      |  (CAST(m AS DOUBLE) * sxy - sx * sy) /
      |    (CAST(m AS DOUBLE) * sxx - sx * sx) AS slope,
      |  sx, sy, sxx, sxy, syy FROM ag)
      |SELECT nt.n_types, m AS n_fit,
      |  round(slope, 6) AS slope,
      |  round((sy - slope * sx) / CAST(m AS DOUBLE), 6) AS intercept,
      |  round(CASE WHEN (CAST(m AS DOUBLE) * sxx - sx * sx) > 0
      |              AND (CAST(m AS DOUBLE) * syy - sy * sy) > 0
      |             THEN ((CAST(m AS DOUBLE) * sxy - sx * sy) * (CAST(m AS DOUBLE) * sxy - sx * sy)) /
      |                  ((CAST(m AS DOUBLE) * sxx - sx * sx) * (CAST(m AS DOUBLE) * syy - sy * sy))
      |             ELSE CAST(0.0 AS DOUBLE) END, 6) AS r2
      |FROM fin CROSS JOIN nt""".stripMargin) { (s, d) =>
    val cnt = T.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val ntDf = cnt.groupBy().agg(count(lit(1)).as("n_types"))
    val base = cnt.withColumn("negc", -col("c"))
      .withColumn("__g", lit(0)).withColumn("one", lit(1L))
    val ranked = PipelineOps3.exclusivePrefixSum(base, "__g", Seq("negc", "tok"), "one", 32)
      .select(col("tok"), col("c"), (col("pre") + 1).as("rnk"))
    val ag = ranked.filter(col("c") >= 2)
      .select(round(log(dbl(col("rnk"))), 6).as("x"), round(log(dbl(col("c"))), 6).as("y"))
      .select(col("x"), col("y"),
        round(col("x") * col("x"), 6).as("xx"),
        round(col("x") * col("y"), 6).as("xy"),
        round(col("y") * col("y"), 6).as("yy"))
      .agg(count(lit(1)).as("m"),
        dbl(sum(col("x").cast(DecimalType(18, 6)))).as("sx"),
        dbl(sum(col("y").cast(DecimalType(18, 6)))).as("sy"),
        dbl(sum(col("xx").cast(DecimalType(18, 6)))).as("sxx"),
        dbl(sum(col("xy").cast(DecimalType(18, 6)))).as("sxy"),
        dbl(sum(col("yy").cast(DecimalType(18, 6)))).as("syy"))
    val md = dbl(col("m"))
    val slope = (md * col("sxy") - col("sx") * col("sy")) /
      (md * col("sxx") - col("sx") * col("sx"))
    ag.withColumn("slope0", slope)
      .crossJoin(broadcast(ntDf))
      .select(col("n_types"), col("m").as("n_fit"),
        round(col("slope0"), 6).as("slope"),
        round((col("sy") - col("slope0") * col("sx")) / md, 6).as("intercept"),
        round(when((md * col("sxx") - col("sx") * col("sx")) > 0 &&
            (md * col("syy") - col("sy") * col("sy")) > 0,
          ((md * col("sxy") - col("sx") * col("sy")) * (md * col("sxy") - col("sx") * col("sy"))) /
            ((md * col("sxx") - col("sx") * col("sx")) * (md * col("syy") - col("sy") * col("sy"))))
          .otherwise(lit(0.0)), 6).as("r2"))
  }

  val all: Seq[Q] = Seq(qEmbedQuantize, qQuantizeAnn, qCurriculum, qNnDescent,
    qGraphSearch, qQualityClassifier, qClusterLabels, qPreferencePairs, qIvfTune,
    qZipfFit)
}
