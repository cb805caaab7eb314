package graft.ops

import graft.Q
import graft.functions.Exact._
import graft.functions.SparkSemantics
import graft.sources.{Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Round-6 (session 3) LLM-data-pipeline operators:
  *
  *  - [[qSplitLeakageSafe]] — leakage-safe train/eval split: the split
  *    key is the NEAR-DUP CLUSTER, not the document, so two
  *    near-duplicates can never land on opposite sides of the split
  *    (the eval-contamination failure mode of per-doc sampling).
  *  - [[qShardPlan]] — token-budgeted training-shard assignment: the
  *    planning pass behind "write the corpus as ~B-token output files",
  *    computed as a DISTRIBUTED exclusive prefix sum (no per-source
  *    single-task window).
  */
object PipelineOps3 {

  /** Distributed exclusive prefix sum of `valueCol` over rows ordered by
    * (partCol, ordCol): range-partition on the global order, stamp the
    * partition id, take per-(part, pid) subtotal offsets via a triangular
    * self-join over the P-row stats table, and add a partition-LOCAL
    * exclusive window — every window task is bounded by the range cut,
    * never by a source's full row count (the q_vocab_coverage recipe,
    * generalized to a grouped ordering). The input must be eagerly
    * materialized so the offset and local-rank branches see the SAME
    * range boundaries. Returns the input columns + `pre` (the exclusive
    * running sum within partCol). */
  def exclusivePrefixSum(df: DataFrame, partCol: String, ordCol: String,
                         valueCol: String, nParts: Int): DataFrame =
    exclusivePrefixSum(df, partCol, Seq(ordCol), valueCol, nParts)

  /** Multi-column ordering variant: `ordCols` must form a TOTAL order
    * within each `partCol` group (end with a unique id) — range
    * partitioning co-locates equal keys, but rank among exact ties would
    * otherwise be partition-order nondeterministic. */
  def exclusivePrefixSum(df: DataFrame, partCol: String, ordCols: Seq[String],
                         valueCol: String, nParts: Int): DataFrame = {
    val parted = df.repartitionByRange(nParts, (partCol +: ordCols).map(col): _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
      .localCheckpoint(true)
    val pstats = parted.groupBy(partCol, "__pid")
      .agg(sum(col(valueCol)).as("__psum"))
    val offsets = pstats.as("a")
      .join(pstats.as("b"),
        col(s"b.$partCol") === col(s"a.$partCol") && col("b.__pid") < col("a.__pid"),
        "left")
      .groupBy(col(s"a.$partCol").as(partCol), col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__psum")), lit(0L)).as("__off"))
    val wLocal = Window.partitionBy(partCol, "__pid").orderBy(ordCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn("__lpre", coalesce(sum(col(valueCol)).over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq(partCol, "__pid"))
      .withColumn("pre", col("__lpre") + col("__off"))
      .drop("__pid", "__lpre", "__off")
  }

  /** Leakage-safe train/eval split: near-dup components become the SPLIT
    * UNIT; each component lands wholly in train or eval by a
    * deterministic md5 threshold on the component id (~80/20, RNG-free,
    * rerun-stable). Per-doc splitting leaks: a near-duplicate pair split
    * across train/eval inflates eval scores — this operator is the guard.
    *
    * The SHIPPED pair source is [[graft.ops.Dedup.nearDupEdges]] — the
    * prefix-filtered SSJoin (subquadratic candidates, lossless, so the
    * naive-all-pairs oracle hash-matches); LSH candidate edges
    * (q_dedup_minhash_pick) drop into the same component/threshold
    * stages unchanged. */
  val qSplitLeakageSafe: Q = Q(
    "q_split_leakage_safe",
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |  sh AS (SELECT DISTINCT doc_id, tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS sh
      |         FROM toks, unnest(range(1, len(tok) - 1)) AS t(i)),
      |  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |  pairs AS (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |    JOIN sz sa ON sa.doc_id = a.doc_id
      |    JOIN sz sb ON sb.doc_id = b.doc_id
      |    GROUP BY a.doc_id, b.doc_id
      |    HAVING CAST(COUNT(*) AS DOUBLE) /
      |        CAST(ANY_VALUE(sa.n) + ANY_VALUE(sb.n) - COUNT(*) AS DOUBLE) >= 0.5),
      |  e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |        UNION SELECT id_b, id_a FROM pairs),
      |  reach(node, lbl) AS (
      |    SELECT DISTINCT src, src FROM e
      |    UNION
      |    SELECT e.dst, reach.lbl FROM reach JOIN e ON e.src = reach.node),
      |  comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
      |  lab AS (SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component
      |          FROM documents d LEFT JOIN comp ON comp.node = d.doc_id)
      |SELECT doc_id, component,
      |  CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 4) < 'cccd'
      |       THEN 'train' ELSE 'eval' END AS split
      |FROM lab ORDER BY doc_id""".stripMargin) { (s, d) =>
    val comp = graft.operators.GraphOps2.connectedComponents(
      graft.ops.Dedup.nearDupEdges(T.documents(s, d)), 20)
    T.documents(s, d).select(col("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .withColumn("component", coalesce(col("lbl"), col("doc_id")))
      .select(col("doc_id"), col("component"),
        when(substring(md5(col("component").cast(StringType)), 1, 4) < "cccd", "train")
          .otherwise("eval").as("split"))
      .orderBy("doc_id")
  }

  /** Token-budgeted shard plan: docs are laid out in (source, doc_id)
    * order and cut into ~4096-token shards — shard_id = exclusive
    * running token sum ÷ budget, so shard boundaries are stable under
    * reruns and appends never renumber earlier shards. The running sum
    * is [[exclusivePrefixSum]] (range partition + offset join + bounded
    * local windows) — a corpus-sized source never becomes one window
    * task. The writer side is `writePartitioned(df, path, Seq("source",
    * "shard_id"))` over this plan's assignment. */
  val qShardPlan: Q = Q(
    "q_shard_plan",
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tokens FROM documents),
      |c AS (SELECT doc_id, source, tokens,
      |    COALESCE(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      |  FROM t)
      |SELECT source, CAST(pre // 4096 AS BIGINT) AS shard_id,
      |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c GROUP BY 1, 2 ORDER BY source, shard_id""".stripMargin) { (s, d) =>
    val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val t = T.documents(s, d).select(col("doc_id"), col("source"),
      lng(size(split(trim(col("text")), " "))).as("tokens"))
    exclusivePrefixSum(t, "source", "doc_id", "tokens", nParts)
      .withColumn("shard_id", expr("pre div 4096"))
      .groupBy("source", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "shard_id")
  }

  /** Length-bucketed inference batching: docs are bucketed by token
    * count (width 32), then cut into fixed-size batches of 16 INSIDE
    * each bucket — the padding-minimization layout every batched
    * inference / embedding job wants (a batch pads to its max length;
    * mixing lengths wastes compute quadratically in practice). Batch
    * numbering reuses [[exclusivePrefixSum]] with a unit weight (a
    * distributed row_number), so a giant bucket never becomes one
    * window task. Output is the batch manifest: size, token spread,
    * and the padding waste actually incurred vs the batch max. */
  val qBatchPack: Q = Q(
    "q_batch_pack",
    """WITH t AS (SELECT doc_id,
      |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tokens FROM documents),
      |b AS (SELECT doc_id, tokens, tokens // 32 AS bucket FROM t),
      |r AS (SELECT doc_id, tokens, bucket,
      |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS rn FROM b)
      |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(rn // 16 AS BIGINT) AS batch_id,
      |  COUNT(*) AS n_docs, CAST(MAX(tokens) AS BIGINT) AS max_tokens,
      |  CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
      |  CAST(COUNT(*) * MAX(tokens) - SUM(tokens) AS BIGINT) AS pad_waste
      |FROM r GROUP BY 1, 2 ORDER BY bucket, batch_id""".stripMargin) { (s, d) =>
    val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val t = T.documents(s, d).select(col("doc_id"),
        lng(size(split(trim(col("text")), " "))).as("tokens"))
      .withColumn("bucket", expr("tokens div 32"))
      .withColumn("one", lit(1L))
    exclusivePrefixSum(t, "bucket", "doc_id", "one", nParts)
      .withColumn("batch_id", expr("pre div 16"))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max(col("tokens")).as("max_tokens"),
        sum(col("tokens")).cast("long").as("sum_tokens"))
      .withColumn("pad_waste", col("n_docs") * col("max_tokens") - col("sum_tokens"))
      .orderBy("bucket", "batch_id")
  }

  /** The q_pca_embed oracle, generated: DuckDB replays the SAME fixed
    * 100-round power iteration (init 1/√64 = 0.125 exact, per-round
    * matvec via ordered `list_inner_product`, normalize, sign pinned to
    * the first-max |loading|) as 100 unrolled CTE pairs over the
    * covariance rows. Cross-engine float sensitivity is bounded: the
    * engines' covariance entries differ only in SUM order (~1e-16
    * relative), and the iteration amplifies a matrix perturbation by at
    * most ~1/gap ≈ 80 on this corpus family (measured λ1/λ2 ≈ 1.01-1.07)
    * → ≤ ~1e-14 in the final iterate, far under the 6dp rounding. The
    * convergence error itself (the iterate is NOT the true eigenvector
    * at this gap) is shared by construction — both engines compute the
    * same 100 steps, and the spec separately bounds the eigen-residual. */
  private def pcaOracleSql(dim: Int = 64, iters: Int = 100): String =
    // the iteration rides ONE recursive CTE with (k, v, lam) state and a
    // pure-list-op matvec (the matrix as a list-of-lists, no aggregate
    // in the recursive term) — 2·iters chained CTEs hit DuckDB's binder
    // recursion limit of 128. The anchor's 0.125 (= 1/√64 exact) MUST be
    // CAST to DOUBLE: the recursive CTE locks the column type from the
    // anchor, and a DECIMAL(4,3)-typed v coerces every division — the
    // trajectory drifts by 1e-5 within three rounds (measured).
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pos AS (SELECT unnest(range(1, $dim + 1)) AS i),
       |el AS (SELECT e.vec_id, pos.i, e.v[pos.i] AS x FROM e, pos),
       |mn AS (SELECT i, AVG(x) AS m FROM el GROUP BY i),
       |cp AS (SELECT a.i AS i, b.i AS j,
       |         SUM(a.x * b.x) / (SELECT COUNT(*) FROM e) AS sxy
       |       FROM el a JOIN el b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |cov AS (SELECT cp.i AS i, cp.j AS j, cp.sxy - ma.m * mb.m AS c
       |        FROM cp JOIN mn ma ON ma.i = cp.i JOIN mn mb ON mb.i = cp.j),
       |covr AS (SELECT i, list(c ORDER BY j) AS row FROM cov GROUP BY i),
       |covm AS (SELECT list(row ORDER BY i) AS mat FROM covr),
       |tr AS (SELECT SUM(c) AS t FROM cov WHERE i = j),
       |it(k, v, lam) AS (
       |  SELECT 0, list_transform(range(1, $dim + 1), x -> CAST(0.125 AS DOUBLE)),
       |    CAST(0.0 AS DOUBLE)
       |  UNION ALL
       |  SELECT k + 1,
       |    list_transform(s.mvv, x -> x / sqrt(list_inner_product(s.mvv, s.mvv))),
       |    sqrt(list_inner_product(s.mvv, s.mvv))
       |  FROM (SELECT it.k AS k,
       |          list_transform(range(1, $dim + 1),
       |            i -> list_inner_product(covm.mat[i], it.v)) AS mvv
       |        FROM it, covm WHERE it.k < $iters) s),
       |fin AS (SELECT v, lam,
       |  list_position(list_transform(v, x -> abs(x)),
       |                list_max(list_transform(v, x -> abs(x)))) AS piv
       |  FROM it WHERE k = $iters),
       |sgn AS (SELECT v, lam, CASE WHEN v[piv] < 0 THEN -1.0 ELSE 1.0 END AS s FROM fin)
       |SELECT CAST(pos.i - 1 AS BIGINT) AS pos,
       |  ${OracleKit.sparkRound("mn.m", 6)} AS mean,
       |  ${OracleKit.sparkRound("sgn.s * sgn.v[pos.i]", 6)} AS pc1_loading,
       |  ${OracleKit.sparkRound("sgn.lam", 6)} AS eigval,
       |  ${OracleKit.sparkRound("sgn.lam / tr.t", 6)} AS var_share
       |FROM pos CROSS JOIN sgn CROSS JOIN tr JOIN mn ON mn.i = pos.i
       |ORDER BY pos""".stripMargin

  /** PCA over the embedding column: dominant principal component +
    * explained-variance share, via [[graft.functions.GramianAgg]] — the
    * full second-moment sweep is ONE aggregation (a ~17 KB mergeable
    * buffer; the corpus is touched once, nothing vector-sized shuffles),
    * then the 64×64 eigenproblem is driver-side deterministic power
    * iteration (model-sized, like the k-means codebooks). The
    * embedding-drift / whitening primitive: watch PC1 and its variance
    * share per corpus release. Fully oracled (r10): see [[pcaOracleSql]]
    * — DuckDB replays the identical fixed-round iteration; the spec
    * additionally checks the eigenpair residual and agreement with a
    * brute-force driver PCA. */
  val qPcaEmbed: Q = Q("q_pca_embed", pcaOracleSql()) { (s, d) =>
    import graft.functions.GramianAgg
    val vecs = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dim = vecs.select(size(col("v"))).head.getInt(0)
    val moments = vecs.agg(GramianAgg(col("v"), dim).as("m"))
      .head.getSeq[Double](0).toArray
    val (mean, cov) = GramianAgg.covariance(moments, dim)
    val (eigval, pc1) = GramianAgg.powerIteration(cov)
    val trace = (0 until dim).map(i => cov(i)(i)).sum
    val rows = (0 until dim).map { i =>
      (i.toLong, SparkSemantics.round(mean(i), 6), SparkSemantics.round(pc1(i), 6),
        SparkSemantics.round(eigval, 6), SparkSemantics.round(eigval / trace, 6))
    }
    s.createDataFrame(rows).toDF("pos", "mean", "pc1_loading", "eigval", "var_share")
      .orderBy("pos")
  }

  /** The corpus-export capstone: normalize → exact-dedup (min-id
    * survivor) → quality gate → token-budgeted shards → per-shard
    * manifest with an order-independent content fingerprint — the whole
    * "turn the raw crawl into training shards" job as ONE declarative
    * plan, every stage of which also ships standalone (q_text_normalize,
    * q_dedup_exact, q_filter_pipeline, q_shard_plan,
    * q_provenance_audit). Shuffle budget: one dedup groupBy, the prefix
    * sum's range exchange, one manifest aggregation — nothing O(n²),
    * nothing vector-sized, no per-source single-task window. The
    * near-dup variants slot in between dedup and the gate (LSH pairs →
    * components → survivors) without touching the rest of the plan. */
  val qCorpusExport: Q = Q(
    "q_corpus_export",
    """WITH norm AS (SELECT doc_id, source,
      |    trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1F]', '', 'g'), ' +', ' ', 'g')) AS t
      |  FROM documents),
      |surv AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(t)),
      |kept AS (SELECT n.doc_id, n.source, n.t,
      |    CAST(len(string_split(n.t, ' ')) AS BIGINT) AS tokens
      |  FROM norm n JOIN surv USING (doc_id)
      |  WHERE len(string_split(n.t, ' ')) BETWEEN 5 AND 5000),
      |pre AS (SELECT doc_id, source, t, tokens,
      |    COALESCE(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      |  FROM kept)
      |SELECT source, CAST(pre // 4096 AS BIGINT) AS shard_id,
      |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens,
      |  CAST(SUM(('0x' || substr(md5(t), 1, 15))::BIGINT) % 4611686018427387904 AS BIGINT) AS content_fp
      |FROM pre GROUP BY 1, 2 ORDER BY source, shard_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val norm = T.documents(s, d).select(col("doc_id"), col("source"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[\\x00-\\x1F]", ""), " +", " ")).as("t"))
    val surv = norm.groupBy(md5(col("t"))).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val kept = norm.join(surv, "doc_id")
      .withColumn("tokens", lng(size(split(col("t"), " "))))
      .filter(col("tokens").between(5, 5000))
    exclusivePrefixSum(kept, "source", "doc_id", "tokens", nParts)
      .withColumn("shard_id", expr("pre div 4096"))
      .groupBy("source", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).cast("long").as("n_tokens"),
        (sum(graft.operators.ProvenanceOps.rowFingerprint(col("t"))
          .cast(DecimalType(38, 0))) % lit(4611686018427387904L))
          .cast("long").as("content_fp"))
      .orderBy("source", "shard_id")
  }

  /** Language-ID QC audit: the declared `lang` column against the
    * n-gram classifier's prediction (q_lang_id's exact formula) as a
    * confusion matrix with per-cell share of the declared language —
    * "how much of the corpus is mislabeled, and as what". One scan,
    * one (declared, predicted) aggregation; metadata-vs-content
    * disagreement is THE routine upstream-corpus defect this surfaces
    * before training mixes are computed off the `lang` column. */
  val qLangConfusion: Q = Q(
    "q_lang_confusion",
    """WITH p AS (SELECT doc_id, lang,
      |  CASE WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
      |       WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
      |       WHEN es >= fr AND es > 0 THEN 'es'
      |       WHEN fr > 0 THEN 'fr'
      |       ELSE 'unknown' END AS pred_lang
      |FROM (SELECT doc_id, lang,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS BIGINT) AS en,
      |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS BIGINT) AS de,
      |    CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|las|una)\b')) AS BIGINT) AS es,
      |    CAST(len(regexp_extract_all(lower(text), '\b(le|les|des|une|est)\b')) AS BIGINT) AS fr
      |  FROM documents)),
      |tot AS (SELECT lang, COUNT(*) AS n_lang FROM p GROUP BY 1)
      |SELECT p.lang, p.pred_lang, COUNT(*) AS n_docs,
      |  round(CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(tot.n_lang) AS DOUBLE), 6) AS share_of_declared
      |FROM p JOIN tot USING (lang)
      |GROUP BY p.lang, p.pred_lang ORDER BY lang, pred_lang""".stripMargin) { (s, d) =>
    val pred = graft.ops.TextAnalysis.qLangId.fn(s, d)
      .select(col("doc_id"), col("pred_lang"))
    val p = T.documents(s, d).select(col("doc_id"), col("lang")).join(pred, "doc_id")
    val tot = p.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    p.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        round(dbl(col("n_docs")) / dbl(col("n_lang")), 6).as("share_of_declared"))
      .orderBy("lang", "pred_lang")
  }

  /** Cross-source exact-duplication matrix: for every (source_a ≤
    * source_b) pair, how many identical texts they share — the "which
    * feed is re-crawling which" QC view over the exact-dup groups. The
    * content-hash groupBy bounds everything downstream: pairs are built
    * per duplicate GROUP (collect_set of sources per fp, exploded
    * twice over the ≤|sources| set), never by joining the corpus to
    * itself. */
  val qDupMatrix: Q = Q(
    "q_dup_matrix",
    """WITH g AS (SELECT md5(text) AS fp, list_sort(list_distinct(list(source))) AS srcs
      |           FROM documents GROUP BY 1),
      |p AS (SELECT a AS source_a, b AS source_b
      |      FROM g, unnest(srcs) AS ua(a), unnest(srcs) AS ub(b)
      |      WHERE a <= b)
      |SELECT source_a, source_b, COUNT(*) AS n_shared_texts
      |FROM p GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
    T.documents(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(col("srcs")).as("source_a"), col("srcs"))
      .select(col("source_a"), explode(col("srcs")).as("source_b"))
      .filter(col("source_a") <= col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared_texts"))
      .orderBy("source_a", "source_b")
  }

  /** Supervised linear probe: closed-form ridge regression of the label
    * on the embedding — the standard "how linearly decodable is this
    * signal from the representation" diagnostic, and the one-scan way to
    * train a linear quality scorer over a 100 TB corpus. Appending y to
    * the vector makes ONE [[graft.functions.GramianAgg]] pass produce
    * every sufficient statistic (X'X, X'y, Σy, Σy², n as the augmented
    * covariance); the (D+1)² buffer is mergeable and model-sized, so the
    * corpus is touched once and nothing vector-sized shuffles. The D×D
    * ridge solve `(cov_XX + λI) w = cov_Xy` is driver-side deterministic
    * Gaussian elimination ([[graft.functions.GramianAgg.solve]]) — the
    * same model-sized-driver-work posture as q_pca_embed's eigenpair.
    * Output: per-dimension weights, intercept, and train R².
    *
    * Fully oracled (r10): DuckDB solves the SAME ridge system by
    * conjugate gradient in one recursive CTE ([[linearProbeOracleSql]])
    * — a different solver on purpose: the regularized system's
    * condition number is tiny (κ ≈ λmax/λmin ≲ 2 on this corpus
    * family), so ANY correct solver lands within κ·ε ≈ 1e-15 of the
    * elimination's answer and the 6dp rounding makes them hash-equal;
    * agreement of two independent algorithms is a STRONGER check than a
    * replayed elimination. The spec still checks exact-linear recovery,
    * R² bounds, and partition invariance. */
  val qLinearProbe: Q = Q("q_linear_probe", linearProbeOracleSql()) { (s, d) =>
    val vecs = T.embeddings(s, d)
      .select(col("embedding").cast("array<double>").as("x"),
        col("label").cast("double").as("y"))
    linearProbe(vecs, lambda = 1e-3)
  }

  /** The q_linear_probe oracle, generated: the augmented (x ++ [y])
    * covariance in SQL (same el/mn/cp machinery as [[pcaOracleSql]]),
    * then `(cov_XX + λI) w = cov_Xy` solved by CONJUGATE GRADIENT in one
    * recursive CTE — state (k, x, r, p), matvec/axpy as pure list ops,
    * an rr = 0 guard freezing the state once the residual underflows
    * (CG reaches machine precision in ≪ 128 rounds at this κ; without
    * the guard α = 0/0 would NaN the converged solution). Intercept and
    * R² read off the same moments. Subqueries are illegal inside DuckDB
    * lambdas, so every value a lambda needs rides in as a cross-joined
    * column. */
  private def linearProbeOracleSql(dim: Int = 64, lambda: Double = 1e-3,
                                   iters: Int = 128): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, list_append(CAST(embedding AS DOUBLE[]), CAST(label AS DOUBLE)) AS v
       |  FROM embeddings),
       |pos AS (SELECT unnest(range(1, $dim + 2)) AS i),
       |el AS (SELECT e.vec_id, pos.i, e.v[pos.i] AS x FROM e, pos),
       |mn AS (SELECT i, AVG(x) AS m FROM el GROUP BY i),
       |cp AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) / (SELECT COUNT(*) FROM e) AS sxy
       |       FROM el a JOIN el b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |cov AS (SELECT cp.i AS i, cp.j AS j, cp.sxy - ma.m * mb.m AS c
       |        FROM cp JOIN mn ma ON ma.i = cp.i JOIN mn mb ON mb.i = cp.j),
       |arows AS (SELECT i, list(c + CASE WHEN i = j THEN $lambda ELSE 0.0 END ORDER BY j) AS row
       |          FROM cov WHERE i <= $dim AND j <= $dim GROUP BY i),
       |amat AS (SELECT list(row ORDER BY i) AS m FROM arows),
       |bvec AS (SELECT list(c ORDER BY i) AS b FROM cov WHERE j = $dim + 1 AND i <= $dim),
       |cg(k, x, r, p) AS (
       |  SELECT 0, list_transform(range(1, $dim + 1), q -> CAST(0.0 AS DOUBLE)),
       |    (SELECT b FROM bvec), (SELECT b FROM bvec)
       |  UNION ALL
       |  SELECT k + 1,
       |    CASE WHEN s.rr = 0 THEN s.x
       |         ELSE list_transform(range(1, $dim + 1), q -> s.x[q] + s.rr / s.pap * s.p[q]) END,
       |    CASE WHEN s.rr = 0 THEN s.r
       |         ELSE list_transform(range(1, $dim + 1), q -> s.r[q] - s.rr / s.pap * s.ap[q]) END,
       |    CASE WHEN s.rr = 0 THEN s.p
       |         ELSE list_transform(range(1, $dim + 1), q ->
       |           (s.r[q] - s.rr / s.pap * s.ap[q]) +
       |           (list_inner_product(
       |              list_transform(range(1, $dim + 1), t -> s.r[t] - s.rr / s.pap * s.ap[t]),
       |              list_transform(range(1, $dim + 1), t -> s.r[t] - s.rr / s.pap * s.ap[t]))
       |            / s.rr) * s.p[q]) END
       |  FROM (SELECT cg.k AS k, cg.x AS x, cg.r AS r, cg.p AS p,
       |          list_inner_product(cg.r, cg.r) AS rr,
       |          list_transform(range(1, $dim + 1),
       |            q -> list_inner_product(amat.m[q], cg.p)) AS ap,
       |          list_inner_product(cg.p,
       |            list_transform(range(1, $dim + 1),
       |              q -> list_inner_product(amat.m[q], cg.p))) AS pap
       |        FROM cg, amat WHERE cg.k < $iters) s),
       |wq AS (SELECT x FROM cg WHERE k = $iters),
       |aw AS (SELECT list_transform(range(1, $dim + 1),
       |         q -> list_inner_product(amat.m[q], wq.x)) AS ax
       |       FROM amat, wq),
       |mx AS (SELECT list(m ORDER BY i) AS mv FROM mn WHERE i <= $dim),
       |scal AS (SELECT
       |    list_inner_product(wq.x, bvec.b) AS wb,
       |    list_inner_product(wq.x,
       |      list_transform(range(1, $dim + 1), q -> aw.ax[q] - $lambda * wq.x[q])) AS wcw,
       |    (SELECT c FROM cov WHERE i = $dim + 1 AND j = $dim + 1) AS vy,
       |    (SELECT m FROM mn WHERE i = $dim + 1) AS my,
       |    list_inner_product(wq.x, mx.mv) AS wmx
       |  FROM wq, bvec, aw, mx)
       |SELECT * FROM (
       |  SELECT printf('w_%03d', pos.i - 1) AS term,
       |    ${OracleKit.sparkRound("wq.x[pos.i]", 6)} AS value
       |  FROM pos, wq WHERE pos.i <= $dim
       |  UNION ALL
       |  SELECT 'intercept', ${OracleKit.sparkRound("my - wmx", 6)} FROM scal
       |  UNION ALL
       |  SELECT 'r2',
       |    ${OracleKit.sparkRound("CASE WHEN vy > 0 THEN 1.0 - (vy - 2*wb + wcw)/vy ELSE 0.0 END", 6)}
       |  FROM scal
       |) ORDER BY term""".stripMargin

  /** Core of [[qLinearProbe]]: ridge-regress `y` on array column `x`.
    * Factored out so specs can drive crafted data through the identical
    * path. */
  private[graft] def linearProbe(vecs: DataFrame, lambda: Double): DataFrame = {
    import graft.functions.GramianAgg
    val s = vecs.sparkSession
    val dim = vecs.select(size(col("x"))).head.getInt(0)
    val aug = vecs.select(concat(col("x"), array(col("y"))).as("z"))
    val moments = aug.agg(GramianAgg(col("z"), dim + 1).as("m"))
      .head.getSeq[Double](0).toArray
    val (mean, cov) = GramianAgg.covariance(moments, dim + 1)
    val a = Array.tabulate(dim, dim)((i, j) =>
      cov(i)(j) + (if (i == j) lambda else 0.0))
    val b = Array.tabulate(dim)(i => cov(i)(dim))
    val w = GramianAgg.solve(a, b)
    val intercept = mean(dim) - (0 until dim).map(i => w(i) * mean(i)).sum
    val varY = cov(dim)(dim)
    // SSE/n on centered data: var_y - 2 w·cov_Xy + w'cov_XX w
    val sseOverN = varY -
      2.0 * (0 until dim).map(i => w(i) * b(i)).sum +
      (for (i <- 0 until dim; j <- 0 until dim) yield w(i) * cov(i)(j) * w(j)).sum
    val r2 = if (varY > 0) 1.0 - sseOverN / varY else 0.0
    val rows = (0 until dim).map(i => (f"w_$i%03d", SparkSemantics.round(w(i), 6))) ++
      Seq(("intercept", SparkSemantics.round(intercept, 6)),
        ("r2", SparkSemantics.round(r2, 6)))
    s.createDataFrame(rows).toDF("term", "value").orderBy("term")
  }

  /** Distributed LOGISTIC probe via IRLS — the trained-classifier analog
    * of the reference's assay→target MLP pipeline
    * (`python/Go_idg_mlp_DbCreate.sh:1` builds the training set;
    * graft trains the linear-in-representation classifier): each Newton
    * round is ONE weighted-gramian pass over the corpus. The trick is
    * the augmented vector z = [√w·x̃, (y−p)/√w] (x̃ = x with a constant-1
    * intercept slot, w = p(1−p) clamped): the gramian's second moments
    * then hold BOTH Newton ingredients — Σ zᵢzⱼ (i,j ≤ D) = X'WX and
    * Σ zᵢz_last = X'(y−p) — in one mergeable (D+2)² buffer, so an
    * iteration costs one scan + a driver-side D×D solve, the same
    * posture as q_pca_embed/q_linear_probe. Nothing vector-sized ever
    * shuffles; iterations are fixed (3) for a bounded plan. */
  /** The IRLS fit core of [[logisticProbe]] (and of
    * [[PipelineOps4.qQualityClassifier]]'s hashed-feature variant):
    * returns β = [w_0..w_{D-1}, intercept]. The Newton rounds run
    * through MulticlassIrlsAgg with K=1 (class {1}: y_c = y exactly),
    * accumulating A = X'WX and g = X'(y−p) in hand-written loops — the
    * declarative augmented-vector gramian (z = [√w·x̃, (y−p)/√w] through
    * HOF fold/transform) computes the identical system but evaluates the
    * lambda pipeline interpreted once expressions outgrow Janino, and is
    * ~4× slower per pass even when compiled. β rides on the aggregate
    * instance, so rounds don't recompile the scan. */
  private[graft] def logisticFitBetas(vecs: DataFrame, lambda: Double,
                                      iters: Int): Array[Double] = {
    import graft.functions.MulticlassIrlsAgg
    val dim = vecs.select(size(col("x"))).head.getInt(0)
    val d1 = dim + 1 // + intercept slot
    val xy = vecs.select(col("x").cast("array<double>").as("x"),
      col("y").cast("long").as("y"))
    val one = Array(1L)
    var beta = new Array[Double](d1)
    for (_ <- 0 until iters) {
      val flat = xy.agg(MulticlassIrlsAgg(col("x"), col("y"), Array(beta), dim, one).as("m"))
        .head.getSeq[Double](0).toArray
      // Newton step: (X'WX + λI) Δ = X'(y − p); intercept unregularized
      val delta = MulticlassIrlsAgg.newtonStep(flat, 0, dim, lambda)
      beta = Array.tabulate(d1)(i => beta(i) + delta(i))
    }
    beta
  }

  private[graft] def logisticProbe(vecs: DataFrame, lambda: Double,
                                   iters: Int): DataFrame = {
    val s = vecs.sparkSession
    val dim = vecs.select(size(col("x"))).head.getInt(0)
    val beta = logisticFitBetas(vecs, lambda, iters)
    // one final declarative pass for the fit metrics (a single compiled
    // eta expression — no codegen cliff at K=1)
    def withBeta(df: DataFrame, b: Array[Double]): DataFrame = {
      import s.implicits._
      df.crossJoin(broadcast(
        Seq((b.take(dim).toSeq, b(dim))).toDF("__w", "__b0")))
    }
    def etaCol: org.apache.spark.sql.Column =
      aggregate(zip_with(col("x"), col("__w"), _ * _), lit(0.0), _ + _) + col("__b0")
    val p = lit(1.0) / (lit(1.0) + exp(-etaCol))
    val pc = least(greatest(p, lit(1e-12)), lit(1.0 - 1e-12))
    val mrow = withBeta(vecs, beta).agg(
      avg(-(col("y") * log(pc) + (lit(1.0) - col("y")) * log(lit(1.0) - pc))).as("ll"),
      avg(when((pc >= 0.5) === (col("y") >= 0.5), 1.0).otherwise(0.0)).as("acc"))
      .head()
    val rows = (0 until dim).map(i => (f"w_$i%03d", SparkSemantics.round(beta(i), 6))) ++
      Seq(("intercept", SparkSemantics.round(beta(dim), 6)),
        ("log_loss", SparkSemantics.round(mrow.getDouble(0), 6)),
        ("accuracy", SparkSemantics.round(mrow.getDouble(1), 6)))
    s.createDataFrame(rows).toDF("term", "value").orderBy("term")
  }

  /** The q_logistic_probe oracle, generated: three UNROLLED IRLS rounds,
    * each = one per-row reweighting off the previous β (the sigmoid in
    * plain SQL — cross-engine `exp` differs by ≤1 ulp, which the 6dp
    * rounding absorbs), one (D+1)² weighted-moment aggregation, and a
    * conjugate-gradient solve of the ridged Newton system in a recursive
    * CTE (the [[linearProbeOracleSql]] machinery at D+1, intercept slot
    * unregularized exactly like [[graft.functions.MulticlassIrlsAgg.newtonStep]]).
    * The round CTEs are `AS MATERIALIZED`: DuckDB inlines multiply-
    * referenced CTEs, and round t referencing β_{t-1} twice re-ran the
    * ENTIRE previous round's pipeline per reference — exponential across
    * three rounds; the first un-materialized attempt did not finish in
    * 10 minutes, the materialized form runs in ~1 s. */
  private def logisticOracleSql(dim: Int = 64, lambda: Double = 1e-3,
                                rounds: Int = 3, cgIters: Int = 128): String = {
    val d1 = dim + 1
    val head =
      s"""WITH RECURSIVE ex AS MATERIALIZED (
         |  SELECT vec_id, list_append(CAST(embedding AS DOUBLE[]), CAST(1.0 AS DOUBLE)) AS xt,
         |    CAST(CAST(label AS BIGINT) % 2 AS DOUBLE) AS y
         |  FROM embeddings),
         |pos AS (SELECT unnest(range(1, $d1 + 1)) AS i),
         |""".stripMargin
    head + irlsRoundsSql(dim, lambda, rounds, cgIters) +
      logisticOracleTail(dim, rounds)
  }

  /** The binary-IRLS round machinery of [[logisticOracleSql]], factored
    * for reuse by hashed-feature classifiers ([[PipelineOps4]]): requires
    * CTEs `ex(vec_id, xt, y)` (xt = features + trailing 1.0 intercept
    * slot) and `pos(i over 1..dim+2)` in scope, emits `b0..b$rounds`
    * (β after each round) — sigmoid reweighting, weighted-moment agg,
    * CG solve of the ridged Newton system, all MATERIALIZED (DuckDB
    * inlines multiply-referenced CTEs; un-materialized, round t re-runs
    * the whole previous round per reference — exponential). */
  private[graft] def irlsRoundsSql(dim: Int, lambda: Double,
                                   rounds: Int, cgIters: Int): String = {
    val d1 = dim + 1
    val init =
      s"""b0 AS MATERIALIZED (SELECT list_transform(range(1, $d1 + 1), q -> CAST(0.0 AS DOUBLE)) AS beta),
         |""".stripMargin
    val roundsSql = (1 to rounds).map { t =>
      val prev = s"b${t - 1}"
      s"""rw$t AS (
         |  SELECT ex.vec_id, ex.xt, ex.y,
         |    1.0 / (1.0 + exp(-list_inner_product(ex.xt, $prev.beta))) AS p
         |  FROM ex, $prev),
         |wr$t AS MATERIALIZED (
         |  SELECT vec_id, xt, greatest(p * (1.0 - p), 1e-6) AS w, y - p AS r FROM rw$t),
         |ael$t AS (
         |  SELECT wr$t.vec_id, pos.i, wr$t.xt[pos.i] AS xi, wr$t.w AS w, wr$t.r AS r
         |  FROM wr$t, pos),
         |am$t AS (
         |  SELECT a.i AS i, b.i AS j, SUM(a.w * a.xi * b.xi) AS s
         |  FROM ael$t a JOIN ael$t b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |ar$t AS (SELECT i, list(s + CASE WHEN i = j AND i <= $dim THEN $lambda ELSE 0.0 END ORDER BY j) AS row
         |          FROM am$t GROUP BY i),
         |amat$t AS MATERIALIZED (SELECT list(row ORDER BY i) AS m FROM ar$t),
         |gv$t AS MATERIALIZED (SELECT list(s ORDER BY i) AS g FROM (
         |  SELECT i, SUM(xi * r) AS s FROM ael$t GROUP BY i)),
         |cg$t(k, x, r, p) AS (
         |  SELECT 0, list_transform(range(1, $d1 + 1), q -> CAST(0.0 AS DOUBLE)),
         |    (SELECT g FROM gv$t), (SELECT g FROM gv$t)
         |  UNION ALL
         |  SELECT k + 1,
         |    CASE WHEN s.rr = 0 THEN s.x
         |         ELSE list_transform(range(1, $d1 + 1), q -> s.x[q] + s.rr / s.pap * s.p[q]) END,
         |    CASE WHEN s.rr = 0 THEN s.r
         |         ELSE list_transform(range(1, $d1 + 1), q -> s.r[q] - s.rr / s.pap * s.ap[q]) END,
         |    CASE WHEN s.rr = 0 THEN s.p
         |         ELSE list_transform(range(1, $d1 + 1), q ->
         |           (s.r[q] - s.rr / s.pap * s.ap[q]) +
         |           (list_inner_product(
         |              list_transform(range(1, $d1 + 1), t2 -> s.r[t2] - s.rr / s.pap * s.ap[t2]),
         |              list_transform(range(1, $d1 + 1), t2 -> s.r[t2] - s.rr / s.pap * s.ap[t2]))
         |            / s.rr) * s.p[q]) END
         |  FROM (SELECT cg$t.k AS k, cg$t.x AS x, cg$t.r AS r, cg$t.p AS p,
         |          list_inner_product(cg$t.r, cg$t.r) AS rr,
         |          list_transform(range(1, $d1 + 1),
         |            q -> list_inner_product(amat$t.m[q], cg$t.p)) AS ap,
         |          list_inner_product(cg$t.p,
         |            list_transform(range(1, $d1 + 1),
         |              q -> list_inner_product(amat$t.m[q], cg$t.p))) AS pap
         |        FROM cg$t, amat$t WHERE cg$t.k < $cgIters) s),
         |b$t AS MATERIALIZED (SELECT list_transform(range(1, $d1 + 1),
         |           q -> $prev.beta[q] + d.x[q]) AS beta
         |         FROM $prev, (SELECT x FROM cg$t WHERE k = $cgIters) d),
         |""".stripMargin
    }.mkString
    init + roundsSql
  }

  private def logisticOracleTail(dim: Int, rounds: Int): String = {
    val d1 = dim + 1
    s"""fin AS (
       |  SELECT ex.vec_id, ex.y,
       |    least(greatest(1.0 / (1.0 + exp(-list_inner_product(ex.xt, b$rounds.beta))), 1e-12),
       |          1.0 - 1e-12) AS pc
       |  FROM ex, b$rounds),
       |mets AS (SELECT
       |    AVG(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))) AS ll,
       |    AVG(CASE WHEN (pc >= 0.5) = (y >= 0.5) THEN 1.0 ELSE 0.0 END) AS acc
       |  FROM fin)
       |SELECT * FROM (
       |  SELECT printf('w_%03d', pos.i - 1) AS term,
       |    ${OracleKit.sparkRound(s"b$rounds.beta[pos.i]", 6)} AS value
       |  FROM pos, b$rounds WHERE pos.i <= $dim
       |  UNION ALL
       |  SELECT 'intercept', ${OracleKit.sparkRound(s"beta[$d1]", 6)} FROM b$rounds
       |  UNION ALL
       |  SELECT 'log_loss', ${OracleKit.sparkRound("ll", 6)} FROM mets
       |  UNION ALL
       |  SELECT 'accuracy', ${OracleKit.sparkRound("acc", 6)} FROM mets
       |) ORDER BY term""".stripMargin
  }

  /** The iterative distributed classifier over the embedding column
    * (binary target = label parity). Fully oracled (r10): DuckDB replays
    * the three IRLS rounds with CG solves — see [[logisticOracleSql]].
    * Spec additionally fits the same data with a driver-side Newton loop
    * and checks agreement + separable-recovery + partition invariance. */
  val qLogisticProbe: Q = Q("q_logistic_probe", logisticOracleSql()) { (s, d) =>
    val vecs = T.embeddings(s, d)
      .select(col("embedding").cast("array<double>").as("x"),
        (col("label").cast("long") % 2).cast("double").as("y"))
    logisticProbe(vecs, lambda = 1e-3, iters = 3)
  }

  /** MULTICLASS logistic probe via one-vs-rest IRLS — the K-class
    * extension of [[logisticProbe]], matching the reference's multiclass
    * assay→family MLP training shape (`python/Go_idg_mlp_DbCreate.sh:1`,
    * `python/mlpassay_xml2targets.py:1`). Scale shape: every Newton
    * round is STILL one corpus pass — ALL K weighted normal-equation
    * systems A_c = X'W_cX, g_c = X'(y_c − p_c) accumulate in ONE
    * [[graft.functions.MulticlassIrlsAgg]] buffer (a hand-looped
    * TypedImperativeAggregate; the declarative K-sibling-gramian form is
    * semantically identical but its K copies of the HOF lambda pipeline
    * blow Janino's method limit at K ≈ 10 and drop the whole stage to
    * interpreted eval, ~10× slower — the PLANS.md q_ann_pq lesson, in an
    * aggregate). The pass count is `iters + 1`, independent of K; the
    * K (D+1)-system buffer is model-sized and mergeable (map-side
    * partials apply), the K D×D Newton solves run driver-side, and
    * nothing vector-sized shuffles. The per-round coefficient matrix
    * rides on the aggregate instance — never through codegen, so rounds
    * don't recompile the scan. Output: per-class weights + intercept
    * rows, plus argmax-accuracy (ties to the lowest class index) and
    * mean per-class one-vs-rest log-loss summary rows (class = -1). */
  private[graft] def multiclassProbe(vecs: DataFrame, lambda: Double,
                                     iters: Int): DataFrame = {
    import graft.functions.MulticlassIrlsAgg
    val s = vecs.sparkSession
    val classes: Array[Long] = vecs.select(col("y").cast("long").as("y"))
      .distinct().collect().map(_.getLong(0)).sorted
    require(classes.nonEmpty, "multiclassProbe: no labeled rows")
    // class = -1 keys the accuracy/log_loss summary rows in the output;
    // a genuine -1 label (a common "unknown" encoding) would interleave
    // coefficient rows with metric rows indistinguishably — fail loud
    require(classes.head >= 0L,
      s"multiclassProbe: labels must be >= 0 (got ${classes.head}); " +
        "class = -1 is reserved for the summary rows")
    val dim = vecs.select(size(col("x"))).head.getInt(0)
    val d1 = dim + 1 // + intercept slot
    val per = d1 * (d1 + 1) / 2 + d1 // per-class [A upper-tri, g] doubles
    val xy = vecs.select(col("x").cast("array<double>").as("x"),
      col("y").cast("long").as("y"))
    var betas: Array[Array[Double]] = Array.fill(classes.length)(new Array[Double](d1))
    for (_ <- 0 until iters) {
      val flat = xy.agg(MulticlassIrlsAgg(col("x"), col("y"), betas, dim, classes).as("m"))
        .head.getSeq[Double](0).toArray
      betas = classes.indices.toArray.map { c =>
        val delta = MulticlassIrlsAgg.newtonStep(flat, c * per, dim, lambda)
        Array.tabulate(d1)(i => betas(c)(i) + delta(i))
      }
    }
    // one final pass for the fit metrics: [n, argmax-correct, Σ mean loss]
    val m = xy.agg(MulticlassIrlsAgg.metrics(col("x"), col("y"), betas, dim, classes).as("m"))
      .head.getSeq[Double](0).toArray
    val n = math.max(m(0), 1.0)
    val rows = classes.indices.flatMap { c =>
      (0 until dim).map(i => (classes(c), f"w_$i%03d", SparkSemantics.round(betas(c)(i), 6))) :+
        ((classes(c), "intercept", SparkSemantics.round(betas(c)(dim), 6)))
    } ++ Seq((-1L, "accuracy", SparkSemantics.round(m(1) / n, 6)),
      (-1L, "log_loss", SparkSemantics.round(m(2) / n, 6)))
    s.createDataFrame(rows).toDF("class", "term", "value")
      .orderBy("class", "term")
  }

  /** The q_multiclass_probe oracle, generated: K = 10 independent
    * one-vs-rest chains of [[logisticOracleSql]]'s round machinery
    * (sigmoid reweighting → weighted-moment agg → CG solve, all
    * MATERIALIZED), then argmax accuracy (ties to the lowest class:
    * `list_position` returns the FIRST max, mirroring the strict->
    * scan in MulticlassMetricsAgg) and mean per-class OVR log-loss.
    * The class set is HARDCODED 0..9 where the Spark side derives it
    * from data — deliberate: the label domain is generator-stable
    * across every testdata SF, and a domain change fails the hash gate
    * LOUDLY (a fail-open dynamic oracle could silently agree on the
    * wrong K). ~4 s in DuckDB at the gate SF. */
  private def multiclassOracleSql(dim: Int = 64, lambda: Double = 1e-3,
                                  rounds: Int = 3, cgIters: Int = 128,
                                  classes: Range = 0 until 10): String = {
    val d1 = dim + 1
    val k = classes.length
    val head =
      s"""WITH RECURSIVE ex AS MATERIALIZED (
         |  SELECT vec_id, list_append(CAST(embedding AS DOUBLE[]), CAST(1.0 AS DOUBLE)) AS xt,
         |    CAST(label AS BIGINT) AS y
         |  FROM embeddings),
         |pos AS (SELECT unnest(range(1, $d1 + 1)) AS i),
         |""".stripMargin
    val chains = classes.map { c =>
      val init =
        s"b${c}_0 AS MATERIALIZED (SELECT list_transform(range(1, $d1 + 1), q -> CAST(0.0 AS DOUBLE)) AS beta),\n"
      val roundsSql = (1 to rounds).map { t =>
        val prev = s"b${c}_${t - 1}"
        s"""wr${c}_$t AS MATERIALIZED (
           |  SELECT vec_id, xt,
           |    greatest(p * (1.0 - p), 1e-6) AS w,
           |    (CASE WHEN y = $c THEN 1.0 ELSE 0.0 END) - p AS r
           |  FROM (SELECT ex.vec_id, ex.xt, ex.y,
           |          1.0 / (1.0 + exp(-list_inner_product(ex.xt, $prev.beta))) AS p
           |        FROM ex, $prev)),
           |ael${c}_$t AS (
           |  SELECT wr${c}_$t.vec_id, pos.i, wr${c}_$t.xt[pos.i] AS xi, wr${c}_$t.w AS w, wr${c}_$t.r AS r
           |  FROM wr${c}_$t, pos),
           |amat${c}_$t AS MATERIALIZED (SELECT list(row ORDER BY i) AS m FROM (
           |  SELECT i, list(s + CASE WHEN i = j AND i <= $dim THEN $lambda ELSE 0.0 END ORDER BY j) AS row
           |  FROM (SELECT a.i AS i, b.i AS j, SUM(a.w * a.xi * b.xi) AS s
           |        FROM ael${c}_$t a JOIN ael${c}_$t b ON a.vec_id = b.vec_id GROUP BY 1, 2)
           |  GROUP BY i)),
           |gv${c}_$t AS MATERIALIZED (SELECT list(s ORDER BY i) AS g FROM (
           |  SELECT i, SUM(xi * r) AS s FROM ael${c}_$t GROUP BY i)),
           |cg${c}_$t(k, x, r, p) AS (
           |  SELECT 0, list_transform(range(1, $d1 + 1), q -> CAST(0.0 AS DOUBLE)),
           |    (SELECT g FROM gv${c}_$t), (SELECT g FROM gv${c}_$t)
           |  UNION ALL
           |  SELECT k + 1,
           |    CASE WHEN s.rr = 0 THEN s.x
           |         ELSE list_transform(range(1, $d1 + 1), q -> s.x[q] + s.rr / s.pap * s.p[q]) END,
           |    CASE WHEN s.rr = 0 THEN s.r
           |         ELSE list_transform(range(1, $d1 + 1), q -> s.r[q] - s.rr / s.pap * s.ap[q]) END,
           |    CASE WHEN s.rr = 0 THEN s.p
           |         ELSE list_transform(range(1, $d1 + 1), q ->
           |           (s.r[q] - s.rr / s.pap * s.ap[q]) +
           |           (list_inner_product(
           |              list_transform(range(1, $d1 + 1), t2 -> s.r[t2] - s.rr / s.pap * s.ap[t2]),
           |              list_transform(range(1, $d1 + 1), t2 -> s.r[t2] - s.rr / s.pap * s.ap[t2]))
           |            / s.rr) * s.p[q]) END
           |  FROM (SELECT cg${c}_$t.k AS k, cg${c}_$t.x AS x, cg${c}_$t.r AS r, cg${c}_$t.p AS p,
           |          list_inner_product(cg${c}_$t.r, cg${c}_$t.r) AS rr,
           |          list_transform(range(1, $d1 + 1),
           |            q -> list_inner_product(amat${c}_$t.m[q], cg${c}_$t.p)) AS ap,
           |          list_inner_product(cg${c}_$t.p,
           |            list_transform(range(1, $d1 + 1),
           |              q -> list_inner_product(amat${c}_$t.m[q], cg${c}_$t.p))) AS pap
           |        FROM cg${c}_$t, amat${c}_$t WHERE cg${c}_$t.k < $cgIters) s),
           |b${c}_$t AS MATERIALIZED (SELECT list_transform(range(1, $d1 + 1),
           |           q -> $prev.beta[q] + d.x[q]) AS beta
           |         FROM $prev, (SELECT x FROM cg${c}_$t WHERE k = $cgIters) d),
           |""".stripMargin
      }.mkString
      init + roundsSql
    }.mkString
    val betasJoin = classes.map(c => s"b${c}_$rounds").mkString(", ")
    val betasList = classes.map(c => s"b${c}_$rounds.beta").mkString(", ")
    val mets =
      s"""betam AS MATERIALIZED (
         |  SELECT [$betasList] AS bs
         |  FROM $betasJoin),
         |scored AS MATERIALIZED (
         |  SELECT ex.vec_id, ex.y,
         |    list_transform(range(1, $k + 1), c -> list_inner_product(ex.xt, betam.bs[c])) AS etas
         |  FROM ex, betam),
         |mets AS (SELECT
         |    COUNT(*) AS n,
         |    SUM(CASE WHEN list_position(etas, list_max(etas)) - 1 = y THEN 1.0 ELSE 0.0 END) AS correct,
         |    SUM(ll) / $k AS lltot
         |  FROM (SELECT vec_id, y, etas,
         |          list_sum(list_transform(range(1, $k + 1), c ->
         |            -(CASE WHEN y = c - 1 THEN ln(least(greatest(1.0/(1.0+exp(-etas[c])), 1e-12), 1.0-1e-12))
         |                   ELSE ln(1.0 - least(greatest(1.0/(1.0+exp(-etas[c])), 1e-12), 1.0-1e-12)) END))) AS ll
         |        FROM scored))
         |SELECT * FROM (
         |""".stripMargin
    val sels = classes.map { c =>
      s"""  SELECT CAST($c AS BIGINT) AS class, printf('w_%03d', pos.i - 1) AS term,
         |    ${OracleKit.sparkRound(s"b${c}_$rounds.beta[pos.i]", 6)} AS value
         |  FROM pos, b${c}_$rounds WHERE pos.i <= $dim
         |  UNION ALL
         |  SELECT $c, 'intercept', ${OracleKit.sparkRound(s"beta[$d1]", 6)}
         |  FROM b${c}_$rounds""".stripMargin
    } ++ Seq(
      s"  SELECT -1, 'accuracy', ${OracleKit.sparkRound("correct / n", 6)} FROM mets",
      s"  SELECT -1, 'log_loss', ${OracleKit.sparkRound("lltot / n", 6)} FROM mets")
    head + chains + mets + sels.mkString("\n  UNION ALL\n") + "\n) ORDER BY class, term"
  }

  /** The one-pass-per-round multiclass classifier over the embedding
    * column (targets = the label's K values). Fully oracled (r10):
    * DuckDB replays all K one-vs-rest IRLS chains —
    * [[multiclassOracleSql]]. Spec additionally: agrees with
    * driver-side per-class Newton fits, recovers a separable 3-class
    * synthetic by argmax, partition-invariant. */
  val qMulticlassProbe: Q = Q("q_multiclass_probe", multiclassOracleSql()) { (s, d) =>
    val vecs = T.embeddings(s, d)
      .select(col("embedding").cast("array<double>").as("x"),
        col("label").cast("long").as("y"))
    multiclassProbe(vecs, lambda = 1e-3, iters = 3)
  }

  /** Per-epoch deterministic training order: each epoch permutes the
    * corpus by md5(epoch:doc_id) — a different, rerun-stable shuffle per
    * epoch (what a dataloader needs so epoch 2 isn't epoch 1's order, yet
    * any worker can recompute its slice without coordination). The global
    * position is [[exclusivePrefixSum]] with unit weight partitioned by
    * epoch — a DISTRIBUTED row number: range-partition on the hash order,
    * bounded local windows, broadcast offsets. No single-task global sort
    * anywhere, so the layout pass scales to corpus size; shards are fixed
    * 64-doc cuts of the position (the dataloader's file-per-shard map).
    * The hash key carries a zero-padded doc id suffix so the order is a
    * TOTAL order in both engines even under (vanishing) md5-prefix ties. */
  val qEpochShuffle: Q = Q(
    "q_epoch_shuffle",
    """WITH ep AS (SELECT CAST(0 AS BIGINT) AS epoch UNION ALL SELECT CAST(1 AS BIGINT)),
      |t AS (SELECT epoch, doc_id,
      |    md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
      |      || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS h
      |  FROM documents CROSS JOIN ep),
      |r AS (SELECT epoch, doc_id, h,
      |    ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h) - 1 AS pos
      |  FROM t)
      |SELECT epoch, doc_id, pos, CAST(pos // 64 AS BIGINT) AS shard_id
      |FROM r ORDER BY epoch, pos""".stripMargin) { (s, d) =>
    import s.implicits._
    val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val epochs = Seq(0L, 1L).toDF("epoch")
    val t = T.documents(s, d).select(col("doc_id"))
      .crossJoin(broadcast(epochs))
      .select(col("epoch"), col("doc_id"),
        concat(
          md5(concat(col("epoch").cast(StringType), lit(":"),
            col("doc_id").cast(StringType))),
          lpad(col("doc_id").cast(StringType), 12, "0")).as("h"),
        lit(1L).as("one"))
    exclusivePrefixSum(t, "epoch", "h", "one", nParts)
      .select(col("epoch"), col("doc_id"), col("pre").as("pos"),
        expr("pre div 64").as("shard_id"))
      .orderBy("epoch", "pos")
  }

  /** Temporal train/val split with an embargo gap — the TIME-leakage
    * counterpart of [[qSplitLeakageSafe]] (which guards CONTENT leakage
    * via near-dup components). Forecast-style evaluation must not train
    * on anything the validation period could "remember": the boundary
    * sits at 70% of the observed span and a 3-day embargo strip between
    * train and val absorbs look-ahead effects (events straddling the
    * boundary, delayed attributions). All boundary math is exact integer
    * microseconds derived from the data's own min/max — both engines
    * truncate the same way, so the carve is bit-reproducible. One pass:
    * a 1-row bounds aggregate broadcast back, then a single grouped
    * count; no window, no second scan. */
  val qSplitTemporal: Q = Q(
    "q_split_temporal",
    """WITH b AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events),
      |s AS (
      |  SELECT CASE WHEN epoch_us(ts) < mn + (mx - mn) * 7 // 10 THEN 'train'
      |              WHEN epoch_us(ts) < mn + (mx - mn) * 7 // 10 + 259200000000 THEN 'embargo'
      |              ELSE 'val' END AS split,
      |         epoch_us(ts) AS us, user_id
      |  FROM events CROSS JOIN b)
      |SELECT split, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  MIN(us) AS min_us, MAX(us) AS max_us
      |FROM s GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
    val EmbargoUs = 259200000000L // 3 days
    val ev = T.events(s, d)
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    ev.crossJoin(broadcast(bounds))
      .select(
        when(col("us") < col("mn") + expr("(mx - mn) * 7 div 10"), "train")
          .when(col("us") < col("mn") + expr("(mx - mn) * 7 div 10") +
            EmbargoUs, "embargo")
          .otherwise("val").as("split"),
        col("us"), col("user_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("us")).as("min_us"), max(col("us")).as("max_us"))
      .orderBy("split")
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * score every raw document by how much more likely its hashed-bigram
    * features are under the TARGET domain's distribution than under the
    * raw pool's, and select the favored ones. The published recipe:
    * bigrams hashed into B buckets (here B = 8192 via xxhash64 mod B —
    * 2^13 divides 2^64, so the unsigned remainder IS Spark's pmod),
    * Laplace-smoothed bucket distributions p (target = even-numbered
    * sources, standing in for the quality corpus) and q (the RAW pool =
    * the non-target sources; with target ⊆ q the smoothed ratio
    * degenerates to c_t+1 vs c_q+1 with c_q ≥ c_t and nothing is ever
    * favored — the planted DsirSpec caught exactly that), per-doc log
    * importance weight Σ log(p_b/q_b) over the doc's
    * gram occurrences. Deterministic selection at log-weight > 0 (the
    * paper resamples ∝ weight; the thresholded form keeps the gate
    * exact).
    *
    * At scale: gram hashing is the native codegen expression (no gram
    * string ever materializes), the model is TWO B-sized aggregations
    * (bucket counts + one global total) broadcast back, and the per-doc
    * score is one map-side join + one doc-keyed decimal aggregation —
    * the q_perplexity shuffle budget. Per-bucket log-ratios are rounded
    * to 6 dp then summed as DECIMAL(18,6) (partition-order exact,
    * SURVEY §5).
    *
    * Fully oracled from birth: the bigram xxhash64 replays via
    * [[OracleKit.xxhash64StrSteps]]; everything downstream is plain SQL. */
  private def dsirOracleSql(buckets: Int = 8192): String = {
    val xx = OracleKit.nestedProjections("SELECT sh FROM dgr", OracleKit.xxhash64StrSteps("sh"), "sh, hu")
    val isT = "CAST(substr(source, 4) AS INT) % 2 = 0"
    s"""WITH dtoks AS MATERIALIZED (SELECT doc_id, source, string_split(text, ' ') AS tok FROM documents),
       |dbg AS MATERIALIZED (SELECT doc_id, source, tok[i] || ' ' || tok[i+1] AS sh
       |  FROM dtoks, unnest(range(1, len(tok))) AS z(i)),
       |dgr AS MATERIALIZED (SELECT DISTINCT sh FROM dbg),
       |dgx AS MATERIALIZED ($xx),
       |dbk AS MATERIALIZED (SELECT sh, hu % $buckets AS b FROM dgx),
       |doccs AS MATERIALIZED (SELECT g.doc_id, g.source, k.b FROM dbg g JOIN dbk k USING (sh)),
       |dcnt AS MATERIALIZED (SELECT b, SUM(CASE WHEN $isT THEN 0 ELSE 1 END) AS cq,
       |    SUM(CASE WHEN $isT THEN 1 ELSE 0 END) AS cp FROM doccs GROUP BY b),
       |dtot AS (SELECT SUM(CASE WHEN $isT THEN 0 ELSE 1 END) AS nq,
       |    SUM(CASE WHEN $isT THEN 1 ELSE 0 END) AS np FROM doccs),
       |dbt AS MATERIALIZED (SELECT b,
       |    round(ln((CAST(cp AS DOUBLE) + 1) / (CAST(np AS DOUBLE) + $buckets))
       |        - ln((CAST(cq AS DOUBLE) + 1) / (CAST(nq AS DOUBLE) + $buckets)), 6) AS t
       |  FROM dcnt CROSS JOIN dtot),
       |dlw AS (SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
       |    CAST(SUM(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS lw
       |  FROM doccs JOIN dbt USING (b) GROUP BY doc_id)
       |SELECT doc_id, n_grams, round(lw, 6) AS log_weight,
       |  CASE WHEN lw > 0 THEN 1 ELSE 0 END AS selected
       |FROM dlw ORDER BY doc_id""".stripMargin
  }

  /** Hashed-bigram features of a documents table: (doc_id, b). */
  private def dsirFeats(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(graft.functions.NgramHashes(col("text"), 2)).as("h"))
      .withColumn("b", pmod(col("h"), lit(buckets.toLong)))

  /** The FROZEN DSIR model: the B-sized bucket table (b, t) of 6dp-rounded
    * log importance ratios, target vs raw pool — model-fit-sized, the
    * artifact [[graft.streaming.StreamingOps.dsirScoreSink]] broadcasts
    * against an arriving stream. */
  def dsirModel(docs: DataFrame, buckets: Int = 8192): DataFrame = {
    val isTarget = (substring(col("source"), 4, 10).cast("int") % 2) === 0
    val feats = dsirFeats(docs, buckets)
    val cnt = feats.groupBy("b").agg(
      sum(when(isTarget, 0L).otherwise(1L)).as("cq"),
      sum(when(isTarget, 1L).otherwise(0L)).as("cp"))
    val tot = feats.agg(
      sum(when(isTarget, 0L).otherwise(1L)).as("nq"),
      sum(when(isTarget, 1L).otherwise(0L)).as("np"))
    val term = round(
      log((dbl(col("cp")) + 1) / (dbl(col("np")) + buckets)) -
        log((dbl(col("cq")) + 1) / (dbl(col("nq")) + buckets)), 6)
    cnt.crossJoin(broadcast(tot)).select(col("b"), term.as("t"))
  }

  /** Score documents against a (frozen) DSIR model. Per-doc and
    * model-broadcast, so scoring is COMPOSITIONAL: any partition of the
    * corpus into batches scores identically (the streaming sink's
    * correctness contract). */
  def dsirScore(docs: DataFrame, model: DataFrame, buckets: Int = 8192): DataFrame =
    dsirFeats(docs, buckets).join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        dbl(sum(col("t").cast(org.apache.spark.sql.types.DecimalType(18, 6)))).as("lw"))
      .select(col("doc_id"), col("n_grams"),
        round(col("lw"), 6).as("log_weight"),
        when(col("lw") > 0, 1).otherwise(0).as("selected"))

  val qDsir: Q = Q("q_dsir", dsirOracleSql()) { (s, d) =>
    val docs = T.documents(s, d)
    dsirScore(docs, dsirModel(docs)).orderBy("doc_id")
  }

  /** FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): half the docs
    * (deterministic hash-rate selection — the paper's 50% FIM rate) are
    * rewritten in PSM order, `<fim_prefix> P <fim_suffix> S <fim_middle>
    * M`, with the two split points derived from disjoint bit ranges of
    * ONE xxhash64(doc_id) (non-negative after the unsigned shift, so
    * `%` agrees across engines) — reproducible with no RNG state, the
    * property every epoch-stable data transform here shares. Short docs
    * (< 20 chars) pass through: splitting them trains nothing. One
    * projection over one corpus scan — no shuffle at all. Oracle: the
    * closed-form XXH64 long replay + the same bit slicing + char-domain
    * substr on both engines. */
  private def fimOracleSql: String = {
    val xx = OracleKit.xxhash64Sql(
      "SELECT doc_id, text FROM documents", "doc_id", "doc_id, text", None)
    s"""WITH fx AS MATERIALIZED ($xx),
       |fu AS (SELECT doc_id, text,
       |    (hk::HUGEINT + CASE WHEN hk < 0 THEN 18446744073709551616::HUGEINT
       |                        ELSE 0::HUGEINT END)::UBIGINT AS hu,
       |    length(text)::BIGINT AS n FROM fx),
       |fp AS (SELECT doc_id, text, n,
       |    CAST((hu >> 4) % 10 AS BIGINT) AS r,
       |    CAST((hu >> 16) % ((n + 1)::UBIGINT) AS BIGINT) AS q1,
       |    CAST((hu >> 40) % ((n + 1)::UBIGINT) AS BIGINT) AS q2
       |  FROM fu),
       |ff AS (SELECT doc_id, text, n, (r < 5 AND n >= 20) AS fim,
       |    least(q1, q2) AS lo, greatest(q1, q2) AS hi FROM fp)
       |SELECT doc_id, fim,
       |  CASE WHEN fim THEN lo ELSE 0 END AS n_prefix,
       |  CASE WHEN fim THEN hi - lo ELSE 0 END AS n_middle,
       |  CASE WHEN fim THEN n - hi ELSE 0 END AS n_suffix,
       |  CASE WHEN fim THEN '<fim_prefix>' || substr(text, 1, lo::INT)
       |    || '<fim_suffix>' || substr(text, (hi + 1)::INT, (n - hi)::INT)
       |    || '<fim_middle>' || substr(text, (lo + 1)::INT, (hi - lo)::INT)
       |  ELSE text END AS fim_text
       |FROM ff ORDER BY doc_id""".stripMargin
  }

  val qFim: Q = Q("q_fim", fimOracleSql) { (s, d) =>
    val n = length(col("text")).cast("long")
    val h = xxhash64(col("doc_id"))
    val r = shiftrightunsigned(h, 4) % 10
    val q1 = shiftrightunsigned(h, 16) % (n + 1L)
    val q2 = shiftrightunsigned(h, 40) % (n + 1L)
    T.documents(s, d)
      .select(col("doc_id"), col("text"), n.as("n"),
        (r < 5 && n >= 20L).as("fim"),
        least(q1, q2).as("lo"), greatest(q1, q2).as("hi"))
      .select(col("doc_id"), col("fim"),
        when(col("fim"), col("lo")).otherwise(0L).as("n_prefix"),
        when(col("fim"), col("hi") - col("lo")).otherwise(0L).as("n_middle"),
        when(col("fim"), col("n") - col("hi")).otherwise(0L).as("n_suffix"),
        when(col("fim"), concat(lit("<fim_prefix>"),
            expr("substring(text, 1, cast(lo as int))"),
            lit("<fim_suffix>"),
            expr("substring(text, cast(hi + 1 as int), cast(n - hi as int))"),
            lit("<fim_middle>"),
            expr("substring(text, cast(lo + 1 as int), cast(hi - lo as int))")))
          .otherwise(col("text")).as("fim_text"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(qSplitLeakageSafe, qShardPlan, qBatchPack, qPcaEmbed,
    qCorpusExport, qLangConfusion, qDupMatrix, qLinearProbe, qLogisticProbe,
    qMulticlassProbe, qDsir,
    qEpochShuffle, qSplitTemporal, qFim)
}
