package graft.ops

import graft.Q
import graft.functions.Exact._
import graft.functions.SparkSemantics
import graft.sources.{Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-3 retrieval / corpus-statistics operators: BM25 ranking, vocab
  * coverage (BPE prep), bigram language-model tables, co-occurrence PMI,
  * fuzzy entity matching, and sketch-based heavy hitters. Reference
  * analogs: the text-mining/search passes (tcrd_app.py search endpoint,
  * python/grant_tagger.py term matching, TIN-X publication scoring);
  * vocab/LM/PMI are the LLM-data-pipeline mandate.
  *
  * Tokenization convention matches TextAnalysis: single-space split,
  * mirrored by string_split(text, ' ') in the oracles.
  */
object Retrieval {

  private def toks(s: org.apache.spark.sql.SparkSession, d: String) =
    T.documents(s, d).select(col("doc_id"), explode(split(col("text"), " ")).as("token"))

  /** BM25 (k1=1.2, b=0.75, Lucene-style idf) for a fixed 3-term query,
    * top-20 docs. Everything reduces before it joins: tf/df/dl are
    * aggregates, the length norm joins doc-level tables, and the per-term
    * scores are summed as DECIMAL(18,6) so the total is order-independent.
    * At scale: one token-shuffle for tf, df and the global stats broadcast.
    */
  val qBm25: Q = Q(
    "q_bm25",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total FROM dl),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token IN ('join','hash','scan') GROUP BY 1, 2),
      |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id, tf.token,
      |    round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * 2.2)
      |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS s
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN st)
      |SELECT doc_id, n_terms, score, rn FROM (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |    CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS score,
      |    ROW_NUMBER() OVER (ORDER BY SUM(CAST(s AS DECIMAL(18,6))) DESC, doc_id) AS rn
      |  FROM sc GROUP BY doc_id)
      |WHERE rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
    bm25Ranked(s, d, Seq("join", "hash", "scan"), 20)
      .select(col("doc_id"), col("n_terms"), dbl(col("ssum")).as("score"), col("rn"))
      .orderBy("rn")
  }

  /** BM25 top-k ranking for a fixed term set: (doc_id, n_terms, ssum
    * DECIMAL(18,6), rn). Shared by q_bm25 and the RRF hybrid. */
  private def bm25Ranked(s: org.apache.spark.sql.SparkSession, d: String,
                         terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    val tk = toks(s, d)
    val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
    val tf = tk.filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val score = round(
      log(lit(1.0) + (dbl(col("n_docs")) - dbl(col("df")) + 0.5) / (dbl(col("df")) + 0.5))
        * (dbl(col("tf")) * 2.2)
        / (dbl(col("tf")) + lit(1.2) *
            (lit(0.25) + lit(0.75) * dbl(col("dl")) * dbl(col("n_docs")) / dbl(col("total")))), 6)
    val sc = tf.join(dl, "doc_id").join(broadcast(dfT), "token").crossJoin(broadcast(st))
      .select(col("doc_id"), score.cast(DecimalType(18, 6)).as("sdec"))
    sc.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("sdec")).as("ssum"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("ssum").desc, col("doc_id"))).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Vocabulary with counts, rank, and cumulative corpus coverage — the
    * "how big a vocab covers X% of tokens" BPE-prep table, as a
    * DISTRIBUTED two-pass prefix sum. A vocabulary obeys Heaps' law (10⁸+
    * terms at 100 TB), so a global `ROW_NUMBER() OVER (ORDER BY …)` — one
    * task sorting the whole table — is a scale killer. Instead:
    * range-partition by the global order, compute rank/cumsum locally per
    * range (windows partitioned by partition id, so every window task is
    * bounded), and add per-partition offsets derived from a P-row stats
    * table (P = partition count) joined in broadcast. The offset prefix
    * itself is a triangular self-join over those P rows — no
    * single-partition window anywhere. Output is boundary-invariant:
    * local rank + offset = global rank wherever the range cuts fall. */
  val qVocabCoverage: Q = Q(
    "q_vocab_coverage",
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
      |r AS (SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk FROM c)
      |SELECT token, cnt, rnk,
      |  round(CAST(SUM(cnt) OVER (ORDER BY rnk) AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
      |FROM r CROSS JOIN tot ORDER BY rnk""".stripMargin) { (s, d) =>
    val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val c = toks(s, d).groupBy("token").agg(count(lit(1)).as("cnt"))
    val tot = c.agg(sum(col("cnt")).as("total"))
    // pass 1: range-partition on the global order; stamp the partition id.
    // Eagerly materialized: BOTH downstream branches (offset stats and the
    // local-rank pass) must see the SAME range boundaries — RangePartitioner
    // samples per exchange, so without pinning, two physical exchanges could
    // cut at different points and offsets would not match ranks.
    val parted = c.repartitionByRange(nParts, col("cnt").desc, col("token"))
      .withColumn("pid", spark_partition_id().cast("long"))
      .localCheckpoint(true)
    // P-row per-partition stats → exclusive offsets via triangular join
    val pstats = parted.groupBy("pid")
      .agg(count(lit(1)).as("p_rows"), sum(col("cnt")).as("p_sum"))
    val offsets = pstats.as("a")
      .join(pstats.as("b"), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.p_rows")), lit(0L)).as("rank_off"),
        coalesce(sum(col("b.p_sum")), lit(0L)).as("sum_off"))
    // pass 2: partition-local rank + cumsum (bounded window tasks), plus
    // the broadcast offsets — global rank/coverage with no global sort
    val wLocal = Window.partitionBy("pid").orderBy(col("cnt").desc, col("token"))
    parted
      .withColumn("lrnk", row_number().over(wLocal).cast("long"))
      .withColumn("lcum", sum(col("cnt")).over(wLocal))
      .join(broadcast(offsets), "pid")
      .crossJoin(broadcast(tot))
      .select(col("token"), col("cnt"),
        (col("lrnk") + col("rank_off")).as("rnk"),
        round(dbl(col("lcum") + col("sum_off")) / dbl(col("total")), 6).as("coverage"))
      .orderBy("rnk")
  }

  /** Bigram language-model table: top-3 continuations per token with MLE
    * probabilities. Adjacency comes from a per-doc position window (one
    * doc-partitioned shuffle), counts from one token-pair shuffle. */
  val qBigramLm: Q = Q(
    "q_bigram_lm",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |pos AS (SELECT doc_id, unnest(l) AS t, generate_subscripts(l, 1) AS ord FROM toks),
      |big AS (SELECT doc_id, t AS cur, LEAD(t) OVER (PARTITION BY doc_id ORDER BY ord) AS nxt FROM pos),
      |bc AS (SELECT cur, nxt, COUNT(*) AS cnt FROM big WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |cc AS (SELECT cur, CAST(SUM(cnt) AS BIGINT) AS ctot FROM bc GROUP BY 1)
      |SELECT cur, nxt, cnt, round(CAST(cnt AS DOUBLE) / CAST(ctot AS DOUBLE), 6) AS prob, rn FROM (
      |  SELECT bc.cur, bc.nxt, bc.cnt, ctot,
      |    ROW_NUMBER() OVER (PARTITION BY bc.cur ORDER BY bc.cnt DESC, bc.nxt) AS rn
      |  FROM bc JOIN cc USING (cur))
      |WHERE rn <= 3 ORDER BY cur, rn""".stripMargin) { (s, d) =>
    val pos = T.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("ord", "t")))
    val big = pos
      .withColumn("nxt",
        lead(col("t"), 1).over(Window.partitionBy("doc_id").orderBy("ord")))
      .filter(col("nxt").isNotNull)
    val bc = big.groupBy(col("t").as("cur"), col("nxt")).agg(count(lit(1)).as("cnt"))
    val cc = bc.groupBy("cur").agg(sum(col("cnt")).as("ctot"))
    bc.join(cc, "cur")
      .withColumn("rn", row_number()
        .over(Window.partitionBy("cur").orderBy(col("cnt").desc, col("nxt"))).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("cur"), col("nxt"), col("cnt"),
        round(dbl(col("cnt")) / dbl(col("ctot")), 6).as("prob"), col("rn"))
      .orderBy("cur", "rn")
  }

  /** Pointwise mutual information over doc-level co-occurrence of the
    * top-40 vocabulary terms (the term-association mining behind
    * TIN-X-style importance). Presence sets are distinct-token lists; the
    * pair join is restricted to the broadcast top-40 so the candidate
    * space is bounded regardless of corpus size. */
  val qCooccurPmi: Q = Q(
    "q_cooccur_pmi",
    """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |top AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1 ORDER BY c DESC, t LIMIT 40),
      |ft AS (SELECT doc_id, toks.t, c FROM toks JOIN top USING (t)),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |pairs AS (SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS cab
      |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t GROUP BY 1, 2)
      |SELECT ta, tb, cab,
      |  round(ln(CAST(cab AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))), 6) AS pmi
      |FROM pairs JOIN top ca ON ca.t = pairs.ta JOIN top cb ON cb.t = pairs.tb CROSS JOIN nd
      |ORDER BY pmi DESC, ta, tb LIMIT 100""".stripMargin) { (s, d) =>
    val tkd = T.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t")).distinct()
    val top = tkd.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(40)
    val ft = tkd.join(broadcast(top.select("t")), "t")
    val nd = T.documents(s, d).agg(count(lit(1)).as("n"))
    val pairs = ft.select(col("doc_id"), col("t").as("ta"))
      .join(ft.select(col("doc_id"), col("t").as("tb")), "doc_id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("cab"))
    pairs
      .join(broadcast(top.select(col("t").as("ta"), col("c").as("ca"))), "ta")
      .join(broadcast(top.select(col("t").as("tb"), col("c").as("cb"))), "tb")
      .crossJoin(broadcast(nd))
      .select(col("ta"), col("tb"), col("cab"),
        round(log(dbl(col("cab")) * dbl(col("n")) / (dbl(col("ca")) * dbl(col("cb")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("ta"), col("tb")).limit(100)
  }

  /** Fuzzy entity matching with blocking: probe strings against the
    * part-type vocabulary, candidates restricted to a shared first
    * character and a ±2 length band (the classic blocking keys — at scale
    * the block key is the shuffle/broadcast key and the edit distance
    * runs only within blocks), matches at Levenshtein ≤ 2. Reference
    * analog: HGNC/synonym reconciliation (loaders/load-HGNC.py). */
  val qEntityMatch: Q = Q(
    "q_entity_match",
    """WITH probes AS (SELECT * FROM (VALUES ('STANDRD'), ('LRGE'), ('MEDIMU'), ('PROMOO'), ('ECONMY'), ('SMAL')) p(probe)),
      |types AS (SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_parts FROM part GROUP BY 1)
      |SELECT probe, p_type AS matched, CAST(levenshtein(probe, p_type) AS BIGINT) AS dist, n_parts
      |FROM probes JOIN types
      |  ON substr(probe, 1, 1) = substr(p_type, 1, 1)
      |  AND abs(length(probe) - length(p_type)) <= 2
      |  AND levenshtein(probe, p_type) <= 2
      |ORDER BY probe, dist, matched""".stripMargin) { (s, d) =>
    import s.implicits._
    val probes = Seq("STANDRD", "LRGE", "MEDIMU", "PROMOO", "ECONMY", "SMAL").toDF("probe")
    val types = T.part(s, d).groupBy("p_type").agg(count(lit(1)).as("n_parts"))
    types.join(broadcast(probes),
        substring(col("probe"), 1, 1) === substring(col("p_type"), 1, 1) &&
          abs(length(col("probe")) - length(col("p_type"))) <= 2 &&
          levenshtein(col("probe"), col("p_type")) <= 2)
      .select(col("probe"), col("p_type").as("matched"),
        lng(levenshtein(col("probe"), col("p_type"))).as("dist"), col("n_parts"))
      .orderBy("probe", "dist", "matched")
  }

  /** Heavy hitters via Count-Min Sketch: a mergeable fixed-size sketch
    * built in one distributed pass (this is the 100 TB shape — the exact
    * groupBy here exists only to label the true top-20; at scale you keep
    * ONLY the sketch). The exact half (token, exact_cnt, ordering) is
    * FULLY oracled; the sketch leg is emitted as the provable invariant
    * `cms_ge_exact` — CMS never under-counts, so the oracle pins it at
    * TRUE and a sketch bug surfaces as a hash mismatch. The numeric
    * estimation error stays bounded by spec (Round3OpsSpec). */
  def heavyHittersRaw(s: org.apache.spark.sql.SparkSession,
                      d: String): Seq[(String, Long, Long)] = {
    val tk = toks(s, d)
    val cms = tk.stat.countMinSketch("token", 0.0001, 0.99, 42)
    tk.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token")).limit(20).collect()
      .toSeq.map(r => (r.getString(0), r.getLong(1),
        cms.estimateCount(r.getString(0))))
  }

  val qHeavyHitters: Q = Q(
    "q_heavy_hitters",
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      |        FROM toks GROUP BY 1)
      |SELECT token, exact_cnt, TRUE AS cms_ge_exact
      |FROM cnt ORDER BY exact_cnt DESC, token LIMIT 20""".stripMargin) { (s, d) =>
    import s.implicits._
    heavyHittersRaw(s, d)
      .map { case (t, exact, est) => (t, exact, est >= exact) }
      .toDF("token", "exact_cnt", "cms_ge_exact")
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  /** Training-sequence packing (concat-then-chunk, the standard LLM
    * pretraining shape): docs concatenate per source in doc_id order and
    * cut at a 2048-token boundary; each doc gets its sequence index and
    * intra-sequence offset from ONE running-sum window over exact integer
    * token counts. At scale the partition key is the source/shard (bounded
    * window partitions), and the result drives the actual byte-level
    * packing job. */
  val qSeqPack: Q = Q(
    "q_seq_pack",
    """WITH t AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
      |c AS (SELECT doc_id, source, tokens,
      |  CAST(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum FROM t)
      |SELECT doc_id, source, tokens, (cum - tokens) // 2048 AS seq_id, (cum - tokens) % 2048 AS seq_offset
      |FROM c ORDER BY source, doc_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("source").orderBy("doc_id")
    T.documents(s, d)
      .select(col("doc_id"), col("source"),
        lng(size(split(col("text"), " "))).as("tokens"))
      .withColumn("cum", sum(col("tokens")).over(w))
      .select(col("doc_id"), col("source"), col("tokens"),
        ((col("cum") - col("tokens")) / 2048).cast("long").as("seq_id"),
        ((col("cum") - col("tokens")) % 2048).as("seq_offset"))
      .orderBy("source", "doc_id")
  }

  /** Whole-document sequence packing via first-fit-decreasing — the
    * packing model that does NOT split documents (complement of
    * [[qSeqPack]]'s concat-then-chunk): docs bin-pack into fixed
    * 256-token sequences, longest-first, so padding waste is provably
    * small (every bin but at most one ends more than half full). Packing
    * is inherently sequential per shard, so the distributed shape is:
    * hash-partition by source, sort (source, tokens desc, doc_id) within
    * partitions, run FFD per source inside mapPartitions — bounded state
    * (open-bin fills for one source), no shuffle beyond the repartition,
    * deterministic bin ids.
    *
    * Fully oracled (r10): greedy FFD is sequential but INTEGER-EXACT and
    * deterministic in the (tokens desc, doc_id) order, so DuckDB replays
    * it as a recursive CTE — one row per source per step, open-bin fills
    * as an INT[] list, first-fit via `list_position` over the fills
    * (NULLIF-guarded: not-found returns 0, not NULL). The hash compare
    * certifies the distributed mapPartitions run against the sequential
    * definition doc for doc. */
  val qPackBestfit: Q = Q(
    "q_pack_bestfit",
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, source, CAST(len(string_split(text,' ')) AS INT) AS ntok,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY len(string_split(text,' ')) DESC, doc_id) AS INT) AS rn
      |  FROM documents),
      |ffd AS (
      |  SELECT source, 0 AS step, CAST([] AS INT[]) AS fills,
      |    CAST([] AS STRUCT(doc_id BIGINT, bin_id BIGINT, tokens INT)[]) AS placed
      |  FROM (SELECT DISTINCT source FROM t)
      |  UNION ALL
      |  SELECT f.source, f.step + 1,
      |    CASE WHEN b.pos IS NULL THEN list_append(f.fills, d.ntok)
      |         ELSE list_transform(range(1, len(f.fills)+1),
      |                i -> CASE WHEN i = b.pos THEN f.fills[i] + d.ntok ELSE f.fills[i] END)
      |    END,
      |    list_append(f.placed, {'doc_id': d.doc_id,
      |      'bin_id': CAST(coalesce(b.pos, len(f.fills)+1) - 1 AS BIGINT), 'tokens': d.ntok})
      |  FROM ffd f
      |  JOIN t d ON d.source = f.source AND d.rn = f.step + 1
      |  LEFT JOIN LATERAL (
      |    SELECT nullif(list_position(
      |      list_transform(f.fills, x -> x + d.ntok <= 256), true), 0) AS pos
      |  ) b ON true
      |)
      |SELECT source, p.bin_id AS bin_id, p.doc_id AS doc_id, CAST(p.tokens AS INT) AS tokens
      |FROM (SELECT source, placed FROM ffd f
      |      WHERE step = (SELECT max(rn) FROM t WHERE t.source = f.source)),
      |  unnest(placed) AS u(p)
      |ORDER BY source, 2, 3""".stripMargin) { (s, d) =>
    import s.implicits._
    val budget = 256
    val docs = T.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("ntok"))
      .as[(Long, String, Int)]
    docs
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("ntok").desc, col("doc_id"))
      .mapPartitions { it =>
        var curSource: String = null
        val fills = scala.collection.mutable.ArrayBuffer.empty[Int]
        it.map { case (docId, source, ntok) =>
          if (source != curSource) { curSource = source; fills.clear() }
          var b = 0
          while (b < fills.length && fills(b) + ntok > budget) b += 1
          if (b == fills.length) fills += ntok else fills(b) += ntok
          (source, b.toLong, docId, ntok)
        }
      }
      .toDF("source", "bin_id", "doc_id", "tokens")
      .orderBy("source", "bin_id", "doc_id")
  }

  /** Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.
    * SIGIR'09): fuse the LEXICAL ranking (BM25 over the fixed 3-term
    * query) with the SEMANTIC ranking (cosine to probe vector vec_id=1)
    * as score = Σ 1/(60 + rank), summed over the lists that retrieved
    * the doc. Rank fusion needs no score calibration between retrievers
    * — exactly why serving layers deploy it over raw-score mixing. Both
    * source rankings are the repo's existing shapes (token-reduced BM25;
    * probe-broadcast cosine scan with the LSH/IVF index as the scale
    * path); the fusion itself is a 20+20-row outer join. 1/(60+r) is
    * rounded per-term at 6dp and summed as DECIMAL so the fused score is
    * order-independent and cross-engine exact. */
  val qHybridRrf: Q = Q(
    "q_hybrid_rrf",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total FROM dl),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token IN ('join','hash','scan') GROUP BY 1, 2),
      |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |    round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * 2.2)
      |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS s
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN st),
      |lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY SUM(CAST(s AS DECIMAL(18,6))) DESC, doc_id) AS rl
      |        FROM sc GROUP BY doc_id QUALIFY rl <= 20),
      |ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |probe AS (SELECT v AS pv FROM ee WHERE vec_id = 1),
      |sem AS (SELECT vec_id AS doc_id,
      |          ROW_NUMBER() OVER (ORDER BY round(list_inner_product(v, pv)
      |            / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(pv, pv))), 6) DESC, vec_id) AS rs
      |        FROM ee CROSS JOIN probe WHERE vec_id <> 1 QUALIFY rs <= 20),
      |fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex.rl, sem.rs,
      |    CAST(COALESCE(CAST(round(1.0 / (60 + rl), 6) AS DECIMAL(18,6)), 0)
      |       + COALESCE(CAST(round(1.0 / (60 + rs), 6) AS DECIMAL(18,6)), 0) AS DOUBLE) AS rrf
      |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
      |SELECT doc_id, rl AS lex_rank, rs AS sem_rank, rrf,
      |  ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
      |FROM fused QUALIFY rn <= 10 ORDER BY rn""".stripMargin) { (s, d) =>
    import graft.functions.VectorFunctions.dotProduct
    val lex = bm25Ranked(s, d, Seq("join", "hash", "scan"), 20)
      .select(col("doc_id"), col("rn").as("rl"))
    val ee = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probe = ee.filter(col("vec_id") === 1).select(col("v").as("pv"))
    val sem = ee.filter(col("vec_id") =!= 1).crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        round(dotProduct(col("v"), col("pv"))
          / (sqrt(dotProduct(col("v"), col("v"))) * sqrt(dotProduct(col("pv"), col("pv")))), 6)
          .as("cos"))
      .withColumn("rs",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .filter(col("rs") <= 20)
      .select(col("doc_id"), col("rs"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rl"), col("rs"),
        dbl(coalesce(round(lit(1.0) / (lit(60) + col("rl")), 6).cast(DecimalType(18, 6)),
            lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 6)))
          + coalesce(round(lit(1.0) / (lit(60) + col("rs")), 6).cast(DecimalType(18, 6)),
            lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 6)))).as("rrf"))
    fused
      .withColumn("rn",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("doc_id"), col("rl").as("lex_rank"), col("rs").as("sem_rank"),
        col("rrf"), col("rn"))
      .orderBy("rn")
  }

  /** Retrieval-quality grading: nDCG@10 of the exact cosine ranking per
    * probe (vec_id < 5), with binary relevance = same label as the probe.
    * DCG = Σ rel_i/log2(i+1) over the top-10; IDCG = the same sum with
    * all relevant items first (capped at 10 by the corpus count of the
    * probe's label). Complements q_ann_eval (set recall) with the
    * position-weighted metric rankings are actually judged by. The probe
    * side is 5 rows broadcast; the corpus scan is rank-only. */
  val qEvalNdcg: Q = Q(
    "q_eval_ndcg",
    """WITH ee AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |probe AS (SELECT vec_id AS pid, label AS plabel, v AS pv FROM ee WHERE vec_id < 5),
      |ranked AS (SELECT pid, plabel, vec_id, label,
      |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY round(list_inner_product(v, pv)
      |      / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(pv, pv))), 6) DESC, vec_id) AS rnk
      |  FROM ee CROSS JOIN probe WHERE vec_id <> pid),
      |dcg AS (SELECT pid, plabel,
      |    CAST(SUM(CASE WHEN label = plabel
      |      THEN CAST(round(1.0 / log2(CAST(rnk AS DOUBLE) + 1.0), 6) AS DECIMAL(18,6))
      |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS dcg,
      |    CAST(SUM(CASE WHEN label = plabel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
      |  FROM ranked WHERE rnk <= 10 GROUP BY 1, 2),
      |avail AS (SELECT p.pid, LEAST(CAST(COUNT(*) AS BIGINT), 10) AS n_avail
      |  FROM probe p JOIN ee ON ee.label = p.plabel AND ee.vec_id <> p.pid GROUP BY 1),
      |ideal AS (SELECT pid, CAST(SUM(CAST(round(1.0 / log2(CAST(i AS DOUBLE) + 1.0), 6) AS DECIMAL(18,6))) AS DOUBLE) AS idcg
      |  FROM avail, unnest(range(1, n_avail + 1)) AS t(i) GROUP BY 1)
      |SELECT dcg.pid AS probe_id, dcg.n_rel, round(dcg.dcg, 6) AS dcg,
      |  round(ideal.idcg, 6) AS idcg,
      |  round(dcg.dcg / ideal.idcg, 6) AS ndcg
      |FROM dcg JOIN ideal ON ideal.pid = dcg.pid
      |ORDER BY probe_id""".stripMargin) { (s, d) =>
    import graft.functions.VectorFunctions.dotProduct
    val ee = T.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val probe = ee.filter(col("vec_id") < 5)
      .select(col("vec_id").as("pid"), col("label").as("plabel"), col("v").as("pv"))
    val ranked = ee.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("plabel"), col("vec_id"), col("label"),
        round(dotProduct(col("v"), col("pv"))
          / (sqrt(dotProduct(col("v"), col("v"))) * sqrt(dotProduct(col("pv"), col("pv")))), 6)
          .as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("pid").orderBy(col("cos").desc, col("vec_id"))).cast("long"))
    val relTerm = when(col("label") === col("plabel"),
      round(lit(1.0) / log2(dbl(col("rnk")) + 1.0), 6).cast(DecimalType(18, 6)))
      .otherwise(lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 6)))
    val dcg = ranked.filter(col("rnk") <= 10)
      .groupBy(col("pid"), col("plabel"))
      .agg(dbl(sum(relTerm)).as("dcg"),
        sum(when(col("label") === col("plabel"), 1L).otherwise(0L)).as("n_rel"))
    val avail = probe.join(ee.select(col("vec_id"), col("label").as("plabel")), Seq("plabel"))
      .filter(col("vec_id") =!= col("pid"))
      .groupBy("pid").agg(least(count(lit(1)), lit(10L)).as("n_avail"))
    val ideal = avail
      .select(col("pid"), explode(sequence(lit(1L), col("n_avail"))).as("i"))
      .groupBy("pid")
      .agg(dbl(sum(round(lit(1.0) / log2(dbl(col("i")) + 1.0), 6)
        .cast(DecimalType(18, 6)))).as("idcg"))
    dcg.join(ideal, "pid")
      .select(col("pid").as("probe_id"), col("n_rel"),
        round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
      .orderBy("probe_id")
  }

  /** MMR diversified re-rank (Carbonell & Goldstein SIGIR'98): greedily
    * pick from the top-20 cosine candidates by
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ=0.7 — the serving-
    * layer pass that stops a result page being 10 near-copies of the
    * best hit. The DISTRIBUTED part is candidate generation (the same
    * probe-broadcast scan as q_ann_topk, LSH/IVF at scale); the greedy
    * fold runs on the driver over the 20-candidate × D matrix —
    * model-sized by construction, like the k-means/BPE driver steps.
    * FULLY oracled (r8): the 10 greedy picks unroll into 10 SQL stages
    * over the candidate table + its 20×20 sim matrix — the driver fold
    * mirrors the oracle's float ops exactly (same left-fold dot products,
    * sqrt(na)·sqrt(nb) normalization, 0.7/0.3 literals, HALF_UP decimal
    * rounding), so the pick sequence hash-matches; ties break to the
    * lowest id in both engines. */
  private def mmrStagesSql: String =
    // stage k: pen = max sim to the l(k-1) selected; pick argmax of
    // round(0.7·rel − 0.3·pen, 6), ties to the lowest id
    (2 to 10).map { k =>
      s"""p$k AS (SELECT c.vec_id, c.rel, MAX(m.s) AS pen
         |  FROM cand c JOIN sim m ON m.ia = c.vec_id
         |  WHERE m.ib IN (SELECT vec_id FROM l${k - 1})
         |    AND c.vec_id NOT IN (SELECT vec_id FROM l${k - 1})
         |  GROUP BY c.vec_id, c.rel),
         |s$k AS (SELECT vec_id, rel, pen FROM p$k
         |  ORDER BY round(0.7 * rel - 0.3 * pen, 6) DESC, vec_id LIMIT 1),
         |l$k AS MATERIALIZED (SELECT * FROM l${k - 1} UNION ALL SELECT * FROM s$k)""".stripMargin
    }.mkString(",\n")

  val qMmrRerank: Q = Q(
    "q_mmr_rerank",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT v AS pv FROM e WHERE vec_id = 1),
       |sc AS (SELECT vec_id, v,
       |    round(list_inner_product(v, pv) /
       |      (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(pv, pv))), 6) AS rel
       |  FROM e, p WHERE vec_id <> 1),
       |cand AS MATERIALIZED (SELECT vec_id, v, rel FROM sc ORDER BY rel DESC, vec_id LIMIT 20),
       |sim AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    list_inner_product(a.v, b.v) /
       |      (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS s
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s1 AS (SELECT vec_id, rel, CAST(0.0 AS DOUBLE) AS pen FROM cand
       |  ORDER BY round(0.7 * rel, 6) DESC, vec_id LIMIT 1),
       |l1 AS MATERIALIZED (SELECT * FROM s1),
       |$mmrStagesSql
       |SELECT rank, vec_id, relevance, max_sim_to_selected FROM (
       |  ${(1 to 10).map(k =>
             s"SELECT CAST($k AS BIGINT) AS rank, vec_id, rel AS relevance, " +
             s"round(pen, 6) AS max_sim_to_selected FROM s$k")
             .mkString("\n  UNION ALL ")}
       |) ORDER BY rank""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.functions.VectorFunctions.dotProduct
    val ee = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probe = ee.filter(col("vec_id") === 1).select(col("v").as("pv"))
    val cands = ee.filter(col("vec_id") =!= 1).crossJoin(broadcast(probe))
      .select(col("vec_id"), col("v"),
        round(dotProduct(col("v"), col("pv"))
          / (sqrt(dotProduct(col("v"), col("v"))) * sqrt(dotProduct(col("pv"), col("pv")))), 6)
          .as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(20)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    // mirror the oracle's float ops EXACTLY: the fused cosine fold
    // (sqrt(na)·sqrt(nb), NOT sqrt(na·nb) — a different double), literal
    // 0.3 (NOT 1−0.7 = 0.30000000000000004) and Spark's HALF_UP round
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Double, Double)]()
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (selected.length < 10 && remaining.nonEmpty) {
      val scored = remaining.map { case (id, v, rel) =>
        val pen = if (selected.isEmpty) 0.0
          else selected.map(sel => SparkSemantics.cosine(v, sel._2)).max
        (id, v, rel, SparkSemantics.round(0.7 * rel - 0.3 * pen, 6), pen)
      }
      val best = scored.minBy { case (id, _, _, mmr, _) => (-mmr, id) }
      selected += ((best._1, best._2, best._3, SparkSemantics.round(best._5, 6)))
      remaining --= remaining.filter(_._1 == best._1)
    }
    selected.zipWithIndex
      .map { case ((id, _, rel, pen), i) => (i + 1L, id, rel, pen) }
      .toSeq.toDF("rank", "vec_id", "relevance", "max_sim_to_selected")
  }

  val all: Seq[Q] = Seq(qBm25, qVocabCoverage, qBigramLm, qCooccurPmi,
    qEntityMatch, qHeavyHitters, qSeqPack, qPackBestfit, qHybridRrf, qEvalNdcg,
    qMmrRerank)
}
