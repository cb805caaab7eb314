package graft.ops

import graft.Q
import graft.functions.Exact._
import graft.functions.{SparkSemantics, VectorFunctions}
import graft.operators.LocalRoute
import graft.sources.{Tables => T}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** Similarity search over an embedding column (SURVEY.md §2.4).
  *
  * Baseline: brute-force cosine top-k — the query side is tiny and
  * broadcast, so the plan is a broadcast-nested-loop against the corpus
  * scan with no corpus shuffle: exactly what you want when scoring a small
  * probe set against 100 TB of vectors. The r2 scale path buckets the
  * corpus with seeded random-hyperplane LSH so candidate generation is a
  * hash join instead of a full scan per query.
  */
object Similarity {

  /** Scale ceiling for the FUSED ALL-PAIRS arms of the measured routers
    * ([[cosineNearDupPairs]], [[exactKnnEdgesRouted]]). On an isotropic
    * corpus the exact τ-threshold cosine join / exact kNN has no
    * subquadratic plan — the routers correctly pick the n²/2 scan there,
    * but above this many rows that scan is a silent quadratic cluster
    * job (1M rows already means 5·10¹¹ candidate dots — the outer edge
    * of a DELIBERATE exact job) plus a corpus-wide localCheckpoint. So
    * past the ceiling the router fails loud ([[FusedScanTooLarge]]),
    * naming the approximate twins; callers who truly want the exact scan
    * raise `maxFusedRows` explicitly — quadratic work becomes an opt-in,
    * never a default (VERDICT r10 #3). */
  val MaxFusedRows: Long = 1000000L

  /** Thrown when a measured router would pick the fused all-pairs scan
    * on a corpus larger than its `maxFusedRows` ceiling. */
  final class FusedScanTooLarge(val op: String, val n: Long, val ceiling: Long)
      extends IllegalStateException(
        s"$op: the measured route is the fused all-pairs scan (isotropic corpus: " +
        s"cell bounds do not prune), but the corpus has $n rows > maxFusedRows=$ceiling " +
        s"— that scan is Θ(n²/2) = ${n * (n - 1) / 2} exact dot products. " +
        "Either raise maxFusedRows to opt in to the exact quadratic job, or use an " +
        "approximate twin with a recall contract: Similarity.lshCandidatePairs " +
        "(banded random-hyperplane LSH), Similarity.knnGraphFromCandidates " +
        "(kNN over LSH candidates), Similarity.cellCandidatePairs (IVF cells), " +
        "PipelineOps4.nnDescentGraph (NN-Descent kNN graph, linear in n), or " +
        "Dedup.minhashVerifiedPairs / Dedup.simhashVerifiedPairs for text near-dup.")

  private def requireFusedScanAllowed(n: Long, maxFusedRows: Long, op: String): Unit =
    if (n > maxFusedRows) throw new FusedScanTooLarge(op, n, maxFusedRows)

  /** Driver-replay WORK gate for the fused all-pairs scans (r15): total
    * multiply-adds (n·(n−1)/2 · dim) a local replay would run — ~1e9
    * replays in well under a second, past it the 32+-core distributed
    * scan wins. Bounds WORK where the graph/kmeans routes bound INPUT:
    * an O(n²) kernel gated on n·dim alone would stall the driver at the
    * very sizes the gate is supposed to admit. */
  private[graft] val DriverPairScanMaxOps: Long = 1000000000L

  private def pairScanOps(n: Long, dimMax: Long): Long = {
    val d = math.max(1L, dimMax)
    if (n <= 1) 0L
    else if (n > 3000000000L) Long.MaxValue
    else {
      val pairs = n * (n - 1) / 2
      if (pairs > Long.MaxValue / d) Long.MaxValue else pairs * d
    }
  }

  /** (id, v, nrm) scan rows as primitives for the replays below. */
  private def scanInput(rows: Array[Row]): Array[(Long, Array[Double], Double)] =
    rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

  private val PairSchema = new StructType()
    .add("id_a", LongType, nullable = false).add("id_b", LongType, nullable = false)
    .add("cos", DoubleType, nullable = false)

  private val KnnSchema = new StructType()
    .add("node", LongType, nullable = false).add("nbr", LongType, nullable = false)
    .add("cos", DoubleType, nullable = false).add("rnk", LongType, nullable = false)

  /** Local replay of the fused thresholded pair scan: same dot fold as
    * [[graft.functions.DotProduct]], same HALF_UP 6-dp round, Spark's
    * NaN-greatest `>= τ`, pairs normalized id_a < id_b (cos is
    * orientation-independent bit-for-bit — IEEE multiply commutes). */
  private def driverPairScan(in: Array[Row], tau: Double): Seq[Row] = {
    val rows = scanInput(in)
    val out = Seq.newBuilder[Row]
    var i = 0
    while (i < rows.length) {
      val (ia, va, na2) = rows(i)
      var j = i + 1
      while (j < rows.length) {
        val (ib, vb, nb2) = rows(j)
        if (ia != ib) {
          val c = SparkSemantics.dot(va, vb) / (na2 * nb2)
          // prefilter before the (BigDecimal) round: rounding moves a
          // value by ≤ 5e-7, so only near-threshold pairs pay it
          if (java.lang.Double.isNaN(c) || c >= tau - 1e-6) {
            val rc = SparkSemantics.round(c, 6)
            if (java.lang.Double.isNaN(rc) || rc >= tau) {
              out += (if (ia < ib) Row(ia, ib, rc) else Row(ib, ia, rc))
            }
          }
        }
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Local replay of the fused all-pairs top-k window: per-node bounded
    * best-k under Spark's nan-safe (cos DESC, nbr ASC) order, rnk 1-based
    * LONG like the distributed form's Exact.lng(row_number). O(n·k)
    * memory — the n²/2 scored pairs are never materialized. */
  private def driverKnnScan(in: Array[Row], kNbrs: Int): Seq[Row] = {
    val rows = scanInput(in)
    final case class Cand(nbr: Long, cos: Double)
    // worst-first order so the queue head is the eviction candidate
    val worstFirst = new java.util.Comparator[Cand] {
      def compare(a: Cand, b: Cand): Int = {
        val c = SparkSemantics.compare(a.cos, b.cos)
        if (c != 0) c else java.lang.Long.compare(b.nbr, a.nbr)
      }
    }
    val heaps = new java.util.HashMap[Long, java.util.PriorityQueue[Cand]]()
    def offer(node: Long, nbr: Long, cos: Double): Unit = {
      var q = heaps.get(node)
      if (q == null) { q = new java.util.PriorityQueue[Cand](kNbrs + 1, worstFirst); heaps.put(node, q) }
      if (q.size < kNbrs) { q.add(Cand(nbr, cos)); () }
      else {
        val w = q.peek()
        val c = SparkSemantics.compare(cos, w.cos)
        if (c > 0 || (c == 0 && nbr < w.nbr)) { q.poll(); q.add(Cand(nbr, cos)); () }
      }
    }
    var i = 0
    while (i < rows.length) {
      val (ia, va, na2) = rows(i)
      var j = i + 1
      while (j < rows.length) {
        val (ib, vb, nb2) = rows(j)
        if (ia != ib) {
          val rc = SparkSemantics.round(SparkSemantics.dot(va, vb) / (na2 * nb2), 6)
          offer(ia, ib, rc); offer(ib, ia, rc)
        }
        j += 1
      }
      i += 1
    }
    val out = Seq.newBuilder[Row]
    val it = heaps.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      val node = en.getKey
      val arr = en.getValue.toArray(new Array[Cand](en.getValue.size))
      java.util.Arrays.sort(arr, new java.util.Comparator[Cand] {
        def compare(a: Cand, b: Cand): Int = {
          val c = SparkSemantics.compare(b.cos, a.cos) // cos DESC
          if (c != 0) c else java.lang.Long.compare(a.nbr, b.nbr)
        }
      })
      var r = 0
      while (r < arr.length) {
        out += Row(node, arr(r).nbr, arr(r).cos, (r + 1).toLong); r += 1
      }
    }
    out.result()
  }

  /** Corpus with double vectors and precomputed norms. */
  def withNorms(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(aggregate(zip_with(col("v"), col("v"), _ * _), lit(0.0), _ + _)))

  /** Brute-force cosine top-k: probe ids < 10 against the full corpus. */
  val qAnnTopk: Q = Q(
    "q_ann_topk",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |  n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |  scored AS (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
      |    FROM n q JOIN n c ON q.vec_id <> c.vec_id
      |    WHERE q.vec_id < 10)
      |SELECT query_id, neighbor_id, cos, rnk FROM (
      |  SELECT *, RANK() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM scored)
      |WHERE rnk <= 5 ORDER BY query_id, rnk, neighbor_id""".stripMargin) { (s, d) =>
    val corpus = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = corpus.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      .join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(graft.functions.VectorFunctions.cosineSim(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", lng(rank().over(w)))
      .filter(col("rnk") <= 5)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .orderBy("query_id", "rnk", "neighbor_id")
  }

  /** Deterministic ±1 random-hyperplane matrix: nPlanes x dim, from a
    * fixed-seed LCG so signatures are reproducible across runs/engines. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    Array.fill(nPlanes)(Array.fill(dim)(if (((next() >> 33) & 1L) == 0L) -1.0 else 1.0))
  }

  /** The 4-band × 8-bit hyperplane signature pipeline as ORACLE SQL: the
    * planes are deterministic ±1 LCG vectors, so they inline as DuckDB
    * list literals and the whole LSH path — signing, banding, bucket
    * join, exact re-rank — is SQL-portable (what upgraded q_ann_lsh and
    * q_ann_eval from rows-only to full hash in r9). `list_inner_product`
    * against a ±1 plane accumulates the same 64 in-order terms Spark's
    * dotProduct folds, and a sign decision only diverges if a dot lands
    * within float-noise of zero — checked empirically green at all three
    * test SFs. */
  private def lshBandedSql(bands: Int = 4, bitsPerBand: Int = 8,
                           dim: Int = 64): String = {
    val planes = hyperplanes(bands * bitsPerBand, dim)
    def planeLit(p: Array[Double]): String =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val bandExprs = (0 until bands).map { b =>
      (0 until bitsPerBand).map { i =>
        val lit = planeLit(planes(b * bitsPerBand + i))
        s"(CASE WHEN list_inner_product(v, $lit) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ") + s" AS band$b"
    }.mkString(",\n      ")
    val sigCase = (0 until bands)
      .map(b => s"WHEN $b THEN band$b").mkString(" ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |  n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |  sg AS (SELECT vec_id, v, nrm,
       |      $bandExprs
       |    FROM n),
       |  banded AS (SELECT vec_id, v, nrm, b.band,
       |      CASE b.band $sigCase END AS sig
       |    FROM sg, (VALUES (0),(1),(2),(3)) b(band)),
       |  cand AS (SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cos
       |    FROM banded p JOIN banded c ON p.band = c.band AND p.sig = c.sig
       |      AND p.vec_id <> c.vec_id
       |    WHERE p.vec_id < 10),
       |  rnked AS (SELECT *, RANK() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |    FROM cand)""".stripMargin
  }

  /** LSH-bucketed ANN (the 100 TB path): 4 bands x 8 sign-bits. Candidate
    * pairs share a band signature — a hash join on (band, sig) — then only
    * candidates get exact cosine. No O(n^2) stage anywhere: at scale the
    * corpus shuffles once by band signature; probes are broadcast.
    * Fully oracled (r9): the deterministic ±1 planes inline as SQL
    * literals — see [[lshBandedSql]]. */
  val qAnnLsh: Q = Q(
    "q_ann_lsh",
    s"""WITH ${lshBandedSql()}
       |SELECT query_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rnk
       |FROM rnked WHERE rnk <= 5
       |ORDER BY query_id, rnk, neighbor_id""".stripMargin) { (s, d) =>
    val bands = 4; val bitsPerBand = 8; val dim = 64
    val planes = hyperplanes(bands * bitsPerBand, dim)
    val corpus = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // sig bit p = sign(dot(v, plane_p)); band value packs its 8 bits
    def bandSig(b: Int) =
      (0 until bitsPerBand).map { i =>
        val p = b * bitsPerBand + i
        val planeLit = typedlit(planes(p))
        shiftleft(when(VectorFunctions.dotProduct(col("v"), planeLit) > 0, 1L).otherwise(0L), i)
      }.reduce(_ + _)
    val signed = corpus.select(
      col("vec_id") +: col("v") +:
        (0 until bands).map(b => bandSig(b).as(s"band$b")): _*)
    val banded = signed.select(col("vec_id"), col("v"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"band$b").as("sig"))): _*)).as("x"))
      .select(col("vec_id"), col("v"), col("x.band").as("band"), col("x.sig").as("sig"))
    val probes = banded.filter(col("vec_id") < 10)
      .select(col("band"), col("sig"), col("vec_id").as("query_id"), col("v").as("qv"))
    val cands = banded
      .select(col("band"), col("sig"), col("vec_id").as("neighbor_id"), col("v").as("cv"))
      .join(broadcast(probes), Seq("band", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosineSim(col("qv"), col("cv")), 6).as("cos"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cands.withColumn("rnk", lng(rank().over(w)))
      .filter(col("rnk") <= 5)
      .orderBy("query_id", "rnk", "neighbor_id")
  }

  /** Corpus-wide LSH candidate PAIRS (both sides the corpus, not a probe
    * set): vectors sharing any (band, sig) bucket, normalized id_a < id_b.
    * The only shuffle is the band-bucket equi-join — at 100 TB the
    * shuffle key is (band, 8-bit sig) over ~uniform hash buckets, and
    * candidate volume is Σ per-bucket C(n_b, 2), never corpus². This is
    * the parameterized pair source for the cosine near-dup family. */
  def lshCandidatePairs(emb: DataFrame, idCol: String, vecCol: String,
                        bands: Int = 4, bitsPerBand: Int = 8,
                        dim: Int = 64): DataFrame = {
    val planes = hyperplanes(bands * bitsPerBand, dim)
    val corpus = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    // ALL band signatures in one native expression pass
    // ([[graft.functions.HyperplaneBands]]): per-plane expression trees
    // are a plan-size cliff once recall-targeted banding pushes
    // bands·bits into the hundreds — bit-identical output, constant
    // generated-code size
    val banded = corpus.select(col("id"),
        posexplode(VectorFunctions.hyperplaneBands(
          col("v"), planes, bands, bitsPerBand, dim)).as(Seq("band", "sig")))
    banded.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("sig"), col("id").as("id_b")), Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Predicted CANDIDATE RECALL of the sign-hyperplane banding at cosine
    * `tau` (Charikar 2002; the curve q_dedup_calibration tabulates
    * empirically): per-bit agreement p = 1 − acos(tau)/π, a band of
    * `bits` bits matches with p^bits, any of `bands` bands with
    * 1 − (1 − p^bits)^bands. */
  def lshPredictedRecall(tau: Double, bands: Int, bits: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bits), bands)
  }

  /** RECALL-TARGETED banding (VERDICT r12 #3 — nothing stopped a caller
    * from shipping the LSH twin at a threshold where its recall is ≈0.09):
    * choose (bands, bitsPerBand) from the S-curve so predicted candidate
    * recall at the caller's operating threshold `tau` is ≥ `minRecall`,
    * taking the MOST selective bits-per-band whose required band count
    * fits `maxBands` — more bits per band = exponentially smaller buckets
    * = fewer candidate pairs; bands are what recall costs at that
    * selectivity. A volume guard rejects choices whose RANDOM-pair
    * collision rate bands·2^−bits exceeds `maxCandidateFrac` — a banding
    * that "reaches" recall by colliding everything with everything is the
    * all-pairs scan wearing a costume. When no banding under both caps
    * reaches the floor, fail LOUD with the curve's math (the maxFusedRows
    * posture applied to recall): a low threshold on an isotropic corpus
    * is intrinsically un-bandable, and the caller should see that, not a
    * silent 9%-recall pair list. Returns (bands, bitsPerBand). */
  def recallTargetedLsh(tau: Double, minRecall: Double = 0.8,
                        maxBands: Int = 32, maxBits: Int = 16,
                        maxCandidateFrac: Double = 0.05): (Int, Int) = {
    require(minRecall > 0 && minRecall < 1, s"minRecall=$minRecall out of (0,1)")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    val fit = (maxBits to 1 by -1).iterator.map { r =>
      val pr = math.pow(p, r)
      // max(1, ·): pr >= minRecall means a single band already clears the
      // floor (tau -> 1 drives pr -> 1 and the raw ratio -> 0/-Inf)
      val b = math.max(1.0, math.ceil(math.log1p(-minRecall) / math.log1p(-pr)))
      (b, r)
    }.collectFirst {
      case (b, r) if b >= 1 && b <= maxBands &&
        b * math.pow(2.0, -r) <= maxCandidateFrac => (b.toInt, r)
    }
    fit.getOrElse(throw new IllegalArgumentException(
      f"recallTargetedLsh: no (bands<=$maxBands%d, bits<=$maxBits%d) reaches recall>=" +
        f"$minRecall%.2f at tau=$tau%.2f within random-collision budget $maxCandidateFrac%.3f " +
        f"— the hyperplane S-curve 1-(1-p^bits)^bands with p=1-acos(tau)/pi=$p%.4f needs " +
        f"${math.ceil(math.log1p(-minRecall) / math.log1p(-math.pow(p, maxBits)))}%.0f bands at " +
        f"$maxBits%d bits; banding cannot reach this threshold sub-quadratically — raise tau " +
        "(real near-dup corpora operate at cos>=0.8), lower minRecall, or run the exact " +
        "certificate form (q_dedup_embed) at this scale"))
  }

  /** [[lshCandidatePairs]] with banding CHOSEN for the caller's operating
    * threshold by [[recallTargetedLsh]] — the shipped production entry:
    * predicted recall ≥ `minRecall` at `tau` or a loud error. */
  def lshCandidatePairsAt(emb: DataFrame, idCol: String, vecCol: String,
                          tau: Double, minRecall: Double = 0.8,
                          maxBands: Int = 32, dim: Int = 64): DataFrame = {
    val (bands, bits) = recallTargetedLsh(tau, minRecall, maxBands)
    lshCandidatePairs(emb, idCol, vecCol, bands, bits, dim)
  }

  /** Composed candidates + exact-verify cosine pairs: the PARAMETERIZED
    * pair source for the embedding near-dup family. Joins the vectors to
    * a caller-supplied (id_a, id_b) candidate list (two id-keyed hash
    * joins) and keeps pairs with exact cosine >= tau — precision is 1 by
    * construction (every emitted pair is exactly verified); recall is the
    * candidate source's. Shipped scale form:
    * `cosinePairsVerified(emb, lshCandidatePairs(emb, …), tau)` — no
    * O(n²) stage; the brute-force all-pairs scan (qDedupEmbed) remains
    * the oracle-checked recall baseline. */
  def cosinePairsVerified(emb: DataFrame, idCol: String, vecCol: String,
                          candidates: DataFrame, tau: Double): DataFrame = {
    val e = withNorms(emb, idCol, vecCol)
    candidates
      .join(e.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cos",
        round(VectorFunctions.dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= tau)
      .select("id_a", "id_b", "cos")
  }

  /** Nearest-centroid id for a vector column, as ONE map-side expression.
    * Two forms, same semantics (argmax cosine, ties to the LOWEST cid):
    *
    *  - K ≤ 16: the codebook is UNROLLED as K (ccos, -cid) structs and the
    *    argmax is array_max — every score stays inside whole-stage codegen.
    *  - K > 16: unrolling K copies of the dot product used to trip the
    *    Janino per-method bytecode limit (the codegen cliff PLANS.md
    *    documents for q_ann_pq at K=64 — the whole stage silently fell
    *    back interpreted). Instead the codebook becomes ONE literal
    *    array<array<double>> and scoring is `transform` over it: the loop
    *    over K runs at RUNTIME over the literal array, so generated code
    *    size is constant in K and the ceiling is gone. `array_position`
    *    of the max returns the FIRST maximal index — identical
    *    ties-to-lowest-cid semantics, same fold-order doubles.
    *
    * Either way: no row blowup, no window shuffle — assignment costs one
    * projection, which is what lets the corpus-wide pass scale, and what
    * lets callers scale K with n instead of freezing K=16. */
  def nearestCell(v: Column, cents: Array[Array[Double]]): Column =
    if (cents.length <= 16) {
      val scored = cents.zipWithIndex.map { case (c, i) =>
        struct(
          VectorFunctions.cosineSim(v, typedlit(c)).as("ccos"),
          lit(-i.toLong).as("negCid"))
      }
      -array_max(array(scored: _*)).getField("negCid")
    } else {
      val cl = typedlit(cents.map(_.toSeq).toSeq)
      val scored = transform(cl, c => VectorFunctions.cosineSim(v, c))
      (array_position(scored, array_max(scored)) - 1).cast("long")
    }

  /** Quantizer sizing for the cell-pruned pair plans: K ≈ √n (clamped to
    * [16, 1024]) makes the unavoidable same-cell work Θ(n²/K) = Θ(n^1.5)
    * on balanced cells — K grows WITH the corpus instead of freezing at
    * the old codegen ceiling (lifted above). The clamp caps the literal
    * codebook a task ships at 1024·dim doubles. */
  def cellCountFor(n: Long): Int =
    math.min(1024L, math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Measured pruning power of a cell-bounded candidate plan — computed
    * from the K-row cell model (sizes + radii) BEFORE the pair join runs,
    * so callers can ROUTE: ship the cell equi-join when it prunes, ship
    * the plain fused all-pairs scan when the corpus geometry defeats the
    * triangle-inequality bound (isotropic high-dim data: r_i + r_j + t
    * exceeds the sphere diameter and every cell pair stays admissible —
    * the r7 PLANS.md measurement, now carried by the plan itself). */
  final case class CellPruneStats(
      nVectors: Long, cells: Int,
      admissibleCellPairs: Long, totalCellPairs: Long,
      candidateVolume: Long, allPairsVolume: Long) {
    def admissibleFraction: Double =
      if (totalCellPairs == 0) 1.0 else admissibleCellPairs.toDouble / totalCellPairs
    def candidateFraction: Double =
      if (allPairsVolume == 0) 1.0 else candidateVolume.toDouble / allPairsVolume
    /** No meaningful pruning: the cell joins would reproduce ≥ half the
      * cross product THROUGH A SHUFFLE — strictly worse than the fused
      * broadcast-nested-loop scan they were meant to replace. */
    def degenerate: Boolean = candidateFraction >= 0.5
  }

  /** The quantizer-fit sample: rows whose xxhash64(id) falls in residue 0
    * of an adaptive modulus chosen so the sample holds ~maxSample rows
    * REGARDLESS of corpus size. A fixed-fraction sample would materialize
    * 25 TB of a 100 TB corpus to fit a few hundred centroids; here one
    * metadata-cheap `count()` (no shuffle — parquet answers from row-group
    * stats when unfiltered) picks the modulus, and the residue filter is a
    * deterministic, partition-invariant projection. */
  def kmeansSample(vecs: DataFrame, maxSample: Long): DataFrame =
    Dedup.boundedHashSample(vecs.select(col("id"), col("v")), "id", maxSample)

  /** Deterministic spherical k-means codebook, fit on a bounded hash-sample:
    *  - sample = [[kmeansSample]] — ≤ ~maxSample rows whatever the corpus
    *    size, reproducible, no full-corpus pass per Lloyd iteration;
    *  - init = the K sample vectors with smallest (xxhash64(id, 7), id) —
    *    a seeded pseudo-random draw, not data-order-dependent;
    *  - `iters` Lloyd rounds: assign sample to nearest centroid by cosine
    *    ([[nearestCell]] — a pure projection), recompute centroids as
    *    per-dimension means in EXACT decimal (order/partitioning-invariant
    *    — the codebook, and so every downstream cell id, is bit-stable);
    *  - empty cells keep their previous centroid.
    * The model (K·dim doubles) collects to the driver and broadcasts —
    * model-fit-sized, independent of corpus scale. */
  def fitKmeansCodebook(vecs: DataFrame, k: Int, iters: Int = 4,
                        maxSample: Long = 1L << 20,
                        driverMaxValues: Long = DriverKmeansMaxValues): Array[Array[Double]] = {
    import org.apache.spark.sql.types.DecimalType
    // degenerate guards: an unlucky hash-sample (tiny corpora) falls back
    // to the full input; an empty input is an error, never an empty
    // codebook (nearestCell over array() would fail analysis downstream).
    // With fewer than k sample rows the codebook is min(k, |sample|) —
    // k is an upper bound, callers must size probes off codebook.length.
    // The sample's one checkpoint observes its row count and widest
    // vector, which the driver route (see LocalRoute) decides on: the
    // route then costs one collect instead of ~3 jobs per Lloyd round
    // (r14 profile: the 4-round distributed fit cost ~1s of serialized
    // single-task stages per ANN-family query at sf0.1).
    val widest = max(size(col("v")))
    val (hashed, hm) = LocalRoute.checkpoint(kmeansSample(vecs, maxSample), widest)
    val (sample, m) =
      if (hm.getLong(0) == 0L) LocalRoute.checkpoint(vecs.select(col("id"), col("v")), widest)
      else (hashed, hm)
    // on a uniform-width sample the widest vector is every vector's width
    val dim = if (m.isNullAt(1)) 1 else math.max(1, m.getInt(1))
    LocalRoute.rows(sample.select(col("id"), col("v"), xxhash64(col("id"), lit(7))),
        m.getLong(0), math.max(k.toLong, driverMaxValues / dim), "fitKmeansCodebook",
        valuesPerRow = dim).foreach { rows =>
      require(rows.nonEmpty, "fitKmeansCodebook: empty input corpus")
      return driverLloyd(rows.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2))), k, iters)
    }
    var cents: Array[Array[Double]] = sample
      .orderBy(xxhash64(col("id"), lit(7)), col("id")).limit(k)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, "fitKmeansCodebook: empty input corpus")
    for (_ <- 1 to iters) {
      // assignment is a pure projection (see nearestCell) — the only
      // shuffle per Lloyd round is the (cid, pos) mean aggregation
      val assigned = sample.select(nearestCell(col("v"), cents).as("cid"), col("v"))
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((sum(col("x").cast(DecimalType(38, 18))) / count(lit(1)))
          .cast("double").as("m"))
        .collect()
      val byCell = means.groupBy(_.getLong(0).toInt)
      cents = cents.zipWithIndex.map { case (prev, i) =>
        byCell.get(i) match {
          case Some(rows) =>
            val c = prev.clone()
            rows.foreach(r => c(r.getInt(1)) = r.getDouble(2))
            c
          case None => prev // empty cell: keep previous centroid
        }
      }
    }
    cents
  }

  /** Driver-replay gate for the Lloyd fit, in VALUES (rows × dim): 2M
    * doubles collect to ~16 MB raw (~50 MB boxed) and replay 4 rounds in
    * well under a second; a 100 TB corpus' 1M-row sample stays on the
    * distributed path. */
  val DriverKmeansMaxValues: Long = 1L << 21

  /** Local replay of the distributed Lloyd rounds, arithmetic-identical:
    *  - init = first k sample vectors by (xxhash64(id,7), id) — the same
    *    seeded draw;
    *  - assignment = the fused dot/na/nb cosine fold of
    *    [[graft.functions.CosineSimilarity]] with java Double.compare
    *    ordering (NaN greatest, like Spark's struct-max) and ties to the
    *    LOWEST cid;
    *  - means = per-(cid,pos) HALF_UP scale-18 decimal mean: each value
    *    scales via BigDecimal.valueOf(x).setScale(18, HALF_UP) (= Spark's
    *    double→DECIMAL(38,18) cast), sums exactly, divides by the count
    *    with the same half-up integer formula the DuckDB oracle replays
    *    (OracleKit.halfUpDiv), and converts back like java
    *    BigDecimal(ms, 18).doubleValue;
    *  - empty cells keep their previous centroid, partially-present
    *    positions overwrite a CLONE of it (the byCell merge). */
  private def driverLloyd(rows: Array[(Long, Array[Double], Long)],
                          k: Int, iters: Int): Array[Array[Double]] = {
    val sorted = rows.sortBy { case (id, _, hk) => (hk, id) }
    var cents: Array[Array[Double]] = sorted.take(k).map(_._2)
    require(cents.nonEmpty, "fitKmeansCodebook: empty input corpus")
    def scaled18(x: Double): BigInt = BigInt(
      java.math.BigDecimal.valueOf(x)
        .setScale(18, java.math.RoundingMode.HALF_UP).unscaledValue())
    def halfUpDiv(ts: BigInt, n: Long): BigInt = {
      val nn = BigInt(n)
      if (ts >= 0) (ts * 2 + nn) / (nn * 2)
      else -(((-ts) * 2 + nn) / (nn * 2))
    }
    for (_ <- 1 to iters) {
      val dimMax = cents.map(_.length).max max rows.iterator.map(_._2.length).max
      val sums = Array.fill(cents.length)(new Array[BigInt](dimMax))
      val cnts = Array.fill(cents.length)(new Array[Long](dimMax))
      rows.foreach { case (_, v, _) =>
        var best = 0; var bestC = SparkSemantics.cosine(v, cents(0)); var c = 1
        while (c < cents.length) {
          val cc = SparkSemantics.cosine(v, cents(c))
          if (java.lang.Double.compare(cc, bestC) > 0) { best = c; bestC = cc }
          c += 1
        }
        var j = 0
        while (j < v.length) {
          val s = sums(best)(j)
          sums(best)(j) = if (s == null) scaled18(v(j)) else s + scaled18(v(j))
          cnts(best)(j) += 1
          j += 1
        }
      }
      cents = cents.zipWithIndex.map { case (prev, c) =>
        if (!cnts(c).exists(_ > 0)) prev
        else {
          val out = prev.clone()
          var j = 0
          while (j < out.length) {
            if (cnts(c)(j) > 0)
              out(j) = new java.math.BigDecimal(
                halfUpDiv(sums(c)(j), cnts(c)(j)).bigInteger, 18).doubleValue()
            j += 1
          }
          out
        }
      }
    }
    cents
  }

  /** Squared euclidean distance between two double-array columns, as the
    * usual left-fold (index order — deterministic). */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** DRIVER-side deterministic k-means on a bounded hash-sample — the
    * coarse-quantizer fit for the cell-pruned candidate operators.
    * Identical sampling story to [[fitKmeansCodebook]] (adaptive-modulus
    * hash-sample, seeded init order, empty cells keep their centroid),
    * but Lloyd runs in plain Scala on the COLLECTED sample: the model is
    * ≤ maxSample·dim doubles, so per-round Spark jobs buy nothing and
    * cost ~0.5 s each — three jobs total (count, emptiness, collect)
    * instead of ~3 per round. Single-threaded → bit-deterministic. */
  def fitKmeansLocal(vecs: DataFrame, k: Int, iters: Int = 8,
                     maxSample: Long = 2048): Array[Array[Double]] = {
    val hashed = Dedup.boundedHashSample(vecs.select(col("id"), col("v")), "id", maxSample)
    val base = if (hashed.isEmpty) vecs.select(col("id"), col("v")) else hashed
    val sample: Array[Array[Double]] = base
      .orderBy(xxhash64(col("id"), lit(7)), col("id")).limit(maxSample.toInt)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "fitKmeansLocal: empty input corpus")
    val dim = sample.head.length
    var cents = sample.map(_.toVector).distinct.take(k).map(_.toArray)
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Long](cents.length)
      sample.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var s = 0.0; var i = 0
          while (i < dim) { val t = p(i) - cents(c)(i); s += t * t; i += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        cnts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (prev, c) =>
        if (cnts(c) == 0) prev else sums(c).map(_ / cnts(c))
      }
    }
    cents
  }

  /** LOSSLESS cell-bounded candidate pairs for cosine >= tau — the
    * EXACT subquadratic pair source that replaces the all-pairs scan in
    * q_dedup_embed (and any thresholded cosine-pair query) without
    * changing its output by one row. Unlike LSH banding (probabilistic
    * recall), completeness here is a triangle-inequality THEOREM on the
    * unit sphere: normalize vectors (cos(a,b) becomes 2 - ‖â-b̂‖²/2 …
    * monotone in distance), quantize into K cells with per-cell radius
    * r_c = max member-to-centroid distance, and observe that a pair
    * within distance t must live in cells with ‖c_i - c_j‖ ≤ r_i + r_j
    * + t. The admissible cell-pair list is computed driver-side from
    * the K-row model; candidates flow through two hash equi-joins on
    * cell id — no non-equi stage anywhere. Pruning power follows the
    * data's clustering (tight clusters → few admissible cell pairs);
    * completeness never depends on it. A small margin on t absorbs the
    * caller's round-to-6 threshold semantics and normalization
    * round-off. */
  def cellCandidatePairs(emb: DataFrame, idCol: String, vecCol: String,
                         tau: Double, k: Int = 16): DataFrame = {
    val e = withNorms(emb, idCol, vecCol).filter(col("nrm") > 0)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))
    val (assigned, _, admissible, _) = cellModelFor(e, tau, k)
    import emb.sparkSession.implicits._
    val cellPairs = admissible.toDF("cell_a", "cell_b")
    assigned.select(col("id").as("id_a"), col("cell").as("cell_a"))
      .join(broadcast(cellPairs), "cell_a")
      .join(assigned.select(col("id").as("id_b"), col("cell").as("cell_b")), Seq("cell_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** Shared machinery behind the cell-bounded plans: fit the quantizer on
    * a bounded sample, assign (one projection), measure per-cell radius
    * AND size in one model-sized agg, list the admissible ordered cell
    * pairs under the triangle bound, and price the plan — the returned
    * [[CellPruneStats]] is the routing signal. `e` must carry
    * (id, u) with u unit-normalized; extra columns ride along into
    * `assigned` untouched. */
  private def cellModelFor(e: DataFrame, tau: Double, k: Int)
      : (DataFrame, Array[Array[Double]], Seq[(Long, Long)], CellPruneStats) = {
    val codebook = fitKmeansLocal(e.select(col("id"), col("u").as("v")), k)
    val centsLit = typedlit(codebook.map(_.toSeq).toSeq)
    val assigned = e.withColumn("cell", nearestCell(col("u"), codebook))
      .localCheckpoint(true) // model-sized radii agg + both join sides read it
    val dOwn = sqrt(sqDist(col("u"), element_at(centsLit, (col("cell") + 1).cast("int"))))
    val cellRows = assigned.select(col("cell"), dOwn.as("d"))
      .groupBy("cell").agg(max(col("d")).as("r"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0).toInt -> (r.getDouble(1), r.getLong(2))).toMap
    val radii = Array.tabulate(codebook.length)(i => cellRows.get(i).map(_._1).getOrElse(0.0))
    val sizes = Array.tabulate(codebook.length)(i => cellRows.get(i).map(_._2).getOrElse(0L))
    // rounded-threshold + normalization margin: pairs down to cos =
    // tau - 1e-6 stay candidates, so a round(·,6)-to-threshold caller
    // keeps every boundary pair
    val t = math.sqrt(math.max(0.0, 2.0 - 2.0 * (tau - 1e-6)))
    def cdist(i: Int, j: Int): Double = {
      var s = 0.0; var d = 0
      while (d < codebook(i).length) {
        val x = codebook(i)(d) - codebook(j)(d); s += x * x; d += 1
      }
      math.sqrt(s)
    }
    val admIdx = for {
      i <- codebook.indices; j <- codebook.indices
      if cdist(i, j) <= radii(i) + radii(j) + t
    } yield (i, j)
    val n = sizes.sum
    val candVolume = admIdx.iterator.map { case (i, j) =>
      if (i == j) sizes(i) * (sizes(i) - 1) / 2
      else if (i < j) sizes(i) * sizes(j)
      else 0L
    }.sum
    val stats = CellPruneStats(
      nVectors = n, cells = codebook.length,
      admissibleCellPairs = admIdx.count { case (i, j) => i <= j },
      totalCellPairs = codebook.length.toLong * (codebook.length + 1) / 2,
      candidateVolume = candVolume,
      allPairsVolume = n * (n - 1) / 2)
    (assigned, codebook, admIdx.map { case (i, j) => (i.toLong, j.toLong) }, stats)
  }

  // ---- DRIVER-SIDE route pricing (r10): the routing decision must cost
  // less than either plan it prices. The first routed form measured the
  // cell model with corpus passes (assignment + radii agg + checkpoints)
  // and paid ~2s of jobs before the all-pairs scan it then shipped
  // anyway. Here the WHOLE estimate — spherical Lloyd, assignment,
  // radii, triangle-bound admissibility, kth-neighbor bounds — runs on a
  // collected ≤256-row hash-sample in driver arrays: two tiny jobs
  // (count + sample collect), zero corpus passes. Sampling errs in the
  // safe direction on the case that hurt: isotropic high-dim corpora
  // concentrate pairwise distances, so sampled radii/kth sit close to
  // (or conservatively under) truth and the degenerate verdict is
  // robust; mis-routing can only cost time, never correctness — both
  // plans are exact.

  /** (sample of unit vectors, corpus row count) in one counting pass —
    * the count both sizes the hash-sample modulus and feeds
    * cellCountFor, so callers never pay it twice. */
  private def collectUnitSample(e: DataFrame, cap: Long): (Array[Array[Double]], Long, Long) = {
    val b = e.agg(count(lit(1)), max(size(col("v")))).head()
    val n = b.getLong(0)
    val dimMax = if (b.isNullAt(1)) 0L else b.getInt(1).toLong
    val m = math.max(1L, n / math.max(1L, cap))
    val hashed =
      if (m <= 1L) e else e.filter(pmod(xxhash64(col("id")), lit(m)) === 0)
    val us = hashed
      .orderBy(xxhash64(col("id"), lit(7)), col("id")).limit(cap.toInt)
      .select("u").collect().map(_.getSeq[Double](0).toArray)
    (us, n, dimMax)
  }

  /** Plain Lloyd on driver arrays (euclidean argmin, ties to lowest cid,
    * first-k-distinct init — the [[fitKmeansLocal]] recipe without the
    * DataFrame): routing-model only. */
  private def lloydArr(pts: Array[Array[Double]], k: Int,
                       iters: Int = 8): Array[Array[Double]] = {
    val dim = pts.head.length
    var cents = pts.map(_.toVector).distinct.take(k).map(_.toArray)
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Long](cents.length)
      pts.foreach { p =>
        val best = argminEuclid(p, cents)
        cnts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (prev, c) =>
        if (cnts(c) == 0) prev else sums(c).map(_ / cnts(c))
      }
    }
    cents
  }

  private def argminEuclid(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var s = 0.0; var i = 0
      while (i < p.length) { val t = p(i) - cents(c)(i); s += t * t; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Sampled [[CellPruneStats]] for the tau-threshold pair plan: the same
    * triangle-bound admissibility math as [[cellModelFor]], on the
    * sample's cells/radii, with candidate volume read off sample cell
    * sizes (the FRACTION is what routes; it is scale-free). */
  private[graft] def routePairsSample(us: Array[Array[Double]], n: Long,
                                      tau: Double): CellPruneStats = {
    if (us.isEmpty) return CellPruneStats(n, 0, 0, 0, 0, 0) // empty: fused (trivial)
    val k = math.min(cellCountFor(n), math.max(8, us.length / 8))
    val cents = lloydArr(us, k)
    val assign = us.map(argminEuclid(_, cents))
    val radii = new Array[Double](cents.length)
    val sizes = new Array[Long](cents.length)
    us.zip(assign).foreach { case (u, c) =>
      var s = 0.0; var i = 0
      while (i < u.length) { val t = u(i) - cents(c)(i); s += t * t; i += 1 }
      val d = math.sqrt(s)
      if (d > radii(c)) radii(c) = d
      sizes(c) += 1
    }
    val t = math.sqrt(math.max(0.0, 2.0 - 2.0 * (tau - 1e-6)))
    def cdist(i: Int, j: Int): Double = {
      var s = 0.0; var d = 0
      while (d < cents(i).length) { val x = cents(i)(d) - cents(j)(d); s += x * x; d += 1 }
      math.sqrt(s)
    }
    var adm = 0L; var cand = 0L
    for (i <- cents.indices; j <- i until cents.length)
      if (cdist(i, j) <= radii(i) + radii(j) + t) {
        adm += 1
        cand += (if (i == j) sizes(i) * (sizes(i) - 1) / 2 else sizes(i) * sizes(j))
      }
    val m = us.length.toLong
    CellPruneStats(n, cents.length, adm,
      cents.length.toLong * (cents.length + 1) / 2, cand, m * (m - 1) / 2)
  }

  /** Sampled [[KnnPruneStats]]: per sample node, the kNbrs-th best
    * in-sample cosine gives the pass-1 bound; admissible cells counted
    * against the sampled cell model. In-sample kth UNDERestimates the
    * true bound (fewer candidates), which OVERestimates admissibility —
    * the safe direction: borderline corpora route to the fused scan. */
  private[graft] def routeKnnSample(us: Array[Array[Double]], n: Long,
                                    kNbrs: Int): KnnPruneStats = {
    if (us.isEmpty) return KnnPruneStats(n, 0, 0, 0) // empty: fused (trivial)
    val k = math.min(cellCountFor(n), math.max(8, us.length / 8))
    val cents = lloydArr(us, k)
    val radii = new Array[Double](cents.length)
    val assign = us.map(argminEuclid(_, cents))
    us.zip(assign).foreach { case (u, c) =>
      var s = 0.0; var i = 0
      while (i < u.length) { val t = u(i) - cents(c)(i); s += t * t; i += 1 }
      radii(c) = math.max(radii(c), math.sqrt(s))
    }
    var admissible = 0L
    us.indices.foreach { a =>
      val cos = us.indices.collect { case b if b != a =>
        var s = 0.0; var i = 0
        while (i < us(a).length) { s += us(a)(i) * us(b)(i); i += 1 }
        s
      }.sorted(Ordering[Double].reverse)
      val kth = if (cos.length >= kNbrs) cos(kNbrs - 1) else -1.01
      val dbound = math.sqrt(math.max(0.0, 2.0 - 2.0 * (kth - 1e-6)))
      cents.indices.foreach { c =>
        var s = 0.0; var i = 0
        while (i < us(a).length) { val t = us(a)(i) - cents(c)(i); s += t * t; i += 1 }
        if (math.sqrt(s) - radii(c) <= dbound) admissible += 1
      }
    }
    KnnPruneStats(n, cents.length, admissible, us.length.toLong)
  }

  /** MEASURED-ROUTED exact cosine near-dup pairs (the q_dedup_embed plan):
    * output is always the exact thresholded pair set
    * (id_a < id_b, cos = round(dot/(nrm·nrm), 6) ≥ tau, zero-norm rows
    * excluded); the PLAN is chosen by the measured [[CellPruneStats]]:
    *
    *  - pruning real (clustered corpus): the lossless cell-bounded
    *    candidate equi-joins, carrying (v, nrm) through the join so the
    *    verify is a projection — no rejoin, no all-pairs stage, candidate
    *    volume = the measured `candidateVolume` (reported from the FULL
    *    corpus model the shipped plan builds anyway);
    *  - degenerate (isotropic high-dim corpus — the bench embeddings: the
    *    triangle bound admits every cell pair, measured fraction 1.0):
    *    the fused broadcast-range scan, which does the SAME n²/2 dot
    *    products without shuffling a reproduced cross product — and with
    *    the r10 driver-side router, without ever assigning the corpus to
    *    cells it will not use.
    *
    * K scales as √n via [[cellCountFor]] (assignment is HOF-form past 16,
    * so no codegen ceiling). */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         tau: Double, kOpt: Option[Int] = None,
                         maxFusedRows: Long = MaxFusedRows,
                         driverMaxOps: Long = DriverPairScanMaxOps)
      : (DataFrame, CellPruneStats) = {
    import VectorFunctions.dotProduct
    val e = withNorms(emb, idCol, vecCol).filter(col("nrm") > 0)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))
    val cosCol = round(dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6)
    val (us, n, dimMax) = collectUnitSample(e, 256)
    val routeStats = routePairsSample(us, n, tau)
    val (scored, stats) =
      if (routeStats.degenerate) {
        requireFusedScanAllowed(n, maxFusedRows, "cosineNearDupPairs")
        // driver route (see LocalRoute), gated on the scan's work:
        // the replay skips the checkpoint + self-join + filter jobs.
        // Ordered AFTER the fused-scan guard: the ceiling's loud-fail
        // contract prices the quadratic arm wherever it runs.
        if (LocalRoute.admit("cosineNearDupPairs", "ops", pairScanOps(n, dimMax), driverMaxOps,
            eligible = n > 0 && e.schema("id").dataType == LongType)) {
          val out = driverPairScan(e.select(col("id"), col("v"), col("nrm")).collect(), tau)
          return (LocalRoute.relation(emb.sparkSession, out, PairSchema), routeStats)
        }
        // checkpoint: both self-join sides read the scan+norm projection
        // from memory instead of recomputing it (bounded by the guard
        // above: ≤ maxFusedRows rows ever reach executor storage here)
        val base = e.select(col("id"), col("v"), col("nrm")).localCheckpoint(true)
        (base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
          .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")),
            col("id_a") < col("id_b"))
          .withColumn("cos", cosCol), routeStats)
      } else {
        val k = kOpt.getOrElse(cellCountFor(n))
        val (assigned, _, admissible, fullStats) = cellModelFor(e, tau, k)
        import emb.sparkSession.implicits._
        val cellPairs = admissible.toDF("cell_a", "cell_b")
        (assigned.select(col("id").as("id_a"), col("v").as("va"),
            col("nrm").as("na"), col("cell").as("cell_a"))
          .join(broadcast(cellPairs), "cell_a")
          .join(assigned.select(col("id").as("id_b"), col("v").as("vb"),
            col("nrm").as("nb"), col("cell").as("cell_b")), Seq("cell_b"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos", cosCol), fullStats)
      }
    (scored.filter(col("cos") >= tau).select("id_a", "id_b", "cos"), stats)
  }

  /** EXACT corpus kNN edges through the cell quantizer — the two-pass
    * pruned form that replaces q_knn_graph's all-pairs scan with hash
    * equi-joins while provably returning the identical top-k:
    *
    *  1. score each node against its OWN cell (equi-join on cell id) —
    *     the k-th best same-cell cosine is a valid LOWER bound on the
    *     node's true k-th neighbor cosine;
    *  2. a cell c can hold a better neighbor only if ‖û - cent_c‖ - r_c
    *     ≤ the distance bound that lower cosine implies (triangle
    *     inequality again) — each node's admissible-cell list is a
    *     projection over the literal (centroid, radius) model, exploded
    *     to (node, cell) rows and equi-joined back to the corpus; the
    *     final per-node top-k ranks exact cosines over that provably
    *     complete candidate set.
    *
    * Nodes with fewer than k same-cell neighbors take an unbounded
    * radius (their candidates degrade toward a full sweep — rare, and
    * correct). Margins absorb round-to-6 ranking and normalization
    * round-off. Output: (node, nbr, cos, rnk) with rnk ≤ kNbrs under
    * (cos desc, nbr asc) — bit-equal to the all-pairs window. */
  def exactKnnEdges(emb: DataFrame, idCol: String, vecCol: String,
                    kNbrs: Int, nCells: Int = 16): DataFrame =
    exactKnnEdgesMeasured(emb, idCol, vecCol, kNbrs, Some(nCells), route = false)._1

  /** Measured pruning power of [[exactKnnEdges]]'s pass 2: how many
    * (node, cell) probes the pass-1 bound actually admits, out of n·K.
    * On clustered corpora each node's bound confines it to its own
    * cluster's cell(s) — fraction ≈ 1/K; on isotropic high-dim corpora
    * the k-th same-cell cosine is weak, every cell stays admissible, and
    * pass 2 would reproduce the cross product through a shuffle. */
  final case class KnnPruneStats(nVectors: Long, cells: Int,
                                 admissibleNodeCells: Long,
                                 measuredNodes: Long) {
    /** Probes the measurement covered: `measuredNodes`·K — the full
      * corpus when the cell plan ships (its pass 1 computes every bound
      * anyway), a ≤256-node hash sample when only ROUTING is at stake
      * (r10: paying the full Θ(n²/K) pass 1 just to decide to THROW IT
      * AWAY on an isotropic corpus was the r10-bench q_knn_graph
      * regression — the sample prices the decision at ~256·n/K dots). */
    def totalNodeCells: Long = measuredNodes * cells
    def admissibleFraction: Double =
      if (totalNodeCells == 0) 1.0 else admissibleNodeCells.toDouble / totalNodeCells
    def degenerate: Boolean = admissibleFraction >= 0.5
  }

  /** MEASURED-ROUTED exact corpus kNN (the q_knn_graph edge source):
    * always the bit-identical top-k; the PLAN routes on the measured
    * [[KnnPruneStats]] — the two-pass cell-pruned equi-join form when the
    * pass-1 bounds actually prune, the fused all-pairs broadcast-range
    * window when they don't (isotropic bench corpus: measured admissible
    * fraction 1.0 — shuffling the reproduced cross product through cell
    * joins is strictly worse than scanning it). K scales as √n via
    * [[cellCountFor]]; pass 1 (same-cell scoring, the measurement's
    * input) costs Θ(n²/K) = Θ(n^1.5) either way — the expensive stage,
    * pass 2, is what the measurement gates. */
  def exactKnnEdgesRouted(emb: DataFrame, idCol: String, vecCol: String,
                          kNbrs: Int, kOpt: Option[Int] = None,
                          maxFusedRows: Long = MaxFusedRows,
                          driverMaxOps: Long = DriverPairScanMaxOps)
      : (DataFrame, KnnPruneStats) =
    exactKnnEdgesMeasured(emb, idCol, vecCol, kNbrs, kOpt, route = true, maxFusedRows,
      driverMaxOps)

  private def exactKnnEdgesMeasured(emb: DataFrame, idCol: String, vecCol: String,
                                    kNbrs: Int, kOpt: Option[Int], route: Boolean,
                                    maxFusedRows: Long = MaxFusedRows,
                                    driverMaxOps: Long = DriverPairScanMaxOps)
      : (DataFrame, KnnPruneStats) = {
    val e = withNorms(emb, idCol, vecCol).filter(col("nrm") > 0)
      .select(col("id"), col("v"), col("nrm"),
        transform(col("v"), x => x / col("nrm")).as("u"))
    var nKnown = -1L // filled by whichever path counts first
    def cosExact(va: Column, na: Column, vb: Column, nb: Column): Column =
      round(VectorFunctions.dotProduct(va, vb) / (na * nb), 6)
    val w = Window.partitionBy("node").orderBy(col("cos").desc, col("nbr"))
    // the ROUTING decision must cost less than either plan it prices:
    // it runs ENTIRELY driver-side on a ≤256-row sample (see
    // routeKnnSample) — the first routed form measured with corpus
    // passes and the r10 bench caught it paying the Θ(n²/K) pass 1 and
    // then ALSO running the all-pairs scan it routed to (q_knn_graph
    // 4.9s vs the plain scan's ~2s).
    if (route) {
      val (us, n, dimMax) = collectUnitSample(e, 256)
      nKnown = n
      val routeStats = routeKnnSample(us, n, kNbrs)
      if (routeStats.degenerate) {
        requireFusedScanAllowed(n, maxFusedRows, "exactKnnEdgesRouted")
        // driver route (after the guard — see cosineNearDupPairs): the
        // all-pairs top-k replays with O(n·k) memory (per-node heaps)
        if (LocalRoute.admit("exactKnnEdgesRouted", "ops", pairScanOps(n, dimMax), driverMaxOps,
            eligible = n > 0 && e.schema("id").dataType == LongType)) {
          val out = driverKnnScan(e.select(col("id"), col("v"), col("nrm")).collect(), kNbrs)
          return (LocalRoute.relation(emb.sparkSession, out, KnnSchema), routeStats)
        }
        // fused all-pairs window baseline: same output, no reproduced
        // cross product through a shuffle, no quantizer fit, no corpus
        // assignment — one scan (checkpointed: both self-join sides
        // read it from memory; bounded by the guard above) plus the
        // per-node ranking window
        val base = e.select(col("id"), col("v"), col("nrm")).localCheckpoint(true)
        val p = base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
          .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")),
            col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            cosExact(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
        // mirror each scored pair via ONE Generate instead of a self-union
        // (a union would run the n²/2-dot-product scan twice)
        val sym = p.select(explode(array(
            struct(col("id_a").as("node"), col("id_b").as("nbr"), col("cos")),
            struct(col("id_b").as("node"), col("id_a").as("nbr"), col("cos")))).as("e"))
          .select(col("e.node").as("node"), col("e.nbr").as("nbr"), col("e.cos").as("cos"))
        val fused = sym.withColumn("rnk", graft.functions.Exact.lng(row_number().over(w)))
          .filter(col("rnk") <= kNbrs)
        return (fused, routeStats)
      }
    }
    // K = √n by default (HOF assignment past 16 — no codegen ceiling); a
    // cell with < kNbrs members just widens its nodes' pass-2 bound —
    // correctness never depends on cell sizing. Driver-side fit. The
    // count only runs when nothing above already paid it (route=false
    // with kOpt empty — r9's exact cost shape).
    val nCells = kOpt.getOrElse(cellCountFor(
      if (nKnown >= 0) nKnown else { nKnown = e.count(); nKnown }))
    val codebook = fitKmeansLocal(e.select(col("id"), col("u").as("v")), nCells)
    val centsLit = typedlit(codebook.map(_.toSeq).toSeq)
    val assigned = e.select(col("id"), col("v"), col("nrm"), col("u"),
        nearestCell(col("u"), codebook).as("cell"))
      .localCheckpoint(true) // radii agg + pass-1 sides + pass-2 corpus side
    val dOwn = sqrt(sqDist(col("u"), element_at(centsLit, (col("cell") + 1).cast("int"))))
    val cellRows = assigned.select(col("cell"), dOwn.as("d"))
      .groupBy("cell").agg(max(col("d")).as("r"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0).toInt -> (r.getDouble(1), r.getLong(2))).toMap
    val cellModel = typedlit(codebook.indices.map(i =>
      (i.toLong, codebook(i).toSeq, cellRows.get(i).map(_._1).getOrElse(0.0))))
    // pass 1: same-cell k-th best cosine per node (missing row = fewer
    // than k same-cell neighbors)
    val kth = assigned
      .select(col("cell"), col("id").as("node"), col("v").as("va"), col("nrm").as("na"))
      .join(assigned.select(col("cell"), col("id").as("nbr"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cell"))
      .filter(col("node") =!= col("nbr"))
      .select(col("node"), col("nbr"),
        cosExact(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === kNbrs)
      .select(col("node"), col("cos").as("kth"))
    // pass 2 bounds: localCheckpoint'ed (corpus-sized, like `assigned`):
    // the full-measurement count and the shipped plan both read it —
    // pass 1 (the Θ(n²/K) stage) never runs twice
    val bounds = assigned
      .join(kth, col("id") === col("node"), "left")
      .select(col("id"), col("v"), col("nrm"), col("u"),
        coalesce(col("kth"), lit(-1.01)).as("kth"))
      .withColumn("dbound",
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * (col("kth") - lit(1e-6)))))
      .localCheckpoint(true)
    val n = cellRows.valuesIterator.map(_._2).sum // free off the radii agg
    // the reported stats when the ROUTED cell plan ships are the FULL
    // corpus measurement (the plan pays for the bounds anyway — report
    // truth); the unrouted exactKnnEdges caller asked for the cell plan
    // unconditionally and discards stats, so it never pays the O(n·K)
    // measurement job (measuredNodes = 0 marks them unmeasured)
    val stats =
      if (route) {
        val admCount = bounds
          .select(size(filter(cellModel, s =>
            sqrt(sqDist(col("u"), s.getField("_2"))) - s.getField("_3") <= col("dbound")))
            .cast("long").as("na"))
          .agg(sum(col("na"))).collect()(0).getLong(0)
        KnnPruneStats(n, codebook.length, admCount, n)
      } else KnnPruneStats(n, codebook.length, 0L, 0L)
    val result = {
        val adm = bounds.select(col("id").as("node"), col("v").as("va"),
            col("nrm").as("na"), col("kth"),
            explode(filter(cellModel, s =>
              sqrt(sqDist(col("u"), s.getField("_2"))) - s.getField("_3") <= col("dbound")))
              .as("s"))
          .select(col("node"), col("va"), col("na"), col("kth"), col("s._1").as("cell"))
        // pre-filter on the pass-1 bound BEFORE the ranking window: a pair
        // whose rounded cosine is below the node's same-cell k-th can never
        // rank <= k (there are already k candidates at or above it under the
        // same (cos desc, nbr) order), so the window sorts ~k rows per node
        // instead of every scored candidate
        val cand = adm
          .join(assigned.select(col("cell"), col("id").as("nbr"),
            col("v").as("vb"), col("nrm").as("nb")), Seq("cell"))
          .filter(col("node") =!= col("nbr"))
          .select(col("node"), col("nbr"), col("kth"),
            cosExact(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
          .filter(col("cos") >= col("kth"))
          .select("node", "nbr", "cos")
        cand.withColumn("rnk", graft.functions.Exact.lng(row_number().over(w)))
          .filter(col("rnk") <= kNbrs)
      }
    (result, stats)
  }

  /** IVF-style ANN (the other 100 TB path, complementing LSH): a coarse
    * quantizer (K centroids) partitions the corpus into cells; each vector
    * is assigned to its nearest centroid once (one broadcast pass over the
    * corpus — K ≪ n); probes search only their nProbe nearest cells via a
    * hash join on cell id. The quantizer is a real (deterministic,
    * fixed-seed, fixed-iteration) k-means fit on a hash-sample — see
    * [[fitKmeansCodebook]] — so cells track the data distribution instead
    * of whatever the first K corpus vectors happened to be (skewed data
    * would otherwise pile into one giant cell: bad recall AND a skewed
    * shuffle).
    *
    * Fully oracled (r10 — previously rows-only): [[OracleKit.kmeansCtes]]
    * replays the K=16 quantizer fit bit-identically in DuckDB, then the
    * probe-cell top-nProbe, the cell-joined candidates and the final
    * rank-≤5 are plain SQL over the replayed codebook. */
  private def annIvfOracleSql(k: Int = 16, iters: Int = 4, nProbe: Int = 6): String = {
    val vecs = "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
    val (ctes, cb) = OracleKit.kmeansCtes(vecs, k, iters)
    (ctes ++ Seq(
      s"asg AS MATERIALIZED (SELECT id, v, cell FROM (SELECT s.id, s.v, c.cid AS cell," +
        s" ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY ${OracleKit.cosSql("s.v", "c.cent")} DESC, c.cid) AS rn" +
        s" FROM km_vecs s CROSS JOIN $cb c) WHERE rn = 1)",
      s"pcells AS MATERIALIZED (SELECT query_id, qv, cell FROM (SELECT q.id AS query_id, q.v AS qv, c.cid AS cell," +
        s" ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY ${OracleKit.cosSql("q.v", "c.cent")} DESC, c.cid) AS prnk" +
        s" FROM km_vecs q CROSS JOIN $cb c WHERE q.id < 10) WHERE prnk <= $nProbe)",
      s"cands AS MATERIALIZED (SELECT p.query_id, a.id AS neighbor_id," +
        s" round(${OracleKit.cosSql("p.qv", "a.v")}, 6) AS cos" +
        s" FROM asg a JOIN pcells p ON p.cell = a.cell AND p.query_id <> a.id)"))
      .mkString("WITH ", ", ", " ") +
      "SELECT query_id, neighbor_id, cos, rnk FROM (SELECT *," +
      " RANK() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rnk FROM cands)" +
      " WHERE rnk <= 5 ORDER BY query_id, rnk, neighbor_id"
  }

  val qAnnIvf: Q = Q("q_ann_ivf", annIvfOracleSql()) { (s, d) =>
    val k = 16; val nProbe = 6
    val corpus = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val codebook = fitKmeansCodebook(
      corpus.select(col("vec_id").as("id"), col("v")), k)
    import s.implicits._
    val cents = codebook.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq.toDF("cid", "cv")
    // corpus assignment is a pure projection — one map-side argmax over
    // the inlined codebook, no row blowup, no window shuffle
    val assigned = corpus
      .select(col("vec_id"), col("v"), nearestCell(col("v"), codebook).as("cell"))
    // probes visit their nProbe nearest cells
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cid"))
    val probeCells = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", VectorFunctions.cosineSim(col("qv"), col("cv")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    val cands = assigned
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorFunctions.cosineSim(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cands.withColumn("rnk", lng(rank().over(w)))
      .filter(col("rnk") <= 5)
      .orderBy("query_id", "rnk", "neighbor_id")
  }

  /** Hard-negative mining for contrastive training: for each probe, the
    * single most similar corpus vector with a DIFFERENT label (the
    * highest-cosine wrong-label neighbor is the informative negative).
    * Baseline form: broadcast probes against the corpus with a
    * window-rank pick (same plan family as q_ann_topk — the exact
    * small-probe oracle); the 100 TB path swaps candidate generation for
    * the LSH/IVF cell joins above unchanged, since the label filter is a
    * post-candidate predicate either way. Ties to the lowest neighbor
    * id — deterministic. */
  val qHardNegatives: Q = Q(
    "q_hard_negatives",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |  n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |  scored AS (
      |    SELECT q.vec_id AS query_id, q.label AS query_label,
      |      c.vec_id AS neighbor_id, c.label AS neighbor_label,
      |      round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
      |    FROM n q JOIN n c ON q.vec_id <> c.vec_id AND q.label <> c.label
      |    WHERE q.vec_id < 20)
      |SELECT query_id, query_label, neighbor_id, neighbor_label, cos FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
      |WHERE rn = 1 ORDER BY query_id""".stripMargin) { (s, d) =>
    val corpus = T.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val probes = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("qv"))
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
        col("v").as("cv"))
      .join(broadcast(probes),
        col("query_id") =!= col("neighbor_id") &&
          col("query_label") =!= col("neighbor_label"))
      .withColumn("cos",
        round(VectorFunctions.cosineSim(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label", "cos")
      .orderBy("query_id")
  }

  /** Deterministic product-quantization codebooks: m sub-codebooks of k
    * centroids each, fit driver-side on a bounded hash-sample (≤4096
    * vectors in fixed (xxhash64(id,13), id) order, so the model — and
    * every downstream code — is bit-stable). Lloyd with EUCLIDEAN
    * assignment per subspace (the PQ reconstruction metric; Jégou et al.
    * 2011, "Product Quantization for Nearest Neighbor Search"). The model
    * is m·k·(dim/m) doubles — model-fit-sized, independent of corpus
    * scale; at 100 TB only the sample pass touches the cluster. */
  def fitPqCodebooks(vecs: DataFrame, m: Int, k: Int,
                     iters: Int = 8): Array[Array[Array[Double]]] = {
    val hashed = vecs.filter(pmod(xxhash64(col("id")), lit(4)) === 0)
    val base = if (hashed.isEmpty) vecs else hashed
    val sample: Array[Array[Double]] = base
      .orderBy(xxhash64(col("id"), lit(13)), col("id")).limit(4096)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "fitPqCodebooks: empty input corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"fitPqCodebooks: dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      // content-distinct init (Array equality is by reference)
      var cents = pts.map(_.toVector).distinct.take(k).map(_.toArray)
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val cnts = new Array[Long](cents.length)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var dist = 0.0; var i = 0
            while (i < sub) { val t = p(i) - cents(c)(i); dist += t * t; i += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          cnts(best) += 1
          var i = 0
          while (i < sub) { sums(best)(i) += p(i); i += 1 }
        }
        cents = cents.zipWithIndex.map { case (prev, c) =>
          if (cnts(c) == 0) prev // empty cell keeps its previous centroid
          else sums(c).map(_ / cnts(c))
        }
      }
      cents
    }
  }

  /** PQ-compressed ANN (the memory-bounded 100 TB path): each corpus
    * vector is encoded ONCE into m=16 codes over k=16 centroids — 16
    * small ints replace 64 doubles, a ~16-64× index compression — and
    * the first-stage probe scoring is table lookups, never a
    * probe-vector dot product: per probe, the m×k dot/norm² tables
    * against the sub-codebooks ride as codegen reference objects
    * ([[graft.functions.PqEncode]]/[[graft.functions.PqAdc]] — the
    * declarative unrolled form blew Janino's 64 KB method limit and fell
    * back to interpreted eval), and the asymmetric-distance cosine is
    * Σⱼ dotT[j][codeⱼ] / (‖q‖·√Σⱼ nrm2T[j][codeⱼ]).
    *
    * Second stage is the standard exact RE-RANK (Jégou et al. 2011 §V):
    * the ADC shortlist (top-50/probe — probe-count-sized, tiny) joins
    * back to the corpus by id for true-cosine scoring of ≤50·|probes|
    * rows, and the final top-10 ranks on exact cosine. At scale the
    * full-width vector column is touched only by that candidate-keyed
    * hash join — the corpus-wide pass reads codes alone. Encode = one
    * projection; ADC = one projection + explode; both rank stages are
    * TopK heap-pruned windows.
    *
    * Fully oracled (r10 — previously rows-only): the DRIVER-side PQ fit
    * replays in DuckDB via [[annPqOracleSql]] — the mod-4 hash-sample and
    * (xxhash64(id,13), id) sample order via [[OracleKit.xxhash64Sql]], the
    * per-subspace Lloyd rounds with the sample-order double sums as
    * `list_reduce` left folds (plain SQL SUM has no order guarantee), the
    * unrolled sub-dim dot/distance arithmetic in the same left-assoc shape
    * as [[graft.functions.PqEncode]]'s loops, and the j-ordered ADC fold. */
  private def annPqOracleSql(dim: Int = 64, m: Int = 16, kCents: Int = 16,
                             iters: Int = 8, shortlist: Int = 50): String = {
    val sub = dim / m
    // unrolled left-assoc folds over one subspace (1-based list indexing)
    def dist(p: String, c: String): String =
      (1 to sub).map(i => s"($p[$i] - $c[$i]) * ($p[$i] - $c[$i])").mkString(" + ")
    def dotSub(c: String, q: String, jOff: String): String =
      (1 to sub).map(i => s"$c[$i] * $q[$jOff + $i]").mkString(" + ")
    def nrm2(c: String): String =
      (1 to sub).map(i => s"$c[$i] * $c[$i]").mkString(" + ")
    val fold = OracleKit.foldSumSql _
    var ctes = Seq(
      "pq_vecs AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      s"pq_filt AS MATERIALIZED (SELECT id, v FROM (${OracleKit.xxhash64Sql("SELECT id, v FROM pq_vecs", "id", "id, v", None)})" +
        " WHERE ((hk % 4) + 4) % 4 = 0)",
      s"pq_smp AS MATERIALIZED (SELECT id, v, r FROM (SELECT id, v, ROW_NUMBER() OVER (ORDER BY hk, id) AS r" +
        s" FROM (${OracleKit.xxhash64Sql("SELECT id, v FROM pq_filt", "id", "id, v", Some(13))})) WHERE r <= 4096)",
      s"pq_pts AS MATERIALIZED (SELECT r, j, v[(j * $sub + 1):(j * $sub + $sub)] AS p FROM pq_smp" +
        s" CROSS JOIN (SELECT unnest(range(0, $m)) AS j))",
      // init: first-occurrence-ordered distinct sub-vectors, take kCents
      s"pq_c0 AS MATERIALIZED (SELECT j, (ROW_NUMBER() OVER (PARTITION BY j ORDER BY fr) - 1)::BIGINT AS cid, p AS cent" +
        s" FROM (SELECT j, p, MIN(r) AS fr FROM pq_pts GROUP BY j, p)" +
        s" QUALIFY ROW_NUMBER() OVER (PARTITION BY j ORDER BY fr) <= $kCents)")
    var prev = "pq_c0"
    for (t <- 1 to iters) {
      ctes ++= Seq(
        s"pq_a$t AS MATERIALIZED (SELECT r, j, p, cid FROM (SELECT t.r, t.j, t.p, c.cid," +
          s" ROW_NUMBER() OVER (PARTITION BY t.j, t.r ORDER BY ${dist("t.p", "c.cent")} ASC, c.cid) AS rn" +
          s" FROM pq_pts t JOIN $prev c ON c.j = t.j) WHERE rn = 1)",
        s"pq_s$t AS MATERIALIZED (SELECT j, cid, pos, ${fold("list(x ORDER BY r)")} AS sx, COUNT(*) AS cnt" +
          s" FROM (SELECT r, j, cid, generate_subscripts(p, 1) AS pos, unnest(p) AS x FROM pq_a$t)" +
          s" GROUP BY j, cid, pos)",
        s"pq_c$t AS MATERIALIZED (SELECT c.j, c.cid, COALESCE(mm.cent, c.cent) AS cent FROM $prev c" +
          s" LEFT JOIN (SELECT j, cid, list(sx / cnt ORDER BY pos) AS cent FROM pq_s$t GROUP BY j, cid) mm" +
          s" ON mm.j = c.j AND mm.cid = c.cid)")
      prev = s"pq_c$t"
    }
    ctes ++= Seq(
      s"pq_hn AS MATERIALIZED (SELECT j, cid, cent, (${nrm2("cent")}) / 2 AS hn2 FROM $prev)",
      // encode: argmax (dot - halfNrm2), strict > keeps the lowest cid
      s"pq_codes AS MATERIALIZED (SELECT id, j, cid FROM (SELECT s.id, c.j, c.cid," +
        s" ROW_NUMBER() OVER (PARTITION BY s.id, c.j ORDER BY (${dotSub("c.cent", "s.v", s"c.j * $sub")}) - c.hn2 DESC, c.cid) AS rn" +
        s" FROM pq_vecs s CROSS JOIN pq_hn c) WHERE rn = 1)",
      s"pq_pr AS MATERIALIZED (SELECT id AS qid, v AS qv, sqrt(${fold("list_transform(v, x -> x * x)")}) AS qn" +
        s" FROM pq_vecs WHERE id < 10)",
      s"pq_dt AS MATERIALIZED (SELECT p.qid, c.j, c.cid, (${dotSub("c.cent", "p.qv", s"c.j * $sub")}) AS dt," +
        s" (${nrm2("c.cent")}) AS n2 FROM pq_pr p CROSS JOIN $prev c)",
      s"pq_adc AS MATERIALIZED (SELECT z.qid AS query_id, z.id AS neighbor_id," +
        s" round(z.num / (p.qn * sqrt(z.den)), 6) AS adc FROM" +
        s" (SELECT k.id, d.qid, ${fold("list(d.dt ORDER BY d.j)")} AS num," +
        s" ${fold("list(d.n2 ORDER BY d.j)")} AS den" +
        s" FROM pq_codes k JOIN pq_dt d ON d.j = k.j AND d.cid = k.cid GROUP BY k.id, d.qid) z" +
        s" JOIN pq_pr p ON p.qid = z.qid WHERE z.qid <> z.id)",
      s"pq_sl AS MATERIALIZED (SELECT query_id, neighbor_id FROM (SELECT *," +
        s" ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS arnk FROM pq_adc)" +
        s" WHERE arnk <= $shortlist)")
    ctes.mkString("WITH ", ", ", " ") +
      "SELECT query_id, neighbor_id, cos, rnk FROM (SELECT query_id, neighbor_id, cos," +
      " ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rnk FROM" +
      s" (SELECT s.query_id, s.neighbor_id, round(${OracleKit.cosSql("p.qv", "c.v")}, 6) AS cos" +
      " FROM pq_sl s JOIN pq_vecs c ON c.id = s.neighbor_id JOIN pq_pr p ON p.qid = s.query_id))" +
      " WHERE rnk <= 10 ORDER BY query_id, rnk, neighbor_id"
  }

  val qAnnPq: Q = Q("q_ann_pq", annPqOracleSql()) { (s, d) =>
    val m = 16; val kCents = 16; val shortlist = 50
    val corpus = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val books = fitPqCodebooks(corpus.select(col("vec_id").as("id"), col("v")), m, kCents)
    val dim = books.map(_.head.length).sum
    val sub = dim / m
    val encoded = corpus.select(col("vec_id"),
      graft.functions.PqFunctions.pqEncode(col("v"), books).as("codes"))
    val probes = corpus.filter(col("vec_id") < 10)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def adcFor(q: Array[Double]): Column = {
      val qn = math.sqrt(q.map(x => x * x).sum)
      val dotT = Array.tabulate(m) { j =>
        books(j).map(c => c.zip(q.slice(j * sub, (j + 1) * sub)).map { case (a, b) => a * b }.sum)
      }
      val nrm2T = Array.tabulate(m)(j => books(j).map(c => c.map(x => x * x).sum))
      round(graft.functions.PqFunctions.pqAdc(col("codes"), dotT, nrm2T, qn), 6)
    }
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    val cands = encoded.select(col("vec_id").as("neighbor_id"),
      explode(array(probes.map { case (qid, qv) =>
        struct(lit(qid).as("query_id"), adcFor(qv).as("adc"))
      }: _*)).as("x"))
      .select(col("x.query_id").as("query_id"), col("neighbor_id"), col("x.adc").as("adc"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= shortlist)
      .select("query_id", "neighbor_id")
    // exact re-rank of the tiny shortlist: candidate-keyed hash join back
    // to the full vectors, true cosine, final top-10
    val qvs = typedlit(probes.map { case (qid, qv) => qid -> qv.toSeq }.toMap)
    val wFin = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cands
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .withColumn("cos",
        round(VectorFunctions.cosineSim(element_at(qvs, col("query_id")), col("v")), 6))
      .withColumn("rnk", lng(row_number().over(wFin)))
      .filter(col("rnk") <= 10)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .orderBy("query_id", "rnk", "neighbor_id")
  }

  /** ANN index evaluation as a QUERY: per-probe recall@5 of the LSH
    * candidate path against the exact brute-force top-5 — the
    * measure-before-serving harness (tune bands/bits/nProbe on a sample,
    * read recall as a table, then deploy). Both sides are this module's
    * own operators; the join is per-(probe, neighbor) over k·|probes|
    * rows — evaluation cost is probe-sized, not corpus-sized (the corpus
    * cost is the two candidate paths themselves, each already shaped for
    * scale). Fully oracled (r9): both legs are SQL — the exact side is
    * q_ann_topk's brute force, the LSH side inlines the deterministic
    * planes via [[lshBandedSql]]. */
  val qAnnEval: Q = Q(
    "q_ann_eval",
    s"""WITH ${lshBandedSql()},
       |  approx AS (SELECT query_id, neighbor_id FROM rnked WHERE rnk <= 5),
       |  exactc AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      round(list_inner_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cos
       |    FROM n p JOIN n c ON p.vec_id <> c.vec_id
       |    WHERE p.vec_id < 10),
       |  exact AS (SELECT query_id, neighbor_id FROM (
       |      SELECT *, RANK() OVER (
       |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |      FROM exactc)
       |    WHERE rnk <= 5)
       |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS found,
       |  round(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin) { (s, d) =>
    val exact = qAnnTopk.fn(s, d).select(col("query_id"), col("neighbor_id"))
    val approx = qAnnLsh.fn(s, d).select(col("query_id"), col("neighbor_id"))
    exact.join(approx.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("found"))
      .select(col("query_id"), col("k"), col("found"),
        round(dbl(col("found")) / dbl(col("k")), 6).as("recall"))
      .orderBy("query_id")
  }

  /** Corpus-wide k-nearest-neighbor graph (k=4) with a mutuality flag —
    * the standard input to graph-based semantic clustering and kNN-dedup
    * (a mutual edge is the high-precision "really similar" signal;
    * one-directional edges are hub artifacts). Shape: score each UNORDERED
    * pair once (a<b) and mirror — half the dot products of the naive
    * directed scan; per-node top-k is a window the topk rewrite rule
    * heap-prunes; mutuality is one equi self-join of the k·n-row top-k
    * list on the reversed key (never the full pair table). The all-pairs
    * scan is the small-N oracle baseline (same family as q_dedup_embed);
    * at 100 TB candidate generation swaps to the LSH band join
    * (q_ann_lsh) or the IVF cell join (q_ann_ivf) unchanged — top-k and
    * mutuality stages only ever see candidate edges. */
  val qKnnGraph: Q = Q(
    "q_knn_graph",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |  n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e
      |        WHERE list_inner_product(v, v) > 0),
      |  p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |          round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      |        FROM n a JOIN n b ON a.vec_id < b.vec_id),
      |  sym AS (SELECT id_a AS node, id_b AS nbr, cos FROM p
      |          UNION ALL SELECT id_b, id_a, cos FROM p),
      |  r AS (SELECT node, nbr, cos,
      |          ROW_NUMBER() OVER (PARTITION BY node ORDER BY cos DESC, nbr) AS rnk
      |        FROM sym),
      |  k AS (SELECT node, nbr, cos, rnk FROM r WHERE rnk <= 4)
      |SELECT k.node AS node, k.nbr AS nbr, k.cos AS cos, k.rnk AS rnk,
      |  (m.node IS NOT NULL) AS mutual
      |FROM k LEFT JOIN k m ON m.node = k.nbr AND m.nbr = k.node
      |ORDER BY k.node, k.rnk""".stripMargin) { (s, d) =>
    // SHIPPED plan (r10): MEASURED-ROUTED exact kNN — the two-pass
    // cell-pruned equi-join form when the pass-1 bounds prune (clustered
    // corpora; CellPruneSpec pins it), the fused all-pairs window when
    // the measurement says they don't (this bench corpus: isotropic
    // 64-dim, admissible fraction 1.0 — r9 shipped the cell form
    // unconditionally and just reproduced the cross product through a
    // shuffle). Output is bit-identical either way; the oracle computes
    // the naive O(n²) form in SQL and the hash compare proves it.
    // Zero-norm vectors are EXCLUDED on both engine and oracle sides:
    // cosine is undefined for them (the old all-pairs form emitted NaN
    // rows whose cross-engine ordering was luck, not semantics)
    val k = exactKnnEdgesRouted(T.embeddings(s, d), "vec_id", "embedding", 4)._1
      .localCheckpoint(true) // two consumers below: never re-run the scoring
    val m = k.select(col("node").as("m_node"), col("nbr").as("m_nbr"), lit(1).as("m_hit"))
    k.join(m, col("nbr") === col("m_node") && col("node") === col("m_nbr"), "left")
      .select(col("node"), col("nbr"), col("cos"), col("rnk"),
        col("m_hit").isNotNull.as("mutual"))
      .orderBy("node", "rnk")
  }

  /** kNN graph from a CANDIDATE pair source — the concrete drop-in scale
    * twin of [[qKnnGraph]]'s all-pairs baseline: exact cosine is computed
    * only on candidate pairs (default source: [[lshCandidatePairs]] —
    * band-bucket equi-join, no O(n²) stage), then the same per-node
    * top-k + mutuality tail as the baseline. Precision of every edge is
    * exact (true cosine); recall is the candidate source's — tune
    * bands/bits, or feed IVF cell-mate pairs, through the same
    * parameter. */
  def knnGraphFromCandidates(emb: DataFrame, idCol: String, vecCol: String,
                             k: Int, candidates: DataFrame): DataFrame = {
    // tau = -1: keep every candidate's cosine; ranking does the cutting
    val p = cosinePairsVerified(emb, idCol, vecCol, candidates, tau = -1.0)
    val sym = p.select(col("id_a").as("node"), col("id_b").as("nbr"), col("cos"))
      .union(p.select(col("id_b").as("node"), col("id_a").as("nbr"), col("cos")))
    val w = Window.partitionBy("node").orderBy(col("cos").desc, col("nbr"))
    val kk = sym.withColumn("rnk", lng(row_number().over(w)))
      .filter(col("rnk") <= k)
      .localCheckpoint(true)
    val m = kk.select(col("node").as("m_node"), col("nbr").as("m_nbr"), lit(1).as("m_hit"))
    kk.join(m, col("nbr") === col("m_node") && col("node") === col("m_nbr"), "left")
      .select(col("node"), col("nbr"), col("cos"), col("rnk"),
        col("m_hit").isNotNull.as("mutual"))
      .orderBy("node", "rnk")
  }

  /** Greedy k-center coreset selection (farthest-point traversal —
    * Gonzalez 1985; the coreset-for-data-selection recipe of Sener &
    * Savarese 2018): pick k centers from a bounded hash-sample by
    * repeatedly taking the point FARTHEST (euclidean) from the chosen
    * set, then assign the corpus to its nearest center. The output is
    * the coverage profile — per center: members, coverage radius (the
    * k-center objective), mean distance — the table a data-selection
    * pass reads to size a diverse fine-tuning subset.
    *
    * Scale posture identical to the quantizer fits: the greedy runs
    * DRIVER-side on the ≤2048-vector hash-sample (model-sized,
    * single-threaded → bit-deterministic; strict `>` keeps the earliest
    * sample index on ties), the corpus pass is ONE map-side argmin
    * projection against the k broadcast centers + one k-row aggregation.
    *
    * Fully oracled from birth: the sample order is the xxhash64 chain
    * ([[OracleKit.xxhash64Sql]]), the greedy unrolls as k chained
    * argmax-CTEs with running min-distance (LEAST), and distances are
    * the same left-fold squared-euclidean both sides. */
  private def kcenterOracleSql(k: Int = 8, dim: Int = 64, cap: Int = 2048): String = {
    val sqd = (a: String, b: String) =>
      s"list_reduce(list_transform(range(1, ${dim + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
    var ctes = Seq(
      "kc_v AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      s"kc_h AS MATERIALIZED (SELECT id, v, r FROM (SELECT id, v, ROW_NUMBER() OVER (ORDER BY hk, id) AS r" +
        s" FROM (${OracleKit.xxhash64Sql("SELECT id, v FROM kc_v", "id", "id, v", Some(7))})) WHERE r <= $cap)",
      "kc_p1 AS MATERIALIZED (SELECT 0::BIGINT AS t, id, v FROM kc_h WHERE r = 1)",
      s"kc_m1 AS MATERIALIZED (SELECT h.r, h.id, h.v, ${sqd("h.v", "c.v")} AS md FROM kc_h h CROSS JOIN kc_p1 c)")
    for (t <- 2 to k) {
      ctes ++= Seq(
        s"kc_p$t AS MATERIALIZED (SELECT ${t - 1}::BIGINT AS t, id, v FROM" +
          s" (SELECT * FROM kc_m${t - 1} ORDER BY md DESC, r LIMIT 1))",
        s"kc_m$t AS MATERIALIZED (SELECT m.r, m.id, m.v, LEAST(m.md, ${sqd("m.v", "c.v")}) AS md" +
          s" FROM kc_m${t - 1} m CROSS JOIN kc_p$t c)")
    }
    ctes ++= Seq(
      s"kc_c AS MATERIALIZED (${(1 to k).map(t => s"SELECT t, id, v FROM kc_p$t").mkString(" UNION ALL ")})",
      s"kc_a AS MATERIALIZED (SELECT id, t, round(sqrt(dd), 6) AS dist FROM" +
        s" (SELECT s.id, c.t, ${sqd("s.v", "c.v")} AS dd," +
        s" ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY ${sqd("s.v", "c.v")} ASC, c.t) AS rn" +
        s" FROM kc_v s CROSS JOIN kc_c c) WHERE rn = 1)")
    ctes.mkString("WITH ", ", ", " ") +
      "SELECT a.t AS center_rank, c.id AS center_id, COUNT(*)::BIGINT AS n_assigned," +
      " MAX(a.dist) AS radius," +
      " round(CAST(SUM(CAST(a.dist AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_dist" +
      " FROM kc_a a JOIN kc_c c ON c.t = a.t GROUP BY a.t, c.id ORDER BY center_rank"
  }

  val qKcenterCoreset: Q = Q("q_kcenter_coreset", kcenterOracleSql()) { (s, d) =>
    val k = 8
    val corpus = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sample: Array[(Long, Array[Double])] =
      Dedup.boundedHashSample(corpus.select(col("vec_id").as("id"), col("v")), "id", 2048L)
        .orderBy(xxhash64(col("id"), lit(7)), col("id")).limit(2048)
        .select("id", "v").collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "q_kcenter_coreset: empty corpus")
    val dim = sample.head._2.length
    def dd2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val centers = scala.collection.mutable.ArrayBuffer[(Long, Array[Double])](sample.head)
    val mind = sample.map(p => dd2(p._2, sample.head._2))
    for (_ <- 1 until k) {
      var best = 0; var bd = -1.0 // strict > keeps the earliest sample index
      var i = 0
      while (i < sample.length) { if (mind(i) > bd) { bd = mind(i); best = i }; i += 1 }
      val c = sample(best)
      centers += c
      i = 0
      while (i < sample.length) {
        val dd = dd2(sample(i)._2, c._2); if (dd < mind(i)) mind(i) = dd; i += 1
      }
    }
    // corpus pass: one argmin projection over the k broadcast centers
    val scored = centers.toArray.zipWithIndex.map { case ((_, cv), t) =>
      struct(sqDist(col("v"), typedlit(cv.toSeq)).as("dd"), lit(t.toLong).as("ct"))
    }
    val bestC = array_min(array(scored.toIndexedSeq: _*))
    val ids = centers.map(_._1).toSeq
    val assigned = corpus.select(
      bestC.getField("ct").as("center_rank"),
      round(sqrt(bestC.getField("dd")), 6).as("dist"))
    assigned.groupBy("center_rank")
      .agg(count(lit(1)).as("n_assigned"),
        max(col("dist")).as("radius"),
        round(dbl(sum(col("dist").cast(org.apache.spark.sql.types.DecimalType(18, 6)))) /
          dbl(count(lit(1))), 6).as("mean_dist"))
      .select(col("center_rank"),
        element_at(typedlit(ids), (col("center_rank") + 1).cast("int")).as("center_id"),
        col("n_assigned"), col("radius"), col("mean_dist"))
      .orderBy("center_rank")
  }

  val all: Seq[Q] = Seq(qAnnTopk, qAnnLsh, qAnnIvf, qAnnPq, qHardNegatives, qKcenterCoreset,
    qAnnEval, qKnnGraph)
}
