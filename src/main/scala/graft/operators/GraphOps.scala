package graft.operators

import graft.Q
import graft.functions.Exact._
import graft.sources.{Tables => T}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-shaped capabilities of the reference (SURVEY.md §2.3): KEGG
  * pathway distances and nearest-Tclin search, PPI edge normalization.
  *
  * BFS is frontier-join iteration: each hop is one shuffle join against the
  * edge list, the frontier is anti-joined against visited nodes so work is
  * proportional to newly reached nodes. Frontiers are persisted per hop to
  * cut lineage; at cluster scale the edge list would be pre-partitioned by
  * src so every hop reuses the same partitioning (no re-shuffle of edges).
  */
object GraphOps {

  /** Bounded multi-source BFS over an edge list.
    * @param edges   (src, dst) directed edges (symmetrize for undirected)
    * @param sources (node) start set, distance 0
    * @return (node, dist) minimum hop count, nodes within maxHops only
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    // eager localCheckpoints: constant-size plans across hops (PLANS.md r2)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var visited = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = visited
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val next = e.as("E").join(frontier.as("F"), col("F.node") === col("E.src"))
        .select(col("E.dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop.toLong))
        .localCheckpoint(true)
      if (next.isEmpty) done = true
      else {
        // visited is a flat union of already-checkpointed hop frontiers —
        // the plan stays constant-depth without re-materializing it
        visited = visited.union(next)
        frontier = next
      }
      hop += 1
    }
    visited
  }

  /** Undirected co-occurrence edges: suppliers sharing a part (the PPI
    * graph analog). Both directions emitted so BFS needs no symmetrize. */
  def coSupplyEdges(s: SparkSession, d: String): DataFrame = {
    val ps = T.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
    val a = ps.select(col("l_partkey").as("pk"), col("l_suppkey").as("src"))
    val b = ps.select(col("l_partkey").as("pk"), col("l_suppkey").as("dst"))
    a.join(b, "pk").filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
  }

  /** BFS over the co-supply graph WITHOUT materializing its edges: one
    * co-supply hop = supplier→parts→suppliers through the (part, supplier)
    * incidence list. The incidence list is |lineitem-distinct| rows; the
    * quadratic per-part supplier×supplier edge set (which coSupplyEdges
    * materializes) never exists. At 100 TB this is the difference between
    * a shuffle of the fact table and a shuffle of its square. */
  def coSupplyBfs(s: SparkSession, d: String, sources: DataFrame, maxHops: Int,
                  driverMaxEdges: Long = GraphOps2.DriverCcMaxEdges): DataFrame = {
    // eager localCheckpoints: constant-size plans across hops (PLANS.md r2)
    val (ps, m) = LocalRoute.checkpoint(T.lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct())
    // driver route (see LocalRoute): hop distances are exact set
    // algebra over local adjacency maps; the distributed loop pays ~3
    // jobs per hop (two incidence joins + frontier checkpoint)
    LocalRoute.rows(ps, m.getLong(0), driverMaxEdges, "coSupplyBfs",
        LocalRoute.longKeyed(ps)).foreach { rows =>
      import s.implicits._
      val inc = rows.map(r => (r.getLong(0), r.getLong(1)))
      val byPart = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val bySupp = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      inc.foreach { case (pk, sk) =>
        byPart.getOrElseUpdate(pk, scala.collection.mutable.ArrayBuffer.empty) += sk
        bySupp.getOrElseUpdate(sk, scala.collection.mutable.ArrayBuffer.empty) += pk
      }
      val dist = scala.collection.mutable.HashMap.empty[Long, Long]
      sources.select(col("node").cast("long")).distinct()
        .collect().foreach(r => dist(r.getLong(0)) = 0L)
      var frontier: Set[Long] = dist.keySet.toSet
      var hop = 1L
      while (hop <= maxHops && frontier.nonEmpty) {
        val parts = frontier.iterator
          .flatMap(sk => bySupp.getOrElse(sk, Nil)).toSet
        val next = parts.iterator
          .flatMap(pk => byPart.getOrElse(pk, Nil))
          .filter(sk => !dist.contains(sk)).toSet
        next.foreach(sk => dist(sk) = hop)
        frontier = next
        hop += 1
      }
      return dist.toSeq.sorted.toDF("node", "dist")
    }
    var visited = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = visited.select("node")
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val parts = ps.join(broadcast(frontier.withColumnRenamed("node", "fsk")),
          col("sk") === col("fsk"))
        .select("pk").distinct()
      val nbrs = ps.join(broadcast(parts.withColumnRenamed("pk", "fpk")),
          col("pk") === col("fpk"))
        .select(col("sk").as("node")).distinct()
      val next = nbrs.join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop.toLong)).localCheckpoint(true)
      if (next.isEmpty) done = true
      else {
        // flat union of checkpointed frontiers — no re-materialization
        visited = visited.union(next)
        frontier = next.select("node")
      }
      hop += 1
    }
    visited
  }

  /** Undirected edge normalization + dedup (loaders/load-BioPlexPPIs.py,
    * load-ReactomePPIs.py merge PPIs arriving in either direction):
    * canonical (least, greatest) ordering, weight = #shared parts. */
  val qEdgeDedup: Q = Q(
    "q_edge_dedup",
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |SELECT least(a.l_suppkey, b.l_suppkey) AS s1,
      |       greatest(a.l_suppkey, b.l_suppkey) AS s2,
      |       COUNT(*) AS n_shared_parts
      |FROM ps a JOIN ps b
      |  ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      |GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin) { (s, d) =>
    // size-routed wedge-expansion parallelism (GraphOps2.wedgeTasks —
    // see qNodeJaccard for the full rationale): the half-pair count
    // aggregation below is the expansion's consumer, and AQE's
    // byte-based coalescing of the tiny incidence exchange otherwise
    // serializes it
    val ps = T.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
    val wedged = ps.repartition(GraphOps2.wedgeTasks(ps, "l_partkey"),
      col("l_partkey"))
    val a = wedged.select(col("l_partkey").as("pk"), col("l_suppkey").as("sa"))
    val b = wedged.select(col("l_partkey").as("pk"), col("l_suppkey").as("sb"))
    a.join(b, "pk").filter(col("sa") < col("sb"))
      .groupBy(least(col("sa"), col("sb")).as("s1"),
        greatest(col("sa"), col("sb")).as("s2"))
      .agg(count(lit(1)).as("n_shared_parts"))
      .orderBy("s1", "s2")
  }

  /** Interaction-profile similarity: top-3 most similar suppliers per
    * supplier by Jaccard of their part sets — the "nodes with similar
    * neighborhoods" screen PPI pipelines run on interaction profiles
    * (STRING-style neighborhood similarity over the BioPlex/Reactome
    * graphs, loaders/load-STRINGDB.py edges). Scale shape: common
    * neighbors come from ONE incidence-list wedge join keyed on the
    * shared part (work ∝ Σ per-part degree², the wedge count — never a
    * supplier×supplier scan; a degree cap / salting handles hub parts),
    * set sizes are one count aggregation, and the Jaccard is a pure
    * projection over the pair table: c / (|A| + |B| − c). The per-node
    * top-3 window runs on the pair table (co-neighbor-bounded), not the
    * corpus — and the rnk≤3 filter is the shape rule_topk_rewrite
    * heap-prunes. The unrounded Jaccard (two exact longs, one IEEE
    * division) orders identically in any engine; ties break on nbr id. */
  val qNodeJaccard: Q = Q(
    "q_node_jaccard",
    """WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |deg AS (SELECT sk, COUNT(*) AS d FROM ps GROUP BY 1),
      |pairs AS (SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS common
      |          FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk GROUP BY 1, 2),
      |sym AS (SELECT s1 AS node, s2 AS nbr, common FROM pairs
      |        UNION ALL SELECT s2, s1, common FROM pairs),
      |scored AS (SELECT node, nbr, common,
      |    CAST(common AS DOUBLE) / (dn.d + dm.d - common) AS jac,
      |    ROW_NUMBER() OVER (PARTITION BY node
      |      ORDER BY CAST(common AS DOUBLE) / (dn.d + dm.d - common) DESC, nbr) AS rnk
      |  FROM sym JOIN deg dn ON dn.sk = sym.node JOIN deg dm ON dm.sk = sym.nbr)
      |SELECT node, nbr, common, round(jac, 6) AS jaccard, rnk
      |FROM scored WHERE rnk <= 3 ORDER BY node, rnk""".stripMargin) { (s, d) =>
    // size-routed wedge-join parallelism (GraphOps2.wedgeTasks — VERDICT
    // r14 #3): the exchange carries the small incidence list but the
    // join stage EXPANDS it to Σ per-part degree² wedge rows + the pair
    // aggregation — AQE's byte-based coalescing reads it with ~5 tasks
    // on 32 cores (r14 profile: 1.3s wall, 5.3s CPU). One explicit pk
    // repartition feeds both self-join sides (same key → one exchange,
    // reused); small incidences pin at runtime cores (no stat jobs),
    // large ones derive the count from the true Σdeg² volume.
    val ps = T.lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")).distinct()
    val wedged = ps.repartition(GraphOps2.wedgeTasks(ps, "pk"), col("pk"))
    val deg = wedged.groupBy("sk").agg(count(lit(1)).as("d"))
    val pairs = wedged.select(col("pk"), col("sk").as("s1"))
      .join(wedged.select(col("pk"), col("sk").as("s2")), "pk")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("common"))
    val sym = pairs.select(col("s1").as("node"), col("s2").as("nbr"), col("common"))
      .union(pairs.select(col("s2").as("node"), col("s1").as("nbr"), col("common")))
    val scored = sym
      .join(broadcast(deg.select(col("sk").as("node"), col("d").as("dn"))), "node")
      .join(broadcast(deg.select(col("sk").as("nbr"), col("d").as("dm"))), "nbr")
      .withColumn("jac", dbl(col("common")) / (col("dn") + col("dm") - col("common")))
    val w = Window.partitionBy("node").orderBy(col("jac").desc, col("nbr"))
    scored.withColumn("rnk", lng(row_number().over(w)))
      .filter(col("rnk") <= 3)
      .select(col("node"), col("nbr"), col("common"),
        round(col("jac"), 6).as("jaccard"), col("rnk"))
      .orderBy("node", "rnk")
  }

  /** Bounded BFS distances from one node (loaders/load-KEGGDistances.py
    * computes all shortest path lengths in KEGG pathway graphs). */
  val qGraphBfs: Q = Q(
    "q_graph_bfs",
    """WITH RECURSIVE ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |  e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
      |        FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
      |        AND a.l_suppkey <> b.l_suppkey GROUP BY 1, 2),
      |  walk(node, dd) AS (
      |    SELECT CAST(1 AS BIGINT), 0
      |    UNION
      |    SELECT e.dst, walk.dd + 1 FROM walk JOIN e ON e.src = walk.node
      |    WHERE walk.dd < 3)
      |SELECT node, CAST(MIN(dd) AS BIGINT) AS dist
      |FROM walk GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
    val sources = s.range(1, 2).select(col("id").as("node"))
    coSupplyBfs(s, d, sources, 3)
      .groupBy("node").agg(min(col("dist")).as("dist"))
      .orderBy("node")
  }

  /** Distance to nearest labeled node (loaders/load-KEGGNearestTclins.py
    * finds each target's nearest Tclin in pathway space): multi-source BFS
    * from all labeled nodes at once — one pass, not |labels| passes. */
  val qNearestLabeled: Q = Q(
    "q_nearest_labeled",
    """WITH RECURSIVE ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |  e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
      |        FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
      |        AND a.l_suppkey <> b.l_suppkey GROUP BY 1, 2),
      |  seeds AS (SELECT s_suppkey AS node FROM supplier WHERE s_acctbal > 5000),
      |  walk(node, dd) AS (
      |    SELECT node, 0 FROM seeds
      |    UNION
      |    SELECT e.dst, walk.dd + 1 FROM walk JOIN e ON e.src = walk.node
      |    WHERE walk.dd < 3)
      |SELECT node AS s_suppkey, CAST(MIN(dd) AS BIGINT) AS dist_to_labeled
      |FROM walk GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
    val seeds = T.supplier(s, d).filter(col("s_acctbal") > 5000)
      .select(col("s_suppkey").as("node"))
    coSupplyBfs(s, d, seeds, 3)
      .groupBy("node").agg(min(col("dist")).as("dist_to_labeled"))
      .select(col("node").as("s_suppkey"), col("dist_to_labeled"))
      .orderBy("s_suppkey")
  }

  /** Transitive closure of a DAG edge list by path doubling: round i
    * holds all paths of length <= 2^i, so depth-d hierarchies close in
    * ceil(log2 d) self-joins instead of d BFS rounds — at 100 TB that is
    * 5 shuffles for a depth-32 ontology instead of 32.
    * Reference analog: ancestor closure over parent-child ontologies
    * (loaders/load-Ontologies.py, python/obo.py). */
  /** Edge gate for the driver closure route ([[LocalRoute]]; GraphOps2
    * documents the crossover): an under-gate edge set
    * collects once and the SAME doubling rounds replay as hash-set
    * operations, where the distributed loop pays ~4 Spark jobs per round
    * (self-join, distinct, eager checkpoint, growth count). Both routes
    * emit the identical path SET (exact set algebra, no numeric ties),
    * which the recursive-CTE oracles hash. */
  val DriverClosureMaxEdges: Long = 2000000L

  /** Driver-route bail-out: a closure that outgrows this many paths
    * mid-replay falls back to the distributed loop (pathological
    * fan-out), so the route can never pin closure-sized memory. */
  private val DriverClosureMaxPaths: Long = 16000000L

  def transitiveClosure(edges: DataFrame, maxDepth: Int,
                        driverMaxEdges: Long = DriverClosureMaxEdges): DataFrame = {
    // eager localCheckpoint per round: the doubling self-join references
    // the closure THREE times (join x2 + union), so without plan
    // truncation the logical plan grows 3^rounds (see PLANS.md round 2).
    // Each checkpoint observes its own path count, which the route and
    // the growth test read.
    val (base, m) = LocalRoute.checkpoint(edges.select(col("src"), col("dst")).distinct())
    var closure = base
    var nPaths = m.getLong(0)
    LocalRoute.rows(closure, nPaths, driverMaxEdges, "transitiveClosure").foreach { rows =>
      driverClosure(rows, maxDepth) match {
        case Some(pairs) =>
          return LocalRoute.relation(edges.sparkSession,
            pairs.toSeq.map { case (s, d) => Row(s, d) }, closure.schema)
        case None => // the paths outgrew the replay: record the fallback
          LocalRoute.admit("transitiveClosure", "rows", DriverClosureMaxPaths + 1,
            DriverClosureMaxPaths)
      }
    }
    var depth = 1
    var grew = true
    while (depth < maxDepth && grew) {
      val (doubled, dm) = LocalRoute.checkpoint(closure.as("l")
        .join(closure.as("r"), col("l.dst") === col("r.src"))
        .select(col("l.src").as("src"), col("r.dst").as("dst"))
        .union(closure)
        .distinct())
      val n = dm.getLong(0)
      grew = n > nPaths
      nPaths = n
      closure = doubled
      depth *= 2
    }
    closure
  }

  /** Local replay of the doubling rounds over the collected DISTINCT
    * edge set: identical loop shape (double while depth < maxDepth and
    * the path set grew), identical output SET — node type stays whatever
    * the caller shipped (string ids, dictionary-encoded longs). None if
    * the closure outgrows [[DriverClosureMaxPaths]] mid-replay (the
    * caller then runs the distributed loop on the already-checkpointed
    * base). */
  private def driverClosure(rows: Array[Row],
                            maxDepth: Int): Option[scala.collection.Set[(Any, Any)]] = {
    var closure = scala.collection.mutable.HashSet.empty[(Any, Any)]
    rows.foreach(r => closure += ((r.get(0), r.get(1))))
    var nPaths = closure.size.toLong
    var depth = 1
    var grew = true
    while (depth < maxDepth && grew) {
      val bySrc = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
      closure.foreach { case (s, d) =>
        bySrc.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += d
      }
      val doubled = scala.collection.mutable.HashSet.empty[(Any, Any)] ++ closure
      closure.foreach { case (s, m) =>
        bySrc.get(m).foreach(_.foreach { d =>
          doubled += ((s, d))
          if (doubled.size > DriverClosureMaxPaths) return None
        })
      }
      grew = doubled.size > nPaths
      nPaths = doubled.size
      closure = doubled
      depth *= 2
    }
    Some(closure)
  }

  /** Ancestor closure over the part→brand→type→ROOT hierarchy synthesized
    * from the part table (category rollup paths, the ontology shape). */
  val qTransitiveClosure: Q = Q(
    "q_transitive_closure",
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT 'part:' || CAST(p_partkey AS VARCHAR) AS src, 'brand:' || p_brand AS dst FROM part
      |  UNION SELECT DISTINCT 'brand:' || p_brand, 'type:' || p_type FROM part
      |  UNION SELECT DISTINCT 'type:' || p_type, 'ROOT' FROM part),
      |walk(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT walk.src, edges.dst FROM walk JOIN edges ON edges.src = walk.dst)
      |SELECT src, dst FROM walk ORDER BY src, dst""".stripMargin) { (s, d) =>
    val p = T.part(s, d)
    val e1 = p.select(concat(lit("part:"), col("p_partkey")).as("src"),
      concat(lit("brand:"), col("p_brand")).as("dst"))
    val e2 = p.select(concat(lit("brand:"), col("p_brand")).as("src"),
      concat(lit("type:"), col("p_type")).as("dst"))
    val e3 = p.select(concat(lit("type:"), col("p_type")).as("src"), lit("ROOT").as("dst"))
    // fixed 3-level hierarchy: paths of length <= 4 cover it, so two
    // doubling rounds suffice (maxDepth 4 -> rounds at 2 and 4)
    transitiveClosure(e1.union(e2).union(e3).distinct(), maxDepth = 4)
      .orderBy("src", "dst")
  }

  /** Cross-space mapping rollup (loaders/load-Orthologs.py maps entities
    * across taxa then rolls up): aggregate-then-join — counts are computed
    * per side BEFORE joining, so no fact-x-fact blowup at scale. */
  val qOrthoRollup: Q = Q(
    "q_ortho_rollup",
    """WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1),
      |  s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
      |SELECT n_name,
      |  CAST(COALESCE(n_customers, 0) AS BIGINT) AS n_customers,
      |  CAST(COALESCE(n_suppliers, 0) AS BIGINT) AS n_suppliers,
      |  round(CAST(COALESCE(n_customers, 0) AS DOUBLE) / greatest(CAST(COALESCE(n_suppliers, 0) AS DOUBLE), 1.0), 6) AS ratio
      |FROM nation
      |LEFT JOIN c ON nk = n_nationkey
      |LEFT JOIN s ON s.nk = n_nationkey
      |ORDER BY n_name""".stripMargin) { (s, d) =>
    val c = T.customer(s, d).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_customers"))
    val sp = T.supplier(s, d).groupBy(col("s_nationkey").as("nk2"))
      .agg(count(lit(1)).as("n_suppliers"))
    T.nation(s, d)
      .join(c, col("nk") === col("n_nationkey"), "left")
      .join(sp, col("nk2") === col("n_nationkey"), "left")
      .select(col("n_name"),
        lng(coalesce(col("n_customers"), lit(0))).as("n_customers"),
        lng(coalesce(col("n_suppliers"), lit(0))).as("n_suppliers"),
        round(dbl(coalesce(col("n_customers"), lit(0))) /
          greatest(dbl(coalesce(col("n_suppliers"), lit(0))), lit(1.0)), 6).as("ratio"))
      .orderBy("n_name")
  }

  /** Subtree sizes over the ontology closure: distinct descendants per
    * node (the "how many terms live under this ancestor" rollup the
    * reference derives from its OBO closures — loaders/load-Ontologies.py,
    * python/obo.py). One aggregation over the already-computed closure.
    *
    * Node ids are dictionary-encoded to int64 (xxhash64 of the label)
    * BEFORE the closure: every doubling self-join then shuffles/compares
    * 8-byte longs instead of ~20-byte label strings — the same encoding
    * lever pagerank uses. Labels rejoin only at the final (ancestor-count
    * sized) aggregate. A hash collision would collapse two nodes and
    * surface as an oracle hash mismatch (same vanishing-probability
    * argument as Dedup.wordShingleHashes). */
  val qSubtreeCounts: Q = Q(
    "q_subtree_counts",
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT 'part:' || CAST(p_partkey AS VARCHAR) AS src, 'brand:' || p_brand AS dst FROM part
      |  UNION SELECT DISTINCT 'brand:' || p_brand, 'type:' || p_type FROM part
      |  UNION SELECT DISTINCT 'type:' || p_type, 'ROOT' FROM part),
      |walk(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT walk.src, edges.dst FROM walk JOIN edges ON edges.src = walk.dst)
      |SELECT dst AS node, COUNT(DISTINCT src) AS n_descendants
      |FROM walk GROUP BY dst ORDER BY node""".stripMargin) { (s, d) =>
    val p = T.part(s, d)
    val e1 = p.select(concat(lit("part:"), col("p_partkey")).as("src"),
      concat(lit("brand:"), col("p_brand")).as("dst"))
    val e2 = p.select(concat(lit("brand:"), col("p_brand")).as("src"),
      concat(lit("type:"), col("p_type")).as("dst"))
    val e3 = p.select(concat(lit("type:"), col("p_type")).as("src"), lit("ROOT").as("dst"))
    val labeled = e1.union(e2).union(e3).distinct()
    val encoded = labeled.select(xxhash64(col("src")).as("src"), xxhash64(col("dst")).as("dst"))
    // ancestor labels for the final decode join: one small distinct table
    val dict = labeled.select(col("dst").as("node"), xxhash64(col("dst")).as("h")).distinct()
    // the closure emits DISTINCT (src, dst) pairs by construction, so a
    // plain count per ancestor equals COUNT(DISTINCT src) without the
    // extra expand/dedup shuffle a distinct-aggregate would add
    transitiveClosure(encoded, maxDepth = 4)
      .groupBy(col("dst").as("h"))
      .agg(count(lit(1)).as("n_descendants"))
      .join(dict, "h")
      .select(col("node"), col("n_descendants"))
      .orderBy("node")
  }

  val all: Seq[Q] = Seq(qEdgeDedup, qNodeJaccard, qGraphBfs, qNearestLabeled,
    qOrthoRollup, qTransitiveClosure, qSubtreeCounts)
}
