package graft

import graft.operators.GraphOps2
import org.apache.spark.sql.functions._

/** Incremental component maintenance (q_dedup_cc_incr): folding new
  * edges into an existing labeling must equal re-solving from scratch —
  * including the hard case where one new node MERGES two old components.
  * The oracle gate proves the same equality corpus-wide (its SQL
  * recomputes full CC); these pin the algebra on adversarial graphs. */
class IncrCcSpec extends SparkSpec {

  private def cc(edges: org.apache.spark.sql.DataFrame) =
    GraphOps2.connectedComponents(edges, 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a new node merging two old components relabels BOTH to the global min") {
    import spark.implicits._
    // old comps: {1,2} lbl 1, {5,6} lbl 5; batch node 10 bridges 2 and 5
    val oldEdges = Seq((1L, 2L), (5L, 6L)).toDF("src", "dst")
    val c0 = GraphOps2.connectedComponents(oldEdges, 20)
    val newEdges = Seq((2L, 10L), (5L, 10L)).toDF("src", "dst")
    val got = GraphOps2.incrementalComponents(c0, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = cc(oldEdges.union(newEdges))
    assert(got == full, s"incremental $got != from-scratch $full")
    assert(got.values.toSet == Set(1L), "all five nodes must collapse to lbl 1")
  }

  test("batch-only edges form fresh components without touching old labels") {
    import spark.implicits._
    val oldEdges = Seq((1L, 2L)).toDF("src", "dst")
    val c0 = GraphOps2.connectedComponents(oldEdges, 20)
    val newEdges = Seq((20L, 21L), (21L, 22L)).toDF("src", "dst")
    val got = GraphOps2.incrementalComponents(c0, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("chained merges across several old components converge") {
    import spark.implicits._
    // three old comps chained together by two batch nodes
    val oldEdges = Seq((1L, 2L), (4L, 5L), (7L, 8L)).toDF("src", "dst")
    val c0 = GraphOps2.connectedComponents(oldEdges, 20)
    val newEdges = Seq((2L, 30L), (30L, 4L), (5L, 31L), (31L, 7L)).toDF("src", "dst")
    val got = GraphOps2.incrementalComponents(c0, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = cc(oldEdges.union(newEdges))
    assert(got == full, s"incremental $got != from-scratch $full")
    assert(got.values.toSet == Set(1L))
  }

  test("old-nodes-only and self-loop folds equal from-scratch components") {
    import spark.implicits._
    // old comps: {1,2} lbl 1, {5,6,7} lbl 5, {9,10} lbl 9. Old-old edges
    // merge old components and add no node; node 40 is seen only on a
    // self-loop, so it is no component node here, as from scratch.
    val oldEdges = Seq((1L, 2L), (5L, 6L), (6L, 7L), (9L, 10L)).toDF("src", "dst")
    val c0 = GraphOps2.connectedComponents(oldEdges, 20)
    Seq(
      "old nodes only" -> Seq((2L, 6L), (1L, 2L), (10L, 9L)),
      "self-loop" -> Seq((40L, 40L), (2L, 41L))).foreach { case (name, edges) =>
      val newEdges = edges.toDF("src", "dst")
      val got = GraphOps2.incrementalComponents(c0, newEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = cc(oldEdges.union(newEdges))
      assert(got == full, s"$name: incremental $got != from-scratch $full")
    }
  }

  test("deep path graph converges with bounded planning (comp checkpointed per round)") {
    import spark.implicits._
    // a 256-node path is the adversarial depth case: min-contraction
    // halves the diameter per round (~8 rounds), and each round composes
    // one more join into the node→label mapping — without the per-round
    // comp checkpoint, analyzer cost grows with depth
    val n = 256
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val t0 = System.nanoTime()
    val got = cc(edges)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.size == n, s"expected $n labeled nodes, got ${got.size}")
    assert(got.values.forall(_ == 0L), "path must collapse to the min label 0")
    assert(secs < 90, f"deep-path CC took $secs%.1f s — planning blowup?")
  }

  test("q_dedup_cc_incr equals the from-scratch component labeling on the corpus") {
    val incr = GraphOps2.qDedupCcIncr.fn(spark, TinyDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = GraphOps2.qConnectedComponents.fn(spark, TinyDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == scratch, "incremental maintenance diverged from recomputation")
    assert(incr.exists { case (id, comp) => id != comp },
      "degenerate scenario: no non-trivial cluster at this SF")
  }

  test("a fold with zero new edges returns c0 unchanged and runs no CC round") {
    import spark.implicits._
    val c0 = GraphOps2.connectedComponents(Seq((1L, 2L), (5L, 6L)).toDF("src", "dst"), 20)
      .localCheckpoint(true)
    val none = Seq((1L, 2L)).toDF("src", "dst").filter(lit(false))
    graft.operators.LocalRoute.drain()
    val (got, m) = Measure(spark)(GraphOps2.incrementalComponents(c0, none))
    assert(got eq c0)
    assert(m.jobs === 0, s"job sites: ${m.jobSites}")
    assert(graft.operators.LocalRoute.drain().isEmpty, "a CC round ran")
  }
}
