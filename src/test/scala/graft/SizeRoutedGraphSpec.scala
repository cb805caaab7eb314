package graft

import graft.operators.GraphOps2
import org.apache.spark.sql.functions._

/** The size-routed iterative graph ops must be BIT-IDENTICAL across
  * their two routes: the driver replay (default — every spec-sized
  * graph takes it) and the distributed loop (forced here with
  * driverMaxEdges = 0, since r10's routing would otherwise leave the
  * 100 TB path spec-uncovered). The planted graph stresses the
  * tie-break and anchoring corners: a label-propagation tie (two labels
  * at equal count → lowest wins), a source-only pagerank node (no
  * in-edges → teleport rank must persist), an SSSP node reachable by
  * two paths of different length, and singleton/chain/clique component
  * shapes. */
class SizeRoutedGraphSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().toIndexedSeq.map(_.toString)

  private lazy val (dirEdges, symEdges, wEdges) = {
    import spark.implicits._
    // directed: chain 1→2→3→4, clique {10,11,12}, star 20→{21,22,23},
    // plus 30→2 (gives node 2 two predecessors) and source-only node 40
    val dir = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (30L, 2L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (20L, 22L), (20L, 23L), (21L, 20L), (22L, 20L), (23L, 20L),
      (40L, 1L))
    val sym = (dir ++ dir.map(_.swap)).distinct
    // weighted: two paths 1→2 (direct w=10; via 5 w=3+3=6)
    val w = Seq((1L, 2L, 10L), (1L, 5L, 3L), (5L, 2L, 3L), (2L, 3L, 1L),
      (3L, 4L, 7L), (1L, 6L, 2L))
    (dir.toDF("src", "dst").localCheckpoint(true),
      sym.toDF("src", "dst").localCheckpoint(true),
      w.toDF("src", "dst", "w").localCheckpoint(true))
  }

  test("connectedComponents: driver union-find == distributed star contraction") {
    val driver = rows(GraphOps2.connectedComponents(dirEdges, 20))
    val dist = rows(GraphOps2.connectedComponents(dirEdges, 20, driverMaxEdges = 0))
    assert(driver == dist)
    assert(driver.nonEmpty)
  }

  test("pagerankInt: driver replay == distributed rounds (incl. source-only node)") {
    val driver = rows(GraphOps2.pagerankInt(dirEdges, 3))
    val dist = rows(GraphOps2.pagerankInt(dirEdges, 3, driverMaxEdges = 0))
    assert(driver == dist)
    // the source-only node (40) must keep its teleport-anchored rank
    assert(driver.exists(_.startsWith("[40,")))
  }

  test("pprInt: driver replay == distributed rounds, seed-anchored") {
    import spark.implicits._
    val seeds = Seq(10L).toDF("node")
    val driver = rows(GraphOps2.pprInt(dirEdges, seeds, 3))
    val dist = rows(GraphOps2.pprInt(dirEdges, seeds, 3, driverMaxEdges = 0))
    assert(driver == dist)
  }

  test("ssspInt: driver replay == distributed min-plus (shorter 2-hop path wins)") {
    import spark.implicits._
    val seeds = Seq(1L).toDF("node")
    val driver = GraphOps2.ssspInt(wEdges, seeds, 4)
    val dist = GraphOps2.ssspInt(wEdges, seeds, 4, driverMaxEdges = 0)
    assert(rows(driver) == rows(dist))
    val d = driver.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(2L) === 6L, "the 1→5→2 path (6) must beat the direct edge (10)")
  }

  test("q_label_prop routes on twice its half edge set's observed count") {
    val half = graft.operators.GraphOps.coSupplyEdges(spark, TinyDir)
      .filter(col("src") < col("dst"))
    graft.operators.LocalRoute.drain()
    GraphOps2.qLabelProp.fn(spark, TinyDir)
    val lp = graft.operators.LocalRoute.drain().filter(_.op == "labelPropagation")
    assert(lp.map(_.size) === Seq(2 * half.count()))
  }

  test("labelPropagation: driver replay == distributed rounds (tie to lowest label)") {
    val driver = rows(GraphOps2.labelPropagation(symEdges, 2))
    val dist = rows(GraphOps2.labelPropagation(symEdges, 2, driverMaxEdges = 0))
    assert(driver == dist)
  }
}
