package graft.sources

import graft.operators.ProvenanceOps
import graft.sources.{Tables => T}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serving-bundle capstone (SURVEY.md §2.1 sink_serving_bundle): ONE call
  * turns a corpus release into every artifact the serving tier reads,
  * each with a provenance ledger row — the "publish a release" job.
  *
  * Artifacts under `outDir`:
  *  - `ann/`        — the IVF-PQ vector index ([[AnnIndex.build]]):
  *                    cell-partitioned, codebook + sub-codebook sidecars;
  *  - `inverted/`   — term-keyed posting lists ([[InvertedIndex.write]]);
  *  - `docs_sorted/`— the corpus range-partitioned and sorted by doc_id
  *                    ([[Tables.writeSorted]] — tight disjoint file stats,
  *                    point/range lookups skip whole files);
  *  - `card/`       — the q_corpus_card datasheet rows;
  *  - `dedup/`      — the maintained near-dup state ([[graft.ops.DedupService.init]]):
  *                    frozen-order SSJoin postings index (serves
  *                    `NearDupIndex.lookup` point queries and O(delta)
  *                    batch queries) plus the component-labeling
  *                    snapshot — a published release carries its dedup
  *                    state like its ANN/inverted indexes, and
  *                    post-release ingest can resume from it directly;
  *  - `provenance/` — one ledger row per artifact (rows + content
  *                    fingerprint, read back from what was persisted).
  *
  * Each build is the already-specced operator — this entry point adds
  * sequencing and the ledger, nothing bespoke — so the bundle inherits
  * every scale property proved for its parts (pruned ANN cells, pushed
  * index lookups, file-skipping sorted layout). `loadedAtUs` is
  * caller-supplied: release publishing is reproducible, never
  * wall-clock-dependent. */
object Serving {

  /** Build every serving artifact from in-plan corpus inputs (the
    * sfDir-less core — callers hand any (docs, emb) snapshot, e.g. a
    * remediated one). `card` is optional because the datasheet query is
    * table-sourced; [[buildAll]] supplies it for the standard layout. */
  def buildAllFrom(docs: org.apache.spark.sql.DataFrame,
                   emb: org.apache.spark.sql.DataFrame,
                   outDir: String, sourceTag: String, loadedAtUs: Long,
                   card: Option[org.apache.spark.sql.DataFrame] = None): Unit = {
    val spark = docs.sparkSession
    val prov = s"$outDir/provenance"

    AnnIndex.build(emb, s"$outDir/ann")
    ProvenanceOps.record(spark.read.parquet(s"$outDir/ann/index"),
      concat_ws(",", col("id"), col("cell")), "ann_index", sourceTag, loadedAtUs, prov)

    InvertedIndex.write(docs.select("doc_id", "text"), s"$outDir/inverted")
    ProvenanceOps.record(spark.read.parquet(s"$outDir/inverted"),
      col("term"), "inverted_index", sourceTag, loadedAtUs, prov)

    T.writeSorted(docs, s"$outDir/docs_sorted", "doc_id", 8)
    ProvenanceOps.record(spark.read.parquet(s"$outDir/docs_sorted"),
      col("text"), "docs_sorted", sourceTag, loadedAtUs, prov)

    // dedup state: index + labeling via the service's own init, so the
    // bundle inherits its crash contract and ingest() resumes from the
    // published path unchanged. Ledger rows read back what serves:
    // the labeling snapshot and the index's profile table.
    graft.ops.DedupService.init(docs.select("doc_id", "text"), s"$outDir/dedup")
    ProvenanceOps.record(graft.ops.DedupService.labels(spark, s"$outDir/dedup"),
      concat_ws(",", col("doc_id"), col("component")),
      "dedup_labels", sourceTag, loadedAtUs, prov)
    ProvenanceOps.record(
      graft.ops.Dedup.NearDupIndex.readProfiles(spark, s"$outDir/dedup/index").select("id", "nsh"),
      concat_ws(",", col("id"), col("nsh")),
      "dedup_index", sourceTag, loadedAtUs, prov)

    // kNN-graph serving bundle (VERDICT r12 #4): a release consumer who
    // serves graph-ANN reads this instead of re-running NN-Descent on
    // the corpus it just downloaded. Ledger row reads back the swapped
    // root's edge table. The publish claims the bundle's WriterLease and
    // RELEASES it on completion — the release job is one-shot, and a
    // later maintainer (refit cadence) claims fresh.
    GraphBundle.build(emb.select(col("id").as("vec_id"), col("v")), s"$outDir/knn_graph")
    WriterLease.release(spark, s"$outDir/knn_graph")
    ProvenanceOps.record(
      spark.read.parquet(s"${GraphBundle.liveRoot(spark, s"$outDir/knn_graph")}/graph"),
      concat_ws(",", col("gsrc"), col("gdst")), "knn_graph", sourceTag, loadedAtUs, prov)

    card.foreach { c =>
      ProvenanceOps.writeWithProvenance(c, s"$outDir/card",
        col("metric"), "corpus_card", sourceTag, loadedAtUs, prov)
    }
  }

  def buildAll(spark: SparkSession, sfDir: String, outDir: String,
               loadedAtUs: Long): Unit =
    buildAllFrom(
      T.documents(spark, sfDir),
      T.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v")),
      outDir, sfDir, loadedAtUs,
      card = Some(graft.ops.CorpusQuality.qCorpusCard.fn(spark, sfDir)))

  /** Remediate-then-republish — the reference's full release-repair flow
    * (SQL/update_geneids7.sql curated key patches, then the build-notes
    * QC and app re-serve) in one call: apply the (old_id → new_id) patch
    * to BOTH sides of the doc/embedding referential pair (one-sided
    * patching is exactly the drift q_id_remediate audits), verify zero
    * orphans, then rebuild every serving artifact from the patched
    * snapshot with ledger rows. Returns the FK audit; a caller must NOT
    * promote `outDir` unless orphans_after == 0. */
  def publishRemediated(docs: org.apache.spark.sql.DataFrame,
                        emb: org.apache.spark.sql.DataFrame,
                        patch: org.apache.spark.sql.DataFrame,
                        outDir: String, sourceTag: String,
                        loadedAtUs: Long): Map[String, Long] = {
    import graft.operators.LoaderOps
    val docsP = LoaderOps.patchKeys(docs, "doc_id", patch).localCheckpoint(true)
    val embP = LoaderOps.patchKeys(emb, "id", patch).localCheckpoint(true)
    // orphan audit via anti join, NOT a broadcast of doc ids: unlike the
    // dimension-sized audit in remediateTracked, the "dimension" here IS
    // the corpus — broadcasting its key set would collect every doc_id to
    // the driver. The anti join shuffles on the key and scales with the
    // corpus like every other join in this file.
    val orphans = embP
      .join(docsP.select(col("doc_id")), col("id") === col("doc_id"), "left_anti")
      .count()
    buildAllFrom(docsP, embP, outDir, sourceTag, loadedAtUs)
    Map(
      "patch_size" -> patch.count(),
      "patched_docs" ->
        docs.join(broadcast(patch), docs("doc_id") === col("old_id"), "left_semi").count(),
      "orphans_after" -> orphans)
  }
}
