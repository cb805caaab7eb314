package graft.ops

import graft.sources.AtomicSwap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The maintained corpus-dedup SERVICE: the full daily loop behind
  * q_dedup_cc_incr as one persisted, crash-safe API — a
  * [[Dedup.NearDupIndex]] (frozen-order SSJoin postings) plus a
  * component labeling, advanced one batch at a time:
  *
  *  1. `init(base)` — index the base corpus, solve components once over
  *     the index's own frozen profiles (no second shingle pass), commit
  *     the labeling snapshot;
  *  2. `ingest(batchId, docs)` — append the batch to the index, query
  *     its pairs from the persisted index (no corpus rescan), fold them
  *     in ([[graft.operators.GraphOps2.incrementalComponents]], the same
  *     fold q_dedup_cc_incr runs), commit the new labeling.
  *
  * Cost per batch: the index append and the pair query are O(delta);
  * the fold-in's re-solve is bounded by the components the batch
  * touches. The labeling commit is NOT: it rewrites every
  * (doc_id, component) row of the corpus on every batch (ROADMAP
  * direction 6 is the O(delta) commit). Each intermediate is
  * materialized once and carries its row count
  * ([[graft.operators.LocalRoute.checkpoint]]).
  *
  * Crash safety composes from the parts: index regions are
  * overwrite-idempotent `part=<batch>` dirs, the labeling commits via
  * [[AtomicSwap]] with the applied batch id INSIDE the snapshot (the
  * stream_upsert `_last_batch` pattern), and ingest order is
  * index-append FIRST (idempotent) then labels-commit (skipped if the
  * snapshot already carries the batch id) — a re-run from any crash
  * point converges without double-applying. DedupServiceSpec proves
  * multi-batch equality with from-scratch CC and replay idempotence. */
object DedupService {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def labelsDir(path: String) = s"$path/labels"
  private def indexDir(path: String) = s"$path/index"

  /** Current labeling: (doc_id, component), every ingested doc. */
  def labels(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(labelsDir(path))
    val live = AtomicSwap.live(fs(spark, path), p)
      .getOrElse(throw new IllegalStateException(s"no labeling at $p"))
    spark.read.schema(LabelsSchema).parquet(live.toString)
      .select("doc_id", "component")
  }

  /** The labeling snapshot's schema, declared next to its writer
    * ([[commitLabels]], which writes longs whatever the input's integral
    * id type): reading with it skips the schema-inference job a bare
    * `spark.read.parquet` runs. DedupArtifactSchemaSpec pins it against
    * inference. */
  private[graft] val LabelsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("component", LongType),
    StructField("__batch", LongType)))

  private val MarkerFile = "_applied_batch"

  /** The batch id the live labeling snapshot carries — the replay-check
    * marker. O(1): one metadata read of the `_applied_batch` sidecar
    * file inside the snapshot dir (written before the snapshot's commit,
    * so it is swap-atomic with the labels), touching NO label data files
    * — the labeling itself is corpus-sized and a per-ingest marker check
    * must not scan it (review r9; DedupServiceSpec asserts the zero-job
    * read). Falls back to max(__batch) over the snapshot for dirs
    * written before the marker existed. */
  def appliedBatch(spark: SparkSession, path: String): Long = {
    val p = new Path(labelsDir(path))
    val f = fs(spark, path)
    val live = AtomicSwap.live(f, p).get
    val marker = new Path(live, MarkerFile)
    if (f.exists(marker)) {
      val in = f.open(marker)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    } else
      spark.read.parquet(live.toString).select(max(col("__batch"))).head.getLong(0)
  }

  private def lastBatch(spark: SparkSession, path: String): Long =
    appliedBatch(spark, path)

  private def commitLabels(spark: SparkSession, path: String,
                           lbl: DataFrame, batchId: Long): Unit = {
    val cur = new Path(labelsDir(path))
    val f = fs(spark, path)
    val next = AtomicSwap.nextOf(cur)
    f.delete(next, true)
    lbl.select(col("doc_id").cast(LongType).as("doc_id"),
      col("component").cast(LongType).as("component"), lit(batchId).as("__batch"))
      .write.mode("overwrite").parquet(next.toString)
    // the applied-batch marker rides INSIDE the staged snapshot: it
    // lands (or not) atomically with the labels at the swap commit
    val out = f.create(new Path(next, MarkerFile), true)
    try out.write(batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    AtomicSwap.commit(f, cur)
  }

  /** Index the base corpus and solve its components once. Claims the
    * service writer lease ([[graft.sources.WriterLease]]) — a second
    * driver maintaining the same path fails loud here, not mid-write. */
  def init(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    graft.sources.WriterLease.ensure(spark, path, "init")
    graft.sources.WriterLease.ensure(spark, indexDir(path), "init")
    // the index's frozen profiles are the corpus's live-order profiles at
    // build time, so their SSJoin is nearDupEdges(docs) without a second
    // shingle pass
    val profiles = Dedup.NearDupIndex.buildProfile(docs, indexDir(path))
    val comp = graft.operators.GraphOps2.connectedComponents(
      Dedup.prefixPairs(profiles, 0.5).select(col("id_a").as("src"), col("id_b").as("dst")), 20)
    val lbl = docs.select(col("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component"))
    commitLabels(spark, path, lbl, batchId = 0L)
  }

  /** Fold one batch in (cost: see above). Replay-safe under the streaming
    * micro-batch contract (ids handed out monotonically): batchId ==
    * lastBatch is the benign committed-batch replay and skips WITHOUT
    * touching the index (its region already holds the committed run's
    * content); batchId == lastBatch+1 proceeds (a crash between index
    * write and labels commit re-runs here — the region overwrite is
    * idempotent). Anything else fails LOUD: a stream restarted with a
    * fresh checkpoint would replay id 1 and silently OVERWRITE an old
    * batch's index region with different docs while its labels stand —
    * index/labels divergence with no error. */
  def ingest(spark: SparkSession, path: String, batchId: Long,
             batch: DataFrame): Unit =
    ingestAs(graft.sources.WriterLease.owner(spark), spark, path, batchId, batch)

  private def ingestAs(me: String, spark: SparkSession, path: String,
                       batchId: Long, batch: DataFrame): Unit = {
    require(batchId >= 1, "batch ids start at 1 (0 is the base build)")
    // the writer lease covers BOTH roots this call mutates: the service
    // root (labels) and the index root (the one a concurrent driver's
    // rebuildIfStale would contend on) — a second driver fails loud
    // before any write
    graft.sources.WriterLease.ensureAs(me, spark, path, s"ingest b$batchId")
    graft.sources.WriterLease.ensureAs(me, spark, indexDir(path), s"ingest b$batchId")
    val last = lastBatch(spark, path)
    if (batchId == last) return // committed replay: no writes at all
    require(batchId == last + 1,
      s"ingest: batch id $batchId breaks the monotone contract (labeling " +
        s"carries $last) — restarting the stream with a fresh checkpoint " +
        "against an existing service path would corrupt the index")
    // 1. index append — overwrite-idempotent region write; the query
    // reuses the batch profile the append froze, and its row count
    val (root, bprof, batchN) = Dedup.NearDupIndex.appendProfile(spark, indexDir(path),
      batch, n = 3, threshold = 0.5, region = s"b$batchId")
    val pairs = Dedup.NearDupIndex.queryProfile(spark, root, bprof, batchN, threshold = 0.5)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val old = labels(spark, path)
      .select(col("doc_id").as("node"), col("component").as("lbl"))
    // 2. the batch's docs the labeling lacks join it as singletons
    // (materialized once: the fold-in reads its c0 several times), then
    // the fold-in merges the components the batch's pairs touch
    val (fresh, _) = graft.operators.LocalRoute.checkpoint(
      batch.select(col("doc_id").cast(LongType).as("node")).distinct()
        .join(old.select("node"), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("lbl")))
    val merged = graft.operators.GraphOps2.incrementalComponents(old.unionByName(fresh), pairs)
    // 3. the staged write reads the live snapshot; it finishes before the
    // swap renames anything, so no checkpoint sits in between
    commitLabels(spark, path, merged.select(col("node").as("doc_id"), col("lbl").as("component")),
      batchId)
  }

  /** Streaming twin: foreachBatch drives [[ingest]] with the
    * checkpointed micro-batch id (+1 — id 0 is the base build).
    * Exactly-once per batch composes from the parts: a replayed
    * micro-batch overwrites its idempotent index region and skips the
    * already-committed labels — the corpus dedup index and labeling stay
    * fresh as the stream runs. Requires [[init]] to have run first. */
  def ingestSink(docs: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the writer identity is the DRIVER session defining this sink:
    // foreachBatch hands each micro-batch a CLONED session, which must
    // not read as a different writer per batch
    val me = graft.sources.WriterLease.owner(docs.sparkSession)
    docs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        ingestAs(me, batch.sparkSession, path, bid + 1, batch)
      }
  }
}
