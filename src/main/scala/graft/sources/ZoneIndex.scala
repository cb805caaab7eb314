package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file zone-map sidecar (SURVEY.md §2.1 sink_zone_index): min/max/
  * count/null-count per (file, column), written in ONE distributed pass
  * after the data lands — the range-predicate complement to
  * [[FileIndex]]'s point-lookup blooms.
  *
  * The reference warehouse leans on B-tree indexes for range scans
  * (SQL/create-TCRDv6.sql); a data lake gets the same effect by skipping
  * FILES whose [min, max] cannot intersect the predicate. Pruning power
  * comes from the layout: `writeWithZoneIndex` range-clusters on the
  * leading sort column, so its zones are near-disjoint and a selective
  * range touches O(range/width) files. Secondary columns get zone rows
  * too — they prune only where values correlate with the layout, which
  * is exactly how warehouse zone maps behave (and why the sidecar keeps
  * per-column rows instead of assuming the sort column).
  *
  * At 100 TB the sidecar is #files × #cols rows — planner-sized, not
  * data-sized; reading it costs one tiny parquet scan, never a data scan.
  */
object ZoneIndex {

  /** Range-cluster `df` on `sortCol` into `nFiles` files, then write the
    * `_zone_index` sidecar covering `sortCol` plus `extraCols`. Each
    * (file, column) row also carries a `ndvK`-value KMV distinct sketch
    * ([[graft.functions.KmvAgg]] — mergeable, deterministic), built in
    * the SAME per-file aggregation pass as the min/max — no extra scan.
    * Sketches compose under union, so NDV is answerable for any file
    * subset (a key range, a partition, the whole table) from sidecar
    * bytes alone — the ANALYZE-style column statistic, maintained at
    * write time instead of by a separate stats job. */
  /** One per-file stats pass over `data` for `cols`: min/max/count/nulls
    * + the KMV distinct sketch, one sidecar row per (file, column).
    * ONE scan and ONE per-file aggregation covers EVERY column — the
    * previous per-column `map(..).reduce(unionByName)` form re-scanned
    * and re-aggregated the full data once per covered column (#cols full
    * table reads for one sidecar at 100 TB; 4 serialized scan stages in
    * the sf0.1 profile of q_stats_ndv). The shared count(*) is computed
    * once; the per-(file, column) row shape is restored by exploding an
    * array of per-column structs — same schema, same values, same
    * sidecar bytes (min/max/nulls/KMV are per-column aggregates of the
    * identical inputs, and the KMV bottom-k set is order-independent). */
  private def zoneRows(data: DataFrame, cols: Seq[String], ndvK: Int): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      min(col(c)).as(s"__zmin_$c"),
      max(col(c)).as(s"__zmax_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
      graft.functions.KmvAgg.agg(
        when(col(c).isNotNull, xxhash64(col(c))), ndvK).as(s"__kmv_$c"))
    }
    val wide = data
      .select(input_file_name().as("file") +: cols.map(col): _*)
      .groupBy("file")
      .agg(count(lit(1)).as("cnt"), aggs: _*)
    // try_cast, not cast: a non-numeric covered column (e.g. a string
    // tag) gets NULL zmin/zmax — range pruning is then impossible for
    // it, but its count/null/NDV-sketch stats stay fully valid (ANSI
    // cast would instead fail the whole stats job on the first value)
    val perCol = array(cols.map { c =>
      struct(
        col(s"__nulls_$c").as("nulls"),
        col(s"__kmv_$c").as("kmv"),
        expr(s"try_cast(`__zmin_$c` AS double)").as("zmin"),
        expr(s"try_cast(`__zmax_$c` AS double)").as("zmax"),
        lit(c).as("col"))
    }: _*)
    wide.select(col("file"), col("cnt"), explode(perCol).as("z"))
      .select(col("file"), col("cnt"), col("z.nulls").as("nulls"),
        col("z.kmv").as("kmv"), col("z.zmin").as("zmin"),
        col("z.zmax").as("zmax"), col("z.col").as("col"))
  }

  def writeWithZoneIndex(df: DataFrame, path: String, sortCol: String,
                         nFiles: Int, extraCols: Seq[String] = Nil,
                         ndvK: Int = 1024): Unit = {
    Tables.writeSorted(df, path, sortCol, nFiles)
    val spark = df.sparkSession
    zoneRows(spark.read.parquet(path), sortCol +: extraCols, ndvK)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_zone_index")
  }

  /** Incremental sidecar maintenance under append ingest (the InvertedIndex
    * delta story applied to statistics): stat ONLY the data files the
    * sidecar doesn't know yet — an O(delta) scan, never a table rescan —
    * and append their zone rows. Covered columns and the sketch size are
    * read from the existing sidecar, so refresh needs no schema arguments
    * and cannot drift from the original coverage. An immutable file's
    * stats never change, so existing rows stand and a no-delta refresh is
    * a no-op. Data files may sit flat OR in `batch_id=<n>` subdirs (the
    * streaming-append convention — [[SidecarLayout]]); when a known file
    * has VANISHED (a replayed micro-batch overwrote its batch dir, or a
    * compaction rewrote the layout), its rows are pruned in the same
    * pass — the sidecar never points at dead files, and lookups stay
    * exact across replays. Returns the number of newly statted files. */
  def refreshIncremental(spark: SparkSession, path: String,
                         crashAfter: Int = Int.MaxValue): Int = {
    val canonical = s"$path/_zone_index"
    val sideDir = SidecarLayout.sidecarDir(spark, path, "_zone_index")
    val side = spark.read.parquet(sideDir)
    val cols = side.select("col").distinct().collect().map(_.getString(0)).sorted
    val ndvK = graft.functions.KmvAgg.fromBytes(
      side.select("kmv").head().getAs[Array[Byte]](0))._1
    val known = side.select("file").distinct().collect().map(_.getString(0))
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    val disk = SidecarLayout.dataFiles(spark, path)
    val diskNames = disk.map(_.getPath.getName).toSet
    val fresh = disk.filter(st => !known.contains(st.getPath.getName))
      .map(_.getPath.toString)
    val stale = known -- diskNames
    // sideDir != canonical means a previous replace crashed half-swapped
    // (serving the _prev backup): heal through the staged-replace path
    // even when nothing changed, restoring the canonical layout
    if (fresh.isEmpty && stale.isEmpty && sideDir == canonical) {
      // a replace that crashed after its swap leaves a stale backup —
      // finish its cleanup so the layout converges to canonical-only
      val p = new org.apache.hadoop.fs.Path(canonical)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(AtomicSwap.prevOf(p), true)
      0
    } else {
      val freshRows = Option.when(fresh.nonEmpty)(
        zoneRows(spark.read.parquet(fresh: _*), cols.toIndexedSeq, ndvK))
      if (stale.isEmpty && sideDir == canonical)
        // append of immutable-file rows: parquet's job commit keeps
        // concurrent sidecar readers on a complete row set throughout
        freshRows.get.coalesce(1).write.mode("append").parquet(canonical)
      else {
        // replay/heal path: drop rows of vanished files, keep the rest,
        // add the fresh ones — landed via the crash-safe staged swap
        // (a reader at any crash point still resolves a complete
        // sidecar). localCheckpoint materializes the survivors BEFORE
        // the swap renames the dir they were read from.
        val kept = side.filter(
          element_at(split(col("file"), "/"), -1).isInCollection(diskNames))
        SidecarLayout.replaceSidecar(
          freshRows.fold(kept)(kept.unionByName(_)).localCheckpoint(true),
          path, "_zone_index", crashAfter)
      }
      fresh.length
    }
  }

  /** Distinct-count estimate for `colName` over the key range [lo, hi] of
    * the CLUSTERED layout, answered from sidecar bytes alone: union the
    * KMV sketches of the may-intersect files (planner-sized — #files
    * sketches of ~8 KB), never read a data file. The files at the range
    * boundary contribute their full sketch, so the estimate upper-bounds
    * the range's true NDV by at most the two boundary files' spill — the
    * same granularity every zone-map statistic has. Returns
    * (ndvEstimate, filesConsidered). */
  def estimateDistinctInRange(spark: SparkSession, path: String,
                              colName: String, lo: Double, hi: Double): (Double, Int) = {
    // a non-numeric column (e.g. a string) has NULL zmin/zmax (the
    // double cast) but a perfectly valid KMV sketch — its zone rows must
    // CONTRIBUTE, not vanish through a three-valued range comparison:
    // range-prune only zones that provably cannot intersect [lo, hi].
    // The data dir resolves through AtomicSwap.live first (a swap may
    // hold the only complete snapshot at `_prev` mid-rename), then the
    // sidecar resolves within it.
    val zp = new org.apache.hadoop.fs.Path(path)
    val zfs = zp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val zLive = AtomicSwap.live(zfs, zp).map(_.toString).getOrElse(path)
    val rows = spark.read.parquet(SidecarLayout.sidecarDir(spark, zLive, "_zone_index"))
      .filter(col("col") === colName)
      .filter(col("nulls") < col("cnt"))
      .filter((col("zmax").isNull || col("zmax") >= lo) &&
        (col("zmin").isNull || col("zmin") <= hi))
      .select("kmv")
      .collect().map(_.getAs[Array[Byte]](0))
    if (rows.isEmpty) (0.0, 0)
    else {
      val merged = rows.reduce(graft.functions.KmvAgg.union)
      (graft.functions.KmvAgg.estimateDistinct(merged), rows.length)
    }
  }

  /** Files whose [zmin, zmax] zone for `colName` may intersect [lo, hi].
    * All-null zones never match a range predicate and are skipped.
    * Paths resolve by BASENAME against the live listing so the sidecar
    * survives directory moves/renames (compactSwap builds under `_next`).
    * The listing itself resolves through [[AtomicSwap.live]] — a reader
    * landing between a swap's two renames (dir momentarily at `_prev`)
    * still sees one complete snapshot, same contract as
    * [[SidecarLayout.readData]]. */
  def candidateFiles(spark: SparkSession, path: String, colName: String,
                     lo: Double, hi: Double): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveDir = AtomicSwap.live(fs, p).map(_.toString).getOrElse(path)
    val live = SidecarLayout.dataFiles(spark, liveDir)
      .map(st => st.getPath.getName -> st.getPath.toString).toMap
    spark.read.parquet(SidecarLayout.sidecarDir(spark, liveDir, "_zone_index"))
      .filter(col("col") === colName)
      .filter(col("nulls") < col("cnt"))
      .filter(col("zmax") >= lo && col("zmin") <= hi)
      .select("file")
      .collect().map(_.getString(0)) // sidecar = file list, planner-sized
      .flatMap(f => live.get(f.substring(f.lastIndexOf('/') + 1))).toSeq
  }

  /** Range scan via the sidecar: read only may-intersect files, then
    * apply the exact predicate. Returns (rows, files scanned) so callers
    * and specs observe the skipping. */
  def rangeLookup(spark: SparkSession, path: String, colName: String,
                  lo: Double, hi: Double): (DataFrame, Seq[String]) = {
    val files = candidateFiles(spark, path, colName, lo, hi)
    val pred: Column = col(colName) >= lo && col(colName) <= hi
    val df =
      if (files.isEmpty) SidecarLayout.readData(spark, path).filter(lit(false))
      else spark.read.parquet(files: _*).filter(pred)
    (df, files)
  }
}
