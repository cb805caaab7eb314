package graft.sources

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout (SURVEY.md §2.1 sink_zorder): the
  * multi-dimensional file-skipping lever. A 1-D sort (sink_sorted) gives
  * tight per-file min/max stats on ONE key — queries on any other key scan
  * every file. Interleaving the bits of two bucketed keys into one Morton
  * code and range-partitioning on it keeps files tight on BOTH dimensions
  * (each file covers a small rectangle of the key space), so min/max
  * pruning works for either predicate — the Spark-native analog of the
  * reference warehouse's composite/secondary indexes, and of Z-ORDER in
  * public lakehouse formats.
  *
  * Bucketing is equi-width over the observed min/max (one tiny aggregate);
  * heavily skewed keys would want equi-depth (quantile) boundaries — same
  * plan shape, boundary array from approxQuantile instead. 8 bits per
  * dimension (256×256 cells) is plenty to steer file-grain placement:
  * resolution only needs to exceed the file count.
  */
object ZOrder {

  /** Morton code: interleave the low 8 bits of two bucket ids (built as a
    * static expression tree — codegen'd, no UDF). */
  def morton8(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1)) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(lit(1)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Write `df` laid out on the Morton curve of (colA, colB) into `nFiles`
    * range partitions, with a per-file min/max sidecar on both columns for
    * file skipping (`_minmax_index`). The ranges are cut exactly
    * ([[placeByExactCuts]] over the Morton code of 256 equi-width buckets
    * per column). */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    nFiles: Int): Unit = {
    val Seq(a, b) = equiWidthBuckets(df, Seq(colA, colB), bits = 8)
    placeByExactCuts(df, morton8(a, b), nFiles)
      .sortWithinPartitions("_k")
      .drop("_k")
      .write.mode("overwrite").parquet(path)
    writeMinMaxIndex(df.sparkSession, path, colA, colB)
  }

  /** 1-D comparison layout: range-partition + sort on colA only, same
    * sidecar (what sink_sorted produces; the baseline z-order beats on
    * colB predicates). */
  def writeSortedBy(df: DataFrame, path: String, colA: String, colB: String,
                    nFiles: Int): Unit = {
    Tables.writeSorted(df, path, colA, nFiles)
    writeMinMaxIndex(df.sparkSession, path, colA, colB)
  }

  /** Equi-width bucket ids in [0, 2^bits) of each numeric column over its
    * observed min/max (one aggregate). A null value buckets to null, and
    * so does every value of a column with no non-null value. */
  private[sources] def equiWidthBuckets(df: DataFrame, cols: Seq[String],
                                        bits: Int): Seq[Column] = {
    val n = 1L << bits
    val bounds = cols.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = df.agg(bounds.head, bounds.tail: _*).head()
    cols.indices.map { i =>
      if (r.isNullAt(2 * i)) lit(null).cast("long")
      else {
        val (lo, hi) = (r.getDouble(2 * i), r.getDouble(2 * i + 1))
        least(lit(n - 1), floor((col(cols(i)).cast("double") - lit(lo)) / lit((hi - lo) / n + 1e-12)))
          .cast("long")
      }
    }
  }

  /** `df`'s rows placed in `nFiles` partitions cut at exact equi-depth
    * points of the histogram of `key` (a long expression with at most
    * 65536 distinct values; null keys go first, as range order puts
    * them), with the key kept as column `_k`. A row's partition depends
    * only on the data: `repartitionByRange` would cut at sampled points
    * seeded by the RDD id, so the layout, and the files a range scan
    * touches, would move with whatever ran earlier in the JVM. */
  private[sources] def placeByExactCuts(df: DataFrame, key: Column, nFiles: Int): DataFrame = {
    val kdf = df.withColumn("_k", key)
    val hist = kdf.where(col("_k").isNotNull).groupBy("_k").count().orderBy("_k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = hist.map(_._2).sum
    val upTo = hist.map(_._1).zip(hist.map(_._2).scanLeft(0L)(_ + _).tail)
    val cuts = (1 until nFiles).flatMap(i => upTo.find(_._2 * nFiles >= i * total).map(_._1)).distinct
    val file = cuts.foldLeft(lit(0))((f, c) => f + (col("_k") > c).cast("int"))
    val keyed = kdf.withColumn("_f", coalesce(file, lit(0)))
    // a HashPartitioner sends Int key k < nFiles to partition k
    val rows = keyed.rdd.keyBy(_.getAs[Int]("_f")).partitionBy(new HashPartitioner(nFiles)).values
    df.sparkSession.createDataFrame(rows, keyed.schema).drop("_f")
  }

  private def writeMinMaxIndex(spark: SparkSession, path: String,
                               colA: String, colB: String): Unit =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(colA)).as("amin"), max(col(colA)).as("amax"),
        min(col(colB)).as("bmin"), max(col(colB)).as("bmax"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_minmax_index")

  /** Range scan `lo <= which <= hi` via the sidecar: scan only files whose
    * [min,max] interval on `which` (colA or colB position recorded at
    * write) overlaps. Returns (rows, files scanned) so specs can observe
    * the skipping. Sidecar size = file count — driver-safe by
    * construction. */
  def rangeLookup(spark: SparkSession, path: String, which: String,
                  whichPos: Int, lo: Double, hi: Double): (DataFrame, Seq[String]) = {
    val (mn, mx) = if (whichPos == 0) ("amin", "amax") else ("bmin", "bmax")
    val files = spark.read.parquet(s"$path/_minmax_index")
      .filter(col(mx).cast("double") >= lo && col(mn).cast("double") <= hi)
      .collect().map(_.getAs[String]("file")).toSeq
    val df =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files: _*)
        .filter(col(which).cast("double").between(lo, hi))
    (df, files)
  }
}
