package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.Try

/** Source layer: typed access to the benchmark parquet tables plus the
  * generic ingestion helpers the reference pipeline needs (CSV/TSV with
  * explicit schema — the `python/csv2sql.py` / `python/csv_utils.py`
  * capability — and partitioned parquet sinks).
  *
  * A table read infers the file's schema once per source, not once per
  * read: a bare `spark.read.parquet` launches a schema-inference job (one
  * footer read) every time, so [[table]] memoizes the inferred schema and
  * reads `spark.read.schema(s).parquet(path)` afterwards. The memo key is
  * the path's `FileStatus` (qualified path, length, modification time)
  * plus every set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
  * value, so a rewritten file or a changed inference conf is inferred
  * again; it holds the 256 most recently used sources. Filters and
  * column pruning still push into the scan (verify via explain:
  * PushedFilters / ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquetMemo(spark, s"$dir/$name.parquet")

  private val SchemaMemoEntries = 256
  private type SchemaKey = (String, Long, Long, Seq[(String, String)])
  private val schemaMemo = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size() > SchemaMemoEntries
  }

  /** A parquet read that infers `path`'s schema only on a memo miss. If
    * the status call fails (a missing path), the read is a plain
    * `spark.read.parquet`, so Spark raises its own error. */
  private def readParquetMemo(spark: SparkSession, path: String): DataFrame = {
    val key = Try {
      val p = new Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted
      (st.getPath.toString, st.getLen, st.getModificationTime, confs)
    }.toOption
    key.flatMap(k => schemaMemo.synchronized(Option(schemaMemo.get(k)))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemaMemo.synchronized(schemaMemo.put(k, df.schema)))
        df
    }
  }

  /** Like [[table]] but routes names with non-standard physical types
    * through their normalizing accessor (events: TIMESTAMP(NANOS)). */
  def tableNormalized(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else table(spark, dir, name)

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The events table's `ts` column has shipped under three different
    * physical parquet encodings across test-data generations, so normalize
    * all of them to a session-local (LTZ) microsecond timestamp:
    *
    *  - TIMESTAMP(NANOS): Spark only reads it as a raw long (the legacy
    *    nanosAsLong conf, set once by GraftSession.builder);
    *    integer-divide to micros (nanos exceed 2^53 — float division would
    *    lose precision; truncation matches nanos→micros readers like DuckDB).
    *  - timestamp[us] without the UTC flag: Spark 4 reads it as
    *    TIMESTAMP_NTZ, which `unix_micros`/`window`/etc. reject. The session
    *    timezone is pinned UTC (GraftSession), so casting NTZ→LTZ reproduces
    *    exactly the instant DuckDB reads from the same micros.
    *  - timestamp[us] UTC-flagged: already TIMESTAMP_LTZ, pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view (SQL entry point). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => tableNormalized(spark, dir, n).createOrReplaceTempView(n))

  /** CSV/TSV ingest with an explicit schema — never infer on a 100 TB
    * input (schema inference is a full extra pass over the data).
    * Reference analog: `python/csv2sql.py`. */
  def readDelimited(spark: SparkSession, path: String, schema: StructType,
                    delimiter: String = ",", header: Boolean = true): DataFrame =
    spark.read
      .option("sep", delimiter)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)

  /** JSON-lines ingest with an explicit schema (same never-infer rule as
    * CSV). PERMISSIVE mode keeps malformed lines as nulls instead of
    * failing a 100 TB job on one bad record; route them to a quarantine
    * sink via the _corrupt_record column if the schema declares one. */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .json(path)

  /** XML ingest via Spark 4's native XML source: `rowTag` names the
    * repeated record element, the schema is explicit (inference is a full
    * extra pass — never at 100 TB), and malformed records land in
    * `_corrupt_record` instead of failing the job (quarantine them with a
    * filter, same contract as [[readJsonLines]]). Record splitting is
    * distributed: the reader locates rowTag boundaries inside file splits,
    * so one giant XML dump parallelizes across tasks. Reference analog:
    * the XML loader family — lxml over full UniProt/NCBI/PubMed dumps
    * (loaders/load-UniProt.py:108, load-NCBIGene.py, load-PubMed.py). */
  def readXml(spark: SparkSession, path: String, rowTag: String,
              schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .load(path)
  }

  /** XML sink (round-trip surface for the XML interop path). */
  def writeXml(df: DataFrame, path: String, rowTag: String,
               rootTag: String): Unit =
    df.write.mode("overwrite").format("xml")
      .option("rowTag", rowTag).option("rootTag", rootTag).save(path)

  /** OBO/stanza-format text ingest (python/obo.py, loaders/load-Ontologies.py):
    * reading with a custom record separator (`lineSep` = "\n[Term]") makes
    * each row one whole stanza, and Hadoop's record reader resolves
    * separator occurrences across split boundaries — so a multi-GB ontology
    * file parses fully distributed, no wholeTextFiles single-task read.
    * Rows are trimmed at the next non-Term stanza header ("[Typedef]" etc.)
    * and non-stanza preamble rows (the OBO header) drop out as rows with no
    * id. Returns (term_id, name, parents) with one row per [Term]. */
  def readOboTerms(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.option("lineSep", "\n[Term]").text(path)
      // keep only the current stanza: cut at the next "[X]" header, if any
      .select(substring_index(col("value"), "\n[", 1).as("stanza"))
      .select(
        regexp_extract(col("stanza"), """(?m)^id: (\S+)""", 1).as("term_id"),
        regexp_extract(col("stanza"), """(?m)^name: (.*)$""", 1).as("name"),
        expr("""regexp_extract_all(stanza, '(?m)^is_a: (\\S+)', 1)""").as("parents"))
      .filter(col("term_id") =!= "")
  }

  /** Partitioned parquet sink: partition column choice is the scale lever
    * (keep per-partition file counts bounded; low-cardinality keys only). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Range-partitioned, sorted parquet write: rows land in files whose
    * min/max column statistics are tight and disjoint, so a filtered read
    * later skips whole files/row-groups on the sort key — the 1-D data
    * layout lever for a 100 TB table scanned by key ranges (the reference
    * equivalent: MySQL clustered index order). A numeric key is cut
    * exactly ([[ZOrder.placeByExactCuts]] over 65536 equi-width key
    * buckets), so the layout depends only on the data; any other key type
    * keeps `repartitionByRange`'s sampled cut. */
  def writeSorted(df: DataFrame, path: String, sortCol: String, numFiles: Int): Unit = {
    val placed = df.select(sortCol).schema.head.dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        val key = ZOrder.equiWidthBuckets(df, Seq(sortCol), bits = 16).head
        ZOrder.placeByExactCuts(df, key, numFiles).drop("_k")
      case _ => df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(sortCol))
    }
    placed.sortWithinPartitions(sortCol).write.mode("overwrite").parquet(path)
  }

  /** ORC read/write: second columnar format (same pushdown/pruning
    * contract as parquet — predicate pushdown via ORC's min/max stripes,
    * column projection via the reader schema). Interop surface for
    * warehouses whose upstream emits ORC. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Schema-evolving parquet read: union the schemas of all files
    * (mergeSchema), so a dataset whose producers added columns over time
    * reads as one table with nulls where absent. Costs a footer pass over
    * every file — turn it on only for evolving datasets. */
  def readParquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Small-file compaction: rewrite a parquet dataset into files of
    * roughly `targetRowsPerFile`. The 100 TB hygiene job — metadata
    * pressure and task-per-tiny-file overhead are what actually kill
    * long-lived datasets; repartition count derives from the real row
    * count, not a guess. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetRowsPerFile: Long): Long = {
    val df = spark.read.parquet(inPath)
    val n = df.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    df.repartition(files).write.mode("overwrite").parquet(outPath)
    n
  }
}
