package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Local testing runs `local[32]`; the same conf knobs are the ones that
  * matter on a real cluster (AQE, skew-join handling, broadcast sizing).
  * Shuffle partitions default to the local core count — on a cluster this
  * would be set to ~2-3x total executor cores by the deployer.
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val base = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // runtime row-group pruning for large shuffle joins: inject a bloom
      // filter built from the selective side into the big side's scan —
      // at 100 TB this skips whole row groups before the shuffle
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // point-read patterns (NearDupIndex.query's candidate-id verify,
      // lookup's gram probes) push BIG id lists into id-clustered parquet:
      // above this threshold Spark degrades an In to a min/max range
      // filter, which is useless for scattered ids — raise it so the
      // pushed predicate keeps per-file/row-group skipping up to the
      // collect caps those operators enforce
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "10000")
      .config("spark.sql.debug.maxToStringFields", "200")
      // parquet TIMESTAMP(NANOS) reads as a raw long, which
      // Tables.events normalizes to micros (Spark rejects it otherwise);
      // set here, not per read, so no read changes the session's confs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // iterative operators localCheckpoint each round; the blocks are
      // freed by the ContextCleaner only after a driver GC notices the
      // dead RDD handles. The default periodic-GC interval (30min) lets
      // dead checkpoint blocks pile up across a many-query session and
      // evict/THRASH live ones — 1min keeps storage honest. (Explicit
      // per-query unpersist in Bench measures each plan from a clean
      // slate; this conf covers every other long-lived session.)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // deployer conf overrides, applied LAST so they win over the local
    // defaults above: SPARK_GRAFT_CONF="key=value;key=value". The knobs
    // that differ between this local[CPUS] harness and a cluster
    // (partition sizing, codecs, speculation — see clusterConf) stay
    // parameterised instead of hard-coded for either environment.
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';').toSeq).map(_.trim).filter(_.nonEmpty)
      .foldLeft(base) { (bb, kv) =>
        kv.split("=", 2) match {
          case Array(k, v) => bb.config(k.trim, v.trim)
          case _ => bb
        }
      }
  }

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cluster deployment posture: the conf deltas between this repo's
    * local[CPUS] harness and a real 100 TB / 1000-executor run. Returned
    * as a map (apply to a builder, or `--conf` them) so the numbers are
    * CODE, not tribal knowledge:
    *
    *  - shuffle partitions ≈ 2× total cores — every task slot busy, tasks
    *    still big enough to amortize scheduling; AQE coalesces the light
    *    stages back down, so over-partitioning is the safe side;
    *  - 256 MB advisory post-shuffle partition size — at petabyte shuffle
    *    volume, the 64 MB default makes millions of reducers whose
    *    PER-PARTITION overhead dominates; AQE splits skew above it;
    *  - 256 MB file-split size so scan tasks match reducer weight
    *    (footer/open overhead amortized, still parallel enough);
    *  - speculation on: at 1000 executors a straggling node is a
    *    certainty per job, and every graft operator is idempotent
    *    (pure transformations + atomic commit sinks), so re-attempts
    *    are safe;
    *  - reliable checkpoint dir: iterative operators localCheckpoint
    *    per round on executors — fine until an executor dies mid-round;
    *    on a cluster point the same call sites at `checkpointDir` via
    *    sc.setCheckpointDir + Dataset.checkpoint (the operators keep
    *    their cadence, only the storage target changes);
    *  - Kryo with registrationRequired=false: the custom aggregates ship
    *    long[]/double[] buffers — Kryo halves their wire size vs Java
    *    serialization. */
  def clusterConf(totalCores: Int, checkpointDir: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (totalCores * 2).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (256L << 20).toString,
    "spark.sql.files.maxPartitionBytes" -> (256L << 20).toString,
    "spark.speculation" -> "true",
    "spark.speculation.multiplier" -> "3",
    // pushed big-IN parquet filters (the NearDupIndex candidate-id verify
    // read) evaluate as an id-count-deep OR chain in parquet-mr — give
    // task threads stack for the 10k-id cap those operators enforce
    "spark.executor.extraJavaOptions" -> "-Xss16m",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.checkpoint.dir" -> checkpointDir,
    // cost-based optimization: catalog tables ANALYZEd after each load
    // (the loaders' natural commit hook) give the optimizer real row
    // counts + column NDV/min/max — join reorder and build-side choice
    // stop guessing from file sizes. CboSpec pins the propagation.
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true",
    "spark.sql.statistics.histogram.enabled" -> "true")

  /** Streaming state-store posture for long-running stateful queries
    * (dedup-within-watermark, sessionization, funnels): RocksDB keeps
    * per-key state off-heap and on local disk with incremental
    * checkpointing — the default HDFS-backed store holds every key on the
    * executor heap, which at firehose key cardinality is an OOM, not a
    * tuning problem. Changelog checkpointing ships per-batch deltas
    * instead of full SST snapshots. Apply to the builder of any streaming
    * job; batch plans are unaffected. */
  def withRocksDbState(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
}
