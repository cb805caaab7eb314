package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming tumbling window matches batch semantics") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "event_type", "value", "ts")
    val q = StreamingOps.tumblingCounts(df)
      .writeStream.format("memory").queryName("tumble").outputMode("append").start()
    try {
      mem.addData(
        (1L, "click", 1.0, ts("2024-01-01 10:00:00")),
        (2L, "click", 2.5, ts("2024-01-01 11:00:00")),
        (3L, "view", 4.0, ts("2024-01-02 09:00:00")))
      q.processAllAvailable()
      // watermark must pass day-1 before its window emits (append mode)
      mem.addData((4L, "click", 1.0, ts("2024-01-05 00:00:00")))
      q.processAllAvailable()
      mem.addData((5L, "click", 1.0, ts("2024-01-09 00:00:00")))
      q.processAllAvailable()
      val got = spark.sql("SELECT day, event_type, cnt, sum_value FROM tumble")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got.contains(("2024-01-01", "click", 2L, 3.5)))
      assert(got.contains(("2024-01-02", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming dedup drops replayed event ids") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "event_type", "ts")
    val q = StreamingOps.dedupEvents(df)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData((1L, "click", ts("2024-01-01 10:00:00")),
        (1L, "click", ts("2024-01-01 10:00:00")),
        (2L, "view", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      mem.addData((2L, "view", ts("2024-01-01 10:02:00")), (3L, "view", ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM dedup").head().getLong(0)
      assert(n == 3L) // 1, 2, 3 — replays dropped
    } finally q.stop()
  }

  test("stream-static enrichment attaches dim attributes per micro-batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("user_id", "event_type")
    val q = StreamingOps.enrichStream(df, dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      mem.addData((1L, "click"), (3L, "view"))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, tier FROM enriched").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(got === Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("streaming upsert sink: last-writer-wins snapshot across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").resolve("snap").toString
    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("id", "val", "version")
    val q = StreamingOps.upsertSink(df, dir, "id", "version").start()
    try {
      mem.addData((1L, "a", 1L), (2L, "b", 1L), (1L, "a2", 2L))
      q.processAllAvailable()
      mem.addData((2L, "b2", 3L), (3L, "c", 1L), (1L, "stale", 1L))
      q.processAllAvailable()
      val got = spark.read.parquet(dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // 1 keeps v2 (in-batch dedup beat v1; later stale v1 loses to snapshot v2)
      assert(got === Set((1L, "a2", 2L), (2L, "b2", 3L), (3L, "c", 1L)))
    } finally q.stop()
  }

  test("upsert sink restarts from its checkpoint: no replay, snapshot state resumes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_restart")
    val in = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val snap = root.resolve("snap").toString
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, val STRING, version BIGINT")
    def feed(rows: (Long, String, Long)*): Unit =
      rows.toDF("id", "val", "version").coalesce(1).write.mode("append").parquet(in)
    def run(): (Set[(Long, String, Long)], Long) = {
      val src = spark.readStream.schema(sch).parquet(in)
      val q = StreamingOps.upsertSink(src, snap, "id", "version")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      val rowsIn = q.recentProgress.map(_.numInputRows).sum
      val got = spark.read.parquet(snap).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      (got, rowsIn)
    }
    feed((1L, "a", 1L), (2L, "b", 1L))
    val (got1, in1) = run()
    assert(got1 === Set((1L, "a", 1L), (2L, "b", 1L)))
    assert(in1 === 2L)
    // new files land while the query is DOWN; the restart must pick up
    // ONLY them (file-source offsets from the checkpoint — replaying the
    // first file would double-count numInputRows) and merge onto the
    // snapshot it left behind (2 survives without re-delivery)
    feed((1L, "a2", 2L), (3L, "c", 1L))
    val (got2, in2) = run()
    assert(got2 === Set((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L)))
    assert(in2 === 2L, s"restart replayed already-committed input: $in2 rows")
  }

  test("streaming sessionization emits closed sessions after watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 7: two sessions 45 min apart; user 8: one session
      mem.addData(
        Ev(7L, 1L, ts("2024-01-01 10:00:00")),
        Ev(7L, 2L, ts("2024-01-01 10:10:00")),
        Ev(7L, 3L, ts("2024-01-01 10:55:00")),
        Ev(8L, 4L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // push watermark far ahead so all sessions time out
      mem.addData(Ev(9L, 99L, ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      mem.addData(Ev(9L, 100L, ts("2024-01-03 12:00:00")))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, n_events, first_event_id, duration_us FROM sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got.contains((7L, 2L, 1L, 600000000L)), s"got $got") // 10:00-10:10
      assert(got.contains((7L, 1L, 3L, 0L)))
      assert(got.contains((8L, 1L, 4L, 0L)))
    } finally q.stop()
  }

  test("dedup-within-watermark reclaims state (RocksDB provider): replays drop inside the horizon, state evicts past it") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // RocksDB state store — the cluster posture GraftSession.withRocksDbState
    // applies; set on the session so this streaming query picks it up
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val df = mem.toDF().toDF("event_id", "event_type", "ts")
      val q = StreamingOps.dedupEventsWithinWatermark(df, "1 hour")
        .writeStream.format("memory").queryName("dedup_wm").outputMode("append").start()
      try {
        mem.addData(
          (1L, "click", ts("2024-01-01 10:00:00")),
          (1L, "click", ts("2024-01-01 10:05:00")), // replay inside horizon
          (2L, "view", ts("2024-01-01 10:10:00")))
        q.processAllAvailable()
        // replay id 1 again within the watermark window -> still dropped
        mem.addData((1L, "click", ts("2024-01-01 10:20:00")))
        q.processAllAvailable()
        // push the watermark far past id 1's horizon; its state is evicted
        mem.addData((3L, "view", ts("2024-01-01 20:00:00")))
        q.processAllAvailable()
        // id 1 reappears AFTER eviction: a fresh row (bounded state means
        // dedup guarantees hold only within the replay horizon — by design)
        mem.addData((1L, "click", ts("2024-01-01 19:30:00")))
        q.processAllAvailable()
        val rows = spark.sql("SELECT event_id FROM dedup_wm").collect().map(_.getLong(0))
        assert(rows.count(_ == 1L) == 2, s"rows=${rows.toSeq}")
        assert(rows.count(_ == 2L) == 1)
        assert(rows.count(_ == 3L) == 1)
      } finally q.stop()
    }
  }

  test("native session_window stream matches the same expression in batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // user 7: 10:00 + 10:20 merge (gap 30m), 11:30 is a new session;
    // user 8: one singleton session
    val rows = Seq(
      (7L, ts("2024-01-01 10:00:00")),
      (7L, ts("2024-01-01 10:20:00")),
      (7L, ts("2024-01-01 11:30:00")),
      (8L, ts("2024-01-01 10:00:00")))
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingOps.sessionWindowCounts(mem.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("swc").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // advance the watermark past every session close so all emit
      mem.addData((9L, ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      mem.addData((9L, ts("2024-01-03 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, start_us, end_us, n_events FROM swc WHERE user_id IN (7, 8)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = StreamingOps.sessionWindowCounts(rows.toDF("user_id", "ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch.count(_._1 == 7L) == 2) // merged + separate sessions
    } finally q.stop()
  }

  test("streaming windowed top-k (TopKAgg) merges across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "event_type", "ts")
    val q = StreamingOps.windowedTopK(df, k = 3)
      .writeStream.format("memory").queryName("wtopk").outputMode("append").start()
    try {
      // same window split across two micro-batches: the final top-3 must
      // reflect BOTH batches (i.e. the heap state merged incrementally)
      mem.addData((5L, "click", ts("2024-01-01 10:00:00")),
        (1L, "click", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      mem.addData((9L, "click", ts("2024-01-01 12:00:00")),
        (3L, "click", ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      // advance the watermark so the day-1 window closes and emits
      mem.addData((100L, "view", ts("2024-01-05 00:00:00")))
      q.processAllAvailable()
      mem.addData((101L, "view", ts("2024-01-09 00:00:00")))
      q.processAllAvailable()
      val got = spark.sql("SELECT day, event_type, top_ids FROM wtopk WHERE day = '2024-01-01'")
        .collect().map(r => (r.getString(0), r.getString(1), r.getSeq[Long](2))).toSet
      assert(got == Set(("2024-01-01", "click", Seq(9L, 5L, 3L))), s"got $got")
    } finally q.stop()
  }

  test("streaming windowed quantiles (SampleQuantileAgg) merge across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "event_type", "value", "ts")
    val q = StreamingOps.windowedQuantile(df)
      .writeStream.format("memory").queryName("wq").outputMode("append").start()
    try {
      // one day-window split across two micro-batches; below k the sample
      // is complete, so the emitted quantiles must EQUAL the exact
      // percentile interpolation over all 5 values
      mem.addData((1L, "click", 10.0, ts("2024-01-01 10:00:00")),
        (2L, "click", 20.0, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      mem.addData((3L, "click", 30.0, ts("2024-01-01 12:00:00")),
        (4L, "click", 40.0, ts("2024-01-01 13:00:00")),
        (5L, "click", 50.0, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      mem.addData((100L, "view", 1.0, ts("2024-01-05 00:00:00")))
      q.processAllAvailable()
      mem.addData((101L, "view", 1.0, ts("2024-01-09 00:00:00")))
      q.processAllAvailable()
      val got = spark.sql("SELECT day, event_type, p50, p95 FROM wq WHERE day = '2024-01-01'")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
      // exact: p50 of 10..50 = 30; p95 = 40 + 0.8*10 = 48
      assert(got == Set(("2024-01-01", "click", 30.0, 48.0)), s"got $got")
    } finally q.stop()
  }

  test("streaming windowed CMS sketch == batch recomputation, estimates cover exact") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "event_type", "ts")
    val q = StreamingOps.windowedFreqSketch(df)
      .writeStream.format("memory").queryName("wcms").outputMode("append").start()
    val day1 = Seq(
      (1L, "click", ts("2024-01-01 10:00:00")),
      (2L, "click", ts("2024-01-01 11:00:00")),
      (3L, "view", ts("2024-01-01 12:00:00")),
      (4L, "click", ts("2024-01-01 13:00:00")),
      (5L, "buy", ts("2024-01-01 14:00:00")))
    try {
      // same window split across micro-batches: counters must merge
      mem.addData(day1.take(2): _*)
      q.processAllAvailable()
      mem.addData(day1.drop(2): _*)
      q.processAllAvailable()
      mem.addData((100L, "view", ts("2024-01-05 00:00:00")))
      q.processAllAvailable()
      mem.addData((101L, "view", ts("2024-01-09 00:00:00")))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT cms FROM wcms WHERE day = '2024-01-01'")
        .collect().map(_.getAs[Array[Byte]](0))
      assert(streamed.length == 1, "exactly one closed day-1 window")
      // bit-identical to a batch pass over the same rows
      val batch = day1.toDF("event_id", "event_type", "ts")
        .agg(graft.functions.CmsAgg.agg(xxhash64(col("event_type")), 256, 4))
        .head().getAs[Array[Byte]](0)
      assert(streamed.head.toSeq == batch.toSeq, "stream != batch sketch bytes")
      // probe estimates cover the exact counts
      val hashes = Seq("click", "view", "buy").map { k =>
        k -> day1.toDF("event_id", "event_type", "ts").filter(col("event_type") === k)
          .select(xxhash64(col("event_type"))).head().getLong(0)
      }
      val exact = Map("click" -> 3L, "view" -> 1L, "buy" -> 1L)
      hashes.foreach { case (k, h) =>
        val est = graft.functions.CmsAgg.estimate(streamed.head, h)
        assert(est >= exact(k), s"$k under-counted: $est < ${exact(k)}")
        assert(est <= exact(k) + 1, s"$k overcount too large on 5 rows: $est")
      }
    } finally q.stop()
  }

  test("streaming near-dup screen flags copies of indexed docs, passes fresh ones") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpus = graft.sources.Tables.documents(spark, TinyDir)
    val index = StreamingOps.buildNearDupIndex(corpus).localCheckpoint(true)
    val someDoc = corpus.select("doc_id", "text").head()
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = StreamingOps.nearDupStream(df, index)
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    try {
      mem.addData(
        (900001L, someDoc.getString(1)), // verbatim copy of an indexed doc
        (900002L, "zq xv wk jn qqq pp zz yy totally novel gibberish row"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, dup_id, est_jaccard FROM neardup").collect()
      val byDoc = got.groupBy(_.getLong(0))
      // the copy must match its source with est_jaccard 1.0
      assert(byDoc.contains(900001L), s"copy not flagged: ${got.mkString(",")}")
      assert(byDoc(900001L).exists(r =>
        r.getLong(1) == someDoc.getLong(0) && r.getDouble(2) == 1.0))
      // the novel doc must not be flagged
      assert(!byDoc.contains(900002L))
    } finally q.stop()
  }

  test("decontam screen cache invalidates on an index swap between micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, TinyDir)
    val idx = s"/tmp/graft_screen_swap_${System.nanoTime()}"
    // generation 1 indexes an EMPTY benchmark suite: batch 1 must flag
    // nothing even though the probe docs are exact copies of corpus docs
    graft.ops.Dedup.NearDupIndex.build(docs.limit(0), idx)
    val out = java.nio.file.Files.createTempDirectory("screen_swap_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("screen_swap_ck").toString
    val probes = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.screenSink(
        mem.toDF().toDF("doc_id", "text"), idx, out)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(probes.toIndexedSeq: _*); q.processAllAvailable()
      // the swap: rebuild the index over the real benchmark docs — the
      // frozen-side cache keyed on the live root must pick this up on
      // the NEXT batch without a restart
      graft.ops.Dedup.NearDupIndex.rebuild(spark, idx, docs.filter(col("doc_id") < 25))
      mem.addData(probes.toIndexedSeq: _*); q.processAllAvailable()
      // the append: a new suite doc lands under the SAME root (no swap —
      // the profiles-dir mtime is the identity that must move); a copy
      // of it arriving in the next batch must flag (review r11: a
      // root-only cache key silently served the pre-append snapshot)
      graft.ops.Dedup.NearDupIndex.append(spark, idx,
        docs.filter(col("doc_id") === 30L), region = "late")
      val lateProbe = docs.filter(col("doc_id") === 30L)
        .select((col("doc_id") + 2000L).as("doc_id"), col("text"))
        .as[(Long, String)].collect()
      mem.addData(lateProbe.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val flagged = spark.read.option("basePath", out).parquet(out)
      .select(col("id"), input_file_name().as("f")).collect()
    val b0 = flagged.filter(_.getString(1).contains("part=batch_0"))
    val b1 = flagged.filter(_.getString(1).contains("part=batch_1"))
    val b2 = flagged.filter(_.getString(1).contains("part=batch_2"))
    assert(b0.isEmpty, s"batch 0 screened against a non-empty gen-1 index: ${b0.length} rows")
    assert(b1.nonEmpty, "batch 1 still served the stale empty index after the swap")
    // every probe is a verbatim copy of an indexed doc — all must flag
    assert(b1.map(_.getLong(0)).toSet == probes.map(_._1).toSet,
      "post-swap screen missed copies of newly indexed docs")
    assert(b2.map(_.getLong(0)).toSet == Set(2030L),
      "post-append screen served the stale pre-append snapshot")
  }

  test("streaming decontam screen: micro-batched union == one-shot batch screen") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, TinyDir)
    val idx = s"/tmp/graft_screen_stream_${System.nanoTime()}"
    graft.ops.Dedup.NearDupIndex.build(docs.filter(col("doc_id") < 25), idx)
    val out = java.nio.file.Files.createTempDirectory("screen_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("screen_ck").toString
    val train = docs.filter(col("doc_id") >= 25)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (b1, b2) = train.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.screenSink(
        mem.toDF().toDF("doc_id", "text"), idx, out)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // screen emits no batch<->batch pairs, so micro-batching cannot
    // change any doc's verdict: streamed union == one-shot screen
    val streamed = spark.read.parquet(out)
      .select("id", "index_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = graft.ops.Dedup.NearDupIndex
      .screen(spark, idx, docs.filter(col("doc_id") >= 25))
      .select("id", "index_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == oneShot,
      s"missing=${oneShot -- streamed} extra=${streamed -- oneShot}")
    assert(oneShot.nonEmpty, "spec corpus must have cross-boundary near-dups")
    // regioned layout: one overwrite-idempotent dir per micro-batch
    val regions = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part=batch_")).map(_.getName).sorted
    assert(regions.length == 2, regions.mkString(","))
  }

  test("streaming DSIR tagging: frozen model, streamed union == one-shot scoring, regioned layout") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, TinyDir).localCheckpoint(true)
    val modelDir = java.nio.file.Files.createTempDirectory("dsir_model").toString
    val out = java.nio.file.Files.createTempDirectory("dsir_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dsir_ck").toString
    // fit once on the corpus, freeze to parquet (the serving artifact)
    graft.ops.PipelineOps3.dsirModel(docs)
      .write.mode("overwrite").parquet(s"$modelDir/model.parquet")
    // "tomorrow's crawl": a held-out slice arriving in two micro-batches
    val arriving = docs.filter(col("doc_id") % 3 === 0)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val (b1, b2) = arriving.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.dsirScoreSink(
        mem.toDF().toDF("doc_id", "source", "text"),
        s"$modelDir/model.parquet", out)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_grams", "log_weight", "selected").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val oneShot = graft.ops.PipelineOps3.dsirScore(
        docs.filter(col("doc_id") % 3 === 0),
        spark.read.parquet(s"$modelDir/model.parquet"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(streamed == oneShot,
      s"missing=${(oneShot -- streamed).take(3)} extra=${(streamed -- oneShot).take(3)}")
    assert(oneShot.nonEmpty)
    // the model stayed frozen: batch docs did not shift any weights — a
    // re-fit over corpus+arrivals would disagree on at least one doc
    val refit = graft.ops.PipelineOps3.dsirScore(
        docs.filter(col("doc_id") % 3 === 0), graft.ops.PipelineOps3.dsirModel(docs.union(docs.filter(col("doc_id") % 3 === 0))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(refit != streamed, "refit sentinel: scoring must depend on the frozen model")
    val regions = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part=batch_")).map(_.getName).sorted
    assert(regions.length == 2, regions.mkString(","))
  }

  test("streaming fan-out: one cached batch feeds N sinks; batch dirs + ledger idempotent layout") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sfanout").toString
    val mem = MemoryStream[(Long, String, String)]
    val parsed = mem.toDF().toDF("doc_id", "source", "text")
    val sinks = Seq(
      graft.sources.FanOut.Sink("core",
        df => df.select("doc_id", "source", "text"), s"$root/core"),
      graft.sources.FanOut.Sink("tokens",
        df => df.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        s"$root/tokens"),
      graft.sources.FanOut.Sink("by_source",
        df => df.groupBy("source").agg(count(lit(1)).as("n_docs")),
        s"$root/by_source"))
    val q = StreamingOps.fanOutSink(parsed, sinks, provDir = Some(s"$root/prov"))
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      mem.addData((1L, "web", "a b c"), (2L, "web", "d e"), (3L, "book", "f"))
      q.processAllAvailable()
      mem.addData((4L, "web", "g h"))
      q.processAllAvailable()
    } finally q.stop()
    // every sink saw both batches exactly once, in batch_id partition dirs
    val core = spark.read.parquet(s"$root/core")
    assert(core.count() == 4)
    assert(core.select("batch_id").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
    val tokens = spark.read.parquet(s"$root/tokens")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tokens == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 2L))
    // the aggregated sink is per-batch (batch 0: web=2, book=1; batch 1: web=1)
    val bySrc = spark.read.parquet(s"$root/by_source")
      .collect().map(r => (r.getAs[Int]("batch_id"), r.getString(0), r.getLong(1))).toSet
    assert(bySrc == Set((0, "web", 2L), (0, "book", 1L), (1, "web", 1L)))
    // ledger: dataset/batch_id reconstituted from the partition layout,
    // one row per (sink, batch), honest row counts
    val prov = spark.read.parquet(s"$root/prov")
    assert(prov.count() == 6)
    val n = prov.collect()
      .map(r => (r.getAs[String]("dataset"), r.getAs[Int]("batch_id")) -> r.getAs[Long]("n_rows")).toMap
    assert(n == Map(("core", 0) -> 3L, ("core", 1) -> 1L,
      ("tokens", 0) -> 3L, ("tokens", 1) -> 1L,
      ("by_source", 0) -> 2L, ("by_source", 1) -> 1L))
  }

  test("fan-out sink replay is idempotent and restart resumes without re-delivery") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sfanout_rs")
    val in = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val out = root.toString
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    val sinks = Seq(
      graft.sources.FanOut.Sink("core",
        df => df.select("doc_id", "text"), s"$out/core"),
      graft.sources.FanOut.Sink("tokens",
        df => df.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        s"$out/tokens"))
    def feed(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    def run(): Long = {
      val src = spark.readStream.schema(sch).parquet(in)
      val q = StreamingOps.fanOutSink(src, sinks, provDir = Some(s"$out/prov"))
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    feed((1L, "a b"), (2L, "c"))
    assert(run() == 2L)
    // REPLAY the committed batch 0 by hand (a restart that died between
    // sinks re-runs its batch): per-batch overwrite dirs must leave
    // exactly one copy everywhere, not append a second
    val replay = spark.read.parquet(in)
    StreamingOps.fanOutBatch(replay, 0L, sinks, Some(s"$out/prov"))
    assert(spark.read.parquet(s"$out/core").count() == 2)
    assert(spark.read.parquet(s"$out/tokens").count() == 2)
    assert(spark.read.parquet(s"$out/prov").count() == 2) // one row per sink
    // restart with NEW input: checkpoint offsets deliver only the new
    // file; earlier batch dirs survive untouched
    feed((3L, "d e f"))
    assert(run() == 1L)
    val toks = spark.read.parquet(s"$out/tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toks == Map(1L -> 2L, 2L -> 1L, 3L -> 3L))
    val prov = spark.read.parquet(s"$out/prov")
    assert(prov.count() == 4) // 2 sinks x 2 batches, replay folded in
    assert(prov.select("batch_id").distinct().count() == 2)
  }
}
