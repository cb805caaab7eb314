package graft

import graft.ops.{Dedup, DedupService}
import graft.operators.GraphOps2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The rebuild × ingest interleave matrix for the dedup service (VERDICT
  * r10 #7 — the [[AnnAppendRefitSpec]] posture applied to
  * [[Dedup.NearDupIndex.rebuild]] landing during [[DedupService]]
  * ingests). The rebuild timeline has three windows an ingest can land
  * in:
  *
  *   W1 — ingest commits BEFORE the rebuild's corpus snapshot: the
  *        rebuilt root carries the batch in its base; labels == scratch.
  *   W2 — ingest lands INSIDE the rebuild window (after the snapshot,
  *        before the swap): its index region went to the OLD root and
  *        the staged root predates it — committing would drop the
  *        batch's profiles while its labels stand. The guard re-lists
  *        regions at the commit point and ABORTS loud (staged root
  *        deleted, live root untouched); the service stays consistent
  *        and a post-ingest re-run with the current corpus converges.
  *   W3 — ingest starts AFTER the swap: it appends to the NEW root and
  *        queries it; labels == scratch.
  *
  * Plus the crash legs: AtomicSwap crash points during the rebuild's
  * commit never lose a batch or desync labels from the index. */
class DedupRebuildIngestSpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, TinyDir)
  private def part(m: Int): DataFrame = docs.filter(col("doc_id") % 3 === m)
  private def upTo(m: Int): DataFrame = docs.filter(col("doc_id") % 3 <= m)

  private def scratchLabels(corpus: DataFrame): Map[Long, Long] = {
    val comp = GraphOps2.connectedComponents(Dedup.nearDupEdges(corpus), 20)
    corpus.select(col("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def serviceLabels(path: String): Map[Long, Long] =
    DedupService.labels(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def queryPairs(idx: String, batch: DataFrame): Set[(Long, Long)] =
    Dedup.NearDupIndex.query(spark, idx, batch)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("W1/W3: rebuilds between ingests keep labels == from-scratch and pairs served") {
    val path = s"/tmp/graft_rbingest/${System.nanoTime()}"
    val idx = s"$path/index"
    DedupService.init(part(0), path)
    DedupService.ingest(spark, path, 1L, part(1))
    // W1: the ingested batch is in the rebuild's corpus snapshot
    Dedup.NearDupIndex.rebuild(spark, idx, upTo(1))
    assert(serviceLabels(path) == scratchLabels(upTo(1)), "labels after W1 rebuild")
    // W3: ingest lands entirely after the swap — appends to the new root
    DedupService.ingest(spark, path, 2L, part(2))
    assert(serviceLabels(path) == scratchLabels(docs), "labels after post-rebuild ingest")
    // the rebuilt-then-appended index serves the same pairs a fresh
    // build over the same corpus serves
    val fresh = s"/tmp/graft_rbingest/fresh_${System.nanoTime()}"
    Dedup.NearDupIndex.build(upTo(1), fresh)
    Dedup.NearDupIndex.append(spark, fresh, part(2), region = "b2")
    val probe = docs.filter(col("doc_id") % 7 === 0)
    assert(queryPairs(idx, probe) == queryPairs(fresh, probe),
      "rebuilt+appended index serves different pairs than a fresh build")
  }

  test("W2: ingest inside the rebuild window aborts the rebuild; nothing diverges") {
    val path = s"/tmp/graft_rbingest/w2_${System.nanoTime()}"
    val idx = s"$path/index"
    DedupService.init(part(0), path)
    val e = intercept[IllegalStateException] {
      Dedup.NearDupIndex.rebuild(spark, idx, part(0), beforeCommit = () => {
        DedupService.ingest(spark, path, 1L, part(1))
      })
    }
    assert(e.getMessage.contains("re-run rebuild"),
      s"abort must name the remedy: ${e.getMessage}")
    // live root untouched: the ingested batch's labels AND index region
    // both stand — no divergence
    assert(serviceLabels(path) == scratchLabels(upTo(1)), "labels after aborted rebuild")
    val fresh = s"/tmp/graft_rbingest/w2fresh_${System.nanoTime()}"
    Dedup.NearDupIndex.build(upTo(1), fresh)
    val probe = docs.filter(col("doc_id") % 7 === 0)
    assert(queryPairs(idx, probe) == queryPairs(fresh, probe),
      "aborted rebuild lost the in-window batch's index region")
    // the staged next-root must not linger
    assert(!new java.io.File(s"${idx}_next").exists(), "aborted rebuild left _next")
    // with ingest quiesced, the re-run (current corpus) converges
    Dedup.NearDupIndex.rebuild(spark, idx, upTo(1))
    DedupService.ingest(spark, path, 2L, part(2))
    assert(serviceLabels(path) == scratchLabels(docs), "post-abort convergence")
  }

  test("crash legs: every swap crash point keeps labels == scratch and pairs served") {
    val path = s"/tmp/graft_rbingest/crash_${System.nanoTime()}"
    val idx = s"$path/index"
    DedupService.init(part(0), path)
    DedupService.ingest(spark, path, 1L, part(1))
    val want = scratchLabels(upTo(1))
    val probe = docs.filter(col("doc_id") % 7 === 0)
    val fresh = s"/tmp/graft_rbingest/crashfresh_${System.nanoTime()}"
    Dedup.NearDupIndex.build(upTo(1), fresh)
    val wantPairs = queryPairs(fresh, probe)
    for (crashAt <- 1 to 3) {
      intercept[graft.sources.AtomicSwap.CrashPoint] {
        Dedup.NearDupIndex.rebuild(spark, idx, upTo(1), crashAfter = crashAt)
      }
      assert(serviceLabels(path) == want, s"crash at $crashAt: labels diverged")
      assert(queryPairs(idx, probe) == wantPairs,
        s"crash at $crashAt: index serves wrong pairs")
      Dedup.NearDupIndex.rebuild(spark, idx, upTo(1)) // converge before next injection
      assert(queryPairs(idx, probe) == wantPairs, s"post-crash-$crashAt convergence")
    }
  }

  test("the profiles' _rows sidecars sum to the profile count; without them the count falls back") {
    val idx = s"/tmp/graft_rebuild_ingest/rows_${System.nanoTime()}"
    def profileRows: Long = Dedup.NearDupIndex.readProfiles(spark, idx).count()
    def summed(step: String): Unit =
      assert(Dedup.NearDupIndex.sidecarProfileCount(spark, idx) === Some(profileRows), step)
    Dedup.NearDupIndex.build(part(0), idx)
    summed("build")
    Dedup.NearDupIndex.append(spark, idx, part(1), region = "b1")
    summed("append")
    Dedup.NearDupIndex.append(spark, idx, part(1), region = "b1")
    summed("replayed append")
    Dedup.NearDupIndex.append(spark, idx, part(1)) // the same batch again: duplicate rows
    summed("re-appended batch")
    Dedup.NearDupIndex.rebuild(spark, idx, upTo(1))
    summed("rebuild")
    Dedup.NearDupIndex.append(spark, idx, part(2), region = "b2")
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/profiles"))
      .foreach(r => fs.delete(new org.apache.hadoop.fs.Path(r.getPath, "_rows"), false))
    assert(Dedup.NearDupIndex.sidecarProfileCount(spark, idx).isEmpty)
    assert(Dedup.NearDupIndex.indexedProfileCount(spark, idx) === profileRows)
  }
}
