package graft

import graft.ops.{Dedup, DedupService}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The dedup artifacts are read with schemas declared next to their
  * writers, not inferred; each declaration must be exactly what parquet
  * inference reads off a freshly built and appended index and labeling. */
class DedupArtifactSchemaSpec extends SparkSpec {

  test("each declared dedup artifact schema equals the inferred one") {
    // int doc ids: the writers store longs whatever the integral id type
    val docs = graft.sources.Tables.documents(spark, TinyDir)
      .select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val path = Files.createTempDirectory("graft_dedup_schema").toFile.getAbsolutePath + "/svc"
    DedupService.init(docs.filter(col("doc_id") % 5 =!= 0), path)
    DedupService.ingest(spark, path, 1L, docs.filter(col("doc_id") % 5 === 0))
    def inferred(dir: String) = spark.read.parquet(s"$path/$dir").schema
    assert(inferred("index/vocab") == Dedup.NearDupIndex.VocabSchema)
    assert(inferred("index/profiles") == Dedup.NearDupIndex.ProfilesSchema)
    assert(inferred("index/prefix") == Dedup.NearDupIndex.PrefixSchema)
    assert(inferred("labels") == DedupService.LabelsSchema)
    assert(DedupService.labels(spark, path).count() == docs.count())
  }
}
