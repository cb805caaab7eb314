package graft

/** The cluster posture map: values well-formed, and every SQL-dynamic
  * conf is acceptable to a live session (a typo'd key or value would
  * only surface at deploy time otherwise). The test session itself is
  * the shipped one. */
class GraftSessionSpec extends SparkSpec {

  test("the test session is GraftSession's, with GraftExtensions loaded") {
    assert(spark.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
  }

  test("clusterConf: well-formed, SQL-dynamic keys settable on a live session") {
    val conf = GraftSession.clusterConf(totalCores = 8000, checkpointDir = "/ckpt")
    assert(conf("spark.sql.shuffle.partitions") == "16000")
    assert(conf("spark.sql.adaptive.advisoryPartitionSizeInBytes").toLong == 256L << 20)
    assert(conf("spark.sql.files.maxPartitionBytes").toLong == 256L << 20)
    val dynamic = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.files.maxPartitionBytes")
    // withConf's set throws on an invalid key/value
    dynamic.foreach(k => withConf(k -> conf(k))(()))
  }
}
