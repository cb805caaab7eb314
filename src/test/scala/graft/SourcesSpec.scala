package graft

import graft.sources.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  test("readDelimited ingests TSV with an explicit schema (csv2sql analog)") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "targets.tsv")
    val w = new java.io.PrintWriter(f)
    w.println("id\tsym\tscore")
    w.println("1\tDRD2\t3.5")
    w.println("2\tEGFR\t7.25")
    w.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("sym", StringType),
      StructField("score", DoubleType)))
    val df = Tables.readDelimited(spark, f.getAbsolutePath, schema, delimiter = "\t")
    assert(df.schema == schema)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2 && rows(1).getString(1) == "EGFR" && rows(1).getDouble(2) == 7.25)
  }

  test("a table read infers its schema once per source, and again after a rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_memo").toFile.getAbsolutePath
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "v").write.parquet(path)
    val (first, m1) = Measure(spark)(Tables.table(spark, dir, "t"))
    assert(m1.jobs == 1, m1.jobSites)
    val (again, m2) = Measure(spark)(Tables.table(spark, dir, "t"))
    assert(m2.jobs == 0, m2.jobSites)
    assert(again.schema == first.schema && again.collect().toSeq == Seq(Row(1L, "a")))
    // rewritten with another schema, under a later modification time
    Seq((2.5, 7)).toDF("x", "y").write.mode("overwrite").parquet(path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(p, fs.getFileStatus(p).getModificationTime + 60000L, -1L)
    val rewritten = Tables.table(spark, dir, "t")
    assert(rewritten.columns.toSeq == Seq("x", "y"))
    assert(rewritten.collect().toSeq == Seq(Row(2.5, 7)))
  }

  test("a set parquet inference conf is part of the table-schema memo key") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_memo_conf").toFile.getAbsolutePath
    // an unannotated binary column, written without Spark's schema
    // metadata (which inference would prefer over the parquet types)
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/bin.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    assert(Tables.table(spark, dir, "bin").schema("b").dataType == BinaryType)
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      val t = Tables.table(spark, dir, "bin")
      assert(t.schema("b").dataType == StringType)
      assert(t.head().getString(0) == "hi")
    }
    assert(Tables.table(spark, dir, "bin").schema("b").dataType == BinaryType)
  }

  test("readParquetMerged unions evolving schemas with nulls for absent columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evolve").toFile.getAbsolutePath
    Seq((1L, "a")).toDF("id", "v1").write.parquet(dir + "/gen1")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.parquet(dir + "/gen2")
    val df = Tables.readParquetMerged(spark, dir + "/gen1", dir + "/gen2")
    assert(df.columns.toSet == Set("id", "v1", "v2"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("v2")))
    assert(rows(1).getDouble(rows(1).fieldIndex("v2")) == 9.5)
  }

  test("compact rewrites a many-file dataset into row-bounded files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toFile.getAbsolutePath
    (1L to 100L).toDF("id").repartition(20).write.parquet(dir + "/in")
    val inFiles = new java.io.File(dir + "/in").listFiles.count(_.getName.endsWith(".parquet"))
    assert(inFiles == 20)
    val n = Tables.compact(spark, dir + "/in", dir + "/out", targetRowsPerFile = 50)
    assert(n == 100)
    val outFiles = new java.io.File(dir + "/out").listFiles.count(_.getName.endsWith(".parquet"))
    assert(outFiles == 2)
    assert(spark.read.parquet(dir + "/out").count() == 100)
  }

  test("writePartitioned lays out parquet by partition key and round-trips") {
    val out = Files.createTempDirectory("graft_sink").toFile.getAbsolutePath + "/nations"
    val n = Tables.nation(spark, TinyDir)
    Tables.writePartitioned(n, out, Seq("n_regionkey"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("n_regionkey=")))
    val back = spark.read.parquet(out)
    assert(back.count() == n.count())
    // partition pruning: reading one key touches one directory
    val one = back.filter(col("n_regionkey") === 0)
    val scanned = one.queryExecution.executedPlan.toString()
    assert(one.count() == n.filter(col("n_regionkey") === 0).count())
  }

  test("readXml parses rowTag records with explicit schema and quarantines corrupt records") {
    val dir = Files.createTempDirectory("graft_xml").toFile
    val f = new java.io.File(dir, "targets.xml")
    val w = new java.io.PrintWriter(f)
    w.println("<targets>")
    w.println("  <target><id>1</id><sym>DRD2</sym><score>3.5</score></target>")
    w.println("  <target><id>2</id><sym>EGFR &amp; friends</sym><score>7.25</score></target>")
    w.println("  <target><id>oops</id><sym>BAD</sym><score>not_a_number</score></target>")
    w.println("</targets>")
    w.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("sym", StringType),
      StructField("score", DoubleType)))
    // cache before projecting the corrupt column alone: Spark disallows
    // corrupt-record-only queries straight off the raw source
    val df = Tables.readXml(spark, f.getAbsolutePath, rowTag = "target", schema).cache()
    val good = df.filter(col("_corrupt_record").isNull).orderBy("id").collect()
    assert(good.length == 2)
    assert(good(1).getString(1) == "EGFR & friends" && good(1).getDouble(2) == 7.25)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    df.unpersist()
  }

  test("writeXml/readXml round-trips typed rows including nested structs") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_xmlrt").toFile.getAbsolutePath + "/docs"
    val src = Seq((1L, "a<b&c", 2.5), (2L, "plain", -1.0)).toDF("id", "txt", "v")
    Tables.writeXml(src, out, rowTag = "doc", rootTag = "docs")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("txt", StringType),
      StructField("v", DoubleType)))
    val back = Tables.readXml(spark, out, rowTag = "doc", schema)
      .select("id", "txt", "v").orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getString(1) == "a<b&c" && back(0).getDouble(2) == 2.5)
  }

  test("readOboTerms splits stanzas on [Term] records and extracts id/name/is_a edges") {
    val dir = Files.createTempDirectory("graft_obo").toFile
    val f = new java.io.File(dir, "onto.obo")
    val w = new java.io.PrintWriter(f)
    w.print(
      """format-version: 1.2
        |ontology: test
        |
        |[Term]
        |id: GO:0001
        |name: root term
        |
        |[Term]
        |id: GO:0002
        |name: middle term
        |is_a: GO:0001 ! root term
        |
        |[Term]
        |id: GO:0003
        |name: leaf term
        |is_a: GO:0002 ! middle term
        |is_a: GO:0001 ! root term
        |
        |[Typedef]
        |id: part_of
        |name: part of
        |""".stripMargin)
    w.close()
    val terms = Tables.readOboTerms(spark, f.getAbsolutePath)
    val rows = terms.orderBy("term_id").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(0)).toSeq == Seq("GO:0001", "GO:0002", "GO:0003"))
    assert(rows(1).getString(1) == "middle term")
    assert(rows(0).getSeq[String](2).isEmpty)
    assert(rows(1).getSeq[String](2) == Seq("GO:0001"))
    assert(rows(2).getSeq[String](2) == Seq("GO:0002", "GO:0001"))
  }

  test("events nanos timestamps normalize to microsecond precision") {
    val e = Tables.events(spark, TinyDir)
    assert(e.schema("ts").dataType == TimestampType)
    assert(e.count() > 0)
    // event-time functions must accept the normalized column (the exact
    // break that TIMESTAMP_NTZ caused: unix_micros rejects NTZ)
    assert(e.select(org.apache.spark.sql.functions.unix_micros(col("ts")))
      .limit(1).collect().nonEmpty)
  }

  test("an events read leaves the session's confs unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(Tables.events(s, TinyDir).count() > 0)
    assert(s.conf.getAll == before)
  }

  test("events normalizer pins all three physical ts encodings to the same instant") {
    // one known instant: 2024-03-01T12:34:56.789012Z
    val micros = 1709296496789012L
    val dir = java.nio.file.Files.createTempDirectory("events_enc").toFile
    dir.deleteOnExit()
    import spark.implicits._
    // (a) nanos-as-long: what spark.sql.legacy.parquet.nanosAsLong yields
    //     for parquet TIMESTAMP(NANOS) — a raw int64 of nanoseconds
    Seq((1L, micros * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/nanos/events.parquet")
    // (b) micros with no UTC flag → Spark 4 reads TIMESTAMP_NTZ
    Seq((1L, java.time.LocalDateTime.ofEpochSecond(
        micros / 1000000L, ((micros % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")
    assert(spark.read.parquet(s"$dir/ntz/events.parquet").schema("ts").dataType
      == org.apache.spark.sql.types.TimestampNTZType)
    // (c) UTC-flagged micros → TIMESTAMP_LTZ, the pass-through arm
    Seq((1L, java.time.Instant.ofEpochSecond(
        micros / 1000000L, (micros % 1000000L) * 1000L)))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/ltz/events.parquet")
    for (enc <- Seq("nanos", "ntz", "ltz")) {
      val e = Tables.events(spark, s"$dir/$enc")
      assert(e.schema("ts").dataType == TimestampType, s"$enc: wrong type")
      val got = e.select(org.apache.spark.sql.functions.unix_micros(col("ts")))
        .as[Long].head()
      assert(got == micros, s"$enc: $got != $micros")
    }
  }
}
