package graft

/** Dev utility: interleaved per-query timing for a list of queries.
  * Usage: runMain graft.QBench <sfDir> <query...>  — three ROUND-ROBIN
  * passes over the list (not back-to-back repeats: a sustained host
  * contention window poisons consecutive samples of the same query, the
  * r10 driver-bench lesson; interleaving puts minutes between samples).
  * Reports min/median/max per query; min is the plan-cost estimate. */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = GraftSession.builder("graft-qbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmTables(spark, sfDir)
    val names = args.tail.toSeq
    // warmup pass (JIT + codegen + page cache), then 3 measured passes
    names.foreach { n => try Bench.fnOf(n)(spark, sfDir).count() catch { case _: Throwable => () } }
    Bench.sweep(spark)
    val samples = (1 to 3).flatMap { round =>
      names.map { name =>
        val t0 = System.nanoTime()
        Bench.fnOf(name)(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        Bench.sweep(spark)
        (name, s)
      }
    }
    names.foreach { name =>
      val ts = samples.collect { case (`name`, s) => s }.sorted
      println(f"QBENCH $name min=${ts.head}%.2f med=${ts(ts.length / 2)}%.2f max=${ts.last}%.2f")
    }
    spark.stop()
  }
}
