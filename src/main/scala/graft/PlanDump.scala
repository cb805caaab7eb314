package graft

/** Dev utility: dump `.explain("formatted")` for a list of queries to
  * files (one JVM for the whole batch — QRun's per-query cold JVM makes
  * plan capture of a 30-query tail needlessly slow).
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <query...>
  * Writes <outDir>/<query>_<suffix>.txt ("prod/x" → "prod_x_<suffix>.txt").
  * The dump is the optimized physical plan BEFORE execution (AQE shows
  * isFinalPlan=false); per-plan-claim evidence for OPTIMIZATION_r14.md. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = GraftSession.builder("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val file = s"$outDir/${name.replace("/", "_")}_$suffix.txt"
      try {
        val df = Bench.fnOf(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(java.nio.file.Paths.get(file),
          txt.getBytes("UTF-8"))
        println(s"PLANDUMP_OK $name")
      } catch {
        case e: Throwable => println(s"PLANDUMP_FAIL $name ${e.toString.take(200)}")
      }
    }
    spark.stop()
  }
}
