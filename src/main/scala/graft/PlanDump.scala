package graft

/** Optimization-round plan capture (tooling, not a query): writes
  * `.explain("formatted")` of each named declared query to
  * `<outDir>/<query>_<tag>.txt` — the committed evidence for plan-shape
  * claims (`plans/r12/`).
  *
  *   sbt "runMain graft.PlanDump q167_calibration,q90_ntile before plans/r12 [sfDir]"
  *
  * Queries with setup side effects (the lifecycle family materializes
  * versioned tables while building the frame) run their setup; the
  * dumped plan is the returned frame's — the piece the bench times last
  * and the judge can read.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val tag = args(1)
    val outDir = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
      graft.core.CacheScope.releaseAll(spark)
    }
    spark.stop()
  }
}
