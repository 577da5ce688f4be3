package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Debug aid: SPARK_GRAFT_ONLY=q59_dup_spans,q23_... limits the dump.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A query that throws must be a LOUD failure, not a silently absent
    // parquet dir (r8: five queries vanished from the correctness
    // artifact with no failure marker). Record every failure and exit
    // nonzero so the driver's gate sees an incomplete dump as a failed
    // run, never as a smaller-but-green one.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // coalesce(1) is HARNESS-ONLY: the oracle dumps are sf0.01-sized
      // and DuckDB reads one file per query — never copy this pattern
      // into library sinks, where it would serialize a whole write
      // through one task
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
      // every query starts storage-empty: a leaked cache (a raw-RDD
      // persist clearCache cannot see) would otherwise pile up on the
      // heap across the whole dump
      finally core.CacheScope.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The FULL declared query list, independent of what actually ran:
    // any artifact shrink (r8's silent 121→116) is machine-detectable
    // by diffing this against the compare's result set.
    Files.writeString(Paths.get(s"$outDir/expected_queries.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // Explicit per-failure record next to the dump, so a crashed query
    // is distinguishable from a never-declared one in the artifact dir.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(",")}")
      sys.exit(1)
    }
  }
}
