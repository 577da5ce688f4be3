package graft

/** Benchmark main: one JSON line with per-query wall times at
  * SPARK_GRAFT_SF_DIR. Each query is warmed once at sf0.001 first so
  * the timings measure the engine, not JVM/codegen JIT warm-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus.toInt)
    // ERROR, not WARN: the driver's artifact is a bounded tail of the
    // combined output, and r9's nine WindowExec WARN lines landed AFTER
    // the result line and flooded the window — the whole round's bench
    // recorded parsed:null over a fully green run. Warnings belong in
    // Verify/test runs; the bench's stdout contract is ONE json line.
    spark.sparkContext.setLogLevel("ERROR")
    // Debug aid (mirrors Verify): SPARK_GRAFT_ONLY=q141_...,q23_...
    // times a subset; committed artifacts always come from full runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    def timeOnce(name: String): (Double, Boolean) = {
      // release BEFORE timing, outside the clock: the bench opens no
      // CacheScope bracket, so operator caches (the dedup survivor
      // maps, the graph operators' raw-RDD generations) outlive their
      // query, and ~50 queries of accumulated storage in front of a
      // measurement inflates it up to 7x (r6's q50/q45/q73 artifacts).
      // Every measurement starts cache-cold and storage-empty, so the
      // committed minimum reproduces standalone.
      graft.core.CacheScope.releaseAll(spark)
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // best of three measured passes per query: single runs swing up
    // to 4x under co-tenant load (r5 caught q53 at 4.4x its warm
    // cost with best-of-two); the min is the engine's actual cost.
    // A query that throws in ANY pass is a FAILURE: it is excluded
    // from the per-query map (an analysis error takes ~2 ms and would
    // masquerade as a 100x speedup — r8's five dead event queries) and
    // forces a nonzero exit so the driver records a failed run, not a
    // smaller-but-plausible success artifact.
    val passes = (1 to 3).map(_ => names.map(n => n -> timeOnce(n)).toMap)
    val failed = names.filter(n => passes.exists(p => !p(n)._2))
    val results = names.filterNot(failed.contains)
      .map(n => n -> passes.map(_(n)._1).min)
    // millisecond precision; Locale.ROOT: the f-interpolator honors
    // the default locale, and a comma decimal separator would corrupt
    // the JSON.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full-name per-query map goes to a FILE (committed with the repo).
    // The default name is CPU-stamped: the driver benches at two core
    // counts back to back, and with one shared default the second (8-
    // core) run clobbered the 32-core per-query map — which is why
    // PERF_r12's per-query comparison came back empty (n_common: 0).
    // A plain bench_full.json copy is kept for anything parsing the
    // old name. An explicit SPARK_GRAFT_BENCH_OUT still wins verbatim.
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench_full_c$cpus.json"))
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failedArr,"queries":$qs,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(fullPath, fullLine)
    if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_full.json"), fullLine)
    // stdout gets the result LAST, after spark.stop(), so no shutdown
    // log line can land behind it in the driver's bounded tail capture
    // (r9: WindowExec WARNs after the result line left parsed:null on
    // a fully green run — fixed both by ERROR log level above and by
    // making the json line the final output). Two lines are printed:
    // the FULL per-query map first (for a whole-stdout parser), then a
    // COMPACT line sized to survive a ~2 KB tail window (short qNN
    // keys; precision drops 3→2→1 decimals before falling back to the
    // totals-only line — a mid-line truncation would be unparseable,
    // so the compact line must fit whole).
    def fmtP(v: Double, p: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${p}f", Double.box(v))
    def compactLine(p: Int): String = {
      val shortQs = results
        .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmtP(v, p) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failedArr,"queries":$shortQs,"queries_file":"${fullPath.toString}","sf":"$sfDir"}"""
    }
    val totalsOnly =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failedArr,"queries_file":"${fullPath.toString}","sf":"$sfDir"}"""
    val compact = Seq(3, 2, 1).map(compactLine)
      .find(_.length <= 1850).getOrElse(totalsOnly)
    spark.stop()
    println(fullLine)
    println(compact)
    System.out.flush()
    // Incomplete coverage IS a run failure: the driver must never
    // record a green artifact over a bench where queries died.
    if (failed.nonEmpty) sys.exit(1)
  }
}
