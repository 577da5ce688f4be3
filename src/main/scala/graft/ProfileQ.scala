package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round profiling harness (tooling, not a query): runs
  * one declared query with a job listener and prints the per-Spark-job
  * wall/description breakdown plus per-stage shuffle bytes — the local
  * stand-in for the Spark UI (disabled in the bench), used to attribute
  * a multi-job scenario's wall time to its constituent actions.
  *
  *   sbt "runMain graft.ProfileQ q255_cdc_mirror[,q245_...] [sfDir [--plans outDir tag]]"
  *
  * `--plans` also writes the `.explain("formatted")` plan of each
  * measured frame to `<outDir>/<query>_<tag>.txt` — the committed
  * evidence for plan-shape claims (`plans/r12/`). It is written after
  * the counts are taken, so planning it adds no counted job.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val plans =
      if (args.length > 2 && args(2) == "--plans") Some((args(3), args(4))) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L)
    case class Stg(id: Int, name: String, tasks: Int, ms: Long, taskMs: Long)
    val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
    val stages = scala.collection.mutable.ArrayBuffer[Stg]()
    var shuffleRead = 0L; var shuffleWrite = 0L; var stageCount = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId,
            Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              // the result stage has the job's highest stage id; the
              // other entries are parents, some of them skipped
              .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse(""),
            e.time)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
        stageCount += 1
        val dur = (for (a <- e.stageInfo.completionTime;
                        b <- e.stageInfo.submissionTime) yield a - b).getOrElse(0L)
        stages.synchronized {
          stages += Stg(e.stageInfo.stageId, e.stageInfo.name,
            e.stageInfo.numTasks, dur,
            if (m != null) m.executorRunTime else 0L)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // resolve every table at the measured scale once, uncounted: the
    // first load of a table runs a schema job (`parquet at
    // tables.scala`), so without this the first query to read each
    // table would count one job more than the same query run later
    Tables.all.foreach(Tables.load(spark, sfDir, _))
    names.foreach { name =>
      // warm pass (JIT + codegen), uncounted
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      graft.core.CacheScope.releaseAll(spark)
      jobs.synchronized(jobs.clear())
      stages.synchronized(stages.clear())
      shuffleRead = 0L; shuffleWrite = 0L; stageCount = 0
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val snap = jobs.synchronized(jobs.values.toSeq)
      println(f"== $name: $wall%.3f s wall, $n rows, ${snap.size} jobs, $stageCount stages, shuffleR=${shuffleRead / 1024}KB shuffleW=${shuffleWrite / 1024}KB")
      val jobTotal = snap.map(j => (j.end - j.start).max(0L)).sum / 1e3
      println(f"   sum of job walls: $jobTotal%.3f s (gap to wall = driver/metadata time)")
      // what the query left persisted: every RDD, then the raw ones that
      // clearCache() cannot reach (layerbench's cache.rdds_left), and the
      // directories it staged on disk
      val left = spark.sparkContext.getPersistentRDDs.size
      spark.catalog.clearCache()
      println(s"   persisted RDDs left: $left, raw: ${spark.sparkContext.getPersistentRDDs.size}" +
        s", staged dirs left: ${graft.core.CacheScope.stagedLeft}")
      val show = sys.env.get("PROFILE_JOBS").map(_.toInt).getOrElse(12)
      snap.sortBy(j => -(j.end - j.start)).take(show).foreach { j =>
        val d = (j.end - j.start).max(0L) / 1e3
        println(f"   job ${j.id}%3d  $d%7.3f s  ${j.desc.take(110)}")
      }
      if (sys.env.contains("PROFILE_STAGES")) {
        val ss = stages.synchronized(stages.toSeq)
        ss.sortBy(s => -s.ms).take(20).foreach { s =>
          println(f"   stg ${s.id}%4d ${s.ms / 1e3}%7.3f s  ${s.tasks}%4d tasks  taskSum=${s.taskMs / 1e3}%7.3f s  ${s.name.take(100)}")
        }
      }
      plans.foreach { case (outDir, tag) =>
        val out = java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt")
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        println(s"   plan written to $out")
      }
      graft.core.CacheScope.releaseAll(spark)
    }
    spark.stop()
  }
}
