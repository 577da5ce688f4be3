package layerbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one op run, filled from Spark's public
  * listeners. The caller drains the listener bus after each op, so every
  * event of that op has arrived before `take()` reads the counters.
  */
final class Census extends SparkListener with QueryExecutionListener {
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def add(key: String, v: Double): Unit = counts(key) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("sched.jobs", 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("sched.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.run_ms", m.executorRunTime.toDouble)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Census.MB)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Census.MB)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("io.input_mb", m.inputMetrics.bytesRead / Census.MB)
      add("io.output_mb", m.outputMetrics.bytesWritten / Census.MB)
      add("io.output_records", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      add("plan.executions", 1)
      val phases = qe.tracker.phases
      for ((phase, key) <- Census.Phases; s <- phases.get(phase))
        add(key, s.durationMs.toDouble)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The counters gathered since the last call, with the union of the
    * jobs' wall intervals as `sched.job_wall_ms`; resets them.
    */
  def take(): Map[String, Double] = synchronized {
    var wall = 0L
    var reach = Long.MinValue
    for ((s, e) <- jobIntervals.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) wall += e - from
      reach = math.max(reach, e)
    }
    val out = counts.toMap + ("sched.job_wall_ms" -> wall.toDouble)
    counts.clear()
    jobIntervals.clear()
    jobStart.clear()
    out
  }
}

object Census {
  val MB: Double = 1024.0 * 1024.0

  private val Phases = Seq(
    "analysis" -> "plan.analysis_ms",
    "optimization" -> "plan.optimization_ms",
    "planning" -> "plan.physical_ms")

  /** Every counter `take()` can return, so absent ones read as zero. */
  val Keys: Seq[String] = Seq(
    "plan.executions", "plan.analysis_ms", "plan.optimization_ms",
    "plan.physical_ms", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.job_wall_ms", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms",
    "io.input_mb", "io.output_mb", "io.output_records")
}
