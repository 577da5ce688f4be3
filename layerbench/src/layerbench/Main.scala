package layerbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.layerbench.ListenerBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{SparkEntry, Tables}

/** One benchmark run: one workload in one SparkSession, driven by one
  * closed-loop client that runs the workload's ops in passes, each pass
  * in an order drawn from the seed. Every op run is timed from outside
  * and its result checked against a digest verified against the DuckDB
  * oracle. The last stdout line is the run's result as JSON.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace,
  * data (the parquet tables' directory), expected (the digest file),
  * census (where the per-op rows go), smoke (1: one pass, no warm-up),
  * record (write digests to this file instead of checking them).
  */
object Main {
  private val SetupSamples = 3
  private val MinWarmPasses = 3
  private val SettledWithin = 0.10

  final case class OpRun(
      op: String, pass: Int, timed: Boolean, traced: Boolean,
      buildMs: Double, executeMs: Double, error: Option[String],
      rddsLeft: Int, storageMbLeft: Double, diskMbLeft: Double,
      layers: Map[String, Double]) {
    def wallMs: Double = buildMs + executeMs
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val ops = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val smoke = args.get("smoke").contains("1")
    val record = args.get("record")
    val data = args("data")
    val scale = Paths.get(data).getFileName.toString
    val expected = readDigests(Paths.get(args("expected"))).getOrElse(scale, Map.empty)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val cores = Runtime.getRuntime.availableProcessors
    ops.foreach(op => require(SparkEntry.queries.contains(op), s"$op is not a declared query"))

    // Set-up: a session with the tables registered. It is done several
    // times and reported as the median: the first sample counts from JVM
    // start and includes the SparkContext; the others are fresh sessions
    // on that context, which re-read every table's schema.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setupS = (0 until (if (smoke) 1 else SetupSamples)).map { i =>
      val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis
      spark = if (spark == null) session(cores) else spark.newSession()
      Tables.registerAll(spark, data)
      (System.currentTimeMillis - t0) / 1e3
    }
    val sc = spark.sparkContext
    val census = new Census
    val recorded = mutable.Map[String, String]()

    def runOp(op: String, pass: Int, timed: Boolean, traced: Boolean): OpRun = {
      val t0 = System.nanoTime
      var t1 = t0
      val error =
        try {
          val df = SparkEntry.queries(op)(spark, data)
          t1 = System.nanoTime
          val got = digest(df)
          if (record.isDefined) recorded.put(op, got).filter(_ != got)
            .map(before => s"digest $got differs from this run's earlier $before")
          else expected.get(op) match {
            case Some(`got`) => None
            case Some(want) => Some(s"digest $got, expected $want")
            case None => Some(s"no expected digest for $op at $scale")
          }
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t2 = System.nanoTime
      if (t1 == t0) t1 = t2
      // Outside the clock: record what the op left behind, then release it
      // so the next op starts clean.
      ListenerBus.drain(sc)
      val layers = census.take()
      spark.catalog.clearCache()
      val left = sc.getPersistentRDDs.values.toSeq
      val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Census.MB
      val diskMb = treeBytes(tmp.toFile) / Census.MB
      left.foreach(_.unpersist(blocking = true))
      tmp.toFile.listFiles.foreach(deleteTree)
      error.foreach(e => System.err.println(s"[layerbench] $op failed: ${e.take(500)}"))
      OpRun(op, pass, timed, traced, (t1 - t0) / 1e6, (t2 - t1) / 1e6, error,
        left.size, storageMb, diskMb, if (traced) layers else Map.empty)
    }

    def runPass(pass: Int, timed: Boolean, traced: Boolean): Seq[OpRun] = {
      if (traced) { sc.addSparkListener(census); spark.listenerManager.register(census) }
      System.gc()
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val runs = order.map(runOp(_, pass, timed, traced))
      if (traced) { sc.removeSparkListener(census); spark.listenerManager.unregister(census) }
      runs
    }
    def passS(runs: Seq[OpRun]): Double = runs.map(_.wallMs).sum / 1e3

    val runs = mutable.ArrayBuffer[OpRun]()
    // Warm-up on the same inputs: at least three passes, since a cold
    // first pass takes two to three times a warm one and the next passes
    // still fall; then until two consecutive pass times agree or as long
    // as the timed window has gone by.
    val warmT0 = System.nanoTime
    var pass = 0
    if (!smoke) {
      var prev = Double.NaN
      var settled = false
      while (pass < MinWarmPasses || (!settled && (System.nanoTime - warmT0) / 1e9 < seconds)) {
        val p = runPass(pass, timed = false, traced = false)
        runs ++= p
        pass += 1
        settled = math.abs(passS(p) - prev) <= SettledWithin * prev
        prev = passS(p)
      }
    }
    val warmS = (System.nanoTime - warmT0) / 1e9
    // The timed window: whole passes while the window is open. A traced
    // run alternates traced and untraced passes, so tracing overhead is
    // measured within one process; it needs at least one of each.
    val windowT0 = System.nanoTime
    var k = 0
    do {
      runs ++= runPass(pass, timed = true, traced = trace && k % 2 == 0)
      pass += 1
      k += 1
    } while ((!smoke && (System.nanoTime - windowT0) / 1e9 < seconds) || (trace && k < 2))
    val windowS = (System.nanoTime - windowT0) / 1e9
    // Two collections with a pause between them, so that what the first
    // one frees and Spark's context cleaner then releases is gone too.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Census.MB
    spark.stop()

    record.foreach { f =>
      val lines = recorded.toSeq.sorted.map { case (op, d) => s"$scale\t$op\t$d" }
      Files.write(Paths.get(f), lines.asJava,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }

    val all = runs.toSeq
    val failed = all.count(_.error.isDefined)
    val timed = all.filter(r => r.timed && r.error.isEmpty)
    val passes = timed.groupBy(_.pass).values.filter(_.size == ops.size).toSeq
    def passesOf(traced: Boolean) = passes.filter(_.head.traced == traced).map(passS)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(timed, passesOf(false), setupS, heapMb)
      else perLayer(passes.filter(_.head.traced), passesOf(true), passesOf(false), cores)

    writeCensus(Paths.get(args("census")), all, Map(
      "workload" -> q(workload), "seed" -> seed.toString, "trace" -> (if (trace) "1" else "0"),
      "scale" -> q(scale), "cores" -> cores.toString,
      "setup_samples_s" -> setupS.mkString("[", ",", "]"),
      "warm_s" -> warmS.toString, "window_s" -> windowS.toString,
      "timed_passes" -> passes.size.toString, "timed_op_runs" -> timed.size.toString))
    println(s"""{"workload":${q(workload)},"seed":$seed,"scale":${q(scale)},"census":${q(args("census"))}}""")
    val ok = failed == 0 && metrics.forall(m => java.lang.Double.isFinite(m._2))
    val body = metrics.filter(m => java.lang.Double.isFinite(m._2))
      .map { case (n, v, u) => s"""${q(n)}: {"value": $v, "unit": ${q(u)}}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": $ok, "attempted": ${all.size}, "failed": $failed, "metrics": $body}""")
    System.out.flush()
    if (!ok) sys.exit(1)
  }

  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Order-independent digest of a result: the row count and the sums of
    * the high and low halves of a 64-bit hash of each row, over the
    * columns sorted by name. Split halves sum in a long without overflow.
    * Maps have no hash in Spark, so a column holding one is hashed as JSON.
    */
  def digest(df: DataFrame): String = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols: Seq[Column] = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) F.to_json(c) else c
    }
    val h = F.xxhash64(cols: _*)
    val row = df.select(F.shiftrightunsigned(h, 32).as("hi"), h.bitwiseAND(0xffffffffL).as("lo"))
      .agg(F.count(F.lit(1)), F.sum("hi"), F.sum("lo")).head()
    def sum(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    s"${row.getLong(0)}:${sum(1)}:${sum(2)}"
  }

  private def readDigests(p: Path): Map[String, Map[String, String]] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t"))
      .groupBy(_(0)).map { case (s, rows) => s -> rows.map(r => r(1) -> r(2)).toMap }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def endToEnd(timed: Seq[OpRun], passes: Seq[Double], setupS: Seq[Double],
                       heapMb: Double): Seq[(String, Double, String)] = {
    val byOp = timed.groupBy(_.op).map { case (op, rs) => op -> rs.map(_.wallMs / 1e3) }
    val medians = byOp.map { case (op, xs) => op -> median(xs) }
    val geomean = math.exp(medians.values.map(math.log).sum / medians.size)
    // Pooled sample ÷ its op's median at the 75th percentile (nearest
    // rank). A run holds 2 to 30 samples, too few for a higher one.
    val ratios = byOp.toSeq.flatMap { case (op, xs) => xs.map(_ / medians(op)) }.sorted
    val tail = ratios.lift(math.ceil(0.75 * ratios.size).toInt - 1).getOrElse(Double.NaN)
    Seq(
      ("pass_s", median(passes), "s"),
      ("op_p50_geomean_s", geomean, "s"),
      ("op_tail_ratio", tail, "ratio"),
      ("setup_s", median(setupS), "s"),
      ("heap_live_mb", heapMb, "MB"))
  }

  private def perLayer(traced: Seq[Seq[OpRun]], tracedS: Seq[Double], untracedS: Seq[Double],
                       cores: Int): Seq[(String, Double, String)] = {
    val n = traced.size.toDouble
    val runs = traced.flatten
    def perPass(f: OpRun => Double): Double = runs.map(f).sum / n
    def layer(k: String): Double = perPass(_.layers.getOrElse(k, 0.0))
    val wall = perPass(_.wallMs)
    val jobWall = layer("sched.job_wall_ms")
    val gap = wall - jobWall
    def unit(k: String): String =
      if (k.endsWith("_ms")) "ms" else if (k.endsWith("_mb")) "MB" else "count"
    Seq(("op.build_ms", perPass(_.buildMs), "ms"), ("op.execute_ms", perPass(_.executeMs), "ms")) ++
      Census.Keys.map(k => (k, layer(k), unit(k))) ++
      Seq(
        ("exec.busy_ratio", layer("exec.run_ms") / (jobWall * cores), "ratio"),
        ("driver.gap_ms", gap, "ms"),
        ("driver.gap_share", gap / wall, "ratio"),
        ("cache.rdds_left", perPass(_.rddsLeft.toDouble), "count"),
        ("cache.storage_mb_left", perPass(_.storageMbLeft), "MB"),
        ("io.disk_mb_left", perPass(_.diskMbLeft), "MB"),
        ("trace.overhead_ratio", median(tracedS) / median(untracedS), "ratio"))
  }

  private def writeCensus(p: Path, runs: Seq[OpRun], head: Map[String, String]): Unit = {
    Option(p.getParent).foreach(Files.createDirectories(_))
    val header = head.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val rows = runs.map { r =>
      val fields = Seq(
        "op" -> q(r.op), "pass" -> r.pass.toString, "timed" -> r.timed.toString,
        "traced" -> r.traced.toString, "build_ms" -> r.buildMs.toString,
        "execute_ms" -> r.executeMs.toString,
        "error" -> r.error.map(q).getOrElse("null"),
        "cache.rdds_left" -> r.rddsLeft.toString,
        "cache.storage_mb_left" -> r.storageMbLeft.toString,
        "io.disk_mb_left" -> r.diskMbLeft.toString) ++
        r.layers.toSeq.sorted.map { case (k, v) => k -> v.toString }
      fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    }
    Files.write(p, (header +: rows).asJava)
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum else f.length

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
