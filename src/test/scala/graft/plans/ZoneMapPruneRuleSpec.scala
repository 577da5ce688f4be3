package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Layout

/** Automatic zone-map scan pruning: row equality with the full scan
  * (the rule excluded), marker-index plan shape, and every fail-safe
  * guard (stale manifest, unmanifested column, nothing-pruned,
  * contradiction).
  */
class ZoneMapPruneRuleSpec extends SparkSpec {
  import spark.implicits._
  import ZoneMapPruneRuleSpec.prunedSizes

  /** (a, b, id) rows z-ordered into 8 files with a manifest on (a, b). */
  private lazy val dir = {
    val root = scratch("zmrule")
    val df = (0L until 4096L).map(i => (i % 64, i / 64, i)).toDF("a", "b", "id")
    Layout.writeZOrdered(df, s"$root/t", col("a"), col("b"), files = 8)
    Layout.writeManifest(spark, s"$root/t", Seq("a", "b"))
    s"$root/t"
  }


  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq

  test("declared box filter prunes files and keeps rows identical") {
    val box = (df: DataFrame) =>
      df.filter(col("a") >= 3L && col("a") <= 7L && col("b") < 5L)
    val full = withoutRule(ZoneMapPruneRule) {
      val q = box(spark.read.parquet(dir))
      assert(prunedSizes(q).isEmpty, "the excluded rule must leave the full scan")
      ids(q)
    }
    assert(full.nonEmpty)
    val q = box(spark.read.parquet(dir))
    val sizes = prunedSizes(q)
    assert(sizes.nonEmpty && sizes.min < 8,
      s"rule did not prune the scan: $sizes")
    assert(ids(q) === full)
  }

  test("equality and strict comparisons form boxes too") {
    val q = spark.read.parquet(dir).filter(col("a") === 0L && col("b") > 60L)
    assert(prunedSizes(q).nonEmpty)
    assert(ids(q) ===
      (0L until 4096L).filter(i => i % 64 == 0 && i / 64 > 60))
  }

  test("contradictory box keeps zero files and zero rows") {
    val q = spark.read.parquet(dir).filter(col("a") >= 10L && col("a") <= 5L)
    assert(prunedSizes(q) === Seq(0))
    assert(q.count() === 0L)
  }

  test("stale manifest disables pruning but never correctness") {
    val root = scratch("zmstale")
    val t = s"$root/t"
    (0L until 100L).map(i => (i, i)).toDF("a", "id")
      .repartition(2).write.parquet(t)
    Layout.writeManifest(spark, t, Seq("a"))
    // append WITHOUT maintaining the manifest → stale
    Seq((1000L, 1000L)).toDF("a", "id").write.mode("append").parquet(t)
    val q = spark.read.parquet(t).filter(col("a") >= 50L)
    assert(prunedSizes(q).isEmpty, "stale manifest must not prune")
    assert(ids(q) === ((50L until 100L) :+ 1000L))
  }

  test("filters on unmanifested or non-integral columns never fire") {
    // id has no zone maps; a string predicate has no box at all
    val q1 = spark.read.parquet(dir).filter(col("id") <= 10L)
    assert(prunedSizes(q1).isEmpty)
    val root = scratch("zmstr")
    Seq((1L, "x"), (2L, "y")).toDF("a", "s").write.parquet(s"$root/t")
    Layout.writeManifest(spark, s"$root/t", Seq("a"))
    val q2 = spark.read.parquet(s"$root/t").filter(col("s") === "x")
    assert(prunedSizes(q2).isEmpty)
    assert(q2.count() === 1L)
    // a multi-root scan (the shape of a versioned read) under a filter
    // with no integral box makes no file-system call at all
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.countfs.impl", classOf[CountingFs].getName)
    hconf.setBoolean("fs.countfs.impl.disable.cache", true)
    try {
      val parts = new java.io.File(dir).listFiles()
        .map(_.getPath).filter(_.endsWith(".parquet")).sorted
      assert(parts.length > 1)
      val multi = spark.read.schema(spark.read.parquet(dir).schema)
        .parquet(parts.map(p => s"countfs://$p").toSeq: _*)
      CountingFs.calls.set(0)
      assert(prunedSizes(multi.filter(col("id") % 2L === 0L)).isEmpty)
      assert(CountingFs.calls.get === 0, "a boxless filter must not touch the file system")
      // control: a box on the same scan does probe for a version log
      assert(prunedSizes(multi.filter(col("a") <= 2L)).isEmpty)
      assert(CountingFs.calls.get > 0)
    } finally {
      hconf.unset("fs.countfs.impl")
      hconf.unset("fs.countfs.impl.disable.cache")
    }
  }

  test("a box every file survives is left unrewritten") {
    val q = spark.read.parquet(dir).filter(col("a") >= 0L)
    assert(prunedSizes(q).isEmpty, "nothing pruned → no marker index")
    assert(q.count() === 4096L)
  }

  test("rewrite is stable: optimizing twice keeps one marker index") {
    val q = spark.read.parquet(dir).filter(col("a") <= 2L && col("b") <= 2L)
    val once = prunedSizes(q)
    assert(once.size === 1)
    // a fresh identical query re-plans from scratch to the same shape
    val q2 = spark.read.parquet(dir).filter(col("a") <= 2L && col("b") <= 2L)
    assert(prunedSizes(q2) === once)
    assert(ids(q) === ids(q2))
  }

  test("a versioned committed-view scan prunes; old versions never do") {
    import graft.core.VersionLog
    import graft.streaming.IngestStreams
    val root = scratch("zmv")
    val t = s"$root/t"
    // three versioned landings, each range-clustered on `a` so files
    // carry tight boxes; the manifest is maintained incrementally
    (0 until 3).foreach { b =>
      val lo = b * 1000L
      val df = (lo until lo + 1000L).map(i => (i, i % 7)).toDF("a", "k")
        .repartitionByRange(4, col("a"))
      IngestStreams.ingestBatch(df, b.toLong, t)
      if (b == 0) Layout.writeManifest(spark, t, Seq("a"))
      else Layout.appendManifest(spark, t)
    }
    val head = VersionLog.latest(spark, t)
    // the DECLARED query: readVersion + a range filter — the rule
    // must recognize the multi-root committed view and prune it
    val q = VersionLog.readVersion(spark, t, head)
      .filter(col("a") >= 2500L && col("a") <= 2600L)
    val sizes = prunedSizes(q)
    assert(sizes.nonEmpty, "the rule must fire on the committed view")
    assert(sizes.head < 12, s"pruned ${sizes.head}/12 files")
    assert(q.count() === 101L)
    assert(q.agg(sum(col("a"))).collect()(0).getLong(0) ===
      (2500L to 2600L).sum)
    // an OLD version's scan (different file universe) never prunes
    // with the head's manifest — fail-safe full scan
    val old = VersionLog.readVersion(spark, t, 1)
      .filter(col("a") >= 100L && col("a") <= 200L)
    assert(prunedSizes(old).isEmpty)
    assert(old.count() === 101L)
  }
}

/** The local file system under the `countfs` scheme, counting the
  * metadata calls (status, existence, listing) made through it.
  */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getFileStatus(p: Path): FileStatus = {
    CountingFs.calls.incrementAndGet(); super.getFileStatus(p)
  }
  override def exists(p: Path): Boolean = {
    CountingFs.calls.incrementAndGet(); super.exists(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.calls.incrementAndGet(); super.listStatus(p)
  }
}

object ZoneMapPruneRuleSpec {
  /** File counts of the scans ZoneMapPruneRule pruned in `df`'s plan. */
  def prunedSizes(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location
    }.collect { case z: ZoneMapPrunedIndex => z.allFiles().size }
}

object CountingFs {
  val calls = new java.util.concurrent.atomic.AtomicInteger
}
