package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.AggregateFunctions

/** Per-file bloom manifests + metadata-only counts: no false
  * negatives, real pruning on hash-spread keys, staleness tripwires,
  * and the aggregate's partition-invariance.
  */
class BloomManifestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val root = scratch("bloomman")
    (0L until 2000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(16, col("id")).write.parquet(s"$root/t")
    Layout.writeBloomManifest(spark, s"$root/t", Seq("id"), 256, 0.01)
    Layout.writeManifest(spark, s"$root/t", Seq("id"))
    s"$root/t"
  }

  test("no false negatives: every probed present id comes back; files prune") {
    val probes = Seq("0", "777", "1999")
    val kept = Layout.bloomPrunedFiles(spark, dir, "id", probes)
    assert(kept.nonEmpty && kept.size < 16, s"kept ${kept.size}/16")
    val got = Layout.bloomPrunedRead(spark, dir, "id", probes)
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(0L, 777L, 1999L))
    // absent probes return empty, never an error
    assert(Layout.bloomPrunedRead(spark, dir, "id", Seq("999999")).count() === 0L)
  }

  test("bloomAgg is partition-invariant (bitwise-OR merge)") {
    val a = (0L until 500L).map(i => Tuple1(i)).toDF("id")
    def bits(df: org.apache.spark.sql.DataFrame): Seq[Byte] =
      df.agg(AggregateFunctions.bloomAgg(col("id"), 1000, 0.01))
        .collect()(0).getAs[Array[Byte]](0).toSeq
    assert(bits(a.coalesce(1)) === bits(a.repartition(13)))
  }

  test("stale manifests are hard errors for blooms and counts") {
    val root = scratch("bloomstale")
    (0L until 50L).map(i => (i, i)).toDF("id", "k")
      .repartition(2).write.parquet(s"$root/t")
    Layout.writeBloomManifest(spark, s"$root/t", Seq("id"), 64)
    Layout.writeManifest(spark, s"$root/t", Seq("id"))
    assert(Layout.countFromManifest(spark, s"$root/t") === 50L)
    Seq((1000L, 1000L)).toDF("id", "k")
      .write.mode("append").parquet(s"$root/t")
    assert(intercept[IllegalArgumentException] {
      Layout.bloomPrunedFiles(spark, s"$root/t", "id", Seq("1"))
    }.getMessage.contains("stale"))
    assert(intercept[IllegalArgumentException] {
      Layout.countFromManifest(spark, s"$root/t")
    }.getMessage.contains("stale"))
  }

  test("metadata-only count equals the real count") {
    assert(Layout.countFromManifest(spark, dir) === 2000L)
    assert(spark.read.parquet(dir).count() === 2000L)
  }

  test("empty-survivor pruned reads work on b-dir-only versioned tables") {
    import spark.implicits._
    // data lives ONLY under b<N>/ subdirs — a bare dir read cannot
    // infer a schema, so the zero-survivor branch must derive its
    // empty frame from the committed file list
    val dir = scratch("bmv") + "/t"
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "k")
      .write.parquet(s"$dir/b0")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_commits"))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_commits/v0"), false).close()
    VersionLog.snapshot(spark, dir)
    Layout.writeBloomManifest(spark, dir, Seq("id"), 1024L)
    val miss = Layout.bloomPrunedRead(spark, dir, "id", Seq("777777"))
    assert(miss.count() === 0L)
    assert(miss.columns.toSeq === Seq("id", "k"))
    Layout.writeManifest(spark, dir, Seq("id"))
    val missZ = Layout.prunedRead(spark, dir, Seq(("id", 5000L, 6000L)))
    assert(missZ.count() === 0L)
    assert(missZ.columns.toSeq === Seq("id", "k"))
  }
}
