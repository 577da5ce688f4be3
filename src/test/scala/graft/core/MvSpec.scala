package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental aggregate MV: delta-exact refresh, exactly-once under
  * marker-loss replay, no-op when fresh, and state pruning.
  */
class MvSpec extends SparkSpec {
  import spark.implicits._

  private def mvRows(mv: String): Seq[(String, Long, Long)] =
    Mv.read(spark, mv).select("k", "n_rows", "w__sum").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("refreshes fold deltas; result equals the full recompute") {
    val root = scratch("mv")
    val src = s"$root/src"; val mv = s"$root/mv"
    Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "w").write.parquet(src)
    VersionLog.snapshot(spark, src)
    assert(Mv.refresh(spark, src, mv, Seq("k"), Seq("w")) === Some((0, 1)))
    assert(mvRows(mv) === Seq(("a", 2L, 3L), ("b", 1L, 10L)))
    Seq(("b", 5L), ("c", 7L)).toDF("k", "w").write.mode("append").parquet(src)
    VersionLog.snapshot(spark, src)
    assert(Mv.refresh(spark, src, mv, Seq("k"), Seq("w")) === Some((1, 2)))
    assert(mvRows(mv) === Seq(("a", 2L, 3L), ("b", 2L, 15L), ("c", 1L, 7L)))
    assert(Mv.refresh(spark, src, mv, Seq("k"), Seq("w")) === None)
  }

  test("a replay after marker loss rewrites the state, never double-folds") {
    val root = scratch("mvr")
    val src = s"$root/src"; val mv = s"$root/mv"
    Seq(("a", 1L)).toDF("k", "w").write.parquet(src)
    VersionLog.snapshot(spark, src)
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    Seq(("a", 100L)).toDF("k", "w").write.mode("append").parquet(src)
    VersionLog.snapshot(spark, src)
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    val before = mvRows(mv)
    // crash window: state v=2 written, marker lost → replay
    val fs = new org.apache.hadoop.fs.Path(mv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$mv/_commits/v2"), false)
    assert(Mv.refresh(spark, src, mv, Seq("k"), Seq("w")) === Some((1, 2)))
    assert(mvRows(mv) === before)
    assert(before === Seq(("a", 2L, 101L)))
  }

  test("a stray non-marker entry under _commits is ignored by read and refresh") {
    val root = scratch("mvs")
    val src = s"$root/src"; val mv = s"$root/mv"
    Seq(("a", 1L), ("b", 2L)).toDF("k", "w").write.parquet(src)
    VersionLog.snapshot(spark, src)
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    Seq(("a", 4L)).toDF("k", "w").write.mode("append").parquet(src)
    VersionLog.snapshot(spark, src)
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    val before = mvRows(mv)
    // an editor backup or copy artifact beside the real markers
    val fs = new org.apache.hadoop.fs.Path(mv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$mv/_commits/v2.bak"), false).close()
    assert(Mv.committedVersions(spark, mv) === Seq(1, 2))
    assert(mvRows(mv) === before)
    assert(Mv.refresh(spark, src, mv, Seq("k"), Seq("w")) === None)
    Seq(("c", 8L)).toDF("k", "w").write.mode("append").parquet(src)
    VersionLog.snapshot(spark, src)
    assert(Mv.refresh(spark, src, mv, Seq("k"), Seq("w")) === Some((2, 3)))
    assert(mvRows(mv) === before :+ (("c", 1L, 8L)))
  }

  test("prune keeps the newest states and the MV stays readable") {
    val root = scratch("mvp")
    val src = s"$root/src"; val mv = s"$root/mv"
    (1 to 4).foreach { i =>
      Seq((s"k$i", i.toLong)).toDF("k", "w").write.mode("append").parquet(src)
      VersionLog.snapshot(spark, src)
      Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    }
    assert(Mv.committedVersions(spark, mv) === Seq(1, 2, 3, 4))
    assert(Mv.prune(spark, mv, keepLast = 2) === 2)
    assert(Mv.committedVersions(spark, mv) === Seq(3, 4))
    assert(mvRows(mv).size === 4)
    // keepLast=1 would delete the state the newest commit's replay
    // path re-folds from — refused
    intercept[IllegalArgumentException] { Mv.prune(spark, mv, keepLast = 1) }
  }

  test("refresh survives compaction: ingest-refresh-compact-ingest-refresh") {
    val root = scratch("mvc")
    val src = s"$root/src"; val mv = s"$root/mv"
    Seq(("a", 1L), ("b", 2L)).toDF("k", "w").write.parquet(src)
    VersionLog.snapshot(spark, src) // v1
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    VersionLog.compact(spark, src, files = 1) // v2: zero logical change
    // the compact alone folds as an empty delta, not an error
    assert(Mv.refresh(spark, src, mv, Seq("k"), Seq("w")) === Some((1, 2)))
    assert(mvRows(mv) === Seq(("a", 1L, 1L), ("b", 1L, 2L)))
    Seq(("a", 10L), ("c", 5L)).toDF("k", "w")
      .write.mode("append").parquet(src)
    VersionLog.snapshot(spark, src) // v3
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    // == the full recompute, through the rewrite
    assert(mvRows(mv) === Seq(("a", 2L, 11L), ("b", 1L, 2L), ("c", 1L, 5L)))
  }

  test("refresh folds DELETE/MERGE deltas; emptied groups leave the MV") {
    val root = scratch("mvd")
    val src = s"$root/src"; val mv = s"$root/mv"
    Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 3L, 10L), ("c", 4L, 7L))
      .toDF("k", "id", "w").write.parquet(src)
    VersionLog.snapshot(spark, src)
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    // DELETE empties group c entirely and halves group a
    Dml.deleteWhere(spark, src, col("id") === 2L || col("k") === "c")
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    assert(mvRows(mv) === Seq(("a", 1L, 1L), ("b", 1L, 10L)))
    // MERGE: replace b's row (new weight) + insert a d row
    val ups = Seq(("b", 3L, 100L), ("d", 9L, 4L)).toDF("k", "id", "w")
    Dml.mergeInto(spark, src, ups, Seq("id"))
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    assert(mvRows(mv) === Seq(("a", 1L, 1L), ("b", 1L, 100L), ("d", 1L, 4L)))
    // == the full recompute of the final table
    val full = VersionLog.readVersion(spark, src, VersionLog.latest(spark, src))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("w").as("s"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(mvRows(mv) === full)
  }

  test("a vacuumed source refuses incremental refresh; rebuild recovers") {
    val root = scratch("mvv")
    val src = s"$root/src"; val mv = s"$root/mv"
    Seq(("a", 1L), ("b", 2L)).toDF("k", "w").write.parquet(src)
    VersionLog.snapshot(spark, src) // v1
    Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    Seq(("c", 3L)).toDF("k", "w").write.mode("append").parquet(src)
    VersionLog.snapshot(spark, src) // v2 append
    VersionLog.compact(spark, src, files = 1) // v3
    VersionLog.vacuum(spark, src, keepLast = 1) // v2's delta files gone
    val e = intercept[IllegalArgumentException] {
      Mv.refresh(spark, src, mv, Seq("k"), Seq("w"))
    }
    assert(e.getMessage.contains("Mv.rebuild"))
    Mv.rebuild(spark, src, mv, Seq("k"), Seq("w"))
    assert(mvRows(mv) === Seq(("a", 1L, 1L), ("b", 1L, 2L), ("c", 1L, 3L)))
  }
}
