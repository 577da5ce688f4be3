package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CDC apply / keyed replica maintenance: the mirror follows its
  * source through appends, DML, compaction, and restore with
  * delta-sized syncs; applying is idempotent; same-commit
  * delete+insert pairs resolve to the postimage.
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def rows(dir: String): Seq[(Long, Long, String)] =
    Cdc.readMirror(spark, dir)
      .select("id", "w", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  private def srcRows(dir: String): Seq[(Long, Long, String)] =
    VersionLog.readVersion(spark, dir, VersionLog.latest(spark, dir))
      .select("id", "w", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  test("the mirror follows append, delete, merge, compact, and restore") {
    val root = scratch("cdc")
    val src = s"$root/src"; val rep = s"$root/rep"
    (0L until 40L).map(i => (i, i % 7, s"v$i")).toDF("id", "w", "v")
      .repartitionByRange(4, col("id")).write.parquet(src)
    VersionLog.snapshot(spark, src) // v1
    assert(Cdc.mirrorOnce(spark, src, rep, Seq("id")) === Some((0, 1)))
    assert(rows(rep) === srcRows(src))
    // append + delete in one catch-up
    (40L until 50L).map(i => (i, i % 7, s"v$i")).toDF("id", "w", "v")
      .write.mode("append").parquet(src)
    VersionLog.snapshot(spark, src) // v2
    Dml.deleteWhere(spark, src, col("id") % 5 === 0L) // v3
    assert(Cdc.mirrorOnce(spark, src, rep, Seq("id")) === Some((1, 3)))
    assert(rows(rep) === srcRows(src))
    // merge (replace + insert), then a compact the mirror must skip
    val ups = Seq((1L, 99L, "patched"), (500L, 1L, "new"))
      .toDF("id", "w", "v")
    Dml.mergeInto(spark, src, ups, Seq("id")) // v4
    VersionLog.compact(spark, src, files = 1) // v5
    assert(Cdc.mirrorOnce(spark, src, rep, Seq("id")) === Some((3, 5)))
    assert(rows(rep) === srcRows(src))
    assert(rows(rep).exists(_ == ((1L, 99L, "patched"))))
    // caught-up sync no-ops
    assert(Cdc.mirrorOnce(spark, src, rep, Seq("id")) === None)
    // restore across the merge: the mirror un-applies it too
    VersionLog.restore(spark, src, 3) // v6
    assert(Cdc.mirrorOnce(spark, src, rep, Seq("id")) === Some((5, 6)))
    assert(rows(rep) === srcRows(src))
    assert(!rows(rep).exists(_._3 == "patched"))
  }

  test("applying a feed is idempotent; postimage wins a same-commit pair") {
    val root = scratch("cdcid")
    val src = s"$root/src"; val rep = s"$root/rep"
    (0L until 10L).map(i => (i, i, s"v$i")).toDF("id", "w", "v")
      .write.parquet(src)
    VersionLog.snapshot(spark, src)
    Dml.mergeInto(spark, src,
      Seq((3L, 333L, "updated")).toDF("id", "w", "v"), Seq("id")) // v2
    // bootstrap, then apply v1->v2 twice: the second apply is a no-op
    Cdc.applyChangeFeed(spark,
      VersionLog.readVersion(spark, src, 1)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(1)), rep, Seq("id"))
    val feed = VersionLog.readChangeFeed(spark, src, 1, 2)
    // the merge emits delete(pre) + insert(post) at the SAME commit —
    // lastEventPerKey must keep the postimage
    assert(feed.filter(col("_commit_version") === 2).count() === 2L)
    Cdc.applyChangeFeed(spark, feed, rep, Seq("id"))
    assert(rows(rep).contains((3L, 333L, "updated")))
    val before = rows(rep)
    Cdc.applyChangeFeed(spark, feed, rep, Seq("id"))
    assert(rows(rep) === before)
    assert(rows(rep) === srcRows(src))
  }

  test("key-set DELETE removes exactly the listed keys, copy-on-write") {
    val dir = scratch("delm") + "/t"
    (0L until 100L).map(i => (i, i % 10, s"v$i")).toDF("id", "w", "v")
      .repartitionByRange(4, col("id")).write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    val (v2, n) = Dml.deleteMatching(spark, dir,
      Seq(5L, 17L, 99L, 12345L).toDF("id"), Seq("id"))
    assert(v2 === 2 && n === 3L) // the absent key matches nothing
    assert(VersionLog.readVersion(spark, dir, 2).count() === 97L)
    assert(VersionLog.readVersion(spark, dir, 2)
      .filter(col("id").isin(5L, 17L, 99L)).count() === 0L)
    assert(VersionLog.readVersion(spark, dir, 1).count() === 100L)
    // no matches -> no new version
    assert(Dml.deleteMatching(spark, dir,
      Seq(7777L).toDF("id"), Seq("id")) === ((2, 0L)))
  }

  test("the mirror follows its source through additive schema evolution") {
    val root = scratch("cdcevo")
    val src = s"$root/src"; val rep = s"$root/rep"
    (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(src)
    VersionLog.snapshot(spark, src) // v1: two columns
    Cdc.mirrorOnce(spark, src, rep, Seq("id"))
    // the source widens via an evolving MERGE (adds `score`)...
    val ups = Seq((3L, "patched", 30L), (500L, "new", 1L))
      .toDF("id", "v", "score")
    Dml.mergeInto(spark, src, ups, Seq("id")) // v2: evolution
    // ...and the replica follows: the feed carries the evolved schema
    // (old inserts NULL-filled), and the replica's merge widens it too
    assert(Cdc.mirrorOnce(spark, src, rep, Seq("id")) === Some((1, 2)))
    val mirror = Cdc.readMirror(spark, rep)
    assert(mirror.columns.toSeq === Seq("id", "v", "score"))
    assert(mirror.count() === 21L)
    assert(mirror.filter(col("id") === 3L)
      .select("score").collect()(0).getLong(0) === 30L)
    assert(mirror.filter(col("score").isNull).count() === 19L)
    // post-evolution appends keep flowing
    Seq((600L, "late", 9L)).toDF("id", "v", "score")
      .write.mode("append").parquet(src)
    VersionLog.snapshot(spark, src) // v3
    assert(Cdc.mirrorOnce(spark, src, rep, Seq("id")) === Some((2, 3)))
    assert(Cdc.readMirror(spark, rep).count() === 22L)
  }
}
