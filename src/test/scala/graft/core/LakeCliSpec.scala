package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The lakehouse CLI front: a full operator flow — snapshot, append,
  * changes, SQL-string delete, merge, compact, vacuum, MV — end to
  * end, plus the one-step forget.
  */
class LakeCliSpec extends SparkSpec {
  import spark.implicits._

  test("full lifecycle flow through the CLI surface") {
    val cli = new LakeCli(spark)
    val root = scratch("lakecli")
    val dir = s"$root/t"
    (0L until 50L).map(i => (i, i % 5)).toDF("id", "k")
      .repartition(2).write.parquet(dir)
    assert(cli.snapshot(dir) === 1)
    (50L until 60L).map(i => (i, i % 5)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    assert(cli.snapshot(dir) === 2)
    assert(cli.versions(dir) === Seq(1, 2))
    assert(cli.changes(dir, 1, 2, s"$root/delta") === 10L)
    assert(cli.readAsOf(dir, 1, s"$root/v1") === 50L)
    // SQL-string predicate delete
    val (v3, ndel) = cli.delete(dir, "k = 3")
    assert(v3 === 3 && ndel === 12L)
    // merge: patch one row, insert one
    Seq((0L, 99L), (1000L, 0L)).toDF("id", "k")
      .write.parquet(s"$root/updates")
    val (v4, replaced, inserted) = cli.merge(dir, s"$root/updates", Seq("id"))
    assert((v4, replaced, inserted) === ((4, 1L, 1L)))
    // MV over the table
    assert(cli.mvRefresh(dir, s"$root/mv", Seq("k"), Seq("id")).isDefined)
    assert(cli.mvRead(s"$root/mv", s"$root/mvout") === 5L) // k in {0,1,2,4,99}
    // compact + vacuum leave one readable version with the right rows
    cli.compact(dir, files = 1)
    cli.vacuum(dir, keepLast = 1)
    assert(cli.versions(dir).size === 1)
    assert(VersionLog.readVersion(spark, dir, cli.versions(dir).head)
      .count() === 49L) // 60 - 12 deleted + 1 inserted
  }

  test("forget leaves no readable version with the rows") {
    val cli = new LakeCli(spark)
    val root = scratch("lakeforget")
    val dir = s"$root/t"
    (0L until 30L).map(i => (i, i % 3)).toDF("id", "k").write.parquet(dir)
    cli.snapshot(dir)
    cli.compact(dir, 1) // history to vacuum through
    assert(cli.forget(dir, "id >= 25") === 5L)
    assert(cli.versions(dir).size === 1)
    val v = cli.versions(dir).head
    assert(VersionLog.readVersion(spark, dir, v).count() === 25L)
    val live = Layout.liveDataFiles(spark, dir).toSeq
    assert(spark.read.parquet(live: _*).filter(col("id") >= 25L).count() === 0L)
  }

  test("forget covers marker-committed batches the snapshot lagged on") {
    val cli = new LakeCli(spark)
    val root = scratch("lakelag")
    val dir = s"$root/t"
    (0L until 20L).map(i => (i, i % 2)).toDF("id", "k")
      .write.parquet(dir)
    cli.snapshot(dir)
    // a committed ingest batch (marker present) that NO version lists
    // yet — the documented snapshot lag; pre-fix, its matching rows
    // survived the DELETE and resurfaced at the next snapshot
    (90L until 100L).map(i => (i, i % 2)).toDF("id", "k")
      .write.parquet(s"$dir/b0")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_commits"))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_commits/v0"), false).close()
    assert(cli.forget(dir, "id >= 90") === 10L)
    // no readable surface carries the rows — including after a fresh
    // snapshot (nothing lagging resurrects them)
    val v = cli.versions(dir).last
    assert(VersionLog.readVersion(spark, dir, v)
      .filter(col("id") >= 90L).count() === 0L)
    cli.snapshot(dir)
    val v2 = cli.versions(dir).last
    assert(VersionLog.readVersion(spark, dir, v2)
      .filter(col("id") >= 90L).count() === 0L)
    assert(VersionLog.readVersion(spark, dir, v2).count() === 20L)
  }

  test("forget heals manifests on a manifested table") {
    val cli = new LakeCli(spark)
    val root = scratch("lakefzm")
    val dir = s"$root/t"
    (0L until 100L).map(i => (i, i % 5)).toDF("id", "k")
      .repartitionByRange(4, col("id")).write.parquet(dir)
    cli.snapshot(dir)
    Layout.writeManifest(spark, dir, Seq("id"))
    assert(cli.forget(dir, "id >= 75") === 25L)
    // the manifest healed in-command: pruned reads work immediately,
    // and the metadata-only count reflects the takedown
    assert(Layout.countFromManifest(spark, dir) === 75L)
    assert(Layout.prunedRead(spark, dir, Seq(("id", 0L, 9L))).count() === 10L)
  }
}
