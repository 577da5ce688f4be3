package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Version-log time travel: snapshot isolation across appends,
  * idempotent snapshots, loud failure after history rewrite, and
  * root-relative portability.
  */
class VersionLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = scratch("vlog") + "/t"
    (0L until 100L).map(i => (i, i % 10)).toDF("id", "k")
      .repartition(4).write.parquet(dir)
    dir
  }

  test("reads of an old version are isolated from later appends") {
    val dir = freshTable()
    val v1 = VersionLog.snapshot(spark, dir)
    assert(v1 === 1)
    (100L until 130L).map(i => (i, i % 10)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    val v2 = VersionLog.snapshot(spark, dir)
    assert(v2 === 2)
    assert(VersionLog.readVersion(spark, dir, 1).count() === 100L)
    assert(VersionLog.readVersion(spark, dir, 2).count() === 130L)
    assert(VersionLog.readVersion(spark, dir, 1)
      .agg(max(col("id"))).collect()(0).getLong(0) === 99L)
    assert(VersionLog.latest(spark, dir) === 2)
    assert(VersionLog.versions(spark, dir) === Seq(1, 2))
  }

  test("snapshot is idempotent on an unchanged table") {
    val dir = freshTable()
    assert(VersionLog.snapshot(spark, dir) === 1)
    assert(VersionLog.snapshot(spark, dir) === 1)
    assert(VersionLog.versions(spark, dir) === Seq(1))
  }

  test("a rewritten history fails loudly, never partially") {
    val dir = freshTable()
    VersionLog.snapshot(spark, dir)
    // compact: rewrite the whole table as one file (old files gone)
    val all = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    val tmp = scratch("vlogc") + "/c"
    all.toSeq.toDF("id", "k").coalesce(1).write.parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).foreach { st =>
      if (!st.getPath.getName.startsWith("_")) fs.delete(st.getPath, false)
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).foreach { st =>
      if (!st.getPath.getName.startsWith("_"))
        fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dir, st.getPath.getName))
    }
    val e = intercept[IllegalArgumentException] {
      VersionLog.readVersion(spark, dir, 1)
    }
    assert(e.getMessage.contains("no longer readable"))
    // but a fresh snapshot of the compacted table starts a new version
    assert(VersionLog.snapshot(spark, dir) === 2)
    assert(VersionLog.readVersion(spark, dir, 2).count() === 100L)
  }

  test("unknown versions and empty tables are loud errors") {
    val dir = freshTable()
    intercept[IllegalArgumentException] {
      VersionLog.readVersion(spark, dir, 7)
    }
    intercept[IllegalArgumentException] { VersionLog.latest(spark, dir) }
    val empty = scratch("vloge") + "/t"
    new java.io.File(empty).mkdirs()
    intercept[IllegalArgumentException] { VersionLog.snapshot(spark, empty) }
  }

  test("readChanges scans only the delta and errors on rewrites") {
    val dir = freshTable()
    VersionLog.snapshot(spark, dir)
    (100L until 120L).map(i => (i, i % 10)).toDF("id", "k")
      .repartition(2).write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir)
    val delta = VersionLog.readChanges(spark, dir, 1, 2)
    assert(delta.select(min(col("id")), max(col("id")), count(lit(1)))
      .collect()(0).toSeq === Seq(100L, 119L, 20L))
    // self-delta is empty but keeps the schema
    val self = VersionLog.readChanges(spark, dir, 2, 2)
    assert(self.count() === 0L)
    assert(self.columns.toSeq === Seq("id", "k"))
    intercept[IllegalArgumentException] {
      VersionLog.readChanges(spark, dir, 2, 1)
    }
    // a rewrite between versions breaks append-only: delete a v1 file,
    // re-snapshot, and the incremental read across it must refuse
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = VersionLog.readVersion(spark, dir, 1)
      .inputFiles.head
    fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(victim)), false)
    VersionLog.snapshot(spark, dir)
    val e = intercept[IllegalArgumentException] {
      VersionLog.readChanges(spark, dir, 1, 3)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("compact keeps old versions readable; vacuum reclaims them loudly") {
    val dir = freshTable() // 100 rows in 4 files
    VersionLog.snapshot(spark, dir)
    (100L until 110L).map(i => (i, i % 10)).toDF("id", "k")
      .repartition(2).write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir)
    val v3 = VersionLog.compact(spark, dir, files = 1)
    assert(v3 === 3)
    // all three versions answer, v3 == v2 row-for-row
    assert(VersionLog.readVersion(spark, dir, 1).count() === 100L)
    assert(VersionLog.readVersion(spark, dir, 2).count() === 110L)
    assert(VersionLog.readVersion(spark, dir, 3)
      .select("id").orderBy("id").collect().toSeq ===
      VersionLog.readVersion(spark, dir, 2)
        .select("id").orderBy("id").collect().toSeq)
    // a snapshot between compact and vacuum must NOT resurrect the
    // superseded pre-compaction files
    (110L until 112L).map(i => (i, i)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    val v4 = VersionLog.snapshot(spark, dir)
    assert(VersionLog.readVersion(spark, dir, v4).count() === 112L)
    val (dropped, deleted) = VersionLog.vacuum(spark, dir, keepLast = 1)
    assert(dropped === 3)
    assert(deleted === 6, s"the 4 v1 + 2 v2-delta files must go: $deleted")
    assert(VersionLog.versions(spark, dir) === Seq(4))
    assert(VersionLog.readVersion(spark, dir, 4).count() === 112L)
    intercept[IllegalArgumentException] {
      VersionLog.readVersion(spark, dir, 2)
    }
  }

  test("history reports per-version file/byte deltas, metadata-only") {
    val dir = freshTable() // 4 files
    VersionLog.snapshot(spark, dir)
    (100L until 110L).map(i => (i, i)).toDF("id", "k")
      .repartition(2).write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir)
    VersionLog.compact(spark, dir, files = 1)
    val h = VersionLog.history(spark, dir)
      .orderBy("version").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(h.toSeq === Seq(
      (1, 4L, 4L, 0L), // base: 4 files added
      (2, 6L, 2L, 0L), // append: +2
      (3, 1L, 1L, 6L))) // compact: 1 new file replaces all 6
    assert(VersionLog.history(spark, dir)
      .agg(min(col("bytes"))).collect()(0).getLong(0) > 0L)
  }

  test("snapshot never resurrects a crashed rewrite's orphan files") {
    val dir = freshTable()
    VersionLog.snapshot(spark, dir)
    // simulate compact/DELETE crashed after writing its rewrite dir
    // but before committing the version: the full content sits in c99/
    spark.read.parquet(dir).coalesce(1).write.parquet(s"$dir/c99")
    // and an uncommitted ingest attempt (no marker) sits in b7/
    Seq((999L, 0L)).toDF("id", "k").write.parquet(s"$dir/b7")
    (100L until 105L).map(i => (i, i % 10)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    val v2 = VersionLog.snapshot(spark, dir)
    // neither orphan is listed: rows would double / leak otherwise
    assert(VersionLog.readVersion(spark, dir, v2).count() === 105L)
    assert(VersionLog.readEntries(spark, dir, v2)
      .forall { case (rel, _) => !rel.startsWith("c99/") && !rel.startsWith("b7/") })
    // a COMMITTED ingest dir (marker present) is included
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_commits"))
    f.create(new org.apache.hadoop.fs.Path(s"$dir/_commits/v7"), false).close()
    val v3 = VersionLog.snapshot(spark, dir)
    assert(VersionLog.readVersion(spark, dir, v3).count() === 106L)
  }

  test("relative paths make a moved table keep its history") {
    val dir = freshTable()
    VersionLog.snapshot(spark, dir)
    val moved = dir + "_moved"
    assert(new java.io.File(dir).renameTo(new java.io.File(moved)))
    assert(VersionLog.readVersion(spark, moved, 1).count() === 100L)
  }

  test("readChanges skips compaction versions (a logical no-op)") {
    val dir = freshTable() // v1: 100 rows
    VersionLog.snapshot(spark, dir)
    (100L until 120L).map(i => (i, i % 10)).toDF("id", "k")
      .repartition(2).write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v2: +20
    VersionLog.compact(spark, dir, files = 1) // v3: rewrite, zero change
    (120L until 125L).map(i => (i, i % 10)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v4: +5
    // the compact contributes nothing; appends on both sides survive
    assert(VersionLog.readChanges(spark, dir, 1, 4)
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq ===
      (100L until 125L).toSeq)
    assert(VersionLog.readChanges(spark, dir, 2, 3).count() === 0L)
    assert(VersionLog.readChanges(spark, dir, 2, 4).count() === 5L)
  }

  test("readChanges across DML names the resumable boundary") {
    val dir = freshTable()
    VersionLog.snapshot(spark, dir)
    (100L until 110L).map(i => (i, i % 10)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v2
    Dml.deleteWhere(spark, dir, col("id") < 5L) // v3: a delete rewrite
    (110L until 115L).map(i => (i, i % 10)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v4
    val e = intercept[IllegalArgumentException] {
      VersionLog.readChanges(spark, dir, 1, 4)
    }
    assert(e.getMessage.contains("version 3 is a delete rewrite"))
    assert(e.getMessage.contains("readChanges(1, 2)"))
    assert(e.getMessage.contains("readChangeFeed(2, 4)"))
    // the resumable path it names actually works
    assert(VersionLog.readChanges(spark, dir, 1, 2).count() === 10L)
    assert(VersionLog.readChangeFeed(spark, dir, 2, 4)
      .filter(col("_change_type") === "insert").count() === 5L)
  }

  test("the change feed reproduces every version transition exactly") {
    val dir = freshTable() // v1: ids 0..99
    VersionLog.snapshot(spark, dir)
    (100L until 110L).map(i => (i, i % 10)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v2 append
    Dml.deleteWhere(spark, dir, col("id") % 7 === 3L) // v3 delete
    val ups = Seq((0L, 77L), (500L, 1L)).toDF("id", "k")
    Dml.mergeInto(spark, dir, ups, Seq("id")) // v4 merge: 1 replace + 1 insert
    VersionLog.compact(spark, dir, files = 2) // v5 compact: no-op
    (600L until 605L).map(i => (i, 0L)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v6 append
    VersionLog.restore(spark, dir, 4) // v7 restore: drops v6 rows
    // folding the feed into any FROM version reproduces every TO
    // version bag-exactly: from + inserts - deletes == to
    def bagEq(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L
    for (from <- 1 to 7; to <- from to 7) {
      val feed = VersionLog.readChangeFeed(spark, dir, from, to)
      val ins = feed.filter(col("_change_type") === "insert")
        .select("id", "k")
      val del = feed.filter(col("_change_type") === "delete")
        .select("id", "k")
      val applied = VersionLog.readVersion(spark, dir, from)
        .unionByName(ins).exceptAll(del)
      assert(bagEq(applied, VersionLog.readVersion(spark, dir, to)),
        s"feed $from -> $to did not reproduce the target version")
    }
    // feed events carry their commit version; the compact emits none
    val full = VersionLog.readChangeFeed(spark, dir, 1, 7)
    assert(full.filter(col("_commit_version") === 5).count() === 0L)
    assert(full.filter(col("_commit_version") === 3)
      .agg(count(lit(1))).collect()(0).getLong(0) > 0L)
  }

  test("restore re-points the head, keeps history, refuses vacuumed targets") {
    val dir = freshTable()
    VersionLog.snapshot(spark, dir) // v1
    (100L until 110L).map(i => (i, i % 10)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v2
    Dml.deleteWhere(spark, dir, col("id") < 50L) // v3: the "bad" DML
    assert(VersionLog.readVersion(spark, dir, 3).count() === 60L)
    val v4 = VersionLog.restore(spark, dir, 2)
    assert(v4 === 4)
    // restored head == the pre-DML content, and the bad version still
    // time-travels (auditable)
    assert(VersionLog.readVersion(spark, dir, 4)
      .select("id").orderBy("id").collect().toSeq ===
      VersionLog.readVersion(spark, dir, 2)
        .select("id").orderBy("id").collect().toSeq)
    assert(VersionLog.readVersion(spark, dir, 3).count() === 60L)
    assert(VersionLog.history(spark, dir).count() === 4L)
    // idempotent: restoring the current head mints nothing
    assert(VersionLog.restore(spark, dir, 2) === 4)
    assert(VersionLog.restore(spark, dir, 4) === 4)
    // a later snapshot does not resurrect the d3 rewrite files
    (200L until 202L).map(i => (i, i)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    val v5 = VersionLog.snapshot(spark, dir)
    assert(VersionLog.readVersion(spark, dir, v5).count() === 112L)
    // vacuum to the head, then a restore into reclaimed history refuses
    VersionLog.vacuum(spark, dir, keepLast = 1)
    val e = intercept[IllegalArgumentException] {
      VersionLog.restore(spark, dir, 3)
    }
    assert(e.getMessage.contains("not recorded") ||
      e.getMessage.contains("vacuumed"))
  }

  test("a losing appender rebases onto the winner's head (OCC)") {
    val dir = freshTable()
    VersionLog.snapshot(spark, dir) // v1: 4 files, ids 0..99
    // writer A lands its batch on disk...
    (100L until 104L).map(i => (i, i % 10)).toDF("id", "k")
      .write.mode("append").parquet(dir)
    // ...and in the window between A preparing v2 and committing it,
    // writer B (a compaction cron) commits v2 first — deterministic
    // interleave via the pre-commit hook, one-shot so B's own commit
    // does not recurse
    var fired = false
    VersionLog.beforeVersionCommit = () => if (!fired) {
      fired = true
      VersionLog.compact(spark, dir, files = 1)
    }
    try {
      val (v, retries) = VersionLog.snapshotDetailed(spark, dir)
      assert(fired, "the interleaved committer must have run")
      assert(retries === 1, s"exactly one rebase expected: $retries")
      assert(v === 3)
    } finally VersionLog.beforeVersionCommit = () => ()
    // both outcomes landed exactly once: the compacted base + A's batch
    assert(VersionLog.readVersion(spark, dir, 3).count() === 104L)
    assert(VersionLog.readVersion(spark, dir, 3)
      .agg(countDistinct(col("id"))).collect()(0).getLong(0) === 104L)
    assert(VersionLog.readVersion(spark, dir, 2).count() === 100L)
  }

  test("a losing rewriter aborts loudly instead of dropping the winner") {
    val upsert = Seq((5L, 50L)).toDF("id", "k")
    val key6 = Seq(6L).toDF("id")
    // (rewriter, setup before the race, the rewrite itself)
    val rewriters: Seq[(String, String => Unit, String => Any)] = Seq(
      ("compact", _ => (), dir => VersionLog.compact(spark, dir, files = 1)),
      ("restore", { dir =>
        Seq((200L, 0L)).toDF("id", "k").write.mode("append").parquet(dir)
        VersionLog.snapshot(spark, dir)
        ()
      }, dir => VersionLog.restore(spark, dir, 1)),
      ("deleteWhere", _ => (),
        dir => Dml.deleteWhere(spark, dir, col("id") === 5L)),
      ("deleteMatching", _ => (),
        dir => Dml.deleteMatching(spark, dir, key6, Seq("id"))),
      ("mergeInto", _ => (),
        dir => Dml.mergeInto(spark, dir, upsert, Seq("id"))),
      ("mergeApply", _ => (),
        dir => Dml.mergeApply(spark, dir, upsert, key6, Seq("id"), upCount = 1L)))
    rewriters.foreach { case (name, setup, rewrite) =>
      val dir = freshTable()
      VersionLog.snapshot(spark, dir)
      setup(dir)
      val before = VersionLog.latest(spark, dir)
      val rows = VersionLog.readVersion(spark, dir, before).count()
      var fired = false
      VersionLog.beforeVersionCommit = () => if (!fired) {
        fired = true
        // a concurrent appender wins the next version first
        (100L until 102L).map(i => (i, i)).toDF("id", "k")
          .write.mode("append").parquet(dir)
        VersionLog.snapshot(spark, dir)
      }
      try {
        val e = intercept[IllegalStateException](rewrite(dir))
        assert(e.getMessage.contains("commit race"), name)
        assert(e.getCause.isInstanceOf[CommitConflictException], name)
      } finally VersionLog.beforeVersionCommit = () => ()
      // nothing was lost: the winner's append is the head, the loser's
      // orphan dir is invisible to snapshots
      assert(VersionLog.latest(spark, dir) === before + 1, name)
      assert(VersionLog.readVersion(spark, dir, before + 1).count() ===
        rows + 2L, name)
      assert(VersionLog.snapshot(spark, dir) === before + 1, name)
    }
  }

  test("concurrent appenders all land exactly once under commit races") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = scratch("vlogocc") + "/t"
    (0L until 10L).map(i => (i, 0L)).toDF("id", "k").write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    val futures = (0 until 4).map { w =>
      Future {
        (0 until 3).foreach { r =>
          val base = 1000L * (w * 3 + r + 1)
          (base until base + 5L).map(i => (i, i % 10)).toDF("id", "k")
            .write.parquet(s"$dir/b${w * 3 + r}")
          val fsx = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fsx.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_commits"))
          try fsx.create(new org.apache.hadoop.fs.Path(
            s"$dir/_commits/v${w * 3 + r}"), false).close()
          catch { case _: java.io.IOException => () }
          VersionLog.snapshot(spark, dir)
        }
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    val v = VersionLog.snapshot(spark, dir)
    // 10 base + 12 batches x 5 rows, every id exactly once
    assert(VersionLog.readVersion(spark, dir, v).count() === 70L)
    assert(VersionLog.readVersion(spark, dir, v)
      .agg(countDistinct(col("id"))).collect()(0).getLong(0) === 70L)
  }

  test("evolveSchema is a metadata-only ALTER; restore re-pins schemas") {
    import org.apache.spark.sql.types._
    val dir = freshTable() // (id, k), v1
    VersionLog.snapshot(spark, dir)
    val widened = StructType(
      VersionLog.readVersion(spark, dir, 1).schema.fields :+
        StructField("note", StringType, nullable = true))
    val v2 = VersionLog.evolveSchema(spark, dir, widened)
    assert(v2 === 2)
    // same files, new read schema, NULL-backfilled
    assert(VersionLog.readEntries(spark, dir, 2) ===
      VersionLog.readEntries(spark, dir, 1))
    assert(VersionLog.readVersion(spark, dir, 2).columns.toSeq ===
      Seq("id", "k", "note"))
    assert(VersionLog.readVersion(spark, dir, 2)
      .filter(col("note").isNull).count() === 100L)
    assert(VersionLog.readVersion(spark, dir, 1).columns.toSeq ===
      Seq("id", "k"))
    // idempotent + additive-only guard rails
    assert(VersionLog.evolveSchema(spark, dir, widened) === 2)
    intercept[IllegalArgumentException] {
      VersionLog.evolveSchema(spark, dir,
        StructType(Seq(StructField("id", LongType))))
    }
    // the evolve step is invisible to incremental consumers
    assert(VersionLog.readChanges(spark, dir, 1, 2).count() === 0L)
    // restore across the boundary re-pins the OLD effective schema
    val v3 = VersionLog.restore(spark, dir, 1)
    assert(VersionLog.readVersion(spark, dir, v3).columns.toSeq ===
      Seq("id", "k"))
  }

  test("OPTIMIZE ZORDER re-clusters rows prunably and stays a no-op to feeds") {
    val dir = scratch("vlogz") + "/t"
    // two dims deliberately scattered: hash-partitioned writes give
    // every file a near-full range in both columns
    (0L until 4096L).map(i => (i % 64, i / 64, i)).toDF("a", "b", "id")
      .repartition(8).write.parquet(dir)
    VersionLog.snapshot(spark, dir) // v1
    val before = Layout.filesTouched(
      Layout.fileBoxes(spark, dir, "a", "b"), 0L, 7L, 0L, 7L)
    val v2 = VersionLog.compactZOrdered(spark, dir, files = 8,
      dims = Seq("a", "b"))
    assert(v2 === 2)
    // bit-identical rows, tighter boxes
    assert(VersionLog.readVersion(spark, dir, 2)
      .agg(count(lit(1)), sum(col("id"))).collect()(0).toSeq ===
      Seq(4096L, (0L until 4096L).sum))
    val boxesAfter = VersionLog.readVersion(spark, dir, 2)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("a")).as("x_min"), max(col("a")).as("x_max"),
        min(col("b")).as("y_min"), max(col("b")).as("y_max"))
    val after = Layout.filesTouched(boxesAfter, 0L, 7L, 0L, 7L)
    assert(after < before,
      s"the z-ordered layout must prune the corner box: $after vs $before")
    // and the optimize is invisible to incremental consumers
    assert(VersionLog.readChanges(spark, dir, 1, 2).count() === 0L)
    intercept[IllegalArgumentException] {
      VersionLog.compactZOrdered(spark, dir, 4, Seq("a"))
    }
  }

  test("a table removed and re-created at the same path reads its new v1") {
    // the version-record memo is keyed on the version FILE's content
    // identity (modTime+length): rm -rf + rebuild restarts numbering at
    // v1 at the SAME path, and a (root, version)-keyed memo would serve
    // the OLD parse for the new v00001.list — silently reading the old
    // file set (or erroring on the entry-length check)
    val dir = freshTable()
    assert(VersionLog.snapshot(spark, dir) === 1)
    assert(VersionLog.readVersion(spark, dir, 1).count() === 100L)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    // re-create with DIFFERENT content and a DIFFERENT schema
    (0L until 37L).map(i => (i, s"s$i")).toDF("id", "label")
      .repartition(2).write.parquet(dir)
    assert(VersionLog.snapshot(spark, dir) === 1)
    val re = VersionLog.readVersion(spark, dir, 1)
    assert(re.count() === 37L)
    assert(re.columns.toSeq === Seq("id", "label"))
  }
}
