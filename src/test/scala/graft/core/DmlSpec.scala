package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Copy-on-write DML: file-level work bounds (untouched files shared
  * between versions byte-for-byte), time travel across mutations,
  * SQL NULL semantics, guard rails, and vacuum integration.
  */
class DmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = scratch("dml") + "/t"
    (0L until 100L).map(i => (i, i % 10, s"v$i")).toDF("id", "k", "v")
      .repartitionByRange(4, col("id")).write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    dir
  }

  test("delete rewrites only affected files; old version intact") {
    val dir = freshTable()
    val (v2, n) = Dml.deleteWhere(spark, dir, col("id") >= 90L)
    assert(v2 === 2 && n === 10L)
    assert(VersionLog.readVersion(spark, dir, 1).count() === 100L)
    assert(VersionLog.readVersion(spark, dir, 2).count() === 90L)
    assert(VersionLog.readVersion(spark, dir, 2)
      .agg(max(col("id"))).collect()(0).getLong(0) === 89L)
    // copy-on-write evidence: the range layout puts ids 90+ in one
    // file — the other files must be SHARED between v1 and v2
    val e1 = VersionLog.readEntries(spark, dir, 1).toSet
    val e2 = VersionLog.readEntries(spark, dir, 2).toSet
    assert((e1 intersect e2).size === 3,
      s"3 of 4 range files must be untouched: ${(e1 intersect e2).size}")
  }

  test("null predicates keep rows; no-match deletes mint no version") {
    val dir = scratch("dmln") + "/t"
    Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "w").write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    val (v2, n) = Dml.deleteWhere(spark, dir, col("w") > 10L)
    assert(v2 === 2 && n === 1L)
    // the NULL-w row survives (SQL DELETE semantics: only TRUE deletes)
    assert(VersionLog.readVersion(spark, dir, 2)
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L))
    assert(Dml.deleteWhere(spark, dir, col("w") > 999L) === ((2, 0L)))
    // deleting everything is refused
    intercept[IllegalArgumentException] {
      Dml.deleteWhere(spark, dir, lit(true))
    }
  }

  test("delete's bounded survivor probe: zero-row untouched part files fall through") {
    // regression guard for the round-12 probe rewrite: a d-dir can
    // legitimately hold ZERO-ROW part files (an anti-join with an
    // empty partition writes one); a later delete whose only non-empty
    // untouched files are those must still look at the kept rows of
    // the affected files before refusing as "would empty the table"
    val dir = scratch("dmlz") + "/t"
    (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(8).write.parquet(dir) // 8 tasks, some may be tiny
    VersionLog.snapshot(spark, dir)
    // first delete touches EVERY file → all survivors live in d2/,
    // written with the input's partitioning (zero-row parts possible)
    val (v2, n2) = Dml.deleteWhere(spark, dir, col("id") % 2 === 0L)
    assert(v2 === 2 && n2 === 20L)
    // second delete again touches everything that has rows; survivors
    // exist only INSIDE the affected files — must succeed, not refuse
    val (v3, n3) = Dml.deleteWhere(spark, dir, col("id") % 4 === 1L)
    assert(v3 === 3 && n3 === 10L)
    assert(VersionLog.readVersion(spark, dir, 3).count() === 10L)
    // and a genuine delete-all still refuses loudly
    intercept[IllegalArgumentException] {
      Dml.deleteWhere(spark, dir, lit(true))
    }
  }

  test("copy-on-write rewrites keep file granularity (no small-file cascade)") {
    val dir = freshTable() // 4 range files
    val (v2, _) = Dml.deleteWhere(spark, dir, col("id") >= 50L)
    val d2 = VersionLog.readEntries(spark, dir, v2)
      .map(_._1).filter(_.startsWith("d2/"))
    assert(d2.size <= 2, s"2 affected files must rewrite to <= 2: $d2")
    val ups = (200L until 260L).map(i => (i, i % 10, s"n$i")).toDF("id", "k", "v")
      .repartition(16) // a wide upstream must NOT become 16 part files
    val (v3, _, ins) = Dml.mergeInto(spark, dir, ups, Seq("id"))
    assert(ins === 60L)
    val m3new = VersionLog.readEntries(spark, dir, v3)
      .map(_._1).filter(_.startsWith("m3_new/"))
    assert(m3new.size === 1,
      s"60 inserted rows must land as ONE right-sized file: $m3new")
  }

  test("merge replaces matched keys, inserts new ones, shares untouched files") {
    val dir = freshTable()
    val updates = Seq((5L, 99L, "patched"), (200L, 0L, "new"))
      .toDF("id", "k", "v")
    val (v2, replaced, inserted) = Dml.mergeInto(spark, dir, updates, Seq("id"))
    assert((v2, replaced, inserted) === ((2, 1L, 1L)))
    val now = VersionLog.readVersion(spark, dir, 2)
    assert(now.count() === 101L)
    assert(now.filter(col("id") === 5L).select("v").head().getString(0)
      === "patched")
    assert(now.filter(col("id") === 200L).count() === 1L)
    assert(VersionLog.readVersion(spark, dir, 1)
      .filter(col("id") === 5L).select("v").head().getString(0) === "v5")
    val shared = VersionLog.readEntries(spark, dir, 1).toSet intersect
      VersionLog.readEntries(spark, dir, 2).toSet
    assert(shared.size === 3, s"only id=5's file rewrites: ${shared.size}")
  }

  test("merge guard rails: duplicate keys, missing columns, and TYPE drift refuse") {
    val dir = freshTable()
    intercept[IllegalArgumentException] {
      Dml.mergeInto(spark, dir,
        Seq((1L, 1L, "a"), (1L, 2L, "b")).toDF("id", "k", "v"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      Dml.mergeInto(spark, dir, Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    }
    // same names, int k instead of long: would write a mixed-type table
    val typeDrift = intercept[IllegalArgumentException] {
      Dml.mergeInto(spark, dir, Seq((1L, 1, "a")).toDF("id", "k", "v"), Seq("id"))
    }
    assert(typeDrift.getMessage.contains("RETYPE"))
  }

  test("mergeApply refuses a key that is both upserted and deleted") {
    val dir = freshTable()
    val overlap = intercept[IllegalArgumentException] {
      Dml.mergeApply(spark, dir, Seq((5L, 5L, "x")).toDF("id", "k", "v"),
        Seq(5L, 6L).toDF("id"), Seq("id"), upCount = 1L)
    }
    assert(overlap.getMessage.contains("disjoint"))
    assert(VersionLog.latest(spark, dir) === 1)
  }

  test("merge accounting stays sane when the TABLE holds duplicate keys") {
    val dir = scratch("dmldup") + "/t"
    Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("id", "v").write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    val (v2, replaced, inserted) = Dml.mergeInto(spark, dir,
      Seq((1L, "patched"), (9L, "new")).toDF("id", "v"), Seq("id"))
    // both id=1 rows are removed (replaced=2), one key inserted —
    // never a negative insert count
    assert((v2, replaced, inserted) === ((2, 2L, 1L)))
    val now = VersionLog.readVersion(spark, dir, 2)
      .orderBy("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(now === Seq((1L, "patched"), (2L, "z"), (9L, "new")))
  }

  test("right-to-be-forgotten: delete + vacuum leaves NO readable trace") {
    val dir = freshTable()
    VersionLog.compact(spark, dir, files = 2) // some history first
    val (_, n) = Dml.deleteWhere(spark, dir, col("id") === 7L)
    assert(n === 1L)
    VersionLog.vacuum(spark, dir, keepLast = 1)
    // every surviving READABLE surface is clean: the only version...
    val vs = VersionLog.versions(spark, dir)
    assert(vs.size === 1)
    assert(VersionLog.readVersion(spark, dir, vs.head)
      .filter(col("id") === 7L).count() === 0L)
    // ...and the raw directory bytes (no orphan file still carries it)
    val live = Layout.liveDataFiles(spark, dir).toSeq.sorted
    assert(live.nonEmpty)
    assert(spark.read.parquet(live: _*)
      .filter(col("id") === 7L).count() === 0L)
  }

  test("vacuum after DML reclaims the replaced files") {
    val dir = freshTable()
    Dml.deleteWhere(spark, dir, col("id") < 25L)
    val (dropped, deleted) = VersionLog.vacuum(spark, dir, keepLast = 1)
    assert(dropped === 1 && deleted === 1,
      s"exactly the one rewritten range file reclaims: $deleted")
    assert(VersionLog.readVersion(spark, dir, 2).count() === 75L)
    intercept[IllegalArgumentException] {
      VersionLog.readVersion(spark, dir, 1)
    }
  }

  test("an empty or fully no-op updates frame mints no new version") {
    val dir = freshTable()
    val before = VersionLog.versions(spark, dir)
    val empty = Seq.empty[(Long, Long, String)].toDF("id", "k", "v")
    assert(Dml.mergeInto(spark, dir, empty, Seq("id")) === ((1, 0L, 0L)))
    assert(VersionLog.versions(spark, dir) === before)
    // repeated no-op merges stay idempotent — no version/file creep
    assert(Dml.mergeInto(spark, dir, empty, Seq("id")) === ((1, 0L, 0L)))
    assert(VersionLog.versions(spark, dir) === before)
    val live = Layout.liveDataFiles(spark, dir)
    assert(live.forall(f => !f.contains("/m")), s"no m-dir files: $live")
  }

  test("additive MERGE evolution: new column NULL-backfills old files") {
    val dir = freshTable() // (id, k, v), 4 range files, v1
    // updates carry a NEW nullable column `tag`: replace id=0, insert 500
    val ups = Seq((0L, 99L, "patched", "gold"), (500L, 1L, "new", "silver"))
      .toDF("id", "k", "v", "tag")
    val (v2, replaced, inserted) = Dml.mergeInto(spark, dir, ups, Seq("id"))
    assert((v2, replaced, inserted) === ((2, 1L, 1L)))
    val head = VersionLog.readVersion(spark, dir, 2)
    assert(head.columns.toSeq === Seq("id", "k", "v", "tag"))
    assert(head.count() === 101L)
    // rows from UNTOUCHED old files read the new column as NULL
    assert(head.filter(col("tag").isNull).count() === 99L)
    assert(head.filter(col("tag") === "gold").count() === 1L)
    // the pre-evolution version still reads with its own schema
    assert(VersionLog.readVersion(spark, dir, 1).columns.toSeq ===
      Seq("id", "k", "v"))
    // readChanges across the boundary carries the evolved schema
    (1000L until 1002L).map(i => (i, 0L, "x")).toDF("id", "k", "v")
      .write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v3: old-schema files post-evolution
    val delta = VersionLog.readChanges(spark, dir, 2, 3)
    assert(delta.columns.toSeq === Seq("id", "k", "v", "tag"))
    assert(delta.count() === 2L)
    assert(delta.filter(col("tag").isNull).count() === 2L)
    // the change feed across the merge is signed and evolved
    val feed = VersionLog.readChangeFeed(spark, dir, 1, 3)
    assert(feed.filter(col("_change_type") === "delete").count() === 1L)
    assert(feed.filter(col("_change_type") === "insert").count() === 4L)
    // a second merge DROPPING the column refuses
    val e = intercept[IllegalArgumentException] {
      Dml.mergeInto(spark, dir, Seq((1L, 1L, "y")).toDF("id", "k", "v"),
        Seq("id"))
    }
    assert(e.getMessage.contains("DROP"))
  }
}
