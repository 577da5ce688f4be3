package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.ZOps

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("interleave matches a bit-by-bit reference and is order-monotone per quadrant") {
    def ref(x: Long, y: Long): Long =
      (0 until 31).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (123456789L, 987654L),
      (0x7FFFFFFFL, 0x7FFFFFFFL), (0xFFFFFFFFFFL, 5L)) // >31 bits masks down
    cases.foreach { case (x, y) =>
      assert(ZOps.interleave(x, y) === ref(x & 0x7FFFFFFFL, y & 0x7FFFFFFFL),
        s"($x, $y)")
    }
    // strictly positive (sign-safe on engines with checked int64 shifts)
    assert(ZOps.interleave(0x7FFFFFFFL, 0x7FFFFFFFL) > 0L)
  }

  test("interleave3 matches a bit-by-bit reference; dims occupy disjoint bit lanes") {
    def ref(x: Long, y: Long, z: Long): Long =
      (0 until 21).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (3 * i)) |
          (((y >> i) & 1L) << (3 * i + 1)) |
          (((z >> i) & 1L) << (3 * i + 2))
      }
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (123456L, 98765L, 4321L), (0x1FFFFFL, 0x1FFFFFL, 0x1FFFFFL),
      (0xFFFFFFFFL, 7L, 9L)) // >21 bits masks down
    cases.foreach { case (x, y, z) =>
      assert(ZOps.interleave3(x, y, z) ===
        ref(x & 0x1FFFFFL, y & 0x1FFFFFL, z & 0x1FFFFFL), s"($x, $y, $z)")
    }
    assert(ZOps.interleave3(0x1FFFFFL, 0x1FFFFFL, 0x1FFFFFL) === (1L << 63) - 1)
    // lanes are disjoint: each dim recovers from its own bit mask
    val k = ZOps.interleave3(0x15555L, 0x0AAAAL, 0x1F0F0L)
    assert((k & 0x1249249249249249L) === ZOps.part1by2(0x15555L))
    assert(((k >> 1) & 0x1249249249249249L) === ZOps.part1by2(0x0AAAAL))
    assert(((k >> 2) & 0x1249249249249249L) === ZOps.part1by2(0x1F0F0L))
  }

  test("3-D z-order prunes a box on ANY of the three dims; 2-D leaves the third unpruned") {
    // full 16x16x16 grid: z is INDEPENDENT of (x, y) — every (x, y)
    // cell contains all 16 z values (a modular scramble would make the
    // dims linearly correlated and hand the 2-D layout accidental
    // z locality)
    val rows = (0 until 4096).map { i =>
      ((i % 16).toLong, ((i / 16) % 16).toLong, (i / 256).toLong)
    }
    val df = rows.toDF("x", "y", "z")
    val d3 = scratch("z3") + "/t"
    val d2 = scratch("z2") + "/t"
    Layout.writeZOrdered3(df, d3, col("x"), col("y"), col("z"), files = 8)
    Layout.writeZOrdered(df, d2, col("x"), col("y"), files = 8)
    Layout.writeManifest(spark, d3, Seq("x", "y", "z"))
    Layout.writeManifest(spark, d2, Seq("x", "y", "z"))
    val box = Seq(("z", 0L, 3L))
    val kept3 = Layout.prunedFiles(spark, d3, box).size
    val kept2 = Layout.prunedFiles(spark, d2, box).size
    assert(kept3 < 8, s"3-D layout must prune a z-only box: $kept3/8")
    assert(kept2 === 8, "the 2-D layout has no z locality — nothing prunes")
    // and the pruned read stays row-identical
    assert(Layout.prunedRead(spark, d3, box).count() ===
      df.filter(col("z") <= 3L).count())
  }

  test("z-ordered layout yields tight 2-D file boxes; single-dim sort does not prune the other dim") {
    // 64x64 grid of (x, y) points, shuffled-ish order by construction
    val rows = (0 until 4096).map { i =>
      val x = (i * 2654435761L) % 64
      val y = (i * 40503L) % 64
      (i.toLong, x, y)
    }
    val df = rows.toDF("id", "x", "y")
    val zDir = scratch("zorder") + "/z"
    val xDir = scratch("zorder") + "/x"
    Layout.writeZOrdered(df, zDir, col("x"), col("y"), files = 16)
    // baseline: same file count, sorted on x only
    df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(xDir)
    val zBoxes = Layout.fileBoxes(spark, zDir, "x", "y")
    val xBoxes = Layout.fileBoxes(spark, xDir, "x", "y")
    // predicate on the NON-sorted dimension: y in [8,15], x anything.
    // x-sorted files each span all of y -> nothing prunes (all 16
    // files touched); z-ordered files bound both dims -> only the
    // y-low band of curve blocks matches
    val zt = Layout.filesTouched(zBoxes, 0, 63, 8, 15)
    val xt = Layout.filesTouched(xBoxes, 0, 63, 8, 15)
    assert(xt >= 12L, s"x-sorted layout should touch nearly every file, got $xt")
    assert(zt <= 8, s"z-ordered should prune to the y-band blocks, got $zt")
    assert(zt * 2 <= xt, s"z-order should at least halve files touched: $zt vs $xt")
    // and a tight 2-D box still prunes well under z-order
    assert(Layout.filesTouched(zBoxes, 8, 15, 8, 15) <= 4)
    // and the layout loses no rows
    assert(spark.read.parquet(zDir).count() === 4096L)
  }

  test("zone-map manifest: pruned read equals the full-scan filter while touching fewer files") {
    val rows = (0 until 4096).map { i =>
      val x = (i * 2654435761L) % 64
      val y = (i * 40503L) % 64
      (i.toLong, x, y)
    }
    val dir = scratch("zonemap") + "/t"
    Layout.writeZOrdered(rows.toDF("id", "x", "y"), dir,
      col("x"), col("y"), files = 16)
    Layout.writeManifest(spark, dir, Seq("x", "y"))
    val boxes = Seq(("x", 8L, 15L), ("y", 8L, 15L))
    val kept = Layout.prunedFiles(spark, dir, boxes)
    assert(kept.nonEmpty && kept.size < 16,
      s"tight 2-D box should prune the file list, kept ${kept.size}/16")
    val pruned = Layout.prunedRead(spark, dir, boxes)
      .orderBy(col("id")).collect().map(_.getLong(0)).toSeq
    // the reference is a real full scan: ZoneMapPruneRule would prune
    // this declared filter from the same manifest
    val full = withoutRule(graft.plans.ZoneMapPruneRule) {
      val q = spark.read.parquet(dir)
        .filter(col("x").between(8, 15) && col("y").between(8, 15))
      assert(graft.plans.ZoneMapPruneRuleSpec.prunedSizes(q).isEmpty,
        "the reference must scan every file")
      q.orderBy(col("id")).collect().map(_.getLong(0)).toSeq
    }
    assert(pruned === full, "pruning must never change the result")
    assert(full.nonEmpty)
    // a box intersecting nothing returns an empty frame with the schema
    val none = Layout.prunedRead(spark, dir, Seq(("x", 1000L, 2000L)))
    assert(none.columns.toSeq === Seq("id", "x", "y") && none.count() === 0L)
  }

  test("zone-map manifest: a file appended after the build fails the pruned read loudly") {
    val dir = scratch("zonemapstale") + "/t"
    val df = (0 until 100).map(i => (i.toLong, i.toLong % 8, i.toLong % 5))
      .toDF("id", "x", "y")
    Layout.writeZOrdered(df, dir, col("x"), col("y"), files = 4)
    Layout.writeManifest(spark, dir, Seq("x", "y"))
    // sneak one more data file in behind the manifest's back
    Seq((9999L, 3L, 3L)).toDF("id", "x", "y")
      .write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Layout.prunedRead(spark, dir, Seq(("x", 0L, 3L)))
    }
    assert(e.getMessage.contains("stale"),
      s"staleness must be loud, got: ${e.getMessage}")
    // rebuild heals it, and the late row is visible again
    Layout.writeManifest(spark, dir, Seq("x", "y"))
    val ids = Layout.prunedRead(spark, dir, Seq(("x", 3L, 3L)))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids.contains(9999L))
  }

  test("a box on a column without stats: prunedFiles names it, the soft form ignores it") {
    val dir = scratch("zonemapcols") + "/t"
    val df = (0 until 100).map(i => (i.toLong, i.toLong % 8, i.toLong % 5))
      .toDF("id", "x", "y")
    Layout.writeZOrdered(df, dir, col("x"), col("y"), files = 4)
    Layout.writeManifest(spark, dir, Seq("x"))
    val boxes = Seq(("x", 0L, 3L), ("y", 0L, 1L))
    val e = intercept[IllegalArgumentException] {
      Layout.prunedFiles(spark, dir, boxes)
    }
    assert(e.getMessage.contains("no stats for y"), e.getMessage)
    val xOnly = Layout.prunedFiles(spark, dir, boxes.take(1))
    assert(xOnly.nonEmpty)
    assert(Layout.prunedFilesIfFresh(spark, dir, boxes).map(_._1) === Some(xOnly))
    assert(Layout.prunedFilesIfFresh(spark, dir, boxes.drop(1)) === None)
  }

  test("incremental manifest append equals a full rebuild and only scans the new files") {
    val dir = scratch("zonemapapp") + "/t"
    val base = (0 until 1000).map(i => (i.toLong, i.toLong % 32, i.toLong % 17))
      .toDF("id", "x", "y")
    Layout.writeZOrdered(base, dir, col("x"), col("y"), files = 8)
    Layout.writeManifest(spark, dir, Seq("x", "y"))
    // a later batch lands as plain appended files
    (1000 until 1200).map(i => (i.toLong, 100L + i % 4, 100L + i % 3))
      .toDF("id", "x", "y")
      .repartition(2).write.mode("append").parquet(dir)
    Layout.appendManifest(spark, dir)
    def manRows() = Layout.readParts(spark, s"$dir/${Layout.ManifestDir}")
      .collect().map(r => (new org.apache.hadoop.fs.Path(r.getString(
        r.fieldIndex("file"))).toUri.getPath,
        r.getLong(r.fieldIndex("n_rows")),
        r.getLong(r.fieldIndex("x__min")), r.getLong(r.fieldIndex("x__max")),
        r.getLong(r.fieldIndex("y__min")), r.getLong(r.fieldIndex("y__max"))))
      .toSet
    val incremental = manRows()
    // idempotent: nothing new -> byte-identical manifest rows
    Layout.appendManifest(spark, dir)
    assert(manRows() === incremental)
    // a full rebuild produces the same rows
    Layout.writeManifest(spark, dir, Seq("x", "y"))
    assert(manRows() === incremental,
      "incremental manifest must equal the full rebuild")
    // the appended region prunes to the appended files only
    val keptNew = Layout.prunedFiles(spark, dir, Seq(("x", 100L, 104L)))
    assert(keptNew.size <= 2, s"appended-region box kept ${keptNew.size} files")
    val n = Layout.prunedRead(spark, dir, Seq(("x", 100L, 104L))).count()
    assert(n === 200L)
  }

  test("manifests heal incrementally through DELETE, MERGE, and compact") {
    import spark.implicits._
    val dir = scratch("zmdml") + "/t"
    (0L until 1000L).map(i => (i, i % 5)).toDF("x", "k")
      .repartitionByRange(8, col("x")).write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    Layout.writeManifest(spark, dir, Seq("x"))
    // DELETE rewrites one file's range; the manifest heals by scanning
    // ONLY the rewritten d-files and dropping the ghost rows
    Dml.deleteWhere(spark, dir, col("x") >= 900L)
    intercept[IllegalArgumentException] { // stale until healed — loud
      Layout.prunedFiles(spark, dir, Seq(("x", 0L, 10L)))
    }
    Layout.appendManifest(spark, dir)
    val afterDelete = Layout.prunedRead(spark, dir, Seq(("x", 800L, 999L)))
    assert(afterDelete.count() === 100L) // 800..899 survive
    assert(Layout.countFromManifest(spark, dir) === 900L)
    // MERGE (replace + insert) heals the same way
    Dml.mergeInto(spark, dir,
      Seq((0L, 99L), (5000L, 1L)).toDF("x", "k"), Seq("x"))
    Layout.appendManifest(spark, dir)
    assert(Layout.countFromManifest(spark, dir) === 901L)
    assert(Layout.prunedRead(spark, dir, Seq(("x", 5000L, 5000L)))
      .count() === 1L)
    // compact supersedes EVERY file; the incremental path still heals
    // (scans the c-files, drops all ghosts) without a full rebuild
    VersionLog.compact(spark, dir, files = 2)
    Layout.appendManifest(spark, dir)
    assert(Layout.countFromManifest(spark, dir) === 901L)
    assert(Layout.prunedRead(spark, dir, Seq(("x", 100L, 199L)))
      .count() === 100L)
  }

  test("bloom manifests heal incrementally through DML and compact too") {
    import spark.implicits._
    val dir = scratch("bldml") + "/t"
    (0L until 1000L).map(i => (i, i % 5)).toDF("x", "k")
      .repartitionByRange(8, col("x")).write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    Layout.writeBloomManifest(spark, dir, Seq("x"), 1024L)
    Dml.deleteWhere(spark, dir, col("x") === 7L)
    Layout.appendBloomManifest(spark, dir)
    assert(Layout.bloomPrunedRead(spark, dir, "x", Seq("7")).count() === 0L)
    assert(Layout.bloomPrunedRead(spark, dir, "x", Seq("8")).count() === 1L)
    VersionLog.compact(spark, dir, files = 1)
    Layout.appendBloomManifest(spark, dir)
    assert(Layout.bloomPrunedRead(spark, dir, "x", Seq("8")).count() === 1L)
    assert(Layout.bloomPrunedRead(spark, dir, "x", Seq("7")).count() === 0L)
  }

  test("a crashed manifest swap heals from the complete .swap dir") {
    import spark.implicits._
    val dir = scratch("swapheal") + "/t"
    val df = (0 until 200).map(i => (i.toLong, i.toLong % 8, i.toLong % 5))
      .toDF("id", "x", "y")
    Layout.writeZOrdered(df, dir, col("x"), col("y"), files = 4)
    Layout.writeManifest(spark, dir, Seq("x", "y"))
    // simulate the writeSwapped crash window: the complete manifest has
    // been staged at .swap but the target is gone (delete happened, the
    // rename-in did not)
    val man = new org.apache.hadoop.fs.Path(s"$dir/${Layout.ManifestDir}")
    val f = man.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new org.apache.hadoop.fs.Path(
      man.getParent, s".${man.getName}.swap")
    assert(f.rename(man, swap))
    // both the maintenance path and the pruned read heal and proceed
    Layout.appendManifest(spark, dir) // no-op append, but must not throw
    val kept = Layout.prunedFiles(spark, dir, Seq(("x", 0L, 7L)))
    assert(kept.nonEmpty)
    assert(f.exists(man) && !f.exists(swap))
  }

  test("readers use a staged complete .swap and leave it in place") {
    val dir = scratch("swapread") + "/t"
    val df = (0 until 200).map(i => (i.toLong, i.toLong % 8, i.toLong % 5))
      .toDF("id", "x", "y")
    Layout.writeZOrdered(df, dir, col("x"), col("y"), files = 4)
    Layout.writeManifest(spark, dir, Seq("x", "y"))
    Layout.writeBloomManifest(spark, dir, Seq("x"), expectedPerFile = 100L)
    val box = Seq(("x", 0L, 3L))
    def reads() = (Layout.prunedFiles(spark, dir, box),
      Layout.prunedFilesIfFresh(spark, dir, box),
      Layout.countFromManifest(spark, dir),
      Layout.bloomPrunedFilesIfFresh(spark, dir, "x", Seq("3")))
    val want = reads()
    assert(want._1.nonEmpty && want._3 === 200L && want._4.exists(_.nonEmpty))
    // the writeSwapped crash window for both manifests: complete .swap
    // dirs staged, targets gone
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = Seq(Layout.ManifestDir, Layout.BloomManifestDir).map { name =>
      val man = new org.apache.hadoop.fs.Path(s"$dir/$name")
      val swap = new org.apache.hadoop.fs.Path(man.getParent, s".$name.swap")
      assert(f.rename(man, swap))
      (man, swap)
    }
    assert(reads() === want)
    staged.foreach { case (man, swap) => assert(!f.exists(man) && f.exists(swap)) }
  }
}
