package graft.streaming


import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.VersionLog

/** Versioned exactly-once ingestion: batches land once, replays no-op,
  * crash windows recover cleanly, and versions time-travel per batch.
  */
class IngestStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("batches land exactly once; replays no-op; versions accrue") {
    val dir = scratch("ingest") + "/t"
    IngestStreams.ingestBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, dir)
    IngestStreams.ingestBatch(Seq((3L, "c")).toDF("id", "v"), 1L, dir)
    IngestStreams.ingestBatch(Seq((3L, "c")).toDF("id", "v"), 1L, dir) // replay
    IngestStreams.ingestBatch(Seq((4L, "d")).toDF("id", "v"), 2L, dir)
    assert(VersionLog.versions(spark, dir) === Seq(1, 2, 3))
    assert(VersionLog.readVersion(spark, dir, 1).count() === 2L)
    assert(VersionLog.readVersion(spark, dir, 2).count() === 3L)
    assert(VersionLog.readVersion(spark, dir, 3).count() === 4L)
    // incremental consumption across the ingested versions
    assert(VersionLog.readChanges(spark, dir, 1, 3)
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(3L, 4L))
  }

  test("crash window 1: partial batch dir without a marker is rewritten cleanly") {
    val dir = scratch("ingestc1") + "/t"
    IngestStreams.ingestBatch(Seq((1L, "a")).toDF("id", "v"), 0L, dir)
    // simulate a crashed attempt of batch 1: data landed, no marker
    Seq((99L, "junk"), (98L, "junk")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/b1")
    IngestStreams.ingestBatch(Seq((2L, "b")).toDF("id", "v"), 1L, dir)
    val ids = VersionLog.readVersion(spark, dir, VersionLog.latest(spark, dir))
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(1L, 2L), "the junk attempt must be fully replaced")
  }

  test("crash window 2: marker without snapshot = lag, repaired by the next snapshot") {
    val dir = scratch("ingestc2") + "/t"
    IngestStreams.ingestBatch(Seq((1L, "a")).toDF("id", "v"), 0L, dir)
    // simulate: batch 1 wrote data + marker, crashed before snapshot
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir/b1")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_commits/v1"), false).close()
    // replay no-ops (no duplication)...
    IngestStreams.ingestBatch(Seq((2L, "b")).toDF("id", "v"), 1L, dir)
    assert(VersionLog.versions(spark, dir) === Seq(1))
    // ...and the next batch's snapshot picks the lagged rows up
    IngestStreams.ingestBatch(Seq((3L, "c")).toDF("id", "v"), 2L, dir)
    assert(VersionLog.readVersion(spark, dir, VersionLog.latest(spark, dir))
      .count() === 3L)
  }

  test("schema drift on a later batch is a loud error, not a silent mix") {
    val dir = scratch("ingestsd") + "/t"
    IngestStreams.ingestBatch(Seq((1L, "a")).toDF("id", "v"), 0L, dir)
    // same names, different type → refuse
    val drift = intercept[IllegalArgumentException] {
      IngestStreams.ingestBatch(Seq((2, "b")).toDF("id", "v"), 1L, dir)
    }
    assert(drift.getMessage.contains("schema drift"))
    // different column set → refuse
    intercept[IllegalArgumentException] {
      IngestStreams.ingestBatch(Seq((2L, "b", 1L)).toDF("id", "v", "extra"), 2L, dir)
    }
    // the matching shape still lands
    IngestStreams.ingestBatch(Seq((2L, "b")).toDF("id", "v"), 3L, dir)
    assert(VersionLog.readVersion(spark, dir, VersionLog.latest(spark, dir))
      .count() === 2L)
    // a first batch that committed but crashed before any snapshot
    // still sets the schema a retyped later batch is refused against
    val lagged = scratch("ingestsdl") + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$lagged/b0")
    VersionLog.markCommitted(spark, lagged, 0L)
    val laggedDrift = intercept[IllegalArgumentException] {
      IngestStreams.ingestBatch(Seq((2, "b")).toDF("id", "v"), 1L, lagged)
    }
    assert(laggedDrift.getMessage.contains("schema drift"))
  }

  test("dedup ingest drops existing keys; crash orphans and manifest lag heal") {
    val dir = scratch("ingestdd") + "/t"
    def batch(ids: Seq[Long]) = ids.map(i => (i, s"p$i")).toDF("id", "v")
    assert(IngestStreams.ingestBatchDedup(batch(1L to 10L), 0L, dir, "id", 64L)
      === ((10L, 0L)))
    // overlapping re-delivery: 6..15 → only 11..15 land
    assert(IngestStreams.ingestBatchDedup(batch(6L to 15L), 1L, dir, "id", 64L)
      === ((5L, 5L)))
    // crash simulation for batch 2: a partial landing with no marker,
    // then a heal pass that (wrongly, in the crashed world) manifested
    // the orphan — the replay must still land every new key
    batch(Seq(16L)).write.parquet(s"$dir/b2")
    graft.core.Layout.appendBloomManifest(spark, dir)
    assert(IngestStreams.ingestBatchDedup(batch(14L to 20L), 2L, dir, "id", 64L)
      === ((5L, 2L))) // 16..20 land — 16 was never committed
    val ids = graft.core.VersionLog.readVersion(
        spark, dir, graft.core.VersionLog.latest(spark, dir))
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids === (1L to 20L))
    // full replay of a committed batch is a no-op
    assert(IngestStreams.ingestBatchDedup(batch(14L to 20L), 2L, dir, "id", 64L)
      === ((0L, 0L)))
  }

  test("dedup ingest: empty batches commit and advance; null keys refuse") {
    val dir = scratch("ingestdde") + "/t"
    def batch(ids: Seq[Long]) = ids.map(i => (i, s"p$i")).toDF("id", "v")
    IngestStreams.ingestBatchDedup(batch(1L to 5L), 0L, dir, "id", 64L)
    // a no-data micro-batch (Spark runs them by design) must not wedge
    assert(IngestStreams.ingestBatchDedup(
      batch(Seq.empty), 1L, dir, "id", 64L) === ((0L, 0L)))
    // ...and its marker commits, so the replay is a fast no-op
    assert(IngestStreams.ingestBatchDedup(
      batch(6L to 7L), 1L, dir, "id", 64L) === ((0L, 0L)))
    // NULL keys can never be deduplicated — loud refusal
    val e = intercept[IllegalArgumentException] {
      IngestStreams.ingestBatchDedup(
        Seq((Some(8L), "x"), (None: Option[Long], "y")).toDF("id", "v"),
        2L, dir, "id", 64L)
    }
    assert(e.getMessage.contains("NULL keys"))
    assert(IngestStreams.ingestBatchDedup(batch(8L to 9L), 3L, dir, "id", 64L)
      === ((2L, 0L)))
  }

  test("a crashed MERGE's orphan files never count as existing keys") {
    val dir = scratch("ingestddo") + "/t"
    def batch(ids: Seq[Long]) = ids.map(i => (i, s"p$i")).toDF("id", "v")
    IngestStreams.ingestBatchDedup(batch(1L to 5L), 0L, dir, "id", 64L)
    // crashed Dml.mergeInto: its insert dir landed, no version commit
    batch(Seq(100L, 101L)).write.parquet(s"$dir/m2_new")
    // a re-delivered batch carrying those keys must LAND them — the
    // orphan rows are invisible to every reader, so dropping the keys
    // here would lose them everywhere
    assert(IngestStreams.ingestBatchDedup(
      batch(Seq(100L, 101L)), 1L, dir, "id", 64L) === ((2L, 0L)))
    assert(graft.core.VersionLog.readVersion(
        spark, dir, graft.core.VersionLog.latest(spark, dir))
      .filter(col("id") >= 100L).count() === 2L)
  }

  test("dedup ingest bootstraps a bloom manifest over a plain-ingest history") {
    val dir = scratch("ingestddb") + "/t"
    def batch(ids: Seq[Long]) = ids.map(i => (i, s"p$i")).toDF("id", "v")
    IngestStreams.ingestBatch(batch(1L to 5L), 0L, dir) // no manifest yet
    val (landed, dropped) =
      IngestStreams.ingestBatchDedup(batch(3L to 8L), 1L, dir, "id", 64L)
    assert((landed, dropped) === ((3L, 3L)), "bootstrap must not skip the probe")
    assert(graft.core.VersionLog.readVersion(
        spark, dir, graft.core.VersionLog.latest(spark, dir))
      .count() === 8L)
  }

  test("ingestBatchWithMv keeps table and MV in lockstep across a re-run") {
    val root = scratch("ingestmv")
    val table = s"$root/t"
    val mv = s"$root/mv"
    val batches = Seq(
      Seq((1L, "a"), (2L, "b")).toDF("id", "grp"),
      Seq((3L, "a")).toDF("id", "grp"))
    def runAll(): Unit = batches.zipWithIndex.foreach { case (b, i) =>
      IngestStreams.ingestBatchWithMv(b, i.toLong, table, mv, Seq("grp"), Seq("id"))
    }
    runAll()
    def mvRows() = graft.core.Mv.read(spark, mv)
      .select("grp", "n_rows", "id__sum").orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(mvRows() === Seq(("a", 2L, 4L), ("b", 1L, 2L)))
    runAll() // replay of both batch ids: nothing lands, nothing re-folds
    assert(mvRows() === Seq(("a", 2L, 4L), ("b", 1L, 2L)))
    assert(graft.core.Mv.committedVersions(spark, mv).last ===
      graft.core.VersionLog.latest(spark, table))
  }

  test("additive ingest evolution: widening batches re-pin, laggards NULL-fill") {
    val dir = scratch("ingevo") + "/t"
    IngestStreams.ingestBatch(
      Seq((1L, "a")).toDF("id", "v"), 0L, dir)
    // a widened batch without the opt-in refuses (the old guard)
    val e = intercept[IllegalArgumentException] {
      IngestStreams.ingestBatch(
        Seq((2L, "b", 9L)).toDF("id", "v", "score"), 1L, dir)
    }
    assert(e.getMessage.contains("evolveSchema=true"))
    // with the opt-in it widens the pin and stamps the version schema
    IngestStreams.ingestBatch(
      Seq((2L, "b", 9L)).toDF("id", "v", "score"), 1L, dir,
      evolveSchema = true)
    val head = VersionLog.readVersion(spark, dir, VersionLog.latest(spark, dir))
    assert(head.columns.toSeq === Seq("id", "v", "score"))
    assert(head.filter(col("id") === 1L)
      .select("score").collect()(0).isNullAt(0)) // old file NULL-backfills
    // a LAGGING producer still on the old schema keeps landing: the
    // missing nullable column NULL-fills into the evolved layout
    IngestStreams.ingestBatch(
      Seq((3L, "c")).toDF("id", "v"), 2L, dir, evolveSchema = true)
    val head2 = VersionLog.readVersion(spark, dir, VersionLog.latest(spark, dir))
    assert(head2.count() === 3L)
    assert(head2.filter(col("id") === 3L)
      .select("score").collect()(0).isNullAt(0))
    // retypes always refuse, opt-in or not
    intercept[IllegalArgumentException] {
      IngestStreams.ingestBatch(
        Seq((4L, "d", 1)).toDF("id", "v", "score"), 3L, dir,
        evolveSchema = true)
    }
    // time travel: the pre-evolution version reads its own two columns
    assert(VersionLog.readVersion(spark, dir, 1).columns.toSeq ===
      Seq("id", "v"))
  }

  test("an evolving batch that crashed before its snapshot is stamped by its replay") {
    val dir = scratch("ingevoc") + "/t"
    IngestStreams.ingestBatch(Seq((1L, "a")).toDF("id", "v"), 0L, dir)
    // simulate: widened batch 1 wrote data + marker, crashed before the
    // snapshot that would have stamped its schema
    Seq((2L, "b", 9L)).toDF("id", "v", "score").write.parquet(s"$dir/b1")
    VersionLog.markCommitted(spark, dir, 1L)
    IngestStreams.ingestBatch(
      Seq((2L, "b", 9L)).toDF("id", "v", "score"), 1L, dir,
      evolveSchema = true)
    // a lagging producer lands after the replay
    IngestStreams.ingestBatch(
      Seq((3L, "c")).toDF("id", "v"), 2L, dir, evolveSchema = true)
    val head = VersionLog.readVersion(spark, dir, VersionLog.latest(spark, dir))
    assert(head.columns.toSeq === Seq("id", "v", "score"))
    val scores = head.orderBy("id").select("score").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(scores === Seq(None, Some(9L), None))
  }
}
