package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming corpus dedup: exact first-seen-wins across micro-batches
  * and watermark-bounded dedup inside one.
  */
class CorpusStreamsSpec extends SparkSpec {

  test("novelDocuments: first occurrence emitted once, cross-batch dups suppressed") {
    val s = spark
    import s.implicits._
    val root = scratch("corpusstream")
    val in = s"$root/docs"

    // batch file 1: two docs, one internal dup (4 dups 1)
    // coalesce(1): one parquet file per write, so maxFilesPerTrigger=1
    // maps each write to exactly one micro-batch
    Seq((1L, "alpha beta"), (2L, "gamma delta"), (4L, "alpha beta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    // batch file 2: a re-crawl of doc 1's content plus a novel doc
    Seq((3L, "alpha beta"), (5L, "epsilon zeta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)

    val out = s"$root/novel"
    val q = DerivedStreams.refreshOnce(
      CorpusStreams.novelDocuments(
        CorpusStreams.docStream(spark, in, maxFilesPerTrigger = 1),
        "doc_id", "text").toDF(),
      out, s"$root/ckpt")
    q.awaitTermination()

    val got = spark.read.parquet(out)
      .select("doc_id", "text", "batchDups")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // "alpha beta" survives exactly once with its smallest first-batch
    // id, whichever micro-batch split the file source chose
    val alpha = got.filter(_._2 == "alpha beta")
    assert(alpha.size === 1)
    assert(alpha.head._1 === 1L)
    assert(got.map(_._2) === Set("alpha beta", "gamma delta", "epsilon zeta"))

    // idempotent restart: a second AvailableNow pass emits nothing new
    val q2 = DerivedStreams.refreshOnce(
      CorpusStreams.novelDocuments(
        CorpusStreams.docStream(spark, in, maxFilesPerTrigger = 1),
        "doc_id", "text").toDF(),
      out, s"$root/ckpt")
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === got.size)
  }

  test("ingestBatch: greedy near-dup admission, chains, and replay idempotency") {
    val s = spark
    import s.implicits._
    spark.catalog.clearCache()
    val root = scratch("lshingest")
    val (idx, out) = (s"$root/idx", s"$root/out")
    val A = "the quick brown fox jumps over the lazy dog by the river bank"
    val B = "structured streaming checkpoints its progress in a write ahead log"
    val C = "columnar scans prune row groups using min max column statistics"
    val D = "an original essay about distributed joins and shuffle partitioning"
    val E = "two peas in a pod share almost every word of this long sentence"
    val F = "a final novel document closing out the second ingestion batch"
    graft.dedup.LshIndex.write(
      Seq((1L, A), (2L, B), (3L, C)).toDF("doc_id", "text"), "doc_id", "text",
      idx, n = 3, numHashes = 64, bands = 16, numPartitions = 8)

    // b0: 101 near-dups seed A; 102 novel; 103/104 identical (min 103 keeps)
    CorpusStreams.ingestBatch(
      Seq((101L, A), (102L, D), (103L, E), (104L, E)).toDF("doc_id", "text"),
      0L, "doc_id", "text", idx, out)
    assert(spark.read.parquet(s"$out/batch_id=0").select("doc_id")
      .as[Long].collect().toSet === Set(102L, 103L))

    // b1: 201 dups admitted 102; 202 dups E — its within-batch keeper
    // 104 was DROPPED, but admitted 103 catches it (greedy chain);
    // 203 novel
    CorpusStreams.ingestBatch(
      Seq((201L, D), (202L, E), (203L, F)).toDF("doc_id", "text"),
      1L, "doc_id", "text", idx, out)
    assert(spark.read.parquet(s"$out/batch_id=1").select("doc_id")
      .as[Long].collect().toSet === Set(203L))

    // index grew by exactly the admitted docs
    val sigIds = spark.read.parquet(s"$idx/sigs").select("doc")
      .as[Long].collect().toSet
    assert(sigIds === Set(1L, 2L, 3L, 102L, 103L, 203L))

    // replaying batch 1 is a no-op: the _ingest_log marker short-circuits
    CorpusStreams.ingestBatch(
      Seq((201L, D), (202L, E), (203L, F)).toDF("doc_id", "text"),
      1L, "doc_id", "text", idx, out)
    assert(spark.read.parquet(s"$idx/sigs").count() === 6L)
    assert(spark.read.parquet(s"$out/batch_id=1").count() === 1L)
    // every batch's operator caches released by its bracket
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("nearDedupIngest: end-to-end streaming probe -> filter -> append loop") {
    val s = spark
    import s.implicits._
    val root = scratch("lshingeststream")
    val (in, idx, out, ckpt) = (s"$root/docs", s"$root/idx", s"$root/out", s"$root/ckpt")
    val A = "the quick brown fox jumps over the lazy dog by the river bank"
    val B = "structured streaming checkpoints its progress in a write ahead log"
    val C = "columnar scans prune row groups using min max column statistics"
    graft.dedup.LshIndex.write(
      Seq((1L, A)).toDF("doc_id", "text"), "doc_id", "text",
      idx, n = 3, numHashes = 64, bands = 16, numPartitions = 8)
    // file 1: 10 keeps B, 11 drops (identical, larger id) — same
    // outcome whether the source splits the files into one batch or two
    Seq((10L, B), (11L, B)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    // file 2: 20 drops vs seed A, 21 drops vs admitted 10, 22 keeps
    Seq((20L, A), (21L, B), (22L, C)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in)

    val q = CorpusStreams.nearDedupIngest(
        CorpusStreams.docStream(spark, in, maxFilesPerTrigger = 1),
        "doc_id", "text", idx, out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val admitted = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(10L, 22L))
    val sigIds = spark.read.parquet(s"$idx/sigs").select("doc")
      .as[Long].collect().toSet
    assert(sigIds === Set(1L, 10L, 22L))

    // restart with the same checkpoint: no new files, nothing re-admitted
    val q2 = CorpusStreams.nearDedupIngest(
        CorpusStreams.docStream(spark, in, maxFilesPerTrigger = 1),
        "doc_id", "text", idx, out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.read.parquet(s"$idx/sigs").count() === 3L)
    assert(spark.read.parquet(out).count() === 2L)
  }

  test("map-only curation ops (splitByHash, hashSample) run unchanged on a stream") {
    val s = spark
    import s.implicits._
    val root = scratch("mapstream")
    val in = s"$root/docs"
    val docs = (0L until 300L).map(i => (i, s"doc body $i"))
    docs.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)

    // stateless content-keyed ops need no watermark, no state store —
    // the SAME Column logic plans on readStream; stream output must
    // equal the batch run row for row
    val streamed = graft.curation.Curation.splitByHash(
      graft.curation.Curation.hashSample(
        CorpusStreams.docStream(spark, in, maxFilesPerTrigger = 1).toDF(),
        "doc_id", fraction = 0.5),
      "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
    val out = s"$root/labeled"
    DerivedStreams.refreshOnce(streamed, out, s"$root/ckpt").awaitTermination()

    val batch = graft.curation.Curation.splitByHash(
      graft.curation.Curation.hashSample(
        docs.toDF("doc_id", "text"), "doc_id", fraction = 0.5),
      "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toSet
    assert(got === batch)
    assert(got.nonEmpty && got.size < 300, "sample gate vacuous")
  }

  test("bloom ingestion gate runs stateless on a stream and matches the batch gate") {
    val s = spark
    import s.implicits._
    val root = scratch("bloomstream")
    val in = s"$root/batchdocs"
    val ref = (0L until 200L).map(i => (i, s"reference text $i")).toDF("doc_id", "text")
    val arriving = ((500L until 540L).map(i => (i, s"novel text $i")) ++
      (0L until 20L).map(i => (600L + i, s"reference text $i")))
    arriving.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)

    // the filter broadcasts once; the per-row probe is stateless, so
    // the SAME gate plans on readStream with no state store
    val bloom = graft.dedup.Dedup.buildRefBloom(ref, "text", 200L, 0.01)
    val out = s"$root/gated"
    DerivedStreams.refreshOnce(
      graft.dedup.Dedup.dedupAgainstBloom(bloom,
        CorpusStreams.docStream(spark, in, maxFilesPerTrigger = 1).toDF(), "text"),
      out, s"$root/ckpt").awaitTermination()
    val streamed = spark.read.parquet(out)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val batch = graft.dedup.Dedup.dedupAgainstBloom(bloom,
        arriving.toDF("doc_id", "text"), "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(streamed === batch)
    assert(streamed.forall(_ < 600L), "a verbatim ref duplicate passed the stream gate")
    assert(streamed.size >= 38) // 1% fpp on 40 novel docs
  }

  test("contaminationFilter drops probe-overlapping docs on a live stream") {
    val s = spark
    import s.implicits._
    val root = scratch("corpusstream3")
    val in = s"$root/docs"
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares probe trigrams
      (2L, "completely unrelated clean training content here"),
      (3L, "the quick brown cat naps all day long")) // one shared trigram only
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val probes = Seq((100L, "the quick brown fox jumps happily")).toDF("pid", "ptext")

    val out = s"$root/clean"
    val q = DerivedStreams.refreshOnce(
      CorpusStreams.contaminationFilter(
        CorpusStreams.docStream(spark, in), "text", probes, "ptext",
        n = 3, minShared = 2),
      out, s"$root/ckpt")
    q.awaitTermination()
    val kept = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // doc 1 shares >= 2 probe trigrams -> dropped; doc 3 shares exactly
    // one ("the quick brown") -> kept under minShared = 2
    assert(kept === Set(2L, 3L))
    // identical semantics on the same frame read as a batch
    val batchKept = CorpusStreams.contaminationFilter(
        spark.read.parquet(in), "text", probes, "ptext", n = 3, minShared = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKept === kept)
  }

  test("dedupWithinHorizon: watermarked fingerprint dedup keeps one row per content") {
    val s = spark
    import s.implicits._
    val root = scratch("corpusstream2")
    val in = s"$root/docs"
    Seq(
      (1L, "same words here", Timestamp.valueOf("2026-01-01 10:00:00")),
      (2L, "same words here", Timestamp.valueOf("2026-01-01 10:05:00")),
      (3L, "different words", Timestamp.valueOf("2026-01-01 10:10:00")))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(in)

    val out = s"$root/deduped"
    val q = DerivedStreams.refreshOnce(
      CorpusStreams.dedupWithinHorizon(
        CorpusStreams.docStream(spark, in), "text", "ts", "1 hour")
        .select("doc_id", "text"),
      out, s"$root/ckpt")
    q.awaitTermination()

    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.map(_._2) === Set("same words here", "different words"))
    assert(got.size === 2)
  }
}
