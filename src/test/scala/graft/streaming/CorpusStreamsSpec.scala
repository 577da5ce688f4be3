package graft.streaming

import graft.SparkSpec

/** The corpus ingestion batch steps: near-duplicate admission against
  * a standing LSH index, and the stateless decontamination gate.
  */
class CorpusStreamsSpec extends SparkSpec {

  test("ingestBatch: greedy near-dup admission, chains, and replay idempotency") {
    val s = spark
    import s.implicits._
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
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

    // replaying batch 1 is a no-op: its commit marker short-circuits
    CorpusStreams.ingestBatch(
      Seq((201L, D), (202L, E), (203L, F)).toDF("doc_id", "text"),
      1L, "doc_id", "text", idx, out)
    assert(spark.read.parquet(s"$idx/sigs").count() === 6L)
    assert(spark.read.parquet(s"$out/batch_id=1").count() === 1L)
    // every batch's operator caches released by its bracket
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).isEmpty)
  }

  test("contaminationFilter drops probe-overlapping docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares probe trigrams
      (2L, "completely unrelated clean training content here"),
      (3L, "the quick brown cat naps all day long")) // one shared trigram only
      .toDF("doc_id", "text")
    val probes = Seq((100L, "the quick brown fox jumps happily")).toDF("pid", "ptext")

    val kept = CorpusStreams.contaminationFilter(
        docs, "text", probes, "ptext", n = 3, minShared = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 1 shares >= 2 probe trigrams -> dropped; doc 3 shares exactly
    // one ("the quick brown") -> kept under minShared = 2
    assert(kept === Set(2L, 3L))
  }
}
