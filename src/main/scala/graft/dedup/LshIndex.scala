package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheScope.persist
import graft.text.TextFunctions

/** On-disk MinHash-LSH index: write-once / probe-many near-duplicate
  * detection for INCREMENTAL ingestion.
  *
  * [[Dedup.minhashLshPairs]] and [[Dedup.jaccardPairsAgainst]] re-shingle
  * and re-sign the full reference corpus on every call; at 100 TB an
  * ingestion service admitting small batches cannot pay that per batch.
  * [[write]] materializes the expensive per-document work ONCE:
  *
  *  - `buckets/` — one (doc, bucket) row per LSH band bucket, stored
  *    `PARTITIONED BY` a bounded hash of the bucket key (`pb`), so a
  *    probe whose batch touches few band buckets reads only the matching
  *    `pb=` directories — partition pruning at the file-listing level,
  *    the storage analog of an inverted index's posting groups;
  *  - `sigs/` — each document's sorted shingle-hash array, stored
  *    `PARTITIONED BY` a bounded hash of the doc id (`sb`), so candidate
  *    verification reads only the partitions holding candidate
  *    reference docs (bounded by batch fan-out) instead of scanning the
  *    corpus-sized signature table per probe;
  *  - `_meta/` — the sketch parameters (n, numHashes, bands,
  *    numPartitions), read back by [[probe]] and [[append]] so an index
  *    can never be probed or extended with mismatched parameters.
  *
  * [[probe]] computes batch-side sketches (batch-sized work only), prunes
  * the bucket table to the batch's `pb` values, broadcast-joins the
  * batch's buckets against the pruned scan (the index side never
  * shuffles), and verifies candidates by exact Jaccard against `sigs/`.
  * Output equals the cross-corpus restriction of in-memory
  * [[Dedup.minhashLshPairs]] over (reference ∪ batch) — same band
  * buckets, same candidates, same verification (LshIndexSpec asserts
  * the equality).
  *
  * [[append]] folds an admitted batch into the index by appending its
  * bucket and signature rows — dynamic-partition appends into the same
  * `pb=` layout, no rewrite of existing data. probe → filter survivors →
  * append is the incremental-ingestion loop.
  */
object LshIndex {

  /** Build the index at `path` from `corpus`. One corpus scan computes
    * shingles, band keys, and sorted shingle hashes; the exploded
    * bucket rows and the per-doc signature rows are written side by
    * side. `numPartitions` bounds the `pb=` directory count — size it
    * so one partition's bucket rows fit an executor's scan budget
    * (bucket rows are ~(16 bytes + key) × bands per doc).
    */
  def write(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      numPartitions: Int = 64): Unit = {
    require(numPartitions >= 1)
    val spark = corpus.sparkSession
    writeRows(corpus, idCol, textCol, path, n, numHashes, bands,
      numPartitions, overwrite = true)
    val meta = spark.createDataFrame(Seq(
        (n, numHashes, bands, numPartitions)))
      .toDF("n", "num_hashes", "bands", "num_partitions")
    meta.coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** Append `batch` to an existing index — same parameters (from
    * `_meta/`), dynamic-partition append into the `pb=` layout. The
    * caller is responsible for id uniqueness across appends (duplicate
    * ids would double-count their buckets).
    */
  def append(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val m = readMeta(spark, path)
    writeRows(batch, idCol, textCol, path, m.n, m.numHashes, m.bands,
      m.numPartitions, overwrite = false)
  }

  /** Near-dup pairs between `batch` and the indexed reference corpus:
    * (ref_id, new_id, jaccard) with exact Jaccard >= `tau` among LSH
    * candidates (docs sharing >= 1 band bucket). Within-batch pairs are
    * NOT emitted (run [[Dedup.minhashLshPairs]] on the batch for those
    * — it is batch-sized work).
    *
    * Scale shape: batch sketches are computed once and persisted
    * (batch-sized); the index scan is pruned to the batch's `pb`
    * partitions; the candidate join broadcasts the batch's bucket rows
    * (the premise of incremental ingestion is batch ≪ reference — for
    * a reference-sized "batch" use [[Dedup.minhashLshPairs]] on the
    * union instead); verification joins the bounded candidate list
    * against stored signatures. The reference corpus is never
    * re-shingled.
    *
    * @param maxBucketDocFreq drop band buckets holding more than this
    *   many REFERENCE docs (counted on the pruned scan — exact per
    *   bucket, since a bucket's rows live in exactly one `pb`
    *   partition): the same hot-template guard and recall caveat as
    *   [[Dedup.minhashLshPairs]].
    */
  def probe(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double = 0.5,
      maxBucketDocFreq: Option[Int] = None): DataFrame = {
    val m = readMeta(spark, path)
    val bsh = batch.select(col(idCol).as("new_id"),
      TextFunctions.shingles(col(textCol), m.n).as("sh"))
    // persisted: the bucket rows feed the bounded pb-collect AND the
    // candidate join; without the cache the batch re-shingles per
    // consumer. Registered with CacheScope, released by the caller's
    // bracket.
    val bBuckets = persist(
      bsh.select(col("new_id"),
          explode(Dedup.lshBandKeys(col("sh"), m.numHashes, m.bands)).as("bucket"))
        .withColumn("pb", pb(col("bucket"), m.numPartitions)))
    // bounded collect: at most numPartitions distinct values
    val pbs = bBuckets.select(col("pb")).distinct()
      .collect().map(_.getInt(0)).sorted
    val idx = spark.read.parquet(s"$path/buckets")
      .filter(col("pb").isin(pbs.map(Integer.valueOf).toIndexedSeq: _*))
    val guarded = graft.core.Skew.dropHotKeys(idx, "bucket", maxBucketDocFreq)
    // persisted: candidates feed the bounded sb-collect AND the verify
    // join — without the cache the pruned posting join runs twice
    val candidates = persist(guarded
      .join(broadcast(bBuckets.select(col("new_id"), col("bucket"))), Seq("bucket"))
      .select(col("doc").as("ref_id"), col("new_id"))
      .distinct())
    // prune the signature scan to the candidates' id-hash partitions —
    // without this every probe scans the corpus-sized sigs table (the
    // shs array column is the fat one); bounded collect (≤ sigParts)
    val sbs = candidates
      .select(pb(col("ref_id").cast("string"), m.numPartitions).as("sb"))
      .distinct().collect().map(_.getInt(0)).sorted
    val refArrs = spark.read.parquet(s"$path/sigs")
      .filter(col("sb").isin(sbs.map(Integer.valueOf).toIndexedSeq: _*))
    Dedup.verifyByExactJaccard(candidates, refArrs,
      Dedup.shingleArrays(batch, idCol, textCol, m.n), tau)
  }

  /** Remove documents from the index — the right-to-be-forgotten
    * operation that completes the lifecycle (write → probe → append →
    * DELETE). Takes the docs' (id, text) rows — the forget flow reads
    * them from the corpus table by id — because the bucket rows to
    * remove live in `pb=` partitions derived from the docs' BAND KEYS,
    * which only the text can reproduce (minhash j seeds xxh64 with j;
    * the stored signature holds seed-0 hashes only).
    *
    * Scale shape: recomputing sketches is deleted-set-sized work; the
    * rewrite touches ONLY the `pb=`/`sb=` partitions that hold the
    * deleted docs' rows (read-pruned, filtered with a broadcast
    * anti-join, swapped back in place) — at 100 TB forgetting k docs
    * rewrites O(k · bands) partitions out of `numPartitions`, never
    * the index. Untouched partition directories are not opened
    * (LshIndexSpec asserts their files survive byte-identical).
    */
  def delete(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val m = readMeta(spark, path)
    // ONE shingle pass over the deleted set, persisted: pbs, sbs and
    // both anti-joins otherwise each re-scan (and re-shingle) the
    // takedown join — the same argument as probe's cached batch. The
    // bracket is delete's own, so delete works outside any caller's.
    graft.core.CacheScope.withReleased {
      val del = persist(docs.select(col(idCol).as("doc"),
        explode(Dedup.lshBandKeys(
          TextFunctions.shingles(col(textCol), m.n), m.numHashes, m.bands))
          .as("bucket")))
      // bounded collects (≤ numPartitions values each)
      val pbs = del
        .select(pb(col("bucket"), m.numPartitions).as("p"))
        .distinct().collect().map(_.getInt(0)).sorted
      val sbs = del
        .select(pb(col("doc").cast("string"), m.numPartitions).as("p"))
        .distinct().collect().map(_.getInt(0)).sorted
      val ids = del.select(col("doc")).distinct()
      graft.core.PartitionedStore.deleteKeysFromPartitions(
        spark, s"$path/buckets", "pb", pbs, "doc", ids)
      graft.core.PartitionedStore.deleteKeysFromPartitions(
        spark, s"$path/sigs", "sb", sbs, "doc", ids)
    }
  }

  private def pb(bucket: org.apache.spark.sql.Column, parts: Int) =
    pmod(xxhash64(bucket), lit(parts.toLong)).cast("int")

  private def writeRows(
      df: DataFrame, idCol: String, textCol: String, path: String,
      n: Int, numHashes: Int, bands: Int, numPartitions: Int,
      overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    // persisted across the TWO writes below: shingling + minhashing +
    // the sorted hash arrays are the expensive map work, and without
    // the cache the sigs write re-tokenized the whole input a second
    // time (measured ~2× the build cost at sf0.1). Spillable storage
    // (MEMORY_AND_DISK default), released in the bracket.
    graft.core.CacheScope.withReleased {
      val sh = persist(df.select(col(idCol).as("doc"),
        TextFunctions.shingles(col(textCol), n).as("sh"),
        graft.functions.SketchFunctions
          .sorted_shingle_hashes(col(textCol), n).as("shs")))
      // repartition ON the layout key before each partitionBy write: a
      // dynamic-partition write from K input tasks lands up to
      // K × numPartitions part files (one per task per partition value —
      // the small-file explosion every probe/delete pays per file
      // forever); clustered by the key, each pb/sb directory gets files
      // from exactly one task (Iceberg's hash write-distribution mode).
      sh.select(col("doc"),
          explode(Dedup.lshBandKeys(col("sh"), numHashes, bands)).as("bucket"))
        .withColumn("pb", pb(col("bucket"), numPartitions))
        .repartition(col("pb"))
        .write.mode(mode).partitionBy("pb").parquet(s"$path/buckets")
      // sb = id-hash partition key, STRING-cast so any orderable id type
      // hashes consistently between write and probe
      sh.select(col("doc"), size(col("shs")).as("nsh"), col("shs"))
        .withColumn("sb", pb(col("doc").cast("string"), numPartitions))
        .repartition(col("sb"))
        .write.mode(mode).partitionBy("sb").parquet(s"$path/sigs")
    }
  }

  /** The sketch parameters an index was built with (from `_meta/`). */
  final case class Params(n: Int, numHashes: Int, bands: Int, numPartitions: Int)

  /** Read back an index's parameters — e.g. to run a PARAMETER-MATCHED
    * within-batch [[Dedup.minhashLshPairs]] beside a cross-index
    * [[probe]], as the streaming ingestion loop does.
    */
  def params(spark: SparkSession, path: String): Params = readMeta(spark, path)

  private type Meta = Params

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val r = graft.core.Layout.readParts(spark, s"$path/_meta")
      .select(col("n"), col("num_hashes"), col("bands"), col("num_partitions"))
      .collect()(0)
    Params(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }
}
