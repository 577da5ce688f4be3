package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.CacheScope.persist

/** A novel (first-seen) document surviving streaming dedup:
  * `fp` = content fingerprint, `batchDups` = duplicates suppressed
  * from the same micro-batch that introduced it.
  */
case class NovelDoc(fp: String, doc_id: Long, text: String, batchDups: Long)

/** Streaming corpus ingestion: the training-data dedup operators as
  * Structured Streaming transforms, so a 24/7 crawl feed is cleaned
  * incrementally instead of by periodic batch recompute — the
  * streaming analog of [[graft.dedup.Dedup.exactDedupSurvivors]].
  *
  * Two state regimes, pick by feed shape:
  *  - [[dedupWithinHorizon]] — watermark-bounded state (the 100 TB/day
  *    path): a duplicate arriving within `horizon` of the original is
  *    dropped; older re-crawls re-enter (and the periodic batch dedup
  *    catches them). Uses the engine's `dropDuplicatesWithinWatermark`
  *    state store — no custom state code.
  *  - [[novelDocuments]] — exact first-seen-wins across the whole
  *    stream via `flatMapGroupsWithState` keyed on the content
  *    fingerprint. State is one counter per distinct document —
  *    bounded by CORPUS size, not stream length, but unbounded in
  *    time: right for finite replays (Trigger.AvailableNow
  *    maintenance passes) and corpora whose distinct-doc count fits
  *    the state store; use the watermarked variant for open-ended
  *    feeds.
  */
object CorpusStreams {

  /** Stream a documents parquet directory (schema sniffed from a batch
    * read — the file-stream source requires one up front). The watched
    * directory must be append-only (see [[DerivedStreams.eventStream]]
    * for why: the source checkpoints files by name).
    */
  def docStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Watermark-bounded streaming dedup on the content fingerprint. */
  def dedupWithinHorizon(stream: DataFrame, textCol: String, tsCol: String,
      horizon: String = "24 hours"): DataFrame =
    stream.withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming-capable decontamination: drop documents sharing at
    * least `minShared` distinct word n-grams with the probe corpus
    * (eval sets — bounded by DEFINITION, the same premise that lets
    * the batch operator broadcast probe postings). The probe shingle
    * hashes are collected once into a broadcast set, so the filter is
    * a stateless narrow map — it runs unchanged over a static frame or
    * a 24/7 `readStream`, in any output mode, with zero state-store
    * footprint.
    *
    * Semantics note: the threshold counts overlap POOLED across the
    * whole probe corpus (a blocklist), whereas the batch
    * [[graft.dedup.Dedup.decontaminate]] counts per (doc, probe) PAIR.
    * The two coincide at the default `minShared = 1` (and whenever one
    * probe dominates the overlap); at higher thresholds the pooled
    * form is strictly more aggressive — the right bias for a hygiene
    * gate that cannot hold per-probe state on a stream.
    */
  def contaminationFilter(
      docs: DataFrame, textCol: String,
      probes: DataFrame, probeTextCol: String,
      n: Int, minShared: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.functions.{col, explode}
    val probeHashes = probes
      .select(explode(graft.functions.SketchFunctions
        .sorted_shingle_hashes(col(probeTextCol), n)).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted
    val probeBc = spark.sparkContext.broadcast(probeHashes)
    // compiled merge-intersect with an early exit at the decision
    // threshold — an Expression holding the broadcast, not a UDF, so
    // the filter stays inside whole-stage codegen
    docs.filter(graft.functions.SketchFunctions.probe_shared_count(
      graft.functions.SketchFunctions.sorted_shingle_hashes(col(textCol), n),
      probeBc, minShared) < minShared)
  }

  /** One micro-batch of the NEAR-dup ingestion loop (the body
    * [[nearDedupIngest]] wires into `foreachBatch`; public so restart
    * semantics are directly testable):
    *
    *  1. probe the on-disk [[graft.dedup.LshIndex]] — documents
    *     near-duplicating an already-ADMITTED document drop;
    *  2. within-batch near-dups collapse by the min-id greedy keeper
    *     (parameter-matched [[graft.dedup.Dedup.minhashLshPairs]] on
    *     the batch — batch-sized work);
    *  3. survivors write to `outPath/batch_id=N/` (overwrite — a
    *     replayed batch rewrites the same directory) and APPEND to the
    *     index, becoming the reference for every later batch.
    *
    * Exactly-once across restarts: the append is guarded by a marker
    * in `indexPath/_ingest_log/` written AFTER the appends — a batch
    * whose marker exists is skipped entirely, so `foreachBatch`'s
    * at-least-once replay cannot double-admit. (A crash between append
    * and marker re-appends that batch on replay; duplicate index rows
    * only fatten future probes' candidate lists — the survivor SET
    * stays correct because matching is by id.)
    *
    * Greedy-chain semantics match the batch operators: a doc can drop
    * because of a doc that itself dropped (they are transitively
    * near-dups of an admitted doc) — [[graft.dedup.Dedup.collapsePairs]]'
    * contract, applied incrementally.
    */
  def ingestBatch(
      batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      indexPath: String, outPath: String,
      tau: Double = 0.5,
      maxBucketDocFreq: Option[Int] = None): Unit = {
    val spark = batch.sparkSession
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/_ingest_log/b$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return
    val m = graft.dedup.LshIndex.params(spark, indexPath)
    graft.core.CacheScope.withReleased {
      // the batch feeds four consumers (probe, pair gen, anti-join,
      // append); persist once, release with the bracket
      val b = persist(batch)
      val crossDrops = graft.dedup.LshIndex.probe(
          spark, indexPath, b, idCol, textCol, tau, maxBucketDocFreq)
        .select(col("new_id").as(idCol))
      val withinDrops = graft.dedup.Dedup.collapsePairs(
          graft.dedup.Dedup.minhashLshPairs(b, idCol, textCol,
            n = m.n, tau = tau, numHashes = m.numHashes, bands = m.bands,
            maxBucketDocFreq = maxBucketDocFreq))
        .select(col("drop").as(idCol))
      val survivors = b.join(
        crossDrops.unionByName(withinDrops).distinct(), Seq(idCol), "left_anti")
      survivors.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      graft.dedup.LshIndex.append(spark, indexPath,
        spark.read.parquet(s"$outPath/batch_id=$batchId"), idCol, textCol)
      fs.create(marker, false).close()
    }
  }

  /** Streaming near-dup dedup against an on-disk LSH index — the 24/7
    * form of the probe → filter → append ingestion loop. Returns the
    * configured `DataStreamWriter`; the caller picks trigger,
    * checkpoint location, and starts it. Admitted documents land in
    * `outPath/batch_id=N/` and in the index; the index must exist and
    * be built over a NON-EMPTY seed corpus ([[graft.dedup.LshIndex.write]]
    * — parquet cannot round-trip a zero-row partitioned table's
    * schema, so bootstrap with the first crawl slice as the seed).
    */
  def nearDedupIngest(
      stream: DataFrame,
      idCol: String, textCol: String,
      indexPath: String, outPath: String,
      tau: Double = 0.5,
      maxBucketDocFreq: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, idCol, textCol,
          indexPath, outPath, tau, maxBucketDocFreq)
    }

  /** Exact first-seen-wins dedup: emits each distinct content exactly
    * once, on the micro-batch that first contains it (smallest id wins
    * inside that batch — deterministic); every later occurrence only
    * bumps the per-fingerprint counter state.
    */
  def novelDocuments(stream: DataFrame, idCol: String, textCol: String): Dataset[NovelDoc] = {
    val s = stream.sparkSession
    import s.implicits._
    stream
      .select(md5(col(textCol)).as("fp"),
        col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (fp: String, rows: Iterator[(String, Long, String)], state: GroupState[Long]) => {
          val batch = rows.toArray
          val seen = state.getOption.getOrElse(0L)
          state.update(seen + batch.length)
          if (seen > 0L) Iterator.empty
          else {
            val first = batch.minBy(_._2)
            Iterator.single(NovelDoc(fp, first._2, first._3, batch.length - 1L))
          }
        })
  }
}
