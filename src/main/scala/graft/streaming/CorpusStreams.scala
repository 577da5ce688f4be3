package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CacheScope.persist
import graft.core.VersionLog

/** Corpus ingestion in batch steps: the training-data filters a
  * standing crawl feed runs per arriving batch instead of by periodic
  * whole-corpus recompute. [[ingestBatch]] is one replay-safe step of
  * the near-duplicate admission loop (TrainCli `ingest`);
  * [[contaminationFilter]] is the stateless decontamination gate
  * (TrainCli `decontam`).
  */
object CorpusStreams {

  /** Stateless decontamination: drop documents sharing at least
    * `minShared` distinct word n-grams with the probe corpus (eval
    * sets — bounded by DEFINITION, the same premise that lets the
    * batch operator broadcast probe postings). The probe shingle
    * hashes are collected once into a broadcast set, so the filter is
    * a narrow map over each arriving batch, with no state to carry.
    *
    * Semantics note: the threshold counts overlap POOLED across the
    * whole probe corpus (a blocklist), whereas the batch
    * [[graft.dedup.Dedup.decontaminate]] counts per (doc, probe) PAIR.
    * The two coincide at the default `minShared = 1` (and whenever one
    * probe dominates the overlap); at higher thresholds the pooled
    * form is strictly more aggressive — the right bias for a hygiene
    * gate that holds no per-probe state.
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

  /** One batch of the NEAR-dup ingestion loop:
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
    * Exactly-once across restarts: the append is guarded by a commit
    * marker on `indexPath` ([[VersionLog.markCommitted]]) written AFTER
    * the appends — a batch whose marker exists is skipped entirely, so
    * an at-least-once replay of the batch cannot double-admit. (A
    * crash between append and marker re-appends that batch on replay;
    * duplicate index rows only fatten future probes' candidate lists —
    * the survivor SET stays correct because matching is by id.)
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
    if (VersionLog.isCommitted(spark, indexPath, batchId)) return
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
      VersionLog.markCommitted(spark, indexPath, batchId)
    }
  }
}
