package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheScope.persist
import graft.similarity.Similarity

/** Streaming SEMANTIC dedup against an on-disk IVF index — the
  * embedding-plane mirror of [[CorpusStreams.nearDedupIngest]]'s LSH
  * loop: each micro-batch of (c_id, c_emb) vectors drops members that
  * cosine-near-duplicate an already-ADMITTED vector, collapses
  * within-batch near-dups, and appends the survivors to the index they
  * will defend against future batches.
  *
  * Cell-local semantics, inherited from SemDeDup
  * ([[Similarity.semDedup]]): a pair is only tested when both vectors
  * assign to the SAME coarse-quantizer cell — under the index's FROZEN
  * centroids, so admitted rows and batch rows land in consistent cells
  * and the probe reads only the batch's cell partitions (bounded
  * `list_id` pruning, nothing corpus-sized shuffles). Boundary pairs
  * split across cells are missed — the standard SemDeDup trade,
  * identical batch and streaming.
  */
object EmbeddingStreams {

  /** One micro-batch of the loop (public for direct replay testing —
    * [[CorpusStreams.ingestBatch]]'s exactly-once marker contract,
    * same `_ingest_log/` mechanism):
    *  1. assign batch vectors to the index's frozen centroids;
    *  2. cross-drops: cosine >= tau against admitted vectors of the
    *     SAME cell (partition-pruned index read, broadcast batch side);
    *  3. within-batch drops: [[Similarity.cellPairDrops]] over the
    *     batch's own assignment (min-id keeper);
    *  4. survivors to `outPath/batch_id=N/` (overwrite) and appended
    *     to the index ([[Similarity.appendIvfIndex]]).
    */
  def ingestBatch(
      batch: DataFrame, // (c_id, c_emb: array<double>)
      batchId: Long,
      indexPath: String, outPath: String,
      tau: Double): Unit = {
    val spark = batch.sparkSession
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/_ingest_log/b$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return
    graft.core.CacheScope.withReleased {
      val centN = spark.read.parquet(s"$indexPath/_centroids")
        .select(col("cent_id"), col("cent_emb"))
        .withColumn("cent_norm", Similarity.norm(col("cent_emb")))
      val b = batch.withColumn("c_norm", Similarity.norm(col("c_emb")))
      val assigned = persist(
        graft.core.Joins.lastByKey(
            b.crossJoin(broadcast(centN))
              .withColumn("a_score", Similarity.cosineWithNorms(
                col("c_emb"), col("cent_emb"), col("c_norm"), col("cent_norm"))),
            Seq("c_id"), Seq(col("a_score"), -col("cent_id")))
          .select(col("cent_id").as("list_id"), col("c_id"),
            col("c_emb"), col("c_norm")))
      // bounded collect: at most nlist cells
      val cells = assigned.select(col("list_id")).distinct()
        .collect().map(_.getLong(0)).sorted
      val idx = spark.read.parquet(indexPath)
        .filter(col("list_id").isin(cells.map(java.lang.Long.valueOf).toIndexedSeq: _*))
        .select(col("list_id"), col("c_id").as("ref_id"),
          col("c_emb").as("ref_emb"), col("c_norm").as("ref_norm"))
      val crossDrops = idx
        .join(broadcast(assigned), Seq("list_id"))
        .filter(Similarity.cosineWithNorms(
          col("ref_emb"), col("c_emb"), col("ref_norm"), col("c_norm")) >= tau)
        .select(col("c_id"))
      val withinDrops = Similarity.cellPairDrops(assigned, tau,
        saltCellRows = 0, maxSalts = 64).select(col("drop_id").as("c_id"))
      val survivors = batch.join(
        crossDrops.unionByName(withinDrops).distinct(), Seq("c_id"), "left_anti")
      survivors.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      Similarity.appendIvfIndex(spark, indexPath,
        spark.read.parquet(s"$outPath/batch_id=$batchId"))
      fs.create(marker, false).close()
    }
  }

  /** The 24/7 form: a `foreachBatch` writer over a vector stream.
    * Caller picks trigger + checkpoint and starts it; the index must
    * exist ([[Similarity.writeIvfIndex]] over a non-empty seed — its
    * centroids are the loop's frozen quantizer).
    */
  def semDedupIngest(
      stream: DataFrame,
      indexPath: String, outPath: String,
      tau: Double)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, indexPath, outPath, tau)
    }
}
