package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheScope.persist

/** On-disk inverted text index: write-once / query-many BM25 — the
  * lexical-plane mirror of [[graft.dedup.LshIndex]].
  *
  * [[Search.bm25TopK]] tokenizes the full corpus per query; at 100 TB
  * a retrieval service answering many queries cannot pay a corpus scan
  * each time. [[write]] materializes the per-document work once:
  *
  *  - `postings/` — one (doc, term, tf, dl) row per distinct doc-term,
  *    stored `PARTITIONED BY` a bounded hash of the term (`tb`). A
  *    term's postings live wholly inside its `tb=` directory, so a
  *    query reads only its terms' partitions — partition pruning at
  *    the file-listing level — and per-term document frequencies are
  *    exact when computed from the pruned scan alone.
  *  - `stats/` — PARTIAL corpus stat rows (n_docs, sum_dl); the query
  *    sums them, so [[append]] just adds one partial row instead of
  *    rewriting a global stats file.
  *  - `_meta/` — `numPartitions`, so probes and appends can never use
  *    a mismatched term-hash layout.
  *
  * [[query]] routes through the exact same scoring tail as the
  * in-memory path ([[Search.scoreAndTopK]] — one implementation, not a
  * re-derivation), so index-backed results are bit-identical to
  * `bm25TopK` over the same corpus (SearchIndexSpec asserts equality;
  * the q147 oracle is the full BM25 SQL replay).
  */
object SearchIndex {

  /** Build the index at `path`: one corpus scan → exploded distinct
    * (doc, term, tf, dl) rows partitioned by term hash, plus one
    * partial stats row. NULL-text docs are dropped (they carry no
    * terms and can never score — same stance as `bm25TopK`).
    */
  def write(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numPartitions: Int = 64): Unit = {
    require(numPartitions >= 1)
    val spark = corpus.sparkSession
    writeRows(corpus, idCol, textCol, path, numPartitions, overwrite = true)
    spark.createDataFrame(Seq(Tuple1(numPartitions)))
      .toDF("num_partitions")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** Fold `batch` into an existing index: append its postings into the
    * same `tb=` layout plus ONE partial stats row. The caller owns id
    * uniqueness across appends.
    */
  def append(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val parts = readMeta(spark, path)
    writeRows(batch, idCol, textCol, path, parts, overwrite = false)
  }

  /** BM25 top-`k` for `queryTerms` against the indexed corpus —
    * bit-identical to `Search.bm25TopK` on the same corpus. Scale
    * shape: the postings scan is pruned to the query terms' `tb`
    * partitions (≤ |terms| directories); stats is a partial-row sum
    * (tiny); everything downstream is the shared scoring tail whose
    * shuffles carry only matching postings.
    */
  def query(
      spark: SparkSession,
      path: String,
      queryTerms: Seq[String],
      k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "query requires at least one term")
    val parts = readMeta(spark, path)
    // the term→tb routing hash must match writeRows' — compute it with
    // the same expression over a |terms|-row frame (bounded collect)
    import spark.implicits._
    val tbs = queryTerms.toDF("term")
      .select(tb(col("term"), parts)).distinct()
      .collect().map(_.getInt(0)).sorted
    val posting = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(tbs.map(Integer.valueOf).toIndexedSeq: _*))
      .filter(col("term").isin(queryTerms: _*))
      .select(col("doc"), col("dl"), col("term"), col("tf"))
    val stats = spark.read.parquet(s"$path/stats")
      .agg(sum(col("n_docs")).as("n"),
        (sum(col("sum_dl")).cast("double") / sum(col("n_docs"))).as("avgdl"))
    Search.scoreAndTopK(posting, stats, "doc", k)
  }

  private def tb(term: org.apache.spark.sql.Column, parts: Int) =
    pmod(xxhash64(term), lit(parts.toLong)).cast("int")

  private def writeRows(
      df: DataFrame, idCol: String, textCol: String, path: String,
      numPartitions: Int, overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    val toks = df.filter(col(textCol).isNotNull).select(
      col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("__t"))
    graft.core.CacheScope.withReleased {
      // persisted across the TWO writes: postings and the corpus stats
      // each consumed the tokenization — one pass instead of two
      // (spillable, released in the bracket)
      val withDl = persist(toks.select(col("doc"),
        size(col("__t")).cast("long").as("dl"), col("__t")))
      // cluster on the partition key before the dynamic-partition
      // write: an unclustered write lands one part file per (task,
      // tb value) — up to tasks × numPartitions small files whose
      // open/footer cost every probe pays (the LshIndex lesson)
      withDl
        .select(col("doc"), col("dl"), explode(col("__t")).as("term"))
        .groupBy(col("doc"), col("dl"), col("term"))
        .agg(count(lit(1)).cast("long").as("tf"))
        .withColumn("tb", tb(col("term"), numPartitions))
        .repartition(col("tb"))
        .write.mode(mode).partitionBy("tb").parquet(s"$path/postings")
      withDl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .coalesce(1).write.mode(mode).parquet(s"$path/stats")
    }
  }

  private def readMeta(spark: SparkSession, path: String): Int =
    graft.core.Layout.readParts(spark, s"$path/_meta").select(col("num_partitions"))
      .collect()(0).getInt(0)
}
