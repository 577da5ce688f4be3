package graft.curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dedup.Dedup
import graft.text.{Pii, Vocab}

/** Thin CLI over the training-data plane — the counterpart of
  * [[graft.eth.Cli]] for corpus work: each command is one pipeline
  * stage reading a parquet documents directory and writing a parquet
  * result, so the full curation flow is runnable end-to-end without
  * writing Scala:
  *
  *   dedup       exact + near-dup collapse, survivors out
  *   dedupLines  cut boilerplate lines shared across documents
  *   scrub       cut cross-document duplicated spans
  *   redact      PII redaction over the text column
  *   decontam    drop docs overlapping a probe (eval) corpus
  *   scrubContam cut only the spans matching probe n-grams
  *   weights     DSIR importance scores against a target filter
  *   xent        LM cross-entropy quality scores (CCNet buckets)
  *   mix         weighted multi-source composition (rows or tokens)
  *   cap         at-most-N-documents-per-source gate
  *   chunk       sliding-window chunking
  *   report      per-source dataset-card stats
  *   shards      deterministic shuffle, written as shard files
  *   split       deterministic train/val/test labeling
  *   bloomGate   zero-shuffle exact-dup gate vs a reference corpus
  *   sample      quality-proportional weighted selection
  *   encode      BPE-tokenize with a trained merge list
  *   trainBpe    learn a BPE merge list from the corpus
  *   search      BM25 top-k corpus probe
  *   classify    train + apply a Naive Bayes label classifier
  *   overlap     pairwise source shingle-overlap report
  *   components  full near-dup cluster labels (connected components)
  *   fuzzy       edit-distance-1 key matching
  *   resample    CCNet perplexity-stratified subsample
  *   stratify    exact per-stratum split labeling
  *   indexBuild  build the on-disk LSH dedup index (once)
  *   indexProbe  cross near-dup pairs of a batch vs the index
  *   ingest      probe -> drop -> append admitted-batch step
  *   componentsIncremental  fold a pair batch into standing labels
  *   chunkSnap   boundary-aware (sentence-snapped) chunking
  *   quality     train + apply the logistic quality classifier
  *   drift       PSI drift gate: batch vs reference quality spread
  *   overlapKmv  sketch-based source overlap (no shingle shuffle)
  *   extractHtml crawl HTML -> text column
  *   pcaMoments  fold a batch into the standing covariance moments
  *   pcaProject  project embeddings onto the standing top-r components
  *   card        full per-source dataset card (report + quartiles + shingles)
  *   pagerank    boilerplate-hub centrality over the near-dup graph
  *   related     seeded proximity ranking (personalized PageRank)
  *   propagate   weak-supervision label expansion over near-dups
  *   splitSafe   leakage-free train/test labeling (cluster-whole)
  *   searchIndexBuild/searchIndexQuery  on-disk BM25 inverted index
  *   cdc         content-defined chunking for chunk-store dedup
  *   canary      one-pass multi-pattern blocklist/canary scan
  *   semdecon    drop corpus rows near ANY eval embedding (semantic)
  *   knnGraph    mutual-kNN edge list over banded-LSH candidates
  *   taggers     per-doc quality-signal flags + all-gates keep
  *
  * Every stage is deterministic (content-keyed, no RNG), so re-running
  * a command overwrites with identical output — crash-and-rerun safe
  * like the chain pipeline.
  */
class TrainCli(spark: SparkSession, idCol: String = "doc_id", textCol: String = "text") {

  private def read(in: String): DataFrame = spark.read.parquet(in)
  private def write(df: DataFrame, out: String): Long = {
    df.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }

  /** `maxShingleDocFreq` is the web-scale stop-shingle cap (see
    * [[graft.dedup.Dedup.jaccardPairs]]) — exact dedup has already
    * collapsed the verbatim-duplicate mass by this stage, so capped
    * hot shingles cost only pairs overlapping on nothing else.
    */
  def dedup(in: String, out: String, n: Int = 3, tau: Double = 0.5,
      maxShingleDocFreq: Option[Int] = None): Long = {
    val docs = read(in)
    val exact = Dedup.exactDedupSurvivors(docs, idCol, textCol)
      .select(col("survivor_id").as(idCol))
    val kept = docs.join(exact, Seq(idCol), "left_semi")
    val drops = Dedup.collapsePairs(
        Dedup.jaccardPairs(kept, idCol, textCol, n, tau, maxShingleDocFreq))
      .select(col("drop").as(idCol))
    write(kept.join(drops, Seq(idCol), "left_anti"), out)
  }

  /** Re-attach a (doc_id, clean text, count) frame onto the full input
    * row so passenger columns (source, lang, …) survive the stage —
    * every command must chain into every other.
    */
  private def withCleanText(docs: DataFrame, cleaned: DataFrame,
      countCol: String): DataFrame =
    docs.drop(textCol).join(
      cleaned.select(col("doc_id").as(idCol),
        col("clean_text").as(textCol), col(countCol)),
      Seq(idCol))

  def dedupLines(in: String, out: String, minDocs: Int = 2): Long = {
    val docs = read(in)
    write(withCleanText(docs,
      Dedup.dedupLines(docs, idCol, textCol, minDocs), "n_removed"), out)
  }

  def scrub(in: String, out: String, n: Int = 8): Long = {
    val docs = read(in)
    write(withCleanText(docs,
      Dedup.scrubDuplicatedSpans(docs, idCol, textCol, n), "n_cut"), out)
  }

  def redact(in: String, out: String): Long =
    write(read(in).withColumn(textCol, Pii.redact(col(textCol))), out)

  def decontam(in: String, probesIn: String, out: String,
      n: Int = 8, minShared: Int = 1): Long =
    write(graft.streaming.CorpusStreams.contaminationFilter(
      read(in), textCol, read(probesIn), textCol, n, minShared), out)

  def scrubContam(in: String, probesIn: String, out: String, n: Int = 8): Long = {
    val docs = read(in)
    write(withCleanText(docs, Dedup.scrubContaminatedSpans(docs, idCol, textCol,
      read(probesIn), textCol, n), "n_cut"), out)
  }

  def weights(in: String, out: String, targetCol: String, targetValue: String): Long =
    write(Curation.dsirLogWeights(read(in), idCol, textCol,
      col(targetCol) === targetValue), out)

  /** Without cutoffs, emits scores only — a default threshold would
    * silently put every doc in one bucket and make a downstream
    * "keep head" filter a no-op that looks like it ran.
    */
  def xent(in: String, out: String,
      cutoffs: Option[(Double, Double)] = None): Long = {
    val scores = Curation.crossEntropyScores(read(in), idCol, textCol)
    write(cutoffs.fold(scores) { case (headBelow, middleBelow) =>
      scores.withColumn("bucket",
        Curation.perplexityBucket(col("xent"), headBelow, middleBelow))
    }, out)
  }

  def mix(in: String, out: String, sourceCol: String,
      weights: Map[String, Double], byTokens: Boolean = false): Long = {
    val docs = read(in)
    val mixed =
      if (byTokens) Curation.mixCorpusBy(docs, idCol, sourceCol, weights,
        graft.text.TextFunctions.tokenCountWs(col(textCol)).cast("long"))
      else Curation.mixCorpus(docs, idCol, sourceCol, weights)
    write(mixed, out)
  }

  def cap(in: String, out: String, sourceCol: String, maxDocs: Int): Long =
    write(Curation.capPerGroup(read(in), idCol, sourceCol, maxDocs), out)

  def chunk(in: String, out: String, window: Int, stride: Int): Long =
    write(Curation.chunkDocuments(read(in), idCol, textCol, window, stride), out)

  def report(in: String, out: String, sourceCol: String = "source",
      langCol: String = "lang"): Long =
    write(Curation.corpusReport(read(in), idCol, textCol, sourceCol, langCol), out)

  def shards(in: String, out: String, numShards: Int): Long = {
    Curation.writeTrainingShards(read(in), idCol, out, numShards)
    spark.read.parquet(out).count()
  }

  /** Deterministic split labeling; pair with a partitionBy("split")
    * writer or downstream filters — the labels never migrate as the
    * corpus grows.
    */
  def split(in: String, out: String,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): Long =
    write(Curation.splitByHash(read(in), idCol, splits), out)

  /** Bloom-gate an incoming batch against a reference corpus: the
    * zero-shuffle exact-duplicate prefilter of incremental ingestion
    * (compose with `dedup`/`decontam` for near-dup hygiene).
    */
  def bloomGate(refIn: String, batchIn: String, out: String,
      expectedItems: Long, fpp: Double = 0.01): Long =
    write(Dedup.dedupAgainstBloom(read(refIn), textCol,
      read(batchIn), textCol, expectedItems, fpp), out)

  /** Quality/importance-proportional selection
    * ([[Curation.weightedHashSample]] with the composite quality score
    * as the weight).
    */
  def sample(in: String, out: String, baseFraction: Double): Long =
    write(Curation.weightedHashSample(read(in), idCol,
      graft.text.TextFunctions.qualityScore(col(textCol)), baseFraction), out)

  /** Tokenize with a trained BPE merge list stored as a 2-column
    * (left, right) parquet in rank order (`rank` column if present,
    * else input order is undefined — write one).
    */
  def encode(in: String, mergesIn: String, out: String): Long = {
    val m = read(mergesIn)
    require(m.columns.contains("rank"),
      "merges parquet needs a rank column (merge order is the tokenizer)")
    val merges = m.orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    write(Vocab.bpeEncode(read(in), idCol, textCol, merges), out)
  }

  /** Train a BPE merge list and write it as the (left, right, rank)
    * parquet [[encode]] consumes — train + encode is the full
    * tokenizer loop ([[graft.text.Vocab.trainBpeMerges]]).
    */
  def trainBpe(in: String, mergesOut: String, numMerges: Int,
      maxWords: Int = 100000): Long = {
    val s = spark
    import s.implicits._
    val merges = Vocab.trainBpeMerges(read(in), textCol, numMerges, maxWords)
    write(merges.zipWithIndex
      .map { case ((l, r), i) => (l, r, i.toLong) }
      .toDF("left", "right", "rank"), mergesOut)
  }

  /** BM25 probe: top-`k` docs for the query terms ([[graft.text.Search]]). */
  def search(in: String, out: String, terms: Seq[String], k: Int = 100): Long =
    write(graft.text.Search.bm25TopK(read(in), idCol, textCol, terms, k), out)

  /** Train a Naive Bayes classifier on `labelCol` and write per-doc
    * predictions — fit and scoring are one lazy plan, nothing is
    * materialized in between ([[graft.text.NaiveBayes]]).
    */
  def classify(in: String, out: String, labelCol: String): Long = {
    val docs = read(in)
    val model = graft.text.NaiveBayes.fit(docs, textCol, labelCol)
    write(graft.text.NaiveBayes.predict(model, docs, idCol, textCol), out)
  }

  /** Pairwise source shingle-overlap report ([[Curation.corpusOverlap]]). */
  def overlap(in: String, out: String, sourceCol: String = "source", n: Int = 3): Long =
    write(Curation.corpusOverlap(read(in), textCol, sourceCol, n), out)

  /** Full dedup-cluster labels: near-dup pairs → connected components
    * ([[graft.dedup.Dedup.connectedComponents]]); writes
    * (doc_id, component_id) for every paired doc.
    */
  def components(in: String, out: String, n: Int = 3, tau: Double = 0.5,
      maxShingleDocFreq: Option[Int] = None): Long =
    write(Dedup.connectedComponents(
      Dedup.jaccardPairs(read(in), idCol, textCol, n, tau, maxShingleDocFreq)
        .select(col("doc_a"), col("doc_b"))), out)

  /** Edit-distance-1 fuzzy key matching over `keyCol`
    * ([[graft.dedup.Dedup.editDistancePairs]]).
    */
  def fuzzy(in: String, out: String, keyCol: String,
      maxVariantFreq: Option[Int] = None): Long =
    write(Dedup.editDistancePairs(read(in), idCol, keyCol, maxVariantFreq), out)

  /** CCNet perplexity-stratified resample
    * ([[Curation.perplexityResample]]).
    */
  def resample(in: String, out: String, headBelow: Double, middleBelow: Double,
      rates: (Double, Double, Double) = (1.0, 0.5, 0.1)): Long =
    write(Curation.perplexityResample(read(in), idCol, textCol,
      headBelow, middleBelow, rates._1, rates._2, rates._3), out)

  /** Exact per-stratum split labeling ([[Curation.stratifiedSplit]] —
    * frozen-snapshot counterpart of [[split]]).
    */
  def stratify(in: String, out: String, strataCol: String = "source",
      trainFrac: Double = 0.8, valFrac: Double = 0.1): Long =
    write(Curation.stratifiedSplit(read(in), idCol, strataCol, trainFrac, valFrac), out)

  /** Build the on-disk LSH dedup index from a corpus
    * ([[graft.dedup.LshIndex.write]]) — run once, probe many.
    */
  def indexBuild(in: String, indexPath: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, numPartitions: Int = 64): Unit =
    graft.dedup.LshIndex.write(read(in), idCol, textCol, indexPath,
      n, numHashes, bands, numPartitions)

  /** Probe a batch against the LSH index: (ref_id, new_id, jaccard)
    * cross near-dup pairs, reference never re-shingled.
    */
  def indexProbe(indexPath: String, batchIn: String, out: String,
      tau: Double = 0.5, maxBucketDocFreq: Option[Int] = None): Long =
    graft.core.CacheScope.withReleased {
      write(graft.dedup.LshIndex.probe(spark, indexPath, read(batchIn),
        idCol, textCol, tau, maxBucketDocFreq), out)
    }

  /** One admitted-batch step of the incremental ingestion loop
    * ([[graft.streaming.CorpusStreams.ingestBatch]]): probe, drop
    * near-dups, write survivors, append them to the index. Replay-safe
    * per batchId.
    */
  def ingest(indexPath: String, batchIn: String, out: String, batchId: Long,
      tau: Double = 0.5, maxBucketDocFreq: Option[Int] = None): Long = {
    graft.streaming.CorpusStreams.ingestBatch(read(batchIn), batchId,
      idCol, textCol, indexPath, out, tau, maxBucketDocFreq)
    spark.read.parquet(s"$out/batch_id=$batchId").count()
  }

  /** Fold a near-dup pair batch into a standing component labeling
    * ([[graft.dedup.Dedup.connectedComponentsIncremental]]) — the
    * labels-maintenance sibling of [[ingest]].
    */
  def componentsIncremental(labelsIn: String, pairsIn: String, out: String): Long =
    graft.core.CacheScope.withReleased {
      write(Dedup.connectedComponentsIncremental(read(labelsIn), read(pairsIn)), out)
    }

  /** Boundary-aware chunking ([[Curation.chunkDocumentsSnapped]]):
    * window cuts snapped back to sentence ends within `tolerance`.
    */
  def chunkSnap(in: String, out: String, window: Int, tolerance: Int): Long =
    write(Curation.chunkDocumentsSnapped(read(in), idCol, textCol,
      window, tolerance), out)

  /** Train + apply the discriminative quality classifier
    * ([[graft.text.LogisticRegression]]): fit on a boolean label
    * column, write (doc_id, score).
    */
  def quality(in: String, out: String, labelCol: String,
      buckets: Int = 64, iters: Int = 5, lr: Double = 0.25): Long =
    graft.core.CacheScope.withReleased {
      write(graft.text.LogisticRegression.fitScore(read(in), idCol, textCol,
        col(labelCol).cast("boolean"), buckets, iters, lr), out)
    }

  /** Drift gate ([[Curation.populationStability]]): PSI of the quality
    * distribution per source between an incoming batch ("b") and the
    * reference corpus ("a") — run before [[ingest]] to catch a skewed
    * crawl. Writes (source, n_a, n_b, psi).
    */
  def drift(refIn: String, batchIn: String, out: String,
      nBuckets: Int = 10): Long = {
    import org.apache.spark.sql.functions.{least, lit, floor => ffloor}
    def sided(path: String, side: String): DataFrame =
      read(path).select(col("source"), lit(side).as("side"),
        least(ffloor(graft.text.TextFunctions.qualityScore(col(textCol))
          * nBuckets).cast("int"), lit(nBuckets - 1)).as("bucket"))
    write(Curation.populationStability(
      sided(refIn, "a").unionByName(sided(batchIn, "b")),
      "source", "side", "bucket", nBuckets), out)
  }

  /** Sketch-based source-overlap report
    * ([[Curation.corpusOverlapApprox]]) — the `overlap` command's
    * 100 TB form: k hash minima per source instead of the distinct
    * shingle shuffle.
    */
  def overlapKmv(in: String, out: String, n: Int = 3, k: Int = 16384): Long =
    write(Curation.corpusOverlapApprox(read(in), textCol, "source", n, k), out)

  /** HTML → text extraction ([[graft.text.TextFunctions
    * .extractHtmlText]]) over a raw-crawl column, written back as the
    * text column — the stage in front of every other command here.
    */
  def extractHtml(in: String, out: String, htmlCol: String = "html"): Long =
    write(read(in).withColumn(textCol,
      graft.text.TextFunctions.extractHtmlText(col(htmlCol))).drop(htmlCol), out)

  /** The full dataset card ([[Curation.datasetCard]]): one row per
    * source — volume, dup rate, token and quality stats, quartiles,
    * language spread, distinct shingles.
    */
  def card(in: String, out: String): Long =
    write(Curation.datasetCard(read(in), idCol, textCol, "source", "lang"), out)

  /** PCA moment maintenance ([[graft.similarity.Pca]]): compute a
    * batch's exact covariance moments and fold them into a standing
    * moment table (created if absent) — the embedding-statistics
    * sibling of [[componentsIncremental]]. `embCol` defaults to the
    * embeddings-table convention.
    */
  def pcaMoments(batchIn: String, momentsPath: String,
      embCol: String = "embedding"): Long = {
    val batch = graft.similarity.Pca.covarianceMoments(read(batchIn), embCol)
    val folded =
      if (new java.io.File(momentsPath).exists())
        graft.similarity.Pca.appendMoments(spark.read.parquet(momentsPath), batch)
      else batch
    // two-phase write: the fold READS the standing table it replaces
    val tmp = momentsPath + "_next"
    folded.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(momentsPath)
    spark.read.parquet(momentsPath).count()
  }

  /** Project embeddings onto the standing moments' top-r principal
    * components ([[graft.similarity.Pca.principalComponents]] +
    * broadcast map-side [[graft.similarity.Pca.project]]); writes
    * (id, proj array<double> of length r).
    */
  def pcaProject(in: String, momentsPath: String, out: String, r: Int,
      embIdCol: String = "vec_id", embCol: String = "embedding"): Long = {
    val comps = graft.similarity.Pca.principalComponents(
      graft.similarity.Pca.covarianceFromMoments(spark.read.parquet(momentsPath)), r)
    write(graft.similarity.Pca.project(read(in), embIdCol, embCol, comps), out)
  }

  /** Symmetric near-dup edge list, the input the graph commands share. */
  private def neardupEdges(docs: DataFrame, n: Int, tau: Double): DataFrame =
    graft.core.Graph.symmetric(Dedup.jaccardPairs(docs, idCol, textCol, n, tau))

  /** Boilerplate-hub ranking ([[graft.core.Graph.pageRank]] over the
    * near-dup graph): the docs whose content is most echoed across
    * the corpus, written as (id, rank_fx, rank).
    */
  def pagerank(in: String, out: String, n: Int = 3, tau: Double = 0.5,
      iters: Int = 5): Long = graft.core.CacheScope.withReleased {
    val docs = read(in)
    write(graft.core.Graph.pageRank(
      docs.select(col(idCol).as("id")), neardupEdges(docs, n, tau), iters), out)
  }

  /** Related-document exploration ([[graft.core.Graph
    * .pageRankPersonalized]]): proximity of every doc to a seed id
    * set over the near-dup graph.
    */
  def related(in: String, out: String, seedIds: Seq[Long],
      n: Int = 3, tau: Double = 0.5, iters: Int = 5): Long =
    graft.core.CacheScope.withReleased {
      val docs = read(in)
      import spark.implicits._
      write(graft.core.Graph.pageRankPersonalized(
        docs.select(col(idCol).as("id")), neardupEdges(docs, n, tau),
        seedIds.toDF("id"), iters), out)
    }

  /** Weak-supervision label expansion ([[graft.core.Graph
    * .labelPropagation]]): docs with a non-null `labelCol` are seeds;
    * majority vote spreads labels across the near-dup graph.
    */
  def propagate(in: String, out: String, labelCol: String,
      n: Int = 3, tau: Double = 0.5, iters: Int = 3): Long =
    graft.core.CacheScope.withReleased {
      val docs = read(in)
      val labeled = graft.core.Graph.labelPropagation(
        docs.select(col(idCol).as("id"), col(labelCol).as("lab")),
        neardupEdges(docs, n, tau), iters)
      write(docs.drop(labelCol).join(
        labeled.select(col("id").as(idCol), col("lab").as(labelCol)),
        Seq(idCol)), out)
    }

  /** Leakage-free train/test labeling ([[Curation.leakageFreeSplit]]):
    * near-dup clusters land whole on one side.
    */
  def splitSafe(in: String, out: String, n: Int = 3, tau: Double = 0.5): Long =
    graft.core.CacheScope.withReleased {
      val docs = read(in)
      val pairs = Dedup.jaccardPairs(docs, idCol, textCol, n, tau)
      write(docs.join(Curation.leakageFreeSplit(docs, idCol, pairs), Seq(idCol)), out)
    }

  /** Build the on-disk BM25 index once ([[graft.text.SearchIndex]]). */
  def searchIndexBuild(in: String, indexPath: String,
      numPartitions: Int = 64): Long = {
    graft.text.SearchIndex.write(read(in), idCol, textCol, indexPath, numPartitions)
    spark.read.parquet(s"$indexPath/postings").count()
  }

  /** Query the on-disk index — bit-identical to the `search` command
    * over the same corpus, without the corpus scan.
    */
  def searchIndexQuery(indexPath: String, out: String,
      terms: Seq[String], k: Int = 25): Long =
    write(graft.text.SearchIndex.query(spark, indexPath, terms, k), out)

  /** Content-defined chunking ([[Curation.cdcChunks]]): edit-stable
    * chunk rows (doc, chunk_id, text, fp, n_words) for chunk-store
    * dedup.
    */
  def cdc(in: String, out: String, window: Int = 4): Long =
    write(Curation.cdcChunks(read(in), idCol, textCol, window), out)

  /** Canary/blocklist scan ([[graft.functions.AcFunctions
    * .multiContains]]): one automaton pass per doc; writes each doc's
    * matched pattern indexes, docs with no match omitted.
    */
  def canary(in: String, out: String, patterns: Seq[String]): Long =
    write(read(in).select(col(idCol),
      org.apache.spark.sql.functions.explode(
        graft.functions.AcFunctions.multiContains(col(textCol), patterns)).as("pat")), out)

  /** Semantic decontamination ([[graft.similarity.Similarity
    * .semanticContamination]]): drop corpus rows within `tau` cosine
    * of ANY probe (eval-set) embedding — the paraphrase-robust
    * counterpart of `decontam`. Both dirs are (id, embedding) parquet;
    * survivors of the corpus dir are written unchanged.
    */
  def semdecon(corpusIn: String, probesIn: String, out: String,
      embIdCol: String = "vec_id", embCol: String = "embedding",
      tau: Double = 0.9): Long = {
    val corpus = read(corpusIn)
    val c = corpus.select(col(embIdCol).as("c_id"),
      col(embCol).cast("array<double>").as("c_emb"))
    val p = read(probesIn).select(col(embIdCol).as("p_id"),
      col(embCol).cast("array<double>").as("p_emb"))
    val matches = graft.similarity.Similarity.semanticContamination(p, c, tau)
    write(graft.similarity.Similarity.semanticDecontaminate(
      corpus, embIdCol, matches), out)
  }

  /** Mutual-kNN graph ([[graft.similarity.Similarity.mutualKnnGraph]]
    * over banded-LSH candidates): the noise-robust edge list density
    * clustering and the graph commands consume; writes
    * (id_a, id_b, cos).
    */
  def knnGraph(embIn: String, out: String, k: Int = 3, tau: Double = 0.0,
      embIdCol: String = "vec_id", embCol: String = "embedding",
      dim: Int = 64): Long = {
    val emb = read(embIn).select(col(embIdCol),
      col(embCol).cast("array<double>").as("__emb"))
    val cand = graft.similarity.Similarity.cosinePairsLsh(
      emb, embIdCol, "__emb", tau, dim)
    write(graft.similarity.Similarity.mutualKnnGraph(
      emb, embIdCol, "__emb", k, tau, candidates = Some(cand)), out)
  }

  /** Quality-signals tagger table (the q195 bundle at document grain,
    * ONE shared definition — [[graft.text.QualityGates.qualityFlags]]):
    * per-doc gopher/blocklist/repetition/quality pass flags + the
    * all-gates keep — the audit table a filtering decision is made
    * from (the per-source rollup is one groupBy away). Total on any
    * input: an unauditable (NULL-text) doc keeps its row with
    * keep=false instead of vanishing.
    */
  def taggers(in: String, out: String,
      blocklist: Seq[String] = Seq.empty,
      minQuality: Double = 0.5,
      maxDupFrac: Double = 0.2, maxTopFrac: Double = 0.1): Long =
    write(graft.text.QualityGates.qualityFlags(
        read(in), idCol, textCol, blocklist, minQuality, maxDupFrac, maxTopFrac)
      .select(col(idCol), col("gopher_pass"), col("block_pass"),
        col("qual_pass"), col("rep_pass"), col("keep")), out)

  /** Import a JSONL(.gz) corpus drop into parquet — the ingestion
    * boundary ([[CorpusIo.readJsonl]]): explicit schema (no
    * inference pass), corrupt lines dropped after being counted into
    * the returned (kept, quarantined) pair.
    */
  def importJsonl(in: String, out: String,
      schemaDdl: String = "doc_id LONG, text STRING, source STRING")
      : (Long, Long) = {
    val all = CorpusIo.readJsonl(spark, in,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    val bad = all.filter(col("_corrupt").isNotNull).count()
    (write(all.filter(col("_corrupt").isNull).drop("_corrupt"), out), bad)
  }

  /** Export a parquet corpus as gzipped JSONL — the interchange
    * boundary ([[CorpusIo.writeJsonl]]); field order = table order.
    */
  def exportJsonl(in: String, out: String, codec: String = "gzip"): Unit =
    CorpusIo.writeJsonl(read(in), out, codec)

  /** Right-to-be-forgotten: remove the listed ids from the corpus AND
    * from the standing LSH index in one step
    * ([[graft.dedup.LshIndex.delete]] — partition-pruned, only the
    * directories holding the forgotten docs' rows are rewritten). The
    * id list is a parquet dir with an `idCol` column (a takedown/GDPR
    * request table); survivors are written unchanged. Deterministic
    * and rerun-safe: forgetting an already-forgotten id is a no-op.
    */
  def forget(in: String, idsIn: String, out: String,
      indexPath: Option[String] = None): Long = {
    val corpus = read(in)
    val ids = read(idsIn).select(col(idCol)).distinct()
    indexPath.foreach { p =>
      graft.dedup.LshIndex.delete(spark, p,
        corpus.join(ids, Seq(idCol), "left_semi"), idCol, textCol)
    }
    write(corpus.join(
      org.apache.spark.sql.functions.broadcast(ids), Seq(idCol), "left_anti"), out)
  }
}
