package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus vocabulary statistics — the precursor a tokenizer-training /
  * stop-list-mining pass runs over the whole corpus.
  *
  * Scale shape (100 TB): explode to words, then ONE keyed aggregation
  * whose key space is the vocabulary (≪ corpus) — map-side partial
  * combine means the exchange carries (term, partial-count) rows, not
  * word occurrences. Per-doc distinctness for document frequency rides
  * the same explode via `array_distinct` before it, so no second pass.
  */
object Vocab {

  /** (term, doc_freq, term_freq): in how many documents and how often
    * overall each whitespace token occurs. Pure integer arithmetic —
    * engine-exact.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol).as("doc"),
        TextFunctions.tokens(col(textCol)).as("ws"))
      .select(col("doc"), array_distinct(col("ws")).as("distinct_ws"), col("ws"))
    // one explode for total counts, one for per-doc presence; both
    // aggregate on the bounded vocabulary key
    val tf = words.select(explode(col("ws")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("term_freq"))
    val dfreq = words.select(explode(col("distinct_ws")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    dfreq.join(tf, Seq("term"))
      .select(col("term"), col("doc_freq"), col("term_freq"))
  }

  /** BPE merge-pair statistics — the quantity a byte-pair-encoding
    * tokenizer trainer maximizes at every merge step: for each
    * adjacent character pair, the total number of occurrences across
    * the corpus (word frequency × within-word occurrences). The
    * highest-count pair is the next merge; rerun on re-segmented text
    * for subsequent steps (the iteration is a driver loop by nature —
    * each step is one of these jobs).
    *
    * Scale shape: the pair explode runs over the DISTINCT word table
    * (vocab ≪ corpus) with frequencies riding along, so corpus size
    * only affects the first vocab-keyed count; both aggregations have
    * map-side partials. Integer-exact.
    */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame = {
    val vocab = df.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .select(col("freq"), explode(expr(
        "IF(length(w) < 2, array(), transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
  }

  /** Train a BPE merge list end-to-end: the corpus contributes ONE
    * distributed aggregation (distinct words + frequencies, capped to
    * the `maxWords` most frequent — the standard trainer working set:
    * the head of the word distribution carries almost all pair mass),
    * then the merge loop runs sequentially over that bounded table —
    * exactly how production tokenizer trainers split the work, so the
    * 100 TB cost is one word-count shuffle, not `numMerges` corpus
    * passes. Deterministic: ties break (count desc, left asc,
    * right asc); word-table truncation ties break (freq desc, word).
    *
    * Returns merges in rank order, composable with [[bpeEncode]].
    */
  def trainBpeMerges(
      df: DataFrame, textCol: String,
      numMerges: Int, maxWords: Int = 100000): Seq[(String, String)] = {
    val wordFreq = df.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    var words: Array[(Vector[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val merges = Seq.newBuilder[(String, String)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (pieces, f) =>
        var i = 0
        while (i < pieces.length - 1) {
          val k = (pieces(i), pieces(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        val joined = best._1 + best._2
        words = words.map { case (pieces, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < pieces.length) {
            if (i < pieces.length - 1 &&
                pieces(i) == best._1 && pieces(i + 1) == best._2) {
              out += joined; i += 2
            } else { out += pieces(i); i += 1 }
          }
          (out.result(), f)
        }
        step += 1
      }
    }
    merges.result()
  }

  /** Apply a trained BPE merge list to one word: start from
    * characters, repeatedly merge the earliest-ranked adjacent pair
    * present until none applies — the standard greedy BPE encode.
    * Deterministic; unknown characters just never merge.
    */
  def bpeEncodeWord(word: String, ranks: Map[String, Int]): Seq[String] = {
    var pieces = word.map(_.toString).toVector
    var done = pieces.length < 2
    while (!done) {
      var best = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < pieces.length - 1) {
        val r = ranks.getOrElse(pieces(i) + pieces(i + 1), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = i }
        i += 1
      }
      if (best < 0) done = true
      else {
        pieces = (pieces.take(best) :+ (pieces(best) + pieces(best + 1))) ++
          pieces.drop(best + 2)
        if (pieces.length < 2) done = true
      }
    }
    pieces
  }

  /** Tokenize the corpus with a trained BPE merge list (the encode
    * side of the tokenizer whose training statistic is
    * [[bpePairCounts]]). Returns (doc_id, pieces: array<string>) —
    * every word's subword pieces, document order preserved.
    *
    * Scale shape: the greedy merge loop (irregular, per-word — the
    * justified-UDF case, like the ABI decoder) runs ONCE PER DISTINCT
    * WORD over the vocabulary table, never per occurrence: encode cost
    * is O(|vocab|·merges), corpus cost is the vocab-keyed join that
    * maps words to their memoized pieces plus a doc-keyed reassembly.
    * The merge list broadcasts (tokenizers are ~10⁴–10⁵ merges).
    */
  def bpeEncode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val ranks = merges.zipWithIndex
      .map { case ((a, b), i) => (a + b) -> i }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val encodeUdf = udf((w: String) =>
      if (w == null) Seq.empty[String] else bpeEncodeWord(w, bc.value))
    // NULL text coalesces to "" (one empty word -> zero pieces): the
    // doc keeps its output row instead of vanishing from the explode
    val positioned = df.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(coalesce(col(textCol), lit(""))))
        .as(Seq("pos", "w")))
    val vocabPieces = positioned.select(col("w")).distinct()
      .withColumn("pieces", encodeUdf(col("w")))
    positioned.join(vocabPieces, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("pieces")))),
        x => x.getField("pieces"))).as("pieces"))
  }

  /** Document-level PMI collocations: for token pairs co-occurring in
    * at least `minPairDocs` documents,
    * pmi = ln(docs(a,b)·N / (docs(a)·docs(b))), 1e-9-fixed int64.
    *
    * Pairs come from exploding each doc's SORTED distinct-token set
    * twice with an a<b filter — per-doc fan-out is distinct-tokens²,
    * so on open-vocabulary corpora gate the input through a per-doc
    * distinct-token cap first (the quality filters already bound doc
    * length); no corpus-level self-join ever forms. Unigram doc
    * frequencies are a vocab-keyed join; the doc count broadcasts.
    */
  def cooccurrencePmi(
      df: DataFrame, idCol: String, textCol: String,
      minPairDocs: Long = 2L): DataFrame = {
    val toksSorted = array_sort(TextFunctions.tokenSet(col(textCol)))
    val docTok = df.select(col(idCol).as("doc"),
      explode(TextFunctions.tokenSet(col(textCol))).as("tok"))
    val n = df.agg(count(lit(1)).as("n"))
    val ca = docTok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val pairs = df.select(toksSorted.as("__toks"))
      .select(explode(col("__toks")).as("tok_a"), col("__toks"))
      .select(col("tok_a"), explode(col("__toks")).as("tok_b"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairDocs)
    pairs
      .join(ca.select(col("tok").as("tok_a"), col("c").as("c_a")), "tok_a")
      .join(ca.select(col("tok").as("tok_b"), col("c").as("c_b")), "tok_b")
      .crossJoin(broadcast(n))
      .select(col("tok_a"), col("tok_b"), col("c_ab"),
        floor(log((col("c_ab").cast("double") * col("n")) /
          (col("c_a").cast("double") * col("c_b"))) * lit(1e9)).cast("long").as("pmi_fx"))
  }
}
