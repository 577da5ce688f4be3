package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CacheScope.persist

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH bucketed variant as the scale path.
  *
  * Numeric determinism: float32 inputs are cast to double, so each
  * product is EXACT (24+24 mantissa bits < 53); the dot product is a
  * left-to-right fold (`aggregate`), and the final cosine is rounded to
  * 6 decimals — reproducible across engines for oracle comparison.
  *
  * Scale notes (100 TB): brute force is O(|Q|·|C|) — correct shape for
  * small query sets against a partitioned corpus (queries broadcast, no
  * corpus shuffle). For large |Q| use `lshTopK`: both sides bucket by
  * hyperplane sign bits, the join is bucket-equi (shuffle on bucket
  * key), and recall is tuned by `planes` (fewer planes = bigger buckets
  * = higher recall, more compute).
  */
object Similarity {

  /** Dot product of two double arrays — compiled kernel, strict left
    * fold (bit-identical to the `aggregate(zip_with(...))` HOF chain
    * and to DuckDB's list_sum/list_transform, but codegen'd).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.SketchFunctions.array_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 6 decimals. Inputs must already be
    * `array<double>` (cast float embeddings with
    * `col.cast("array<double>")` once, at scan).
    */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Cosine given precomputed norms (avoids recomputing the corpus
    * norm per query pair).
    */
  def cosineWithNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    round(dot(a, b) / (normA * normB), 6)

  /** Exact top-k: for every query row, the k nearest corpus rows by
    * cosine (desc, tie-broken by corpus id). Queries are broadcast, the
    * corpus is scanned once with no shuffle of the corpus side; the
    * only shuffle is the per-query top-k window (k·|Q| rows).
    */
  def bruteForceTopK(
      queries: DataFrame, // (q_id, q_emb: array<double>)
      corpus: DataFrame, // (c_id, c_emb: array<double>)
      k: Int): DataFrame = {
    val q = queries.withColumn("q_norm", norm(col("q_emb")))
    val c = corpus.withColumn("c_norm", norm(col("c_emb")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", cosineWithNorms(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** Hard-negative mining for contrastive/embedding training: for
    * every anchor row, the k most-similar rows with a DIFFERENT
    * label — the pairs that teach a model the most (similar in
    * embedding space, semantically distinct). This exact form scores
    * every cross-label pair (the quadratic oracle baseline, same
    * stance as [[cosinePairsExact]]); at corpus scale use
    * [[hardNegativesLsh]], which routes candidate generation through
    * the LSH bucket equi-join so nothing quadratic is ever planned.
    * Output: (q_id, neg_id, cos, rank), rank 1..k per anchor by
    * (cos desc, neg_id asc).
    */
  def hardNegatives(df: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<double>").as("emb"), col(labelCol).as("label"))
      .withColumn("nrm", norm(col("emb")))
    val a = base.select(col("id").as("q_id"), col("emb").as("q_emb"),
      col("label").as("q_label"), col("nrm").as("q_nrm"))
    val b = base.select(col("id").as("neg_id"), col("emb").as("n_emb"),
      col("label").as("n_label"), col("nrm").as("n_nrm"))
    val scored = a.join(b, col("q_label") =!= col("n_label"))
      .withColumn("cos",
        cosineWithNorms(col("q_emb"), col("n_emb"), col("q_nrm"), col("n_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neg_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("neg_id"), col("cos"), col("rank"))
  }

  /** [[hardNegatives]] at scale: candidates come from the LSH bucket
    * equi-join (both sides bucket by `planes` md5-derived hyperplane
    * sign bits, the label-mismatch test is a residual filter on the
    * hash join), so the pair volume is bounded by bucket co-residency
    * instead of |corpus|². `planes = 0` is the degenerate single
    * bucket — exact equality with [[hardNegatives]] (spec-checked);
    * each added plane halves expected bucket size at some recall
    * cost, exactly the [[lshTopK]] trade.
    */
  def hardNegativesLsh(df: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int, planes: Int, dim: Int = 64): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<double>").as("emb"), col(labelCol).as("label"))
      .withColumn("nrm", norm(col("emb")))
      .withColumn("bucket",
        if (planes == 0) lit(0L) else lshBucket(col("emb"), planes, dim))
    val a = base.select(col("id").as("q_id"), col("emb").as("q_emb"),
      col("label").as("q_label"), col("nrm").as("q_nrm"), col("bucket"))
    val b = base.select(col("id").as("neg_id"), col("emb").as("n_emb"),
      col("label").as("n_label"), col("nrm").as("n_nrm"), col("bucket"))
    val scored = a.join(b, Seq("bucket"))
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("cos",
        cosineWithNorms(col("q_emb"), col("n_emb"), col("q_nrm"), col("n_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neg_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("neg_id"), col("cos"), col("rank"))
  }

  /** Deterministic ±1 hyperplane for plane index `p` over `dim`
    * dimensions, derived from the md5 hex digest of `"plane:p"`:
    * component i = +1 iff bit (i mod 4) of hex digit (i / 4) is set.
    * md5 (no private RNG) so any engine can re-derive the identical
    * planes — the DuckDB oracles for the LSH queries embed these as
    * array literals and reproduce the full bucket assignment in SQL.
    */
  def hyperplane(p: Int, dim: Int): Array[Double] = {
    require(dim <= 128, s"md5 supplies 128 sign bits, got dim=$dim")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$p".getBytes("UTF-8"))
    Array.tabulate(dim) { i =>
      val nibble =
        if (i % 8 < 4) (digest(i / 8) >> 4) & 0xf else digest(i / 8) & 0xf
      if (((nibble >> (i % 4)) & 1) == 1) 1.0 else -1.0
    }
  }

  /** LSH bucket id: `planes` sign bits of dots with the md5-derived ±1
    * hyperplanes (plane indices `firstPlane until firstPlane+planes`).
    * The planes enter the plan as array LITERALS, so the bucket is one
    * codegen'd `array_dot` per plane — no per-row hash evaluation.
    */
  def lshBucket(emb: Column, planes: Int, dim: Int, firstPlane: Int = 0): Column =
    // planes = 0 is the degenerate single bucket (exact-recall mode:
    // every row collides; useful as the candidates = all-pairs base
    // case specs compare the banded paths against)
    if (planes == 0) lit(0L)
    else (0 until planes).map { p =>
      when(dot(emb, typedLit(hyperplane(firstPlane + p, dim).toSeq)) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Approximate top-k: candidates are corpus rows sharing the query's
    * LSH bucket; scoring/ranking as in brute force. Equi-join on the
    * bucket key — scales to large query sets (no cross join).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      planes: Int = 4,
      dim: Int = 64): DataFrame = {
    val q = queries
      .withColumn("q_norm", norm(col("q_emb")))
      .withColumn("bucket", lshBucket(col("q_emb"), planes, dim))
    val c = corpus
      .withColumn("c_norm", norm(col("c_emb")))
      .withColumn("bucket", lshBucket(col("c_emb"), planes, dim))
    val scored = c.join(q, Seq("bucket"))
      .withColumn("cos", cosineWithNorms(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** Multi-probe LSH top-k (Lv et al., VLDB 2007): each query probes
    * its OWN bucket plus every bucket one sign-flip away (the
    * Hamming-1 probe set, `planes + 1` probes) — near-miss neighbours
    * that landed just across one hyperplane become candidates without
    * doubling the table count or shrinking `planes`. The standard
    * recall/probe-cost trade for sign-LSH: recall rises toward brute
    * force while the CORPUS side stays bucketed exactly once.
    *
    * Scale shape: corpus is hashed once (no re-index per probe
    * width); the query side explodes `planes + 1` probe rows per
    * query — query-set-sized fan-out, never corpus-sized. A candidate
    * reachable through several probes is deduplicated per (q_id,
    * c_id) before scoring, so the ranking sees each pair once.
    */
  def lshTopKMultiProbe(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      planes: Int = 4,
      dim: Int = 64): DataFrame = {
    val base = col("__qb")
    val q = queries
      .withColumn("q_norm", norm(col("q_emb")))
      .withColumn("__qb", lshBucket(col("q_emb"), planes, dim))
      .withColumn("bucket",
        explode(array(base +: (0 until planes).map(p =>
          base.bitwiseXOR(lit(1L << p))): _*)))
      .drop("__qb")
    val c = corpus
      .withColumn("c_norm", norm(col("c_emb")))
      .withColumn("bucket", lshBucket(col("c_emb"), planes, dim))
    val cand = c.join(q, Seq("bucket"))
      .dropDuplicates("q_id", "c_id")
    val scored = cand.withColumn("cos",
      cosineWithNorms(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** Seed quantizer of [[ivfTopK]], [[ivfPqTopK]] and
    * [[topicClusters]], and [[semDedup]]'s default: the `nlist` corpus
    * vectors that sort first by `md5(c_id)` — a deterministic uniform
    * sample. NOT the lowest-id vectors: real corpora arrive sorted by
    * source or time, so an id-prefix seed concentrates every centroid
    * in one source and the remaining cells degenerate. The md5 order
    * is content-independent, replayable by an independent engine in
    * SQL (the DuckDB oracles recompute it verbatim), and stable under
    * re-partitioning. It is only a seed: k-means refinement is not
    * built in.
    */
  def seedCentroids(corpus: DataFrame, nlist: Int): DataFrame =
    corpus.orderBy(md5(col("c_id").cast("string")), col("c_id")).limit(nlist)
      .select(col("c_id").cast("long").as("cent_id"), col("c_emb").as("cent_emb"))

  /** Corpus topic clustering (the domain-discovery step a
    * DoReMi/DSIR-style mixture needs when documents carry no source
    * label): every vector assigned to its nearest centroid by cosine,
    * clusters labeled "t1".."t<nlist>" in ascending cent_id order so
    * the label set is stable and enumerable by a mixture spec
    * (cent_ids themselves are corpus ids — data-dependent names no
    * static weights map could reference). Returns (c_id, topic).
    * Centroids are [[seedCentroids]]' deterministic md5 seed.
    *
    * Scale shape: the nlist-row centroid table broadcasts (its label
    * window sorts nlist rows, nothing more); the corpus never
    * shuffles — assignment is the same broadcast crossJoin +
    * per-row argmax as [[ivfTopK]].
    */
  def topicClusters(
      corpus: DataFrame, // (c_id, c_emb: array<double>)
      nlist: Int = 16): DataFrame = {
    val labeled = seedCentroids(corpus, nlist)
      .withColumn("cent_norm", norm(col("cent_emb")))
      .withColumn("topic",
        concat(lit("t"), row_number()
          // nlist-row frame; zeroKey partition keeps the plan warning-free
          .over(Window.partitionBy(graft.core.Windows.zeroKey(col("cent_id")))
            .orderBy(col("cent_id"))).cast("string")))
    val c = corpus.withColumn("c_norm", norm(col("c_emb")))
    graft.core.Joins.lastByKey(
      c.crossJoin(broadcast(labeled))
        .withColumn("a_score",
          cosineWithNorms(col("c_emb"), col("cent_emb"), col("c_norm"), col("cent_norm"))),
      Seq("c_id"), Seq(col("a_score"), -col("cent_id")))
      .select(col("c_id"), col("topic"))
  }

  /** IVF-Flat approximate top-k — the second scale path next to
    * [[lshTopK]]: a coarse quantizer assigns every corpus vector to its
    * nearest centroid (inverted lists), and each query scores only the
    * `nprobe` lists nearest to it. The partition-pruning analog for
    * vector search: candidate work drops by ~nlist/nprobe.
    *
    * The quantizer here is deterministic — [[seedCentroids]]'s
    * md5-sampled corpus vectors (production IVF k-means-refines them,
    * which changes WHICH vectors the lists hold but none of the
    * dataflow below). Centroids are a small dimension:
    * broadcast to both assignment joins, so the corpus never shuffles
    * for assignment — the only wide exchange is the per-query top-k.
    */
  def ivfTopK(
      queries: DataFrame, // (q_id, q_emb: array<double>)
      corpus: DataFrame, // (c_id, c_emb: array<double>)
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val cent = seedCentroids(corpus, nlist)
      .withColumn("cent_norm", norm(col("cent_emb")))
    val c = corpus.withColumn("c_norm", norm(col("c_emb")))
    val assigned = graft.core.Joins.lastByKey(
      c.crossJoin(broadcast(cent))
        .withColumn("a_score",
          cosineWithNorms(col("c_emb"), col("cent_emb"), col("c_norm"), col("cent_norm"))),
      Seq("c_id"), Seq(col("a_score"), -col("cent_id")))
      .select(col("cent_id").as("list_id"), col("c_id"), col("c_emb"), col("c_norm"))
    val q = queries.withColumn("q_norm", norm(col("q_emb")))
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("p_score").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("p_score",
        cosineWithNorms(col("q_emb"), col("cent_emb"), col("q_norm"), col("cent_norm")))
      .withColumn("p_rank", row_number().over(probeW))
      .filter(col("p_rank") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("cent_id").as("list_id"))
    val scored = assigned.join(probes, Seq("list_id"))
      .withColumn("cos", cosineWithNorms(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** The cell-assignment rule: nearest broadcast centroid by cosine,
    * ties to the LOWEST cent_id.
    */
  private def assignToCentroids(vectors: DataFrame, centN: DataFrame): DataFrame =
    graft.core.Joins.lastByKey(
      vectors.withColumn("c_norm", norm(col("c_emb")))
        .crossJoin(broadcast(centN))
        .withColumn("a_score",
          cosineWithNorms(col("c_emb"), col("cent_emb"), col("c_norm"), col("cent_norm"))),
      Seq("c_id"), Seq(col("a_score"), -col("cent_id")))

  /** Per-vector int8 scalar quantization: scale = max|x|/127, stored
    * value = floor(x/scale + 0.5) ∈ [-127, 127]. At 100 TB this is the
    * 4× storage/bandwidth lever for the ANN paths — a quantized corpus
    * (tinyint-packable `qvec` + one float scale) replaces the float32
    * embedding column; quantized dot products are exact integer
    * arithmetic in doubles, and cosine needs no scale at all (it
    * cancels), so [[bruteForceTopK]]/[[lshTopK]]/[[ivfTopK]] run on
    * `qvec` unchanged. floor(+0.5) not round(): engines disagree on
    * round-half while floor is bit-identical everywhere — the DuckDB
    * oracle recomputes the exact same grid.
    */
  def int8Quantize(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol),
        col(embCol).as("emb"),
        (greatest(array_max(transform(col(embCol), x => abs(x))), lit(1e-30)) / 127d)
          .as("scale"))
      .select(col(idCol),
        // cast back to double: Spark's floor yields bigint, but the dot
        // kernels (and DuckDB's floor) work in doubles — the values are
        // exact integers either way
        transform(col("emb"), x => floor(x / col("scale") + lit(0.5)).cast("double"))
          .as("qvec"),
        col("scale"))

  /** Reconstruction of a quantized vector (error ≤ scale/2 per
    * component — asserted in SimilaritySpec).
    */
  def int8Dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, x => x * scale)

  /** Two-stage (coarse-to-fine) ANN: an int8-quantized scan shortlists
    * `shortlist` candidates per query, then the EXACT cosine re-ranks
    * the shortlist down to top-k — the standard retrieval shape where
    * the cheap pass touches the whole corpus at 4× less bandwidth and
    * the full-precision pass touches only |Q|·shortlist vectors.
    * Recall is governed by shortlist/k (quantization rank inversions
    * are local; SimilaritySpec measures ≥ 0.8 recall at shortlist=k
    * already, and growing the shortlist recovers the remainder), while
    * the reported `cos` is always exact.
    */
  def refinedTopK(
      queries: DataFrame, // (q_id, q_emb: array<double>)
      corpus: DataFrame, // (c_id, c_emb: array<double>)
      k: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val q8 = int8Quantize(queries, "q_id", "q_emb")
      .select(col("q_id"), col("qvec").as("q_emb"))
    val c8 = int8Quantize(corpus, "c_id", "c_emb")
      .select(col("c_id"), col("qvec").as("c_emb"))
    val cands = bruteForceTopK(q8, c8, shortlist)
      .select(col("q_id"), col("c_id"))
    val qx = queries.withColumn("q_norm", norm(col("q_emb")))
    val cx = corpus.withColumn("c_norm", norm(col("c_emb")))
    // the |Q|·shortlist candidate rows (with their query vectors) are
    // the small side by this operator's premise: broadcast them so the
    // rerank is a map-side hash join — the corpus never shuffles
    val shortRows = cands.join(broadcast(qx), Seq("q_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    cx.join(broadcast(shortRows), Seq("c_id"))
      .withColumn("cos", cosineWithNorms(
        col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** Embedding near-duplicate pairs, EXACT variant: all (a < b) pairs
    * with cosine >= tau via a self cross join — O(n²) flops, the oracle
    * baseline. At corpus scale use [[cosinePairsLsh]] (the default
    * recommendation): same output schema, bounded-key join instead of a
    * cross join. Reach for this exact form only when one side is small
    * enough to broadcast or an exact answer is mandatory.
    */
  def cosinePairsExact(df: DataFrame, idCol: String, embCol: String, tau: Double): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val l = base.select(col("id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("n_a"))
    val r = base.select(col("id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("n_b"))
    l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosineWithNorms(col("emb_a"), col("emb_b"), col("n_a"), col("n_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Semantic (embedding-space) benchmark decontamination — the
    * paraphrase-robust sibling of the lexical n-gram probe
    * (`Dedup.contaminationMatches`): a corpus document is contaminated
    * if any eval-set embedding sits within `tau` cosine of it, even
    * when no 13-gram survives the rewording. Returns one row per
    * contaminated corpus id with its best-matching probe:
    * (c_id, p_id, cos), best = (cos desc, p_id asc).
    *
    * Scale shape: eval benchmarks are tiny next to a 100 TB corpus, so
    * `probes` broadcasts and the corpus is scanned ONCE map-side (a
    * BroadcastNestedLoopJoin that never shuffles the corpus); the
    * `cos >= tau` filter runs before the aggregate, so the one
    * exchange carries only contaminated candidates — at a sane `tau`
    * a sliver of the corpus. The argmax is a plain struct-max
    * aggregate (map-side partials), not a window.
    */
  def semanticContamination(
      probes: DataFrame, // (p_id, p_emb: array<double>)
      corpus: DataFrame, // (c_id, c_emb: array<double>)
      tau: Double): DataFrame = {
    val p = probes.withColumn("p_norm", norm(col("p_emb")))
    val c = corpus.withColumn("c_norm", norm(col("c_emb")))
    c.crossJoin(broadcast(p))
      .withColumn("cos", cosineWithNorms(
        col("p_emb"), col("c_emb"), col("p_norm"), col("c_norm")))
      .filter(col("cos") >= tau)
      .groupBy(col("c_id"))
      .agg(max(struct(col("cos"), (-col("p_id")).as("np"), col("p_id"))).as("best"))
      .select(col("c_id"), col("best.p_id").as("p_id"), col("best.cos").as("cos"))
  }

  /** Drop every corpus row flagged by [[semanticContamination]] — one
    * left-anti join on the id; the corpus-sized side never builds a
    * hash table (the matches side is the small build side).
    */
  def semanticDecontaminate(
      corpus: DataFrame, idCol: String, matches: DataFrame): DataFrame = {
    // rename before the join: idCol is usually "c_id" itself
    val m = matches.select(col("c_id").as("__contam_id"))
    corpus.join(m, corpus(idCol) === col("__contam_id"), "left_anti")
  }

  /** Mutual-kNN graph over candidate pairs: directed k-nearest edges
    * per node, kept only when BOTH endpoints nominate each other — the
    * standard noise-robust input to density clustering (mutual-kNN
    * keeps cluster cores connected while severing hub/boilerplate
    * shortcuts a plain kNN graph rides through). Output one row per
    * mutual edge: (id_a < id_b, cos).
    *
    * `candidates` = symmetric scored pairs (id_a < id_b, cos), each
    * unordered pair once — at corpus scale feed [[cosinePairsLsh]]
    * output (bounded-key equi-join, nothing quadratic); with
    * `candidates = None` the exact all-pairs baseline
    * ([[cosinePairsExact]] at tau) is used, the oracle form.
    *
    * Shuffle shape: pair volume is candidate-bounded; the per-node
    * rank is a window over that bounded edge list (never the corpus),
    * and the mutuality test is a self equi-join on the k·n directed
    * survivors.
    */
  def mutualKnnGraph(
      df: DataFrame, idCol: String, embCol: String, k: Int,
      tau: Double = 0.0,
      candidates: Option[DataFrame] = None): DataFrame = {
    // tau applies to SUPPLIED candidates too (a list built once at a
    // loose threshold can be reused across stricter calls)
    // persisted: the symmetrized union references the pair pipeline
    // twice, and the mutuality join references the kNN window twice —
    // without the caches the candidate generation runs up to 4× (at
    // sf0.1, dropping either cache raised q192's shuffle read: 4312 →
    // 7055 KB without `pairs`, 4312 → 5036 KB without `knn`)
    val pairs = persist(
      candidates.map(_.filter(col("cos") >= tau))
        .getOrElse(cosinePairsExact(df, idCol, embCol, tau)))
    val directed = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
      .unionByName(pairs
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val knn = persist(
      directed.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("src"), col("dst"), col("cos")))
    val rev = knn.select(col("dst").as("src"), col("src").as("dst"))
    knn.join(rev, Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering — assign every embedding to its
    * nearest coarse centroid, compare pairs only WITHIN a cluster, and
    * drop each document that sits within `tau` cosine of a lower-id
    * clustermate (mapped to its smallest such keeper). Returns
    * (drop_id, keep_id, cos = the keeper pair's similarity).
    *
    * Scale shape: the centroid table is nlist rows (broadcast); the
    * pair join is list_id-keyed — the corpus never self-joins globally,
    * and per-cluster pair cost is bounded by the cluster size the
    * quantizer controls (nlist grows with the corpus). `shuffle_hash`
    * keeps AQE from driver-building a broadcast of a corpus-sized side.
    *
    * Skew guard: the quantizer does NOT bound the largest cell — at
    * web scale one dense cell (boilerplate embeddings collapse to a
    * point) is a single O(|cell|²) straggler task. Cells larger than
    * `saltCellRows` are therefore salted: the right side of the pair
    * join keys each row into one of S = ceil(|cell|/saltCellRows)
    * (≤ `maxSalts`) id-hash sub-buckets and the left side replicates
    * across all S, so the cell's pair work lands on S tasks instead of
    * one. Salting replicates left rows of oversized cells only and
    * NEVER changes the output — every in-cell (a < b) pair still meets
    * exactly once, at the right row's sub-bucket. Deterministic
    * (salt = xxhash64 of the id, never rand()), so retries repartition
    * identically.
    *
    * `saltCellRows = 0` (default) AUTO-TUNES the threshold from the
    * observed cell-size distribution: [[autoSaltRows]] of the mean
    * cell size, computed inside the size aggregate the guard already
    * runs — a static number is wrong in both directions (too low
    * salt-splits healthy cells when nlist is small, too high lets a
    * hot cell straggle when cells are tiny). Pass a positive value to
    * pin it.
    */
  def semDedup(
      corpus: DataFrame, // (c_id, c_emb: array<double>)
      tau: Double,
      nlist: Int = 16,
      centroids: Option[DataFrame] = None,
      saltCellRows: Int = 0,
      maxSalts: Int = 64): DataFrame = {
    require(saltCellRows >= 0 && maxSalts >= 1)
    val cent = centroids.getOrElse(seedCentroids(corpus, nlist))
      .select(col("cent_id"), col("cent_emb"))
      .withColumn("cent_norm", norm(col("cent_emb")))
    val c = corpus.withColumn("c_norm", norm(col("c_emb")))
    val assigned = graft.core.Joins.lastByKey(
        c.crossJoin(broadcast(cent))
          .withColumn("a_score",
            cosineWithNorms(col("c_emb"), col("cent_emb"), col("c_norm"), col("cent_norm"))),
        Seq("c_id"), Seq(col("a_score"), -col("cent_id")))
      .select(col("cent_id").as("list_id"), col("c_id"), col("c_emb"), col("c_norm"))
    cellPairDrops(assigned, tau, saltCellRows, maxSalts)
  }

  /** The auto-tuned salting threshold: sub-buckets sized at 4× the
    * mean cell (a cell under that is not skewed enough to be worth
    * splitting), floored at 1024 rows (under ~half a million pairs a
    * single task is cheaper than the replication).
    */
  def autoSaltRows(meanCellRows: Double): Long =
    math.max(1024L, math.ceil(meanCellRows * 4.0).toLong)

  /** The within-cell pair join + smallest-keeper reduction of
    * [[semDedup]], with the cell-salting skew guard. `assigned` =
    * (list_id, c_id, c_emb, c_norm).
    */
  private[graft] def cellPairDrops(
      assigned: DataFrame,
      tau: Double,
      saltCellRows: Int,
      maxSalts: Int): DataFrame = {
    // per-cell salt count: 1 for cells within budget (sequence(0,0) =
    // one copy, the un-salted plan), S sub-buckets above it. The size
    // table is ≤ nlist rows — broadcast back onto the assignment.
    val counts = assigned.groupBy(col("list_id"))
      .agg(count(lit(1)).as("_cell_rows"))
    // threshold: pinned, or derived from the distribution the size
    // aggregate already observes ([[autoSaltRows]] as an expression —
    // same ops, same rounding). The 1-row mean shares counts' exchange
    // (identical canonical subtree), so the assignment still computes
    // once.
    val (sized0, thr) =
      if (saltCellRows > 0) (counts, lit(saltCellRows.toLong))
      else (counts.crossJoin(broadcast(
          counts.agg(avg(col("_cell_rows")).as("_mean")))),
        greatest(lit(1024L), ceil(col("_mean") * lit(4.0)).cast("long")))
    val sizes = sized0
      .withColumn("_nsalt",
        least(ceil(col("_cell_rows").cast("double") / thr),
          lit(maxSalts.toLong)).cast("long"))
      .select(col("list_id"), col("_nsalt"))
    // identical subtree (assigned ⋈ sizes) on both sides so the
    // assignment computes once and ReuseExchange feeds the second side
    val sized = assigned.join(broadcast(sizes), Seq("list_id"))
    val xs = sized.withColumn("_salt",
      explode(sequence(lit(0L), col("_nsalt") - 1)))
    val ys = sized.withColumn("_salt", pmod(xxhash64(col("c_id")), col("_nsalt")))
    xs.as("x")
      .join(ys.as("y").hint("shuffle_hash"),
        col("x.list_id") === col("y.list_id") && col("x._salt") === col("y._salt") &&
          col("x.c_id") < col("y.c_id"))
      .withColumn("cos", cosineWithNorms(
        col("x.c_emb"), col("y.c_emb"), col("x.c_norm"), col("y.c_norm")))
      .filter(col("cos") >= tau)
      .groupBy(col("y.c_id").as("drop_id"))
      .agg(min(struct(col("x.c_id").as("a_id"), col("cos").as("cos"))).as("k"))
      .select(col("drop_id"), col("k.a_id").as("keep_id"), col("k.cos").as("cos"))
  }

  /** Banded band-bucket values for [[cosinePairsLsh]]: band b's bucket
    * is `planesPerBand` sign bits (planes b·P .. b·P+P-1) offset into a
    * per-band disjoint range (`b << P | bits`), so one flat long key
    * encodes (band, bucket).
    */
  def lshBandBuckets(emb: Column, planesPerBand: Int, bands: Int, dim: Int): Column =
    array((0 until bands).map { b =>
      lshBucket(emb, planesPerBand, dim, firstPlane = b * planesPerBand)
        .bitwiseOR(lit(b.toLong << planesPerBand))
    }: _*)

  /** Embedding near-duplicate pairs, LSH-banded variant — the default
    * scale path. Candidates are (a < b) pairs sharing at least one of
    * `bands` hyperplane-sign buckets (OR-construction: a pair at angle
    * θ collides per band with prob (1-θ/π)^P, misses all bands with
    * prob (1-(1-θ/π)^P)^B); every candidate is then verified with the
    * EXACT cosine, so output pairs are always true pairs — banding only
    * bounds recall, never precision.
    *
    * Scale shape: explode to B band-keys per row, self-equi-join on the
    * key (shuffle on bounded buckets, never |D|² — same pattern as
    * [[graft.dedup.Dedup.minhashLshPairs]]), verify candidates only.
    * The default P=6/B=16 prunes random pairs 1-(1-2⁻⁶)¹⁶ ≈ 0.22 (4.5×
    * fewer candidates than the cross join) and its recall grows with
    * tau: ~0.71 right at cos = 0.45, > 0.9997 at cos = 0.9 — the
    * near-dup regime the scale path exists for. Low tau (wide angles)
    * is where hyperplane signs separate worst; crank bands up (recall
    * 1-(1-p^P)^B) or fall back to [[cosinePairsExact]] there.
    */
  def cosinePairsLsh(
      df: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      dim: Int = 64,
      planesPerBand: Int = 6,
      bands: Int = 16,
      maxBucketDocFreq: Option[Int] = None): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    // df-cap guard, same semantics as Dedup.minhashLshPairs: a dense
    // embedding region (boilerplate docs collapse to one point, so one
    // sign pattern) fills a bucket and its pair fan-out is |bucket|² —
    // cap it and let SemDeDup/exact dedup own the collapsed region.
    val candidates = graft.core.Skew.bandPairs(base.select(col("id"),
        explode(lshBandBuckets(col("emb"), planesPerBand, bands, dim)).as("bucket")),
      "id", "bucket", maxBucketDocFreq)
    candidates
      .join(base.select(col("id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("n_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("n_b")), "id_b")
      .withColumn("cos", cosineWithNorms(col("emb_a"), col("emb_b"), col("n_a"), col("n_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Johnson–Lindenstrauss random projection onto `outDim` md5-derived
    * ±1 hyperplanes ([[hyperplane]] — the same public derivation the
    * LSH buckets use), scaled by `1/√outDim`: the data-INDEPENDENT
    * dimensionality reduction beside PCA — no training pass, no
    * moment state, distances preserved within the JL bound, and any
    * engine re-derives the identical matrix. Map-side only: each
    * output component is one literal-array dot product inside
    * whole-stage codegen; nothing aggregates or shuffles.
    *
    * @return (idCol, proj: array<double> length outDim, each component
    *   floored to 1e-6 — the replayable grid).
    */
  def randomProject(
      df: DataFrame, idCol: String, embCol: String,
      outDim: Int, dim: Int = 64): DataFrame = {
    require(outDim >= 1 && dim <= 128)
    val emb = col(embCol).cast("array<double>")
    val scale = math.sqrt(outDim.toDouble)
    val comps = (0 until outDim).map { p =>
      val plane = array(hyperplane(p, dim).map(lit): _*)
      floor(dot(emb, plane) / lit(scale) * lit(1e6)) / lit(1e6)
    }
    df.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** Per-group embedding centroid drift between two snapshot sides —
    * the semantic counterpart of the categorical PSI report: how far
    * each group's MEAN embedding moved between releases (retrain /
    * re-embed triggers). Cosine is scale-invariant, so the centroid
    * division by n cancels and the comparison runs on the exact
    * per-dimension SUMS: each component quantizes to the
    * `floor(x·1e6 + 0.5)` int64 grid (the q131 PCA grid), sums are
    * exact int64 (order-free), and one rounded cosine per group is
    * bit-replayable by the SQL oracle.
    *
    * Scale shape: one (group, side, dim) aggregate with map-side
    * partials — the exchange carries |groups|·2·dim rows, never
    * vectors; the final join/cosine runs on |groups| rows.
    *
    * @return (groupCol, drift_cos, n_a, n_b) — drift_cos rounded 1e-6;
    *   groups missing a side are omitted.
    */
  def centroidDrift(
      df: DataFrame, // (groupCol, sideCol, emb: array<double|float>)
      groupCol: String,
      sideCol: String,
      embCol: String): DataFrame = {
    val g = col(groupCol)
    val sums = df
      .select(g, col(sideCol).as("_side"),
        posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(g, col("_side"), col("pos"))
      .agg(sum(floor(col("v") * lit(1e6) + lit(0.5)).cast("long")).as("s"),
        // every dimension of one row counts it once; dividing by the
        // dim count later is avoided by counting rows at pos 0 only
        sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n0"))
    val packed = sums.groupBy(g, col("_side"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("vec"),
        sum(col("n0")).as("n"))
    val a = packed.filter(col("_side") === "a")
      .select(g, col("vec").as("va"), col("n").as("n_a"))
    val b = packed.filter(col("_side") === "b")
      .select(g, col("vec").as("vb"), col("n").as("n_b"))
    a.join(b, Seq(groupCol))
      .select(g,
        round(
          aggregate(zip_with(col("va"), col("vb"),
            (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _) /
            (sqrt(aggregate(col("va"),
              lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))) *
             sqrt(aggregate(col("vb"),
               lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))), 6)
          .as("drift_cos"),
        col("n_a"), col("n_b"))
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    * diversified selection over a retrieval SHORTLIST: greedily pick
    * `k` items maximizing `λ·rel − (1−λ)·max_sim_to_selected` — the
    * de-redundancy step between "top-k most similar" and "k examples
    * worth showing/training on".
    *
    * Deliberately driver-side: MMR is sequential by definition (each
    * pick changes the next pick's penalty), and its input is a
    * SHORTLIST — bounded by the upstream top-k, ≤ `MaxShortlist` rows
    * enforced — so the greedy O(|short|·k) loop on collected rows is
    * the honest shape (the distributed work is the retrieval that
    * produced the shortlist). All arithmetic is integer fixed point:
    * rel and pairwise sims are 1e-6 cosines as int64, λ enters as the
    * rational `lamNum/lamDen`, score = `lamNum·rel_fx −
    * (lamDen−lamNum)·maxsim_fx` (denominator-scaled), ties to the
    * smaller id — bit-replayable by the SQL oracle's unrolled picks.
    *
    * @param shortlist (id: long, rel_fx: long) — 1e-6 fixed-point
    *   relevance; id must be unique.
    * @param embeddings (id, emb array<double>) — must cover shortlist.
    * @return (sel_rank 1..k, id, mmr_fx) in selection order; mmr_fx of
    *   the first pick is pure `lamNum·rel_fx` (empty-set penalty 0).
    */
  def mmrSelect(
      shortlist: DataFrame,
      embeddings: DataFrame,
      lamNum: Int,
      lamDen: Int,
      k: Int): DataFrame = {
    require(lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
      s"lambda must be a rational in [0,1], got $lamNum/$lamDen")
    val spark = shortlist.sparkSession
    val rows = shortlist.join(embeddings, "id")
      .select(col("id").cast("long"), col("rel_fx").cast("long"),
        col("emb").cast("array<double>"))
      .limit(MaxShortlist + 1)
      .collect()
    require(rows.length <= MaxShortlist,
      s"mmrSelect input exceeds MaxShortlist=$MaxShortlist rows — " +
        "shortlist upstream first (MMR is a shortlist operator)")
    val items = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray)).sortBy(_._1)
    // floor(cos·1e6 + 0.5): the PCA fixed-point grid — one float
    // pipeline (left-to-right sums, one division) shared bit-for-bit
    // with the SQL replay, no double-rounding hazard.
    def cosFx(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5).toLong
    }
    val penalty = lamDen.toLong - lamNum.toLong
    val selected = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    val remaining = scala.collection.mutable.LinkedHashMap(items.map(it => it._1 -> it): _*)
    val maxSim = scala.collection.mutable.HashMap[Long, Long]() // id -> max sim_fx to selected
    for (rank <- 1 to math.min(k, items.length)) {
      val best = remaining.valuesIterator
        .map { case (id, rel, _) =>
          (lamNum * rel - penalty * maxSim.getOrElse(id, 0L), id)
        }
        .reduce((x, y) => if (x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)) x else y)
      val (id, _, emb) = remaining.remove(best._2).get
      selected += ((rank, id, best._1))
      remaining.valuesIterator.foreach { case (cid, _, cemb) =>
        val s = cosFx(cemb, emb)
        if (s > maxSim.getOrElse(cid, Long.MinValue)) maxSim(cid) = s
      }
    }
    import spark.implicits._
    selected.toSeq.toDF("sel_rank", "id", "mmr_fx")
      .select(col("sel_rank").cast("long"), col("id"), col("mmr_fx"))
  }

  /** Hard cap on [[mmrSelect]] input size (it collects the shortlist). */
  val MaxShortlist = 10000

  // ---- Product quantization (IVF-PQ's compression half) ----------------
  //
  // PQ (Jégou et al., TPAMI'11) cuts each d-dim vector into m blocks of
  // dsub dims, quantizes every block against a ksub-codeword codebook,
  // and searches with Asymmetric Distance Computation: the query builds
  // an m×ksub lookup table of exact block distances once, and every
  // corpus vector's approximate distance is m table lookups — the
  // memory-bound scan that makes billion-vector ANN affordable (codes
  // are m bytes/vector instead of 4·d).
  //
  // Determinism stance (same as seedCentroids/q40): codebooks are the
  // md5-ordered deterministic sample — content-independent, replayable
  // in SQL — and every argmin/ranking compares 1e-6-rounded or
  // fixed-point values with id tiebreaks, so an independent engine
  // replaying the construction gets bit-identical codes and rankings.

  /** PQ codebooks from the deterministic md5-order sample: codeword i
    * of block j is the j-th subvector of the i-th seed vector. Output
    * (j 1..m, i 1..ksub, cw: array<double>) — m·ksub rows, broadcast-
    * sized. The row_number window orders `ksub` rows — bounded, not
    * corpus-sized. Refined codebooks come from per-block Lloyd
    * iterations; the seed is the oracle-replayable baseline.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, dsub: Int, ksub: Int): DataFrame = {
    val seeds = corpus
      .orderBy(md5(col("c_id").cast("string")), col("c_id")).limit(ksub)
      .withColumn("i",
        row_number() // ksub-row frame; zeroKey partition = warning-free
          .over(Window.partitionBy(graft.core.Windows.zeroKey(col("c_id")))
            .orderBy(md5(col("c_id").cast("string")), col("c_id"))))
    seeds
      .select(col("i"), explode(array((1 to m).map(lit): _*)).as("j"), col("c_emb"))
      .select(col("j"), col("i"),
        expr(s"slice(c_emb, (j-1)*$dsub+1, $dsub)").as("cw"))
  }

  /** Exact squared L2 between two equal-length blocks, folded
    * left-to-right (matches DuckDB's list_sum order — the cross-engine
    * float contract the cosine kernels already rely on). Compiled
    * kernel, not `aggregate(zip_with(...))`: the HOF form is an
    * interpreted lambda (CodegenFallback) and this distance runs
    * m·ksub times per corpus vector in [[pqEncode]] — the PQ plane's
    * hot loop. Bit-identical fold (each term is a square, so the
    * missing `0.0 +` start is IEEE-invisible); asserted in
    * SimilaritySpec.
    */
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.SketchFunctions.array_l2sq(a, b)

  /** PQ-encode the corpus: per (vector, block) the codeword index
    * minimizing rounded block L2², smaller i on ties. Output
    * (c_id, j, code) — the flat form [[pqSearchAdc]] consumes (pack
    * with collect_list for storage). Scale shape: explode to m rows
    * per vector, join the BROADCAST m·ksub codebook, per-key argmax —
    * the corpus shuffles once on (c_id, j)-sized rows, never on raw
    * vectors paired with each other.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, dsub: Int): DataFrame = {
    val blocks = corpus
      .select(col("c_id"), explode(array((1 to m).map(lit): _*)).as("j"), col("c_emb"))
      .select(col("c_id"), col("j"), expr(s"slice(c_emb, (j-1)*$dsub+1, $dsub)").as("sub"))
    graft.core.Joins.lastByKey(
      blocks.join(broadcast(codebooks), "j")
        .withColumn("_d", round(l2sq(col("sub"), col("cw")), 6)),
      Seq("c_id", "j"), Seq(-col("_d"), -col("i")))
      .select(col("c_id"), col("j"), col("i").as("code"))
  }

  /** ADC top-k: one exact m·ksub distance table for the query (each
    * entry `floor(blockL2²·1e6)` — int64, so the per-vector sum over
    * blocks is EXACT regardless of add order), then every encoded
    * vector scores with m broadcast-joined lookups and one int64 sum.
    * Returns (c_id, adc_fx, rank 1..k) by (adc_fx asc, c_id).
    */
  /** IVF + ADC composite top-k — the FAISS-style billion-vector
    * architecture assembled from the two paths this plane already has:
    * the coarse quantizer prunes the search to `nprobe` cells (the
    * partition-pruning move of [[ivfTopK]]), and WITHIN the probed
    * cells candidates rank by the PQ asymmetric-distance table instead
    * of full-precision vectors — at scale the scan touches nprobe/nlist
    * of the corpus and reads m bytes per vector instead of d·8.
    *
    * Codebooks are global (trained on the full corpus, not per-cell
    * residuals — the classic residual refinement changes which
    * codewords exist, none of the dataflow below). Multi-query by
    * construction: the distance table is |Q|·m·ksub rows, broadcast;
    * the candidate fan-out is (probed-cell volume)·m, never
    * corpus·|Q|. Exact int64 table sums, so the DuckDB oracle replays
    * every rank.
    */
  def ivfPqTopK(
      queries: DataFrame, // (q_id, q_emb: array<double>)
      corpus: DataFrame, // (c_id, c_emb: array<double>)
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      dsub: Int = 8,
      ksub: Int = 16): DataFrame = {
    val cent = seedCentroids(corpus, nlist)
      .withColumn("cent_norm", norm(col("cent_emb")))
    val assigned = assignToCentroids(corpus, cent)
      .select(col("cent_id").as("list_id"), col("c_id"))
    val cb = pqCodebooks(corpus, m, dsub, ksub)
    val codes = pqEncode(corpus, cb, m, dsub)
    val q = queries.withColumn("q_norm", norm(col("q_emb")))
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("p_score").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("p_score",
        cosineWithNorms(col("q_emb"), col("cent_emb"), col("q_norm"), col("cent_norm")))
      .withColumn("p_rank", row_number().over(probeW))
      .filter(col("p_rank") <= nprobe)
      .select(col("q_id"), col("cent_id").as("list_id"))
    // per-query ADC table: |Q|·m·ksub rows, broadcast
    val table = cb.crossJoin(broadcast(queries))
      .select(col("q_id"), col("j"), col("i"),
        expr(s"slice(q_emb, (j-1)*$dsub+1, $dsub)").as("qsub"), col("cw"))
      .select(col("q_id"), col("j"), col("i"),
        floor(l2sq(col("qsub"), col("cw")) * lit(1e6)).cast("long").as("efx"))
    val cand = assigned.join(probes, Seq("list_id"))
      .select(col("q_id"), col("c_id"))
    val rankW = Window.partitionBy(col("q_id")).orderBy(col("adc_fx").asc, col("c_id"))
    val tableR = table.select(col("q_id").as("tq"), col("j").as("tj"),
      col("i").as("ti"), col("efx"))
    cand.join(codes, Seq("c_id"))
      .join(broadcast(tableR),
        col("q_id") === col("tq") && col("j") === col("tj") &&
          col("code") === col("ti"))
      .groupBy(col("q_id"), col("c_id")).agg(sum(col("efx")).as("adc_fx"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("adc_fx"), col("rank"))
  }

  def pqSearchAdc(
      queryEmb: DataFrame, // exactly one row: (q_emb: array<double>)
      codes: DataFrame, // (c_id, j, code) from pqEncode
      codebooks: DataFrame,
      m: Int,
      dsub: Int,
      k: Int): DataFrame = {
    val table = codebooks.crossJoin(broadcast(queryEmb))
      .select(col("j"), col("i"),
        expr(s"slice(q_emb, (j-1)*$dsub+1, $dsub)").as("qsub"), col("cw"))
      .select(col("j"), col("i"),
        floor(l2sq(col("qsub"), col("cw")) * lit(1e6)).cast("long").as("efx"))
    codes.as("cd")
      .join(broadcast(table).as("tb"),
        col("cd.j") === col("tb.j") && col("cd.code") === col("tb.i"))
      .groupBy(col("c_id")).agg(sum(col("efx")).as("adc_fx"))
      .orderBy(col("adc_fx").asc, col("c_id"))
      .limit(k)
      .select(col("c_id"), col("adc_fx"))
  }
}
