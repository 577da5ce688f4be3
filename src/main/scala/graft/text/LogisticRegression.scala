package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope.persist

/** In-engine binary logistic regression over hashed bag-of-words
  * features — the trainable quality-classifier slot (the
  * fastText-style filter of DCLM/CCNet pipelines) beside the
  * generative [[NaiveBayes]]: fit a weight vector by full-batch
  * gradient descent where EVERY iteration is one Spark aggregation
  * over a persisted feature table, then score documents map-side.
  *
  * Feature map: token t hashes to one of `buckets` slots via the
  * engine-portable md5 key (`conv(substr(md5(t),1,15),16,10) % buckets`
  * — the same construction the hash-samplers use, so any SQL engine
  * reproduces it bit-for-bit); slot values are token FREQUENCIES
  * (count / doc length) plus a leading constant-1 bias slot.
  *
  * Engine-exact determinism (the DuckDB oracle replays training): every
  * quantization is a SCALED FLOOR — `floor(x·10^s + 0.5)` — never a
  * decimal `round()`. Both engines compute the same IEEE double for
  * x·10^s + 0.5 (products and sums of identical doubles are correctly
  * rounded everywhere), so the floor is bit-deterministic; decimal
  * round() is NOT (Spark rounds the shortest decimal rendering HALF_UP,
  * DuckDB rounds the binary value — they disagree near boundaries, and
  * one disagreeing gradient term in 500k shifted a weight enough to
  * flip one boundary document). The quantized terms are integer-valued
  * and sum EXACTLY in any order (≤2^53), so partitioning cannot perturb
  * training:
  *  - dot-product terms quantize at 1e-9 and sum as integers;
  *  - sigmoid outputs quantize at 1e-6 (absorbing last-ulp libm exp
  *    differences except the ~1e-10-probability integer-boundary case);
  *  - gradient contributions quantize at 1e-9 and sum as integers; the
  *    update w - lr·((g/1e9)/n) runs in scalar IEEE doubles in an order
  *    both engines repeat verbatim.
  *
  * Scale shape: featurization is one explode + two keyed aggregates;
  * each of the (fixed, small) `iters` gradient steps is one map-side-
  * partial aggregation producing `buckets`+1 rows collected to the
  * driver (the model is driver-resident, like [[NaiveBayes]]'s priors
  * — bounded by `buckets`, never by corpus size); scoring broadcasts
  * the weight vector as literals inside one map-only projection.
  */
object LogisticRegression {

  /** (doc_id, y, x) with x(0)=1.0 bias and x(k+1) = freq of hash
    * bucket k. Zero-token documents are excluded (no features).
    */
  private[text] def featurize(
      df: DataFrame, idCol: String, textCol: String,
      label: Column, buckets: Int): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"),
      label.cast("double").as("y"),
      explode(TextFunctions.tokens(col(textCol))).as("w"))
    val b = conv(substring(md5(col("w")), 1, 15), 16, 10)
      .cast("long") % buckets
    tok.select(col("doc_id"), col("y"), b.as("b"))
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).cast("double").as("c"))
      .groupBy(col("doc_id"), col("y"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"),
        sum(col("c")).as("n"))
      .filter(col("n") > 0)
      // explicit per-slot expressions, NOT transform(sequence(...)):
      // higher-order lambdas are interpreted (CodegenFallback) and this
      // projection is the hot map work of every fit/score — the
      // unrolled element_at chain is whole-stage-codegen with the
      // IDENTICAL per-element arithmetic (guide: eliminate non-codegen
      // expressions in the hot path)
      .select(col("doc_id"), col("y"),
        array(lit(1.0) +: (0 until buckets).map(k =>
          coalesce(element_at(col("m"), lit(k.toLong)), lit(0.0)) / col("n")): _*)
          .as("x"))
  }

  /** floor(c·1e9 + 0.5): the bit-deterministic 1e-9 quantizer (LONG). */
  private def q9(c: Column): Column = floor(c * lit(1e9) + lit(0.5))

  /** Order-free engine-exact dot product of the weight literals with
    * the feature array: per-term scaled-floor quantization, exact
    * integer accumulation — as ONE compiled kernel
    * ([[graft.functions.SketchOps.dotQ9]], bit-identical to the
    * `aggregate(zip_with(...))` HOF chain, asserted in TextSpec). The
    * HOF form was an interpreted lambda (CodegenFallback) evaluated
    * per row in every gradient step and every score; UNROLLING it into
    * 65 explicit `q9(w_k·x[k])` terms was A/B-measured in round 12 and
    * ran ~2× slower still (the giant expression tree falls out of the
    * efficient codegen paths) — the binary kernel avoids both the
    * interpretation and the tree.
    */
  private def sdot(w: Array[Double]): Column = {
    val wCol = array(w.map(lit): _*)
    graft.functions.SketchFunctions.array_dot_q9(wCol, col("x"))
      .cast("double") / lit(1e9)
  }

  private def sigmoid(w: Array[Double]): Column =
    floor(lit(1.0) / (lit(1.0) + exp(-sdot(w))) * lit(1e6) + lit(0.5))
      .cast("double") / lit(1e6)

  /** Fit by `iters` full-batch gradient steps from w = 0. Returns the
    * (buckets+1)-long weight vector, bias first. The feature table
    * persists across iterations and registers with
    * [[graft.core.CacheScope]].
    */
  def fit(
      df: DataFrame, idCol: String, textCol: String, label: Column,
      buckets: Int = 64, iters: Int = 5, lr: Double = 0.25): Array[Double] = {
    require(buckets >= 1 && iters >= 0 && lr > 0)
    // persisted: read by the row count and every iteration's gradient
    // collect
    fitOnFeatures(persist(featurize(df, idCol, textCol, label, buckets)),
      buckets, iters, lr)
  }

  private def fitOnFeatures(
      f: DataFrame, buckets: Int, iters: Int, lr: Double): Array[Double] = {
    val nDocs = f.count().toDouble
    require(nDocs > 0, "cannot fit on an empty (or all-empty-text) corpus")
    var w = Array.fill(buckets + 1)(0.0)
    for (_ <- 1 to iters) {
      // sigmoid once per ROW (a projection before the explode), the
      // per-term quantization as plain codegen arithmetic after it —
      // the previous transform(...) lambda was interpreted per row and
      // also re-embedded the sigmoid inside the element function
      val p = sigmoid(w)
      val g = f.select(p.as("__p"), col("y"), posexplode(col("x")).as(Seq("k", "v")))
        .select(col("k"), q9((col("__p") - col("y")) * col("v"))
          .cast("long").as("gv"))
        .groupBy(col("k")).agg(sum(col("gv")).as("g"))
        .collect().map(r => r.getInt(0) -> r.getLong(1).toDouble)
        .toMap
      w = Array.tabulate(buckets + 1)(k =>
        w(k) - lr * ((g.getOrElse(k, 0.0) / 1e9) / nDocs))
    }
    w
  }

  /** Score documents under a fitted weight vector: (doc_id, score)
    * with score = 6dp sigmoid(w·x) — one map-only projection over the
    * featurization, weights inlined as literals.
    */
  def score(
      df: DataFrame, idCol: String, textCol: String,
      w: Array[Double]): DataFrame = {
    val buckets = w.length - 1
    featurize(df, idCol, textCol, lit(0.0), buckets)
      .select(col("doc_id"), sigmoid(w).as("score"))
  }

  /** Fit on `label` and score the same corpus — the self-training
    * quality-filter pass (train on heuristic labels, keep by learned
    * score). Featurizes ONCE: training iterations and the scoring
    * projection read the same persisted feature table. Returns
    * (doc_id, score).
    */
  def fitScore(
      df: DataFrame, idCol: String, textCol: String, label: Column,
      buckets: Int = 64, iters: Int = 5, lr: Double = 0.25): DataFrame = {
    require(buckets >= 1 && iters >= 0 && lr > 0)
    // persisted: read by the row count, every gradient collect and the
    // scoring projection
    val f = persist(featurize(df, idCol, textCol, label, buckets))
    val w = fitOnFeatures(f, buckets, iters, lr)
    f.select(col("doc_id"), sigmoid(w).as("score"))
  }
}
