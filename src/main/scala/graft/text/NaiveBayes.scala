package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes trained IN the engine — the one-pass,
  * closed-form classifier a curation pipeline can afford to retrain per
  * corpus snapshot (the fastText-style quality/language filter slot).
  * Training is two aggregations (token×class counts, class totals);
  * there is no iterative driver loop, so the fit scales like any
  * grouped count.
  *
  * Scale shape: the model matrix is |vocab| × |classes| rows, keyed by
  * token — scoring joins it to per-doc distinct token counts ON TOKEN
  * (a vocab-keyed shuffle join; broadcastable when the vocab is small,
  * left to AQE), then aggregates per (doc, class). The class-count
  * explosion happens AFTER the (doc, token) groupBy, so the multiplied
  * row count is distinct-doc-tokens × |classes|, not corpus-tokens ×
  * |classes|.
  *
  * Determinism: all log-probabilities are floored to 1e-9 fixed-point
  * int64 at the leaf (counts are exact integers, the ln argument is one
  * double division) and summed in int64 — bit-identical across engines.
  */
object NaiveBayes {

  /** token log-likelihood matrix + class log-priors, both as plain
    * DataFrames so fit/score compose into one lazy plan.
    *
    * @param mat   (labelCol, token, lp) — add-1-smoothed
    *              floor(ln((c+1)/(classTokens+V))·1e9), DENSE over
    *              vocab × classes so unseen (token, class) pairs score
    *              the smoothing floor, not zero.
    * @param prior (labelCol, lprior) — floor(ln(classDocs/N)·1e9).
    */
  final case class Model(mat: DataFrame, prior: DataFrame, labelCol: String)

  def fit(docs: DataFrame, textCol: String, labelCol: String): Model = {
    val occ = docs.select(col(labelCol),
      explode(TextFunctions.tokens(col(textCol))).as("token"))

    // Everything token-shaped derives from the ONE corpus-tokenizing
    // aggregate `cnt`: vocab, vocab size, per-class token totals, and
    // the model matrix are rollups of its (observed |V|·|C|)-row
    // output.
    val cnt = occ.groupBy(col(labelCol), col("token")).agg(count(lit(1)).as("c"))
    val vocab = cnt.select(col("token")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val ntoks = cnt.groupBy(col(labelCol)).agg(sum(col("c")).as("ntok"))
    val ndocs = docs.groupBy(col(labelCol)).agg(count(lit(1)).as("ndocs"))
    val classes = ndocs.join(ntoks, labelCol)
    val total = ndocs.agg(sum(col("ndocs")).as("n"))

    // Dense vocab × classes grid: |V|·|C| rows, both factors broadcast-
    // small next to the corpus that produced them.
    val mat = broadcast(classes).crossJoin(vocab).crossJoin(broadcast(vsize))
      .join(cnt, Seq(labelCol, "token"), "left")
      .select(col(labelCol), col("token"),
        floor(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("ntok") + col("v"))) * lit(1e9)).cast("long").as("lp"))

    val prior = classes.crossJoin(broadcast(total))
      .select(col(labelCol),
        floor(log(col("ndocs").cast("double") / col("n")) * lit(1e9)).cast("long").as("lprior"))

    Model(mat, prior, labelCol)
  }

  /** Per-(doc, class) log-posterior: lprior + Σ_token count·lp.
    * Output: idCol, labelCol, score_fx (int64 1e-9 fixed-point).
    */
  def score(model: Model, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docTok = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("k"))

    docTok.join(model.mat, "token")
      .groupBy(col(idCol), col(model.labelCol))
      .agg(sum(col("k") * col("lp")).as("__s"))
      .join(broadcast(model.prior), model.labelCol)
      .select(col(idCol), col(model.labelCol),
        (col("__s") + col("lprior")).as("score_fx"))
  }

  /** Argmax class per doc (ties broken by ascending label), with the
    * winning score. Output: idCol, pred, score_fx.
    *
    * COMPLETE over the input: a doc with NULL text or no model-vocab
    * token produces no evidence rows, so it falls back to the prior
    * argmax instead of silently vanishing from the output (scoring a
    * fresh batch against an old model hits this constantly).
    */
  def predict(model: Model, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the id IS the prediction key: NULL-id rows would either
    // double-emit (scored + NULL-unsafe fallback) or half-emit — drop
    // them up front instead.
    val keyed = docs.filter(col(idCol).isNotNull)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_fx").desc, col(model.labelCol))
    val scored = score(model, keyed, idCol, textCol)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col(idCol), col(model.labelCol).as("pred"), col("score_fx"))
    val priorBest = model.prior
      .orderBy(col("lprior").desc, col(model.labelCol)).limit(1)
      .select(col(model.labelCol).as("__bpred"), col("lprior").as("__bscore"))
    // completeness via ONE left join + coalesce, not an anti-join
    // union: the anti-join's column-pruned right side canonicalizes
    // differently from the output branch, so Catalyst cannot reuse the
    // exchange and the whole scoring pipeline (model join included)
    // ran twice. Here the scored subtree is consumed once, already
    // hash-partitioned on the id by its own window.
    keyed.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .crossJoin(broadcast(priorBest))
      .select(col(idCol),
        coalesce(col("pred"), col("__bpred")).as("pred"),
        coalesce(col("score_fx"), col("__bscore")).as("score_fx"))
  }
}
