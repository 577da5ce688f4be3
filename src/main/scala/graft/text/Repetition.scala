package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions

/** Gopher-style repetition signals — the standard quality gate family
  * for removing boilerplate/spam documents before training (high
  * duplicate-n-gram mass is the strongest single indicator).
  *
  * Scale shape (100 TB): explode n-grams → two keyed aggregations
  * ((doc, gram) then doc), both with map-side partial aggregation —
  * the same bounded-key pattern as the shingle postings index, never
  * quadratic and never buffering a whole document group in one task.
  * The n-gram kernel is compiled (SketchOps.ngramsAll) so the explode
  * input stays inside whole-stage codegen.
  */
object Repetition {

  /** Per-document repetition statistics over word `n`-grams:
    *
    *  - `grams`          total n-gram occurrences (wc - n + 1; short
    *                     docs collapse to 1 whole-text gram);
    *  - `top_gram_frac`  occurrences of the most frequent n-gram ÷
    *                     total — the "top n-gram fraction" rule;
    *  - `dup_gram_frac`  occurrences belonging to any n-gram seen ≥2
    *                     times ÷ total — the "duplicate n-gram
    *                     fraction" rule.
    *
    * Fractions are truncated (not rounded) to 6 decimals — the same
    * engine-exact `floor(x·1e6)/1e6` trick as qualityScore.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(SketchFunctions.ngrams_all(col(textCol), n)).as("g"))
    val counts = grams.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * 1e6) / 1e6
    counts.groupBy(col(idCol)).agg(
      sum(col("c")).as("grams"),
      trunc6(max(col("c")).cast("double") / sum(col("c"))).as("top_gram_frac"),
      trunc6(sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).cast("double") /
        sum(col("c"))).as("dup_gram_frac"))
  }
}
