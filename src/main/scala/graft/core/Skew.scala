package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew guards for the pair self-joins whose key distribution is
  * Zipfian (stop-ish shingles, hub addresses, degenerate LSH buckets):
  * a hot key's rows all hash to ONE reducer, so a single task runs as
  * long as the whole stage.
  */
object Skew {

  /** Distinct over a candidate-PAIR list, pinned at real parallelism.
    * The pair list is BYTES-small (two ids per row) but every
    * surviving pair pays a CPU-dense verify downstream (a compiled
    * merge walk over shingle arrays, an exact-distance check), and
    * AQE's byte-based partition coalescing sees a few hundred KB of
    * shuffle output and folds the entire verify stage into ONE task —
    * a straggler by construction (guide §2.5: the coalesce targets
    * bytes and cannot see per-row CPU). An explicit repartition on the
    * pair key keeps the exchange COUNT identical — the dedup
    * aggregation reuses the partitioning (same keys, user-pinned
    * count, which AQE honors) — while the verify stage inherits
    * `defaultParallelism` tasks. At cluster scale the pair list is
    * byte-large and AQE would not have coalesced it; the pinned count
    * equals the cores the stage would get anyway.
    */
  def parallelPairDistinct(df: DataFrame, keys: Seq[String]): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(p, keys.map(col): _*).dropDuplicates()
  }

  /** Drop rows whose `keyCol` value occurs in more than `cap` rows —
    * the df-cap guard for inverted-index/LSH-bucket self-joins, where
    * one degenerate hot key (a stop-shingle, an empty-document LSH
    * bucket) contributes |key|² candidate pairs: a straggler task and
    * a candidate-volume explosion in one. `None` = no guard. The key
    * frequencies aggregate with map-side partials; the hot-key set is
    * tiny on any Zipfian distribution (a handful of keys above cap),
    * so AQE broadcasts the anti join at runtime — and when a
    * pathological input really does have |rows|/cap hot keys, the
    * fallback shuffle is on the same key the downstream pair join
    * shuffles on anyway.
    */
  def dropHotKeys(df: DataFrame, keyCol: String, cap: Option[Int]): DataFrame =
    cap match {
      case Some(c) =>
        val hot = df.groupBy(col(keyCol)).agg(count(lit(1)).as("df_"))
          .filter(col("df_") > c).select(col(keyCol))
        df.join(hot, Seq(keyCol), "left_anti")
      case None => df
    }

  /** Distinct (a < b) id pairs that share a band key — the candidate
    * generator of the banded near-dup operators (LSH band buckets,
    * bit-sketch pieces). `keyed` has one row per
    * (id, key) with any payload columns; each non-key column `c` comes
    * out as `c_a` and `c_b`. The key rows are capped with
    * [[dropHotKeys]] and not persisted: both sides of the self-join and
    * the hot-key count read them in this one plan.
    * `narrow` filters and projects the pair rows before the distinct,
    * so a pair test on payload columns need not carry them through it.
    *
    * SHUFFLE_HASH: neither side of the self-join fits a broadcast at
    * real scale. Plain distinct, NOT the pinned [[parallelPairDistinct]]:
    * banded candidates are bucket-co-residency-bounded (a small fraction
    * of a prefix join's volume), and pinning 32 partitions on them was
    * A/B-measured ~0.15-0.3 s SLOWER (scheduling overhead with no CPU
    * to spread) where the jaccard prefix path wins 1.3×+.
    */
  private[graft] def bandPairs(keyed: DataFrame, id: String, key: String,
      cap: Option[Int], narrow: DataFrame => DataFrame = identity): DataFrame = {
    val rows = dropHotKeys(keyed, key, cap)
    val carried = keyed.columns.filter(_ != key).toSeq
    narrow(rows.as("l")
      .join(rows.as("r").hint("shuffle_hash"), col(s"l.$key") === col(s"r.$key"))
      .filter(col(s"l.$id") < col(s"r.$id"))
      .select(carried.map(c => col(s"l.$c").as(s"${c}_a")) ++
        carried.map(c => col(s"r.$c").as(s"${c}_b")): _*))
      .distinct()
  }
}
