package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VersionLog
import graft.functions.{AggregateFunctions, KmvSketchAgg}

/** Standing per-day KMV sketch state — the 24/7 form of q214's rolling
  * distinct (VERDICT r10 ask #4): instead of re-sketching every day
  * from raw events on each run, each micro-batch folds a DELTA sketch
  * per touched day into a persisted (day, sk) table, and any rolling
  * window is answered from the state alone. KMV minima merge
  * associatively and commutatively (distinct-union, keep k smallest —
  * [[KmvSketchAgg.mergeMinima]]), so
  * `sketch(A ∪ B) = merge(sketch(A), sketch(B))` EXACTLY, and a
  * streamed fold equals the batch recompute sketch-for-sketch
  * regardless of how history was sliced into batches
  * (spec: SketchStateStreamsSpec).
  *
  * Durability is [[VersionLog.markCommitted]]'s marker discipline:
  * versioned `v=batchId` state dirs ([[VersionLog.stateDir]]), commit
  * marker AFTER the write, readers take the highest committed version
  * ([[VersionLog.committedState]]), replayed batchIds no-op —
  * exactly-once across restarts and batch replays.
  *
  * Scale: state is days × k longs — at k = 65536 that is ~0.5 MB/day,
  * three orders below the (user, day) membership table the exact
  * rolling join would carry per frame at 100 TB; each batch costs one
  * delta-sized aggregation plus one state-sized merge join on `day`.
  */
object SketchStateStreams {

  /** Per-day delta sketch of a batch: `(day, sk)`. */
  def daySketchDelta(batch: DataFrame, userCol: String, dayCol: String,
      k: Int): DataFrame =
    batch.groupBy(col(dayCol).as("day"))
      .agg(AggregateFunctions.kmvMinima(col(userCol), k).as("sk"))

  /** Fold one micro-batch into the state (idempotent per batchId):
    * full-outer merge on `day`, sketch-union where both sides exist.
    */
  def maintainBatch(batch: DataFrame, batchId: Long,
      userCol: String, dayCol: String, k: Int, statePath: String): Unit = {
    val spark = batch.sparkSession
    if (VersionLog.isCommitted(spark, statePath, batchId)) return
    val delta = daySketchDelta(batch, userCol, dayCol, k)
    val mergeUdf = udf((a: Seq[Long], b: Seq[Long]) =>
      KmvSketchAgg.mergeMinima(
        Option(a).map(_.toArray).getOrElse(Array.empty),
        Option(b).map(_.toArray).getOrElse(Array.empty), k).toSeq)
    val merged = VersionLog.committedState(spark, statePath) match {
      case Some(st) =>
        st.select(col("day"), col("sk").as("sk_old"))
          .join(delta.select(col("day"), col("sk").as("sk_new")), Seq("day"), "full_outer")
          .select(col("day"),
            mergeUdf(col("sk_old"), col("sk_new")).as("sk"))
      case None => delta
    }
    merged.write.mode("overwrite").parquet(VersionLog.stateDir(statePath, batchId))
    VersionLog.markCommitted(spark, statePath, batchId)
  }

  /** Rolling distinct answered FROM THE STATE ALONE — q214's
    * frame-explode equi-join over (day, sk) rows, raw history never
    * touched. Exact while every day sketch stays under k (the same
    * regime tripwire as q214: a saturated day fails loudly).
    */
  def rollingDistinct(state: DataFrame, windowDays: Int, k: Int): DataFrame = {
    val frames = state.select(col("day").as("d"))
      .select(col("d"),
        explode(sequence(col("d") - lit((windowDays - 1).toLong), col("d"))).as("day"))
    frames.join(state, "day")
      .groupBy(col("d"))
      .agg(flatten(collect_list(col("sk"))).as("m"),
        max(size(col("sk"))).as("max_day_sk"))
      .select(col("d"),
        when(col("max_day_sk") >= lit(k),
          raise_error(lit(s"rolling-state exact-regime breach: a day " +
            s"sketch saturated at k=$k")).cast("long"))
          .otherwise(size(array_distinct(col("m"))).cast("long"))
          .as("active_7d"))
  }
}
