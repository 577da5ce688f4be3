package graft.streaming


import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.VersionLog
import graft.functions.{AggregateFunctions, KmvSketchAgg}

/** Standing per-day KMV state: batch-by-batch fold == one-shot recompute
  * sketch-for-sketch, rolling distinct from state == exact recompute,
  * replay idempotence, and the merge algebra itself.
  */
class SketchStateStreamsSpec extends SparkSpec {

  test("mergeMinima is exact distinct-union-take-k over unsigned order") {
    val h = (s: String) => KmvSketchAgg.hash64(s) ^ java.lang.Long.MIN_VALUE // original bits
    val a = Array("a", "b", "c").map(h).sortWith(java.lang.Long.compareUnsigned(_, _) < 0)
    val b = Array("b", "c", "d", "e").map(h).sortWith(java.lang.Long.compareUnsigned(_, _) < 0)
    val m = KmvSketchAgg.mergeMinima(a, b, 16)
    val want = Array("a", "b", "c", "d", "e").map(h)
      .sortWith(java.lang.Long.compareUnsigned(_, _) < 0)
    assert(m.toSeq == want.toSeq, "union of distinct hashes, unsigned-ascending")
    // capacity cut keeps the k smallest
    assert(KmvSketchAgg.mergeMinima(a, b, 3).toSeq == want.take(3).toSeq)
    // idempotent and commutative
    assert(KmvSketchAgg.mergeMinima(m, m, 16).toSeq == m.toSeq)
    assert(KmvSketchAgg.mergeMinima(b, a, 16).toSeq == m.toSeq)
  }

  test("streamed per-day state == batch recompute; rolling answer == exact; replays no-op") {
    val s = spark
    import s.implicits._
    val statePath = scratch("kmvstream") + "/state"
    val k = 64

    // two "days" of activity split across three micro-batches, users
    // deliberately recurring across batches and days
    val batches = Seq(
      Seq((1L, 0L), (2L, 0L), (3L, 1L)),
      Seq((2L, 0L), (4L, 1L), (1L, 1L)),
      Seq((5L, 2L), (1L, 2L), (3L, 2L))).map(_.toDF("user_id", "day"))
    def foldAll(): Unit = batches.zipWithIndex.foreach { case (b, i) =>
      SketchStateStreams.maintainBatch(b, i.toLong, "user_id", "day", k, statePath)
    }
    foldAll()

    // state == one-shot batch sketch of ALL history, sketch-for-sketch
    val st = VersionLog.committedState(spark, statePath).get
    val batch = batches.reduce(_ union _)
      .groupBy(col("day"))
      .agg(AggregateFunctions.kmvMinima(col("user_id"), k).as("sk"))
    assert(st.orderBy("day").collect().map(_.toString).toSeq ===
      batch.orderBy("day").collect().map(_.toString).toSeq,
      "batch-slicing must not be observable in the state")

    // rolling window FROM STATE == exact distinct recompute
    val got = SketchStateStreams.rollingDistinct(st, windowDays = 2, k)
      .orderBy("d").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exact: day0 {1,2}=2; day1 window {0,1}: {1,2,3,4}=4;
    // day2 window {1,2}: {1,3,4,5}=4
    assert(got === Seq((0L, 2L), (1L, 4L), (2L, 4L)))

    // replaying every batch id adds nothing (marker guard)
    val vBefore = VersionLog.committed(spark, statePath)
    foldAll()
    assert(VersionLog.committed(spark, statePath) === vBefore)
    // a replayed id carrying different rows is still a no-op
    SketchStateStreams.maintainBatch(
      Seq((99L, 0L)).toDF("user_id", "day"), 0L, "user_id", "day", k, statePath)
    assert(SketchStateStreams.rollingDistinct(
        VersionLog.committedState(spark, statePath).get, 2, k)
      .orderBy("d").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === got)

    // saturation trips the loud regime guard, not a silent undercount
    val tiny = scratch("kmvtiny")
    SketchStateStreams.maintainBatch(
      (1L to 40L).map(u => (u, 0L)).toDF("user_id", "day"),
      0L, "user_id", "day", 16, tiny)
    val ex = intercept[Exception] {
      SketchStateStreams.rollingDistinct(
        VersionLog.committedState(spark, tiny).get, 2, 16).collect()
    }
    assert(ex.getMessage.contains("exact-regime breach"))
  }
}
