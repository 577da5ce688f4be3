package graft.streaming


import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.core.IncrementalAgg

class AggStreamsSpec extends SparkSpec {

  test("streamed state equals a batch recompute; replays are idempotent") {
    val s = spark
    import s.implicits._
    val root = scratch("aggstream")
    val in = s"$root/events"
    val statePath = s"$root/state"

    Seq(("a", 1.25), ("a", 2.50), ("b", 10.00))
      .toDF("grp", "v").coalesce(1).write.mode("append").parquet(in)
    Seq(("a", 0.25), ("c", -1.75))
      .toDF("grp", "v").coalesce(1).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("grp string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = AggStreams.maintain(stream, Seq("grp"), col("v"), statePath)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()

    val st = AggStreams.currentState(spark, statePath).get
    val full = IncrementalAgg.partials(
      spark.read.parquet(in), Seq("grp"), col("v"))
    assert(st.orderBy("grp").collect().toSeq ===
      full.orderBy("grp").collect().toSeq)

    // finalize derives the serving view
    val fin = IncrementalAgg.finalizeAgg(st)
      .orderBy("grp").collect()
    assert(fin.map(_.getAs[Double]("total")).toSeq === Seq(4.0, 10.0, -1.75))

    // a fresh AvailableNow pass over the same files adds nothing
    val vBefore = AggStreams.currentVersion(spark, statePath).get
    runOnce()
    assert(AggStreams.currentVersion(spark, statePath).get === vBefore)
    assert(AggStreams.currentState(spark, statePath).get
      .orderBy("grp").collect().toSeq === full.orderBy("grp").collect().toSeq)

    // direct replay of an old batchId is a no-op (marker guard)
    AggStreams.maintainBatch(
      Seq(("a", 99.0)).toDF("grp", "v"), 0L, Seq("grp"), col("v"), statePath)
    assert(AggStreams.currentState(spark, statePath).get
      .orderBy("grp").collect().toSeq === full.orderBy("grp").collect().toSeq)
  }
}
