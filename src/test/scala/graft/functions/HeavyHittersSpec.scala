package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Misra-Gries heavy-hitters aggregate: exact regime, error bound,
  * merge correctness across partitionings.
  */
class HeavyHittersSpec extends SparkSpec {

  private def summarize(df: org.apache.spark.sql.DataFrame, cap: Int): Seq[(String, Long)] =
    df.agg(AggregateFunctions.heavyHitters(col("tok"), cap).as("hh"))
      .select(explode(col("hh")).as("e"))
      .collect().map { r =>
        val e = r.getStruct(0)
        (e.getString(0), e.getLong(1))
      }.toSeq

  test("capacity >= |distinct| is the exact count table, sorted (c desc, token)") {
    val s = spark
    import s.implicits._
    val toks = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++ Seq("d"))
      .toDF("tok")
    val got = summarize(toks, cap = 10)
    assert(got === Seq(("a", 5L), ("b", 3L), ("c", 3L), ("d", 1L)))
  }

  test("result is partitioning-independent in the exact regime (merge correctness)") {
    val s = spark
    import s.implicits._
    val toks = (1 to 500).map(i => s"w${i % 17}").toDF("tok")
    val one = summarize(toks.repartition(1), cap = 32)
    val many = summarize(toks.repartition(13), cap = 32)
    assert(one === many)
    // and both equal the plain groupBy
    val exact = toks.groupBy(col("tok")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }.toSeq
    assert(one === exact)
  }

  test("undersized capacity keeps the true heavy hitter with bounded undercount") {
    val s = spark
    import s.implicits._
    // one dominant key (600 of 1000), noise spread over 40 keys
    val toks = (Seq.fill(600)("hot") ++ (0 until 400).map(i => s"n${i % 40}"))
      .toDF("tok").repartition(7)
    val got = summarize(toks, cap = 8)
    assert(got.size <= 8)
    val hot = got.toMap.get("hot")
    assert(hot.isDefined, "the majority key must survive any MG reduction")
    // undercount bound: true 600, error <= N/(cap+1) = 1000/9
    assert(hot.get <= 600L && hot.get >= 600L - (1000L / 9L) - 1L)
  }

  test("streams: the sketch aggregates across micro-batches in complete mode") {
    val s = spark
    import s.implicits._
    val root = scratch("hhstream")
    val in = s"$root/toks"
    (Seq.fill(3)("a") ++ Seq("b")).toDF("tok").coalesce(1)
      .write.mode("append").parquet(in)
    (Seq.fill(2)("a") ++ Seq.fill(4)("c")).toDF("tok").coalesce(1)
      .write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema("tok STRING").parquet(in)
      .agg(AggregateFunctions.heavyHitters(col("tok"), 8).as("hh"))
    val q = stream.writeStream
      .format("memory").queryName("hhmem").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql("SELECT hh FROM hhmem").head()
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got === Seq(("a", 5L), ("c", 4L), ("b", 1L)),
      "the typed buffer must serialize/merge across micro-batch state")
  }

  test("NULL inputs are skipped, empty input yields an empty summary") {
    val s = spark
    import s.implicits._
    val toks = Seq(Some("x"), None, Some("x"), None).toDF("tok")
    assert(summarize(toks, cap = 4) === Seq(("x", 2L)))
    assert(summarize(Seq.empty[String].toDF("tok"), cap = 4) === Seq.empty)
  }
}
