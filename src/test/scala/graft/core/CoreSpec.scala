package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Core helper semantics: FINAL dedup (ReplacingMergeTree model),
  * ANY join non-multiplication, range-predicate builder (cases from
  * /root/reference/tests/utils_tests.py:16-25).
  */
class CoreSpec extends SparkSpec {

  test("latestById keeps exactly one, latest row per id") {
    val s = spark
    import s.implicits._
    val log = Seq(
      ("a", 1L, "v1"), ("a", 2L, "v2"), ("a", 3L, "v3"),
      ("b", 1L, "x1"), ("c", 5L, "y5"))
      .toDF("id", "_seq", "payload")
    val got = Upsert.latestById(log, Seq("id"), Seq(col("_seq")))
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(2)))
    assert(got.toSeq === Seq(("a", "v3"), ("b", "x1"), ("c", "y5")))
  }

  test("latestById composite key (block_flag style (id,name))") {
    val s = spark
    import s.implicits._
    val log = Seq(
      ("1", "traces_extracted", 1L, 0),
      ("1", "traces_extracted", 2L, 1),
      ("1", "events_extracted", 1L, 1))
      .toDF("id", "name", "_seq", "value")
    val got = Upsert.latestById(log, Seq("id", "name"), Seq(col("_seq")))
    assert(got.count() === 2)
    assert(got.filter(col("name") === "traces_extracted")
      .head().getAs[Int]("value") === 1)
  }

  test("anyJoin never multiplies the left side") {
    val s = spark
    import s.implicits._
    val left = Seq(1, 2, 3).toDF("k")
    val right = Seq((1, "a"), (1, "b"), (1, "c"), (2, "z")).toDF("k", "v")
    val joined = Joins.anyJoin(left, right, Seq("k"), "left", Seq(col("v")))
    assert(joined.count() === left.count())
    val m = joined.collect().map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    assert(m === Map(1 -> Some("a"), 2 -> Some("z"), 3 -> None))
  }

  test("anyJoin inner keeps only matching left rows, once each") {
    val s = spark
    import s.implicits._
    val left = Seq(1, 1, 2, 3).toDF("k") // dup LEFT keys are preserved
    val right = Seq((1, "a"), (1, "b")).toDF("k", "v")
    val joined = Joins.anyJoin(left, right, Seq("k"), "inner", Seq(col("v")))
    assert(joined.collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      === Seq((1, "a"), (1, "a")))
  }

  test("rangesPredicate builds (a<=f<b) OR (f>=c) like make_range_query") {
    val s = spark
    import s.implicits._
    val df = (0L to 10L).toDF("f")
    val p1 = Ranges.rangesPredicate(col("f"), Seq((Some(1L), Some(3L))))
    assert(df.filter(p1).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    val p2 = Ranges.rangesPredicate(col("f"),
      Seq((Some(1L), Some(3L)), (Some(8L), None)))
    assert(df.filter(p2).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 8L, 9L, 10L))
    val p3 = Ranges.rangesPredicate(col("f"), Seq((None, Some(2L))))
    assert(df.filter(p3).count() === 2)
    val p4 = Ranges.rangesPredicate(col("f"), Seq((None, None)))
    assert(df.filter(p4).count() === 11)
  }

  test("dropHotKeys removes exactly the rows of keys above the cap") {
    val s = spark
    import s.implicits._
    val df = ((1 to 50).map(i => (i.toLong, "hot")) ++
      (51 to 60).map(i => (i.toLong, "warm")) ++
      (61 to 63).map(i => (i.toLong, s"cold$i"))).toDF("id", "k")
    val capped = Skew.dropHotKeys(df, "k", Some(10))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("k"))).toSet
    assert(capped.forall(_._2 != "hot"), "hot key survived the cap")
    assert(capped.count(_._2 == "warm") === 10, "at-cap key must be kept whole")
    assert(capped.count(_._2.startsWith("cold")) === 3)
    assert(Skew.dropHotKeys(df, "k", None).count() === 63L, "None must be a no-op")
  }

  test("bloomPrunedJoin equals the plain join; the prune filter sits on the left scan") {
    val s = spark
    import s.implicits._
    // parquet-backed (a local fixture would be folded by
    // ConvertToLocalRelation and hide the filter from the plan)
    val dir = scratch("bloomj")
    (1L to 2000L).map(i => (i % 500, s"l$i")).toDF("k", "lv")
      .write.parquet(s"$dir/left")
    (1L to 40L).map(i => (i * 7, s"r$i")).toDF("k", "rv")
      .write.parquet(s"$dir/right")
    val left = spark.read.parquet(s"$dir/left")
    val right = spark.read.parquet(s"$dir/right")
    val joined = Joins.bloomPrunedJoin(left, right, "k", expectedItems = 100L)
    val got = joined.orderBy("k", "lv", "rv").collect().toSeq
    val want = left.join(right, "k").orderBy("k", "lv", "rv").collect().toSeq
    assert(got === want, "no false negatives: bloom join must equal the plain join")
    assert(got.nonEmpty)
    // the membership filter must run over the LEFT SCAN, before any
    // join machinery — that map-side drop is the operator's point
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("UDF") || plan.contains("ScalaUDF"),
      s"bloom membership filter missing from the plan:\n$plan")
  }
}
