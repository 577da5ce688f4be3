package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Broadcast range-dictionary lookup: equality with the declared range
  * join, join-free plan, boundary semantics, and dictionary validation.
  */
class RangeDictJoinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val points = Seq[(Long, Option[Long])](
    (1L, Some(-50L)), (2L, Some(0L)), (3L, Some(9L)), (4L, Some(10L)),
    (5L, Some(99L)), (6L, Some(100L)), (7L, Some(5000L)), (8L, None))
    .toDF("pid", "p")

  private lazy val dims = Seq(
    (10L, -100L, 0L), (11L, 0L, 10L), (12L, 10L, 100L), (13L, 1000L, 2000L))
    .toDF("tid", "lo", "hi")

  test("lookup equals the declared range join, null points stay null") {
    val got = Joins.rangeDictJoin(points, "p", dims, "tid", "lo", "hi", "tid")
      .select(col("pid"), col("tid")).orderBy("pid")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    val want = points.join(dims, col("p") >= col("lo") && col("p") < col("hi"), "left")
      .select(col("pid"), col("tid")).orderBy("pid")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(got.toSeq === want.toSeq)
    // hand-checked boundaries: lo inclusive, hi exclusive; gaps and
    // out-of-range are null (-1 here)
    assert(got.toSeq === Seq((1L, 10L), (2L, 11L), (3L, 11L), (4L, 12L),
      (5L, 12L), (6L, -1L), (7L, -1L), (8L, -1L)))
  }

  test("the plan has no join operator and stays in whole-stage codegen") {
    // parquet-backed: a LocalRelation would be constant-folded away
    val root = scratch("rdict")
    points.write.parquet(s"$root/points")
    val pts = spark.read.parquet(s"$root/points")
    val q = Joins.rangeDictJoin(pts, "p", dims, "tid", "lo", "hi", "t")
      .filter(col("t").isNotNull)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"expected join-free plan:\n$plan")
    // `*(n)` is the whole-stage-codegen marker in the string form
    assert(plan.contains("*(1)"), s"expected codegen stages:\n$plan")
    assert(plan.contains("range_lookup"))
    assert(q.count() === 5L)
  }

  test("overlapping, empty, and null dictionaries are rejected") {
    val overlap = Seq((1L, 0L, 10L), (2L, 5L, 15L)).toDF("tid", "lo", "hi")
    val e1 = intercept[IllegalArgumentException] {
      Joins.rangeDictJoin(points, "p", overlap, "tid", "lo", "hi", "t")
    }
    assert(e1.getMessage.contains("overlapping"))
    val empty = Seq((1L, 10L, 10L)).toDF("tid", "lo", "hi")
    assert(intercept[IllegalArgumentException] {
      Joins.rangeDictJoin(points, "p", empty, "tid", "lo", "hi", "t")
    }.getMessage.contains("empty interval"))
    val withNull = Seq((Some(1L), Some(0L), None: Option[Long]))
      .toDF("tid", "lo", "hi")
    assert(intercept[IllegalArgumentException] {
      Joins.rangeDictJoin(points, "p", withNull, "tid", "lo", "hi", "t")
    }.getMessage.contains("non-null"))
  }

  test("maxRows bounds the driver-side collect loudly") {
    val big = spark.range(0, 100)
      .select(col("id").as("tid"), (col("id") * 10).as("lo"),
        (col("id") * 10 + 5).as("hi"))
    val e = intercept[IllegalArgumentException] {
      Joins.rangeDictJoin(points, "p", big, "tid", "lo", "hi", "t", maxRows = 10)
    }
    assert(e.getMessage.contains("maxRows"))
    // and at a sufficient budget the same dictionary works
    // p=0 → tier 0, p=10 → tier 1, p=100 → tier 10
    assert(Joins.rangeDictJoin(points, "p", big, "tid", "lo", "hi", "t")
      .filter(col("t").isNotNull).count() === 3L)
  }

  test("touching intervals are legal and pick the right side of the edge") {
    val touch = Seq((1L, 0L, 10L), (2L, 10L, 20L)).toDF("tid", "lo", "hi")
    val got = Joins.rangeDictJoin(
      Seq((1L, 10L)).toDF("pid", "p"), "p", touch, "tid", "lo", "hi", "t")
      .select(col("t")).collect()(0).getLong(0)
    assert(got === 2L)
  }
}
