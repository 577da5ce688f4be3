package graft.plans

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The keyless range-join rewrite: same rows as the nested-loop plan,
  * equi-join plan shape, the derived width, orientation symmetry, the
  * scope guards, and the null/empty-interval edges.
  */
class IntervalJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    // parquet-backed: LocalRelations get folded and would hide plans
    val root = scratch("ivjoin")
    Seq[(Long, Option[Long])]((1L, Some(5L)), (2L, Some(10L)),
      (3L, Some(250L)), (4L, Some(999L)), (5L, Some(-7L)), (6L, None))
      .toDF("pid", "p").write.parquet(s"$root/points")
    Seq[(Long, Option[Long], Long)](
      (10L, Some(0L), 10L), (11L, Some(10L), 300L),
      (12L, Some(500L), 400L), // empty interval
      (13L, None, 100L), // null lo
      (14L, Some(-100L), 0L))
      .toDF("iid", "lo", "hi").write.parquet(s"$root/intervals")
    root
  }

  private def points = spark.read.parquet(s"$dir/points")
  private def intervals = spark.read.parquet(s"$dir/intervals")
  private def declared = points.join(intervals, col("p") >= col("lo") && col("p") < col("hi"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select(col("pid"), col("iid")).orderBy("pid", "iid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("keyless range join rewrites to a bucketed equi-join with identical rows") {
    val naive = withoutRule(IntervalJoinRewrite) {
      val q = declared
      assert(q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "baseline must be the nested-loop plan the rewrite exists to kill")
      rows(q)
    }
    val f = declared
    val fast = rows(f)
    val plan = f.queryExecution.executedPlan.toString
    assert(fast === naive, "rewrite must not change the result")
    assert(fast.nonEmpty)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join still plans as a nested loop:\n$plan")
    // the expected matches, hand-checked (incl. negative point in the
    // negative interval; null point/lo and the empty interval match nothing)
    assert(naive === Seq((1L, 10L), (2L, 11L), (3L, 11L), (5L, 14L)))
  }

  test("orientation symmetry: intervals JOIN points rewrites too") {
    val f = intervals.join(points, col("p") >= col("lo") && col("p") < col("hi"))
    assert(rows(f) === Seq((1L, 10L), (2L, 11L), (3L, 11L), (5L, 14L)))
    assert(!f.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("scope guards: keyed joins, non-sandwich conditions and outer joins are untouched") {
    // an extra equality conjunct means Spark already has an equi key
    val keyed = points.withColumn("k", col("pid") % 2)
      .join(intervals.withColumn("k", col("iid") % 2),
        Seq("k"))
    assert(!keyed.queryExecution.optimizedPlan.toString.contains("__graft_ib"))
    // ... also when it rides beside a full sandwich: a hot key takes
    // Ranges.intervalJoin(..., keys) explicitly
    val kp = points.withColumn("k", col("pid") % 2)
    val ki = intervals.withColumn("k", col("iid") % 2)
    val keyedSandwich = kp.join(ki,
      kp("k") === ki("k") && col("p") >= col("lo") && col("p") < col("hi"))
    assert(!keyedSandwich.queryExecution.optimizedPlan.toString.contains("__graft_ib"))
    // single inequality is not a sandwich
    val half = points.join(intervals, col("p") >= col("lo"))
    assert(!half.queryExecution.optimizedPlan.toString.contains("__graft_ib"))
    // left outer keeps its semantics (rule matches Inner only)
    val outer = points.join(intervals,
      col("p") >= col("lo") && col("p") < col("hi"), "left")
    assert(!outer.queryExecution.optimizedPlan.toString.contains("__graft_ib"))
    assert(outer.count() === 6L, "outer join rows unchanged")
  }

  test("auto mode derives the bucket from sampled interval widths — no width conf set") {
    val naive = withoutRule(IntervalJoinRewrite)(rows(declared))
    val f = declared
    val fast = rows(f)
    val plan = f.queryExecution.executedPlan.toString
    assert(fast === naive, "auto-derived bucket must not change rows")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"auto mode failed to rewrite:\n$plan")
    // fixture widths (hi>lo only): 10, 290, 100 → ungated p90 = 290,
    // max/1024 = 0 → bucket 290; the divisor is visible in the plan
    assert(plan.contains("div 290"), s"expected the sampled p90 width 290:\n$plan")
  }

  test("auto mode leaves the join alone when the interval side is empty") {
    val f = points.join(intervals.filter(col("iid") < 0L),
      col("p") >= col("lo") && col("p") < col("hi"))
    assert(rows(f).isEmpty)
    assert(!f.queryExecution.optimizedPlan.toString.contains("__graft_ib"),
      "no stats → no rewrite")
  }

  test("wide intervals fan out by width/bucket, correctness independent of bucket choice") {
    Seq(7L, 64L, 1000000L).foreach { b =>
      val f = GraftBridge.ofRows(spark,
        IntervalJoinRewrite.atWidth(declared.queryExecution.analyzed, b))
      assert(rows(f) === Seq((1L, 10L), (2L, 11L), (3L, 11L), (5L, 14L)),
        s"bucket=$b must not change rows")
      val plan = f.queryExecution.executedPlan.toString
      assert(plan.contains(s"div $b") && !plan.contains("BroadcastNestedLoopJoin"),
        s"expected the fixed width $b:\n$plan")
    }
  }
}
