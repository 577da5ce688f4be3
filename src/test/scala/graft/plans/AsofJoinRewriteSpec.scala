package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The declared-ASOF rewrite: identical rows to the pair-join plan
  * (the rule excluded), a JOIN-FREE physical plan, strict/non-strict
  * lower bounds, NULL payload carry, and the scope guards.
  */
class AsofJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    // parquet-backed: LocalRelation fixtures constant-fold and hide plans
    val root = scratch("asofrw")
    // probes: (pid, k, t)
    Seq((1L, 1L, 100L), (2L, 1L, 250L), (3L, 2L, 100L), (4L, 3L, 500L),
      (5L, 1L, 100L) /* duplicate (k,t) under a distinct pid */)
      .toDF("pid", "k", "t").write.parquet(s"$root/probes")
    // quotes: (k, qt, v) — unique (k, qt); one NULL v at the winning ts
    Seq((1L, 90L, Some(9L)), (1L, 240L, None), (1L, 10L, Some(1L)),
      (2L, 100L, Some(7L)), (3L, 300L, Some(5L)))
      .toDF("k", "qt", "v").write.parquet(s"$root/quotes")
    root
  }

  private lazy val probes = spark.read.parquet(s"$dir/probes")
  private lazy val quotes = spark.read.parquet(s"$dir/quotes")

  /** The DECLARED shape: pair join + group-by + max_by. */
  private def declared(tol: Long, strictLower: Boolean = true) = {
    val lower =
      if (strictLower) col("qt") > col("t") - lit(tol)
      else col("qt") >= col("t") - lit(tol)
    probes.join(quotes,
        probes("k") === quotes("k") && col("qt") <= col("t") && lower)
      .groupBy(probes("pid"), probes("k"), probes("t"))
      .agg(max_by(col("v"), col("qt")).as("v"), max(col("qt")).as("qt"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("pid"), col("t"), col("qt"), col("v")).orderBy("pid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq

  test("armed: identical rows to the pair-join plan, and the physical plan is JOIN-FREE") {
    val baseline = withoutRule(AsofJoinRewrite) {
      val d = declared(tol = 50L)
      assert(d.queryExecution.executedPlan.toString.contains("Join"),
        "baseline must be the pair-join plan the rewrite replaces")
      rows(d)
    }
    val d = declared(tol = 50L)
    val got = rows(d)
    val plan = d.queryExecution.executedPlan.toString
    assert(got === baseline, "rewrite must not change rows")
    assert(!plan.contains("Join"),
      s"declared asof must plan without any join operator:\n$plan")
    assert(plan.contains("Window"), "expected the carry-forward window plan")
    // hand-checked: pid1/pid5 (k=1,t=100) → qt=90 v=9; pid2 (t=250,
    // tol=50) → qt=240 within (200,250], v NULL carried as NULL;
    // pid3 (k=2) → qt=100 inclusive upper; pid4 (k=3,t=500) nearest
    // qt=300 is outside (450,500] → dropped by the inner semantics.
    assert(baseline === Seq(
      (1L, 100L, 90L, Some(9L)), (2L, 250L, 240L, None),
      (3L, 100L, 100L, Some(7L)), (5L, 100L, 90L, Some(9L))))
  }

  test("strict vs non-strict lower bound at exactly t - tol") {
    // k=3: quote at 300, probe at 500, tol=200 → boundary qt == t - tol
    val strictRows = rows(declared(tol = 200L, strictLower = true))
    val inclRows = rows(declared(tol = 200L, strictLower = false))
    assert(!strictRows.exists(_._1 == 4L), "strict bound excludes the boundary quote")
    assert(inclRows.exists(r => r._1 == 4L && r._3 == 300L),
      "non-strict bound includes the boundary quote")
    // both agree with their unrewritten selves
    withoutRule(AsofJoinRewrite) {
      assert(strictRows === rows(declared(200L, strictLower = true)))
      assert(inclRows === rows(declared(200L, strictLower = false)))
    }
  }

  test("coarser grouping than a probe row still matches the pair-join winner") {
    val d = () => probes.join(quotes,
        probes("k") === quotes("k") && col("qt") <= col("t") &&
          col("qt") > col("t") - lit(50L))
      .groupBy(probes("k"))
      .agg(max_by(col("v"), col("qt")).as("v"), max(col("qt")).as("qt"))
    val baseline = withoutRule(AsofJoinRewrite)(
      d().orderBy("k").collect().map(_.toSeq).toSeq)
    val x = d()
    val got = x.orderBy("k").collect().map(_.toSeq).toSeq
    val plan = x.queryExecution.executedPlan.toString
    assert(got === baseline)
    assert(!plan.contains("Join"), s"coarse grouping must still rewrite:\n$plan")
  }

  test("guards: count(*) aggregates, outer joins and keyless sandwiches stay untouched") {
    // count(*) counts PAIRS — the carry plan can't reproduce it
    val counted = probes.join(quotes,
        probes("k") === quotes("k") && col("qt") <= col("t") &&
          col("qt") > col("t") - lit(50L))
      .groupBy(probes("pid")).agg(count(lit(1)).as("n"))
    assert(counted.queryExecution.optimizedPlan.toString.contains("Join"),
      "pair-count must keep the join")
    assert(counted.orderBy("pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L)))
    // outer join: rule matches Inner only
    val outer = probes.join(quotes,
        probes("k") === quotes("k") && col("qt") <= col("t") &&
          col("qt") > col("t") - lit(50L), "left")
      .groupBy(probes("pid"))
      .agg(max_by(col("v"), col("qt")).as("v"))
    assert(outer.queryExecution.optimizedPlan.toString.contains("Join"))
    // keyless: no equi conjunct → global-sort territory, out of scope
    val keyless = probes.join(quotes,
        col("qt") <= col("t") && col("qt") > col("t") - lit(50L))
      .groupBy(probes("pid"))
      .agg(max_by(col("v"), col("qt")).as("v"))
    assert(keyless.queryExecution.optimizedPlan.toString.contains("Join"))
  }
}
