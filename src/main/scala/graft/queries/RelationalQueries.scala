package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.{CacheScope, Funnels, Joins, Ranges, Sessions, Upsert}
import graft.functions.GraftFunctions

/** Plane-A relational operators (SURVEY §2.A) expressed over the
  * driver's TPC-H-ish tables, each with a DuckDB oracle.
  *
  * Determinism rules used throughout (the driver hash-compares against
  * DuckDB):
  *  - every result has a total ORDER BY;
  *  - double sums over many rows go through DECIMAL(18,2) so the result
  *    is order-independent and engine-exact, then back to DOUBLE;
  *  - integral-valued doubles (l_quantity) sum exactly as doubles;
  *  - ties in top-k are broken by a unique key.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact, order-independent sum of a 2-decimal double column. */
  private def moneySum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A15 hash aggregate: sum/avg/count, grouped. (TPC-H Q1 shape.)
    "q01_agg_groupby" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // A1/A5/A6 scan + projection + OR-of-ranges predicate + LIKE.
    "q02_filter_ranges" -> ((s, dir) => {
      val pred = Ranges.rangesPredicate(
        col("o_orderkey"),
        Seq((Some(1000L), Some(20000L)), (Some(50000L), None)))
      t(s, dir, "orders")
        .filter(pred && col("o_orderpriority").like("1-%"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // A8 IN-subquery as LEFT SEMI join.
    "q03_semi_join" -> ((s, dir) => {
      val bld = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      t(s, dir, "orders")
        .join(bld, Seq("o_custkey"), "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // A9 NOT-IN as LEFT ANTI join (the reference's unprocessed-work idiom):
    // customers with no completed ('F') order.
    "q04_anti_join" -> ((s, dir) => {
      val custWithF = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey"))
      t(s, dir, "customer")
        .join(custWithF, Seq("c_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    // A10 ANY LEFT JOIN: attach at most one lineitem per order
    // (first by l_linenumber), never multiplying the left side.
    "q05_any_left_join" -> ((s, dir) => {
      val right = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
          col("l_linenumber"), col("l_quantity"))
      Joins.anyJoin(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
        right, Seq("o_orderkey"), "left",
        // (l_orderkey, l_linenumber) is NOT unique in this data — the
        // full tuple is, so the tiebreak must include all columns for a
        // deterministic ANY-join pick.
        tiebreak = Seq(col("l_linenumber"), col("l_partkey"), col("l_quantity")))
        .select(col("o_orderkey"), col("o_orderstatus"), col("l_linenumber"),
          col("l_quantity"), col("l_partkey"))
        .orderBy(col("o_orderkey"))
    }),

    // A21 top-k with deterministic tiebreak.
    "q06_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    // A19/A20 UNION ALL + DISTINCT (the balances address-universe idiom).
    "q07_union_distinct" -> ((s, dir) => {
      val a = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val b = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val c = t(s, dir, "supplier").select(col("s_suppkey").as("k"))
      a.unionByName(b).unionByName(c).distinct().orderBy(col("k"))
    }),

    // A16 grouped count-distinct + A18 computed grouping key.
    "q08_count_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy((floor(col("user_id") / 100) * 100).cast("long").as("user_bucket"))
        .agg(
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))
        .orderBy(col("user_bucket"))
    }),

    // A17 exact quantiles + group-by (the gas-price-estimation shape:
    // quantile(0.2/0.5)(gasPrice) GROUP BY block bucket).
    "q09_quantiles" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          percentile(col("value"), lit(0.2)).as("q20"),
          percentile(col("value"), lit(0.5)).as("q50"),
          percentile(col("value"), lit(0.9)).as("q90"))
        .orderBy(col("event_type"))
    }),

    // A2 FINAL dedup-on-read: events as an upsert log keyed by user_id,
    // latest version wins (version = ts then event_id).
    "q10_dedup_final" -> ((s, dir) => {
      Upsert.latestById(
        t(s, dir, "events"), Seq("user_id"),
        Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    // A13 flag anti-join idiom: work items (users with purchases) minus
    // already-flagged ones (users with signups).
    "q11_flag_antijoin" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val work = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      val flagged = ev.filter(col("event_type") === "signup" && col("value") > 250)
        .select(col("user_id"))
      work.join(flagged, Seq("user_id"), "left_anti").orderBy(col("user_id"))
    }),

    // A12 multi-key join: each event vs its (user_id, event_type) mean.
    "q12_multikey_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val stats = ev.groupBy(col("user_id"), col("event_type"))
        .agg((sum(col("value").cast("decimal(18,2)")) / count(lit(1)))
          .cast("double").as("avg_v"))
      ev.join(stats, Seq("user_id", "event_type"))
        .filter(col("value") > col("avg_v"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_above"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // B10 trailing moving average (token_prices shape): 5-row window,
    // emitting the raw value until the window fills
    // (/root/reference/operations/token_prices.py:79-102).
    "q13_moving_avg" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ma5 = avg(col("value")).over(byUser.rowsBetween(-4, 0))
      val rn = row_number().over(byUser)
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("value"),
          round(when(rn >= 5, ma5).otherwise(col("value")), 6).as("ma5"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // A22/A28 time-series: daily grouping + ORDER BY date.
    "q14_daily_series" -> ((s, dir) => {
      // day kept as 'yyyy-MM-dd' STRING: parquet date32 vs DuckDB DATE
      // dtype-compare unreliably across readers.
      t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_v"))
        .orderBy(col("day"))
    }),

    // A24 string scalars: substring (1-based), concat, length, lower.
    "q15_string_scalars" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          substring(col("text"), 1, 12).as("prefix"),
          length(col("text")).as("len"),
          lower(col("source")).as("src"),
          concat(lit("0x"), col("lang")).as("tagged"))
        .orderBy(col("doc_id"))
    }),

    // A25/A26/A27 hex kernel end-to-end: synthesize a 32-byte word from
    // o_orderkey, decode with uint256_lo128 under COALESCE(decimals,18),
    // and round-trip the low-64 bits through hex_be_to_long.
    "q16_uint256_decode" -> ((s, dir) => {
      val decRaw = when(col("o_orderkey") % 5 === 0, lit(null))
        .otherwise((col("o_orderkey") % 4).cast("int"))
      val word = concat(lit("0x"), lpad(lower(hex(col("o_orderkey"))), 64, "0"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(
          col("o_orderkey"),
          GraftFunctions.uint256_lo128(word, coalesce(decRaw, lit(18))).as("decoded"),
          GraftFunctions.hex_be_to_long(
            lpad(lower(hex(col("o_orderkey"))), 16, "0")).as("roundtrip"))
        .orderBy(col("o_orderkey"))
    }),

    // A23/B21 flagship: the balances formula. Five role-aggregates over
    // one scan (conditional aggregation — the Spark-first shape for the
    // reference's five separate SQL requests,
    // /root/reference/examples/balances_api/actions/balances.py:3-83),
    // clamped at zero: max(income - outcome + reward - fee + fee_reward, 0).
    "q17_balances" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def role(tpe: String) =
        sum(when(col("event_type") === tpe, col("value").cast("decimal(18,2)"))
          .otherwise(lit(null))).cast("double")
      ev.groupBy(col("user_id"))
        .agg(
          coalesce(role("purchase"), lit(0.0)).as("income"),
          coalesce(role("click"), lit(0.0)).as("outcome"),
          coalesce(role("signup"), lit(0.0)).as("reward"),
          coalesce(role("error"), lit(0.0)).as("fee"),
          coalesce(role("view"), lit(0.0)).as("fee_reward"))
        .select(
          col("user_id"),
          greatest(lit(0.0),
            col("income") - col("outcome") + col("reward")
              - col("fee") + col("fee_reward")).as("balance"))
        .orderBy(col("user_id"))
    }),

    // Gap-based sessionization (30-min gap) over the per-user event
    // timeline: lag + running-sum windows sharing ONE exchange, then a
    // per-session rollup. Clock is exact integer micros on both
    // engines.
    "q82_sessionize" -> ((s, dir) => {
      Sessions.sessionStats(
        t(s, dir, "events"),
        keys = Seq("user_id"),
        ts = unix_micros(col("ts")),
        order = Seq(col("event_id")),
        gap = 1800L * 1000000L,
        value = col("value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // AS-OF LEFT JOIN: each purchase attributed to the latest click by
    // the same user at or before it — the union + carry-forward-window
    // form (one shuffle, no range join). Oracle is DuckDB's native
    // ASOF LEFT JOIN over a (user, ts)-deduped click side.
    "q84_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("t_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("t_us"), col("value").as("click_value"))
      Joins.asofJoin(
        purchases, clicks,
        keys = Seq("user_id"), tsCol = "t_us",
        tiebreak = Seq(col("click_value")),
        rightTsAs = "click_t_us")
        .orderBy(col("event_id"))
    }),

    // AS-OF LEFT JOIN with tolerance (pandas merge_asof(tolerance),
    // kdb window join): q84's attribution but a click older than one
    // day does NOT count — the stale match is nulled as if absent.
    // Same one-shuffle carry plan plus a map-side staleness test;
    // oracle = DuckDB native ASOF + the identical CASE.
    "q204_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("t_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("t_us"), col("value").as("click_value"))
      Joins.asofJoinTolerance(
        purchases, clicks,
        keys = Seq("user_id"), tsCol = "t_us",
        tolerance = 86400L * 1000000L,
        tiebreak = Seq(col("click_value")),
        rightTsAs = "click_t_us")
        .orderBy(col("event_id"))
    }),

    // Column profiling (the ANALYZE/dataset-quality report): per-field
    // rows/nulls/exact-distinct/min/max from ONE scan — the multi
    // count-distincts fuse through Expand, never k re-reads. min/max
    // stringify AFTER the typed aggregate so numeric order holds.
    "q205_column_profile" -> ((s, dir) => {
      graft.core.Profile.columnProfile(
        t(s, dir, "events"),
        Seq(
          "user_id" -> col("user_id"),
          "event_type" -> col("event_type"),
          "event_type_nonclick" -> expr("nullif(event_type, 'click')"),
          "value_c" -> col("value").cast("decimal(18,2)"),
          "t_us" -> unix_micros(col("ts"))))
        .orderBy(col("column"))
    }),

    // Bloom-pruned join (sideways information passing): the urgent
    // orders' key set rides to the lineitem side as a broadcast Bloom
    // filter, dropping non-matching fact rows map-side BEFORE the
    // shuffle. No false negatives → result EXACTLY the plain join
    // (the oracle); fpp only tunes leftover shuffle volume.
    "q207_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      Joins.bloomPrunedJoin(li, urgent, "l_orderkey",
        expectedItems = 100000L, fpp = 0.01)
        .groupBy(col("o_custkey"))
        .agg(moneySum(col("l_quantity")).as("qty"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_custkey"))
    }),

    // Interval coalescing (gaps-and-islands coverage): each event
    // opens a 30-minute activity lease; overlapping-or-touching leases
    // merge into one span per user. ONE (user, start) sort carries
    // both windows; no self-join.
    "q208_interval_merge" -> ((s, dir) => {
      val leases = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("lo"))
        .withColumn("hi", col("lo") + lit(1800L * 1000000L))
      graft.core.Ranges.coalesceIntervals(leases, Seq("user_id"), "lo", "hi")
        .orderBy(col("user_id"), col("span_start"))
    }),

    // Linear multi-touch attribution: each purchase's value splits
    // equally (integer cents, floor division — deterministic, never
    // over-credits) across the same user's clicks in the preceding
    // 7 days. The click∈[purchase-7d, purchase] containment runs
    // through the bucketed interval join (a plain hash join on
    // (user, bucket) + residual — never the BroadcastNestedLoop a raw
    // range condition plans as); one purchase-keyed count completes
    // the split.
    "q211_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("t_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          (col("t_us") - lit(7L * 86400L * 1000000L)).as("lo"),
          (col("t_us") + lit(1L)).as("hi"), // half-open: include tc == tp
          round(col("value") * lit(100.0)).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("t_us").as("tc"))
      graft.core.Ranges.intervalJoin(
          clicks, "tc", purchases, "lo", "hi",
          bucket = 86400L * 1000000L, keys = Seq("user_id"))
        .groupBy(col("event_id"), col("user_id"), col("cents"))
        .agg(count(lit(1)).as("n_touches"))
        .select(col("event_id"), col("user_id"), col("n_touches"),
          expr("cents div n_touches").as("credit_cents"))
        .orderBy(col("event_id"))
    }),

    // The OPTIMIZER-RULE path for range joins: the query DECLARES the
    // natural keyless containment (t >= lo AND t < hi against a day
    // spine) — the shape Catalyst would plan as a BroadcastNestedLoop
    // — and graft.plans.IntervalJoinRewrite rewrites it into the
    // bucketed equi-join q88/q211 hand-build, at a width it derives
    // from the spine's interval widths (md5-gated sample, p90). Same
    // rows either way (rule-excluded equality is spec-asserted); the
    // oracle replays the declared semantics directly.
    "q213_range_rule" -> ((s, dir) => {
      graft.plans.IntervalJoinRewrite.install(s)
      val day = 86400L * 1000000L
      val ev = t(s, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"))
      val bounds = ev.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
      val spine = bounds.select(col("t0"),
          explode(sequence(lit(0L), expr(s"(t1 - t0) div ${day}L"))).as("d"))
        .select(col("d"),
          (col("t0") + col("d") * lit(day)).as("lo"),
          (col("t0") + (col("d") + lit(1L)) * lit(day)).as("hi"))
      ev.join(spine, col("t_us") >= col("lo") && col("t_us") < col("hi"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("d"))
    }),

    // The OPTIMIZER-RULE path for AS-OF joins: the query DECLARES the
    // natural pair semantics — join every purchase to every click in
    // its 7-day lookback window, keep the latest per purchase via
    // max_by — the shape Catalyst executes by materializing EVERY
    // in-window (purchase, click) pair through the join (per-key
    // cartesian on hot users). graft.plans.AsofJoinRewrite rewrites
    // it into the q84/q204 carry-forward window plan: one shuffle per
    // side, NO join in the physical plan. Rows identical either way
    // (spec-asserted); the oracle is DuckDB's NATIVE ASOF JOIN plus the
    // same staleness cut.
    "q216_declared_asof" -> ((s, dir) => {
      graft.plans.AsofJoinRewrite.install(s)
      val tol = 7L * 86400L * 1000000L
      val ev = t(s, dir, "events").withColumn("t_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("t_us").as("ct"),
          round(col("value") * lit(100.0)).cast("long").as("cents"))
        .groupBy(col("cu"), col("ct"))
        .agg(max(col("cents")).as("cents")) // unique (user, ts): ties resolved
      purchases.join(clicks,
          col("user_id") === col("cu") &&
            col("ct") <= col("t_us") &&
            col("ct") > col("t_us") - lit(tol))
        .groupBy(col("event_id"), col("user_id"), col("t_us"))
        .agg(max_by(col("cents"), col("ct")).as("click_cents"),
          max(col("ct")).as("click_t_us"))
        .orderBy(col("event_id"))
    }),

    // The KEYED lookback join: the query DECLARES the dominant real
    // shape — user key equality + time sandwich (clicks inside each
    // purchase's 3-day lookback). Catalyst plans it as an equi-join on
    // user_id with the range as a residual — fine when users are
    // selective, a per-key cartesian when one user is hot; a hot key
    // takes Ranges.intervalJoin(..., keys), which adds the time bucket
    // as a second hash key (q88, q211). The oracle replays the
    // declared join.
    "q223_keyed_range_rule" -> ((s, dir) => {
      val look = 3L * 86400L * 1000000L
      val ev = t(s, dir, "events").withColumn("t_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("pu"),
          (col("t_us") - lit(look)).as("lo"), col("t_us").as("hi"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("t_us"))
      clicks.join(purchases,
          col("user_id") === col("pu") &&
            col("t_us") >= col("lo") && col("t_us") < col("hi"))
        .groupBy(col("p_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy(col("p_id"))
    }),

    // Ordered funnel signup → click → purchase: chained running-min
    // windows over ONE (user, time) sort — no per-stage self-joins.
    "q86_funnel" -> ((s, dir) => {
      Funnels.stageTimes(
        t(s, dir, "events"),
        keys = Seq("user_id"),
        ts = unix_micros(col("ts")),
        order = Seq(col("event_id")),
        typeCol = col("event_type"),
        stages = Seq("signup", "click", "purchase"))
        .orderBy(col("user_id"))
    }),

    // Retention cohorts: first-seen day × day-offset distinct-user
    // matrix; the cohort join reuses the first agg's user partitioning.
    "q87_retention" -> ((s, dir) => {
      Funnels.retentionMatrix(t(s, dir, "events"), "user_id", col("ts"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // Bucketized interval join: events attributed to the 1-hour window
    // after each signup — a hash join on (user, 15-min bucket) with a
    // residual range filter, never a nested-loop range join.
    "q88_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("t_us", unix_micros(col("ts")))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"),
          col("t_us").as("lo"), (col("t_us") + lit(3600000000L)).as("hi"))
      val points = ev.select(col("user_id"), col("t_us"))
      Ranges.intervalJoin(points, "t_us", windows, "lo", "hi",
        bucket = 900000000L, keys = Seq("user_id"))
        .groupBy(col("signup_id"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("signup_id"))
    }),

    // ROLLUP subtotals: one aggregate producing detail + per-flag +
    // grand-total rows (Spark's Expand feeds one hash aggregate — no
    // N-pass union of separate GROUP BYs). Rolled-up keys surface as
    // 'ALL' so both engines hash identical values.
    "q89_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("gid"), col("sum_price"), col("n"))
        .orderBy(col("gid"), col("flag"), col("status"))
    }),

    // INTERSECT / EXCEPT set operators: year-over-year customer
    // retention and churn — the cohort set algebra a dashboard asks
    // for. Spark plans both as aggregated joins on the key (never a
    // full-row sort); one labeled union carries the two answers.
    "q197_set_ops" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      def custs(y: Int) = orders
        .filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey"))
      custs(1995).intersect(custs(1996))
        .select(col("o_custkey"), lit("retained").as("status"))
        .unionByName(custs(1995).except(custs(1996))
          .select(col("o_custkey"), lit("churned").as("status")))
        .orderBy(col("status"), col("o_custkey"))
    }),

    // CUBE grouping sets: all four (flag × status) marginals in ONE
    // Expand-fed hash aggregate — detail, both one-way subtotals, and
    // the grand total (q89's rollup produces only the prefix chain).
    "q198_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("gid"), col("sum_price"), col("n"))
        .orderBy(col("gid"), col("flag"), col("status"))
    }),

    // ntile decile bucketing of users by exact DECIMAL spend; the
    // total (spend desc, user) order makes bucket edges deterministic.
    // Partition-parallel: GlobalRanks replaces the single-task
    // Window.orderBy plan (exact same tiles, computed from exact
    // global ranks over range-bucketed parallel sorts).
    "q90_ntile" -> ((s, dir) => {
      val spend = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(moneySum(col("value")).as("spend"))
      graft.core.GlobalRanks.ntileExact(spend, 10, col("spend"),
        descending = true, tieBreak = Seq(col("user_id")), out = "decile")
        .orderBy(col("user_id"))
    }),

    // PIVOT: day × event_type spend matrix. Explicit value list keeps
    // it one pass (no distinct-collect pre-query) and pins the schema.
    "q91_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(moneySum(col("value")))
        .orderBy(col("day"))
    }),

    // Correlation from integer-exact moments: corr(value, hour) per
    // event_type over CENTS (value·100), moments summed as
    // DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so no sum or product
    // can wrap int64 — Spark's non-ANSI long arithmetic wraps
    // SILENTLY where DuckDB errors, so staying in int64 would let the
    // engines diverge at scale. Each exact moment then converts to
    // double ONCE and the single final double expression is
    // bit-identical — no dependence on either engine's streaming-
    // covariance accumulator. Conversion caveat: the two engines'
    // big-int→double casts are both exact single roundings while a
    // moment fits int64 (~9e18, i.e. ~1e6 rows of 1e6-cent values per
    // group); above that DuckDB's HUGEINT→double composes two
    // roundings and can differ in the last ulp — fixed-point compare
    // beyond that scale needs a decimal-string oracle instead.
    "q94_corr" -> ((s, dir) => {
      val xc = round(col("value") * lit(100.0)).cast("long")
      val xd = xc.cast("decimal(38,0)")
      val y = hour(col("ts")).cast("long")
      val yd = y.cast("decimal(38,0)")
      def m(c: org.apache.spark.sql.Column) = sum(c).cast("double")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          m(xd).as("sx"), m(yd).as("sy"),
          m(xd * xd).as("sxx"), m(yd * yd).as("syy"),
          m(xd * yd).as("sxy"))
        .select(col("event_type"), col("n"),
          (floor(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))) * lit(1e6)) / lit(1e6))
            .as("corr_vh"))
        .orderBy(col("event_type"))
    }),

    // Semi-structured JSON: typed extraction from the props column via
    // from_json (schema projection — the codegen'd, scale path; a JSON
    // string survives the scan but only the projected field is kept)
    // then plain integer aggregation.
    "q96_json" -> ((s, dir) => {
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          count(when(col("k") > 50, 1)).as("n_high"))
        .orderBy(col("event_type"))
    }),

    // Fixed-width histogram: integer bucket arithmetic end-to-end.
    "q95_histogram" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / lit(10.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // Winsorized mean from EXACT discrete percentiles: rank per type
    // (one exchange+sort), pick the p05/p95 order statistics (ties
    // broken by id — deterministic), broadcast the 5-row bounds back,
    // clamp, DECIMAL-exact mean. The full per-type sort is the exact
    // form; approx_percentile (q09/q34) is the documented 100 TB path.
    "q98_winsorize" -> ((s, dir) => {
      val byVal = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val n = Window.partitionBy(col("event_type"))
      val ranked = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(byVal))
        .withColumn("n", count(lit(1)).over(n))
      val bounds = ranked
        .groupBy(col("event_type"))
        .agg(
          max(when(col("rk") === greatest(lit(1L), ceil(lit(0.05) * col("n"))),
            col("value"))).as("lo"),
          max(when(col("rk") === least(col("n"), ceil(lit(0.95) * col("n"))),
            col("value"))).as("hi"))
      t(s, dir, "events")
        .join(broadcast(bounds), "event_type")
        .groupBy(col("event_type"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          (floor(sum(least(greatest(col("value"), col("lo")), col("hi"))
            .cast("decimal(18,2)")).cast("double") / count(lit(1)) * lit(1e6)) / lit(1e6))
            .as("wmean"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"), col("wmean"))
        .orderBy(col("event_type"))
    }),

    // Time-series gap fill: per-user daily scaffold (date sequence
    // explode bounded by the global [min, max] day) left-joined to the
    // sparse actuals, then carry-forward via last(_, ignoreNulls) —
    // the densification pass a dashboard needs before charting.
    "q99_gapfill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("day_v"))
      val span = ev.agg(
        date_trunc("day", min(col("ts"))).as("d0"),
        date_trunc("day", max(col("ts"))).as("d1"))
      val scaffold = ev.select(col("user_id")).distinct()
        .crossJoin(broadcast(span))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"),
            expr("INTERVAL 1 DAY"))).as("d"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scaffold.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("day_v"), ignoreNulls = true).over(w).as("filled_v"))
        .orderBy(col("user_id"), col("day"))
    }),

    // SCD2 dimension build: each user's event_type change log becomes
    // validity intervals — change-detect with lag, then close each
    // interval with lead over the FILTERED change rows. Two window
    // layers over one (user, time) sort; null valid_to = current row.
    "q93_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val changes = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
          col("event_type"))
        .withColumn("__prev", lag(col("event_type"), 1).over(w))
        .filter(col("__prev").isNull || col("__prev") =!= col("event_type"))
      changes
        .withColumn("valid_to", lead(col("t"), 1).over(w))
        .select(col("user_id"), col("event_type"), col("t").as("valid_from"),
          col("valid_to"))
        .orderBy(col("user_id"), col("valid_from"))
    }),

    // Incremental aggregate maintenance: history is held as mergeable
    // per-(type, day) partials and the new batch folds in with one
    // delta-sized aggregation + one state-sized merge — raw history
    // is never re-scanned (the 100 TB dashboard-rollup pattern). The
    // oracle recomputes from scratch; equality of the two IS the
    // operator's contract (merge∘partials == partials∘union, exactly).
    "q160_delta_agg" -> ((s, dir) => {
      import graft.core.IncrementalAgg
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      val keys = Seq("event_type", "day")
      val history = IncrementalAgg.partials(
        ev.filter(col("event_id") % 5 =!= 0), keys, col("value"))
      val delta = IncrementalAgg.partials(
        ev.filter(col("event_id") % 5 === 0), keys, col("value"))
      IncrementalAgg.finalizeAgg(IncrementalAgg.merge(history, delta))
        .orderBy(col("event_type"), col("day"))
    }),

    // Path mining: per-user event-type trigrams (two lead windows
    // sharing ONE (user, time) sort — the sessionize exchange), then
    // a global path rollup: the "what do users do next" transition
    // table. Output is every observed 3-step path with its count.
    "q169_event_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"), col("event_type"))
        .select(col("event_type").as("s1"),
          lead(col("event_type"), 1).over(w).as("s2"),
          lead(col("event_type"), 2).over(w).as("s3"))
        .filter(col("s2").isNotNull && col("s3").isNotNull)
        .groupBy(col("s1"), col("s2"), col("s3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
    }),

    // FORWARD as-of join: each click attributed to the next purchase
    // at-or-after it — conversion-lag attribution, the q84 direction
    // reversed. Same one-shuffle carry-window machinery via timestamp
    // negation; oracle is DuckDB's native ASOF with the <= inequality.
    "q189_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("t_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t_us"), col("value").as("purchase_value"))
      Joins.asofJoinForward(
        clicks, purchases,
        keys = Seq("user_id"), tsCol = "t_us",
        tiebreak = Seq(col("purchase_value")),
        rightTsAs = "purchase_t_us")
        .withColumn("lag_us",
          when(col("purchase_t_us").isNotNull,
            col("purchase_t_us") - col("t_us")))
        .orderBy(col("event_id"))
    }),

    // Rolling 7-day active users: exact distinct-over-window via the
    // (user, day)-dedup → day-spine range join (distinct does NOT
    // sum across window frames, so the naive window-sum is wrong by
    // construction; the dedup'd membership join is the exact shape).
    // The spine is days-sized, the join carries (user, day) rows.
    "q187_rolling_active" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val days = ud.select(col("day").as("d")).distinct()
      days.join(ud,
          col("day") >= col("d") - lit(6L) && col("day") <= col("d"))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("active_7d"))
        .orderBy(col("d"))
    }),

    // Rolling distinct via MERGEABLE sketches — q187's question with
    // the 100 TB shape: one KMV sketch row per day replaces the
    // (user, day) membership rows in the spine join, so the rolling
    // union carries days·|sketch| longs instead of the active-user
    // table per frame. Exact regime here (k = 65536 > daily actives
    // at every tested SF), so the output equals q187's exact counts
    // row-for-row and the ORACLE IS the exact rolling distinct; past
    // the regime the same plan degrades to a ~1/√k-error estimate
    // instead of a shuffle explosion.
    "q214_rolling_kmv" -> ((s, dir) => {
      val k = 65536
      val daySk = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("day"))
        .agg(graft.functions.AggregateFunctions
          .kmvMinima(col("user_id"), k).as("sk"))
      // Frame membership DECLARED as an equi key: each frame-end day d
      // owns member days d-6..d, a 7x explode of the days-sized spine
      // that hash-joins on day — the bucketed form IntervalJoinRewrite
      // produces for sandwich joins, hand-applied here so the flagship
      // sketch-merge query never plans a BroadcastNestedLoop
      // (PlanSpec-asserted). Member days with no events drop out of
      // the inner join exactly as they fell outside the old range
      // predicate.
      val frames = daySk.select(col("day").as("d"))
        .select(col("d"),
          explode(sequence(col("d") - lit(6L), col("d"))).as("day"))
      frames.join(daySk, "day")
        .groupBy(col("d"))
        .agg(flatten(collect_list(col("sk"))).as("m"),
          max(size(col("sk"))).as("max_day_sk"))
        .select(col("d"),
          // Exact-regime tripwire: a day sketch at capacity (|sk| = k)
          // means >= k distinct users that day — past that regime the
          // merged union silently under-counts while the oracle stays
          // exact. Fail loudly with the cause instead of a cell diff.
          when(col("max_day_sk") >= lit(k),
            raise_error(lit(s"q214 exact-regime breach: a day sketch " +
              s"saturated at k=$k; rolling distinct would under-count — " +
              "raise k or read the estimate query (q219) instead"))
              .cast("long"))
            .otherwise(size(array_distinct(col("m"))).cast("long"))
            .as("active_7d"))
        .orderBy(col("d"))
    }),

    // q214's rolling distinct answered from PERSISTED sketch state —
    // the 24/7 form: history is deterministically sliced into three
    // "micro-batches" (md5-gated thirds), each folded into a standing
    // (day, sk) table behind VersionLog's exactly-once commit markers
    // (SketchStateStreams.maintainBatch), and the rolling window is
    // answered FROM THE STATE ALONE — raw events are never re-scanned
    // at query time. KMV merges are exact set-union algebra, so the
    // batch-by-batch fold equals the one-shot recompute and the
    // oracle stays q187's EXACT rolling distinct.
    "q221_rolling_kmv_state" -> ((s, dir) => {
      val k = 65536
      val statePath = CacheScope.stage("graft_kmv_state")
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_id"))
      (0 until 3).foreach { i =>
        val slice = ev.filter(
          pmod(conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
            .cast("long"), lit(3)) === lit(i.toLong))
        graft.streaming.SketchStateStreams.maintainBatch(
          slice, i.toLong, "user_id", "day", k, statePath)
      }
      val state = graft.core.VersionLog.committedState(s, statePath)
        .getOrElse(sys.error("kmv state missing after fold"))
      graft.streaming.SketchStateStreams.rollingDistinct(state, 7, k)
        .orderBy(col("d"))
    }),

    // Join fan-out estimation by deterministic key sampling — the
    // pre-flight a 100 TB join runs BEFORE it runs: hash-gate ~1/16
    // of the KEY SPACE (both sides keep the same keys, so per-key
    // products are exact on the sample), count per-key frequencies,
    // and report output-rows estimates plus the worst keys. The
    // sample is md5-keyed, so any engine replays it; estimate =
    // sampled output × 16 (key-space scaling).
    "q181_join_fanout" -> ((s, dir) => {
      val gate = (k: org.apache.spark.sql.Column) =>
        substring(md5(k.cast("string")), 1, 1) === "0"
      val o = t(s, dir, "orders").filter(gate(col("o_custkey")))
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("ca"))
      val c = t(s, dir, "customer").filter(gate(col("c_custkey")))
        .groupBy(col("c_custkey").as("k")).agg(count(lit(1)).as("cb"))
      val prod = o.join(c, "k")
        .select(col("k"), (col("ca") * col("cb")).as("rows_out"))
      prod.agg(
        count(lit(1)).as("n_sampled_keys"),
        sum(col("rows_out")).as("sampled_rows"),
        (sum(col("rows_out")) * lit(16L)).as("est_rows"),
        max(col("rows_out")).as("max_key_fanout"))
    }),

    // Per-group linear trend: slope of value over time from exact
    // DECIMAL moments (the q94 discipline) — the drift monitor for
    // "is spend/quality moving" per event_type. Slope = (nΣxy −
    // ΣxΣy)/(nΣxx − ΣxΣx) with x = day index, y = cents; each moment
    // exact, one double expression floored to the 1e-6 grid.
    "q182_group_trend" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * lit(100.0)).cast("long").as("cents"))
      val d0 = ev.agg(min(col("day")).as("d0"))
      def m(c: org.apache.spark.sql.Column) = sum(c).cast("double")
      ev.crossJoin(broadcast(d0))
        .select(col("event_type"),
          (col("day") - col("d0")).cast("decimal(38,0)").as("x"),
          col("cents").cast("decimal(38,0)").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          m(col("x")).as("sx"), m(col("y")).as("sy"),
          m(col("x") * col("x")).as("sxx"), m(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), col("n"),
          // zero-denominator guard (q199's slope discipline): a group
          // whose events all land on one day has n*sxx - sx*sx = 0 and
          // Spark's 0.0/0.0 (NaN through floor) diverges from DuckDB's
          // NULL — slope is undefined there, so say NULL in both engines.
          when(col("n") * col("sxx") - col("sx") * col("sx") === lit(0.0),
            lit(null).cast("double"))
            .otherwise(floor(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                (col("n") * col("sxx") - col("sx") * col("sx"))
                / lit(100.0) * lit(1e6)) / lit(1e6)).as("slope_per_day"))
        .orderBy(col("event_type"))
    }),

    // Incremental SCD2 maintenance: the dimension built from the
    // first 80% of the timeline, then the last 20% folded in as a
    // delta — merge(build(history), delta) must equal build(full)
    // EXACTLY (q160's discipline applied to dimension tables). The
    // merge change-detects only the delta and touches only the open
    // rows; history is never re-read. Oracle = full rebuild.
    "q180_scd2_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"), col("event_type"))
      val bounds = ev.agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
      val cut = ev.crossJoin(broadcast(bounds))
        .withColumn("__cut", expr("t0 + ((t1 - t0) * 4L) div 5L"))
      val history = cut.filter(col("t") < col("__cut"))
      val delta = cut.filter(col("t") >= col("__cut"))
      val dim0 = graft.core.Scd.buildScd2(
        history, "user_id", "event_id", "t", "event_type")
      graft.core.Scd.mergeScd2(
        dim0, delta, "user_id", "event_id", "t", "event_type")
        .select(col("user_id"), col("event_type"),
          col("valid_from"), col("valid_to"))
        .orderBy(col("user_id"), col("valid_from"))
    }),

    // Recency-decay weighted engagement: per-user spend with each
    // event down-weighted by 2^-age_days (capped at 30 days → weight
    // 0 beyond). The whole decay is INTEGER: cents × (1e9 div 2^k)
    // summed as int64 — no float-power, no sum-order dependence (a
    // float 2^-k chain loses exactness once magnitudes span > 53
    // bits). Map-side expression + one user aggregate; the global
    // max-day scalar rides a 1-row broadcast.
    "q173_decay_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("user_id"),
        round(col("value") * lit(100.0)).cast("long").as("cents"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      val maxd = ev.agg(max(col("day")).as("maxd"))
      ev.crossJoin(broadcast(maxd))
        .withColumn("k", least(col("maxd") - col("day"), lit(30L)))
        .withColumn("w_fx", expr("1000000000L div shiftleft(1L, k)"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents") * col("w_fx")).as("__fx"))
        .select(col("user_id"), col("n"),
          // cents·1e9 scale -> dollars on the 1e-6 grid
          (expr("__fx div 100000").cast("double") / lit(1e6))
            .as("decayed_spend"))
        .orderBy(col("user_id"))
    }),

    // Robust anomaly detection: per event_type median and MAD (median
    // absolute deviation) from EXACT order statistics on the integer
    // cents grid — the outlier fence that, unlike mean±3σ, is not
    // dragged by the outliers themselves. Two rank windows (both
    // PARTITIONED by type) + a broadcast fence join; the |x−med| and
    // 3·MAD comparison is pure int64.
    "q174_mad_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"), col("event_id"),
        round(col("value") * lit(100.0)).cast("long").as("c"))
      def medianOf(df: DataFrame, valCol: String, out: String): DataFrame = {
        val byVal = Window.partitionBy(col("event_type"))
          .orderBy(col(valCol), col("event_id"))
        val n = Window.partitionBy(col("event_type"))
        df.withColumn("__rk", row_number().over(byVal))
          .withColumn("__n", count(lit(1)).over(n))
          .groupBy(col("event_type"))
          .agg(max(when(col("__rk") === ceil(col("__n") / lit(2.0)),
            col(valCol))).as(out))
      }
      val med = medianOf(ev, "c", "med_c")
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("d", abs(col("c") - col("med_c")))
      val mad = medianOf(dev, "d", "mad_c")
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"), col("med_c"), col("mad_c"))
        .agg(count(lit(1)).as("n"),
          count(when(col("d") > lit(3L) * col("mad_c"), 1)).as("n_anomalies"))
        .select(col("event_type"), col("n"),
          (col("med_c").cast("double") / lit(100.0)).as("med"),
          (col("mad_c").cast("double") / lit(100.0)).as("mad"),
          col("n_anomalies"))
        .orderBy(col("event_type"))
    }),

    // Bitmap cohort algebra: one mergeable bitmap_ids aggregate per
    // event_type (the groupBitmap/materialized-audience pattern),
    // then EVERY pairwise cohort question (|A∩B|, |A\B|, Jaccard)
    // answered map-side from the 5 bitmap rows — no re-shuffle of raw
    // events, no count-distinct expand per question. The tiny non-equi
    // self-join is 5x5 rows by construction.
    "q172_bitmap_cohort" -> ((s, dir) => {
      import graft.functions.BitmapFunctions._
      val bm = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(bitmap_ids(col("user_id")).as("bm"))
      val a = bm.select(col("event_type").as("type_a"), col("bm").as("bma"))
      val b = bm.select(col("event_type").as("type_b"), col("bm").as("bmb"))
      a.join(b, col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          bitmap_count(col("bma")).as("n_a"),
          bitmap_count(col("bmb")).as("n_b"),
          bitmap_and_count(col("bma"), col("bmb")).as("n_both"),
          bitmap_andnot_count(col("bma"), col("bmb")).as("n_only_a"))
        .withColumn("jaccard",
          expr("(n_both * 1000000L) div (n_a + n_b - n_both)")
            .cast("double") / lit(1e6))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Z-order layout report: Morton-interleave (user, minute) into a
    // Z-curve key, cut the curve into 16 equal files (exact
    // partition-parallel ntile), and report each file's bounding box
    // in BOTH dimensions — the boxes a 2-D-filtered 100 TB scan
    // prunes against. The interleave is a codegen'd expression; the
    // oracle replays the identical mask-and-shift spread.
    "q162_zorder" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"))
        .withColumn("zv",
          graft.core.Layout.zValue(col("user_id"), col("minute")))
      graft.core.GlobalRanks.ntileExact(ev, 16, col("zv"),
        descending = false, tieBreak = Seq(col("event_id")), out = "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("user_id")).as("user_min"), max(col("user_id")).as("user_max"),
          min(col("minute")).as("minute_min"), max(col("minute")).as("minute_max"))
        .orderBy(col("bucket"))
    }),

    // Zone-map pruned scan: q162's layout made load-bearing. Events
    // land z-ordered on (user, minute) in 16 files, a per-file min/max
    // MANIFEST is written beside them (Layout.writeManifest — the
    // one-small-table form of a million parquet footers), and the
    // 2-D box query (users 10-50, first day) reads ONLY the files
    // whose boxes intersect — the require tripwire fails the query if
    // pruning ever stops working rather than letting it degrade to a
    // full scan silently. Residual re-filter makes the pruned read
    // row-identical to the full scan, which is exactly what the
    // oracle replays (DuckDB never sees the layout — only the
    // declared filter).
    "q224_zonemap_scan" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"))
      val tmp = CacheScope.stage("zonemap_q") + "/events_z"
      graft.core.Layout.writeZOrdered(
        ev, tmp, col("user_id"), col("minute"), files = 16)
      graft.core.Layout.writeManifest(s, tmp, Seq("user_id", "minute"))
      // first-day minute bound: one scalar aggregate, driver-bounded
      val m0 = ev.agg(min(col("minute"))).collect()(0).getLong(0)
      val boxes = Seq(("user_id", 10L, 50L), ("minute", m0, m0 + 1439L))
      val kept = graft.core.Layout.prunedFiles(s, tmp, boxes)
      require(kept.nonEmpty && kept.size < 16,
        s"zone maps failed to prune: ${kept.size}/16 files survive the box")
      graft.core.Layout.prunedRead(s, tmp, boxes, kept)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          min(col("minute")).as("minute_min"),
          max(col("minute")).as("minute_max"))
        .orderBy(col("user_id"))
    }),

    // Zone-map APPEND path: the store takes a late batch (md5-gated
    // ~1/16 of events) as plain appended files and the manifest is
    // maintained INCREMENTALLY — Layout.appendManifest scans only the
    // unmanifested files, never the standing table (the difference
    // between a 0.1% batch costing 0.1% and costing a full 100 TB
    // rescan). The pruned box read then answers over base+appended
    // together; the oracle replays the same filter over ALL events —
    // append + incremental manifest must be semantically invisible.
    "q225_zonemap_append" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val base = ev.filter(col("g") =!= "f").drop("g")
      val late = ev.filter(col("g") === "f").drop("g")
      val tmp = CacheScope.stage("zonemap_app_q") + "/events_z"
      graft.core.Layout.writeZOrdered(
        base, tmp, col("user_id"), col("minute"), files = 16)
      graft.core.Layout.writeManifest(s, tmp, Seq("user_id", "minute"))
      late.repartition(2).write.mode("append").parquet(tmp)
      graft.core.Layout.appendManifest(s, tmp)
      val m0 = ev.agg(min(col("minute"))).collect()(0).getLong(0)
      val boxes = Seq(("user_id", 0L, 9L), ("minute", m0, m0 + 10079L))
      val (kept, total) = graft.core.Layout.prunedFilesIfFresh(s, tmp, boxes)
        .getOrElse(sys.error("the appended zone-map manifest is stale"))
      require(kept.nonEmpty && kept.size < total,
        s"zone maps failed to prune after append: ${kept.size}/$total files")
      graft.core.Layout.prunedRead(s, tmp, boxes, kept)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("minute")).as("minute_sum"))
        .orderBy(col("user_id"))
    }),

    // AUTOMATIC zone-map pruning — the optimizer-rule form of q224's
    // explicit prunedRead: the query DECLARES a plain
    // `read.parquet(dir).filter(box)` and graft.plans.ZoneMapPruneRule
    // prunes the scan's FILE LIST from the `_graft_zonemaps` manifest
    // at optimization time, before any footer opens; the declared
    // filter stays as the residual so rows match the full scan exactly.
    // PlanSpec asserts the returned frame plans the pruned scan (marker
    // index); the oracle replays the declared filter over ALL events.
    "q226_zonemap_rule" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"))
      val tmp = CacheScope.stage("zonemap_rule_q") + "/events_z"
      graft.core.Layout.writeZOrdered(
        ev, tmp, col("user_id"), col("minute"), files = 16)
      graft.core.Layout.writeManifest(s, tmp, Seq("user_id", "minute"))
      val m0 = ev.agg(min(col("minute"))).collect()(0).getLong(0)
      graft.plans.ZoneMapPruneRule.install(s)
      s.read.parquet(tmp)
        .filter(col("user_id") >= 10L && col("user_id") <= 50L &&
          col("minute") >= m0 && col("minute") <= m0 + 1439L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          min(col("minute")).as("minute_min"),
          max(col("minute")).as("minute_max"))
        .orderBy(col("user_id"))
    }),

    // TIME TRAVEL via the version log (core/VersionLog): base events
    // (md5-gated ~15/16) land, snapshot → v1; a late batch appends,
    // snapshot → v2. Reading AS OF v1 sees exactly the pre-append
    // table even though the directory now holds more files — snapshot
    // isolation from a metadata-scale file-list commit log, no data
    // copied. Tripwires: version numbering, snapshot idempotence (a
    // re-snapshot of an unchanged table mints NO new version), and v2
    // covering everything. The oracle replays the md5 gate: per user,
    // events visible at v1 vs now.
    "q227_time_travel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val base = ev.filter(col("g") =!= "f").drop("g")
      val late = ev.filter(col("g") === "f").drop("g")
      val tmp = CacheScope.stage("timetravel_q") + "/events_v"
      base.repartition(4).write.parquet(tmp)
      val v1 = graft.core.VersionLog.snapshot(s, tmp)
      late.repartition(2).write.mode("append").parquet(tmp)
      val v2 = graft.core.VersionLog.snapshot(s, tmp)
      require(v1 == 1 && v2 == 2, s"version numbering broke: v1=$v1 v2=$v2")
      require(graft.core.VersionLog.snapshot(s, tmp) == v2,
        "re-snapshot of an unchanged table must not mint a new version")
      val atV1 = graft.core.VersionLog.readVersion(s, tmp, v1)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_v1"))
      graft.core.VersionLog.readVersion(s, tmp, v2)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_now"))
        .join(atV1, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"), col("n_now"))
        .orderBy(col("user_id"))
    }),

    // Broadcast RANGE-DICTIONARY enrichment (Joins.rangeDictJoin): a
    // dimension-sized interval table (user-id tiers here; IP blocks /
    // maintenance windows in production) compiles into a binary-search
    // RangeLookup expression — O(log m) per row inside whole-stage
    // codegen, NO join operator, zero shuffle, zero explode. The
    // map-side sibling of q213/q223's rewrite for interval sides that
    // fit in memory (the usual case). Null lookups = out-of-dictionary
    // points, filtered here for inner semantics; the oracle runs the
    // same tiers as a declared range join.
    "q229_range_dict" -> ((s, dir) => {
      import s.implicits._
      val tiers = Seq(
        (1L, 0L, 1L), (2L, 1L, 3L), (3L, 3L, 8L), (4L, 8L, 21L),
        (5L, 21L, 55L), (6L, 55L, 200L)).toDF("tid", "lo", "hi")
      val enriched = graft.core.Joins.rangeDictJoin(
        t(s, dir, "events"), "user_id", tiers, "tid", "lo", "hi", "tid")
      enriched.filter(col("tid").isNotNull)
        .groupBy(col("tid"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("tid"))
    }),

    // INCREMENTAL consumption between versions (VersionLog.readChanges,
    // the change-data-feed read): a downstream job that processed v1
    // catches up to v2 by scanning ONLY the files that appeared in
    // between — work proportional to the delta, never a re-scan or a
    // row-level anti-join. Tripwires: the self-delta is empty; the
    // result is exactly the late batch, which the oracle replays from
    // the md5 gate.
    "q230_version_changes" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val base = ev.filter(col("g") =!= "f").drop("g")
      val late = ev.filter(col("g") === "f").drop("g")
      val tmp = CacheScope.stage("vchanges_q") + "/events_v"
      base.repartition(4).write.parquet(tmp)
      val v1 = graft.core.VersionLog.snapshot(s, tmp)
      late.repartition(2).write.mode("append").parquet(tmp)
      val v2 = graft.core.VersionLog.snapshot(s, tmp)
      require(graft.core.VersionLog.readChanges(s, tmp, v1, v1).count() == 0L,
        "self-delta must be empty")
      graft.core.VersionLog.readChanges(s, tmp, v1, v2)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_new"), sum(col("event_id")).as("id_sum"))
        .orderBy(col("user_id"))
    }),

    // Exactly-once VERSIONED batch ingestion (IngestStreams over
    // VersionLog): three md5-gated micro-batches land as b<id>/ dirs
    // with commit markers; batch 1 is REPLAYED (a restarted batch
    // loop re-delivers it) and must no-op — a duplicated landing would
    // double the oracle's counts. The latest version then answers like
    // the plain table: ingestion mechanics are semantically invisible.
    "q231_versioned_ingest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("vingest_q") + "/events_ing"
      val batches = Seq(
        ev.filter(col("g") < "5"),
        ev.filter(col("g") >= "5" && col("g") < "a"),
        ev.filter(col("g") >= "a")).map(_.drop("g"))
      graft.streaming.IngestStreams.ingestBatch(batches(0), 0L, tmp)
      graft.streaming.IngestStreams.ingestBatch(batches(1), 1L, tmp)
      graft.streaming.IngestStreams.ingestBatch(batches(1), 1L, tmp) // replay
      graft.streaming.IngestStreams.ingestBatch(batches(2), 2L, tmp)
      val vs = graft.core.VersionLog.versions(s, tmp)
      require(vs == Seq(1, 2, 3),
        s"three batches + one replay must mint exactly 3 versions: $vs")
      graft.core.VersionLog.readVersion(
          s, tmp, graft.core.VersionLog.latest(s, tmp))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // CURSOR-DRIVEN incremental rollup (core/Incremental over
    // VersionLog.readChanges): two runs each process exactly their
    // delta (full v1, then only the appended batch), the accumulated
    // per-user partials sum to the full recompute, and a third run
    // with no new version is a no-op that never touches data.
    // At-least-once + idempotent-append = the standing-rollup pattern
    // a 100 TB events table is consumed by.
    "q234_incremental_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val root = CacheScope.stage("incr_q")
      val table = s"$root/events_v"
      val acc = s"$root/acc"
      val cursor = s"$root/cursor"
      ev.filter(col("g") =!= "f").drop("g").repartition(4).write.parquet(table)
      graft.core.VersionLog.snapshot(s, table)
      def step() = graft.core.Incremental.runOnce(s, table, cursor) { d =>
        d.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .write.mode("append").parquet(acc)
      }
      require(step().contains((0, 1)), "first run must process v1 in full")
      ev.filter(col("g") === "f").drop("g")
        .repartition(2).write.mode("append").parquet(table)
      graft.core.VersionLog.snapshot(s, table)
      require(step().contains((1, 2)), "second run must process only the delta")
      require(step().isEmpty, "a run with no new version must no-op")
      s.read.parquet(acc)
        .groupBy(col("user_id")).agg(sum(col("n")).as("n"))
        .orderBy(col("user_id"))
    }),

    // Per-file BLOOM manifest point lookup (Layout.writeBloomManifest /
    // bloomPrunedRead): doc_ids are hash-spread across 16 files, so
    // every file's min/max box intersects any id probe — zone maps
    // prune NOTHING here. The per-file Bloom answers "can this file
    // hold id X?" with no false negatives; the IN-probe opens only the
    // surviving files (tripwire: < all 16), and the residual keeps the
    // result row-identical to the full scan the oracle runs.
    "q235_bloom_lookup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val tmp = CacheScope.stage("bloom_q") + "/docs_b"
      docs.repartition(16, col("doc_id")).write.parquet(tmp)
      graft.core.Layout.writeBloomManifest(
        s, tmp, Seq("doc_id"), expectedPerFile = 4096, fpp = 0.01)
      val probes = Seq("7", "42", "123", "256", "499")
      val kept = graft.core.Layout.bloomPrunedFiles(s, tmp, "doc_id", probes)
      require(kept.size < 16,
        s"bloom manifest failed to prune the point lookup: ${kept.size}/16")
      graft.core.Layout.bloomPrunedRead(s, tmp, "doc_id", probes, kept)
        .orderBy(col("doc_id"))
    }),

    // Metadata-only count: count(*) answered from the zone-map
    // manifest's per-file n_rows — zero data files opened (the
    // commit-log count every lakehouse serves), stale manifests a hard
    // error. The oracle counts the actual rows.
    "q236_metadata_count" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
      val tmp = CacheScope.stage("metacount_q") + "/events_m"
      ev.repartition(8).write.parquet(tmp)
      graft.core.Layout.writeManifest(s, tmp, Seq("user_id"))
      Seq(graft.core.Layout.countFromManifest(s, tmp)).toDF("n_rows")
    }),

    // Incrementally-maintained aggregate MV (core/Mv): the reference
    // recomputes its MVs in full; here each refresh folds ONLY the
    // delta since the last refreshed source version into the standing
    // per-user state, exactly-once via version-keyed state dirs +
    // commit markers (a crash-replay rewrites the same v=N dir instead
    // of double-folding the delta — simulated below by deleting the
    // marker and refreshing again). The final MV must equal the full
    // recompute the oracle runs.
    "q237_incremental_mv" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val root = CacheScope.stage("mv_q")
      val table = s"$root/events_v"
      val mv = s"$root/mv"
      ev.filter(col("g") =!= "f").drop("g").repartition(4).write.parquet(table)
      graft.core.VersionLog.snapshot(s, table)
      require(graft.core.Mv.refresh(s, table, mv,
        Seq("user_id"), Seq("event_id")).contains((0, 1)))
      ev.filter(col("g") === "f").drop("g")
        .repartition(2).write.mode("append").parquet(table)
      graft.core.VersionLog.snapshot(s, table)
      require(graft.core.Mv.refresh(s, table, mv,
        Seq("user_id"), Seq("event_id")).contains((1, 2)))
      require(graft.core.Mv.refresh(s, table, mv,
        Seq("user_id"), Seq("event_id")).isEmpty, "fresh MV must no-op")
      // crash-replay simulation: lose the last commit marker — the
      // refresh must REWRITE v=2 from the v=1 state, not double-fold
      val fs = new org.apache.hadoop.fs.Path(mv)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(graft.core.VersionLog.commitMarker(mv, 2), false)
      require(graft.core.Mv.refresh(s, table, mv,
        Seq("user_id"), Seq("event_id")).contains((1, 2)))
      graft.core.Mv.read(s, mv)
        .select(col("user_id"), col("n_rows"),
          col("event_id__sum").as("id_sum"))
        .orderBy(col("user_id"))
    }),

    // OPTIMIZE + VACUUM lifecycle (VersionLog.compact/vacuum): the
    // latest version's content is rewritten as ONE compact file while
    // the pre-compaction version KEEPS time-traveling (the log is the
    // truth, the directory is storage); vacuum then reclaims the old
    // files and ends time travel at an explicit horizon — dropped
    // versions fail "not recorded", never silently partial. The
    // surviving latest answers like the plain table.
    "q238_compact_vacuum" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val tmp = CacheScope.stage("vacuum_q") + "/events_v"
      ev.repartition(8).write.parquet(tmp)
      graft.core.VersionLog.snapshot(s, tmp)
      val v2 = graft.core.VersionLog.compact(s, tmp, files = 1)
      require(v2 == 2)
      // pre-vacuum: BOTH versions read, identically
      require(graft.core.VersionLog.readVersion(s, tmp, 1).count() ==
        graft.core.VersionLog.readVersion(s, tmp, 2).count())
      val (dropped, deleted) = graft.core.VersionLog.vacuum(s, tmp, keepLast = 1)
      require(dropped == 1 && deleted == 8,
        s"vacuum must reclaim the 8 pre-compaction files: $dropped/$deleted")
      require(scala.util.Try(
        graft.core.VersionLog.readVersion(s, tmp, 1)).isFailure,
        "a vacuumed version must fail loudly, not read partially")
      graft.core.VersionLog.readVersion(s, tmp, 2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    }),

    // Copy-on-write DELETE (core/Dml.deleteWhere): one pruned scan
    // finds the files holding matching rows, ONLY those rewrite (the
    // 0.1%-touched ⇒ 0.1%-rewritten contract), the new version lists
    // untouched ∪ rewritten — and the PRE-delete version still
    // time-travels (tripwire: v1 count == v2 count + deleted). The
    // oracle replays the surviving predicate over events.
    "q239_cow_delete" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val tmp = CacheScope.stage("cowdel_q") + "/events_v"
      ev.repartitionByRange(8, col("user_id")).write.parquet(tmp)
      graft.core.VersionLog.snapshot(s, tmp)
      val (v2, ndel) = graft.core.Dml.deleteWhere(
        s, tmp, col("user_id") % 7 === 3)
      require(v2 == 2 && ndel > 0, s"delete must mint v2 and remove rows")
      val before = graft.core.VersionLog.readVersion(s, tmp, 1).count()
      val after = graft.core.VersionLog.readVersion(s, tmp, 2).count()
      require(before == after + ndel,
        s"time travel broke across the delete: $before != $after + $ndel")
      graft.core.VersionLog.readVersion(s, tmp, 2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // Copy-on-write MERGE/upsert (core/Dml.mergeInto): late
    // corrections (md5-gated rows move to user_id+1000) and backfills
    // (a second gated set re-keyed to fresh event_ids) land in one
    // merge — matched keys REPLACE, absent keys INSERT, only files
    // holding superseded rows rewrite, and the pre-merge version keeps
    // time-traveling. The oracle replays the anti-join ∪ updates
    // algebra over events.
    "q240_cow_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("cowmerge_q") + "/events_v"
      ev.drop("g").repartitionByRange(8, col("event_id")).write.parquet(tmp)
      graft.core.VersionLog.snapshot(s, tmp)
      val corrections = ev.filter(col("g") === "f").drop("g")
        .withColumn("user_id", col("user_id") + 1000L)
      val backfills = ev.filter(col("g") === "0").drop("g")
        .withColumn("event_id", col("event_id") + 10000000L)
      val updates = corrections.unionByName(backfills)
      val (v2, replaced, inserted) = graft.core.Dml.mergeInto(
        s, tmp, updates, Seq("event_id"))
      require(v2 == 2 && replaced > 0 && inserted > 0,
        s"merge must both replace and insert: $replaced/$inserted")
      val v1n = graft.core.VersionLog.readVersion(s, tmp, 1).count()
      require(graft.core.VersionLog.readVersion(s, tmp, 2).count() ==
        v1n + inserted, "merge row accounting broke")
      graft.core.VersionLog.readVersion(s, tmp, 2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("user_sum"))
        .orderBy(col("event_type"))
    }),

    // The 24/7 STANDING-ROLLUP loop (IngestStreams.ingestBatchWithMv):
    // each micro-batch lands versioned AND folds into the MV in one
    // exactly-once step — including a replay of the middle batch and a
    // crash healed between the two legs (the batch landed, its MV fold
    // didn't; the next batch's refresh folds BOTH versions' deltas,
    // because refresh keys on source version, not batch id). The final
    // MV must equal the full recompute the oracle runs.
    "q241_ingest_mv_loop" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val root = CacheScope.stage("ingmv_q")
      val table = s"$root/events_v"
      val mv = s"$root/mv"
      val keys = Seq("event_type")
      val sums = Seq("user_id")
      val batches = Seq(
        ev.filter(col("g") < "5"),
        ev.filter(col("g") >= "5" && col("g") < "a"),
        ev.filter(col("g") >= "a")).map(_.drop("g"))
      import graft.streaming.IngestStreams
      IngestStreams.ingestBatchWithMv(batches(0), 0L, table, mv, keys, sums)
      // crash between the legs: batch 1 lands but its MV fold is lost
      IngestStreams.ingestBatch(batches(1), 1L, table)
      // replay of batch 1 after the crash: lands nothing, but refresh
      // heals the MV by folding the missed version's delta
      IngestStreams.ingestBatchWithMv(batches(1), 1L, table, mv, keys, sums)
      IngestStreams.ingestBatchWithMv(batches(2), 2L, table, mv, keys, sums)
      require(graft.core.Mv.committedVersions(s, mv).last ==
        graft.core.VersionLog.latest(s, table), "MV must track the table")
      graft.core.Mv.read(s, mv)
        .select(col("event_type"), col("n_rows"),
          col("user_id__sum").as("user_sum"))
        .orderBy(col("event_type"))
    }),

    // IDEMPOTENT-BY-KEY ingestion (IngestStreams.ingestBatchDedup):
    // three md5-gated batches OVERLAP heavily (0-7, 4-b, 8-f) — the
    // at-least-once upstream shape — and each landing drops the keys
    // the standing table already holds, probed through the
    // incrementally-maintained per-file bloom manifest (no false
    // negatives ⇒ no duplicate can slip through; only bloom-admitted
    // files are read for the exact anti-join). A replayed batch lands
    // nothing. The final table must equal the distinct events — the
    // plain-table oracle.
    "q242_dedup_ingest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("ddingest_q") + "/events_dd"
      import graft.streaming.IngestStreams
      val batches = Seq(
        ev.filter(col("g") < "8"),
        ev.filter(col("g") >= "4" && col("g") < "c"),
        ev.filter(col("g") >= "8")).map(_.drop("g"))
      val (_, d0) = IngestStreams.ingestBatchDedup(
        batches(0), 0L, tmp, "event_id", 4096L)
      val (_, d1) = IngestStreams.ingestBatchDedup(
        batches(1), 1L, tmp, "event_id", 4096L)
      val (_, d2) = IngestStreams.ingestBatchDedup(
        batches(2), 2L, tmp, "event_id", 4096L)
      // cheap tripwire only (returned counters, no extra scan) — the
      // exactly-once-by-key accounting and the replayed-batch no-op
      // are spec-pinned in IngestStreamsSpec, NOT re-proven inside the
      // benched window (r11 measured a 4th ingest + a second ev scan)
      require(d0 == 0 && d1 > 0 && d2 > 0,
        s"the overlapping windows must be deduped: $d0/$d1/$d2")
      graft.core.VersionLog.readVersion(
          s, tmp, graft.core.VersionLog.latest(s, tmp))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    }),

    // VERSIONED + ZONE-MAPPED composition: three gated batches land
    // through the versioned store (each batch range-partitioned on
    // `minute` so its files carry tight time ranges), the zone-map
    // manifest is maintained INCREMENTALLY per batch (only the new
    // b<N>/ files are scanned — the explicit-list manifest path), and
    // a first-day box prune answers over the full history. Tripwires:
    // files pruned < total, history's deltas match the three landings.
    // The oracle replays the declared box over ALL events.
    "q243_versioned_zonemap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("vzm_q") + "/events_v"
      import graft.streaming.IngestStreams
      import graft.core.{Layout, VersionLog}
      val batches = Seq(
        ev.filter(col("g") < "6"),
        ev.filter(col("g") >= "6" && col("g") < "b"),
        ev.filter(col("g") >= "b")).map(
        _.drop("g").repartitionByRange(4, col("minute")))
      batches.zipWithIndex.foreach { case (b, i) =>
        IngestStreams.ingestBatch(b, i.toLong, tmp)
        if (i == 0) Layout.writeManifest(s, tmp, Seq("minute"))
        else Layout.appendManifest(s, tmp)
      }
      val hist = VersionLog.history(s, tmp)
        .select(col("version"), col("files_added"), col("files_removed"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      require(hist.map(_._1).toSeq == Seq(1, 2, 3) &&
        hist.forall(h => h._2 == 4 && h._3 == 0),
        s"history must show 3 append-only versions of 4 files: ${hist.toSeq}")
      val m0 = ev.agg(min(col("minute"))).collect()(0).getLong(0)
      val boxes = Seq(("minute", m0, m0 + 1439L))
      val kept = Layout.prunedFiles(s, tmp, boxes)
      require(kept.nonEmpty && kept.size < 12,
        s"zone maps over the versioned store failed to prune: ${kept.size}/12")
      Layout.prunedRead(s, tmp, boxes, kept)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("minute")).as("minute_sum"))
        .orderBy(col("user_id"))
    }),

    // 3-D Z-ORDER layout (functions/ZInterleave3 + Layout.writeZOrdered3):
    // tenant × time × key filtered together — a 2-D curve leaves the
    // third column unpruned; the 21-bit-per-dim Morton key gives every
    // file a tight box in ALL THREE, and the zone-map manifest prunes a
    // 3-D box before any footer opens. Oracle replays the declared box.
    "q244_zorder3" -> ((s, dir) => {
      val raw = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"),
          pmod(col("event_id"), lit(64L)).as("eb"))
      // layout keys need 21 bits per dim: epoch-minutes (~25 bits)
      // must be rebased to the dataset origin (writeZOrdered3's
      // documented bucketing contract) — rm spans the dataset's time
      // width, which fits 21 bits for ~4 years of minutes
      val m0 = raw.agg(min(col("minute"))).collect()(0).getLong(0)
      val ev = raw.withColumn("rm", col("minute") - lit(m0)).drop("minute")
      val tmp = CacheScope.stage("z3_q") + "/events_z3"
      graft.core.Layout.writeZOrdered3(
        ev, tmp, col("user_id"), col("rm"), col("eb"), files = 27)
      graft.core.Layout.writeManifest(s, tmp, Seq("user_id", "rm", "eb"))
      val boxes = Seq(("user_id", 10L, 50L),
        ("rm", 0L, 1439L), ("eb", 0L, 15L))
      val kept = graft.core.Layout.prunedFiles(s, tmp, boxes)
      require(kept.nonEmpty && kept.size < 27,
        s"3-D zone maps failed to prune: ${kept.size}/27 files")
      graft.core.Layout.prunedRead(s, tmp, boxes, kept)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("eb")).as("eb_sum"))
        .orderBy(col("user_id"))
    }),

    // Row-level CHANGE FEED (VersionLog.readChangeFeed): a full
    // lifecycle — append, copy-on-write DELETE, MERGE (replace +
    // insert), compact — consumed as signed insert/delete events.
    // Compaction emits nothing (logical no-op); the DELETE emits its
    // victims; the MERGE emits preimages as deletes and its updates as
    // inserts. The oracle replays the event algebra from the base
    // table — bag-exact, which is what makes signed MV folds correct.
    "q245_change_feed" -> ((s, dir) => {
      import graft.core.{Dml, VersionLog}
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("cdf_q") + "/events_v"
      ev.filter(col("g") < "8").drop("g")
        .repartitionByRange(4, col("event_id")).write.parquet(tmp)
      VersionLog.snapshot(s, tmp) // v1
      ev.filter(col("g") >= "8").drop("g")
        .write.mode("append").parquet(tmp)
      VersionLog.snapshot(s, tmp) // v2: append
      Dml.deleteWhere(s, tmp, col("user_id") % 5 === 0) // v3: delete
      val corr = ev.filter(col("g") === "a").drop("g")
        .withColumn("user_id", col("user_id") + 2000L)
      val back = ev.filter(col("g") === "1").drop("g")
        .withColumn("event_id", col("event_id") + 20000000L)
      Dml.mergeInto(s, tmp, corr.unionByName(back), Seq("event_id")) // v4
      VersionLog.compact(s, tmp, files = 2) // v5: zero logical change
      VersionLog.readChangeFeed(s, tmp, 1, 5)
        .select(col("_change_type").as("change_type"), col("event_type"),
          col("user_id"), col("event_id"))
        .groupBy(col("change_type"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("u_sum"),
          sum(col("event_id")).as("id_sum"))
        .orderBy(col("change_type"), col("event_type"))
    }),

    // MV THROUGH COMPACT (the r11 verdict's top ask, closed): ingest →
    // refresh → OPTIMIZE → ingest → refresh, and the MV equals the
    // full recompute — the compaction folds as an empty delta (its
    // rows are bit-identical), where the r11 engine died permanently.
    "q246_mv_through_compact" -> ((s, dir) => {
      import graft.core.{Mv, VersionLog}
      import graft.streaming.IngestStreams
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val root = CacheScope.stage("mvcpt_q")
      val table = s"$root/events_v"; val mv = s"$root/mv"
      val keys = Seq("event_type"); val sums = Seq("user_id")
      IngestStreams.ingestBatchWithMv(
        ev.filter(col("g") < "8").drop("g"), 0L, table, mv, keys, sums)
      VersionLog.compact(s, table, files = 2) // the rewrite in between
      IngestStreams.ingestBatchWithMv(
        ev.filter(col("g") >= "8").drop("g"), 1L, table, mv, keys, sums)
      require(Mv.committedVersions(s, mv).last ==
        VersionLog.latest(s, table), "MV must track the table")
      Mv.read(s, mv)
        .select(col("event_type"), col("n_rows"),
          col("user_id__sum").as("user_sum"))
        .orderBy(col("event_type"))
    }),

    // OPTIMISTIC-CONCURRENCY ingestion: four ingest workers land their
    // batches IN PARALLEL (four threads, one table) — each snapshot
    // commit is a CAS, losers rebase onto the winner's head and retry,
    // and every batch lands exactly once (count == distinct count).
    // The r11 engine documented single-writer; this is the concurrent-
    // writers protocol the verdict asked for.
    "q247_occ_ingest" -> ((s, dir) => {
      import graft.core.VersionLog
      import graft.streaming.IngestStreams
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("occ_q") + "/events_v"
      val gates = Seq(("0", "4"), ("4", "8"), ("8", "c"), ("c", "g"))
      val futures = gates.zipWithIndex.map { case ((lo, hi), i) =>
        Future {
          IngestStreams.ingestBatch(
            ev.filter(col("g") >= lo && col("g") < hi).drop("g"),
            i.toLong, tmp)
        }
      }
      Await.result(Future.sequence(futures), 300.seconds)
      val v = VersionLog.snapshot(s, tmp)
      VersionLog.readVersion(s, tmp, v)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    }),

    // ADDITIVE SCHEMA EVOLUTION: v1 lands WITHOUT the score column; a
    // MERGE carries it (md5-gated corrections scored by user_id); a
    // later append still writes old-schema files. The head reads all
    // three vintages under the evolved schema — old files NULL-backfill
    // — with zero data rewritten for the widening. The oracle replays
    // the CASE algebra over events.
    "q248_schema_evolution" -> ((s, dir) => {
      import graft.core.{Dml, VersionLog}
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("sev_q") + "/events_v"
      ev.select(col("event_id"), col("event_type"))
        .repartitionByRange(4, col("event_id")).write.parquet(tmp)
      VersionLog.snapshot(s, tmp) // v1: two columns
      val ups = ev.filter(col("g") === "f")
        .select(col("event_id"), col("event_type"),
          col("user_id").as("score"))
      Dml.mergeInto(s, tmp, ups, Seq("event_id")) // v2: widens to three
      // a lagging producer still appends old-schema files afterwards
      ev.filter(col("g") === "0")
        .select((col("event_id") + 30000000L).as("event_id"),
          col("event_type"))
        .write.mode("append").parquet(tmp)
      VersionLog.snapshot(s, tmp) // v3
      VersionLog.readVersion(s, tmp, VersionLog.latest(s, tmp))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("score")).as("n_scored"),
          sum(col("score")).as("score_sum"))
        .orderBy(col("event_type"))
    }),

    // DML-THEN-PRUNE without a rebuild: zone maps are maintained
    // incrementally THROUGH a copy-on-write DELETE (the CLI heals the
    // manifest by scanning only the rewritten d-files and dropping
    // ghosts), then a first-day box prune answers over the mutated
    // table. The oracle replays box AND surviving-predicate.
    "q249_dml_manifest_heal" -> ((s, dir) => {
      import graft.core.{LakeCli, Layout, VersionLog}
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"))
      val tmp = CacheScope.stage("dmlzm_q") + "/events_v"
      ev.repartitionByRange(8, col("minute")).write.parquet(tmp)
      VersionLog.snapshot(s, tmp)
      Layout.writeManifest(s, tmp, Seq("minute"))
      val cli = new LakeCli(s)
      val (_, ndel) = cli.delete(tmp, "user_id % 7 = 3") // heals in-command
      require(ndel > 0, "the delete must remove rows")
      val m0 = ev.agg(min(col("minute"))).collect()(0).getLong(0)
      val boxes = Seq(("minute", m0, m0 + 1439L))
      val kept = Layout.prunedFiles(s, tmp, boxes) // stale ⇒ loud error
      require(kept.size < 9, s"healed manifest must prune: ${kept.size}")
      Layout.prunedRead(s, tmp, boxes, kept)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("minute")).as("minute_sum"))
        .orderBy(col("user_id"))
    }),

    // AUTO zone-map pruning over a VERSIONED table: the user writes
    // the DECLARED query — readVersion(head).filter(box) — and the
    // optimizer rule recognizes the committed view (multi-root scan ==
    // committed live set) and prunes its file list before any footer
    // opens. PlanSpec asserts the marker index is in the returned
    // frame's optimized plan. The oracle replays the declared box over
    // all events.
    "q250_versioned_autoprune" -> ((s, dir) => {
      import graft.core.{Layout, VersionLog}
      import graft.streaming.IngestStreams
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("vap_q") + "/events_v"
      val batches = Seq(
        ev.filter(col("g") < "6"),
        ev.filter(col("g") >= "6" && col("g") < "b"),
        ev.filter(col("g") >= "b")).map(
        _.drop("g").repartitionByRange(4, col("minute")))
      batches.zipWithIndex.foreach { case (b, i) =>
        IngestStreams.ingestBatch(b, i.toLong, tmp)
        if (i == 0) Layout.writeManifest(s, tmp, Seq("minute"))
        else Layout.appendManifest(s, tmp)
      }
      val m0 = ev.agg(min(col("minute"))).collect()(0).getLong(0)
      graft.plans.ZoneMapPruneRule.install(s)
      VersionLog.readVersion(s, tmp, VersionLog.latest(s, tmp))
        .filter(col("minute") >= m0 && col("minute") <= m0 + 1439L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("minute")).as("minute_sum"))
        .orderBy(col("user_id"))
    }),

    // RESTORE (un-DML): a bad MERGE corrupts md5-gated rows; restore
    // re-points the head at the pre-merge version as a METADATA-ONLY
    // new version — the bad version stays in history (auditable), no
    // data is copied, and the head equals the original table. The
    // oracle is the plain events aggregate.
    "q251_restore" -> ((s, dir) => {
      import graft.core.{Dml, VersionLog}
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("rst_q") + "/events_v"
      ev.drop("g").repartitionByRange(4, col("event_id")).write.parquet(tmp)
      VersionLog.snapshot(s, tmp) // v1
      val bad = ev.filter(col("g") < "4").drop("g")
        .withColumn("user_id", col("user_id") + 777L)
      Dml.mergeInto(s, tmp, bad, Seq("event_id")) // v2: the bad merge
      val v3 = VersionLog.restore(s, tmp, 1)
      require(v3 == 3, s"restore must mint a new version: $v3")
      require(VersionLog.versions(s, tmp) == Seq(1, 2, 3),
        "history must keep the bad version auditable")
      VersionLog.readVersion(s, tmp, v3)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("u_sum"))
        .orderBy(col("event_type"))
    }),

    // CURSOR THROUGH COMPACT (Incremental.runOnce): the standing
    // consumer processes batch 1, the table is OPTIMIZE'd, batch 2
    // lands, and the next run delivers ONLY batch 2's rows — the
    // compaction is a skipped logical no-op, where the r11 cursor died
    // permanently. Sink counts prove exactly-once (n == distinct ids).
    "q253_cursor_compact" -> ((s, dir) => {
      import graft.core.{Incremental, VersionLog}
      import graft.streaming.IngestStreams
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val root = CacheScope.stage("curc_q")
      val table = s"$root/events_v"
      val sink = s"$root/sink"
      val cursor = s"$root/cursor"
      IngestStreams.ingestBatch(ev.filter(col("g") < "8").drop("g"), 0L, table)
      Incremental.runOnce(s, table, cursor) { d =>
        d.write.mode("append").parquet(sink)
      }
      VersionLog.compact(s, table, files = 2)
      IngestStreams.ingestBatch(ev.filter(col("g") >= "8").drop("g"), 1L, table)
      Incremental.runOnce(s, table, cursor) { d =>
        d.write.mode("append").parquet(sink)
      }
      s.read.parquet(sink)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    }),

    // MV THROUGH DML: the standing rollup folds a DELETE's victims
    // with weight −1 and a MERGE's preimages/postimages as signed
    // events, so after delete + merge the MV still equals the full
    // recompute — no rebuild, work bounded by the affected files. The
    // oracle replays the delete + merge algebra over events.
    "q254_mv_through_dml" -> ((s, dir) => {
      import graft.core.{Dml, Mv, VersionLog}
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val root = CacheScope.stage("mvdml_q")
      val table = s"$root/events_v"; val mv = s"$root/mv"
      val keys = Seq("event_type"); val sums = Seq("user_id")
      ev.drop("g").repartitionByRange(4, col("event_id"))
        .write.parquet(table)
      VersionLog.snapshot(s, table)
      Mv.refresh(s, table, mv, keys, sums)
      Dml.deleteWhere(s, table, col("user_id") % 9 === 4)
      Mv.refresh(s, table, mv, keys, sums)
      val corr = ev.filter(col("g") === "b").drop("g")
        .withColumn("user_id", col("user_id") + 3000L)
      Dml.mergeInto(s, table, corr, Seq("event_id"))
      Mv.refresh(s, table, mv, keys, sums)
      Mv.read(s, mv)
        .select(col("event_type"), col("n_rows"),
          col("user_id__sum").as("user_sum"))
        .orderBy(col("event_type"))
    }),

    // CDC APPLY / keyed replica (core/Cdc): a downstream mirror
    // follows the source through append, DELETE, MERGE, and a compact
    // it must skip — each sync consumes the row-level change feed
    // since its cursor and applies it as one MERGE + one key-set
    // DELETE (delta-sized work, the only replication shape that
    // survives 100 TB). The oracle replays the final table algebra;
    // replica == source head is the tripwire.
    "q255_cdc_mirror" -> ((s, dir) => {
      import graft.core.{Cdc, Dml, VersionLog}
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val root = CacheScope.stage("cdc_q")
      val src = s"$root/src"; val rep = s"$root/rep"
      ev.filter(col("g") < "8").drop("g")
        .repartitionByRange(4, col("event_id")).write.parquet(src)
      VersionLog.snapshot(s, src) // v1
      Cdc.mirrorOnce(s, src, rep, Seq("event_id")) // bootstrap sync
      ev.filter(col("g") >= "8").drop("g")
        .write.mode("append").parquet(src)
      VersionLog.snapshot(s, src) // v2
      Dml.deleteWhere(s, src, col("user_id") % 6 === 1) // v3
      val corr = ev.filter(col("g") === "c").drop("g")
        .withColumn("user_id", col("user_id") + 4000L)
      val back = ev.filter(col("g") === "2").drop("g")
        .withColumn("event_id", col("event_id") + 40000000L)
      Dml.mergeInto(s, src, corr.unionByName(back), Seq("event_id")) // v4
      VersionLog.compact(s, src, files = 2) // v5: the mirror skips it
      require(Cdc.mirrorOnce(s, src, rep, Seq("event_id")) ==
        Some((1, 5)), "one catch-up sync must cover v2..v5")
      Cdc.readMirror(s, rep)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("u_sum"),
          sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    }),

    // OPTIMIZE ZORDER BY (VersionLog.compactZOrdered via the CLI):
    // three hash-scattered ingests (every file spans nearly the full
    // range of both dims — nothing prunes), then ONE optimize
    // re-clusters the table on the (user_id, minute) Z-curve and heals
    // the zone-map manifest in-command; the 2-D box prune then reads a
    // strict subset of files. The oracle replays the declared box.
    "q256_optimize_zorder" -> ((s, dir) => {
      import graft.core.{LakeCli, Layout}
      import graft.streaming.IngestStreams
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("g"))
      val tmp = CacheScope.stage("optz_q") + "/events_v"
      val batches = Seq(
        ev.filter(col("g") < "6"),
        ev.filter(col("g") >= "6" && col("g") < "b"),
        ev.filter(col("g") >= "b")).map(_.drop("g").repartition(4))
      batches.zipWithIndex.foreach { case (b, i) =>
        IngestStreams.ingestBatch(b, i.toLong, tmp)
      }
      Layout.writeManifest(s, tmp, Seq("user_id", "minute"))
      val cli = new LakeCli(s)
      cli.optimizeZOrder(tmp, files = 8, dims = Seq("user_id", "minute"))
      val m0 = ev.agg(min(col("minute"))).collect()(0).getLong(0)
      val boxes = Seq(("user_id", 10L, 50L), ("minute", m0, m0 + 1439L))
      val kept = Layout.prunedFiles(s, tmp, boxes)
      require(kept.nonEmpty && kept.size < 8,
        s"the z-ordered layout must prune the 2-D box: ${kept.size}/8")
      Layout.prunedRead(s, tmp, boxes, kept)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("minute")).as("minute_sum"))
        .orderBy(col("user_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         sum(l_quantity) / count(*) AS avg_qty,
         count(*) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_filter_ranges" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE ((o_orderkey >= 1000 AND o_orderkey < 20000) OR o_orderkey >= 50000)
           AND o_orderpriority LIKE '1-%'
         ORDER BY o_orderkey""",
    "q03_semi_join" ->
      """SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         GROUP BY 1 ORDER BY 1""",
    "q04_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         GROUP BY 1 ORDER BY 1""",
    "q05_any_left_join" ->
      """SELECT o_orderkey, o_orderstatus, l_linenumber, l_quantity, l_partkey
         FROM orders LEFT JOIN (
           SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
             SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
                    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
             FROM lineitem) WHERE rn = 1) li
         ON o_orderkey = li.l_orderkey
         ORDER BY o_orderkey""",
    "q06_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q07_union_distinct" ->
      """SELECT DISTINCT k FROM (
           SELECT o_custkey AS k FROM orders
           UNION ALL SELECT c_custkey AS k FROM customer
           UNION ALL SELECT s_suppkey AS k FROM supplier)
         ORDER BY k""",
    "q08_count_distinct" ->
      """SELECT CAST(floor(user_id / 100) * 100 AS BIGINT) AS user_bucket,
         count(DISTINCT event_type) AS n_types,
         count(DISTINCT user_id) AS n_users,
         count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "q09_quantiles" ->
      """SELECT event_type,
         quantile_cont(value, 0.2) AS q20,
         quantile_cont(value, 0.5) AS q50,
         quantile_cont(value, 0.9) AS q90
         FROM events GROUP BY 1 ORDER BY 1""",
    "q10_dedup_final" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id""",
    "q11_flag_antijoin" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
         AND user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'signup' AND value > 250)
         ORDER BY user_id""",
    "q12_multikey_join" ->
      """SELECT e.user_id, e.event_type, count(*) AS n_above
         FROM events e JOIN (
           SELECT user_id, event_type,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) / count(*) AS DOUBLE) AS avg_v
           FROM events GROUP BY 1, 2) s
         ON e.user_id = s.user_id AND e.event_type = s.event_type
         WHERE e.value > s.avg_v
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q13_moving_avg" ->
      """SELECT user_id, event_id, value,
         round(CASE WHEN rn >= 5 THEN ma ELSE value END, 6) AS ma5
         FROM (
           SELECT user_id, event_id, value,
                  row_number() OVER w AS rn,
                  avg(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma
           FROM events WHERE user_id < 20
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         ORDER BY user_id, event_id""",
    "q14_daily_series" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1 ORDER BY 1""",
    "q15_string_scalars" ->
      """SELECT doc_id, substring(text, 1, 12) AS prefix, length(text) AS len,
         lower(source) AS src, concat('0x', lang) AS tagged
         FROM documents ORDER BY doc_id""",
    "q16_uint256_decode" ->
      """SELECT o_orderkey,
         o_orderkey / power(10, CASE WHEN o_orderkey % 5 = 0 THEN 18
                                     ELSE o_orderkey % 4 END) AS decoded,
         o_orderkey AS roundtrip
         FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""",
    "q17_balances" ->
      """SELECT user_id,
         greatest(0.0, income - outcome + reward - fee + fee_reward) AS balance
         FROM (
           SELECT user_id,
             coalesce(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS income,
             coalesce(CAST(sum(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS outcome,
             coalesce(CAST(sum(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS reward,
             coalesce(CAST(sum(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS fee,
             coalesce(CAST(sum(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS fee_reward
           FROM events GROUP BY 1)
         ORDER BY user_id""",
    "q82_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events),
         flagged AS (
           SELECT user_id, event_id, t, value,
             CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         sess AS (
           SELECT user_id, t, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
           FROM flagged)
         SELECT user_id, session_id::BIGINT AS session_id,
           count(*) AS n_events,
           min(t) AS t_start, max(t) AS t_end,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM sess GROUP BY 1, 2 ORDER BY 1, 2""",
    "q84_asof_join" ->
      """WITH q AS (
           SELECT user_id, epoch_us(ts) AS t_us, max(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         p AS (
           SELECT event_id, user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.t_us,
           q.t_us AS click_t_us, q.click_value
         FROM p ASOF LEFT JOIN q
           ON p.user_id = q.user_id AND p.t_us >= q.t_us
         ORDER BY p.event_id""",
    // q216: the engine's DECLARED pair-join+max_by runs through
    // AsofJoinRewrite; the oracle is DuckDB's native ASOF (inner) join
    // — nearest click at-or-before, then the identical strict 7-day
    // staleness cut. ASOF inner drops no-match purchases exactly as
    // the declared inner join + group-by does.
    "q216_declared_asof" ->
      """WITH q AS (
           SELECT user_id AS cu, epoch_us(ts) AS ct,
             max(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         p AS (
           SELECT event_id, user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.t_us,
           q.cents AS click_cents, q.ct AS click_t_us
         FROM p ASOF JOIN q
           ON p.user_id = q.cu AND p.t_us >= q.ct
         WHERE p.t_us - q.ct < 604800000000
         ORDER BY p.event_id""",
    // q223: the declared keyed sandwich — the oracle replays the join
    // exactly as written (DuckDB plans its own IEJoin for it).
    "q223_keyed_range_rule" ->
      """WITH p AS (
           SELECT event_id AS p_id, user_id AS pu,
             epoch_us(ts) - 259200000000 AS lo, epoch_us(ts) AS hi
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'click')
         SELECT p.p_id, count(*)::BIGINT AS n_clicks
         FROM c JOIN p ON c.user_id = p.pu
           AND c.t_us >= p.lo AND c.t_us < p.hi
         GROUP BY 1 ORDER BY 1""",
    "q204_asof_tolerance" ->
      """WITH q AS (
           SELECT user_id, epoch_us(ts) AS t_us, max(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         p AS (
           SELECT event_id, user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT p.event_id, p.user_id, p.t_us,
             q.t_us AS click_t_us, q.click_value
           FROM p ASOF LEFT JOIN q
             ON p.user_id = q.user_id AND p.t_us >= q.t_us)
         SELECT event_id, user_id, t_us,
           CASE WHEN click_t_us IS NULL OR t_us - click_t_us > 86400000000
                THEN NULL ELSE click_t_us END AS click_t_us,
           CASE WHEN click_t_us IS NULL OR t_us - click_t_us > 86400000000
                THEN NULL ELSE click_value END AS click_value
         FROM j ORDER BY event_id""",
    "q205_column_profile" ->
      """WITH e AS (SELECT user_id, event_type,
             nullif(event_type, 'click') AS etnc,
             CAST(value AS DECIMAL(18,2)) AS vc,
             epoch_us(ts) AS t_us
           FROM events)
         SELECT * FROM (
           SELECT 'user_id' AS "column", count(*)::BIGINT AS n_rows,
             (count(*) - count(user_id))::BIGINT AS n_nulls,
             count(DISTINCT user_id)::BIGINT AS n_distinct,
             min(user_id)::VARCHAR AS min_s, max(user_id)::VARCHAR AS max_s
           FROM e
           UNION ALL
           SELECT 'event_type', count(*), count(*) - count(event_type),
             count(DISTINCT event_type), min(event_type), max(event_type)
           FROM e
           UNION ALL
           SELECT 'event_type_nonclick', count(*), count(*) - count(etnc),
             count(DISTINCT etnc), min(etnc), max(etnc)
           FROM e
           UNION ALL
           SELECT 'value_c', count(*), count(*) - count(vc),
             count(DISTINCT vc), min(vc)::VARCHAR, max(vc)::VARCHAR
           FROM e
           UNION ALL
           SELECT 't_us', count(*), count(*) - count(t_us),
             count(DISTINCT t_us), min(t_us)::VARCHAR, max(t_us)::VARCHAR
           FROM e)
         ORDER BY "column"""",
    "q207_bloom_join" ->
      """SELECT o.o_custkey,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
           count(*)::BIGINT AS n_items
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderpriority = '1-URGENT'
         GROUP BY 1 ORDER BY 1""",
    "q208_interval_merge" ->
      """WITH le AS (SELECT user_id, epoch_us(ts) AS lo,
             epoch_us(ts) + 1800000000 AS hi FROM events),
         m AS (SELECT user_id, lo, hi,
             max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM le),
         isl AS (SELECT user_id, lo, hi,
             sum(CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY lo, hi
                 ROWS UNBOUNDED PRECEDING) AS island
           FROM m)
         SELECT user_id, min(lo) AS span_start, max(hi) AS span_end,
           count(*)::BIGINT AS n_merged
         FROM isl GROUP BY user_id, island
         ORDER BY user_id, span_start""",
    "q211_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS t_us, value FROM events),
         p AS (SELECT event_id, user_id,
             t_us - 604800000000 AS lo, t_us + 1 AS hi,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM e WHERE event_type = 'purchase'),
         c AS (SELECT user_id, t_us AS tc FROM e WHERE event_type = 'click'),
         m AS (SELECT p.event_id, p.user_id, p.cents, count(*)::BIGINT AS n_touches
           FROM p JOIN c ON p.user_id = c.user_id
             AND c.tc >= p.lo AND c.tc < p.hi
           GROUP BY 1, 2, 3)
         SELECT event_id, user_id, n_touches,
           (cents // n_touches) AS credit_cents
         FROM m ORDER BY event_id""",
    "q213_range_rule" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS t_us FROM events),
         b AS (SELECT min(t_us) AS t0, max(t_us) AS t1 FROM e),
         spine AS (SELECT d,
             b.t0 + d * 86400000000 AS lo,
             b.t0 + (d + 1) * 86400000000 AS hi
           FROM b, unnest(range(0, ((b.t1 - b.t0) // 86400000000) + 1)) AS u(d))
         SELECT s.d, count(*)::BIGINT AS n_events
         FROM e JOIN spine s ON e.t_us >= s.lo AND e.t_us < s.hi
         GROUP BY 1 ORDER BY 1""",
    "q86_funnel" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
         s1 AS (
           SELECT user_id, event_id, event_type, t,
             CASE WHEN event_type = 'signup' THEN t END AS c0,
             min(CASE WHEN event_type = 'signup' THEN t END) OVER w AS r0
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                               ROWS UNBOUNDED PRECEDING)),
         s2 AS (
           SELECT user_id, event_id, event_type, t, c0,
             CASE WHEN event_type = 'click' AND r0 IS NOT NULL THEN t END AS c1,
             min(CASE WHEN event_type = 'click' AND r0 IS NOT NULL THEN t END)
               OVER w AS r1
           FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING)),
         s3 AS (
           SELECT user_id, c0, c1,
             CASE WHEN event_type = 'purchase' AND r1 IS NOT NULL THEN t END AS c2
           FROM s2)
         SELECT user_id,
           min(c0) AS t_signup, min(c1) AS t_click, min(c2) AS t_purchase,
           (CASE WHEN min(c2) IS NOT NULL THEN 3
                 WHEN min(c1) IS NOT NULL THEN 2
                 WHEN min(c0) IS NOT NULL THEN 1 ELSE 0 END)::INT AS stage_reached
         FROM s3 GROUP BY 1 ORDER BY 1""",
    "q87_retention" ->
      """WITH e AS (
           SELECT user_id, date_trunc('day', ts) AS d FROM events),
         first AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1),
         j AS (
           SELECT e.user_id,
             strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
             date_diff('day', f.cohort, e.d)::INT AS day_offset
           FROM e JOIN first f ON e.user_id = f.user_id)
         SELECT cohort_day, day_offset, count(DISTINCT user_id) AS n_users
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",
    "q88_interval_join" ->
      """WITH s AS (
           SELECT user_id, event_id AS signup_id, epoch_us(ts) AS lo,
             epoch_us(ts) + 3600000000 AS hi
           FROM events WHERE event_type = 'signup'),
         e AS (SELECT user_id, epoch_us(ts) AS t FROM events)
         SELECT s.signup_id, s.user_id, count(*) AS n_events
         FROM s JOIN e ON s.user_id = e.user_id
           AND e.t >= s.lo AND e.t < s.hi
         GROUP BY 1, 2 ORDER BY 1""",
    "q89_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           (GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus))::BIGINT AS gid,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, flag, status""",
    "q197_set_ops" ->
      """SELECT o_custkey, 'retained' AS status FROM (
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
           INTERSECT
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
         UNION ALL
         SELECT o_custkey, 'churned' AS status FROM (
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
           EXCEPT
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
         ORDER BY status, o_custkey""",
    "q198_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           (GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus))::BIGINT AS gid,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, flag, status""",
    "q90_ntile" ->
      """WITH spend AS (
           SELECT user_id,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
           FROM events GROUP BY 1)
         SELECT user_id, spend,
           ntile(10) OVER (ORDER BY spend DESC, user_id)::BIGINT AS decile
         FROM spend ORDER BY user_id""",
    "q91_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
           CAST(sum(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
           CAST(sum(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
         FROM events GROUP BY 1 ORDER BY 1""",
    "q93_scd2" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS t, event_type FROM events),
         c AS (
           SELECT user_id, event_id, t, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
           FROM e),
         f AS (
           SELECT user_id, event_id, t, event_type FROM c
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, t AS valid_from,
           lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to
         FROM f ORDER BY user_id, valid_from""",
    "q94_corr" ->
      """WITH m AS (
           SELECT event_type,
             count(*)::BIGINT AS n,
             sum(xc)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
             sum(xc::HUGEINT * xc)::DOUBLE AS sxx,
             sum(y::HUGEINT * y)::DOUBLE AS syy,
             sum(xc::HUGEINT * y)::DOUBLE AS sxy
           FROM (
             SELECT event_type,
               CAST(round(value * 100.0) AS BIGINT) AS xc,
               CAST(hour(ts) AS BIGINT) AS y
             FROM events)
           GROUP BY 1)
         SELECT event_type, n,
           floor((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             * 1e6) / 1e6 AS corr_vh
         FROM m ORDER BY event_type""",
    "q95_histogram" ->
      """SELECT event_type,
           CAST(floor(value / 10.0) AS BIGINT) AS bucket,
           count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q98_winsorize" ->
      """WITH r AS (
           SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         b AS (
           SELECT event_type,
             max(CASE WHEN rk = greatest(1, ceil(0.05 * n)) THEN value END) AS lo,
             max(CASE WHEN rk = least(n, ceil(0.95 * n)) THEN value END) AS hi
           FROM r GROUP BY 1)
         SELECT e.event_type, count(*) AS n, b.lo, b.hi,
           floor(CAST(sum(CAST(least(greatest(e.value, b.lo), b.hi) AS DECIMAL(18,2))) AS DOUBLE)
             / count(*) * 1e6) / 1e6 AS wmean
         FROM events e JOIN b ON e.event_type = b.event_type
         GROUP BY 1, b.lo, b.hi ORDER BY 1""",
    "q99_gapfill" ->
      """WITH daily AS (
           SELECT user_id, date_trunc('day', ts) AS d,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_v
           FROM events GROUP BY 1, 2),
         span AS (
           SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
           FROM events),
         scaffold AS (
           SELECT u.user_id, unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS d
           FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN span s)
         SELECT sc.user_id, strftime(sc.d, '%Y-%m-%d') AS day,
           coalesce(dl.n_events, 0) AS n_events,
           last_value(dl.day_v IGNORE NULLS) OVER (
             PARTITION BY sc.user_id ORDER BY sc.d
             ROWS UNBOUNDED PRECEDING) AS filled_v
         FROM scaffold sc LEFT JOIN daily dl
           ON sc.user_id = dl.user_id AND sc.d = dl.d
         ORDER BY sc.user_id, day""",
    "q96_json" ->
      """SELECT event_type,
           count(k) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k, max(k) AS max_k,
           count(CASE WHEN k > 50 THEN 1 END) AS n_high
         FROM (
           SELECT event_type, json_extract(props, '$.k')::BIGINT AS k
           FROM events)
         GROUP BY 1 ORDER BY 1""",

    // q160: full recompute over all events — the merged incremental
    // state must equal this exactly (same DECIMAL sum, same 1e-6
    // mean grid).
    "q160_delta_agg" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total,
           floor(CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE)
                 / count(*) * 1e6) / 1e6 AS mean,
           min(value) AS min_v, max(value) AS max_v
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",

    // q189: DuckDB native forward ASOF (the <= inequality) over the
    // same (user, ts)-deduped purchase side.
    "q189_asof_forward" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS t_us,
             max(value) AS purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, epoch_us(ts) AS t_us
               FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id, c.t_us,
           p.t_us AS purchase_t_us, p.purchase_value,
           CASE WHEN p.t_us IS NOT NULL THEN p.t_us - c.t_us END AS lag_us
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.t_us <= p.t_us
         ORDER BY c.event_id""",

    // q187: identical (user, day) dedup and day-spine range join.
    "q187_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         days AS (SELECT DISTINCT day AS d FROM ud)
         SELECT d, count(DISTINCT ud.user_id)::BIGINT AS active_7d
         FROM days JOIN ud ON ud.day >= days.d - 6 AND ud.day <= days.d
         GROUP BY d ORDER BY d""",

    // q221: the state-table fold is exact set-union algebra in the
    // same regime, so the oracle is q187's exact rolling distinct too
    // — how history was sliced into batches must not be observable.
    "q221_rolling_kmv_state" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         days AS (SELECT DISTINCT day AS d FROM ud)
         SELECT d, count(DISTINCT ud.user_id)::BIGINT AS active_7d
         FROM days JOIN ud ON ud.day >= days.d - 6 AND ud.day <= days.d
         GROUP BY d ORDER BY d""",

    // q214: the exact-regime contract — sketch-union counts must equal
    // the exact rolling distinct, so the oracle IS q187's.
    "q214_rolling_kmv" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         days AS (SELECT DISTINCT day AS d FROM ud)
         SELECT d, count(DISTINCT ud.user_id)::BIGINT AS active_7d
         FROM days JOIN ud ON ud.day >= days.d - 6 AND ud.day <= days.d
         GROUP BY d ORDER BY d""",

    // q181: same md5 key gate and per-key products.
    "q181_join_fanout" ->
      """WITH o AS (SELECT o_custkey AS k, count(*)::BIGINT AS ca FROM orders
                    WHERE substr(md5(o_custkey::VARCHAR), 1, 1) = '0' GROUP BY 1),
         c AS (SELECT c_custkey AS k, count(*)::BIGINT AS cb FROM customer
               WHERE substr(md5(c_custkey::VARCHAR), 1, 1) = '0' GROUP BY 1),
         p AS (SELECT o.k, (o.ca * c.cb)::BIGINT AS rows_out
               FROM o JOIN c ON o.k = c.k)
         SELECT count(*)::BIGINT AS n_sampled_keys,
           sum(rows_out)::BIGINT AS sampled_rows,
           (sum(rows_out) * 16)::BIGINT AS est_rows,
           max(rows_out)::BIGINT AS max_key_fanout
         FROM p""",

    // q182: q94's DECIMAL-moment discipline, slope on the 1e-6 grid
    // (in dollars: /100 folds into the one double expression).
    "q182_group_trend" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         d0 AS (SELECT min(day) AS d0 FROM e),
         xy AS (SELECT event_type,
                  (day - d0.d0)::HUGEINT AS x, cents::HUGEINT AS y
                FROM e CROSS JOIN d0),
         a AS (SELECT event_type, count(*)::BIGINT AS n,
                 CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                 CAST(sum(x * x) AS DOUBLE) AS sxx,
                 CAST(sum(x * y) AS DOUBLE) AS sxy
               FROM xy GROUP BY 1)
         SELECT event_type, n,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             ELSE floor((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0 * 1e6) / 1e6
           END AS slope_per_day
         FROM a ORDER BY event_type""",

    // q180: the q93 full-rebuild — the merged increment must hash-
    // match it exactly.
    "q180_scd2_merge" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type
                    FROM events),
         ch AS (SELECT user_id, event_id, t, event_type FROM (
             SELECT user_id, event_id, t, event_type,
               lag(event_type) OVER w AS prev
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, t AS valid_from,
           lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to
         FROM ch ORDER BY user_id, valid_from""",

    // q173: same integer decay grid and day arithmetic.
    "q173_decay_agg" ->
      """WITH e AS (SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) // 86400000000 AS day
           FROM events),
         m AS (SELECT max(day) AS maxd FROM e),
         w AS (SELECT user_id, cents,
             (1000000000 // (1::BIGINT << least(m.maxd - day, 30)::INT)) AS w_fx
           FROM e CROSS JOIN m)
         SELECT user_id, count(*)::BIGINT AS n,
           ((sum(cents * w_fx)::BIGINT) // 100000)::DOUBLE / 1e6 AS decayed_spend
         FROM w GROUP BY 1 ORDER BY user_id""",

    // q174: same exact order-statistic medians on the cents grid.
    "q174_mad_anomaly" ->
      """WITH e AS (SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         r1 AS (SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM e),
         med AS (SELECT event_type, max(CASE WHEN rk = ceil(n / 2.0) THEN c END) AS med_c
                 FROM r1 GROUP BY 1),
         dev AS (SELECT e.event_type, e.event_id, e.c, abs(e.c - med.med_c) AS d, med.med_c
                 FROM e JOIN med ON e.event_type = med.event_type),
         r2 AS (SELECT event_type, d,
             row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM dev),
         mad AS (SELECT event_type, max(CASE WHEN rk = ceil(n / 2.0) THEN d END) AS mad_c
                 FROM r2 GROUP BY 1)
         SELECT dev.event_type, count(*)::BIGINT AS n,
           (dev.med_c::DOUBLE / 100.0) AS med,
           (mad.mad_c::DOUBLE / 100.0) AS mad,
           count(CASE WHEN dev.d > 3 * mad.mad_c THEN 1 END)::BIGINT AS n_anomalies
         FROM dev JOIN mad ON dev.event_type = mad.event_type
         GROUP BY dev.event_type, dev.med_c, mad.mad_c
         ORDER BY dev.event_type""",

    // q172: exact distinct-user set algebra replayed relationally.
    "q172_bitmap_cohort" ->
      """WITH ua AS (SELECT DISTINCT event_type, user_id FROM events),
         n AS (SELECT event_type, count(*)::BIGINT AS n FROM ua GROUP BY 1),
         bo AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  count(*)::BIGINT AS n_both
                FROM ua a JOIN ua b
                ON a.user_id = b.user_id AND a.event_type < b.event_type
                GROUP BY 1, 2)
         SELECT na.event_type AS type_a, nb.event_type AS type_b,
           na.n AS n_a, nb.n AS n_b,
           coalesce(bo.n_both, 0)::BIGINT AS n_both,
           (na.n - coalesce(bo.n_both, 0))::BIGINT AS n_only_a,
           ((coalesce(bo.n_both, 0) * 1000000)
             // (na.n + nb.n - coalesce(bo.n_both, 0)))::DOUBLE / 1e6 AS jaccard
         FROM n na JOIN n nb ON na.event_type < nb.event_type
         LEFT JOIN bo ON bo.type_a = na.event_type AND bo.type_b = nb.event_type
         ORDER BY type_a, type_b""",

    // q169: identical per-user lead windows and path rollup.
    "q169_event_paths" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type
                    FROM events),
         tri AS (SELECT event_type AS s1,
                   lead(event_type, 1) OVER w AS s2,
                   lead(event_type, 2) OVER w AS s3
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
         SELECT s1, s2, s3, count(*)::BIGINT AS n
         FROM tri WHERE s2 IS NOT NULL AND s3 IS NOT NULL
         GROUP BY 1, 2, 3 ORDER BY n DESC, s1, s2, s3""",

    // q162: the identical 31-bit Morton spread (5 mask-and-shift
    // steps per dimension), SQL ntile over (zv, event_id).
    "q162_zorder" -> {
      def spread(v: String): String = {
        val steps = Seq(
          16 -> "281470681808895", 8 -> "71777214294589695",
          4 -> "1085102592571150095", 2 -> "3689348814741910323",
          1 -> "6148914691236517205")
        steps.foldLeft(s"(($v) & 2147483647)") { case (x, (sh, m)) =>
          s"(($x | ($x << $sh)) & $m)"
        }
      }
      s"""WITH b AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute FROM events),
         z AS (SELECT event_id, user_id, minute,
             (${spread("user_id")} | (${spread("minute")} << 1)) AS zv
           FROM b),
         nt AS (SELECT user_id, minute,
             ntile(16) OVER (ORDER BY zv, event_id)::BIGINT AS bucket
           FROM z)
         SELECT bucket, count(*)::BIGINT AS n,
           min(user_id) AS user_min, max(user_id) AS user_max,
           min(minute) AS minute_min, max(minute) AS minute_max
         FROM nt GROUP BY 1 ORDER BY bucket"""
    },
    // q224: the layout and the manifest are invisible to semantics —
    // the oracle is the declared 2-D box filter over events.
    "q224_zonemap_scan" ->
      """WITH e AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute FROM events),
         b AS (SELECT min(minute) AS m0 FROM e)
         SELECT e.user_id, count(*)::BIGINT AS n,
           min(e.minute) AS minute_min, max(e.minute) AS minute_max
         FROM e, b
         WHERE e.user_id BETWEEN 10 AND 50
           AND e.minute BETWEEN b.m0 AND b.m0 + 1439
         GROUP BY 1 ORDER BY 1""",
    // q225: base/late split, append, and incremental manifest are all
    // invisible — the oracle filters ALL events by the declared box.
    "q225_zonemap_append" ->
      """WITH e AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute FROM events),
         b AS (SELECT min(minute) AS m0 FROM e)
         SELECT e.user_id, count(*)::BIGINT AS n,
           sum(e.minute)::BIGINT AS minute_sum
         FROM e, b
         WHERE e.user_id BETWEEN 0 AND 9
           AND e.minute BETWEEN b.m0 AND b.m0 + 10079
         GROUP BY 1 ORDER BY 1""",
    // q226: the layout write, manifest, and the rule's file pruning are
    // all invisible — the oracle filters ALL events by the declared box.
    "q226_zonemap_rule" ->
      """WITH e AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute FROM events),
         b AS (SELECT min(minute) AS m0 FROM e)
         SELECT e.user_id, count(*)::BIGINT AS n,
           min(e.minute) AS minute_min, max(e.minute) AS minute_max
         FROM e, b
         WHERE e.user_id BETWEEN 10 AND 50
           AND e.minute BETWEEN b.m0 AND b.m0 + 1439
         GROUP BY 1 ORDER BY 1""",
    // q227: the parquet writes, snapshots, and version reads are the
    // machinery under test; semantically v1 = the md5-gated base set
    // and v2 = everything, which is exactly what the oracle replays.
    "q227_time_travel" ->
      """SELECT user_id,
           count(*) FILTER (WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
             <> 'f')::BIGINT AS n_v1,
           count(*)::BIGINT AS n_now
         FROM events GROUP BY 1 ORDER BY 1""",
    // q229: the same tier dictionary as a declared range join — the
    // broadcast binary-search enrichment must be semantically invisible.
    "q229_range_dict" ->
      """WITH tiers(tid, lo, hi) AS (VALUES
           (1, 0, 1), (2, 1, 3), (3, 3, 8), (4, 8, 21),
           (5, 21, 55), (6, 55, 200))
         SELECT t.tid::BIGINT AS tid, count(*)::BIGINT AS n,
           count(DISTINCT e.user_id)::BIGINT AS n_users
         FROM events e JOIN tiers t
           ON e.user_id >= t.lo AND e.user_id < t.hi
         GROUP BY 1 ORDER BY 1""",
    // q230: the delta between v1 and v2 is exactly the gated late batch.
    "q230_version_changes" ->
      """SELECT user_id, count(*)::BIGINT AS n_new,
           sum(event_id)::BIGINT AS id_sum
         FROM events
         WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = 'f'
         GROUP BY 1 ORDER BY 1""",
    // q231: batch slicing, markers, replays, and version reads are all
    // invisible — the latest version answers like the plain table.
    "q231_versioned_ingest" ->
      """SELECT event_type, count(*)::BIGINT AS n,
           count(DISTINCT user_id)::BIGINT AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    // q234: delta-by-delta partial rollups must sum to the full answer.
    "q234_incremental_rollup" ->
      """SELECT user_id, count(*)::BIGINT AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    // q235: the bloom prune + residual is row-identical to the plain IN.
    "q235_bloom_lookup" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id IN (7, 42, 123, 256, 499) ORDER BY doc_id""",
    // q236: the manifest's n_rows sum is the exact count.
    "q236_metadata_count" ->
      """SELECT count(*)::BIGINT AS n_rows FROM events""",
    // q237: delta-folded MV state == the full recompute.
    "q237_incremental_mv" ->
      """SELECT user_id, count(*)::BIGINT AS n_rows,
           sum(event_id)::BIGINT AS id_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // q238: compaction and vacuum are invisible to the surviving version.
    "q238_compact_vacuum" ->
      """SELECT event_type, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS id_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // q239: the survivors of the declared DELETE predicate.
    "q239_cow_delete" ->
      """SELECT event_type, count(*)::BIGINT AS n,
           count(DISTINCT user_id)::BIGINT AS n_users
         FROM events WHERE user_id % 7 <> 3
         GROUP BY 1 ORDER BY 1""",
    // q240: MERGE algebra replayed — (table ANTI-JOIN update keys) ∪
    // updates, where updates = gated corrections ∪ re-keyed backfills.
    "q240_cow_merge" ->
      """WITH u AS (
           SELECT event_id, user_id + 1000 AS user_id, event_type
           FROM events WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = 'f'
           UNION ALL
           SELECT event_id + 10000000 AS event_id, user_id, event_type
           FROM events WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'),
         m AS (
           SELECT e.event_id, e.user_id, e.event_type FROM events e
           WHERE e.event_id NOT IN (SELECT event_id FROM u)
           UNION ALL
           SELECT * FROM u)
         SELECT event_type, count(*)::BIGINT AS n,
           sum(user_id)::BIGINT AS user_sum
         FROM m GROUP BY 1 ORDER BY 1""",
    // q241: the landed-and-folded MV == the full recompute.
    "q241_ingest_mv_loop" ->
      """SELECT event_type, count(*)::BIGINT AS n_rows,
           sum(user_id)::BIGINT AS user_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // q242: dedup ingestion over overlapping windows == each event once.
    "q242_dedup_ingest" ->
      """SELECT event_type, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS id_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // q243: versioned landing + incremental zone maps + box prune are
    // all invisible — the oracle filters ALL events by the declared box.
    "q243_versioned_zonemap" ->
      """WITH e AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute FROM events),
         b AS (SELECT min(minute) AS m0 FROM e)
         SELECT e.user_id, count(*)::BIGINT AS n,
           sum(e.minute)::BIGINT AS minute_sum
         FROM e, b
         WHERE e.minute BETWEEN b.m0 AND b.m0 + 1439
         GROUP BY 1 ORDER BY 1""",
    // q244: the 3-D layout + prune is invisible — the oracle filters
    // ALL events by the declared 3-D box.
    "q244_zorder3" ->
      """WITH e AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute,
             event_id % 64 AS eb FROM events),
         b AS (SELECT min(minute) AS m0 FROM e)
         SELECT e.user_id, count(*)::BIGINT AS n,
           sum(e.eb)::BIGINT AS eb_sum
         FROM e, b
         WHERE e.user_id BETWEEN 10 AND 50
           AND e.minute BETWEEN b.m0 AND b.m0 + 1439
           AND e.eb BETWEEN 0 AND 15
         GROUP BY 1 ORDER BY 1""",
    // q245: the change feed's event algebra replayed from the base
    // table — append inserts, delete victims, merge preimages (rows of
    // the post-delete table matching correction keys) + merge inserts.
    "q245_change_feed" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS g FROM events),
         ins2 AS (SELECT event_id, user_id, event_type FROM e WHERE g >= '8'),
         del3 AS (SELECT event_id, user_id, event_type FROM e WHERE user_id % 5 = 0),
         t3 AS (SELECT event_id, user_id, event_type FROM e WHERE user_id % 5 <> 0),
         corr AS (SELECT event_id, user_id + 2000 AS user_id, event_type
                  FROM e WHERE g = 'a'),
         back AS (SELECT event_id + 20000000 AS event_id, user_id, event_type
                  FROM e WHERE g = '1'),
         pre4 AS (SELECT t3.event_id, t3.user_id, t3.event_type FROM t3
                  WHERE t3.event_id IN (SELECT event_id FROM corr)),
         feed AS (
           SELECT 'insert' AS change_type, event_id, user_id, event_type FROM ins2
           UNION ALL SELECT 'delete', event_id, user_id, event_type FROM del3
           UNION ALL SELECT 'insert', event_id, user_id, event_type FROM corr
           UNION ALL SELECT 'insert', event_id, user_id, event_type FROM back
           UNION ALL SELECT 'delete', event_id, user_id, event_type FROM pre4)
         SELECT change_type, event_type, count(*)::BIGINT AS n,
           sum(user_id)::BIGINT AS u_sum, sum(event_id)::BIGINT AS id_sum
         FROM feed GROUP BY 1, 2 ORDER BY 1, 2""",
    // q246: the MV folded through the OPTIMIZE == the full recompute.
    "q246_mv_through_compact" ->
      """SELECT event_type, count(*)::BIGINT AS n_rows,
           sum(user_id)::BIGINT AS user_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // q247: four concurrent ingest workers, every event exactly once.
    "q247_occ_ingest" ->
      """SELECT event_type, count(*)::BIGINT AS n,
           count(DISTINCT event_id)::BIGINT AS n_ids,
           sum(event_id)::BIGINT AS id_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // q248: three file vintages (pre-evolution, merge-scored, lagging
    // old-schema appends) under one evolved read schema.
    "q248_schema_evolution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS g FROM events),
         t AS (
           SELECT event_id, event_type,
             CASE WHEN g = 'f' THEN user_id END AS score FROM e
           UNION ALL
           SELECT event_id + 30000000, event_type, NULL FROM e WHERE g = '0')
         SELECT event_type, count(*)::BIGINT AS n,
           count(score)::BIGINT AS n_scored,
           sum(score)::BIGINT AS score_sum
         FROM t GROUP BY 1 ORDER BY 1""",
    // q249: the healed manifest's pruned read == box AND survivors.
    "q249_dml_manifest_heal" ->
      """WITH e AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute FROM events),
         b AS (SELECT min(minute) AS m0 FROM e)
         SELECT e.user_id, count(*)::BIGINT AS n,
           sum(e.minute)::BIGINT AS minute_sum
         FROM e, b
         WHERE e.minute BETWEEN b.m0 AND b.m0 + 1439
           AND e.user_id % 7 <> 3
         GROUP BY 1 ORDER BY 1""",
    // q250: the auto-pruned versioned scan == the declared box filter.
    "q250_versioned_autoprune" ->
      """WITH e AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute FROM events),
         b AS (SELECT min(minute) AS m0 FROM e)
         SELECT e.user_id, count(*)::BIGINT AS n,
           sum(e.minute)::BIGINT AS minute_sum
         FROM e, b
         WHERE e.minute BETWEEN b.m0 AND b.m0 + 1439
         GROUP BY 1 ORDER BY 1""",
    // q251: restore un-does the bad merge — back to the plain table.
    "q251_restore" ->
      """SELECT event_type, count(*)::BIGINT AS n,
           sum(user_id)::BIGINT AS u_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // q253: the cursor's sink holds every event exactly once — the
    // compact contributed zero rows to the second delta.
    "q253_cursor_compact" ->
      """SELECT event_type, count(*)::BIGINT AS n,
           count(DISTINCT event_id)::BIGINT AS n_ids,
           sum(event_id)::BIGINT AS id_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // q254: delete + merge algebra replayed — the signed MV fold must
    // equal the full recompute of the final table.
    "q254_mv_through_dml" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS g FROM events),
         t3 AS (SELECT event_id, user_id, event_type FROM e
                WHERE user_id % 9 <> 4),
         corr AS (SELECT event_id, user_id + 3000 AS user_id, event_type
                  FROM e WHERE g = 'b'),
         fin AS (
           SELECT event_id, user_id, event_type FROM t3
           WHERE event_id NOT IN (SELECT event_id FROM corr)
           UNION ALL
           SELECT event_id, user_id, event_type FROM corr)
         SELECT event_type, count(*)::BIGINT AS n_rows,
           sum(user_id)::BIGINT AS user_sum
         FROM fin GROUP BY 1 ORDER BY 1""",
    // q255: the replica after the catch-up sync == the source's final
    // table algebra (append ∪ survivors-of-delete, merged).
    "q255_cdc_mirror" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS g FROM events),
         t3 AS (SELECT event_id, user_id, event_type FROM e
                WHERE user_id % 6 <> 1),
         corr AS (SELECT event_id, user_id + 4000 AS user_id, event_type
                  FROM e WHERE g = 'c'),
         back AS (SELECT event_id + 40000000 AS event_id, user_id, event_type
                  FROM e WHERE g = '2'),
         u AS (SELECT * FROM corr UNION ALL SELECT * FROM back),
         fin AS (
           SELECT event_id, user_id, event_type FROM t3
           WHERE event_id NOT IN (SELECT event_id FROM u)
           UNION ALL
           SELECT event_id, user_id, event_type FROM u)
         SELECT event_type, count(*)::BIGINT AS n,
           sum(user_id)::BIGINT AS u_sum, sum(event_id)::BIGINT AS id_sum
         FROM fin GROUP BY 1 ORDER BY 1""",
    // q256: the optimize + prune is invisible — the oracle filters ALL
    // events by the declared 2-D box.
    "q256_optimize_zorder" ->
      """WITH e AS (SELECT event_id, user_id,
             epoch_us(ts) // 60000000 AS minute FROM events),
         b AS (SELECT min(minute) AS m0 FROM e)
         SELECT e.user_id, count(*)::BIGINT AS n,
           sum(e.minute)::BIGINT AS minute_sum
         FROM e, b
         WHERE e.user_id BETWEEN 10 AND 50
           AND e.minute BETWEEN b.m0 AND b.m0 + 1439
         GROUP BY 1 ORDER BY 1"""
  )
}
