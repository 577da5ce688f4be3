package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{ChainQueries, RelationalQueries, TrainingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of all query families; every entry has a
  * DuckDB oracle in `oracleSql` unless the operator is not SQL-
  * expressible (then the driver records a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_groupby")(spark, "/root/testdata/sf0.001")

  /** The local session every harness and the test suite run on. Parquet
    * TIMESTAMP(NANOS) reads as a long; [[Tables.load]] converts it back.
    * The three plan rules are installed here, so every query plans with
    * them whichever query ran first.
    */
  def localSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.IntervalJoinRewrite.install(s)
    graft.plans.AsofJoinRewrite.install(s)
    graft.plans.ZoneMapPruneRule.install(s)
    s
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ TrainingQueries.queries ++ ChainQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * Every CTE is emitted `AS MATERIALIZED`: DuckDB's planner inlines
    * CTE references by default, and the iterative oracles (unrolled
    * PageRank/PPR/k-core/label-prop generations, reachability walks)
    * reference each generation 2–3 times — inlining re-evaluates the
    * whole quadratic pair pipeline per reference, compounding per
    * generation (round 9: the q141/q153 oracles ran ~6 min EACH and
    * blew the driver's correctness-gate window; materialized they run
    * ~10 s, cell-for-cell identical — measured over every affected
    * query). Applying the rewrite here, at the contract boundary,
    * keeps the authored SQL readable and makes the speedup reach any
    * consumer of the oracle map.
    */
  def oracleSql: Map[String, String] =
    (RelationalQueries.oracles ++ TrainingQueries.oracles ++ ChainQueries.oracles)
      .map { case (k, sql) => k -> materializeCtes(sql) }

  // `name AS (` → `name AS MATERIALIZED (`, but ONLY when the body
  // opens like a query (SELECT / VALUES / FROM-first / nested WITH) —
  // a positive whitelist, so a WINDOW clause in ANY form (`w AS
  // (PARTITION …)`, `w AS (ROWS …)`, `w AS (RANGE …)`) or any other
  // future parenthesized AS can never be corrupted into invalid SQL at
  // this shared contract boundary. Idempotent: after rewriting, `AS`
  // is followed by `MATERIALIZED`, not `(`. Recursive CTEs: only the
  // column-list form (`walk(node, reach) AS (`) escapes the regex (no
  // leading `\w+ AS` match); a bare `WITH RECURSIVE d AS (SELECT …`
  // DOES get rewritten to AS MATERIALIZED, which DuckDB accepts and
  // evaluates correctly (verified on the q124 oracles) — the rewrite
  // is a no-op hint there, not a semantics change.
  private val CteDef =
    """\b(\w+)\s+AS\s+\((?=\s*(?:SELECT|VALUES|FROM|WITH)\b)""".r
  private[graft] def materializeCtes(sql: String): String =
    CteDef.replaceAllIn(sql, m => s"${m.group(1)} AS MATERIALIZED (")
}
