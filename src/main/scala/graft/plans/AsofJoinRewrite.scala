package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max, MaxBy}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite a DECLARED as-of aggregation — the natural
  * "latest quote at-or-before each probe, within a tolerance window"
  * SQL shape —
  *
  * {{{
  *   probes JOIN quotes
  *     ON probes.k = quotes.k
  *    AND quotes.ts <= probes.ts
  *    AND quotes.ts >  probes.ts - tol      -- (or >=)
  *   GROUP BY <probe columns>
  *   AGG      max_by(quotes.v, quotes.ts), max(quotes.ts)
  * }}}
  *
  * — into the carry-forward window plan of
  * [[graft.core.Joins.asofJoin]]: tag both sides, union, one
  * (k)-partitioned (ts, side) sort, `last(payload) ignore nulls` over
  * the running frame, then a map-side staleness test and the original
  * group-by. The declared form makes Catalyst enumerate every
  * (probe, quote) pair inside the tolerance window per key — O(n·w)
  * rows through the join for window population w, a per-key cartesian
  * on hot keys — where the carry plan is one shuffle of each side and
  * O(n) after the sort, and NO JOIN appears in the physical plan at
  * all. Semantics preserved exactly, including the inner-join drop of
  * probes with no in-window quote (the carried match is filtered
  * `IS NOT NULL`), strict vs non-strict lower bounds, and NULL quote
  * values in the winning row (the payload rides in one struct).
  *
  * Fires whenever its guards hold, all required before firing:
  *  - INNER join; condition = >=1 equi conjunct + exactly the two
  *    sandwich conjuncts; both ts sides LongType and deterministic;
  *    tolerance a positive long literal;
  *  - grouping expressions: non-empty attributes of the probe side
  *    only (the side supplying the upper bound's greater ts);
  *  - every aggregate is `max_by(v, quotes.ts)` with `v` from the
  *    quote side, or `max(quotes.ts)` — plain Complete, non-distinct,
  *    unfiltered. Anything else (e.g. count(*) counts PAIRS, which
  *    the carry plan deliberately never materializes) blocks the
  *    rewrite. With grouping finer than a probe row-id the group
  *    winner is still the per-probe winner with the greatest ts, which
  *    is what max_by over the pair join returns — the shapes agree.
  *
  * The replacement subtree is built with the DataFrame API against the
  * already-optimized children (via the `GraftBridge.ofRows` seam) and
  * re-analyzed, then stitched back under a Project that re-issues the
  * original output ExprIds — parents keep resolving untouched.
  *
  * Reference for the operator semantics: pandas `merge_asof`
  * (tolerance), DuckDB ASOF JOIN; the engine's q84/q204 build this
  * plan by hand — this rule gives the DECLARED SQL the same physical
  * strategy.
  */
object AsofJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Hook into a LIVE session (same seam as [[IntervalJoinRewrite]]);
    * idempotent. `SparkEntry.localSession` installs it.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case a @ Aggregate(_, _, j @ Join(_, _, Inner, Some(_), _), None) =>
        rewrite(a, j).getOrElse(a)
      // a pass-through Project (column pruning) between the aggregate
      // and the join is transparent: it only narrows the attribute set
      case a @ Aggregate(_, _, Project(projList, j @ Join(_, _, Inner, Some(_), _)), None)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
        rewrite(a, j).getOrElse(a)
    }

  /** What each original aggregate-list entry maps to. */
  private sealed trait Out
  private case class PassThrough(attr: AttributeReference) extends Out
  private case class MaxByOut(value: Expression) extends Out
  private case object MaxTs extends Out

  /** `qts <= pts` in either spelling → (qts, pts). */
  private def asUpper(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(q, p) => Some((q, p))
    case GreaterThanOrEqual(p, q) => Some((q, p))
    case _ => None
  }

  /** `qts > pts - tol` / `qts >= pts - tol` in either spelling →
    * (qts, pts, tol, strict).
    */
  private def asLower(e: Expression): Option[(Expression, Expression, Long, Boolean)] = e match {
    case GreaterThan(q, Subtract(p, Literal(t: Long, LongType), _)) => Some((q, p, t, true))
    case LessThan(Subtract(p, Literal(t: Long, LongType), _), q) => Some((q, p, t, true))
    case GreaterThanOrEqual(q, Subtract(p, Literal(t: Long, LongType), _)) => Some((q, p, t, false))
    case LessThanOrEqual(Subtract(p, Literal(t: Long, LongType), _), q) => Some((q, p, t, false))
    case _ => None
  }

  private def rewrite(a: Aggregate, j: Join): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(j.condition.get)

    // --- the sandwich: exactly one upper + one lower, same ts pair
    val uppers = conjuncts.flatMap(c => asUpper(c).map(c -> _))
    val lowers = conjuncts.flatMap(c => asLower(c).map(c -> _))
    if (uppers.length != 1 || lowers.length != 1) return None
    val (upperC, (qts, pts)) = uppers.head
    val (lowerC, (qts2, pts2, tol, strict)) = lowers.head
    if (!qts.semanticEquals(qts2) || !pts.semanticEquals(pts2)) return None
    if (tol <= 0L) return None
    if (qts.dataType != LongType || pts.dataType != LongType) return None
    if (!qts.deterministic || !pts.deterministic) return None

    // --- orient: the probe side owns pts AND every grouping expression
    val fromSide = (side: LogicalPlan, e: Expression) =>
      e.references.nonEmpty && e.references.subsetOf(side.outputSet)
    val groupAttrs = a.groupingExpressions.map {
      case attr: AttributeReference => attr
      case _ => return None
    }
    if (groupAttrs.isEmpty) return None
    val (probe, quote) =
      if (fromSide(j.left, pts) && fromSide(j.right, qts) &&
        groupAttrs.forall(j.left.outputSet.contains)) (j.left, j.right)
      else if (fromSide(j.right, pts) && fromSide(j.left, qts) &&
        groupAttrs.forall(j.right.outputSet.contains)) (j.right, j.left)
      else return None

    // --- equi keys: every remaining conjunct, one side each
    val keyPairs = conjuncts.filterNot(c => (c eq upperC) || (c eq lowerC)).map {
      case EqualTo(x, y) if fromSide(probe, x) && fromSide(quote, y) &&
        x.deterministic && y.deterministic && x.dataType == y.dataType => (x, y)
      case EqualTo(x, y) if fromSide(quote, x) && fromSide(probe, y) &&
        x.deterministic && y.deterministic && x.dataType == y.dataType => (y, x)
      case _ => return None
    }
    if (keyPairs.isEmpty) return None // keyless asof = one global sort; out of scope

    // --- the aggregate list: pass-through groupings + the two forms
    def parseAgg(f: AggregateExpression): Option[Out] = f match {
      case AggregateExpression(MaxBy(v, ots), Complete, false, None, _)
        if ots.semanticEquals(qts) && fromSide(quote, v) && v.deterministic =>
        Some(MaxByOut(v))
      case AggregateExpression(Max(ots), Complete, false, None, _)
        if ots.semanticEquals(qts) => Some(MaxTs)
      case _ => None
    }
    val outs: Seq[Out] = a.aggregateExpressions.map {
      case attr: AttributeReference if groupAttrs.exists(_.exprId == attr.exprId) =>
        PassThrough(attr)
      case Alias(attr: AttributeReference, _)
        if groupAttrs.exists(_.exprId == attr.exprId) => PassThrough(attr)
      case Alias(f: AggregateExpression, _) => parseAgg(f).getOrElse(return None)
      case _ => return None
    }
    if (!outs.exists { case _: MaxByOut => true; case MaxTs => true; case _ => false })
      return None // no windowed aggregate — nothing to gain

    Some(build(a, probe, quote, pts, qts, keyPairs, tol, strict, outs))
  }

  /** Assemble the carry plan via the DataFrame API and re-key its
    * output to the original Aggregate's ExprIds.
    */
  private def build(
      a: Aggregate, probe: LogicalPlan, quoteSide: LogicalPlan,
      pts: Expression, qts: Expression,
      keyPairs: Seq[(Expression, Expression)],
      tol: Long, strict: Boolean, outs: Seq[Out]): LogicalPlan = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftBridge.{column => c, ofRows}
    val spark = SparkSession.active

    val kNames = keyPairs.indices.map(i => s"__k$i")
    // distinct carried value expressions (semantic dedup)
    val vExprs = outs.collect { case MaxByOut(v) => v }
      .foldLeft(Vector.empty[Expression]) { (acc, v) =>
        if (acc.exists(_.semanticEquals(v))) acc else acc :+ v
      }
    def vIdx(v: Expression): Int = vExprs.indexWhere(_.semanticEquals(v))

    // probe side: every output attr + keys + ts under fresh names
    val pDf = ofRows(spark, probe).select(
      probe.output.zipWithIndex.map { case (at, i) => c(at).as(s"__p$i") } ++
        keyPairs.zipWithIndex.map { case ((pk, _), i) => c(pk).as(kNames(i)) } :+
        c(pts).as("__t"): _*)
    // quote side: keys + carried values + ts
    val qDf = ofRows(spark, quoteSide).select(
      keyPairs.zipWithIndex.map { case ((_, qk), i) => c(qk).as(kNames(i)) } ++
        vExprs.zipWithIndex.map { case (v, i) => c(v).as(s"__v$i") } :+
        c(qts).as("__t"): _*)

    val carried = graft.core.Joins.asofJoin(
      pDf, qDf, keys = kNames, tsCol = "__t", rightTsAs = "__mt")
    val inWindow =
      if (strict) (col("__t") - col("__mt")) < lit(tol)
      else (col("__t") - col("__mt")) <= lit(tol)
    val kept = carried.filter(col("__mt").isNotNull && inWindow)

    // original group-by, expressed over the fresh probe names
    val pIdx = probe.output.map(_.exprId).zipWithIndex.toMap
    def pName(attr: AttributeReference): String = s"__p${pIdx(attr.exprId)}"
    val groupCols = a.groupingExpressions.collect {
      case attr: AttributeReference => col(pName(attr))
    }
    val aggCols =
      vExprs.indices.map(i => max_by(col(s"__v$i"), col("__mt")).as(s"__a$i")) :+
        max(col("__mt")).as("__amt")
    val res = kept.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)

    // final column order = the original aggregate list's order
    val ordered = res.select(outs.map {
      case PassThrough(attr) => col(pName(attr))
      case MaxByOut(v) => col(s"__a${vIdx(v)}")
      case MaxTs => col("__amt")
    }: _*)

    val analyzed = ordered.queryExecution.analyzed
    Project(
      a.output.zip(analyzed.output).map { case (orig, fresh) =>
        Alias(fresh, orig.name)(exprId = orig.exprId)
      },
      analyzed)
  }
}
