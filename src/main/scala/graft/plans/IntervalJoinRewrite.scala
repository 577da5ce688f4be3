package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite a KEYLESS point-in-interval theta join —
  * `points JOIN intervals ON p >= lo AND p < hi` — into the bucketed
  * equi-join [[graft.core.Ranges.intervalJoin]] hand-builds: explode
  * each interval to its fixed-width bucket ids, map each point to its
  * bucket, hash-join on the bucket, re-check the original predicate as
  * a residual. Without the rewrite Catalyst has no equi key and plans
  * a BroadcastNestedLoopJoin — the O(|points|·|intervals|) scan that
  * dies at scale; with it the same DECLARED query runs as a plain
  * shuffle join whose fan-out is ceil(interval width / bucket).
  *
  * This is the (c)-tier Catalyst extension path: the user writes the
  * natural condition, the planner supplies the scalable strategy.
  *
  * The rule fires whenever its scope guards hold, and the bucket width
  * is always DERIVED from the data at rewrite time ([[deriveBucket]]):
  * one bounded driver-side aggregation over the interval side
  * (md5-gated 1/16 row sample when it is large enough, full pass
  * otherwise) yielding the p90 interval width and the max. Bucket =
  * max(p90, max/1024, 1): p90 keeps the typical interval in O(1)
  * buckets, the max/1024 floor caps the worst single interval's
  * explode fan-out at 1024 rows, so the width can never silently
  * multiply rows the way a day-bucket over year-wide intervals would.
  * The choice is logged. KEYED sandwiches (`l.k = r.k AND p >= lo AND
  * p < hi`) are left to Catalyst's equi-join on `k`; a hot key that
  * needs the time bucket as a second hash key calls
  * [[graft.core.Ranges.intervalJoin]] with its keys explicitly.
  *
  * Scope guards, all required before firing:
  *  - INNER join whose condition is exactly the two sandwich conjuncts;
  *  - point expression from one side only, both bounds from the other,
  *    all LongType and deterministic;
  *  - rows with NULL point/bounds produce no output either way (the
  *    sandwich is null-rejecting; the bucket equality and the hi > lo
  *    pre-filter drop the same rows);
  *  - empty intervals (hi <= lo) are pre-filtered, matching both the
  *    predicate semantics and Sequence's boundary contract.
  * Registered via `GraftExtensions` (config path) or
  * [[IntervalJoinRewrite.install]] on a live session;
  * `SparkEntry.localSession` installs it.
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Smallest gated-sample size the width stats are trusted at; below
    * it the derivation falls back to the ungated full-pass stats (tiny
    * interval sides — a day spine — would otherwise sample to nothing).
    */
  private val MinGatedSample = 256L
  /** Worst-interval explode cap: bucket >= maxWidth/MaxFanout. */
  private val MaxFanout = 1024L

  /** Re-entrancy guard: the width-stats query built in [[deriveBucket]]
    * is itself optimized by this rule (it is registered session-wide);
    * if the interval side CONTAINS a matching sandwich join, deriving
    * inside deriving would recurse without this.
    */
  private val deriving = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Hook into a LIVE session (extensions can only be injected at
    * build time; `experimental.extraOptimizations` is the sanctioned
    * post-hoc seam). Idempotent.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (deriving.get()) plan else rewriteJoins(plan)(deriveBucket)

  /** Rewrite every matching join at the fixed width `b` instead of the
    * derived one — the width-independence check's entry point.
    */
  private[plans] def atWidth(plan: LogicalPlan, b: Long): LogicalPlan =
    rewriteJoins(plan)((_, _, _) => Some(b))

  /** `width(intervals, lo, hi)` picks the bucket for each matched join;
    * None leaves that join as declared.
    */
  private def rewriteJoins(plan: LogicalPlan)(
      width: (LogicalPlan, Expression, Expression) => Option[Long]): LogicalPlan =
    plan.transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) =>
        rewrite(j, cond, width).getOrElse(j)
    }

  /** The derived width: one bounded aggregation over the interval side.
    * Gated (md5(lo) 1/16) stats are preferred when the gate keeps at
    * least [[MinGatedSample]] rows — at scale the gate keeps the
    * percentile state small; on tiny sides the ungated pass is
    * authoritative. Returns None (→ no rewrite) when the side is empty
    * or the stats job fails: falling back to Catalyst's nested loop is
    * always row-correct.
    */
  private def deriveBucket(
      intervals: LogicalPlan, lo: Expression, hi: Expression): Option[Long] = {
    import org.apache.spark.sql.functions._
    val spark = SparkSession.active
    deriving.set(true)
    try {
      val base = Project(Seq(
          Alias(Subtract(hi, lo), "__graft_w")(),
          Alias(lo, "__graft_g")()),
        Filter(GreaterThan(hi, lo), intervals))
      val row = org.apache.spark.sql.GraftBridge.ofRows(spark, base)
        .select(col("__graft_w").as("w"),
          (substring(md5(col("__graft_g").cast("string")), 1, 1) === "0").as("in"))
        .agg(
          count(when(col("in"), 1)).as("ns"),
          percentile_approx(when(col("in"), col("w")), lit(0.9), lit(1000)).as("p90s"),
          max(when(col("in"), col("w"))).as("maxs"),
          percentile_approx(col("w"), lit(0.9), lit(1000)).as("p90a"),
          max(col("w")).as("maxa"))
        .collect()(0)
      if (row.isNullAt(3)) None // empty interval side
      else {
        val gated = !row.isNullAt(0) && row.getLong(0) >= MinGatedSample
        val (p90, maxW) =
          if (gated) (row.getLong(1), row.getLong(2))
          else (row.getLong(3), row.getLong(4))
        val b = math.max(1L, math.max(p90, maxW / MaxFanout))
        logInfo(s"IntervalJoinRewrite auto bucket=$b " +
          s"(p90=$p90 max=$maxW gatedSample=$gated)")
        Some(b)
      }
    } catch {
      case e: Exception =>
        logWarning(s"IntervalJoinRewrite width sampling failed; " +
          s"leaving the declared join unrewritten: ${e.getMessage}")
        None
    } finally deriving.set(false)
  }

  /** `(point, lo, hi)` when `e` is one side of the sandwich. */
  private def asLower(e: Expression): Option[(Expression, Expression)] = e match {
    case GreaterThanOrEqual(p, lo) => Some((p, lo)) // p >= lo
    case LessThanOrEqual(lo, p) => Some((p, lo)) // lo <= p
    case _ => None
  }
  private def asUpper(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThan(p, hi) => Some((p, hi)) // p < hi
    case GreaterThan(hi, p) => Some((p, hi)) // hi > p
    case _ => None
  }

  private def rewrite(
      j: Join, cond: Expression,
      width: (LogicalPlan, Expression, Expression) => Option[Long]): Option[LogicalPlan] = {
    // Never re-fire on our own output: each firing costs a
    // width-sampling job. The marker attributes are ours alone.
    if (cond.references.exists(a =>
      a.name == "__graft_pb" || a.name == "__graft_ib")) return None
    // Exactly the two sandwich conjuncts, in either order: an extra
    // equality key means Catalyst already has an equi-join.
    val (point, lo, hi) = splitConjunctivePredicates(cond) match {
      case Seq(x, y) =>
        Seq((x, y), (y, x)).iterator.flatMap { case (l, u) =>
          for {
            (p1, lo) <- asLower(l)
            (p2, hi) <- asUpper(u) if p1.semanticEquals(p2)
          } yield (p1, lo, hi)
        }.nextOption().getOrElse(return None)
      case _ => return None
    }
    if (point.dataType != LongType || lo.dataType != LongType ||
      hi.dataType != LongType) return None
    if (!point.deterministic || !lo.deterministic || !hi.deterministic)
      return None
    // sides: point from one child, both bounds from the other
    val fromLeft = (e: Expression) =>
      e.references.nonEmpty && e.references.subsetOf(j.left.outputSet)
    val fromRight = (e: Expression) =>
      e.references.nonEmpty && e.references.subsetOf(j.right.outputSet)
    val pointOnLeft =
      if (fromLeft(point) && fromRight(lo) && fromRight(hi)) true
      else if (fromRight(point) && fromLeft(lo) && fromLeft(hi)) false
      else return None

    // No width (sampling failed / empty side) → no rewrite, the
    // nested loop stands.
    val b = width(if (pointOnLeft) j.right else j.left, lo, hi)
      .getOrElse(return None)

    val bLit = Literal(b, LongType)
    def div(e: Expression) = IntegralDivide(e, bLit)
    val pb = Alias(div(point), "__graft_pb")()
    val ib = AttributeReference("__graft_ib", LongType)()
    def pointSide(child: LogicalPlan) =
      Project(child.output :+ pb, child)
    def intervalSide(child: LogicalPlan) =
      Generate(
        // Sequence is TimeZoneAware even over longs: without an
        // explicit zone the expression is unresolved and the optimizer
        // rejects the rewritten plan
        Explode(new Sequence(div(lo), div(Subtract(hi, Literal(1L, LongType))),
          Some(Literal(1L, LongType)), Some(conf.sessionLocalTimeZone))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(ib),
        child = Filter(GreaterThan(hi, lo), child))
    val (newLeft, newRight) =
      if (pointOnLeft) (pointSide(j.left), intervalSide(j.right))
      else (intervalSide(j.left), pointSide(j.right))
    val newCond = And(EqualTo(pb.toAttribute, ib), cond)
    Some(Project(j.output,
      Join(newLeft, newRight, Inner, Some(newCond), j.hint)))
  }
}
