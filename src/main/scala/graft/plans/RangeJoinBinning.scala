package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{CalendarIntervalType, DayTimeIntervalType, LongType, TimestampType}
import org.apache.spark.unsafe.types.CalendarInterval

/** Optimizer rule: rewrite a KEYLESS bounded-range join into the binned
  * equi-join shape (the a17b rewrite, applied automatically to any plan —
  * including raw `spark.sql` text).
  *
  * Without an equi-key, Spark's only physical plans for
  * `points JOIN intervals ON t BETWEEN base - c1 AND base + c2` are
  * BroadcastNestedLoopJoin / cartesian — O(|points| × |intervals|), the
  * range-join cliff at scale. When both bounds hang off the SAME base
  * expression with literal offsets, the interval length is statically
  * known, and the join can bin: bucket width W = interval length, point
  * side gets `floorDiv(t, W)`, interval side explodes the ≤ 2 covering
  * buckets, and the original predicate survives as a residual filter on a
  * plain equi-join. Each point has exactly ONE bucket, so no pair is
  * produced twice and no dedup is needed; the rewrite is semantically
  * invisible (spec-proven against the nested-loop plan).
  *
  * Scope guards (each one load-bearing):
  *  - inner joins only, with NO existing inter-side equality conjunct (if
  *    one exists, the native hash/sort-merge join already bounds the work);
  *  - `t` and `base` must be epoch-micros longs or `TimestampType`
  *    columns (timestamps are micros-since-epoch underneath; they enter
  *    the bucket math through `UnixMicros`, a zero-cost reinterpretation)
  *    and deterministic;
  *  - both bounds must share one `base` (semantic equality) with literal
  *    offsets — long literals, or fixed-duration intervals on timestamps
  *    (`ts BETWEEN base - INTERVAL x AND base + INTERVAL y`) — so the
  *    bucket width is known at plan time;
  *  - floor division is literal-exact for NEGATIVE times too:
  *    `(t - pmod(t, W)) div W` (pmod is non-negative, the numerator is an
  *    exact multiple of W, so truncating division IS floor division).
  *
  * Extension-only: injected by [[graft.functions.GraftExtensions]] (the
  * `spark.sql.extensions` deployment path) but NOT in its default list
  * that `Tables.tune` installs — the rule has no kill-switch, and its spec
  * gets the nested-loop baseline by leaving it out. Usable per-session
  * through `spark.experimental.extraOptimizations`.
  */
object RangeJoinBinningRule extends Rule[LogicalPlan] with PredicateHelper {

  private val BucketCol = "__graft_range_bucket"

  /** Decompose `e` as (base, literal offset in the micros domain). The long
    * lane matches `base ± literal`; the timestamp lane matches the analyzed
    * form of `ts ± INTERVAL ...` — `TimestampAddInterval(base, interval)`
    * (subtraction reaches the optimizer as an added NEGATIVE literal: the
    * analyzer's `DatetimeSub` is RuntimeReplaceable and constant folding
    * collapses `UnaryMinus(Literal)` before user rules run). Only intervals
    * that are a fixed micros duration qualify: any ANSI day-time interval
    * (stored as micros, added as exact micros), or a calendar interval with
    * zero months AND days (month/day arithmetic is timezone/calendar-
    * dependent, so the bucket width would not be a plan-time constant).
    */
  private def baseOffset(e: Expression): (Expression, Long) = e match {
    case Add(b, Literal(c: Long, LongType), _) => (b, c)
    case Add(Literal(c: Long, LongType), b, _) => (b, c)
    case Subtract(b, Literal(c: Long, LongType), _) => (b, -c)
    case TimestampAddInterval(b, Literal(c: Long, _: DayTimeIntervalType), _) => (b, c)
    case TimestampAddInterval(b, Literal(ci: CalendarInterval, CalendarIntervalType), _)
        if ci.months == 0 && ci.days == 0 => (b, ci.microseconds)
    case b => (b, 0L)
  }

  /** `e` as an epoch-micros LongType expression, when its domain admits one.
    * TimestampType IS micros-since-epoch underneath, so `UnixMicros` is a
    * zero-cost reinterpretation (and zone-independent) — this is what lets
    * raw-SQL joins on `timestamp_utc BETWEEN base ± INTERVAL` take the
    * binned plan instead of a nested loop.
    */
  private def asMicros(e: Expression): Option[Expression] = e.dataType match {
    case LongType => Some(e)
    case TimestampType => Some(UnixMicros(e))
    case _ => None
  }

  /** One classified range bound: `t` vs `base + offset`, all in micros. */
  private case class Bound(t: Expression, base: Expression, offset: Long, lower: Boolean)

  private def classify(c: Expression): Seq[Bound] = {
    def mk(t: Expression, boundExpr: Expression, lower: Boolean): Seq[Bound] = {
      val (base, off) = baseOffset(boundExpr)
      (asMicros(t), asMicros(base)) match {
        case (Some(tm), Some(bm)) if t.deterministic && base.deterministic =>
          Seq(Bound(tm, bm, off, lower))
        case _ => Nil
      }
    }
    c match {
      // t >= bound / t > bound → lower; bound >= t → upper (mirrored)
      case GreaterThanOrEqual(l, r) => mk(l, r, lower = true) ++ mk(r, l, lower = false)
      case GreaterThan(l, r)        => mk(l, r, lower = true) ++ mk(r, l, lower = false)
      case LessThanOrEqual(l, r)    => mk(l, r, lower = false) ++ mk(r, l, lower = true)
      case LessThan(l, r)           => mk(l, r, lower = false) ++ mk(r, l, lower = true)
      case _                        => Nil
    }
  }

  /** `floor(e / w)` for longs of either sign, as literal-exact integer
    * arithmetic (see scaladoc).
    */
  private def floorDiv(e: Expression, w: Long): Expression = {
    val width = Literal(w, LongType)
    new IntegralDivide(new Subtract(e, new Pmod(e, width)), width)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) if eligible(j) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val bounds = conjuncts.flatMap(classify)
      // pair a lower and an upper bound on the same (t, base), t and base
      // on opposite sides
      val pair = (for {
        lo <- bounds if lo.lower
        hi <- bounds if !hi.lower
        if lo.t.semanticEquals(hi.t) && lo.base.semanticEquals(hi.base)
        if lo.offset <= hi.offset
        tSide = sideOf(lo.t, left, right)
        bSide = sideOf(lo.base, left, right)
        if tSide.isDefined && bSide.isDefined && tSide != bSide
      } yield (lo, hi, tSide.get)).headOption
      pair match {
        case None => j
        case Some((lo, hi, tOnLeft)) =>
          val w = math.max(hi.offset - lo.offset, 1L)
          val (pointChild, intervalChild) = if (tOnLeft) (left, right) else (right, left)
          // point side: one bucket per row
          val pBucket = Alias(floorDiv(lo.t, w), BucketCol)()
          val pointProj = Project(pointChild.output :+ pBucket, pointChild)
          // interval side: explode the covering buckets of [base+lo, base+hi]
          val loExpr = new Add(lo.base, Literal(lo.offset, LongType))
          val hiExpr = new Add(hi.base, Literal(hi.offset, LongType))
          // Sequence is TimeZoneAwareExpression: without a zone it reports
          // unresolved even over longs — bind the session zone explicitly.
          val seq = Sequence(floorDiv(loExpr, w), floorDiv(hiExpr, w),
            None, Some(conf.sessionLocalTimeZone))
          val genOut = AttributeReference(BucketCol, LongType, nullable = false)()
          val gen = Generate(Explode(seq), unrequiredChildIndex = Nil,
            outer = false, qualifier = None,
            generatorOutput = Seq(genOut), child = intervalChild)
          val newCond = And(EqualTo(pBucket.toAttribute, genOut), cond)
          val (nl, nr) = if (tOnLeft) (pointProj, gen) else (gen, pointProj)
          Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
      }
  }

  private def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(left.outputSet)) Some(true)
    else if (refs.subsetOf(right.outputSet)) Some(false)
    else None
  }

  /** Fire only where Spark would otherwise nested-loop: an inner join whose
    * condition carries NO inter-side equality (equality on one side alone is
    * a pushable filter, not a join key).
    */
  private def eligible(j: Join): Boolean = j match {
    case Join(left, right, Inner, Some(cond), _) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hasEqui = conjuncts.exists {
        case EqualTo(l, r) =>
          (sideOf(l, left, right), sideOf(r, left, right)) match {
            case (Some(a), Some(b)) => a != b
            case _ => false
          }
        case EqualNullSafe(l, r) =>
          (sideOf(l, left, right), sideOf(r, left, right)) match {
            case (Some(a), Some(b)) => a != b
            case _ => false
          }
        case _ => false
      }
      !hasEqui && conjuncts.flatMap(classify).nonEmpty
    case _ => false
  }
}
