package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.functions.NativeHash.{SortedIntersectAtLeastExpr, SortedIntersectCountExpr}

/** Catalyst optimizer rule: threshold comparisons over the full
  * sorted-intersection count rewrite to the early-exit walk —
  *
  *   sorted_intersect_count(a, b) >= x   ==>
  *   sorted_intersect_at_least(a, b, ceil(x)) >= 0
  *
  * (and the strict / mirrored forms). `countAtLeast` bails as soon as
  * c + min(remaining) can no longer reach the bound, which on
  * false-heavy candidate streams (the PPJoin prune regime) retires most
  * rows within a few steps instead of walking both arrays; the full
  * count is only ever computed for rows that pass. Callers keep writing
  * the natural predicate — SQL users via the injected
  * `sorted_intersect_count`, DataFrame users via
  * `NativeHash.sortedIntersectCount` — and the plan gets the bounded
  * walk automatically (the direct JaccardDedup.overlapJoin verify is
  * written in this form; the clustered pair core's anchor-bound prune calls
  * the at-least expression itself because it also needs the returned
  * exact count for its witness check).
  *
  * Soundness of the integer bound: the count c is an integer, so for
  * any real x, c >= x iff c >= ceil(x), and c > x iff c >= floor(x)+1.
  * countAtLeast returns c (>= 0) whenever c >= alpha — including every
  * alpha <= 0, where the comparison is vacuously true — and -1
  * otherwise, so `result >= 0` reproduces the original predicate
  * exactly. NULL array inputs propagate to NULL through both forms; a
  * NULL threshold x is guarded EXPLICITLY (`If(IsNull(x), null, …)`)
  * because the clamp's Least() SKIPS nulls — unguarded, a NULL x would
  * become Int.MaxValue and the rewritten predicate would yield FALSE
  * where the original yields NULL, flipping rows in null-sensitive
  * contexts (NOT(NULL)=NULL drops, NOT(FALSE)=TRUE keeps). With the
  * guard, alpha=NULL → countAtLeast is null-safe → NULL >= 0 → NULL,
  * matching `count >= NULL` exactly. The bound is clamped to
  * Int.MaxValue before the int cast (a larger x is unsatisfiable
  * anyway: a row array cannot hold 2^31 longs), which also absorbs NaN
  * (NaN orders greatest in Spark, so least() drops it and both forms
  * yield false).
  *
  * The rewrite only fires when the count feeds a comparison through
  * nothing, or through an exact widening cast (int/long/double) —
  * float is excluded (inexact beyond 2^24) and so are decimals. It is
  * idempotent: the produced comparison contains no
  * SortedIntersectCountExpr, so repeated optimizer batches fixpoint.
  */
object IntersectBoundRewrite extends Rule[LogicalPlan] {

  /** NULL-threshold guard: Least() skips nulls, so without this a NULL
    * x would clamp to Int.MaxValue (predicate FALSE) instead of
    * propagating NULL like the original comparison — see the scaladoc.
    * Skipped when x can't be null (the common literal-threshold case).
    */
  private def nullGuarded(x: Expression, clamped: Expression): Expression =
    if (x.nullable) If(IsNull(x), Literal(null, IntegerType), clamped) else clamped

  /** ceil(least(x, Int.MaxValue)) as int — see the clamp rationale. */
  private def bound(x: Expression): Expression =
    nullGuarded(x,
      Cast(Ceil(Least(Seq(Cast(x, DoubleType), Literal(Int.MaxValue.toDouble)))), IntegerType))

  /** floor(least(x, Int.MaxValue − 1)) + 1 as int, for strict >
    * (Floor yields LongType, so the increment stays in long until the
    * final clamped int cast).
    */
  private def boundStrict(x: Expression): Expression =
    nullGuarded(x,
      Cast(Add(Floor(Least(Seq(Cast(x, DoubleType), Literal(Int.MaxValue.toDouble - 1)))),
        Literal(1L)), IntegerType))

  private def atLeast(cnt: SortedIntersectCountExpr, alpha: Expression): Expression =
    GreaterThanOrEqual(SortedIntersectAtLeastExpr(cnt.left, cnt.right, alpha), Literal(0))

  /** The count itself, or the count under an exact widening cast. */
  private object CountSide {
    def unapply(e: Expression): Option[SortedIntersectCountExpr] = e match {
      case c: SortedIntersectCountExpr => Some(c)
      case cast: Cast => cast.child match {
        case c: SortedIntersectCountExpr
            if cast.dataType == LongType || cast.dataType == DoubleType ||
               cast.dataType == IntegerType => Some(c)
        case _ => None
      }
      case _ => None
    }
  }

  private def numeric(e: Expression): Boolean = e.dataType match {
    case _: NumericType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case GreaterThanOrEqual(CountSide(c), x) if numeric(x) && x.deterministic =>
      atLeast(c, bound(x))
    case LessThanOrEqual(x, CountSide(c)) if numeric(x) && x.deterministic =>
      atLeast(c, bound(x))
    case GreaterThan(CountSide(c), x) if numeric(x) && x.deterministic =>
      atLeast(c, boundStrict(x))
    case LessThan(x, CountSide(c)) if numeric(x) && x.deterministic =>
      atLeast(c, boundStrict(x))
  }
}
