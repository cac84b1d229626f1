package graft.plans

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType
import graft.dedup.LevBanded

/** Catalyst optimizer rule: bounded-Levenshtein predicates get the banded
  * kernel automatically, so PLAIN SQL (`WHERE levenshtein(a, b) <= 20`)
  * runs the O(len·k) [[LevBanded]] kernel instead of the builtin full DP
  * whose UTF8String.charAt is O(position) (see LevBanded — measured
  * ~16× on the q169 verify stage).
  *
  * Rewrites (k a non-negative int literal; null semantics preserved —
  * banded returns −1 where the builtin distance exceeds k, null on null
  * input, so the comparisons below are row-for-row equal):
  *
  *   levenshtein(a, b) <= k      →  lev_banded(a, b, k) >= 0
  *   levenshtein(a, b) <  k      →  lev_banded(a, b, k-1) >= 0   (k ≥ 1)
  *   levenshtein(a, b, k) <any>  →  lev_banded(a, b, k) <any>    (3-arg
  *     builtin already returns −1 above k — same contract, faster kernel)
  *
  * This is the engine's one optimizer injection (GraftExtensions), and
  * deliberately a REWRITE rule, not a new operator: stock Catalyst still
  * plans the filter; only the kernel changes. */
object BandedLevRewrite extends Rule[LogicalPlan] {

  private def nonNeg(e: Expression): Option[Int] = e match {
    case Literal(k: Int, IntegerType) if k >= 0 => Some(k)
    case _ => None
  }

  private def banded(l: Expression, r: Expression, k: Int): Expression =
    GraftBridge.expression(
      LevBanded.levBanded(GraftBridge.column(l), GraftBridge.column(r), k))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // 3-arg builtin anywhere: identical contract, faster kernel
      case Levenshtein(l, r, Some(t)) if nonNeg(t).isDefined =>
        banded(l, r, nonNeg(t).get)
      case LessThanOrEqual(Levenshtein(l, r, None), t) if nonNeg(t).isDefined =>
        GreaterThanOrEqual(banded(l, r, nonNeg(t).get), Literal(0))
      case GreaterThanOrEqual(t, Levenshtein(l, r, None)) if nonNeg(t).isDefined =>
        GreaterThanOrEqual(banded(l, r, nonNeg(t).get), Literal(0))
      case LessThan(Levenshtein(l, r, None), t)
          if nonNeg(t).exists(_ >= 1) =>
        GreaterThanOrEqual(banded(l, r, nonNeg(t).get - 1), Literal(0))
      case GreaterThan(t, Levenshtein(l, r, None))
          if nonNeg(t).exists(_ >= 1) =>
        GreaterThanOrEqual(banded(l, r, nonNeg(t).get - 1), Literal(0))
    }
}
