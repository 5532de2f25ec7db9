package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{Decimal, DecimalType, LongType}

/** Optimizer rule: SUM over a ≤18-digit DECIMAL leaves decimal space.
  *
  * Money discipline casts doubles to DECIMAL(18,s) so sums are
  * order-independent and cross-engine exact (SURVEY §5) — but Spark's
  * Sum buffer for that input is DECIMAL(p+10, s), which is non-compact
  * (> 18 digits), so EVERY partial-aggregate update runs a
  * java.math.BigDecimal add. Measured at sf0.1: a 5-sum moment
  * aggregation over lineitem spends 1.5 s of 1.85 s in decimal casts +
  * adds; the same sums over plain longs run at 0.37 s (guide §4 — keep
  * the hot path in codegen'd primitives).
  *
  * The rewrite: a ≤18-digit decimal is stored compact, so its unscaled
  * long is exact and free ([[UnscaledValue]]). Split it into four
  * base-2^16 limbs (arithmetic shift = floor division — the signed top
  * limb carries the sign, and u = (u>>48)·2^48 + Σ((u>>16i)&0xFFFF)·2^16i
  * holds for negatives), SUM each limb as a plain long, and recombine
  * the group's exact unscaled total in DECIMAL(38,0) — per GROUP, not
  * per row — then divide by 10^s (the result scale is ≥ s+2, so the
  * division is exact) and cast to the original Sum's result type
  * DECIMAL(p+10, s). Same exact rational per group → same decimal →
  * bit-identical downstream arithmetic. DecSumSpec pins equality on
  * random/negative/null/boundary data; the 276-query oracle gate pins
  * it corpus-wide (the TPC-H money sums all take this path).
  *
  * Bounds. Each limb is < 2^16, so limb sums stay inside a long for
  * ≤ 2^63/2^16 ≈ 1.4e14 rows per group — beyond 100 TB at any
  * realistic row width — where the old buffer overflowed (to NULL, or
  * an ANSI error) at a 10^(28-s) TOTAL, i.e. the limb form strictly
  * extends the exact range. A total exceeding DECIMAL(p+10, s) fails
  * in the final cast exactly as the old Sum failed in its overflow
  * check (NULL under legacy, error under ANSI).
  *
  * Skipped: DISTINCT sums (four limb-distincts ≠ one tuple-distinct),
  * TRY evaluation mode (try_sum's per-add NULL contract), windows (the
  * rule only matches [[Aggregate]]), non-deterministic children (the
  * child is referenced by all four limbs; hash-aggregate codegen CSEs
  * the shared UnscaledValue, but replication would change RESULTS for
  * a non-deterministic child). FILTER clauses carry to every limb.
  * It is the only limb implementation: [[graft.functions.Cols.dsum]]
  * writes the plain decimal SUM and leaves the split to this rule.
  */
object DecimalSumLimbs extends Rule[LogicalPlan] {

  private val B = 65536L

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case agg: Aggregate =>
        val rewritten = agg.aggregateExpressions.map { ne =>
          ne.transform {
            case ae @ AggregateExpression(s @ Sum(e, _), _, false, _, _)
                if eligible(s, e) =>
              limbSum(e, ae, s.dataType.asInstanceOf[DecimalType])
          }.asInstanceOf[NamedExpression]
        }
        agg.copy(aggregateExpressions = rewritten)
    }

  private def eligible(s: Sum, e: Expression): Boolean = e.dataType match {
    case dt: DecimalType =>
      dt.precision <= 18 && dt.scale >= 0 && e.deterministic &&
        s.evalContext.evalMode != EvalMode.TRY && e.resolved
    case _ => false
  }

  /** The limb-summed replacement, typed exactly as the original Sum. */
  private def limbSum(e: Expression, ae: AggregateExpression,
      resultType: DecimalType): Expression = {
    val scale = e.dataType.asInstanceOf[DecimalType].scale
    val u = UnscaledValue(e)
    def limb(i: Int): Expression =
      if (i == 3) ShiftRight(u, Literal(48))
      else BitwiseAnd(ShiftRight(u, Literal(16 * i)), Literal(B - 1))
    // fresh resultId per limb aggregate — a copy would alias all four
    def sumOf(x: Expression): Expression =
      AggregateExpression(Sum(x), ae.mode, isDistinct = false, ae.filter,
        NamedExpression.newExprId)
    val d38 = DecimalType(38, 0)
    def dec(x: Expression): Expression = Cast(x, d38)
    val b = Literal(Decimal(B), DecimalType(5, 0))
    val rec = Add(Multiply(Add(Multiply(Add(Multiply(
      dec(sumOf(limb(3))), b), dec(sumOf(limb(2)))), b),
      dec(sumOf(limb(1)))), b), dec(sumOf(limb(0))))
    val tenPow = Literal(Decimal(math.pow(10, scale).toLong),
      DecimalType(scale + 1, 0))
    Cast(Divide(rec, tenPow), resultType)
  }
}
