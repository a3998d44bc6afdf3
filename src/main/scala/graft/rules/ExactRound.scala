package graft.rules

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Optimizer rule: `round(x)` (scale 0) on a DOUBLE becomes
  * [[RoundHalfUpDouble]], which gives the same bits as Spark's `Round`
  * without its per-row `java.math.BigDecimal` (Spark rounds a double
  * through `BigDecimal.valueOf`, i.e. a `Double.toString` plus a
  * decimal parse). The engine's fixed-point idiom
  * `round(x * 10^s).cast("long")` (exact-cents sums, event minutes)
  * hits it on every row.
  *
  * One rule covers every call site, the Column API and
  * `spark.sql("... round(x) ...")` alike. Other scales, float, decimal
  * and integral inputs and `bround` keep Spark's own expression. Runs
  * in the same fixed-point batch as [[JaccardLengthPruning]], which
  * reads the rewritten form as `round(., 0)`.
  */
object ExactRound extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Round(c, Literal(0, IntegerType), _) if c.dataType == DoubleType =>
      RoundHalfUpDouble(c)
  }
}

/** round_half_up(double) -> double: HALF_UP to an integral value, bit
  * for bit what Spark's `round(x, 0)` returns for every double. */
case class RoundHalfUpDouble(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "round_half_up"

  override def nullSafeEval(v: Any): Any = RoundHalfUpDouble.round(v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.rules.RoundHalfUpDouble.round($c)")

  override protected def withNewChildInternal(c: Expression): RoundHalfUpDouble =
    copy(child = c)
}

object RoundHalfUpDouble {

  /** Rounds the magnitude and restores the sign. `a - floor(a)` is
    * exact for every finite double, and a tie `k + 0.5` below 2^52 is
    * itself a double, so comparing the binary value against 0.5 decides
    * exactly as Spark's shortest-decimal `BigDecimal` does. The signed
    * form (`floor(d)`, `d - f > 0.5` for negatives) is wrong: `d + 1` is
    * inexact for `d = -0.49999999999999994`, which it rounds to -1.
    * `+ 0.0` turns -0.0 into 0.0, as Spark's `BigDecimal` gives; NaN and
    * ±Inf pass through unchanged. */
  def round(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else {
      val a = math.abs(d)
      val f = math.floor(a)
      val r = if (a - f >= 0.5) f + 1.0 else f
      (if (d < 0) -r else r) + 0.0
    }
}
