package graft.rules

import graft.functions.JaccardSimilarity
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule: filters of the form
  *
  *   jaccard_similarity(a, b) >= t      (optionally wrapped in round(., d))
  *
  * imply a cheap necessary condition on the SET sizes:
  *
  *   J(A,B) >= t  ==>  |A| >= t*|B|  and  |B| >= t*|A|
  *
  * (|A ∩ B| <= min(|A|,|B|) and |A ∪ B| >= max(|A|,|B|)). The rule
  * conjoins `size(a) >= t' * (size(b) - 1)` (and symmetric) so candidate
  * pairs with incompatible set sizes are dropped BEFORE the O(n log n)
  * hash-merge jaccard kernel runs.
  *
  * Soundness (the kernel dedupes its inputs and ignores nulls, so raw
  * `size()` is only an upper bound of the set size):
  *
  *  - The rewrite fires ONLY when both jaccard inputs are provably
  *    `array_distinct` outputs — syntactically, or an attribute whose
  *    defining Project alias in the child plan is `array_distinct(...)`.
  *    Then size(x) ∈ {|X|, |X|+1} (array_distinct keeps at most one
  *    null), hence the `- 1` slack on the right-hand size.
  *  - Under a `round(j, d)` wrapper with LITERAL non-negative scale d,
  *    `round(j,d) >= t` only implies `j >= t - 0.5*10^-d`, so the
  *    threshold backs off by exactly that (plus 1e-9 float guard).
  *    Non-literal or negative scales are skipped.
  *
  * Idempotent: the generated conjuncts are checked for semantic
  * presence before adding — a second optimizer pass is a no-op.
  */
object JaccardLengthPruning extends Rule[LogicalPlan] {

  private def prefilters(j: JaccardSimilarity, tSafe: Double): Seq[Expression] = {
    def sz(e: Expression) = Cast(Size(e, legacySizeOfNull = false), DoubleType)
    // size(x) may overcount the null-dropped set by 1 (a kept null slot)
    def szSlack(e: Expression) = Subtract(sz(e), Literal(1.0, DoubleType))
    Seq(
      GreaterThanOrEqual(sz(j.left), Multiply(Literal(tSafe, DoubleType), szSlack(j.right))),
      GreaterThanOrEqual(sz(j.right), Multiply(Literal(tSafe, DoubleType), szSlack(j.left))))
  }

  /** Extract (jaccard, sound threshold) from `expr >= lit` shapes; the
    * threshold is already backed off for any round() wrapper. */
  private def thresholdOf(e: Expression): Option[(JaccardSimilarity, Double)] = {
    val floatGuard = 1e-9
    e match {
      case GreaterThanOrEqual(j: JaccardSimilarity, DoubleLit(t)) => Some((j, t - floatGuard))
      case GreaterThan(j: JaccardSimilarity, DoubleLit(t)) => Some((j, t - floatGuard))
      case LessThanOrEqual(DoubleLit(t), j: JaccardSimilarity) => Some((j, t - floatGuard))
      // strict `lit(t) < j` implies j >= t, so the same prefilter is sound
      case LessThan(DoubleLit(t), j: JaccardSimilarity) => Some((j, t - floatGuard))
      case GreaterThanOrEqual(RoundedJaccard(j, d), DoubleLit(t)) =>
        Some((j, t - 0.5 * math.pow(10.0, -d) - floatGuard))
      case GreaterThan(RoundedJaccard(j, d), DoubleLit(t)) =>
        Some((j, t - 0.5 * math.pow(10.0, -d) - floatGuard))
      case LessThanOrEqual(DoubleLit(t), RoundedJaccard(j, d)) =>
        Some((j, t - 0.5 * math.pow(10.0, -d) - floatGuard))
      case LessThan(DoubleLit(t), RoundedJaccard(j, d)) =>
        Some((j, t - 0.5 * math.pow(10.0, -d) - floatGuard))
      case _ => None
    }
  }

  /** round(jaccard, d) with a literal, non-negative integral scale;
    * [[ExactRound]]'s rewrite of `round(jaccard)` is scale 0 (both
    * rules run in the same fixed-point batch, in either order). */
  private object RoundedJaccard {
    def unapply(e: Expression): Option[(JaccardSimilarity, Int)] = e match {
      case Round(j: JaccardSimilarity, Literal(d: Int, _), _) if d >= 0 => Some((j, d))
      case RoundHalfUpDouble(j: JaccardSimilarity) => Some((j, 0))
      case _ => None
    }
  }

  private object DoubleLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, DoubleType) => Some(v)
      case _ => None
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** exprIds of attributes defined by a provably-distinct array expression
    * anywhere below — Project aliases AND Aggregate result aliases (e.g.
    * collect_set outputs) — closed transitively over plain renames
    * (Alias(attr) hops from withColumnRenamed / select-as). */
  private def distinctDefinedIds(plan: LogicalPlan): Set[ExprId] = {
    val defs = Seq.newBuilder[(ExprId, Expression)]
    plan.foreach {
      case p: Project =>
        p.projectList.foreach {
          case a: Alias => defs += ((a.exprId, a.child))
          case _ => ()
        }
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        ag.aggregateExpressions.foreach {
          case a: Alias => defs += ((a.exprId, a.child))
          case _ => ()
        }
      case _ => ()
    }
    val all = defs.result()
    var ids = Set.empty[ExprId]
    var grew = true
    while (grew) {
      val next = ids ++ all.collect {
        case (id, e) if provablyDistinct(e, ids) => id
      }
      grew = next.size > ids.size
      ids = next
    }
    ids
  }

  /** True iff the expression always evaluates to a duplicate-free array:
    * array_distinct itself, trivially-small literals (the empty-text guard
    * `CASE WHEN len=0 THEN [] ELSE array_distinct(..) END` folds through
    * conditionals), or an attribute defined by one. */
  private def provablyDistinct(e: Expression, ids: Set[ExprId]): Boolean = e match {
    case _: ArrayDistinct => true
    // collect_set aggregates are duplicate-free (and drop nulls) by
    // construction; they surface as AggregateExpression(CollectSet) in
    // Aggregate result aliases
    case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
      ae.aggregateFunction
        .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet]
    case ar: AttributeReference => ids.contains(ar.exprId)
    case Alias(inner, _) => provablyDistinct(inner, ids)
    case Literal(v, _: ArrayType) =>
      v == null || v.asInstanceOf[ArrayData].numElements() <= 1
    case CreateArray(children, _) => children.size <= 1
    case CaseWhen(branches, elseValue) =>
      (branches.map(_._2) ++ elseValue).forall(provablyDistinct(_, ids))
    case If(_, t, f) => provablyDistinct(t, ids) && provablyDistinct(f, ids)
    case _ => false
  }

  /** Sound extra conjuncts implied by jaccard-threshold conjuncts of
    * `cond`, given the plan subtree that defines the referenced columns.
    * Conjoining them never changes `cond`'s 3-valued outcome (cond=true
    * forces every conjunct true), so it is safe in Filter and in any
    * Join condition alike. */
  private def extraConjuncts(cond: Expression, scope: => LogicalPlan): Seq[Expression] = {
    lazy val ids = distinctDefinedIds(scope)
    val conjuncts = splitConjuncts(cond)
    conjuncts.flatMap(thresholdOf)
      .flatMap { case (j, tSafe) =>
        if (tSafe > 0 &&
            provablyDistinct(j.left, ids) && provablyDistinct(j.right, ids))
          prefilters(j, tSafe)
        else Nil
      }
      .filterNot(p => conjuncts.exists(_.semanticEquals(p)))
      .distinct
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val extra = extraConjuncts(cond, child)
      if (extra.isEmpty) f
      else Filter((extra :+ cond).reduceLeft(And), child)
    case j @ Join(_, _, _, Some(cond), _) =>
      val extra = extraConjuncts(cond, j)
      if (extra.isEmpty) j
      else j.copy(condition = Some((extra :+ cond).reduceLeft(And)))
  }
}
