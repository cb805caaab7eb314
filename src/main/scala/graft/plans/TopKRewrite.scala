package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: `Filter(row_number <= k, Window(row_number, ...))` gets
  * a TopKPerKey inserted UNDER the window, so the window (and the exchange
  * feeding it) only sees k rows per key instead of all of them. The filter
  * and window stay in place — semantics are untouched — but the full-data
  * sort/shuffle becomes a heap-pruned one.
  *
  * Users keep writing the stock Spark idiom; the plan gets the scale-safe
  * shape. Conservative by construction:
  *  - only fires on row_number() (rank/dense_rank keep boundary ties, a
  *    bounded heap cannot);
  *  - only when the window computes exactly that one expression;
  *  - idempotent (skips when the child is already the same TopKPerKey),
  *    safe under the optimizer's fixed-point batches;
  *  - can be disabled: spark.graft.topkRewrite.enabled=false.
  *
  * Like any row_number-based query, results are only deterministic when
  * the window ordering is total; the rewrite preserves exactly the
  * deterministic cases and picks an equally-valid arbitrary subset in the
  * others.
  */
object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val ConfKey = "spark.graft.topkRewrite.enabled"

  private def rankLimit(cond: Expression, rankAttr: Attribute): Option[Int] = {
    splitConjunctivePredicates(cond).flatMap {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rankAttr) => Some(v)
      case LessThan(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rankAttr) => Some(v - 1)
      case EqualTo(a: Attribute, Literal(1, _)) if a.semanticEquals(rankAttr) => Some(1)
      case GreaterThanOrEqual(Literal(v: Int, _), a: Attribute) if a.semanticEquals(rankAttr) => Some(v)
      case _ => None
    }.reduceOption(math.min)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(ConfKey, "true") != "true") return plan
    plan.transform {
      case f @ Filter(cond,
          w @ Window(Seq(a @ Alias(WindowExpression(RowNumber(), spec), _)), parts, order, child, _))
          if order.nonEmpty =>
        rankLimit(cond, a.toAttribute) match {
          case Some(k) if k > 0 && !alreadyPruned(child, parts, order, k) =>
            f.copy(child = w.copy(child = TopKPerKey(parts, order, k, child)))
          case _ => f
        }
    }
  }

  private def alreadyPruned(child: LogicalPlan, parts: Seq[Expression],
                            order: Seq[SortOrder], k: Int): Boolean = child match {
    case TopKPerKey(pk, po, pkk, _) =>
      pkk <= k && pk.length == parts.length &&
        pk.zip(parts).forall { case (x, y) => x.semanticEquals(y) } &&
        po.zip(order).forall { case (x, y) => x.semanticEquals(y) }
    case _ => false
  }
}
