package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in optimizer rule: COUNT(DISTINCT x) → HyperLogLog++ estimate.
  *
  * An exact distinct count forces a two-phase shuffle keyed on the VALUE
  * (expand + re-aggregate): at 100 TB the value shuffle is usually the
  * single biggest exchange in a QC rollup. HLL++ is a fixed-size mergeable
  * sketch — map-side partials, one tiny exchange, no value shuffle — at
  * the cost of a bounded relative error (rsd, default 5%).
  *
  * DELIBERATELY opt-in (it changes results): fires only when
  * spark.graft.approxDistinct.enabled=true, the "approximate mode" switch
  * a QC/profiling session flips. Exactness-critical queries leave it off.
  * Guards: single-argument COUNT(DISTINCT) only; FILTER clauses and
  * multi-arg distincts are left untouched.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.approxDistinct.enabled"
  val RsdKey = "spark.graft.approxDistinct.rsd"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "false") != "true") return plan
    val rsd =
      try conf.getConfString(RsdKey, "0.05").toDouble
      catch { case _: NumberFormatException => 0.05 }
    plan.transform {
      case a: Aggregate =>
        a.transformExpressions {
          // match on the class + size guard: Count.children is a generic
          // Seq whose runtime type need not be a List (:: patterns miss)
          case ae @ AggregateExpression(c: Count, _, true, None, _)
              if c.children.size == 1 =>
            ae.copy(
              aggregateFunction = HyperLogLogPlusPlus(c.children.head, rsd),
              isDistinct = false)
        }
    }
  }
}
