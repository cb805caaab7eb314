package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in optimizer rule: exact percentile → approx_percentile sketch
  * (the percentile sibling of [[ApproxDistinctRewrite]]).
  *
  * An exact Percentile aggregation buffers every value per group
  * (OpenHashMap counts — memory O(distinct values), merge O(buffer)):
  * at 100 TB a per-group exact median is routinely the aggregate that
  * OOMs. ApproximatePercentile is a bounded GK/QuantileSummaries sketch —
  * fixed memory, mergeable partials, rank error ≤ 1/accuracy — the right
  * default for QC/profiling percentiles at scale.
  *
  * DELIBERATELY opt-in (it changes results): fires only when
  * spark.graft.approxPercentile.enabled=true — the same "approximate
  * mode" posture as ApproxDistinctRewrite. Guards: no DISTINCT, no
  * FILTER, no descending percentile, unit frequency only (weighted
  * percentiles have no approx counterpart). The result is cast back to
  * the exact operator's type (Percentile yields doubles; the sketch
  * yields the child's type), so the query schema never changes.
  */
object ApproxPercentileRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.approxPercentile.enabled"
  val AccuracyKey = "spark.graft.approxPercentile.accuracy"

  private def unitFrequency(p: Percentile): Boolean = p.frequencyExpression match {
    case Literal(v, _) => v == 1 || v == 1L
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "false") != "true") return plan
    val accuracy =
      try conf.getConfString(AccuracyKey, "10000").toInt
      catch { case _: NumberFormatException => 10000 }
    plan.transform {
      case a: Aggregate =>
        a.transformExpressions {
          case ae @ AggregateExpression(p: Percentile, _, false, None, _)
              if !p.reverse && unitFrequency(p) =>
            val approx = new ApproximatePercentile(p.child, p.percentageExpression,
              Literal(accuracy))
            Cast(ae.copy(aggregateFunction = approx), ae.dataType,
              Some(conf.sessionLocalTimeZone))
        }
    }
  }
}
