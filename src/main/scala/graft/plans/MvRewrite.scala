package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.DataType

/** Transparent materialized-view routing (SURVEY.md §2.5 rule_mv_rewrite):
  * an optimizer `Rule[LogicalPlan]` that rewrites aggregates over a base
  * table to re-aggregate a much smaller pre-aggregated MV — the classic
  * warehouse summary-table pattern (the reference precomputes exactly such
  * rollups as MySQL tables, e.g. the tdl_info / hgram summary tables the
  * web app serves), done Spark-first: the optimizer routes queries, user
  * code never changes.
  *
  * [[register]] builds the MV (one aggregation pass over the base) keyed on
  * `keys` with, per measure m: SUM(m), MIN(m), MAX(m), plus COUNT(*). A
  * later `Aggregate` over the same base parquet path is rewritten when:
  *  - every grouping expression is a bare base column ⊆ `keys`;
  *  - any filters between the aggregate and the scan reference only `keys`
  *    (they then prune MV rows — same result by distributivity);
  *  - every aggregate is SUM(m) / MIN(m) / MAX(m) over a stored measure, or
  *    COUNT(*) / COUNT(1) — each re-derivable from MV partials:
  *    SUM→SUM(sum_m), MIN→MIN(min_m), MAX→MAX(max_m), COUNT(*)→SUM(cnt).
  * Anything else (COUNT(col), DISTINCT, AVG, expressions inside aggs,
  * filter on a non-key) leaves the plan untouched — correctness first.
  *
  * At 100 TB this is the difference between scanning the fact table and
  * scanning a keys-cardinality summary: the rewritten plan's scan is
  * O(|MV|), its shuffle is keyed on a subset of `keys`, and the answer is
  * exact (sums of sums, mins of mins — no approximation). Staleness is
  * explicit: register() (re)builds the MV; pair with sink_incr_agg for
  * delta maintenance.
  *
  * Gated on spark.graft.mvRewrite.enabled (default true wherever
  * GraftExtensions is loaded — the rewrite is exact; flip off to A/B the
  * plans).
  */
object MvRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.mvRewrite.enabled"

  final case class MvDef(
      name: String,
      basePaths: Set[String],
      keys: Set[String],
      measures: Set[String],
      mvPlan: LogicalPlan)

  private val registry = TrieMap.empty[String, MvDef]

  /** Build the MV parquet for `basePath` grouped by `keys` and register it
    * for rewriting. Rebuild (re-call) after base-data changes. */
  def register(spark: SparkSession, name: String, basePath: String,
               keys: Seq[String], measures: Seq[String], mvPath: String): Unit = {
    val base = spark.read.parquet(basePath)
    val aggs = count(lit(1)).as("cnt") +:
      measures.flatMap(m => Seq(
        sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m")))
    base.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    registry(name) = MvDef(name, relationPaths(base).toSet, keys.toSet,
      measures.toSet, spark.read.parquet(mvPath).queryExecution.analyzed)
  }

  def deregister(name: String): Unit = registry.remove(name)
  def clear(): Unit = registry.clear()

  private def relationPaths(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty || conf.getConfString(EnabledKey, "true") != "true")
      return plan
    plan.transform {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
  }

  /** Peel attribute-only Projects and Filters off the aggregate child down
    * to a file-source relation; collect the filter conditions. */
  private def unwrap(plan: LogicalPlan,
                     conds: Seq[Expression]): Option[(LogicalRelation, Seq[Expression])] =
    plan match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(c, conds)
      case Filter(cond, c) => unwrap(c, conds :+ cond)
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        Some((lr, conds))
      case _ => None
    }

  private def tryRewrite(agg: Aggregate): Option[Aggregate] = {
    val (lr, conds) = unwrap(agg.child, Seq.empty).getOrElse(return None)
    val paths = lr.relation.asInstanceOf[HadoopFsRelation]
      .location.rootPaths.map(_.toString).toSet
    val mv = registry.values.find(_.basePaths == paths).getOrElse(return None)
    // fresh relation instance per rewrite: two rewritten aggregates in one
    // plan must not share attribute exprIds
    val mvPlan = mv.mvPlan.transform { case r: LogicalRelation => r.newInstance() }
    val mvAttrByName: Map[String, Attribute] =
      mvPlan.output.map(a => a.name -> a).toMap

    // grouping: bare key columns only
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference if mv.keys.contains(a.name) => a.name
      case _ => return None
    }
    // filters: may reference keys only
    if (!conds.forall(_.references.forall(a => mv.keys.contains(a.name))))
      return None

    def keyAttr(name: String): Attribute = mvAttrByName(name)
    def reAgg(fn: AggregateFunction): Option[Expression] = fn match {
      case Sum(a: AttributeReference, _) if mv.measures.contains(a.name) =>
        Some(Sum(keyAttr(s"sum_${a.name}")).toAggregateExpression())
      case Min(a: AttributeReference) if mv.measures.contains(a.name) =>
        Some(Min(keyAttr(s"min_${a.name}")).toAggregateExpression())
      case Max(a: AttributeReference) if mv.measures.contains(a.name) =>
        Some(Max(keyAttr(s"max_${a.name}")).toAggregateExpression())
      case c: Count if c.children.forall(_.isInstanceOf[Literal]) =>
        Some(Sum(keyAttr("cnt")).toAggregateExpression())
      case _ => None
    }
    def cast(e: Expression, to: DataType): Expression =
      if (e.dataType == to) e else Cast(e, to, Some(conf.sessionLocalTimeZone))

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        Alias(keyAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, _) if groupNames.contains(a.name) =>
        Alias(keyAttr(a.name), al.name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, _)
          if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty =>
        val re = reAgg(ae.aggregateFunction).getOrElse(return None)
        // sums-of-sums widen decimal types; cast back to the original shape
        Alias(cast(re, al.dataType), al.name)(exprId = al.exprId)
      case _ => return None
    }
    val newGrouping: Seq[Expression] = groupNames.map(keyAttr)
    val attrSub: Map[String, Attribute] = mv.keys.map(k => k -> keyAttr(k)).toMap
    val newChild = conds.foldLeft(mvPlan) { (p, cond) =>
      Filter(cond.transform {
        case a: AttributeReference => attrSub(a.name)
      }, p)
    }
    Some(Aggregate(newGrouping, newAggExprs, newChild))
  }
}
