package graft.plans

import graft.functions.{CosineSimilarity, DotProduct}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point (SURVEY.md §2.5 ext_session):
  * registers graft's native expressions under SQL names so
  * `spark.sql("SELECT cosine_sim(a, b)")` works next to the Column API.
  *
  * Enable with:
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectOptimizerRule(_ => TopKRewrite)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectOptimizerRule(_ => ApproxDistinctRewrite)
    ext.injectOptimizerRule(_ => ApproxPercentileRewrite)
    ext.injectOptimizerRule(_ => MvRewrite)
  }
}

object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
}
