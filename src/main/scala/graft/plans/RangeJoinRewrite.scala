package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: an inner join whose ONLY cross-side predicates are a
  * range containment `l.x >= r.lo AND l.x < r.hi` would plan as a
  * BroadcastNestedLoopJoin (O(|L|·|R|) comparisons). This rule replicates
  * the interval side onto every fixed-width bucket it overlaps and adds a
  * bucket equality, turning the plan into a hash join whose key is uniform
  * by construction; the original range predicate stays in the condition,
  * so semantics are bit-identical (a probe row has exactly one bucket, so
  * no duplicate matches can arise).
  *
  * Users keep writing the naive range join; the plan gets the scale-safe
  * shape — the same contract as [[TopKRewrite]]. Conservative:
  *  - inner joins only, and only when NO cross-side equality exists
  *    (an equi-key already gives a hash join);
  *  - fires only when spark.graft.rangeJoin.bucketWidth is set > 0 (the
  *    width is workload knowledge: ~typical interval length);
  *  - idempotent: the added bucket equality fails the no-equality guard
  *    on re-entry.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val EnabledKey = "spark.graft.rangeJoinRewrite.enabled"
  val WidthKey = "spark.graft.rangeJoin.bucketWidth"

  private def width: Double =
    try conf.getConfString(WidthKey, "0").toDouble catch { case _: NumberFormatException => 0.0 }

  /** floor(e / w) as a long, with e cast to double first. */
  private def bucketOf(e: Expression, w: Double): Expression =
    Floor(Divide(Cast(e, DoubleType), Literal(w, DoubleType)))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "true") != "true") return plan
    val w = width
    if (w <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        val conjuncts = splitConjunctivePredicates(cond)
        def sideOf(e: Expression): Option[Boolean] = {
          val refs = e.references
          if (refs.isEmpty) None
          else if (refs.subsetOf(left.outputSet)) Some(true)
          else if (refs.subsetOf(right.outputSet)) Some(false)
          else None
        }
        // any cross-side equality => already hash-joinable, leave alone
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) => (sideOf(a), sideOf(b)) match {
            case (Some(x), Some(y)) => x != y
            case _ => false
          }
          case _ => false
        }
        // find l.x >= r.lo (either spelling)
        val lower = conjuncts.collectFirst {
          case GreaterThanOrEqual(x, lo)
            if sideOf(x).contains(true) && sideOf(lo).contains(false) => (x, lo)
          case LessThanOrEqual(lo, x)
            if sideOf(x).contains(true) && sideOf(lo).contains(false) => (x, lo)
        }
        // find l.x < r.hi (either spelling)
        val upper = conjuncts.collectFirst {
          case LessThan(x, hi)
            if sideOf(x).contains(true) && sideOf(hi).contains(false) => (x, hi)
          case GreaterThan(hi, x)
            if sideOf(x).contains(true) && sideOf(hi).contains(false) => (x, hi)
        }
        (lower, upper) match {
          case (Some((x1, lo)), Some((x2, hi)))
              if !hasEqui && x1.semanticEquals(x2) &&
                x1.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            val bl = Alias(bucketOf(x1, w), "__graft_bucket_l")()
            val newLeft = Project(left.output :+ bl, left)
            // replicate each interval row onto every bucket it overlaps,
            // through floor(hi/w) inclusive: when hi lies exactly on a
            // bucket boundary that last bucket holds no matches, but the
            // retained exact range predicate filters it — an epsilon trick
            // (floor((hi-eps)/w)) instead drops legitimate matches when hi
            // is fractionally above a boundary. Degenerate/empty intervals
            // (hi < lo) still emit their lo bucket via Greatest.
            val start = bucketOf(lo, w)
            val stop = Greatest(Seq(start, bucketOf(hi, w)))
            val genOut = AttributeReference("__graft_bucket_r", LongType, nullable = true)()
            // Sequence is TimeZoneAwareExpression: it only reports resolved
            // once a zone is bound (irrelevant for longs, required anyway)
            val seq = new Sequence(start, stop, Literal(1L, LongType))
              .withTimeZone(conf.sessionLocalTimeZone)
            val newRight = Generate(
              Explode(seq),
              unrequiredChildIndex = Nil, outer = false, qualifier = None,
              generatorOutput = Seq(genOut), child = right)
            val newCond = And(EqualTo(bl.toAttribute, genOut), cond)
            Project(j.output,
              Join(newLeft, newRight, Inner, Some(newCond), hint))
          case _ => j
        }
    }
  }
}
