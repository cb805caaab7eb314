package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension (SURVEY.md §2.5 / §7 r2): top-k rows per key.
  *
  * Spark's native way to express this — `rank() OVER (PARTITION BY key
  * ORDER BY ...) <= k` — shuffles and sorts EVERY row of every group
  * before discarding all but k: at 100 TB that is a full-data exchange.
  * The reference picks best-per-target rows all over
  * (loaders/load-KEGGNearestTclins.py:118, per-target "best" xrefs), so
  * this deserves a first-class operator.
  *
  * Physical shape (mirrors partial/final hash aggregation):
  *   TopKPerKeyExec(final)           <- exact top-k per key
  *     Exchange hashpartitioning(keys)  [inserted by EnsureRequirements]
  *       TopKPerKeyExec(partial)     <- bounded heaps per input partition
  *         child
  * The exchange moves at most k rows per (key, input-partition) instead of
  * every row: for n rows, g groups, p partitions the shuffle volume drops
  * from O(n) to O(min(n, g*k*p)).
  *
  * The ordering must be total (include a tie-break) for deterministic
  * results — ties at the k boundary are broken by the ordering itself.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                          partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    // no keys = GLOBAL top-k (a row_number() over an un-partitioned window):
    // ClusteredDistribution(Nil) is illegal — the final pass must see all
    // partial heaps on one partition, i.e. AllTuples. The partial pass still
    // prunes each input partition to k rows first, so the single-partition
    // exchange moves O(k * partitions), not the full input.
    else if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // heap head = worst retained row (reverse ordering) for O(log k) evict
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      val revCmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(b, a)
      }
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit + 1, revCmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner rule: logical TopKPerKey -> partial + final physical pair. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      val part = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, part) :: Nil
    case _ => Nil
  }
}

/** Public API. */
object TopK {
  /** Top-k rows per key group under a total ordering. Planned by
    * `TopKStrategy`, which `GraftExtensions` injects into the session.
    * @param orderBy must include a tie-break for deterministic output */
  def perKey(df: DataFrame, keyCols: Seq[Column], orderBy: Seq[Column], k: Int): DataFrame = {
    val keys = keyCols.map(GraftShims.toCatalyst)
    val order = orderBy.map { c =>
      GraftShims.toCatalyst(c) match {
        case so: SortOrder => so
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    GraftShims.ofRows(df.sparkSession, TopKPerKey(keys, order, k, GraftShims.plan(df)))
  }
}
