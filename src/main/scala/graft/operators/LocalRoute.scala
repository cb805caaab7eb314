package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{LongType, StructType}

/** The driver route shared by every size-routed operator.
  *
  * An iterative operator (pagerank, connected components, closure, BFS,
  * the Lloyd fit, NN-Descent, the fused pair scans) pays a handful of
  * Spark jobs per round, which dominates wall time whenever its input is
  * small. Under a gate it collects its input once and replays the SAME
  * rounds on the driver with bit-identical arithmetic (the shared Spark
  * semantics live in [[graft.functions.SparkSemantics]]); past the gate
  * the distributed loop ships unchanged. Both arms emit identical rows:
  * the DuckDB oracles hash them per query, and the forced-route specs
  * (each operator's `driverMax*` parameter set to 0) pin them.
  *
  * A gate counts `rows` (input rows), `values` (rows × vector width) or
  * `ops` (the replay's multiply-adds). Every size is an exact count that
  * the operator's own eager materialization observed ([[checkpoint]]):
  * no decision runs a probe job of its own. Every decision appends a
  * [[Record]] to a bounded driver-side buffer that [[drain]] empties. */
object LocalRoute {

  /** One routing decision. `size` is the exact input in `unit`, or -1
    * when the input was ineligible and not routed on its size. `arm` is
    * `local` or `distributed`. */
  final case class Record(op: String, unit: String, size: Long, gate: Long, arm: String) {
    def json: String =
      s"""{"op":"$op","unit":"$unit","size":$size,"gate":$gate,"arm":"$arm"}"""
  }

  private val MaxRecords = 1024
  private val buffer = new java.util.ArrayDeque[Record]()

  /** Records a decision on `size` against `gate`; true for the local arm
    * (`eligible` and within the gate). */
  def admit(op: String, unit: String, size: Long, gate: Long,
            eligible: Boolean = true): Boolean = {
    val local = eligible && size <= gate
    buffer.synchronized {
      if (buffer.size >= MaxRecords) buffer.removeFirst()
      buffer.addLast(Record(op, unit, if (eligible) size else -1L, gate,
        if (local) "local" else "distributed"))
    }
    local
  }

  /** How long [[checkpoint]] waits for an observation's metrics, which
    * arrive through the listener bus after the checkpoint's jobs end. */
  private val ObservationWait = scala.concurrent.duration.Duration(10, "s")

  /** `df` eagerly materialized, with what its materialization observed:
    * a row holding the exact row count followed by the `extras`
    * aggregates (evaluated over `df`'s rows). The aggregates ride the
    * `localCheckpoint`'s own jobs as an observation, so neither the count
    * nor a bounds pass costs an extra job; should the metrics not arrive
    * within [[ObservationWait]], one `agg` over the checkpointed blocks
    * computes them instead of blocking. Without `extras`, a `df` whose
    * optimized plan is already a LocalRelation (every driver replay
    * returns one) comes back as it is with its row count and runs no job. */
  def checkpoint(df: DataFrame, extras: Column*): (DataFrame, Row) = {
    val metrics = count(lit(1)).as("rows") +:
      extras.zipWithIndex.map { case (c, i) => c.as(s"extra$i") }
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if extras.isEmpty => (df, Row(l.data.size.toLong))
      case _ =>
        val (observed, obs) = Observability.observed(df, metrics)
        val cp = observed.localCheckpoint(true)
        val row = scala.util.Try(scala.concurrent.Await.result(obs.future, ObservationWait))
          .getOrElse(cp.agg(metrics.head, metrics.tail: _*).head())
        (cp, row)
    }
  }

  /** The rows of `df` when its `n` rows fit `maxRows`, else None: the
    * decision reads the count the caller's own materialization observed
    * (a [[checkpoint]]'s, or one the caller vouches for), so it runs no
    * job, and only an under-gate input is then collected — the over-gate
    * path materializes nothing on the driver. `df` should be
    * materialized: the collect and the distributed loop both read it.
    * With `valuesPerRow` > 1 the decision is recorded in `values`. */
  def rows(df: DataFrame, n: Long, maxRows: Long, op: String, eligible: Boolean = true,
           valuesPerRow: Long = 1L): Option[Array[Row]] = {
    val gate = math.min(maxRows, Int.MaxValue - 2L) // a collect's array bound
    val unit = if (valuesPerRow == 1L) "rows" else "values"
    if (admit(op, unit, n * valuesPerRow, gate * valuesPerRow, eligible)) Some(df.collect())
    else None
  }

  /** Whether every column is a long (the graph replays read `getLong`). */
  def longKeyed(df: DataFrame): Boolean = df.schema.fields.forall(_.dataType == LongType)

  /** A replay's output as a LocalRelation: unlike an RDD from
    * `parallelize`, its size statistics reach the planner, and
    * LocalTableScanExec still spreads the rows over the leaf-node default
    * parallelism. */
  def relation(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Removes and returns the recorded decisions, oldest first. */
  def drain(): Seq[Record] = buffer.synchronized {
    val out = buffer.toArray(new Array[Record](buffer.size)).toSeq
    buffer.clear()
    out
  }
}
