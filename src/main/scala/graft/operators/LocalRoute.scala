package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * A gate counts `rows` (probed input rows), `values` (rows × vector
  * width) or `ops` (the replay's multiply-adds). Every decision appends a
  * [[Record]] to a bounded driver-side buffer that [[drain]] empties. */
object LocalRoute {

  /** One routing decision. `size` is the measured input in `unit` — for a
    * [[rows]] probe the bounded probe count, so `gate + 1` reads as "over
    * the gate"; for a known-count decision (a [[checkpoint]]'s count) the
    * exact count — or -1 when the input was ineligible and never
    * measured. `arm` is `local` or `distributed`. */
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

  /** `df` eagerly `localCheckpoint`ed, with its exact row count: a
    * `count(lit(1))` observation rides the checkpoint's own jobs, so the
    * count costs no extra job. Should the metrics not arrive within
    * [[ObservationWait]], the count falls back to a `count()` over the
    * checkpointed blocks rather than blocking. */
  def checkpoint(df: DataFrame): (DataFrame, Long) = {
    val (observed, obs) = Observability.observed(df, Seq(count(lit(1)).as("rows")))
    val cp = observed.localCheckpoint(true)
    val n = scala.util.Try(scala.concurrent.Await.result(obs.future, ObservationWait))
      .map(_.getLong(0)).getOrElse(cp.count())
    (cp, n)
  }

  /** The rows of `df` when it holds at most `maxRows` rows, else None. A
    * bounded `limit(gate + 1).count()` decides executor-side (the global
    * limit gathers at most gate + 1 rows into one task), and only an
    * under-gate input is then collected: the over-gate path materializes
    * nothing on the driver, where collecting the prefix just to discard
    * it would allocate ~gate boxed Rows. `df` should be checkpointed —
    * the probe, the collect and the distributed loop all read it. A
    * `known` row count (from [[checkpoint]]) decides without the probe.
    * With `valuesPerRow` > 1 the decision is recorded in `values`. */
  def rows(df: DataFrame, maxRows: Long, op: String, eligible: Boolean = true,
           valuesPerRow: Long = 1L, known: Option[Long] = None): Option[Array[Row]] = {
    val gate = math.min(maxRows, Int.MaxValue - 2L).toInt
    val n = if (eligible) known.getOrElse(df.limit(gate + 1).count()) else 0L
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
