package graft.bench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** The verified action: every output column is hashed per row and the
  * row hashes are summed, so the result is independent of row order and
  * no column can be pruned away (a plain `count()` lets Catalyst drop the
  * projection the consumer of a query would pay for). */
object Digest {
  final case class Value(rows: Long, hash: BigDecimal) {
    override def toString: String = s"rows=$rows hash=$hash"
  }

  def wrap(df: DataFrame): DataFrame = {
    // positional names: query outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        // hash expressions reject maps; hash their sorted entries instead
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val rowHash =
      if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast(DecimalType(20, 0))), lit(BigDecimal(0))).as("hash"))
  }

  def read(r: Row): Value = Value(r.getLong(0), BigDecimal(r.getDecimal(1)))
}
