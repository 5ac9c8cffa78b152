package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a query's full output.
  *
  * Every output column feeds one 64-bit row hash, so the optimizer cannot
  * prune any of them away; the rows are folded by count and an exact
  * decimal sum of the hashes, which ignores row order but not row
  * multiplicity. Column names and types enter through a schema hash. */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    val byPosition = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = byPosition.schema.fields.toSeq.map(f =>
      hashable(col(f.name), f.dataType))
    byPosition.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
  }

  /** Map columns have no stable hash; their sorted entries do. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def format(row: Row, df: DataFrame): String = {
    val sum = if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    f"${row.getLong(0)}:$sum:${MurmurHash3.stringHash(schema)}%08x"
  }
}
