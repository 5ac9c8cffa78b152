package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to Spark 4's private[sql] Column <-> catalyst Expression
  * conversions, needed to expose custom Catalyst expressions (e.g.
  * graft.codec.Rfc4180Decode) as user-facing Columns. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-plan a batch frame as a STREAMING-flagged one — what a DSv1
    * streaming Source's getBatch must hand back (the engine asserts
    * isStreaming=true; FileStreamSource uses the same private[sql]
    * internalCreateDataFrame). The RDD is lazy: this plans, it does
    * not execute. */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** `df.localCheckpoint()` WITHOUT the origin plan's estimated
    * statistics. Spark 4's checkpoint carries the child plan's
    * sizeInBytes into its LogicalRDD, and a loop whose round joins its
    * own state multiplies those estimates every round — a BigInteger
    * whose digit count doubles per round, until the driver spends
    * minutes per round in the stats visitor. The rebuilt leaf has no
    * origin stats (the session's defaultSizeInBytes, as for any RDD
    * frame) and keeps the checkpoint's own output partitioning, so a
    * hash layout established before the checkpoint survives into the
    * next round's joins. Eager, like localCheckpoint. */
  def freshCheckpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val r = df.localCheckpoint().queryExecution.logical.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(spark, r.copy()(spark, None, None))
  }
}
