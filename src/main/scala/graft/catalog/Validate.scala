package graft.catalog

import graft.codec.RangeCodec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's validation predicates V1–V5 as reusable Column
  * expressions / plan-time checks. */
object Validate {

  /** V1 (pyt:137-147): required-field presence — a plan-time schema
    * assertion, failing fast like the reference's updateMessages. Public
    * although only CatalogSpec calls it: it is the reference's own V1
    * check, kept as API for a caller that validates a catalog before it
    * loads it. */
  def requireFields(df: DataFrame, required: Seq[String]): Unit = {
    val have = df.schema.fieldNames.map(_.toLowerCase).toSet
    val missing = required.filterNot(f => have(f.toLowerCase))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing required fields: ${missing.mkString(", ")}")
  }

  /** V2 (pyt:199-218): contiguity of an encoded InputRanges CSV. */
  def rangesContiguous(inputRanges: Column): Column =
    RangeCodec.isContiguous(RangeCodec.decodeRanges(inputRanges))

  /** R3 (pyt:1149-1159, pyt:738-740): duplicate-name guard — returns the
    * names appearing more than once with their counts; empty = valid.
    * The reference errors on any duplicate layer name. Public although
    * only CatalogSpec calls it: it is the reference's own R3 check, kept
    * as API beside [[requireFields]]. */
  def duplicateNames(df: DataFrame, nameCol: String = "name"): DataFrame =
    df.groupBy(col(nameCol)).agg(count(lit(1)).as("n")).filter(col("n") > 1)

  /** V4 (pyt:485-491): URL must start with http:// or https://,
    * case-insensitively. */
  def urlOk(url: Column): Column = url.rlike("(?i)^https?://")

  /** V5 (pyt:677-681): identifier must avoid the reference's forbidden
    * character set (space, punctuation, brackets...). */
  val forbiddenIdentChars: String = " ~`!@#$%^&*(){}[]-+=<>,.?\\|"
  def identifierOk(name: Column): Column = {
    val cls = forbiddenIdentChars
      .map(c => if ("\\^]-[".contains(c)) s"\\$c" else c.toString)
      .mkString("[", "", "]")
    !name.rlike(cls)
  }
}
