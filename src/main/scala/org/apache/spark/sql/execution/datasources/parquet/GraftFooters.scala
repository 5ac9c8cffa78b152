package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footer reads: the metadata a table path already
  * carries (schema, row counts, row-group min/max), read without a
  * Spark job. Sits in Spark's parquet package, the way
  * [[org.apache.spark.sql.GraftBridge]] sits in `org.apache.spark.sql`,
  * so the schema conversion is Spark's own `ParquetFileFormat.readSchema`
  * — the session's nanosAsLong, INT96 and binary-as-string confs apply
  * exactly as schema inference applies them. */
object GraftFooters {

  /** The data files of a parquet path: the file itself, or a directory's
    * visible files (Spark's hidden-file rule: no `_` or `.` prefix) in
    * name order. */
  def dataFiles(conf: Configuration, path: Path): Seq[FileStatus] = {
    val fs = path.getFileSystem(conf)
    val st = fs.getFileStatus(path)
    if (st.isFile) Seq(st)
    else fs.listStatus(path).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
  }

  /** One file's footer; `rowGroups = false` skips the row-group block
    * (all a schema needs). */
  def footer(conf: Configuration, file: FileStatus,
             rowGroups: Boolean): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      if (rowGroups) ParquetMetadataConverter.NO_FILTER
      else ParquetMetadataConverter.SKIP_ROW_GROUPS)

  /** The schema `spark.read.parquet(path)` would infer, from the footer
    * of the first data file in name order. Non-merging inference reads a
    * single file too, and every file of a Spark-written directory
    * carries the same schema. */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val first = dataFiles(conf, new Path(path)).headOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file at $path"))
    ParquetFileFormat.readSchema(
      Seq(new Footer(first.getPath, footer(conf, first, rowGroups = false))),
      spark).getOrElse(
      throw new IllegalArgumentException(s"no parquet schema at $path"))
  }

  /** Total row count of a parquet path: the sum of its row groups'
    * counts over every data file. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, new Path(path)).map(f =>
      footer(conf, f, rowGroups = true).getBlocks.asScala
        .map(_.getRowCount).sum).sum
  }
}
