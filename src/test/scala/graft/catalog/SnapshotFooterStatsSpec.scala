package graft.catalog

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooters
import org.apache.spark.sql.functions.{col, input_file_name, max, min}
import org.apache.spark.sql.types._
import SnapshotTable.ColStats

/** Commit stats come from the new files' parquet footers. The
  * reference is the read-back aggregate they replaced: one Spark
  * min/max job at (partition, file) grain over the committed data dir,
  * rendered through the same `renderBound`. Randomized frames cover the
  * values where footer and aggregate could part: NaN, ±0.0, ±Infinity,
  * nulls, an all-NULL column, decimals stored as INT32/INT64/
  * FIXED_LEN_BYTE_ARRAY, float, short/byte, unicode and empty strings,
  * several files per entry and several row groups per file. */
class SnapshotFooterStatsSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("snapftr").toString + "/t"

  private val schema = StructType(Seq(
    StructField("p", IntegerType), StructField("l", LongType),
    StructField("i", IntegerType), StructField("sh", ShortType),
    StructField("by", ByteType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("dec7", DecimalType(7, 2)),
    StructField("dec12", DecimalType(12, 2)),
    StructField("dec30", DecimalType(30, 4)),
    StructField("s", StringType), StructField("nul", StringType)))

  private val strPool = Seq("", "a", "Z", "zz", "é", "日本",
    "😀", "a\u0000b", "ÿ", "abc")

  /** One randomized frame: `files` upstream tasks (so up to `files`
    * files per partition entry), value pools switched per trial so some
    * trials keep every bound and others lose columns to NaN/Inf. */
  private def frame(rnd: scala.util.Random, rows: Int, files: Int,
                    nan: Boolean, inf: Boolean): DataFrame = {
    def orNull[T](v: => T): Any = if (rnd.nextInt(10) == 0) null else v
    def dbl(): Double = rnd.nextInt(12) match {
      case 0 if nan => Double.NaN
      case 1 if inf => if (rnd.nextBoolean()) Double.PositiveInfinity
                       else Double.NegativeInfinity
      case 2 => 0.0
      case 3 => -0.0
      case _ => rnd.nextGaussian() * 1e3
    }
    def dec(digits: Int, scale: Int): java.math.BigDecimal =
      new java.math.BigDecimal(new java.math.BigInteger(
        (1 to digits).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString)
        .multiply(java.math.BigInteger.valueOf(
          if (rnd.nextBoolean()) 1L else -1L)), scale)
    val data = (0 until rows).map { _ =>
      Row(rnd.nextInt(3), orNull(rnd.nextLong()), orNull(rnd.nextInt()),
        orNull((rnd.nextInt(65536) - 32768).toShort),
        orNull((rnd.nextInt(256) - 128).toByte), orNull(dbl()),
        orNull(dbl().toFloat), orNull(dec(7, 2)), orNull(dec(12, 2)),
        orNull(dec(30, 4)),
        orNull(strPool(rnd.nextInt(strPool.length)) +
          (if (rnd.nextBoolean()) rnd.alphanumeric.take(3).mkString else "")),
        null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, files), schema)
  }

  /** The deleted read-back aggregate, verbatim in substance: per
    * (partition, file) min/max over the committed dir, entry bounds
    * merged from file bounds, a column any file omits omitted. */
  private def readBack(root: String, dirName: String)
      : Map[String, (Map[String, ColStats], Map[String, Map[String, ColStats]])] = {
    val cols = SnapshotTable.statsCols(schema, "p")
    val back = spark.read.schema(schema)
      .option("basePath", s"$root/$dirName").parquet(s"$root/$dirName")
    val aggs = cols.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")) }
    val byPartFile = back.groupBy(col("p"), input_file_name().as("_fn"))
      .agg(aggs.head, aggs.tail: _*).collect().toSeq.map { row =>
        val path = row.getString(1)
        (row.get(0).toString, path.substring(path.lastIndexOf('/') + 1),
          cols.flatMap { case (c, tpe) =>
            for {
              mn <- SnapshotTable.renderBound(tpe, row.getAs[Any](s"mn_$c"))
              mx <- SnapshotTable.renderBound(tpe, row.getAs[Any](s"mx_$c"))
            } yield c -> ColStats(tpe, mn, mx)
          }.toMap)
      }.groupBy(_._1).map { case (pv, rs) => pv -> rs.map(r => r._2 -> r._3).toMap }
    byPartFile.map { case (pv, files) =>
      pv -> (cols.flatMap { case (c, tpe) =>
        val bounds = files.values.toSeq.map(_.get(c))
        if (bounds.exists(_.isEmpty)) None
        else {
          val all = bounds.flatten
          Some(c -> ColStats(tpe,
            all.map(_.min).reduce((a, b) =>
              if (SnapshotTable.boundLt(tpe, a, b)) a else b),
            all.map(_.max).reduce((a, b) =>
              if (SnapshotTable.boundLt(tpe, a, b)) b else a)))
        }
      }.toMap, files)
    }
  }

  /** Manifest stats of the entries under `dirName`, keyed like
    * [[readBack]]. */
  private def recorded(root: String, v: Long, dirName: String)
      : Map[String, (Map[String, ColStats], Map[String, Map[String, ColStats]])] = {
    val m = SnapshotTable.manifestAt(spark, root, v)
    m.entries.indices.filter(i => m.entries(i).startsWith(dirName + "/"))
      .map(i => m.entries(i).stripPrefix(s"$dirName/p=") ->
        (m.stats(i), m.fileStats(i))).toMap
  }

  private def newDir(root: String, v: Long, before: Set[String]): String =
    SnapshotTable.manifestAt(spark, root, v).entries
      .map(e => e.substring(0, e.indexOf('/'))).toSet.diff(before).toSeq match {
      case Seq(d) => d
      case ds => fail(s"expected one new data dir, got $ds")
    }

  test("footer stats equal the read-back min/max aggregate, entry and " +
       "per file, on randomized frames with several files per entry and " +
       "several row groups per file") {
    val rnd = new scala.util.Random(20261017L)
    var multiGroup = 0
    var boundCols = Set.empty[String]
    // small row groups, written in a clone: the suite's session never changes
    val small = GraftBridge.cloneSession(spark, Map("parquet.block.size" -> "4096"))
    (1 to 12).foreach { trial =>
      val root = freshRoot()
      val nan = trial % 3 == 0
      val inf = trial % 4 == 0
      val df = GraftBridge.rehome(
        frame(rnd, 300 + rnd.nextInt(900), 1 + rnd.nextInt(4), nan, inf), small)
      val v1 = SnapshotTable.commitPartitioned(df, root, 0L, "p")
      val d1 = newDir(root, v1, Set.empty)
      assert(recorded(root, v1, d1) == readBack(root, d1), s"trial $trial")
      // the append path records the same footer stats for its new entries
      val v2 = SnapshotTable.appendInto(GraftBridge.rehome(
        frame(rnd, 200, 1 + rnd.nextInt(3), nan, inf), small), root, "p")
      val d2 = newDir(root, v2, Set(d1))
      val got = recorded(root, v2, d2)
      assert(got == readBack(root, d2), s"trial $trial (append)")
      boundCols ++= got.values.flatMap(_._1.keys)
      val conf = spark.sparkContext.hadoopConfiguration
      multiGroup += GraftFooters.dataFiles(conf, new Path(s"$root/$d1/p=0"))
        .count(f => GraftFooters.footer(conf, f, rowGroups = true)
          .getBlocks.size > 1)
    }
    assert(multiGroup > 0, "no file had several row groups")
    // every bounded type was exercised, and the all-NULL column never is
    assert(Set("l", "i", "sh", "by", "d", "f", "dec7", "dec12", "dec30", "s")
      .subsetOf(boundCols), boundCols)
    assert(!boundCols.contains("nul"))
  }
}
