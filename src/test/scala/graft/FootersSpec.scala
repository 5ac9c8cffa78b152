package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.parquet.GraftFooters

/** Fixture metadata read from parquet footers on the driver must be
  * what Spark would infer or count with a job. */
class FootersSpec extends SparkSpec {

  private val dirs =
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  test("the footer schema equals parquet inference for every fixture " +
       "table at sf0.001, sf0.01 and sf0.1") {
    for (dir <- dirs; n <- Tables.names) {
      val path = s"$dir/$n.parquet"
      assert(spark.read.schema(GraftFooters.schema(spark, path)).parquet(path)
        .schema == spark.read.parquet(path).schema, path)
      // events also passes through the ts rebuild
      assert(table(spark, dir, n).schema ==
        (if (n == "events") rebuildEventTs(spark.read.parquet(path))
         else spark.read.parquet(path)).schema, path)
    }
  }

  test("the footer schema of a Spark-written multi-file directory equals " +
       "inference, and its row count sums every file") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("footers").toString +
      "/multi.parquet"
    Seq.tabulate(1000)(i => (i.toLong, s"r$i", i * 0.5, i % 7 == 0))
      .toDF("id", "name", "x", "flag").repartition(4)
      .write.parquet(dir)
    val files = GraftFooters.dataFiles(
      spark.sparkContext.hadoopConfiguration, new Path(dir))
    assert(files.length == 4, files.map(_.getPath.getName))
    assert(files.map(_.getPath.getName) == files.map(_.getPath.getName).sorted)
    assert(spark.read.schema(GraftFooters.schema(spark, dir)).parquet(dir)
      .schema == spark.read.parquet(dir).schema)
    assert(GraftFooters.rowCount(spark, dir) == 1000L)
  }

  test("the footer row count equals count() for every fixture table at " +
       "sf0.01") {
    val dir = dirs(1)
    Tables.names.foreach { n =>
      val path = s"$dir/$n.parquet"
      assert(GraftFooters.rowCount(spark, path) ==
        spark.read.parquet(path).count(), path)
    }
  }
}
