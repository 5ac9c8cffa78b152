package graft.ops

import graft.{SparkSpec, table}
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The layer stack ([[WroQueries.perCell]]) is the unmemoized per-cell
  * aggregate of the lineitem version it was built from, built once per
  * SparkContext and version, and dropped at application end. */
class LayerStackSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.get(0).toString)

  /** The stack of `dir` against [[WroQueries.perCellOf]] run directly. */
  private def assertFresh(dir: String): Unit = {
    val direct = WroQueries.perCellOf(table(spark, dir, "lineitem"))
    val stack = WroQueries.perCell(spark, dir)
    assert(stack.schema == direct.schema)
    assert(rows(stack) == rows(direct))
  }

  /** The stack's driver-held rows: the `LocalRelation`'s data. */
  private def data(df: DataFrame): AnyRef =
    df.queryExecution.analyzed.collectFirst { case l: LocalRelation => l.data }.get

  /** A single-file lineitem table at `dest` with `n` facts. */
  private def writeLineitem(dest: Path, n: Int, seed: Int): Unit = {
    import spark.implicits._
    val staging = Files.createTempDirectory("layerstack-staging")
    (0 until n).map(i => (i * 7L + seed, ((i + seed) % 50).toDouble,
        (i * 13 + seed) * 1.5, ((i + seed) % 11) / 100.0))
      .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      .coalesce(1).write.mode("overwrite").parquet(staging.resolve("t").toString)
    val part = Files.list(staging.resolve("t")).iterator()
    val file = Iterator.continually(part.next())
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.copy(file, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  test("the layer stack equals the unmemoized per-cell aggregate at " +
       "sf0.01, sf0.001 and on a temp file") {
    assertFresh("/root/testdata/sf0.01")
    assertFresh("/root/testdata/sf0.001")
    val tmp = Files.createTempDirectory("layerstack")
    writeLineitem(tmp.resolve("lineitem.parquet"), 500, 1)
    assertFresh(tmp.toString)
  }

  test("rewriting the lineitem file with a different length gives the " +
       "new rows") {
    val tmp = Files.createTempDirectory("layerstack")
    val file = tmp.resolve("lineitem.parquet")
    writeLineitem(file, 300, 1)
    val before = rows(WroQueries.perCell(spark, tmp.toString))
    val (len, mtime) = (Files.size(file), Files.getLastModifiedTime(file))
    writeLineitem(file, 900, 2)
    // same modification time: the length alone tells the versions apart
    Files.setLastModifiedTime(file, mtime)
    assert(Files.size(file) != len)
    assertFresh(tmp.toString)
    assert(rows(WroQueries.perCell(spark, tmp.toString)) != before)
  }

  test("two cold readers get equal rows from one build") {
    val tmp = Files.createTempDirectory("layerstack")
    writeLineitem(tmp.resolve("lineitem.parquet"), 400, 3)
    val start = new java.util.concurrent.CountDownLatch(1)
    val reads = Seq.fill(2)(Future {
      start.await()
      WroQueries.perCell(spark, tmp.toString)
    })
    start.countDown()
    val Seq(a, b) = reads.map(Await.result(_, 2.minutes))
    assert(data(a) eq data(b))
    assert(rows(a) == rows(b))
  }

  test("the application-end hook empties the context's entries") {
    val sc = spark.sparkContext
    WroQueries.perCell(spark, "/root/testdata/sf0.001")
    val held = WroQueries.layerStacks.ofContext(sc).get
    assert(held.versions > 0)
    held.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(WroQueries.layerStacks.ofContext(sc).isEmpty)
    assertFresh("/root/testdata/sf0.001")
    assert(WroQueries.layerStacks.ofContext(sc).exists(_.versions == 1))
  }

  test("a hit's build runs 0 jobs") {
    val dir = "/root/testdata/sf0.01"
    WroQueries.perCell(spark, dir)
    assert(jobs(WroQueries.perCell(spark, dir)) == 0)
  }
}
