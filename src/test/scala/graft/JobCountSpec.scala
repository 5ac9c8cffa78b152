package graft

import org.apache.spark.sql.GraftBridge
import graft.catalog.SnapshotTable

/** Pins that the service path learns metadata without Spark jobs, the
  * way PlanBudgetSpec pins exchanges: fixture tables take their schema
  * from parquet footers, commit stats come from the new files' footers,
  * an append names its partitions from its own write's listing, and a
  * delete chain's key files are read under the table's recorded types.
  * Also pins the job count of the one-pass overlay reads, with the layer
  * stack built and when a read builds it (the build is one job). */
class JobCountSpec extends SparkSpec {

  /** Jobs per overlay read at sf0.01, build and collect() together, once
    * the layer stack is built: the stats window's exchange and the
    * result. */
  private val readJobs = Seq("wro_overlay_flagship" -> 2,
    "wro_overlay_nodata" -> 2, "f9_remap_expr" -> 2)

  readJobs.foreach { case (name, pinned) =>
    test(s"$name runs $pinned Spark jobs on a built layer stack and " +
         "holds no RDD after clearCache") {
      val dir = "/root/testdata/sf0.01"
      graft.ops.WroQueries.perCell(spark, dir)
      // count only the RDDs this read made, so blocks other suites left
      // behind cannot skew the check
      val residue = new GraftBridge.Residue(spark.sparkContext)
      val n = jobs(SparkEntry.queries(name)(spark, dir).collect())
      spark.catalog.clearCache()
      assert(n == pinned)
      assert(residue.held == 0)
    }
  }

  /** Jobs per overlay read that builds the layer stack, on a fresh copy
    * of sf0.01 lineitem (a version no other test built): the build's one
    * job, then the read's two. */
  private val coldJobs = Seq("wro_overlay_flagship" -> 3,
    "wro_overlay_nodata" -> 3, "f9_remap_expr" -> 3)

  coldJobs.foreach { case (name, pinned) =>
    test(s"$name runs $pinned Spark jobs and holds no RDD after clearCache") {
      val tmp = java.nio.file.Files.createTempDirectory("jobcount")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.01/lineitem.parquet"),
        tmp.resolve("lineitem.parquet"))
      val residue = new GraftBridge.Residue(spark.sparkContext)
      def read() = jobs(SparkEntry.queries(name)(spark, tmp.toString).collect())
      val (miss, hit) = (read(), read())
      spark.catalog.clearCache()
      assert(miss == pinned)
      assert(hit == readJobs.toMap.apply(name))
      assert(residue.held == 0)
    }
  }

  test("building graft.table runs no Spark job") {
    val dir = "/root/testdata/sf0.01"
    Tables.names.foreach(n => assert(jobs(table(spark, dir, n)) == 0, n))
  }

  test("commitPartitioned and appendInto of a local batch run only the " +
       "write job(s)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("jobcount").toString
    def batch(k: Long) = Seq(("a", k, k * 10), ("b", k + 1, k * 10 + 1))
      .toDF("p", "id", "v")
    val write = jobs(batch(0L).write.partitionBy("p").parquet(s"$tmp/plain"))
    assert(write >= 1)
    val root = s"$tmp/t"
    val commit = jobs(SnapshotTable.commitPartitioned(batch(0L), root, 0L, "p"))
    val append = jobs(SnapshotTable.appendInto(batch(2L), root, "p"))
    val pinned = jobs(SnapshotTable.appendInto(batch(4L), root, "p",
      expectedBase = SnapshotTable.currentVersion(spark, root)))
    info(s"jobs: plain write $write, commitPartitioned $commit, " +
      s"appendInto $append, pinned appendInto $pinned")
    assert(Seq(commit, append, pinned) == Seq(write, write, write))
    assert(SnapshotTable.readLatest(spark, root).count() == 6L)
  }

  test("building a read of a table with a delete chain runs no Spark job") {
    import spark.implicits._
    val root =
      java.nio.file.Files.createTempDirectory("jobcount").toString + "/t"
    val v0 = SnapshotTable.commitPartitioned(
      (0L until 8L).map(i => (if (i % 2 == 0) "a" else "b", i, i * 10))
        .toDF("p", "id", "v"), root, 0L, "p")
    // two delete dirs on `id`, one on (v, p): two key-column groups
    val v1 = SnapshotTable.commitDelete(Seq(1L).toDF("id"), root, v0, Seq("id"))
    val v2 = SnapshotTable.commitDelete(Seq(2L).toDF("id"), root, v1, Seq("id"))
    SnapshotTable.commitDelete(Seq(("a", 40L)).toDF("p", "v"), root, v2,
      Seq("v"))
    assert(jobs(SnapshotTable.readLatest(spark, root)) == 0)
    assert(SnapshotTable.readLatest(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 3L, 5L, 6L, 7L))
  }
}
