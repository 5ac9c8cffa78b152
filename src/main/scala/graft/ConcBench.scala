package graft

import org.apache.spark.sql.functions._

/** Multi-writer commit throughput measurement (SCALE.md evidence for
  * the disjoint-partition rebase): the sf1 lineitem fact committed as
  * a ~32-partition snapshot, then N writers each `commitReplace` ONE
  * distinct partition — once SEQUENTIALLY (each writer re-reads the
  * current version first: the polite protocol the whole-table CAS
  * forces) and once CONCURRENTLY from the SAME stale base, where every
  * writer except the first loses the CAS and lands via the rebase
  * proof. Asserts all writers land in both modes, the final tables are
  * row-identical, and reports wall clocks plus the rebase count — the
  * point is not that concurrent wall beats sequential on a shared
  * local box (data writes contend for the same cores) but that N-1
  * conflicts resolve at MANIFEST cost (the data of each writer is
  * written exactly once, structurally) with zero failures. Prints one
  * JSON line.
  *
  * Usage: runMain graft.ConcBench [sfDir] [writers]
  */
object ConcBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/target/testdata-sf1")
    val writers = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = localSession(32)
    import graft.catalog.SnapshotTable

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val mx = li.agg(max("l_orderkey")).head.getLong(0)
    val width = math.max(1L, mx / 32)
    val fact = li
      .select(col("l_orderkey"), col("l_quantity"),
        floor(col("l_orderkey") / width).cast("long").as("bkt"))
      .localCheckpoint()

    def freshTable(root: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      SnapshotTable.commitPartitioned(fact, root, 0L, "bkt")
    }
    def update(b: Long) = fact.filter(col("bkt") === b)
      .withColumn("l_quantity", col("l_quantity") + 1000.0)

    // sequential: each writer reads the current version, then commits
    val seqRoot = "target/concbench/seq"
    val sv = freshTable(seqRoot)
    val t0 = System.nanoTime()
    (0 until writers).foreach { i =>
      val cur = SnapshotTable.currentVersion(spark, seqRoot)
      SnapshotTable.commitReplace(update(i.toLong), seqRoot, cur, "bkt")
    }
    val seqWall = (System.nanoTime() - t0) / 1e9
    require(SnapshotTable.currentVersion(spark, seqRoot) == sv + writers)

    // concurrent: every writer starts from the SAME base — N-1 must
    // rebase; all must land
    val conRoot = "target/concbench/con"
    val cv = freshTable(conRoot)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val rebases0 = SnapshotTable.rebasesPerformed.get()
    val t1 = System.nanoTime()
    val threads = (0 until writers).map(i => new Thread(() =>
      try SnapshotTable.commitReplace(update(i.toLong), conRoot, cv,
        "bkt", rebaseRetries = 4 * writers): Unit
      catch { case t: Throwable => errs.add(t): Unit }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val conWall = (System.nanoTime() - t1) / 1e9
    val rebases = SnapshotTable.rebasesPerformed.get() - rebases0
    require(errs.isEmpty, s"a disjoint concurrent writer failed: ${errs.peek()}")
    require(SnapshotTable.currentVersion(spark, conRoot) == cv + writers)

    // both protocols must produce the identical final table — summed
    // in DECIMAL (exact, order-independent), not double: the two
    // layouts aggregate in different file orders and a float sum could
    // differ by ulps on identical row multisets
    def checksum(root: String) = SnapshotTable.readLatest(spark, root)
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(24,4)")))
      .head()
    val a = checksum(seqRoot)
    val b = checksum(conRoot)
    require(a == b, s"sequential and concurrent final tables differ: $a vs $b")

    // ----------------------------------------------------------------
    // MIXED WORKLOAD (the snk21 claim verbatim): N appendInto ingest
    // streams — each owning one partition, floating base, several
    // batches — racing a floating-base compaction daemon working COLD
    // partitions (the realistic shape: maintenance compacts what
    // ingest is not writing). Every conflict is disjoint, so ZERO
    // failures are required, and the final table must be row-identical
    // to the same operations replayed sequentially (compaction never
    // changes content; appends are per-partition unions, so replay
    // order is immaterial — that is what makes the equality exact).
    // ----------------------------------------------------------------
    val batches = 3
    val compactIters = 4
    val hotParts = (0 until writers).map(_.toLong)
    val coldParts = Seq(30L, 31L)
    def batchDf(b: Long, k: Int) = fact.filter(col("bkt") === b)
      .withColumn("l_orderkey", col("l_orderkey") + lit((k + 1) * 1000000000L))
    def runMixed(root: String, concurrent: Boolean): Double = {
      freshTable(root)
      val t = System.nanoTime()
      if (!concurrent) {
        hotParts.foreach(b => (0 until batches).foreach(k =>
          SnapshotTable.appendInto(batchDf(b, k), root, "bkt")))
        (0 until compactIters).foreach(_ =>
          SnapshotTable.compact(spark, root, -1L, "bkt",
            parts = coldParts.map(_.toString)))
      } else {
        val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val appenders = hotParts.map(b => new Thread(() =>
          try (0 until batches).foreach(k =>
            SnapshotTable.appendInto(batchDf(b, k), root, "bkt",
              rebaseRetries = 8 * (writers + 1)): Unit)
          catch { case x: Throwable => errs2.add(x): Unit }))
        val daemon = new Thread(() =>
          try (0 until compactIters).foreach { _ =>
            SnapshotTable.compact(spark, root, -1L, "bkt",
              parts = coldParts.map(_.toString),
              rebaseRetries = 8 * (writers + 1)): Unit
            Thread.sleep(25L)
          } catch { case x: Throwable => errs2.add(x): Unit })
        (appenders :+ daemon).foreach(_.start())
        (appenders :+ daemon).foreach(_.join())
        require(errs2.isEmpty,
          s"mixed workload: a disjoint writer failed: ${errs2.peek()}")
      }
      (System.nanoTime() - t) / 1e9
    }
    val rebases1 = SnapshotTable.rebasesPerformed.get()
    val mixedSeqWall = runMixed("target/concbench/mixseq", concurrent = false)
    val mixedConWall = runMixed("target/concbench/mixcon", concurrent = true)
    val mixedRebases = SnapshotTable.rebasesPerformed.get() - rebases1
    val ma = checksum("target/concbench/mixseq")
    val mb = checksum("target/concbench/mixcon")
    require(ma == mb,
      s"mixed sequential and concurrent final tables differ: $ma vs $mb")
    require(SnapshotTable.currentVersion(spark, "target/concbench/mixcon")
      == 1L + writers * batches + compactIters,
      "mixed workload lost a commit")

    println(s"""{"metric":"conc_commit","sf_dir":"$sfDir",""" +
      s""""writers":$writers,"rebases":$rebases,""" +
      f""""sequential_wall_s":$seqWall%.2f,"concurrent_wall_s":$conWall%.2f,""" +
      s""""mixed_writers":${writers + 1},"mixed_commits":${writers * batches + compactIters},""" +
      s""""mixed_rebases":$mixedRebases,""" +
      f""""mixed_sequential_wall_s":$mixedSeqWall%.2f,""" +
      f""""mixed_concurrent_wall_s":$mixedConWall%.2f}""")
    spark.stop()
  }
}
