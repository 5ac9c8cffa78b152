package graft

import org.apache.spark.sql.functions._

/** Data-skipping payoff measurement (SCALE.md evidence): commit the
  * sf1 lineitem fact as a ~50-partition snapshot, then read a
  * selective key range BOTH ways — full `read().filter(...)` vs the
  * stats-pruned `readWhere` — and report min-of-N wall plus the
  * entries actually scanned. The fact table (6M rows at sf1) is used
  * rather than the events dim because ScaleUp copies dims through
  * unchanged — pruning evidence needs a table the SF actually scales.
  *
  * Usage: runMain graft.PruneBench [sfDir] [reps]
  */
object PruneBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/target/testdata-sf1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val spark = localSession(16)
    import graft.catalog.SnapshotTable
    import graft.catalog.SnapshotTable.Pred

    val root = "target/prunebench/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val mx = li.agg(max("l_orderkey")).head.getLong(0)
    val width = math.max(1L, mx / 50)
    val fact = li
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        floor(col("l_orderkey") / width).cast("long").as("bkt"))
    val v1 = SnapshotTable.commitPartitioned(fact, root, 0L, "bkt")
    val m = SnapshotTable.manifestAt(spark, root, v1)
    // a mid-range slice spanning ~2 of the ~50 partitions
    val (lo, hi) = (20 * width, 22 * width - 1)
    val preds = Seq(Pred("l_orderkey", ">=", lo), Pred("l_orderkey", "<=", hi))
    val scanned = SnapshotTable.pruneEntries(m, preds).length

    def run(pruned: Boolean): (Double, Long) = {
      val df =
        if (pruned) SnapshotTable.readWhere(spark, root, v1, preds)
        else SnapshotTable.read(spark, root, v1)
          .filter(SnapshotTable.predColumn(preds))
      val t0 = System.nanoTime()
      val n = df.agg(sum("l_quantity").cast("long")).head.getLong(0)
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // warm both paths once, then alternate timed reps; min is the
    // steady-state number (page cache warm either way)
    run(pruned = false); run(pruned = true)
    val full = (1 to reps).map(_ => run(pruned = false))
    val skip = (1 to reps).map(_ => run(pruned = true))
    require(full.map(_._2).distinct == skip.map(_._2).distinct,
      s"pruned read diverged: ${full.head._2} vs ${skip.head._2}")
    val (fMin, sMin) = (full.map(_._1).min, skip.map(_._1).min)
    println(
      f"""{"sf":"$sfDir","entries_total":${m.entries.length},""" +
      f""""entries_scanned":$scanned,"full_min_s":$fMin%.3f,""" +
      f""""pruned_min_s":$sMin%.3f,"speedup":${fMin / sMin}%.2f}""")

    // ---- file-grain leg: the fragmented-ingest shape (snk22) ----
    // the SAME fact committed into FEW partitions (8) but many files
    // per partition (each partition's rows sorted by key, files rolled
    // every maxRecordsPerFile rows) — entry pruning barely helps (the
    // probe lands inside some partition), file pruning reads ~1 file
    // of the ~12 in each surviving entry.
    val froot = "target/prunebench/frag"
    fs.delete(new org.apache.hadoop.fs.Path(froot), true)
    val bigWidth = math.max(1L, mx / 8)
    val ffact = li
      .select(col("l_orderkey"), col("l_quantity"),
        floor(col("l_orderkey") / bigWidth).cast("long").as("bkt"))
    val perPart = ffact.groupBy("bkt").count().agg(max("count"))
      .head.getLong(0)
    val confKey = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(confKey, perPart / 12 + 1)
    val fv = SnapshotTable.commitPartitioned(
      ffact.repartition(col("bkt"))
        .sortWithinPartitions("bkt", "l_orderkey"),
      froot, 0L, "bkt")
    spark.conf.set(confKey, 0L)
    val fm = SnapshotTable.manifestAt(spark, froot, fv)
    // a slice INSIDE one partition: entry pruning keeps that whole
    // entry; file pruning reads only the intersecting files
    val (flo, fhi) = (2 * bigWidth + bigWidth / 3,
                      2 * bigWidth + bigWidth / 3 + bigWidth / 12)
    val fpreds = Seq(Pred("l_orderkey", ">=", flo),
                     Pred("l_orderkey", "<=", fhi))
    val fsel = SnapshotTable.pruneFiles(fm, fpreds)
    val filesScanned = fsel.flatMap(_._2.map(_.length.toLong)).sum
    val filesTotal = fm.fileStats.map(_.size.toLong).sum
    def frun(pruned: Boolean): (Double, Long) = {
      val df =
        if (pruned) SnapshotTable.readWhere(spark, froot, fv, fpreds)
        else SnapshotTable.read(spark, froot, fv)
          .filter(SnapshotTable.predColumn(fpreds))
      val t0 = System.nanoTime()
      val n = df.agg(sum("l_quantity").cast("long")).head.getLong(0)
      ((System.nanoTime() - t0) / 1e9, n)
    }
    frun(pruned = false); frun(pruned = true)
    val ffull = (1 to reps).map(_ => frun(pruned = false))
    val fskip = (1 to reps).map(_ => frun(pruned = true))
    require(ffull.map(_._2).distinct == fskip.map(_._2).distinct,
      s"file-pruned read diverged: ${ffull.head._2} vs ${fskip.head._2}")
    val (ffMin, fsMin) = (ffull.map(_._1).min, fskip.map(_._1).min)
    println(
      f"""{"sf":"$sfDir","leg":"file_grain","entries_total":${fm.entries.length},""" +
      f""""entries_scanned":${fsel.length},"files_total":$filesTotal,""" +
      f""""files_scanned":$filesScanned,"full_min_s":$ffMin%.3f,""" +
      f""""pruned_min_s":$fsMin%.3f,"speedup":${ffMin / fsMin}%.2f}""")
    spark.stop()
  }
}
