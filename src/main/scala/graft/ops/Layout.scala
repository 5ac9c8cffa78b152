package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: Z-order (Morton) interleaving for
  * multi-dimensional clustering.
  *
  * Why it matters at 100 TB: a table range-partitioned and sorted on ONE
  * key prunes scans only on that key. Writing the table ordered by the
  * Z-interleave of two keys gives every file a small min/max rectangle
  * in BOTH dimensions, so a predicate on either key (or a 2D box) skips
  * most files via ordinary parquet/ORC min-max stats — no index
  * structure, no engine extension, just `repartitionByRange(zkey) +
  * sortWithinPartitions(zkey)` at write time. The interleave itself is
  * pure bit arithmetic — codegen'd, shuffle-free, and exactly
  * reproducible in any engine (the oracle recomputes it in SQL).
  */
object Layout {

  /** Morton-interleave two 16-bit keys into a 32-bit Z-value: bit i of
    * `x` lands at position 2i, bit i of `y` at 2i+1. Inputs are masked
    * to 16 bits (the caller picks the resolution; 16 bits per dimension
    * addresses a 65536x65536 grid, plenty for file-level clustering). Pure
    * `shiftright/and/shiftleft/or` fold — stays in WholeStageCodegen. */
  def zorder16(x: Column, y: Column): Column = {
    val xm = x.cast("long").bitwiseAND(lit(0xFFFFL))
    val ym = y.cast("long").bitwiseAND(lit(0xFFFFL))
    (0 until 16).map { i =>
      shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Inverse of [[zorder16]]: extract the (x, y) pair back out of a
    * Z-value — the round-trip property the spec checks. */
  def dezorder16(z: Column): (Column, Column) = {
    def gather(offset: Int): Column =
      (0 until 16).map { i =>
        shiftleft(shiftright(z.cast("long"), 2 * i + offset)
          .bitwiseAND(lit(1L)), i)
      }.reduce(_ bitwiseOR _)
    (gather(0), gather(1))
  }

  /** Cluster `df` for 2D pruning: range-partition then sort by the
    * Z-value of (x, y). Files written from the result carry tight
    * min/max rectangles in both dimensions. */
  def zorderBy(df: DataFrame, x: Column, y: Column,
               partitions: Int): DataFrame = {
    val keyed = df.withColumn("__z", zorder16(x, y))
    keyed.repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Table MAINTENANCE: compaction × Z-order in ONE rewrite — the op a
    * 100-TB deployment schedules nightly. Streaming/merge sinks leave N
    * small fragments (the snk4 pathology: per-file overhead dominates
    * scans); a plain compaction fixes file count but writes an
    * arbitrary row layout. This reads the fragmented table once and
    * rewrites it as `files` Z-ordered parquet files, so the SAME pass
    * that pays the rewrite also buys two-dimensional min/max pruning
    * on (x, y) — file count AND per-file Morton-rectangle tightness
    * are spec-pinned (LayoutSpec); content invariance is the
    * snk8_compact_zorder gate. One shuffle (the Z range partitioner);
    * the sort is partition-local. */
  /** `quadBits` controls the cut granularity: file boundaries may fall
    * only BETWEEN aligned 2^quadBits-cell Z quads. Why not plain
    * [[zorderBy]]: its range bounds come from reservoir sampling (seed
    * keyed off the global RDD id — different every run) and land at
    * arbitrary Z positions; a boundary slipping even a few hundred
    * rows across a major quad CORNER hands the file a stray tail from
    * the diagonally-opposite region, blowing its min/max rectangle
    * across a full axis (observed: 7-of-8 files hit by a y-band that
    * should touch 4). Bucketing the range key to aligned quads makes
    * every file a union of WHOLE quads — rectangles tight by
    * construction, any sampling seed. The default 2^11-cell quad is a
    * 64×32 region of the 16-bit grid; pick quadBits so the bucket
    * count stays ≫ `files` (equal Z-keys are never split, so too few
    * buckets means fewer output files — the partitioner balances
    * counts at bucket granularity; finer quads also keep a ±1-bucket
    * boundary slip CORNER-near instead of letting it grab a far
    * region's quads). */
  def compactZorder(spark: org.apache.spark.sql.SparkSession,
                    srcPath: String, dstPath: String,
                    x: Column, y: Column, files: Int,
                    quadBits: Int = 11): Unit =
    // Max out the bound sampling (RangePartitioner caps the total at
    // 1e6 rows whatever the hint): a nightly maintenance rewrite
    // dwarfs the sampling cost, and at test scale the cap means a FULL
    // sample — bucket boundaries land exactly at equal counts, so a
    // uniform grid cuts precisely at aligned region edges. On real
    // data the guarantee is quad-granular (strays are whole aligned
    // quads, never mid-quad diagonal tails), not region-exact.
    // The write is eager: it plans and runs in the clone carrying the conf.
    graft.inClone(spark, "compactZorder", Map(
      "spark.sql.execution.rangeExchange.sampleSizePerPartition" -> "125000")) {
      _.read.parquet(srcPath)
        .withColumn("__z", zorder16(x, y))
        .withColumn("__zq", shiftright(col("__z"), quadBits))
        .repartitionByRange(files, col("__zq"))
        .sortWithinPartitions("__z")
        .drop("__z", "__zq")
        .write.mode("overwrite").parquet(dstPath)
    }
}
