package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Z-order layout: bit-exactness (round-trip bijection), curve locality
  * (aligned tiles are contiguous Z ranges), and the property the layout
  * exists for — files written in Z order carry small min/max rectangles
  * in BOTH dimensions, so either-key predicates prune. */
class LayoutSpec extends SparkSpec {

  test("zorder16/dezorder16 round-trip is the identity on the 16-bit grid") {
    // 20k deterministic, well-spread (x, y) pairs — includes 0 and 65535
    val pairs = spark.range(20000).select(
      (col("id") * 2654435761L % 65536).as("x"),
      (col("id") * 40503L % 65536).as("y"))
      .union(spark.range(1).select(lit(0L).as("x"), lit(65535L).as("y")))
      .union(spark.range(1).select(lit(65535L).as("x"), lit(0L).as("y")))
    val (bx, by) = Layout.dezorder16(Layout.zorder16(col("x"), col("y")))
    val bad = pairs.select(col("x"), col("y"), bx.as("rx"), by.as("ry"))
      .filter(col("x") =!= col("rx") || col("y") =!= col("ry"))
    assert(bad.isEmpty)
  }

  test("zorder16 matches a reference bit-interleave on random pairs") {
    // driver-side reference implementation, checked against the Spark
    // expression through one DataFrame pass over ScalaCheck-style cases
    def ref(x: Long, y: Long): Long =
      (0 until 16).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val rnd = new scala.util.Random(0xD00DL)
    import spark.implicits._
    val cases = Seq.fill(500)((rnd.nextLong().abs % 65536,
                               rnd.nextLong().abs % 65536))
    val bad = cases.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorder16(col("x"), col("y")).as("z"))
      .collect()
      .filter(r => r.getLong(2) != ref(r.getLong(0), r.getLong(1)))
    assert(bad.isEmpty, s"${bad.length} mismatches, e.g. ${bad.headOption}")
  }

  test("an aligned 256x256 tile is one contiguous Z range") {
    // tile at (x0, y0) aligned to 256: z values must cover exactly
    // [z(x0,y0), z(x0,y0) + 65535] with no point outside
    val x0 = 512L
    val y0 = 1280L
    val tile = spark.range(256).select(col("id").as("dx"))
      .crossJoin(spark.range(256).select(col("id").as("dy")))
      .select(Layout.zorder16(col("dx") + x0, col("dy") + y0).as("z"))
    val r = tile.agg(min("z"), max("z"), count(lit(1))).head()
    assert(r.getLong(1) - r.getLong(0) == 65535L)
    assert(r.getLong(2) == 65536L)
  }

  test("compactZorder: 32 fragments become 8 z-ordered FILES whose " +
       "on-disk min/max rectangles prune bands in both dimensions") {
    val base = java.nio.file.Files.createTempDirectory("zmaint").toString
    val src = s"$base/frag"
    val dst = s"$base/zorder"
    // 1024x256 grid, fragmented across 32 round-robin files
    spark.range(1024L * 256L)
      .select((col("id") % 1024).as("x"), expr("id div 1024").as("y"))
      .repartition(32)
      .write.parquet(src)
    assert(new java.io.File(src).listFiles()
      .count(_.getName.endsWith(".parquet")) == 32)
    // quadBits 11 → 128 aligned 2^11-cell buckets for 8 files (16 whole
    // quads per file — equal counts cut at 2^15-region edges): bucket
    // count ≫ files per the operator's contract
    Layout.compactZorder(spark, src, dst, col("x"), col("y"), files = 8,
      quadBits = 11)
    val files = new java.io.File(dst).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 8, s"expected 8 compacted files, got " +
      s"${files.length}")
    // per-FILE rectangles (what parquet footer min/max pruning sees):
    // read each file alone — the maintenance claim is about bytes on
    // disk, not in-memory partitions
    val boxes = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("x"), max("x"), min("y"), max("y"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    assert(boxes.map(_._5).sum == 1024L * 256L, "compaction lost rows")
    // band pruning: first-eighth band on x (<=127) and on y (<=31) must
    // each intersect at most half the file rectangles
    val hitX = boxes.count(_._1 <= 127)
    val hitY = boxes.count(_._3 <= 31)
    assert(hitX <= 4 && hitY <= 4,
      s"band touches $hitX (x) / $hitY (y) of 8 files — the compacted " +
        "layout lost two-dimensional tightness")
  }
}
