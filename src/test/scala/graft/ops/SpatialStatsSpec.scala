package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Differential semantics tests for the spatial-statistics and
  * interpolation gates (GIS17–GIS21): each operator is recomputed
  * brute-force on the driver-collected sf0.001 grid (≤10k cells) with
  * straight-line Scala — an independent formulation that must agree
  * cell-for-cell with the distributed fan-out/join/aggregate plans. */
class SpatialStatsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** (r, c) -> units, collected once. */
  private lazy val grid: Map[(Long, Long), Long] =
    WroQueries.perCell(spark, dir)
      .select(expr("cell_id div 100").as("r"), (col("cell_id") % 100).as("c"),
        col("quantity").cast("long").as("u"))
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap

  private lazy val cents: Map[(Long, Long), Long] =
    WroQueries.perCell(spark, dir)
      .select(expr("cell_id div 100").as("r"), (col("cell_id") % 100).as("c"),
        (col("quantity").cast("decimal(18,2)") * 100).cast("long").as("v"))
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap

  test("moran: N-scaled components equal brute-force rook recount") {
    val n = grid.size.toLong
    val s = grid.values.sum
    val dev = grid.map { case (k, u) => k -> (n * u - s) }
    val num = grid.keys.toSeq.flatMap { case (r, c) =>
      Seq((r, c + 1), (r, c - 1), (r + 1, c), (r - 1, c))
        .filter(dev.contains)
        .map(nb => dev((r, c)) * dev(nb))
    }
    val w = num.size.toLong
    val row = WroQueries.moran(spark, dir).collect()
    assert(row.length == 1)
    assert(row(0).getLong(0) == n && row(0).getLong(1) == w)
    assert(row(0).getLong(2) == num.sum)
    assert(row(0).getLong(3) == dev.values.map(d => d * d).sum)
    spark.catalog.clearCache()
  }

  test("gi_star: sigma-band classes equal brute-force recount") {
    val n = grid.size.toLong
    val s = grid.values.sum
    val ss = grid.values.map(u => u * u).sum
    val den = n * ss - s * s
    val exp = grid.keys.map { case (r, c) =>
      val nb = for {
        dr <- -1L to 1L; dc <- -1L to 1L
        v <- grid.get((r + dr, c + dc))
        if (r + dr) >= 0 && (r + dr) < 100 && (c + dc) >= 0 && (c + dc) < 100
      } yield v
      val (local, nk) = (nb.sum, nb.size.toLong)
      val num = n * local - nk * s
      val lhs = num * num * (n - 1)
      val rhs = den * (n * nk - nk * nk)
      val k = if (lhs >= rhs * 9) 3L else if (lhs >= rhs * 4) 2L
              else if (lhs >= rhs) 1L else 0L
      (r, c) -> (num.sign * k).toInt
    }.toMap
    val got = WroQueries.giStar(spark, dir).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getInt(2))).toMap
    assert(got == exp && got.nonEmpty)
    // the statistic is discriminating at fixture scale: hot, cold, and
    // neutral cells all occur
    assert(got.values.exists(_ > 0) && got.values.exists(_ < 0) &&
           got.values.exists(_ == 0))
    spark.catalog.clearCache()
  }

  test("idw: absent-cell domain, lcm-40 weights, radius-2 search") {
    val exp = (for {
      r <- 0L until 100L; c <- 0L until 100L
      if !cents.contains((r, c))
      nb = for {
        dr <- -2L to 2L; dc <- -2L to 2L; if dr != 0 || dc != 0
        v <- cents.get((r + dr, c + dc))
      } yield (v, 40L / (dr * dr + dc * dc))
      if nb.nonEmpty
    } yield (r, c) -> (nb.map(x => x._1 * x._2).sum, nb.map(_._2).sum)).toMap
    val got = WroQueries.idw(spark, dir).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getLong(3))))
      .toMap
    assert(got == exp && got.nonEmpty)
    // interpolation never lands on a present cell
    assert(got.keySet.intersect(cents.keySet).isEmpty)
    spark.catalog.clearCache()
  }

  test("bilinear: 9/3/3/1 sixteenth weights, complete corners only") {
    val exp = (for {
      rr <- 0L until 25L; cc <- 0L until 25L
      corners = for { i <- 0L to 1L; j <- 0L to 1L }
        yield cents.get((4 * rr + 1 + i, 4 * cc + 1 + j))
          .map(_ * (3 - 2 * i) * (3 - 2 * j))
      if corners.forall(_.isDefined)
    } yield (rr, cc) -> corners.flatten.sum).toMap
    val got = WroQueries.resampleBilinear(spark, dir).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(got == exp && got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("combine: dense ids follow triple sort order, attribute counts " +
       "partition the raster") {
    val rows = WroQueries.combine(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6))))
    assert(rows.length == cents.size)
    // id k = rank of the triple among distinct triples sorted ascending
    val triples = rows.map { case (_, (q, p, d, _, _)) => (q, p, d) }
      .distinct.sorted
    val idOf = triples.zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap
    rows.foreach { case (_, (q, p, d, id, _)) => assert(id == idOf((q, p, d))) }
    // combo_n is the count of cells carrying that triple
    val byTriple = rows.groupBy { case (_, (q, p, d, _, _)) => (q, p, d) }
    byTriple.foreach { case (t, cells) =>
      assert(cells.forall(_._2._5 == cells.length.toLong)) }
    spark.catalog.clearCache()
  }

  test("expand: any class-4 neighbor converts the cell, brute-force " +
       "recount") {
    // the classed grid replayed: equal-interval quantity classes
    val qs = WroQueries.perCell(spark, dir)
      .select(expr("cell_id div 100").as("r"), (col("cell_id") % 100).as("c"),
        col("quantity").cast("double").as("q")).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    val (mn, mx) = (qs.values.min, qs.values.max)
    val cls = qs.map { case (k, q) =>
      k -> math.min(math.floor((q - mn) / ((mx - mn) / 5.0)), 4).toInt }
    val exp = cls.map { case ((r, c), own) =>
      val any4 = (for { dr <- -1L to 1L; dc <- -1L to 1L }
        yield cls.get((r + dr, c + dc))).flatten.contains(4)
      (r, c) -> (own, if (any4) 4 else own)
    }
    val got = WroQueries.expand(spark, dir).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), (x.getInt(2), x.getInt(3))))
      .toMap
    assert(got == exp)
    // the dilation is non-trivial: some cell actually converted
    assert(got.exists { case (k, (own, out)) => own != 4 && out == 4 })
    spark.catalog.clearCache()
  }

  test("zonal geometry: aggregates recompute from the region labels") {
    val labeled = WroQueries.regionGroup(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2),
        (r.getLong(3), r.getLong(4)))))
    val exp = labeled.groupBy { case (_, (cl, reg)) => (cl, reg) }
      .map { case ((cl, reg), cells) =>
        val rs = cells.map(_._1._1); val cs = cells.map(_._1._2)
        (cl, reg._1, reg._2) ->
          (cells.length.toLong, rs.sum, cs.sum, rs.min, rs.max, cs.min, cs.max)
      }
    val got = WroQueries.zonalGeometry(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
         r.getLong(7), r.getLong(8), r.getLong(9))).toMap
    assert(got == exp && got.nonEmpty)
    assert(got.values.map(_._1).sum == labeled.length)
    spark.catalog.clearCache()
  }

  /** Seeded random 100×100 (r, c) -> u grids for the region-group core
    * (absent cells are NoData; u = class + 7·j, so the u mod 7 classing
    * is exercised too). */
  private lazy val randomGrids: Seq[(String, Map[(Long, Long), Long])] = {
    val rnd = new scala.util.Random(17)
    def u(cls: Long): Long = cls + 7L * rnd.nextInt(7)
    def cells(at: (Long, Long) => Option[Long]) = (for {
      r <- 0L until 100L; c <- 0L until 100L; v <- at(r, c)
    } yield (r, c) -> v).toMap
    Seq(
      // class 0 at ~0.73 density, above the ~0.59 site-percolation
      // threshold: one giant component spans the raster
      "giant" -> cells { (_, _) =>
        if (rnd.nextDouble() < 0.03) None
        else Some(u(if (rnd.nextDouble() < 0.75) 0L else 1L + rnd.nextInt(6)))
      },
      // a class-1 snake: even rows full, each odd row joined at the
      // alternating end, so one region crosses every tile seam
      "serpentine" -> cells { (r, c) =>
        if (r % 2 == 0 || c == (if (r / 2 % 2 == 0) 99L else 0L)) Some(u(1L))
        else if (rnd.nextDouble() < 0.2) None
        else Some(u(2L + rnd.nextInt(5)))
      },
      // a two-class checkerboard with holes: every cell is isolated
      "isolated" -> cells { (r, c) =>
        if (rnd.nextDouble() < 0.1) None else Some(u((r + c) % 2)) },
      // two classes at half density: NoData holes and grid edges cut
      // every region
      "holes" -> cells { (_, _) =>
        if (rnd.nextDouble() < 0.5) None else Some(u(rnd.nextInt(2).toLong)) })
  }

  test("region group: labels equal brute-force union-find components") {
    import spark.implicits._
    // brute-force: flood fill per cell over same-class rook adjacency
    def floodFill(cls: Map[(Long, Long), Long]): Map[(Long, Long), Long] = {
      var label = Map.empty[(Long, Long), Long]
      for (start <- cls.keys if !label.contains(start)) {
        var comp = Set(start)
        var frontier = Set(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap { case (r, c) =>
            Seq((r, c + 1), (r, c - 1), (r + 1, c), (r - 1, c))
              .filter(nb => cls.get(nb).contains(cls(start)) && !comp(nb))
          }
          comp ++= frontier
        }
        val lbl = comp.map { case (r, c) => r * 100 + c }.min
        label ++= comp.map(_ -> lbl)
      }
      label
    }
    // (r, c) -> (cls, label) of a region-group result
    def labels(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getLong(3) * 100 + x.getLong(4)))).toMap
      graft.Fixpoint.release(df)
      got
    }
    def check(units: Map[(Long, Long), Long],
              got: Map[(Long, Long), (Long, Long)]): Map[Long, Int] = {
      val cls = units.map { case (k, u) => k -> u % 7 }
      assert(got.map { case (k, v) => k -> v._2 } == floodFill(cls))
      assert(got.forall { case (k, (cl, _)) => cls(k) == cl })
      got.values.groupBy(_._2).map { case (l, cells) => l -> cells.size }
    }
    check(grid, labels(WroQueries.regionGroup(spark, dir)))
    randomGrids.foreach { case (name, units) =>
      val sizes = check(units, labels(WroQueries.regionGroupFrom(
        units.toSeq.map { case ((r, c), u) => (r, c, u) }.toDF("r", "c", "u"))))
      name match {
        case "giant" => assert(sizes.values.max > 5000, name)
        case "serpentine" => assert(sizes(0L) == 5050, name)
        case "isolated" => assert(sizes.values.forall(_ == 1), name)
        case _ => assert(sizes.values.exists(_ == 1) &&
          sizes.values.exists(_ > 1), name)
      }
    }
    spark.catalog.clearCache()
  }
}
