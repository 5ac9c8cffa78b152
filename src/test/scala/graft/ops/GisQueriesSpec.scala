package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics tests for the GIS raster-algebra queries (focal/zonal
  * statistics, NEAREST resampling). The oracle gate proves fixture
  * equality; these prove the neighborhood/selection semantics on inputs
  * where each edge — grid corner, sparse NoData hole, center-sample
  * index — is load-bearing. */
class GisQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("focal: 3x3 contributions, corner clipping, NoData holes") {
    import spark.implicits._
    // sparse grid: two adjacent cells at the (0,0) corner + one isolated
    val g = Seq((0L, 0L, 1L), (0L, 1L, 2L), (5L, 5L, 100L))
      .toDF("r", "c", "cents")
    val got = WroQueries.focalFrom(g).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getLong(3))))
      .toMap
    // corner cell: itself + right neighbor (out-of-grid rows clipped)
    assert(got((0L, 0L)) == (3L, 2L))
    assert(got((0L, 1L)) == (3L, 2L))
    // one row below the pair: both contribute
    assert(got((1L, 0L)) == (3L, 2L) && got((1L, 1L)) == (3L, 2L))
    // (1,2) only sees (0,1)
    assert(got((1L, 2L)) == (2L, 1L))
    // the isolated cell radiates to exactly its 9-cell neighborhood
    assert(got((4L, 4L)) == (100L, 1L) && got((6L, 6L)) == (100L, 1L))
    assert(!got.contains(3L -> 5L) && !got.contains(7L -> 5L))
    // exact target census: the corner pair reaches {0,1}x{0,2} = 6
    // in-grid cells after clipping, the isolated cell reaches 9
    assert(got.size == 6 + 9)
  }

  test("fan-out: exactly the in-grid targets, on every edge and corner") {
    import spark.implicits._
    // corners, edge cells, cells one in from an edge, and the center
    val at = Seq(0L, 1L, 50L, 98L, 99L)
    val cells = for (r <- at; c <- at) yield (r, c)
    val g = cells.map { case (r, c) => (r, c, r * 100 + c) }.toDF("r", "c", "k")
    val radius2 = for { dr <- -2L to 2L; dc <- -2L to 2L } yield (dr, dc)
    val inGrid = (v: Long) => v >= 0 && v < 100
    for ((name, offs) <- Seq("moore" -> WroQueries.moore,
                             "rook" -> WroQueries.rook, "radius-2" -> radius2)) {
      val got = WroQueries.fanOut(g, offs, "k").collect().toSeq
        .map { x => val o = x.getStruct(3)
          (x.getLong(2), x.getLong(0), x.getLong(1), o.getLong(0), o.getLong(1))
        }.sorted
      val exp = (for { (r, c) <- cells; (dr, dc) <- offs
                       if inGrid(r + dr) && inGrid(c + dc) }
        yield (r * 100 + c, r + dr, c + dc, dr, dc)).sorted
      assert(got == exp, name)
      assert(got.forall { case (_, r, c, _, _) => inGrid(r) && inGrid(c) }, name)
      // the clip is exercised: some targets fell outside the grid
      assert(exp.size < cells.size * offs.size, name)
    }
  }

  test("zonal: zones partition the cells, aggregates are consistent") {
    val pc = WroQueries.perCell(spark, dir)
    val nCells = pc.count()
    val z = WroQueries.zonalStats(spark, dir).collect()
    assert(z.map(_.getLong(1)).sum == nCells)
    assert(z.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 4))
    assert(z.forall(r => r.getLong(3) <= r.getLong(4))) // min <= max
    spark.catalog.clearCache()
  }

  test("resample: center sampling picks input (4R+2, 4C+2), nothing else") {
    val out = WroQueries.resampleNearest(spark, dir)
      .filter(col("layer") === "quantity")
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    // expected: quantity at every existing input cell with r%4==2, c%4==2
    val exp = WroQueries.perCell(spark, dir)
      .select(expr("cell_id div 100").as("r"), (col("cell_id") % 100).as("c"),
        (col("quantity").cast("decimal(18,4)") * 10000).cast("long").as("v"))
      .filter(col("r") % 4 === 2 && col("c") % 4 === 2)
      .collect()
      .map(r => ((r.getLong(0) / 4, r.getLong(1) / 4), r.getLong(2))).toMap
    assert(out == exp && out.nonEmpty)
  }

  test("majority: strict-majority replaces, ties and isolation keep own") {
    import spark.implicits._
    val g = Seq((0L, 0L, 1), (0L, 1L, 1), (0L, 2L, 2), (1L, 1L, 2),
      (5L, 5L, 3)).toDF("r", "c", "cls")
    val got = WroQueries.majorityFrom(g).collect()
      .map(x => ((x.getLong(0), x.getLong(1)),
        (x.getInt(2), x.getLong(3), x.getInt(4)))).toMap
    // (0,0): 2 nbrs {1,2} tie at count 1 — no strict majority, keeps 1
    assert(got((0L, 0L)) == ((1, 2L, 1)))
    // (0,1): 3 nbrs {1,2,2} — class 2 holds 2·2 > 3, replaced
    assert(got((0L, 1L)) == ((1, 3L, 2)))
    // (0,2): 2 nbrs {1,2} tie — keeps 2
    assert(got((0L, 2L)) == ((2, 2L, 2)))
    // (1,1): 3 nbrs {1,1,2} — class 1 majority, replaced
    assert(got((1L, 1L)) == ((2, 3L, 1)))
    // isolated cell: zero neighbors, keeps own class
    assert(got((5L, 5L)) == ((3, 0L, 3)))
    assert(got.size == 5)
  }

  test("cost distance: chamfer 3/4 metric, NoData barrier, cap") {
    import spark.implicits._
    // source at (0,0); (3,3) is present but disconnected — NoData
    // cells are barriers, so it must NOT appear in the result
    val g = Seq((0L, 0L, 4), (0L, 1L, 0), (1L, 1L, 0), (0L, 2L, 0),
      (1L, 2L, 0), (3L, 3L, 0)).toDF("r", "c", "cls")
    val got = WroQueries.costDistanceFrom(g, k = 10).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(got((0L, 0L)) == 0L)            // source
    assert(got((0L, 1L)) == 3L)            // one cardinal step
    assert(got((1L, 1L)) == 4L)            // one diagonal step
    assert(got((0L, 2L)) == 6L)            // two cardinal steps
    assert(got((1L, 2L)) == 7L)            // cardinal + diagonal
    assert(!got.contains((3L, 3L)) && got.size == 5)
    // a 1-round cap reaches only the source's immediate neighbors
    val capped = WroQueries.costDistanceFrom(g, k = 1).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(capped ==
      Map((0L, 0L) -> 0L, (0L, 1L) -> 3L, (1L, 1L) -> 4L))
  }

  test("cost distance equals brute-force Bellman-Ford on random sparse " +
       "grids (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      // ~60 present cells on a 12x12 grid, ~1/6 of them sources
      val cells = (0 until 144).filter(_ => rnd.nextDouble() < 0.42)
        .map(i => (i / 12L, i % 12L, if (rnd.nextInt(6) == 0) 4 else 0))
      if (cells.exists(_._3 == 4)) {
        val k = 10
        val ref = costFieldRef(cells, 4, k)
        val got = WroQueries
          .costDistanceFrom(cells.toDF("r", "c", "cls"), k)
          .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2)))
          .toMap
        assert(got == ref, s"trial $trial: mismatch")
      }
    }
  }

  test("majority filter equals brute-force neighborhood mode on random " +
       "classed grids (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val cells = (0 until 144).filter(_ => rnd.nextDouble() < 0.5)
      .map(i => (i / 12L, i % 12L, rnd.nextInt(5)))
    val byPos = cells.map(c => (c._1, c._2) -> c._3).toMap
    val ref = cells.map { case (r, c, cls) =>
      val nbrs = for { dr <- -1 to 1; dc <- -1 to 1
                       if dr != 0 || dc != 0
                       v <- byPos.get((r + dr, c + dc)) } yield v
      val out = if (nbrs.isEmpty) cls else {
        val (mode, cnt) = nbrs.groupBy(identity)
          .map { case (v, vs) => (v, vs.size) }
          .minBy { case (v, n) => (-n, v) }
        if (cnt * 2 > nbrs.size) mode else cls
      }
      (r, c) -> ((cls, nbrs.size.toLong, out))
    }.toMap
    val got = WroQueries.majorityFrom(cells.toDF("r", "c", "cls"))
      .collect()
      .map(x => ((x.getLong(0), x.getLong(1)),
        (x.getInt(2), x.getLong(3), x.getInt(4)))).toMap
    assert(got == ref)
  }

  test("flow length equals a brute-force D8 walk from the cents") {
    val cents = WroQueries.perCell(spark, dir)
      .select(expr("cell_id div 100").as("r"), (col("cell_id") % 100).as("c"),
        (col("quantity").cast("decimal(18,2)") * 100).cast("long").as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force: follow the D8 pointer 16 steps, summing chamfer
    // weights; sinks (no pointer) absorb at distance 0
    val exp = outletsRef(d8Ref(cents), cents.keySet, 16)
      .map { case (p, (_, len)) => p -> len }
    val got = WroQueries.flowLength(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == exp && got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("allocation: nearest source wins, distance ties to smaller src id") {
    import spark.implicits._
    // two sources at (0,0) and (0,4); the midpoint (0,2) is 6 from
    // both — the packed-key min must hand it to the SMALLER source id
    val g = Seq((0L, 0L, 4), (0L, 1L, 0), (0L, 2L, 0), (0L, 3L, 0),
      (0L, 4L, 4)).toDF("r", "c", "cls")
    val got = WroQueries.allocationFrom(g, k = 10).collect()
      .map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(got((0L, 0L)) == ((0L, 0L, 0L)))
    assert(got((0L, 4L)) == ((0L, 0L, 4L)))
    assert(got((0L, 1L)) == ((3L, 0L, 0L)))
    assert(got((0L, 3L)) == ((3L, 0L, 4L)))
    assert(got((0L, 2L)) == ((6L, 0L, 0L)), "tie goes to source (0,0)")
    assert(got.size == 5)
  }

  // ---- brute-force references, and cross-tile properties on random
  // sparse grids over the full 100×100 domain (16 tiles of 32×32),
  // every cell on both sides of a tile seam present so paths cross
  // seams

  private type Cell = (Long, Long)

  private val seams = Set(31L, 32L, 63L, 64L, 95L, 96L)

  private def fullGrid(rnd: scala.util.Random, density: Double): Seq[Cell] =
    for { r <- 0L until 100L; c <- 0L until 100L
          if seams(r) || seams(c) || rnd.nextDouble() < density } yield (r, c)

  private val compass: Seq[Cell] = Seq((0L, 1L), (1L, 1L), (1L, 0L),
    (1L, -1L), (0L, -1L), (-1L, -1L), (-1L, 0L), (-1L, 1L)) // codes 1..128

  private def chamferW(dr: Long, dc: Long): Long =
    if (dr == 0 || dc == 0) 3L else 4L

  /** Brute-force D8 from the cents: each complete-neighborhood cell's
    * steepest-descent neighbor (max (own − nb)·(7 | 5), ties to the
    * smallest compass code) and the chamfer weight of that step. */
  private def d8Ref(cents: Map[Cell, Long]): Map[Cell, (Cell, Long)] =
    cents.flatMap { case ((r, c), z) =>
      val nbs = compass.map { case (dr, dc) => (r + dr, c + dc) }
      if (!nbs.forall(cents.contains)) None
      else {
        val n = compass.indices.maxBy { n =>
          val (dr, dc) = compass(n)
          ((z - cents(nbs(n))) * (if (dr == 0 || dc == 0) 7L else 5L), -n)
        }
        Some((r, c) -> (nbs(n), chamferW(compass(n)._1, compass(n)._2)))
      }
    }

  /** The linear `hops`-step walk from every present cell: its end and
    * summed length, for the walks that end on a sink. */
  private def outletsRef(next: Map[Cell, (Cell, Long)], present: Set[Cell],
                         hops: Int): Map[Cell, (Cell, Long)] =
    present.flatMap { start =>
      var (cur, len) = (start, 0L)
      for (_ <- 1 to hops) next.get(cur).foreach { case (p, w) =>
        cur = p; len += w }
      if (next.contains(cur)) None else Some(start -> ((cur, len)))
    }.toMap

  /** Per receiving cell, the distinct origins whose ≤k-hop walk passes it. */
  private def accumulationRef(next: Map[Cell, (Cell, Long)], k: Int)
      : Map[Cell, Long] =
    next.keys.toSeq.flatMap { u =>
      Iterator.iterate(Option(u))(_.flatMap(next.get).map(_._1))
        .slice(1, k + 1).takeWhile(_.nonEmpty).flatten.toSet
    }.groupBy(identity).map { case (v, us) => v -> us.size.toLong }

  private def classedFull(seed: Int): Seq[(Long, Long, Int)] = {
    val rnd = new scala.util.Random(seed)
    // sources (class 4 and class 0) are rare so k bounds the reach
    fullGrid(rnd, 0.6).map { case (r, c) =>
      val u = rnd.nextInt(150)
      (r, c, if (u == 0) 4 else if (u == 1) 0 else 1 + u % 3)
    }
  }

  /** k synchronous Bellman-Ford rounds of the chamfer relaxation
    * (steps times `scale`) over the whole grid `cells`, from the
    * class-`cls` cells at `state`. */
  private def costFieldRef(cells: Seq[(Long, Long, Int)], cls: Int, k: Int,
                           scale: Long = 1L, state: Cell => Long = _ => 0L)
      : Map[Cell, Long] = {
    val present = cells.map(x => (x._1, x._2)).toSet
    var cur = cells.filter(_._3 == cls).map(x => (x._1, x._2))
      .map(p => p -> state(p)).toMap
    for (_ <- 1 to k) {
      val next = scala.collection.mutable.Map(cur.toSeq: _*)
      for (((r, c), d) <- cur; (dr, dc) <- compass) {
        val p = (r + dr, c + dc)
        val nd = d + chamferW(dr, dc) * scale
        if (present(p) && next.get(p).forall(nd < _)) next(p) = nd
      }
      cur = next.toMap
    }
    cur
  }

  Seq(10, 40).foreach { k =>
    test(s"cost distance across tile seams equals Bellman-Ford (k = $k)") {
      import spark.implicits._
      for (seed <- Seq(3, 5)) {
        val cells = classedFull(seed)
        val got = WroQueries.costDistanceFrom(cells.toDF("r", "c", "cls"), k)
          .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2)))
          .toMap
        val exp = costFieldRef(cells, 4, k)
        assert(got == exp, s"seed $seed")
        assert(exp.keys.map(_._1 / 32).size > 1 &&
          exp.keys.map(_._2 / 32).size > 1, "the field spans no seam")
      }
    }
  }

  test("allocation across tile seams equals Bellman-Ford on packed keys") {
    import spark.implicits._
    val cells = classedFull(7)
    val got = WroQueries.allocationFrom(cells.toDF("r", "c", "cls"), 10)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    val exp = costFieldRef(cells, 4, 10, 10000L, p => p._1 * 100 + p._2)
      .map { case (p, key) =>
        p -> ((key / 10000, key % 10000 / 100, key % 100)) }
    assert(got == exp)
    // a distance tie across a seam: (10,32) and (40,32) are 9 from the
    // sources on both sides of the column-31|32 and row-31|32 seams
    val line = (29L to 35L).map(c => (10L, c, if (c == 29 || c == 35) 4 else 1)) ++
      (29L to 35L).map(r => (r, 40L, if (r == 29 || r == 35) 4 else 1))
    val tie = WroQueries.allocationFrom(line.toDF("r", "c", "cls"), 10)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(tie((10L, 32L)) == ((9L, 10L, 29L)))
    assert(tie((32L, 40L)) == ((9L, 29L, 40L)))
  }

  test("corridor across tile seams equals two Bellman-Ford fields") {
    import spark.implicits._
    val cells = classedFull(9)
    val got = WroQueries.corridorFrom(cells.toDF("r", "c", "cls"), 10)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    val (a, b) = (costFieldRef(cells, 4, 10), costFieldRef(cells, 0, 10))
    val exp = a.keySet.intersect(b.keySet)
      .map(p => p -> ((a(p), b(p), a(p) + b(p)))).toMap
    assert(got == exp && exp.nonEmpty)
  }

  /** Random cents over the full grid: a tilted plane plus noise (long
    * drains that cross seams), then pure noise (pits everywhere). */
  private def centsFull(seed: Int, tilt: Boolean): Map[Cell, Long] = {
    val rnd = new scala.util.Random(seed)
    fullGrid(rnd, 0.9).map { case (r, c) =>
      (r, c) -> ((if (tilt) 10000L - 40 * r - 25 * c else 0L) +
        rnd.nextInt(if (tilt) 60 else 5000))
    }.toMap
  }

  Seq(true, false).foreach { tilt =>
    test(s"watershed, flow length and flow accumulation across tile seams " +
         s"equal a brute-force D8 walk (tilted = $tilt)") {
      import spark.implicits._
      val cents = centsFull(if (tilt) 21 else 23, tilt)
      val grid = cents.toSeq.map { case ((r, c), z) => (r, c, z) }
        .toDF("r", "c", "cents")
      val next = d8Ref(cents)
      val outlets = outletsRef(next, cents.keySet, 16)
      val ws = WroQueries.watershedFrom(grid, 4).collect()
        .map(x => ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getLong(3))))
        .toMap
      assert(ws == outlets.map { case (p, (end, _)) => p -> end })
      val fl = WroQueries.flowLengthFrom(grid, 4).collect()
        .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
      assert(fl == outlets.map { case (p, (_, len)) => p -> len })
      val acc = WroQueries.flowAccumulationFrom(grid, 10).collect()
        .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
      assert(acc == accumulationRef(next, 10))
      // the walks reach across seams: some outlet lies in another tile
      assert(outlets.exists { case ((r, c), ((er, ec), _)) =>
        (r / 32, c / 32) != ((er / 32, ec / 32)) })
    }
  }
}
