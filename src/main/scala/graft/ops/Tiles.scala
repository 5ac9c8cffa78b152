package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.functions._

/** The tile layer of the bounded-reach raster kernels (Raptor's
  * tile-wise raster processing, run as a tight Scala kernel inside one
  * Spark task per tile).
  *
  * The 100×100 grid splits into TileW×TileW tiles. A tile's WINDOW is
  * its core plus `halo` cells on each side, clipped to the grid. A
  * kernel whose result at a cell depends only on cells within `halo`
  * of it (k synchronous 8-neighbour rounds, a k-hop pointer chase plus
  * the one cell its last pointer needs) is exact on every core cell of
  * its window, so ONE fan-out exchange replaces every round of the
  * per-cell formulation: no outer rounds, no halo exchange, no loop.
  * A window holds at most (TileW + 2·halo)² cells, bounded by the
  * raster domain at any scale factor. A kernel with unbounded reach
  * (region group's connected components) uses halo = GridW: the grid
  * is then ONE tile whose window is the whole raster, at most
  * GridW² = 10⁴ cells. */
private[ops] object Tiles {

  private val TileW = 32

  private val GridW = WroQueries.GridW.toInt

  /** Tile width at `halo`: a halo that spans the grid makes every
    * window the whole raster, so one tile covers it. */
  private def tileW(halo: Int): Int = if (halo >= GridW) GridW else TileW

  /** Each present cell (r, c, `value`) of `grid` sent to every tile
    * whose window holds it, grouped into one row per tile:
    * (tr, tc, cells), cells an array of (r, c, value) structs. */
  def windows(grid: DataFrame, halo: Int, value: Column): DataFrame = {
    // tile t's window is [t·tw − halo, t·tw + tw − 1 + halo], so x
    // lies in the windows of tiles floor((x − halo) / tw) ..
    // floor((x + halo) / tw), clipped to the tiles that exist
    val tw = tileW(halo)
    def span(x: Column) = sequence(
      greatest(lit(0L), floor((x - halo) / tw)),
      least(lit((GridW + tw - 1L) / tw - 1L), floor((x + halo) / tw)))
    grid.select(col("r"), col("c"), value.cast("long").as("v"))
      .select(explode(span(col("r"))).as("tr"), col("r"), col("c"), col("v"))
      .select(col("tr"), explode(span(col("c"))).as("tc"),
        col("r"), col("c"), col("v"))
      .groupBy("tr", "tc")
      .agg(collect_list(struct(col("r").as("_1"), col("c").as("_2"),
        col("v").as("_3"))).as("cells"))
  }

  /** Run `kernel` once per window of `grid` and materialize what it
    * emits through one local checkpoint, columns named `names`. The
    * kernel must emit core cells only, so each cell comes out once. */
  def run[T: Encoder](grid: DataFrame, halo: Int, value: Column,
                      names: String*)(kernel: Window => Iterator[T])
      : DataFrame = {
    import grid.sparkSession.implicits._
    windows(grid, halo, value).as[(Long, Long, Seq[(Long, Long, Long)])]
      .flatMap { case (tr, tc, cells) =>
        kernel(new Window(tr.toInt, tc.toInt, halo, cells)) }
      .toDF(names: _*)
      .localCheckpoint()
  }

  /** One tile's window as dense row-major arrays over its clipped
    * extent: `present(i)` and `value(i)` for cell index i. The arrays
    * are filled by position, so the order of the cell list is
    * irrelevant. */
  final class Window(tr: Int, tc: Int, halo: Int,
                     cells: Seq[(Long, Long, Long)]) {
    private val tw = tileW(halo)
    private val r0 = math.max(0, tr * tw - halo)
    private val c0 = math.max(0, tc * tw - halo)
    private val rows = math.min(GridW, (tr + 1) * tw + halo) - r0
    private val cols = math.min(GridW, (tc + 1) * tw + halo) - c0
    val size: Int = rows * cols
    val present = new Array[Boolean](size)
    val value = new Array[Long](size)
    cells.foreach { case (r, c, v) =>
      val i = (r.toInt - r0) * cols + (c.toInt - c0)
      present(i) = true
      value(i) = v
    }

    def r(i: Int): Long = (r0 + i / cols).toLong
    def c(i: Int): Long = (c0 + i % cols).toLong

    /** Index of the present cell at (r + dr, c + dc) of cell i, or −1
      * when that cell lies outside the window or is NoData. */
    def nb(i: Int, dr: Int, dc: Int): Int = {
      val (rr, cc) = (i / cols + dr, i % cols + dc)
      if (rr < 0 || rr >= rows || cc < 0 || cc >= cols) -1
      else { val j = rr * cols + cc; if (present(j)) j else -1 }
    }

    /** Whether cell i lies in the tile's core. */
    def core(i: Int): Boolean =
      r(i) / tw == tr && c(i) / tw == tc
  }
}
