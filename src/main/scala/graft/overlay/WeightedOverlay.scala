package graft.overlay

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The weighted-raster-overlay kernel — the service-side computation the
  * whole reference toolbox prepares (README.md:2,9-11; fields pyt:596-600):
  * per cell, remap each layer's value through its half-open classification
  * ranges to a 0-9 suitability score, then combine layers as a weighted sum.
  * Weights are integers scaled by 10 (w10) so the combined score is exact
  * integer arithmetic at any scale.
  *
  * Two shapes. The long form (one row per cell and layer or per
  * observation, [[remap]] + [[score]]): the catalog/range side is
  * dimension-sized, so remap is a **broadcast** hash join on the layer key
  * with the half-open range predicate as the join filter, and the score is
  * a per-cell aggregate. The wide form (one row per cell, one remapped
  * column per layer, [[scoreWide]]): the score is row arithmetic, with no
  * join and no aggregate — the per-cell service reads use it.
  */
object WeightedOverlay {

  /** Explode a decoded catalog (layerCol, ranges: array<struct<label,lo,hi,
    * out>>) to one row per class: (layer, class_idx, label, lo, hi, out). */
  def explodeRanges(catalog: DataFrame, layerCol: String = "layer",
                    rangesCol: String = "ranges"): DataFrame =
    catalog
      .select(col(layerCol).as("layer"),
              posexplode(col(rangesCol)).as(Seq("class_idx", "r")))
      .select(col("layer"), col("class_idx"),
              col("r.label").as("label"), col("r.lo").as("lo"),
              col("r.hi").as("hi"), col("r.out").as("out"))

  /** Remap cell values through classification ranges: half-open
    * min-inclusive/max-exclusive semantics (pyt:929, §1.4). `cells` must
    * have (layer, value) columns; `ranges` is explodeRanges output.
    * Ranges are broadcast — the join is a hash probe on `layer` plus a
    * <=#classes-long filter, never a shuffle of the cell side. */
  def remap(cells: DataFrame, ranges: DataFrame): DataFrame = {
    val r = broadcast(ranges.select(
      col("layer").as("r_layer"), col("class_idx"),
      col("label"), col("lo"), col("hi"), col("out")))
    cells.join(r,
        cells("layer") === r("r_layer") &&
        cells("value") >= r("lo") && cells("value") < r("hi"),
        "inner")
      .drop("r_layer")
  }

  /** NoData masking (R31; NoDataRanges declared at pyt:597 with the same
    * CSV pair format as InputRanges): drop cells whose value falls inside
    * any of the layer's half-open [lo, hi) NoData ranges before remap, so
    * a masked layer contributes neither a score term nor an n_layers
    * count for that cell. `noData` columns: (layer,
    * nd: array<struct<lo:double, hi:double>>); layers absent from the
    * table are unmasked. Dimension-sized broadcast left join plus a
    * per-row exists over a handful of ranges — no extra shuffle of the
    * cell side. The declared NoData queries mask inside the wide remap;
    * this long form is the reference OverlaySpec and WideOverlaySpec
    * check them against. */
  private[graft] def maskNoData(cells: DataFrame, noData: DataFrame): DataFrame = {
    val nd = broadcast(noData.select(col("layer").as("nd_layer"), col("nd")))
    cells.join(nd, cells("layer") === col("nd_layer"), "left")
      // coalesce: an unmasked layer has a null nd array -> exists is
      // null, and the cell must be KEPT, not dropped by a null filter
      .filter(!coalesce(
        exists(col("nd"),
          r => cells("value") >= r("lo") && cells("value") < r("hi")),
        lit(false)))
      .drop("nd_layer", "nd")
  }

  /** Weighted overlay: remapped cells (cellCol, layer, out) x integer
    * weights (layer, w10) -> per-cell combined score.
    * score10 = sum(w10 * out) is exact (integer); score = score10/10. */
  def score(remapped: DataFrame, weights: DataFrame,
            cellCol: String = "cell_id"): DataFrame =
    remapped
      .join(broadcast(weights.select(col("layer").as("w_layer"), col("w10"))),
            col("layer") === col("w_layer"))
      .groupBy(col(cellCol))
      .agg(sum(col("out") * col("w10")).as("score10"),
           count(lit(1)).cast("long").as("n_layers"))

  /** The weighted sum as row arithmetic over a wide frame keyed by
    * `cell_id`: `outs` pairs each layer's remapped out column (NULL where
    * the cell has no value, no class or is masked) with its w10. score10 = Σ w10·out over the
    * non-null outs, n_layers = their count; a cell with no out drops,
    * as it has no remapped row in the long form. */
  def scoreWide(wide: DataFrame, outs: Seq[(Column, Int)]): DataFrame =
    wide.select(col("cell_id"),
        outs.map { case (o, w) => coalesce(o * w, lit(0)).cast("long") }
          .reduce(_ + _).as("score10"),
        outs.map { case (o, _) => o.isNotNull.cast("long") }
          .reduce(_ + _).as("n_layers"))
      .filter(col("n_layers") > 0)

  /** End-to-end overlay: cells (cellCol, layer, value) through a decoded
    * catalog and weights to per-cell scores. No declared query calls it
    * (each composes [[remap]] and [[score]], or [[scoreWide]]); it is the
    * reference WideOverlaySpec compares the wide overlay against. */
  private[graft] def apply(cells: DataFrame, catalog: DataFrame, weights: DataFrame,
            cellCol: String = "cell_id"): DataFrame =
    score(remap(cells, explodeRanges(catalog)), weights, cellCol)
}
