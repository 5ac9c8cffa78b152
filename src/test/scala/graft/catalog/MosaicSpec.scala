package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** createMosaic dispatch semantics beyond the golden gate query:
  * extension stripping edge cases and skip-branch precedence. */
class MosaicSpec extends SparkSpec {

  private def metaRow(id: Long, name: String, datasource: String,
                      ext: String, sourcetype: String,
                      colorizer: String = null,
                      breaks: Option[Seq[Double]] = None,
                      uvals: Option[Seq[Double]] = None,
                      ulabels: Option[Seq[String]] = None) =
    (id, name, s"grp\\$name", true, true, false, "RasterDataset",
      datasource, ext, sourcetype, colorizer, breaks, uvals, ulabels)

  private def toMeta(rows: Seq[(Long, String, String, Boolean, Boolean,
      Boolean, String, String, String, String, String, Option[Seq[Double]],
      Option[Seq[Double]], Option[Seq[String]])]) = {
    import spark.implicits._
    rows.toDF("layer_id", "name", "long_name", "is_raster", "visible",
      "is_web", "dataset_type", "datasource", "extension", "sourcetype",
      "colorizer_type", "breaks", "uvals", "ulabels")
  }

  /** Per-raster (layer, mn, mx) stats, as the catalog reads derive. */
  private def statsDf(rows: (String, Double, Double)*) = {
    import spark.implicits._
    rows.toDF("layer", "mn", "mx")
  }

  test("extension strips only a matching suffix; file name from basename") {
    val meta = toMeta(Seq(
      metaRow(1, "a.tif", "c:\\d\\a.tif", "tif", "GENERIC"),
      // extension declared but name does not end with it -> untouched
      metaRow(2, "btif", "c:\\d\\btif", "tif", "GENERIC"),
      // empty extension -> untouched even though name has a dot
      metaRow(3, "c.img", "c:\\d\\c.img", "", "GENERIC")))
    val stats = statsDf(("a", 1.0, 9.0), ("btif", 1.0, 9.0),
      ("c.img", 1.0, 9.0))
    val out = Mosaic.createMosaic(meta, stats)
      .select("Name", "Title").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a", "a"), ("btif", "btif"), ("c.img", "c.img")))
  }

  test("vector sourcetypes are skipped even when stats/colorizer exist") {
    val meta = toMeta(Seq(
      metaRow(1, "u", "c:\\d\\u", "", "VECTOR_UV"),
      metaRow(2, "m", "c:\\d\\m", "", "VECTOR_MAGDIR",
        colorizer = "RasterUniqueValueColorizer",
        uvals = Some(Seq(1.0)), ulabels = Some(Seq("x"))),
      metaRow(3, "ok", "c:\\d\\ok", "", "GENERIC")))
    val stats = statsDf(("u", 1.0, 1.0), ("m", 1.0, 1.0), ("ok", 1.0, 5.0))
    val names = Mosaic.createMosaic(meta, stats)
      .select("Name").collect().map(_.getString(0)).toSet
    assert(names == Set("ok"))
  }

  test("colorizer rows missing their inputs are skipped, not defaulted") {
    val meta = toMeta(Seq(
      // unique colorizer with no values -> pyt:1242 continue
      metaRow(1, "u", "c:\\d\\u", "", "THEMATIC",
        colorizer = "RasterUniqueValueColorizer"),
      // classify colorizer whose raster has no cells (no stats) -> skip
      metaRow(2, "b", "c:\\d\\b", "", "GENERIC",
        colorizer = "RasterClassifyColorizer",
        breaks = Some(Seq(1.0, 2.0))),
      // unique colorizer with an EMPTY value list -> pyt:1128 pops from
      // an empty list -> worked=False -> skip (not an empty catalog row)
      metaRow(3, "ue", "c:\\d\\ue", "", "THEMATIC",
        colorizer = "RasterUniqueValueColorizer",
        uvals = Some(Seq.empty), ulabels = Some(Seq.empty)),
      // classify colorizer with stats but null/empty breaks -> nothing
      // survives the pyt:985 trim -> exception -> skip
      metaRow(4, "bn", "c:\\d\\bn", "", "GENERIC",
        colorizer = "RasterClassifyColorizer"),
      metaRow(5, "be", "c:\\d\\be", "", "GENERIC",
        colorizer = "RasterClassifyColorizer",
        breaks = Some(Seq.empty))))
    val stats = statsDf(("u", 1.0, 1.0), ("ue", 1.0, 1.0), ("bn", 1.0, 1.0),
      ("be", 1.0, 1.0))
    assert(Mosaic.createMosaic(meta, stats).count() == 0)
  }

  test("no-stats stretch layer gets the fixed fallback catalog row") {
    val meta = toMeta(Seq(metaRow(1, "n", "c:\\d\\n", "", "GENERIC")))
    val row = Mosaic.createMosaic(meta, statsDf()).collect().head
    assert(row.getAs[String]("InputRanges") ==
      "1.0,50.0,50.0,100.0,100.0,150.0,150.0,200.0,200.0,256.0")
    assert(row.getAs[String]("OutputValues") == "1,3,5,7,9")
    assert(row.getAs[String]("RangeLabels") ==
      "Very Low,Low,Medium,High,Very High")
  }

  test("every mosaic row carries the constant web-mercator crs (pyt:629)") {
    val meta = toMeta(Seq(metaRow(1, "n", "c:\\d\\n", "", "GENERIC")))
    val row = Mosaic.createMosaic(meta, statsDf()).collect().head
    assert(row.getAs[String]("crs") == "EPSG:3857")
  }
}
