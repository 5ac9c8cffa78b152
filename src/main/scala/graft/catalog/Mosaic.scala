package graft.catalog

import graft.classify.Classify
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** CreateWeightedOverlayMosaic end-to-end (R26+R28, WROS/Weighted Raster
  * Overlay Service.pyt:780-893 execute + pyt:1160-1296 getLayerData):
  * layer metadata + raster cell values → the full pyt:592-603 mosaic
  * catalog, one declarative plan.
  *
  * Pipeline: R2 layer filter → name/title normalization (pyt:1181-1218:
  * raster file = datasource basename, extension stripped from file name
  * and title) → per-sourcetype classification dispatch (pyt:1233-1280):
  *
  *   - RasterUniqueValueColorizer → unique-value ranges with colorizer
  *     labels (R12, pyt:1240-1245); no values → layer skipped
  *   - VECTOR_UV / VECTOR_MAGDIR sourcetype → skipped (pyt:1247-1249)
  *   - RasterClassifyColorizer → class-break ranges (R10, pyt:1252-1257);
  *     no statistics → layer skipped
  *   - otherwise equal-interval from raster statistics (R9, pyt:1259-1262),
  *     falling back to the fixed 1..256 default ranges when statistics
  *     are unavailable (pyt:1263-1269) with the default stretch
  *     outputs/labels (pyt:1279-1280)
  *
  * → encode to the stored CSV-string form → assemble outMoFields. The
  * create tool populates only Title/RangeLabels/InputRanges/OutputValues
  * (updMoFields, pyt:879-886); the remaining declared fields stay null.
  *
  * Scale posture: the layer table is dimension-sized, and so are the
  * per-raster stats the caller derives (the catalog reads' one wide
  * 1-row aggregate). The dispatch itself is a projection — Catalyst
  * folds the whole when-chain into the scan of the joined
  * (layers × stats) dimension table. */
object Mosaic {

  private val skippedSourcetypes = Seq("VECTOR_UV", "VECTOR_MAGDIR")

  /** Strip a trailing ".{extension}" (pyt:1204-1217; only when the value
    * actually ends with it, and only for non-empty extensions). */
  private def stripExt(c: org.apache.spark.sql.Column,
                       ext: org.apache.spark.sql.Column) = {
    val dotted = concat(lit("."), ext)
    when(coalesce(length(ext), lit(0)) > 0 && c.endsWith(dotted),
         c.substr(lit(1), length(c) - length(ext) - 1))
      .otherwise(c)
  }

  /** Build the mosaic catalog.
    *
    * `layerMeta` columns: layer_id, name, long_name, is_raster, visible,
    * is_web, dataset_type, datasource, extension, sourcetype,
    * colorizer_type, breaks array<double>, uvals array<double>,
    * ulabels array<string>.
    * `stats` columns: (layer, mn, mx) — each raster's min and max,
    * keyed by the datasource file name (per raster file, matching the
    * reference's per-raster GetRasterProperties); a raster with no row
    * has no statistics. */
  def createMosaic(layerMeta: DataFrame, stats: DataFrame,
                   visibleOnly: Boolean = true): DataFrame = {
    val filtered = graft.ops.WroQueries.layerFilter(layerMeta, visibleOnly)
      // basename after the last backslash (pyt:1186-1188); split is
      // regex-based, so the literal backslash needs double escaping
      .withColumn("raster_file",
        element_at(split(col("datasource"), "\\\\"), -1))
      .withColumn("raster_file", stripExt(col("raster_file"), col("extension")))
      .withColumn("title", stripExt(col("name"), col("extension")))

    val unique = col("colorizer_type") === "RasterUniqueValueColorizer"
    val classify = col("colorizer_type") === "RasterClassifyColorizer"
    val dispatched = filtered
      .join(stats.withColumnRenamed("layer", "raster_file"),
        Seq("raster_file"), "left")
      // skips: vector sourcetypes (pyt:1247), unique colorizer without
      // values (pyt:1242 worked=False → continue; an EMPTY value list
      // also fails — createInputRangesForRemap pops from an empty list,
      // pyt:1128), classify colorizer without statistics or without
      // breaks (pyt:1254 worked=False → continue; empty classBreaks
      // leaves nothing after the pyt:985 trim → exception → skip)
      .filter(!coalesce(col("sourcetype").isin(skippedSourcetypes: _*),
                        lit(false)))
      // coalesce to false: a null colorizer_type makes the conjunction
      // NULL, and a bare !NULL filter would drop every stretch-path row
      .filter(!coalesce(
        unique && (col("uvals").isNull || size(col("uvals")) === 0),
        lit(false)))
      .filter(!coalesce(
        classify && (col("mn").isNull ||
          col("breaks").isNull || size(col("breaks")) === 0),
        lit(false)))
      .withColumn("ranges",
        when(unique, Classify.uniqueValues(col("uvals"), col("ulabels")))
          .when(classify, Classify.fromBreaks(col("mn"), col("breaks")))
          .when(col("mn").isNull || col("mx").isNull, Classify.fallback)
          .otherwise(Classify.equalInterval(col("mn"), col("mx"))))

    val nul = lit(null).cast(StringType)
    Catalog.encode(dispatched, nameCol = "raster_file", keep = Seq("title"))
      .select(
        col("name").as("Name"),
        col("title").as("Title"),
        nul.as("Description"),
        nul.as("Url"),
        col("input_ranges").as("InputRanges"),
        nul.as("NoDataRanges"),
        col("range_labels").as("RangeLabels"),
        nul.as("NoDataRangeLabels"),
        col("output_values").as("OutputValues"),
        nul.as("Metadata"),
        nul.as("dataset_id"),
        // every mosaic is pinned to web mercator (pyt:629 sets
        // outputCoordinateSystem = SpatialReference(3857); pyt:801
        // "web mercator for all mosaics") — a constant, not per-row data
        lit("EPSG:3857").as("crs"))
  }
}
