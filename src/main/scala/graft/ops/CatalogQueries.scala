package graft.ops

import graft._
import graft.catalog.{Catalog, Mosaic, Validate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog-tool queries (R13–R18, V2/V4/V5): encode/decode round-trip
  * through the stored CSV-string form, update-by-predicate with the
  * reference's validations, per-field diff detection, and the validation
  * predicates as a golden table. */
object CatalogQueries {

  /** The derived catalog with comma-bearing labels ("<label>, b<idx>") so
    * the RFC-4180 encoder's quote-wrapping is actually exercised: one
    * wide 1-row stats aggregate ([[WroQueries.layerStats]]) over the
    * layer stack. The edit, MERGE and SCD-2 read the stack in two legs;
    * both are local-relation scans, so neither needs a cache. */
  def catalogDecorated(s: SparkSession, dir: String): DataFrame =
    WroQueries.catalog(s, dir)
      .select(col("layer"),
        transform(col("ranges"), (r, i) => struct(
          concat(r("label"), lit(", b"), i.cast("string")).as("label"),
          r("lo").as("lo"), r("hi").as("hi"), r("out").as("out"))).as("ranges"))

  /** R13/R14/R16: the encoded catalog table (stored string form). */
  def catalogEncoded(s: SparkSession, dir: String): DataFrame =
    Catalog.encode(catalogDecorated(s, dir))

  /** R15/R16: decode(encode(catalog)) — the full storage round-trip,
    * exploded back to per-class rows for comparison against the direct
    * derivation. */
  def catalogRoundtrip(s: SparkSession, dir: String): DataFrame =
    Catalog.decode(catalogEncoded(s, dir))
      .select(col("name").as("layer"),
              posexplode(col("ranges")).as(Seq("class_idx", "r")))
      .select(col("layer"), col("class_idx"),
              col("r.label").as("label"), col("r.lo").as("lo"),
              col("r.hi").as("hi"), col("r.out").as("out"))

  /** The user's edited classification for the `quantity` layer: first lo
    * deliberately off the raster min (2.0 -> snapped), one comma-bearing
    * label, valid coverage (51.0 > max), contiguous. */
  private def editedRanges = array(
    struct(lit("low, band").as("label"), lit(2.0).as("lo"),
           lit(10.0).as("hi"), lit(2).as("out")),
    struct(lit("mid").as("label"), lit(10.0).as("lo"),
           lit(30.0).as("hi"), lit(5).as("out")),
    struct(lit("high").as("label"), lit(30.0).as("lo"),
           lit(51.0).as("hi"), lit(8).as("out")))

  private def quantityStats(s: SparkSession, dir: String): DataFrame =
    WroQueries.perCell(s, dir)
      .agg(min("quantity").as("mn"), max("quantity").as("mx"))

  /** R18 + V2/V3 (pyt:222-330): apply the edit to one catalog row. */
  def updateClassification(s: SparkSession, dir: String): DataFrame =
    Catalog.updateClassification(catalogEncoded(s, dir), "quantity",
      editedRanges, quantityStats(s, dir))

  /** The multi-row MERGE updates: a reclassification for the existing
    * `quantity` layer plus a brand-new `density` layer — built in the
    * DECODED form and pushed through the encoder, so the merge exercises
    * the same storage codec as the catalog it lands in (comma-bearing
    * labels keep RFC-4180 quoting load-bearing). */
  private def mergeUpdates(s: SparkSession): DataFrame = {
    def ranges(rs: Seq[(String, Double, Double, Int)]) =
      array(rs.map { case (l, lo, hi, out) =>
        struct(lit(l).as("label"), lit(lo).as("lo"),
               lit(hi).as("hi"), lit(out).as("out")) }: _*)
    val upd = s.range(1).select(explode(array(
        struct(lit("quantity").as("layer"),
          ranges(Seq(("q1, a", 1.0, 25.0, 3), ("q2, b", 25.0, 51.0, 7)))
            .as("ranges")),
        struct(lit("density").as("layer"),
          ranges(Seq(("d1, a", 0.0, 5.0, 1), ("d2, b", 5.0, 9.0, 9)))
            .as("ranges")))).as("r"))
      .select(col("r.layer").as("layer"), col("r.ranges").as("ranges"))
    Catalog.encode(upd)
  }

  /** R18 at scale (pyt:879-885): multi-row MERGE of an updates frame
    * into the encoded catalog — matched rewrite, unmatched insert,
    * untouched keep — with a broadcast-updates plan on both union
    * branches ([[Catalog.mergeCatalog]]). */
  def mergeCatalog(s: SparkSession, dir: String): DataFrame =
    Catalog.mergeCatalog(catalogEncoded(s, dir), mergeUpdates(s))

  /** R18++ : SCD-2 versioned history — the same updates as the MERGE,
    * applied at t=2,000,000 us to a version-1 history seeded at
    * t=1,000,000: quantity's v1 closes and v2 opens, density opens at
    * v1, untouched layers stay current ([[Catalog.scd2Apply]]). */
  def catalogScd2(s: SparkSession, dir: String): DataFrame = {
    val hist = catalogEncoded(s, dir)
      .withColumn("version", lit(1))
      .withColumn("valid_from_us", lit(1000000L))
      .withColumn("valid_to_us", lit(null).cast("long"))
      .withColumn("is_current", lit(1))
    Catalog.scd2Apply(hist, mergeUpdates(s), tsUs = 2000000L)
  }

  /** The encoded catalog decorated with layer-info fields (deterministic
    * from the name, so the oracle can rebuild them). */
  private def catalogWithInfo(s: SparkSession, dir: String): DataFrame =
    catalogEncoded(s, dir).select(col("name"),
      concat(lit("t_"), col("name")).as("title"),
      concat(lit("d_"), col("name")).as("description"),
      concat(lit("https://example.org/"), col("name")).as("url"),
      concat(lit("https://meta.example.org/"), col("name")).as("metadata"))

  /** UpdateWROLayerInfo (pyt:345-556) as a declared query: retitle the
    * `quantity` layer, clear its description (empty -> null), point its
    * url somewhere new, null its metadata. */
  def updateLayerInfo(s: SparkSession, dir: String): DataFrame =
    Catalog.updateLayerInfo(catalogWithInfo(s, dir), "quantity",
      title = "Quantity v2", description = "",
      url = "https://example.org/q2", metadata = null)

  /** R17 (pyt:245-273): per-field diff, old catalog vs updated. */
  def catalogDiff(s: SparkSession, dir: String): DataFrame =
    Catalog.diff(catalogEncoded(s, dir), updateClassification(s, dir),
      Seq("input_ranges", "range_labels", "output_values"))

  /** R27 (pyt:1186-1218) as a golden query: basename, web /ImageServer
    * truncation (last occurrence), extension strip. */
  def nameNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Seq(
      ("a", "C:\\data\\dem.tif", false, "tif"),
      ("b", "https://svc/rest/elev/ImageServer", true, ""),
      ("c", "https://a/ImageServer/b/ImageServer", true, ""),
      ("d", "relative.png", false, "png"),
      ("e", "C:\\x\\noext", false, ""),
      ("f", "https://a/ImageServer/x", false, "tif"),
      ("g", "C:\\y\\keep.tif", false, "png"))
    rows.toDF("id", "path", "is_web", "ext")
      .select(col("id"),
        catalog.Names.normalizeRasterName(
          col("path"), col("is_web"), col("ext")).as("name"))
  }

  /** R19 (pyt:283-304): ExportMosaicDatasetPaths → lookup Path by
    * SourceOID → raster min/max of the resolved dataset — the stats step
    * that feeds the V3 snap/coverage validation. The exported paths table
    * and the catalog's id column are golden literals (the reference's
    * in_memory table, one orphan row the lookup must not match); the
    * min/max come from the layer's cells, computed in-plan (pyt:303-304's
    * GetRasterProperties without the driver round-trip). Plan shape: two
    * broadcast dimension joins over the per-cell aggregate's wide stats
    * row ([[WroQueries.layerStats]]) — the id lookup never touches fact
    * rows. */
  def pathLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mosaic = Seq(("quantity", 101L), ("extendedprice", 102L),
      ("discount", 103L)).toDF("name", "source_oid")
    val paths = Seq(
      (101L, "c:\\data\\quantity.tif"),
      (102L, "c:\\data\\extendedprice.tif"),
      (103L, "c:\\data\\discount.tif"),
      (104L, "c:\\data\\orphan.tif")).toDF("p_oid", "path")
    val stats = WroQueries.layerStats(WroQueries.perCell(s, dir))
    mosaic.join(broadcast(paths), col("source_oid") === col("p_oid"))
      .join(stats, col("name") === col("layer"))
      .select(col("name"), col("source_oid"), col("path"),
              col("mn"), col("mx"))
  }

  /** V2/V4/V5 as a golden validation table over literal inputs. */
  def validations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Seq(
      ("contig", "a", "1.0,10.0,10.0,20.0"),
      ("contig", "b", "1.0,10.0,12.0,20.0"),
      ("url", "c", "https://example.org/x"),
      ("url", "d", "ftp://example.org/x"),
      ("url", "e", "HTTP://EXAMPLE.ORG"),
      ("ident", "f", "good_name"),
      ("ident", "g", "bad name!"),
      ("ident", "h", "tab|pipe"))
    rows.toDF("kind", "name", "v")
      .select(col("kind"), col("name"),
        when(col("kind") === "contig", Validate.rangesContiguous(col("v")))
          .when(col("kind") === "url", Validate.urlOk(col("v")))
          .otherwise(Validate.identifierOk(col("v")))
          .cast("int").as("ok"))
  }

  /** R26+R28 (pyt:780-893 + 1160-1296) as a golden query: the full
    * CreateWeightedOverlayMosaic composition over a fixture layer table
    * covering every dispatch branch — equal-interval with and without a
    * strippable extension (R9), unique colorizer (R12), classify
    * colorizer over the discount raster's stats (R10), a skipped
    * VECTOR_UV layer, the no-statistics fallback (pyt:1263-1269, the
    * one kernel no other query reaches), and an R2-rejected table row.
    * The catalog is written through a partitioned sink and read back —
    * the reference's create-then-query flow (pyt:814/879). */
  def createMosaicGolden(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val meta = Seq(
      (1L, "quantity.tif", "grp\\quantity.tif", true, true, false,
        "RasterDataset", "c:\\data\\quantity.tif", "tif", "GENERIC",
        null.asInstanceOf[String], None, None, None),
      (2L, "extendedprice", "grp\\extendedprice", true, true, false,
        "RasterDataset", "c:\\data\\extendedprice", "", "ELEVATION",
        null.asInstanceOf[String], None, None, None),
      (3L, "linecls", "grp\\linecls", true, true, false,
        "RasterDataset", "c:\\data\\linecls", "", "THEMATIC",
        "RasterUniqueValueColorizer", None,
        Some(Seq(1.0, 2.0, 3.0)), Some(Seq("One", "Two", "Three"))),
      (4L, "qbreaks", "grp\\qbreaks", true, true, false,
        "RasterDataset", "c:\\data\\discount.tif", "tif", "GENERIC",
        "RasterClassifyColorizer", Some(Seq(0.02, 0.05, 0.08)), None, None),
      (5L, "wind", "grp\\wind", true, true, false,
        "RasterDataset", "c:\\data\\wind", "", "VECTOR_UV",
        null.asInstanceOf[String], None, None, None),
      (6L, "nostats.img", "grp\\nostats.img", true, true, false,
        "RasterDataset", "c:\\data\\nostats.img", "img", "GENERIC",
        null.asInstanceOf[String], None, None, None),
      (7L, "atable", "grp\\atable", false, true, false,
        "Table", "c:\\data\\atable", "", "GENERIC",
        null.asInstanceOf[String], None, None, None))
      .toDF("layer_id", "name", "long_name", "is_raster", "visible",
            "is_web", "dataset_type", "datasource", "extension",
            "sourcetype", "colorizer_type", "breaks", "uvals", "ulabels")
    val mosaic = Mosaic.createMosaic(meta,
      WroQueries.layerStats(WroQueries.perCell(s, dir)))
    val sf = dir.replaceAll("[^0-9.]", "")
    val path = s"/tmp/graft_io/mosaic-$sf"
    mosaic.write.mode("overwrite").partitionBy("Name").parquet(path)
    // read back under the written frame's own schema: no inference job
    s.read.schema(mosaic.schema).parquet(path).select(
      "Name", "Title", "Description", "Url", "InputRanges", "NoDataRanges",
      "RangeLabels", "NoDataRangeLabels", "OutputValues", "Metadata",
      "dataset_id", "crs")
  }

  // ---------- oracle SQL ----------

  /** Decorated + encoded catalog, built from WroQueries.rangesSql. All
    * decorated labels contain ", b<idx>" so RFC-4180 always quotes. */
  private val encodedSql =
    s"""${WroQueries.rangesSql},
       |encoded AS (
       |  SELECT layer AS name,
       |    string_agg(CAST(lo AS VARCHAR) || ',' || CAST(hi AS VARCHAR),
       |               ',' ORDER BY class_idx) AS input_ranges,
       |    string_agg('"' || label || ', b' || class_idx || '"',
       |               ',' ORDER BY class_idx) AS range_labels,
       |    string_agg(CAST(out AS VARCHAR), ',' ORDER BY class_idx) AS output_values
       |  FROM ranges GROUP BY layer)""".stripMargin

  private val updatedSql =
    s"""$encodedSql,
       |qstats AS (SELECT min(value) AS mn, max(value) AS mx
       |           FROM cells WHERE layer = 'quantity'),
       |updated AS (
       |  SELECT e.name,
       |    CASE WHEN e.name = 'quantity'
       |      THEN CAST(s.mn AS VARCHAR) || ',10.0,10.0,30.0,30.0,51.0'
       |      ELSE e.input_ranges END AS input_ranges,
       |    CASE WHEN e.name = 'quantity'
       |      THEN '"low, band",mid,high'
       |      ELSE e.range_labels END AS range_labels,
       |    CASE WHEN e.name = 'quantity'
       |      THEN '2,5,8'
       |      ELSE e.output_values END AS output_values,
       |    CASE WHEN e.name = 'quantity'
       |      THEN CAST(2.0 <> s.mn AS INT) ELSE 0 END AS snapped
       |  FROM encoded e, qstats s)""".stripMargin

  lazy val (queries, oracle) = registry(declared)

  private[ops] val declared: Seq[Query] = Seq(
    Query("wro_create_mosaic", createMosaicGolden,
      s"""${WroQueries.rangesSql},
         |eqenc AS (
         |  SELECT layer,
         |    string_agg(CAST(lo AS VARCHAR) || ',' || CAST(hi AS VARCHAR),
         |               ',' ORDER BY class_idx) AS ir,
         |    string_agg(label, ',' ORDER BY class_idx) AS rl,
         |    string_agg(CAST(out AS VARCHAR), ',' ORDER BY class_idx) AS ov
         |  FROM ranges WHERE layer IN ('quantity', 'extendedprice')
         |  GROUP BY layer),
         |dmn AS (SELECT CAST(min(value) AS VARCHAR) AS mn
         |        FROM cells WHERE layer = 'discount'),
         |qb AS (
         |  SELECT mn || ',0.02,0.02,0.05,0.05,1.08' AS ir,
         |         mn || ' to 0.02,0.02 to 0.05,0.05 to 1.08' AS rl,
         |         '5,5,5' AS ov
         |  FROM dmn),
         |rws AS (
         |  SELECT 'quantity' AS nm, 'quantity' AS ti, ir, rl, ov
         |  FROM eqenc WHERE layer = 'quantity'
         |  UNION ALL
         |  SELECT 'extendedprice', 'extendedprice', ir, rl, ov
         |  FROM eqenc WHERE layer = 'extendedprice'
         |  UNION ALL
         |  SELECT 'discount', 'qbreaks', ir, rl, ov FROM qb
         |  UNION ALL
         |  SELECT 'linecls', 'linecls', '1.0,2.0,2.0,3.0,3.0,4.0',
         |         'One,Two,Three', '5,5,5'
         |  UNION ALL
         |  SELECT 'nostats', 'nostats',
         |         '1.0,50.0,50.0,100.0,100.0,150.0,150.0,200.0,200.0,256.0',
         |         'Very Low,Low,Medium,High,Very High', '1,3,5,7,9')
         |SELECT nm AS Name, ti AS Title,
         |  CAST(NULL AS VARCHAR) AS Description, CAST(NULL AS VARCHAR) AS Url,
         |  ir AS InputRanges, CAST(NULL AS VARCHAR) AS NoDataRanges,
         |  rl AS RangeLabels, CAST(NULL AS VARCHAR) AS NoDataRangeLabels,
         |  ov AS OutputValues, CAST(NULL AS VARCHAR) AS Metadata,
         |  CAST(NULL AS VARCHAR) AS dataset_id, 'EPSG:3857' AS crs
         |FROM rws""".stripMargin),
    Query("wro_catalog_encoded", catalogEncoded,
      s"""$encodedSql
         |SELECT name, input_ranges, range_labels, output_values FROM encoded""".stripMargin),
    Query("wro_catalog_roundtrip", catalogRoundtrip,
      s"""${WroQueries.rangesSql}
         |SELECT layer, class_idx, label || ', b' || class_idx AS label,
         |       lo, hi, out
         |FROM ranges""".stripMargin),
    Query("wro_update_classification", updateClassification,
      s"""$updatedSql
         |SELECT name, input_ranges, range_labels, output_values, snapped
         |FROM updated""".stripMargin),
    Query("wro_merge_catalog", mergeCatalog,
      s"""$encodedSql,
         |upd(name, input_ranges, range_labels, output_values) AS (VALUES
         |  ('quantity', '1.0,25.0,25.0,51.0', '"q1, a","q2, b"', '3,7'),
         |  ('density', '0.0,5.0,5.0,9.0', '"d1, a","d2, b"', '1,9'))
         |SELECT coalesce(u.name, e.name) AS name,
         |  coalesce(u.input_ranges, e.input_ranges) AS input_ranges,
         |  coalesce(u.range_labels, e.range_labels) AS range_labels,
         |  coalesce(u.output_values, e.output_values) AS output_values,
         |  CASE WHEN u.name IS NOT NULL AND e.name IS NOT NULL THEN 'update'
         |       WHEN u.name IS NOT NULL THEN 'insert'
         |       ELSE 'keep' END AS action
         |FROM encoded e FULL OUTER JOIN upd u ON e.name = u.name""".stripMargin),
    Query("wro_catalog_scd2", catalogScd2,
      s"""$encodedSql,
         |upd(name, input_ranges, range_labels, output_values) AS (VALUES
         |  ('quantity', '1.0,25.0,25.0,51.0', '"q1, a","q2, b"', '3,7'),
         |  ('density', '0.0,5.0,5.0,9.0', '"d1, a","d2, b"', '1,9')),
         |hist AS (
         |  SELECT name, input_ranges, range_labels, output_values,
         |    1 AS version, CAST(1000000 AS BIGINT) AS valid_from_us,
         |    CAST(NULL AS BIGINT) AS valid_to_us, 1 AS is_current
         |  FROM encoded),
         |curout AS (
         |  SELECT h.name, h.input_ranges, h.range_labels, h.output_values,
         |    h.version, h.valid_from_us,
         |    CASE WHEN u.name IS NOT NULL THEN CAST(2000000 AS BIGINT)
         |         ELSE h.valid_to_us END AS valid_to_us,
         |    CASE WHEN u.name IS NOT NULL THEN 0
         |         ELSE h.is_current END AS is_current
         |  FROM hist h LEFT JOIN upd u ON h.name = u.name),
         |opened AS (
         |  SELECT u.name, u.input_ranges, u.range_labels, u.output_values,
         |    CAST(coalesce(h.version, 0) + 1 AS INT) AS version,
         |    CAST(2000000 AS BIGINT) AS valid_from_us,
         |    CAST(NULL AS BIGINT) AS valid_to_us, 1 AS is_current
         |  FROM upd u LEFT JOIN hist h ON u.name = h.name)
         |SELECT * FROM curout UNION ALL SELECT * FROM opened""".stripMargin),
    Query("wro_update_layerinfo", updateLayerInfo,
      """WITH names AS (
        |  SELECT unnest(['quantity', 'extendedprice', 'discount']) AS name)
        |SELECT name,
        |  CASE WHEN name = 'quantity' THEN 'Quantity v2'
        |       ELSE 't_' || name END AS title,
        |  CASE WHEN name = 'quantity' THEN NULL
        |       ELSE 'd_' || name END AS description,
        |  CASE WHEN name = 'quantity' THEN 'https://example.org/q2'
        |       ELSE 'https://example.org/' || name END AS url,
        |  CASE WHEN name = 'quantity' THEN NULL
        |       ELSE 'https://meta.example.org/' || name END AS metadata
        |FROM names""".stripMargin),
    Query("wro_catalog_diff", catalogDiff,
      s"""$updatedSql
         |SELECT e.name, d.field, d.old_value, d.new_value
         |FROM encoded e
         |JOIN updated u ON e.name = u.name,
         |LATERAL (SELECT * FROM (VALUES
         |  ('input_ranges', e.input_ranges, u.input_ranges),
         |  ('range_labels', e.range_labels, u.range_labels),
         |  ('output_values', e.output_values, u.output_values))
         |  AS t(field, old_value, new_value)) d
         |WHERE d.old_value IS DISTINCT FROM d.new_value""".stripMargin),
    Query("wro_name_normalize", nameNormalize,
      """SELECT * FROM (VALUES
        |  ('a', 'dem'), ('b', 'elev'), ('c', 'b'), ('d', 'relative'),
        |  ('e', 'noext'), ('f', 'https://a/ImageServer/x'), ('g', 'keep.tif'))
        |  AS t(id, name)""".stripMargin),
    Query("wro_path_lookup", pathLookup,
      s"""WITH cells AS (${WroQueries.cellsSql}),
         |stats AS (SELECT layer, min(value) AS mn, max(value) AS mx
         |          FROM cells GROUP BY layer),
         |mosaic(name, source_oid) AS (VALUES
         |  ('quantity', 101), ('extendedprice', 102), ('discount', 103)),
         |paths(p_oid, path) AS (VALUES
         |  (101, 'c:\\data\\quantity.tif'), (102, 'c:\\data\\extendedprice.tif'),
         |  (103, 'c:\\data\\discount.tif'), (104, 'c:\\data\\orphan.tif'))
         |SELECT m.name, CAST(m.source_oid AS BIGINT) AS source_oid, p.path,
         |       s.mn, s.mx
         |FROM mosaic m
         |JOIN paths p ON m.source_oid = p.p_oid
         |JOIN stats s ON m.name = s.layer""".stripMargin),
    Query("wro_validations", validations,
      """SELECT * FROM (VALUES
        |  ('contig', 'a', 1), ('contig', 'b', 0),
        |  ('url', 'c', 1), ('url', 'd', 0), ('url', 'e', 1),
        |  ('ident', 'f', 1), ('ident', 'g', 0), ('ident', 'h', 0))
        |  AS t(kind, name, ok)""".stripMargin)
  )
}
