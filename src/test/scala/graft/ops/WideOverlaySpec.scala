package graft.ops

import graft.SparkSpec
import graft.classify.Classify
import graft.overlay.WeightedOverlay
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one-pass wide overlay (stats windows, codegen'd RangeRemap, row
  * arithmetic) against the long-form join path it replaced
  * (`WeightedOverlay` over one row per cell and layer), on seeded random
  * per-cell frames: NULL values, an all-NULL layer, a degenerate layer
  * (min = max), values on every class bound and at the max, and NoData
  * ranges whose lo and hi both occur as values. */
class WideOverlaySpec extends SparkSpec {

  private val names = WroQueries.layers.map(_._1)

  private case class Frame(pc: DataFrame, noData: Map[String, Seq[(Double, Double)]])

  private def frame(seed: Int): Frame = {
    val r = new scala.util.Random(seed)
    val n = 30 + r.nextInt(40)
    // per layer: its values by cell and its NoData ranges; the layer at
    // seed % 3 is always a spread one, so every frame has scored cells
    val cols = names.indices.map { j =>
      val kind = if (j == seed % 3) 0 else r.nextInt(3)
      val k = (r.nextInt(20) - 5).toDouble
      val s = (1 + r.nextInt(5)).toDouble
      def maybe(v: Double): Option[Double] =
        if (r.nextInt(100) < 15) None else Some(v)
      kind match {
        case 0 => // spread: cells 0-5 sit on every bound and on the max
          val vs = (0 until n).map(i =>
            if (i <= 5) Some(k + i * s)
            else maybe(if (r.nextBoolean()) k + r.nextInt(5 * s.toInt + 1)
                       else k + r.nextDouble() * 5 * s))
          (vs, Seq((k + s, k + 3 * s)))
        case 1 => // degenerate: one value, masked at its own lo
          (Some(k) +: (1 until n).map(_ => maybe(k)), Seq((k, k + 0.5)))
        case _ => // all NULL
          (Seq.fill(n)(None), Seq((k, k + s)))
      }
    }
    val rows = (0 until n).map(i =>
      Row.fromSeq(i.toLong +: cols.map(_._1(i).map(Double.box).orNull)))
    val schema = StructType(StructField("cell_id", LongType, nullable = false) +:
      names.map(StructField(_, DoubleType)))
    Frame(spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema),
      names.zip(cols.map(_._2)).toMap)
  }

  /** The long form: one row per cell and layer, catalog from per-layer
    * stats grouped by layer. */
  private def longCatalog(cs: DataFrame): DataFrame =
    cs.groupBy("layer").agg(min("value").as("mn"), max("value").as("mx"))
      .select(col("layer"), Classify.equalInterval(col("mn"), col("mx")).as("ranges"))

  private def weights: DataFrame = {
    import spark.implicits._
    WroQueries.layers.map { case (n, _, w) => (n, w) }.toDF("layer", "w10")
  }

  private def noDataDf(nd: Map[String, Seq[(Double, Double)]]): DataFrame = {
    import spark.implicits._
    nd.toSeq.flatMap { case (l, rs) => rs.map { case (lo, hi) => (l, lo, hi) } }
      .toDF("layer", "lo", "hi")
      .groupBy("layer").agg(collect_list(struct(col("lo"), col("hi"))).as("nd"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def scored(df: DataFrame): DataFrame =
    df.select(col("cell_id"), col("score10").cast("long").as("score10"),
      col("n_layers"))

  (1 to 12).foreach { seed =>
    test(s"wide overlay, NoData overlay and remap equal the long-form join " +
         s"path (seed $seed)") {
      val f = frame(seed)
      val cs = WroQueries.cellsFrom(f.pc)
      val cat = longCatalog(cs)
      assert(rows(WroQueries.overlayFrom(f.pc)) ==
        rows(scored(WeightedOverlay(cs, cat, weights))))
      assert(rows(WroQueries.overlayFrom(f.pc, f.noData)) ==
        rows(scored(WeightedOverlay(
          WeightedOverlay.maskNoData(cs, noDataDf(f.noData)), cat, weights))))
      val remapped = WeightedOverlay.remap(cs, WeightedOverlay.explodeRanges(cat))
        .select("cell_id", "layer", "out")
      assert(rows(WroQueries.remapFrom(f.pc)) ==
        rows(cs.join(remapped, Seq("cell_id", "layer"), "left")
          .select("cell_id", "layer", "out")))
    }
  }

  test("equalIntervalBounds/Outs equal the lo/hi/out explodeRanges gives") {
    import spark.implicits._
    val stats = Seq(("a", 0.0, 50.0), ("b", -3.0, 7.5), ("c", 4.0, 4.0),
      ("d", 0.1, 0.3), ("e", 1.0e9, 1.0e9 + 7.0)).toDF("layer", "mn", "mx")
    val exploded = WeightedOverlay.explodeRanges(stats.select(col("layer"),
        Classify.equalInterval(col("mn"), col("mx")).as("ranges")))
      .groupBy("layer")
      .agg(array_sort(collect_list(struct(col("class_idx"), col("lo"),
        col("hi"), col("out")))).as("rs"))
      .select(col("layer"),
        concat(transform(col("rs"), r => r("lo")),
          array(element_at(col("rs"), -1)("hi"))).as("bounds"),
        transform(col("rs"), r => r("out")).as("outs"))
    val direct = stats.select(col("layer"),
      Classify.equalIntervalBounds(col("mn"), col("mx")).as("bounds"),
      Classify.equalIntervalOuts(col("mn"), col("mx")).as("outs"))
    assert(rows(direct) == rows(exploded))
  }

  test("equal-interval ranges and bounds are codegen'd, no lambda") {
    Seq(Classify.equalInterval(lit(0.0), lit(1.0)),
        Classify.equalIntervalBounds(lit(0.0), lit(1.0)),
        Classify.equalIntervalOuts(lit(0.0), lit(1.0))).foreach { c =>
      val e = GraftBridge.expression(c)
      assert(e.collect { case x: CodegenFallback => x }.isEmpty, e)
      assert(e.collect { case x: HigherOrderFunction => x }.isEmpty, e)
    }
  }
}
