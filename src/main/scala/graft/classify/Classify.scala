package graft.classify

import graft.codec.RangeCodec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Classification derivation — the reference's model-authoring kernels,
  * re-expressed as pure Column expressions over per-layer statistics.
  * All ranges are half-open [lo, hi), min-inclusive / max-exclusive
  * (WROS/Weighted Raster Overlay Service.pyt:929 comments, §1.4 SURVEY.md).
  *
  * Each function returns array<struct<label:string, lo:double, hi:double,
  * out:int>> — the decoded form of one catalog row (pyt:168-177).
  */
object Classify {

  /** Default stretch outputs "1,3,5,7,9" + labels (pyt:1279-1280). */
  val defaultOutputValues: Seq[Int] = Seq(1, 3, 5, 7, 9)
  val defaultLabels: Seq[String] =
    Seq("Very Low", "Low", "Medium", "High", "Very High")

  /** Equal-interval classification (makeInputRanges, pyt:895-938):
    * np.linspace(min, max, 6) -> 5 half-open pairs; the final upper bound
    * is max+1 so the true max lands inside a half-open range (pyt:934-935);
    * degenerate min==max collapses to a single range [min, min+1)
    * (pyt:913-926). Built as a codegen'd `array(...)` of structs over the
    * same bound points as [[equalIntervalBounds]]. */
  def equalInterval(mn: Column, mx: Column): Column = {
    val b = points(mn, mx)
    val five = array(defaultLabels.indices.map(i => struct(
      lit(defaultLabels(i)).as("label"), b(i).as("lo"), b(i + 1).as("hi"),
      lit(defaultOutputValues(i)).as("out"))): _*)
    val degenerate = array(struct(
      lit(defaultLabels.head).as("label"),
      mn.as("lo"), (mx + lit(1.0)).as("hi"),
      lit(defaultOutputValues.head).as("out")))
    when(mn === mx, degenerate).otherwise(five)
  }

  /** The n+1 sorted bounds of [[equalInterval]]'s ranges, the
    * [[graft.functions.RangeRemap]] `bounds` argument: [min, max+1) when
    * degenerate, else the six points. */
  def equalIntervalBounds(mn: Column, mx: Column): Column =
    when(mn === mx, array(mn, mx + lit(1.0))).otherwise(array(points(mn, mx): _*))

  /** The outputs matching [[equalIntervalBounds]], RangeRemap's `outs`. */
  def equalIntervalOuts(mn: Column, mx: Column): Column =
    when(mn === mx, array(lit(defaultOutputValues.head)))
      .otherwise(array(defaultOutputValues.map(lit): _*))

  /** linspace point i = min + i*((max-min)/5) for i < 5, then max+1. */
  private def points(mn: Column, mx: Column): Seq[Column] = {
    val step = (mx - mn) / lit(5.0)
    (0 until 5).map(i => mn + lit(i.toDouble) * step) :+ (mx + lit(1.0))
  }

  /** Classify-colorizer classification (makeDataFromClassifyColorizer,
    * pyt:941-1008): bounds = min :: classBreak upper bounds; contiguous
    * pairs with final max-bump; labels "lo to hi" rendered from the bumped
    * bounds (pyt:994-1002); all output values 5 (pyt:969-972). */
  def fromBreaks(mn: Column, breaks: Column): Column = {
    val ranges = RangeCodec.boundsToRanges(
      concat(array(mn.cast(DoubleType)), array_sort(breaks)))
    transform(ranges, r => struct(
      concat(r("lo").cast(StringType), lit(" to "),
             r("hi").cast(StringType)).as("label"),
      r("lo").as("lo"), r("hi").as("hi"),
      lit(5).as("out")))
  }

  /** Unique-value classification, no colorizer labels (pyt:1081-1108):
    * distinct values v_1<...<v_n become [v_i, v_{i+1}) with the last range
    * [v_n, v_n+1); labels default to the value itself; all outputs 5
    * (pyt:1097-1101). */
  def uniqueValues(values: Column): Column = {
    val ranges = RangeCodec.valuesToRanges(values)
    transform(ranges, r => struct(
      r("lo").cast(StringType).as("label"),
      r("lo").as("lo"), r("hi").as("hi"),
      lit(5).as("out")))
  }

  /** Unique-value classification with positional colorizer labels
    * (makeDataFromUniqueColorizer, pyt:1010-1078): labels travel WITH
    * their values through the sort (pairs sorted together), and duplicate
    * input values are kept as zero-width ranges — both matching the
    * reference, which sorts the combined value list without dedup
    * (pyt:1119-1138). Null labels fall back to the value rendered as a
    * string. */
  def uniqueValues(values: Column, labels: Column): Column = {
    val pairs = array_sort(
      zip_with(values.cast(ArrayType(DoubleType)), labels,
               (v, l) => struct(v.as("v"), l.as("l"))),
      (a, b) => when(a("v") < b("v"), -1).when(a("v") > b("v"), 1)
        .otherwise(0))
    val vs = transform(pairs, p => p("v"))
    transform(pairs, (p, i) => struct(
      coalesce(p("l"), p("v").cast(StringType)).as("label"),
      p("v").as("lo"),
      // try_element_at: past-the-end is null -> +1 bump (ANSI-safe)
      coalesce(try_element_at(vs, i + 2), p("v") + lit(1.0)).as("hi"),
      lit(5).as("out")))
  }

  /** Fallback classification used when statistics are unavailable
    * (pyt:1263-1269): fixed ranges 1..256 with the default stretch
    * outputs/labels (set in the same else-branch, pyt:1279-1280). */
  val fallbackBounds: Seq[Double] = Seq(1.0, 50.0, 100.0, 150.0, 200.0, 256.0)
  def fallback: Column = {
    val entries = fallbackBounds.sliding(2).toSeq.zipWithIndex.map {
      case (Seq(lo, hi), i) => struct(
        lit(defaultLabels(i)).as("label"),
        lit(lo).as("lo"), lit(hi).as("hi"),
        lit(defaultOutputValues(i)).as("out"))
    }
    array(entries: _*)
  }

  /** Locale digit-strip (pyt:1086-1089): keep digits and the decimal
    * point — the reference strips everything else (grouping separators,
    * units, words) from colorizer values AND labels. Engine fixes locale
    * to en_US ('.' decimal point). */
  def digitsOnly(c: Column): Column = regexp_replace(c, "[^0-9.]", "")

  /** Locale-aware numeric extraction: digit-strip, then cast to double
    * (pyt:1093 `float(v1)`). */
  def numericFromLabel(c: Column): Column =
    digitsOnly(c).cast(DoubleType)
}
