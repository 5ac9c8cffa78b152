package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row

class SkewSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  test("saltedJoin equals the plain equi-join, including hot keys") {
    import spark.implicits._
    // skewed left: key 1 carries most rows
    val left = ((1 to 50).map(i => (1L, i)) ++ Seq((2L, 99), (3L, 100)))
      .toDF("k", "lv")
    val right = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("k", "rv")
    def norm(rows: Array[Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val plain = norm(left.join(right, "k").collect())
    val salted = norm(Skew.saltedJoin(left, right, "k", salts = 8).collect())
    assert(salted == plain && plain.size == 51)
  }

  test("skewed overlay: salted join keeps every task within 4x the " +
       "median; the unsalted plan genuinely violates that on same data") {
    import org.apache.spark.sql.functions.spark_partition_id
    val dir = "/root/testdata/sf0.001"
    // partition-level balance only shows with AQE's small-data coalesce
    // off — at test SF it would legally collapse everything to one task
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val (prev, prevParts) = (spark.conf.get(coalesceKey),
                             spark.conf.get(partsKey))
    try {
      spark.conf.set(coalesceKey, "false")
      // enough partitions that the median reflects the typical task, not
      // a hot one (the test session runs with very few by default)
      spark.conf.set(partsKey, "32")
      def partCounts(salted: Boolean): Seq[Long] = {
        val counts = WroQueries.skewedJoined(spark, dir, salted)
          .groupBy(spark_partition_id().as("p")).count()
          .collect().map(_.getLong(1)).sorted.toSeq
        assert(counts.length > 1, "need >1 partition to measure balance")
        counts
      }
      val s = partCounts(salted = true)
      val sMed = s(s.length / 2)
      assert(s.last <= 4 * sMed,
        s"salted join skewed: max ${s.last} > 4 x median $sMed ($s)")
      val p = partCounts(salted = false)
      val pMed = p(p.length / 2)
      assert(p.last > 4 * pMed,
        s"planted skew not real: max ${p.last} <= 4 x median $pMed ($p)")
    } finally {
      spark.conf.set(coalesceKey, prev)
      spark.conf.set(partsKey, prevParts)
    }
  }

  test("AQE path: OptimizeSkewedJoin splits the hot partition and the " +
       "result matches the salted plan") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val dir = "/root/testdata/sf0.001"
    // the skew confs, at 8 shuffle partitions, in a clone of the suite's session
    val skew = org.apache.spark.sql.GraftBridge.cloneSession(spark,
      WroQueries.aqeSkewConfs(WroQueries.hotSkewRows(spark, dir)) +
        ("spark.sql.shuffle.partitions" -> "8"))
    val df = WroQueries.skewedJoinedAqe(skew, dir)
    // finalize THIS df's adaptive plan (count() would plan a clone)
    df.queryExecution.toRdd.count()
    val smjs = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j
    }
    assert(smjs.nonEmpty, "no sort-merge join in the AQE skew plan")
    assert(smjs.exists(_.isSkewJoin),
      s"OptimizeSkewedJoin did not mark the join skew=true:\n" +
        df.queryExecution.executedPlan)
    // result-invariance vs the manual salt on the same data
    def sig(salted: Boolean, aqe: Boolean): Seq[String] = {
      val d =
        if (aqe) WroQueries.skewedJoinedAqe(skew, dir)
        else WroQueries.skewedJoined(spark, dir, salted)
      // exact row multiset — a float SUM would be order-sensitive
      // across the different task decompositions
      d.select("cell_id", "layer", "value", "maxv")
        .collect().map(_.toString).sorted.toSeq
    }
    assert(sig(salted = false, aqe = true) == sig(salted = true, aqe = false))
  }

  // The r9 "AQE demo within 2.2x of its salted sibling" WALL-CLOCK
  // bound no longer lives here: a unit test asserting a timing ratio
  // on a shared box is noise-flaky by the repo's own bench-adjudication
  // rule (idle-machine medians only). The MECHANISM stays spec-pinned
  // above (isSkewJoin on the finalized adaptive plan + result
  // invariance vs the manual salt); the COST bound is emitted by the
  // bench harness as `aqe_vs_salted` in every BENCH_rN.json, where the
  // min-of-reps noise discipline applies (Bench.scala).

  test("saltedJoin distributes a hot key across multiple salts") {
    import spark.implicits._
    val left = (1 to 1000).map(i => (1L, i)).toDF("k", "lv")
      .repartition(8)
    val right = Seq((1L, "a")).toDF("k", "rv")
    val l = left.withColumn("_s",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.monotonically_increasing_id()),
        org.apache.spark.sql.functions.lit(8L)))
    val distinctSalts = l.select("_s").distinct().count()
    assert(distinctSalts > 1)
    assert(Skew.saltedJoin(left, right, "k", 8).count() == 1000)
  }
}
