package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class FixpointSpec extends SparkSpec {

  private def sc = spark.sparkContext

  /** Persistent RDDs created after `mark` (RDD ids only grow), so blocks
    * other suites left behind cannot skew a count. */
  private def heldSince(mark: Int): Int =
    sc.getPersistentRDDs.keys.count(_ > mark)

  private def mark(): Int = sc.emptyRDD[Int].id

  test("an iterate loop holds as many blocks after 2 rounds as after 8") {
    def rise(rounds: Int): Int = {
      val m = mark()
      // a checkpointed invariant every round reads, as in the real loops
      val w = spark.range(100).select(col("id").as("k"), (col("id") % 7).as("w"))
        .localCheckpoint()
      val out = Fixpoint.iterate("test", spark.range(100)
          .select(col("id").as("k"), lit(0L).as("v")), rounds) { s =>
        s.join(w, "k").select(col("k"), (col("v") + col("w")).as("v"))
      }
      assert(out.agg(sum("v")).head.getLong(0) ==
        rounds * (0 until 100).map(_ % 7).sum)
      heldSince(m)
    }
    assert(rise(2) == 1)
    assert(rise(8) == 1)
  }

  test("a convergence loop that runs out of rounds fails, naming the operator") {
    val m = mark()
    val e = intercept[IllegalArgumentException] {
      Fixpoint.iterate("countdown", spark.range(1).select(lit(5L).as("n")), 3,
          changes = Some((_, next) => next.filter(col("n") > 0).count())) {
        _.select((col("n") - 1).as("n"))
      }
    }
    assert(e.getMessage.contains("countdown did not converge in 3 rounds"))
    assert(heldSince(m) == 0)
  }

  Seq("wro_watershed", "wro_flow_length", "wro_cost_distance",
      "wro_allocation", "wro_corridor", "wro_least_cost_path",
      "wro_flow_accumulation", "wro_twi", "wro_region_group",
      "wro_zonal_geometry", "d43_sssp", "d19_host_rank", "d2_dedup_clusters",
      "d41_perceptron", "d42_calibration").foreach { name =>
    test(s"$name holds no checkpoint its result does not read") {
      val m = mark()
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      df.collect()
      spark.catalog.clearCache()
      val leaves = df.queryExecution.analyzed.collect { case r: LogicalRDD => r }.size
      assert(heldSince(m) <= leaves)
    }
  }

  test("scoped restores every conf after a return and after a throw") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    def confs = keys.map(spark.conf.getOption)
    val before = confs
    val inside = Fixpoint.scoped(spark, 0L)(confs)
    assert(inside == Seq(Some("false"), Some("1")))
    assert(confs == before)
    intercept[IllegalStateException] {
      Fixpoint.scoped(spark, 0L)(throw new IllegalStateException("body"))
    }
    assert(confs == before)
  }

  test("partitions: ~100k rows each, at least 1, at most the session's") {
    assert(Fixpoint.partitions(spark, 0L) == 1)
    assert(Fixpoint.partitions(spark, 10000L) == 1)
    assert(Fixpoint.partitions(spark, 1000000000L) ==
      spark.sessionState.conf.numShufflePartitions)
  }
}
