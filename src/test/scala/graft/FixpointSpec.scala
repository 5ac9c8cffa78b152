package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.GraftBridge.Residue
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class FixpointSpec extends SparkSpec {

  private def sc = spark.sparkContext

  /** Counts the blocks held from here on, those the cleaner reclaimed
    * without a release included, so blocks other suites left behind
    * cannot skew a count. */
  private def mark(): Residue = new Residue(sc)

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
      m.held
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
    assert(m.held == 0)
  }

  test("iterate tags each round's jobs and restores the caller's description") {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("tagged ")).foreach(descs.add)
    }
    sc.addSparkListener(l)
    sc.setJobDescription("caller")
    try {
      Fixpoint.iterate("tagged", spark.range(10).toDF(), 3)(_.select((col("id") + 1).as("id")))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      GraftBridge.drain(sc)
    } finally { sc.setJobDescription(null); sc.removeSparkListener(l) }
    assert(descs.asScala.toSet == Set("tagged round 1", "tagged round 2", "tagged round 3"))
  }

  test("a leaked checkpoint still counts after the cleaner reclaims it") {
    val m = mark()
    def plant(): Int = spark.range(10).localCheckpoint().queryExecution.analyzed
      .collectFirst { case r: LogicalRDD => r.rdd.id }.get
    val id = plant()
    // the planted frame is unreachable: collect it until the cleaner has
    // unpersisted its RDD and reported it
    var tries = 0
    while ((sc.getPersistentRDDs.contains(id) || m.held != 1) && tries < 100) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    assert(!sc.getPersistentRDDs.contains(id), "the checkpoint was never collected")
    assert(m.held == 1)
  }

  Seq("wro_watershed", "wro_flow_length", "wro_cost_distance",
      "wro_allocation", "wro_corridor", "wro_least_cost_path",
      "wro_flow_accumulation", "wro_twi", "wro_region_group",
      "wro_zonal_geometry", "d43_sssp", "d19_host_rank", "d2_dedup_clusters",
      "d41_perceptron", "d42_calibration", "d24_triangles", "d2_lsh_ingest",
      "snk5_partition_merge", "snk6_gdpr_delete").foreach { name =>
    test(s"$name holds no checkpoint its result does not read") {
      val m = mark()
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      df.collect()
      spark.catalog.clearCache()
      val leaves = df.queryExecution.analyzed.collect { case r: LogicalRDD => r }.size
      assert(m.held <= leaves)
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
