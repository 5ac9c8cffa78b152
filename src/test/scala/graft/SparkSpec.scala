package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session).
  * Built with GraftExtensions so SQL-registered functions are testable. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs `body` starts on this thread (its own job group, so
    * jobs of concurrently running suites are not counted). */
  def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try { body; org.apache.spark.sql.GraftBridge.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    n.get
  }

  /** Release the checkpoints (LogicalRDD leaves) `df` reads: what a
    * query scope does when a declared plan returns, for a frame a test
    * built outside one and no longer reads. */
  def releaseCheckpoints(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.foreach(org.apache.spark.sql.GraftBridge.unpersist(spark.sparkContext, _))
}

/** ScalaCheck glue (the scalatest-plus bridge is not in the offline
  * cache): run a Prop, fail the surrounding scalatest test on falsify. */
object PropCheck {
  def checkProp(p: org.scalacheck.Prop, minTests: Int = 100): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }
}
