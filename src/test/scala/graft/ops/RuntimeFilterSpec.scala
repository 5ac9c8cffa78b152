package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scale evidence for runtime bloom-filter injection (Catalyst's
  * InjectRuntimeFilter rule): a selective dimension side causes Spark to
  * build a bloom filter over the dim join keys and apply it to the fact
  * side BEFORE the join's shuffle — at 100 TB this is the difference
  * between shuffling the whole fact table and shuffling only rows that
  * can possibly match. The engine does this to OUR declarative plans for
  * free; this spec pins that it actually fires on the fixture schema, so
  * a future plan change that breaks eligibility (e.g. wrapping the join
  * key in an expression) is caught. */
class RuntimeFilterSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def joinPlan(bloomOn: Boolean): String = {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", bloomOn)
      // fixture tables are far below the production-tuned size gates;
      // widen them so eligibility is decided by plan SHAPE, not size
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // forbid broadcast so the join is a real shuffle join (broadcast
      // joins don't need the runtime filter — the hash set IS the filter)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = graft.table(spark, dir, "lineitem")
      val dim = graft.table(spark, dir, "orders")
        .filter(col("o_totalprice") > 500000) // selective dim predicate
      fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("selective shuffle join gets a runtime bloom filter on the fact side") {
    assert(joinPlan(bloomOn = true).toLowerCase.contains("bloomfilter"),
      "InjectRuntimeFilter did not fire — fact side will shuffle unfiltered")
  }

  test("control: no bloom filter when the rule is disabled") {
    assert(!joinPlan(bloomOn = false).toLowerCase.contains("bloomfilter"))
  }

  test("j17_bloom_join's production plan carries the runtime bloom filter " +
       "on the fact side") {
    val df = graft.SparkEntry.queries("j17_bloom_join")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("bloomfilter") || plan.contains("might_contain"),
      "the declared query no longer plans its runtime filter")
  }

  test("j17 plans in a clone: the caller's runtime confs plus its own three") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    val own = Map(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val before = own.keys.toSeq.map(caller.conf.get)
    val ns = RelQueries.j17BloomJoin(caller, dir).sparkSession
    assert(ns ne caller)
    assert(ns.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(own.keys.toSeq.map(ns.conf.get) == own.values.toSeq)
    assert(own.keys.toSeq.map(caller.conf.get) == before)
  }
}
