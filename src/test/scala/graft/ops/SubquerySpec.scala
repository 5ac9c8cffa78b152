package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The subquery gates (q17/q21/q22) prove fixture equality against
  * DuckDB on the identical SQL text; this spec proves the PLANS are the
  * decorrelated ones — Catalyst rewrote every correlated subquery into a
  * join (no per-outer-row re-execution survives to the optimized plan) —
  * and cross-checks each SQL form against its hand-decorrelated
  * DataFrame form, so the two API surfaces stay interchangeable. */
class SubquerySpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("q17: correlated scalar subquery decorrelates to an aggregate join") {
    val df = RelQueries.q17SmallQty(spark, dir)
    val plan = optimized(df)
    // the correlated scalar turned into a per-part aggregate joined back
    assert(!plan.contains("scalar-subquery"),
      s"correlated scalar subquery survived optimization:\n$plan")
    assert(plan.contains("Join"), s"no join in decorrelated plan:\n$plan")
  }

  test("q17: SQL form matches the hand-decorrelated DataFrame form") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
    val perPart = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg(avg("l_quantity").as("avg_qty"))
    val manual = li
      .join(part.filter(col("p_brand") === "Brand#23"),
            col("p_partkey") === col("l_partkey"))
      .join(perPart, col("ap_partkey") === col("p_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(count(lit(1)).as("n"),
           sum(round(col("l_extendedprice") * 100).cast("long"))
             .as("sum_cents"))
    assert(sortedRows(RelQueries.q17SmallQty(spark, dir)) ==
           sortedRows(manual))
  }

  test("q21: EXISTS / NOT EXISTS plan as existence joins, not subqueries") {
    val df = RelQueries.q21Waiting(spark, dir)
    val plan = optimized(df)
    assert(!plan.contains("exists-subquery") && !plan.contains("Exists("),
      s"EXISTS survived as a subquery expression:\n$plan")
    // one semi/existence join for EXISTS, one anti join for NOT EXISTS
    assert(plan.contains("LeftAnti"), s"no anti join in plan:\n$plan")
    assert(plan.contains("LeftSemi") || plan.contains("ExistenceJoin"),
      s"no semi/existence join in plan:\n$plan")
  }

  test("q21: SQL form matches the hand-decorrelated DataFrame form") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
    val l1 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
    def other(a: String) = li.select(col("l_orderkey").as(s"${a}_ok"),
      col("l_suppkey").as(s"${a}_sk"), col("l_returnflag").as(s"${a}_rf"))
    val manual = l1
      .join(other("l2"), col("l2_ok") === col("l_orderkey") &&
        col("l2_sk") =!= col("l_suppkey"), "left_semi")
      .join(other("l3"), col("l3_ok") === col("l_orderkey") &&
        col("l3_sk") =!= col("l_suppkey") && col("l3_rf") === "R",
        "left_anti")
      .join(sup, col("s_suppkey") === col("l_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(10)
    assert(sortedRows(RelQueries.q21Waiting(spark, dir)) ==
           sortedRows(manual))
  }

  test("q22: IN → semi join, NOT IN → null-aware anti join") {
    val df = RelQueries.q22InSubquery(spark, dir)
    val plan = optimized(df)
    assert(!plan.contains("in-subquery") && !plan.contains("list-subquery"),
      s"IN subquery survived optimization:\n$plan")
    assert(plan.contains("LeftSemi"), s"no semi join for IN:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti join for NOT IN:\n$plan")
    // the UNCORRELATED scalar stays a one-row subquery stage — that IS
    // the right plan (computed once, fed in as a literal)
    assert(plan.contains("scalar-subquery"),
      s"uncorrelated scalar should remain a subquery stage:\n$plan")
  }

  test("q19: disjunction approximations push to BOTH scans") {
    val df = RelQueries.q19Disjunctive(spark, dir)
    df.count()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString.split('/').last
          .stripSuffix(".parquet") -> f.dataFilters.mkString(";")
    }.toMap
    // each side's derivable disjunction must reach its own scan — the
    // rewrite that keeps this from degenerating into join-then-filter
    assert(scans.getOrElse("lineitem", "").contains("l_quantity"),
      s"lineitem scan lost the quantity disjunction: $scans")
    assert(scans.getOrElse("part", "").contains("p_brand"),
      s"part scan lost the brand disjunction: $scans")
  }

  test("q2: correlated min over a 4-way join decorrelates to an " +
       "aggregate join") {
    val df = RelQueries.q2MinCostSupplier(spark, dir)
    val plan = optimized(df)
    assert(!plan.contains("scalar-subquery"),
      s"correlated scalar min survived optimization:\n$plan")
    assert(plan.contains("Join"), s"no join in decorrelated plan:\n$plan")
  }

  test("q2: SQL form matches the hand-decorrelated DataFrame form") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
    val nat = spark.read.parquet(s"$dir/nation.parquet")
    val reg = spark.read.parquet(s"$dir/region.parquet")
      .filter(col("r_name") === "EUROPE")
    def euOffers() = li
      .join(sup.select(col("s_suppkey"), col("s_name"), col("s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
    val minEu = euOffers()
      .groupBy(col("l_partkey").as("mp"))
      .agg(min("l_extendedprice").as("minp"))
    val manual = euOffers()
      .join(part.filter(col("p_size") === 15),
            col("p_partkey") === col("l_partkey"))
      .join(minEu, col("mp") === col("p_partkey"))
      .filter(col("l_extendedprice") === col("minp"))
      .select(col("s_name"), col("n_name"), col("p_partkey"), col("p_brand"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      .distinct()
      .orderBy(col("price_cents").asc, col("p_partkey").asc,
               col("s_name").asc)
      .limit(20)
    assert(sortedRows(RelQueries.q2MinCostSupplier(spark, dir)) ==
           sortedRows(manual))
  }

  test("q20: nested IN plans as semi joins, the inner correlated scalar " +
       "decorrelates") {
    val df = RelQueries.q20DominantShare(spark, dir)
    val plan = optimized(df)
    assert(!plan.contains("scalar-subquery") && !plan.contains("in-subquery"),
      s"subquery expression survived optimization:\n$plan")
    assert(plan.contains("LeftSemi"), s"no semi join for IN:\n$plan")
  }

  test("q20: SQL form matches the hand-decorrelated DataFrame form") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
    val totals = li.groupBy(col("l_partkey").as("tp"))
      .agg(sum("l_quantity").as("tq"))
    val dominant = li
      .join(part.filter(col("p_size") <= 10).select("p_partkey"),
            col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("l_quantity").as("q"))
      .join(totals, col("tp") === col("l_partkey"))
      .filter(col("q") > lit(0.125) * col("tq"))
      .select("l_suppkey").distinct()
    val manual = sup
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"),
        round(col("s_acctbal") * 100).cast("long").as("acctbal_cents"))
      .orderBy("s_name")
    assert(sortedRows(RelQueries.q20DominantShare(spark, dir)) ==
           sortedRows(manual))
  }

  test("q22: SQL form matches the hand-decorrelated DataFrame form") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    // the uncorrelated scalar, as a broadcast one-row cross join (the
    // DataFrame spelling of "compute once, feed as a literal")
    val cap = orders.agg((lit(0.5) * max("o_totalprice")).as("cap"))
    val manual = orders
      .join(li.filter(col("l_quantity") >= 45).select("l_orderkey"),
            col("o_orderkey") === col("l_orderkey"), "left_semi")
      .join(cust.filter(col("c_acctbal") < 0).select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left_anti")
      .crossJoin(broadcast(cap))
      .filter(col("o_totalprice") < col("cap"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(sortedRows(RelQueries.q22InSubquery(spark, dir)) ==
           sortedRows(manual))
  }

  test("j22: null-safe equality plans as a HASH join, never nested-loop") {
    val df = RelQueries.j22NullsafeJoin(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin"),
      s"null-safe join did not hash:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"null-safe join fell back to nested-loop:\n$plan")
  }

  test("j19: correlated LATERAL LIMIT decorrelates to a ranked join") {
    val df = RelQueries.j19LateralTopK(spark, dir)
    val plan = optimized(df)
    // no lateral/subquery artifact survives optimization — the
    // per-nation LIMIT 2 became a window-ranked join
    assert(!plan.contains("LateralJoin") && !plan.contains("lateral-subquery"),
      s"lateral join survived optimization:\n$plan")
    assert(plan.contains("Join"), s"no join in decorrelated plan:\n$plan")
    assert(plan.contains("Window") || plan.contains("row_number"),
      s"no ranked-window rewrite of the correlated LIMIT:\n$plan")
  }

  test("j19: SQL form matches the window DataFrame form") {
    import org.apache.spark.sql.expressions.Window
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
    val w = Window.partitionBy("s_nationkey")
      .orderBy(col("acctbal_cents").desc, col("s_name"))
    val manual = supp
      .select(col("s_nationkey"), col("s_name"),
        round(col("s_acctbal") * 100).cast("long").as("acctbal_cents"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .select("n_name", "s_name", "acctbal_cents")
    assert(sortedRows(RelQueries.j19LateralTopK(spark, dir)) ==
           sortedRows(manual))
  }

  test("q23: accumulated-row recursion ceiling is enforced at the boundary") {
    // A 2-chain: doc i derives from i-1 — n docs yield exactly
    // n*(n+1)/2 - ... rows; simpler: each doc's full ancestor chain.
    // With n docs in a single chain and no depth guard, the closure
    // accumulates n + (n-1) + ... = n(n+1)/2 anchor+recursive rows.
    // Pin a tiny row limit and place the corpus just under / just over.
    def closure(n: Int, rowLimit: Int): Long = {
      spark.conf.set("spark.sql.cteRecursionRowLimit", rowLimit)
      try {
        spark.range(n.toLong).createOrReplaceTempView("chain_docs")
        spark.sql("""
          WITH RECURSIVE anc AS (
            SELECT id AS doc_id, id - 1 AS anc_id FROM chain_docs WHERE id > 0
            UNION ALL
            SELECT a.doc_id, a.anc_id - 1 FROM anc a WHERE a.anc_id > 0)
          SELECT * FROM anc""").count()
      } finally spark.conf.unset("spark.sql.cteRecursionRowLimit")
    }
    // n=10 single chain: rows = 9+8+...+1 = 45 total accumulated.
    // Spark raises RECURSION_ROW_LIMIT_EXCEEDED the moment the limit is
    // REACHED with the loop still live, so the limit must sit strictly
    // above the accumulated count: 46 passes, 45 fails.
    assert(closure(10, 46) == 45L)
    val e = intercept[org.apache.spark.SparkException] { closure(10, 45) }
    assert(e.getMessage.contains("RECURSION_ROW_LIMIT_EXCEEDED"),
      s"expected a recursion-limit error, got: ${e.getMessage}")
  }

  test("q23: query function pins both recursion ceilings explicitly") {
    // a hostile ambient session value must not leak into the gate query
    spark.conf.set("spark.sql.cteRecursionRowLimit", 10)
    try {
      val n = RelQueries.q23AncestorChains(spark, dir).count()
      assert(n > 10L, s"q23 produced only $n rows")
      // the pin is scoped to the query: the caller's value is back
      assert(spark.conf.get("spark.sql.cteRecursionRowLimit") == "10")
    } finally spark.conf.unset("spark.sql.cteRecursionRowLimit")
  }

  test("q23: both recursion confs read the same before and after the query") {
    val keys = Seq("spark.sql.cteRecursionLevelLimit",
      "spark.sql.cteRecursionRowLimit")
    def confs = keys.map(spark.conf.getOption)
    val before = confs
    RelQueries.q23AncestorChains(spark, dir).count()
    assert(confs == before)
    spark.conf.set(keys(0), 50)
    spark.conf.set(keys(1), 2000000)
    try {
      RelQueries.q23AncestorChains(spark, dir).count()
      assert(confs == Seq(Some("50"), Some("2000000")))
    } finally keys.foreach(spark.conf.unset)
  }
}
