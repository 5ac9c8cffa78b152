package graft

import org.apache.spark.sql.functions._

/** Closure-family DIFFERENTIAL gate for scale points beyond the DuckDB
  * comparator (SCALE.md evidence): build the d2_dedup_clusters pair
  * set (word-3-gram Jaccard over the chain-planted corpus), collapse
  * it to clusters through BOTH independent formulations —
  * [[graft.llm.Dedup.dedupClusters]] (quotient hooking + double
  * compression, the production path) and
  * [[graft.llm.Dedup.ccByLabelProp]] (id-ordered per-node min-label
  * propagation, the audit path) — and compare the (doc_id →
  * cluster_id) assignments EXACTLY. The two recurrences share no code
  * beyond the edge-list plumbing and reach the fixed point by
  * different round structures (log-n hooking vs diameter-bound
  * propagation), so agreement at sf3 replaces the OOM'd external
  * comparator with an in-Spark second opinion — the round-9 verdict's
  * ask. Prints one JSON line.
  *
  * Usage: runMain graft.CcDiff [sfDir]
  */
object CcDiff {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/target/testdata-sf3")
    val spark = localSession(32)
    import graft.llm.Dedup
    import graft.ops.LlmQueries

    val t0 = System.nanoTime()
    val pairs = Dedup.ngramJaccard(
      LlmQueries.docsWithNearDupChains(spark, sfDir),
      col("doc_id"), col("text")).localCheckpoint()
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t0) / 1e9

    def run(name: String, f: () => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Double) = {
      val s0 = System.nanoTime()
      val out = f().localCheckpoint()
      val secs = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[ccdiff] $name: $secs%.1f s")
      (out, secs)
    }
    val (hooked, tHook) = run("hooking", () =>
      Dedup.dedupClusters(pairs, col("a_id"), col("b_id")))
    val (propd, tProp) = run("labelprop", () =>
      Dedup.ccByLabelProp(pairs, col("a_id"), col("b_id"),
        maxIter = 2000))

    val joined = hooked.withColumnRenamed("cluster_id", "c1")
      .join(propd.withColumnRenamed("cluster_id", "c2"), Seq("doc_id"),
        "full_outer")
    val nodes = joined.count()
    val mismatches = joined
      .filter(!(col("c1") <=> col("c2"))).count()
    val clusters = hooked.select("cluster_id").distinct().count()
    println(s"""{"metric":"cc_diff","sf_dir":"$sfDir",""" +
      s""""pairs":$nPairs,"nodes":$nodes,"clusters":$clusters,""" +
      s""""mismatches":$mismatches,"pairs_sec":$tPairs,""" +
      s""""hooking_sec":$tHook,"labelprop_sec":$tProp}""")
    require(mismatches == 0L,
      s"closure formulations DISAGREE on $mismatches of $nodes nodes")
    spark.stop()
  }
}
