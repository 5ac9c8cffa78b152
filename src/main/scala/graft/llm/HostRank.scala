package graft.llm

import graft.Fixpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank on the integer grid — the crawl-prioritization
  * centrality a pipeline runs over its host graph (which hosts to fetch
  * first / budget more). Classic power iteration with 0.15 teleport,
  * entirely in fixed-point integer arithmetic (the [[KMeans]] policy):
  * ranks live on the 2^20 grid, every contribution is
  * `(rank · w) div out_weight` and the damped update
  * `teleport + (85 · Σ contrib) div 100` — exact integers, so the
  * result is order-independent under partial aggregation and
  * bit-reproducible by any engine.
  *
  * Scale posture: one keyed join + one keyed aggregate per iteration
  * (contributions flow along edges, hash-partitioned on the node id);
  * the driver loop only carries the node-count-sized rank table between
  * rounds ([[graft.Fixpoint.iterate]]). Iteration count is fixed and
  * small; at a billion hosts the per-round cost is one shuffle of the
  * edge contributions, never all-pairs.
  */
object HostRank {

  val Scale = 1048576L

  /** `iters` weighted power iterations over `edges` (src, dst, w) on
    * the node domain [0, nNodes). Returns (host, rank) on the 2^20
    * grid. DANGLING nodes (no outgoing edges — common in real host
    * graphs) redistribute their rank uniformly each round, the
    * standard PageRank treatment, so Σ rank ≈ Scale holds on ANY
    * graph (truncation leaks a few units per node per round,
    * identically in any engine) instead of silently evaporating 85%
    * of every dangling node's mass per iteration. */
  def ranks(edges: DataFrame, nNodes: Int, iters: Int): DataFrame = {
    require(nNodes >= 1 && iters >= 0, "need nNodes >= 1 and iters >= 0")
    val spark = edges.sparkSession
    val outw = edges.groupBy("src").agg(sum(col("w")).as("outw"))
    val e = edges.join(outw, "src")
      .select(col("src"), col("dst"), col("w"), col("outw"))
      .localCheckpoint()
    val srcs = e.select(col("src")).distinct().localCheckpoint()
    val hosts = spark.range(nNodes).select(col("id").as("host"))
    val tp = Scale * 15L / 100L / nNodes
    Fixpoint.iterate("HostRank",
        hosts.select(col("host"), lit(Scale / nNodes).as("rank")), iters) { r =>
      val contrib = e.join(r, col("src") === col("host"))
        .select(col("dst"), expr("rank * w div outw").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("sc"))
      // dangling mass: total rank of nodes with no out-edges, shared
      // uniformly — a 1-row aggregate broadcast into the update
      val dang = r.join(srcs, col("host") === col("src"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dmass"))
      hosts.join(contrib, col("host") === col("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("host"),
          (lit(tp) +
            expr(s"85 * (coalesce(sc, 0L) + dmass div $nNodes) div 100"))
            .as("rank"))
    }
  }
}
