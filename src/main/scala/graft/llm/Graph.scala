package graft.llm

import graft.Fixpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the local-clustering primitive a
  * link-graph pipeline runs for spam/link-farm detection (farms are
  * triangle-dense) and community structure, sibling to [[HostRank]]'s
  * centrality.
  *
  * Algorithm (public MapReduce classic — Cohen 2009 "Graph Twiddling in
  * a MapReduce World"; Schank–Wagner node-iterator): orient every
  * undirected edge from its LOWER-degree endpoint to its higher (ties
  * by id), enumerate wedges only at each edge's SOURCE, and close them
  * with one semi-join back against the oriented edge set. Degree
  * orientation is the whole scale story: wedge count drops from
  * Σ deg(v)² (quadratic in the max degree — a celebrity host with 10⁷
  * links would generate 10¹⁴ wedges) to O(|E|^1.5) total, because no
  * vertex fans out wedges beyond its oriented out-degree ≤ √|E|-ish
  * (arboricity-bounded). Every step is a keyed join or aggregate —
  * hash-partitionable, no all-pairs anywhere.
  *
  * The triangle COUNT is orientation-invariant, which the declared
  * query's oracle exploits: it recounts with plain id-ordering — an
  * independent formulation that must land on the same number.
  */
object Graph {

  /** Canonical undirected edge set from a possibly-directed, possibly-
    * duplicated edge list: self-loops dropped, (a,b) stored once with
    * a < b. */
  def undirected(edges: DataFrame, src: Column, dst: Column): DataFrame =
    edges.select(least(src, dst).as("a"), greatest(src, dst).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Count of triangles, nodes, and undirected edges — one row.
    * `edges` is any (src, dst) edge list; normalization is part of the
    * operator. */
  def triangles(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    // every derived set feeds MULTIPLE plan legs (und: degrees, both
    // orientation joins, the closure, the edge count; oriented: both
    // wedge sides) — materialize each once or the whole derivation
    // re-runs per leg (the semDedup/d16 lesson)
    val und = undirected(edges, src, dst).localCheckpoint()
    // degree of every endpoint (a node with no edges has no wedges —
    // absent keys cost nothing)
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // orient low-degree -> high-degree, ties by id: (u, w) means u is
    // the wedge-enumerating endpoint
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .localCheckpoint()
    // wedges at u: every pair of its oriented out-neighbors, canonical
    // (x < y keeps each wedge once); closed when (x,y) or (y,x) is
    // itself an oriented edge — check via the UNDIRECTED canonical form
    val wedges = oriented.as("e1").join(oriented.as("e2"), Seq("u"))
      .filter(col("e1.w") < col("e2.w"))
      .select(col("e1.w").as("x"), col("e2.w").as("y"))
    val closed = wedges.join(und,
      col("x") === col("a") && col("y") === col("b"), "left_semi")
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    // the wedge self-join is the SUPER-LINEAR leg: its input is
    // edge-sized BYTES but its output fans out quadratically in the
    // oriented out-degree, so AQE's byte-based coalescing folds the
    // join's exchanges into ONE partition and serializes the whole
    // enumeration onto one task (measured: a 1.6 s single-task stage
    // holding ~65% of d24 at sf0.1 — ~15M wedges built and probed on
    // one core; the classic small-input/high-compute AQE blind spot).
    // The count materializes here with partition COALESCING scoped off:
    // the join keeps the session's shuffle-partition parallelism (the
    // scale-adaptive setting), the enumeration spreads, and degree
    // orientation bounds any one u's fan-out at ~sqrt|E| so no task is
    // hot. Output is ONE row — safe to materialize at construction.
    // the 1-row result reads none of the derived sets: release them
    try graft.withConfs(edges.sparkSession, Map(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")) {
      closed.agg(count(lit(1)).as("n_triangles"))
        .crossJoin(broadcast(nNodes))
        .crossJoin(broadcast(nEdges))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
        .localCheckpoint()
    } finally Fixpoint.release(und, deg, oriented)
  }

  /** D43: single-source SHORTEST PATHS over a general weighted digraph
    * — bounded Bellman-Ford, the [[graft.ops.WroQueries]] cost-distance
    * relaxation generalized past grid adjacency (arbitrary edge lists:
    * link graphs, derivation DAGs, citation nets). Exact min-cost over
    * all ≤`rounds`-hop paths from `source`; nodes unreachable within
    * the bound stay absent — the bounded-iteration posture every
    * iterative operator here shares (rounds = the declared horizon,
    * not a convergence guess, and the oracle replays exactly the same
    * ≤rounds-hop semantics).
    *
    * Plan: per round, dist ⋈ edges on the source endpoint + one min
    * aggregate — round cost is frontier×degree, rounds are the cap;
    * the rounds run through [[graft.Fixpoint.iterate]].
    * Weights must be ≥0 for min-relaxation semantics (checked against
    * the edge table once, aggregate-cheap). At 100 TB: dist is
    * node-sized state, edges shuffle on src once per round — the same
    * shape Pregel runs, expressed as joins. */
  def sssp(edges: DataFrame, src: Column, dst: Column, w: Column,
           source: Long, rounds: Int = 8): DataFrame = {
    // weights pin to LONG up front: the min-weight guard reads getLong
    // and the relaxation sums must stay integer-exact — an int or
    // double weight column would otherwise ClassCastException the
    // guard (doubles truncate; callers wanting sub-unit costs scale to
    // integer first, the cents policy)
    val e = edges.select(src.cast("long").as("src"),
        dst.cast("long").as("dst"), w.cast("long").as("w"))
      .distinct()
      .localCheckpoint()
    val minW = e.agg(min("w")).head
    require(!minW.isNullAt(0) && minW.getLong(0) >= 0L,
      "sssp: edge weights must be non-negative (empty edge set or " +
      "negative weight found)")
    val spark = e.sparkSession
    // every loop frame is node/edge-graph-sized: loop confs sized from
    // the MEASURED edge count, so each round is one job
    Fixpoint.scoped(spark, e.count()) {
      Fixpoint.iterate("sssp",
          spark.range(1).select(lit(source).as("node"), lit(0L).as("dist")),
          rounds) { dist =>
        val relaxed = dist
          .join(e, dist("node") === e("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dist.unionByName(relaxed)
          .groupBy("node").agg(min("dist").as("dist"))
      }
    }
  }
}
