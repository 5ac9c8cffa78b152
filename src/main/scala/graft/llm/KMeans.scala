package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Lloyd (k-means) iteration — the codebook trainer behind
  * the IVF index ([[Similarity.ivfTopK]]): real IVF deployments train
  * their coarse quantizer with exactly this loop over a corpus sample.
  *
  * Everything is fixed-point: embeddings quantize to integer grid units
  * (`round(x · 2²⁰)` — the float-scaled-by-power-of-two product is exact
  * in double, and both engines round ties away from zero), so distances
  * and centroid sums are EXACT integer arithmetic — order-independent
  * under Spark's unordered partial aggregation and bit-identical to any
  * other engine. No floating-point summation anywhere in the plan.
  *
  * Scale posture: seeds are a K-row DataFrame broadcast against the
  * corpus (never collected to the driver); assignment is a map-side
  * argmin (window over the K candidate rows per vector — K is a
  * constant, so the per-vector state is bounded); the centroid update is
  * one hash aggregation on (cid, pos) — |corpus|·dim rows shuffle-
  * compressed by map-side partial sums to K·dim output rows. The
  * declared queries chain a fixed number of iterations in one plan
  * ([[lloydTwice]], [[codebook2]]), so no round loop runs.
  */
object KMeans {

  /** 2²⁰ — fixed-point grid. Embedding components are O(1), so quantized
    * values are ~2²⁰ and a 64-dim squared distance is ≤ ~2⁵² — exact in
    * Long with headroom. */
  val Scale = 1048576L

  /** Integer-grid view of an embedding column. */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact squared-L2 between two quantized (long-array) columns — the
    * fused native [[graft.functions.SqDistL2]] kernel: one codegen'd
    * pass, no intermediate array (the [[Similarity.cosine]] pattern).
    * Exactly equal to [[sqDistDeclarative]] (integer arithmetic —
    * equivalence property-tested in LlmSpec). */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDistL2(a, b)

  /** The declarative reference formulation of [[sqDist]]: zip_with for
    * differences, aggregate (sequential fold) for the sum. Interpreted
    * per element — the fused kernel is the hot-path form. No query runs
    * it: it is the reference LlmSpec checks [[sqDist]] against. */
  private[graft] def sqDistDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** One Lloyd iteration: assign every corpus vector to its nearest of
    * the K seed centroids (ties to the lowest cid), then emit the new
    * centroid accumulators per (cid, dimension): member count `n` and
    * exact component sum `sum_q` (the new centroid is sum_q/n/Scale —
    * left unreduced so the result stays integer-exact at the gate).
    *
    * `corpus` must carry (vec_id: long, qv: array<long>); `seeds`
    * (cid: long, cv: array<long>). */
  def lloydOnce(corpus: DataFrame, seeds: DataFrame): DataFrame = {
    // argmin as a min_by AGGREGATE, not a window: partial aggregation
    // combines map-side, so one row per vector shuffles instead of all
    // K candidate rows sorting through a window exchange. Ties to the
    // lowest cid via the (dist, cid) ordering struct — identical to the
    // row_number formulation and to the oracle's ORDER BY dist, cid.
    // The min_by VALUE is the bare cid — carrying the vector through
    // the argmin duplicates the array k× through the candidate stream
    // (28 GB at the 30× scale point, measured; the n-row join back to
    // the corpus below moves ~n·dim bytes once instead).
    val assigned = corpus
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cid"),
              sqDist(col("qv"), col("cv")).as("dist"))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))
    assigned.join(corpus, "vec_id")
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos0", "q")))
      .groupBy(col("cid"), (col("pos0") + 1).cast("int").as("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
  }

  /** Deterministic, SQL-expressible seeding: the K LOWEST vec_ids — an
    * orderBy/limit, not `vec_id < k`, so sparse or non-zero-based id
    * spaces still yield exactly K centroids (on dense 0-based ids the
    * two are identical, which keeps the d12 oracles unchanged). */
  def seedLowestK(q: DataFrame, k: Int): DataFrame =
    q.orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"))

  /** The declared one-iteration query over the embeddings fixture. */
  def lloydQuery(embeddings: DataFrame, k: Int): DataFrame = {
    val q = embeddings.select(col("vec_id"),
      quantize(col("embedding")).as("qv"))
    lloydOnce(q, seedLowestK(q, k))
  }

  /** Reduce [[lloydOnce]] accumulators to the next codebook (cid, cv):
    * centroid component = sum_q div n, TRUNCATING toward zero on
    * negative sums — the convention Spark's `div` and DuckDB's `//`
    * share (verified: both give -7/2 = -3), so the oracle reproduces the
    * intermediate centroid bit-exactly. (Python's floor `//` differs;
    * don't port this constant-fold there without adjusting.) */
  def reduceToCodebook(acc: DataFrame): DataFrame =
    acc
      .select(col("cid"), col("pos"),
        expr("sum_q div n").as("c"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cid"), transform(col("pc"), _.getField("c")).as("cv"))

  /** Two chained Lloyd iterations as ONE declarative plan — the declared
    * query form proving the ITERATION (assign → reduce → reassign) at
    * the gate, not just a single step: at the fixture's K the second
    * assignment genuinely moves members. */
  def lloydTwice(embeddings: DataFrame, k: Int): DataFrame = {
    // both iterations scan the quantized corpus — cache it rather than
    // re-deriving from parquet per reference. The cached blocks live
    // until the caller's clearCache()/session end — the Verify/Bench
    // harnesses clear after every query; a long-lived session embedding
    // this plan should unpersist once the result is consumed
    val q = byId(embeddings.select(col("vec_id"),
      quantize(col("embedding")).as("qv"))).cache()
    lloydOnce(q, reduceToCodebook(lloydOnce(q, seedLowestK(q, k))))
  }

  /** Codebook after exactly two Lloyd iterations, on the integer grid —
    * `reduceToCodebook ∘ lloydTwice`. Two rounds move real membership at
    * the fixture's K, and the result drops straight into
    * [[Similarity.ivfTopKWith]] as a TRAINED coarse quantizer (divide by
    * [[Scale]] for the double view — exact, power-of-two divisor). */
  def codebook2(embeddings: DataFrame, k: Int): DataFrame =
    reduceToCodebook(lloydTwice(embeddings, k))

  /** Coverage-preserving deterministic seeding: the K lowest by
    * (md5(vec_id), vec_id) — a fixed-key uniform sample of the corpus,
    * computed as a scalable TOP-K (TakeOrdered, never a global
    * row_number sort). [[seedLowestK]]'s id-order seeding concentrates
    * every seed in the id-lowest corner, and on an id-STRUCTURED
    * corpus (time-ordered ingest, sharded copies — the sf3 fixture)
    * two Lloyd iterations cannot spread them: one cell ended up
    * holding 31% of all vectors and the within-cell pair join exploded
    * 17× (measured with the cell-size main `graft.CellDiag`, last
    * present at 78f075c). Hash order is id-layout-independent,
    * so seeds track the data distribution at any scale; DuckDB
    * replays `ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id`
    * bit-identically. */
  def seedHashK(q: DataFrame, k: Int): DataFrame =
    q.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"))

  /** Partition a corpus view BY ID before materializing it for an
    * assignment/training leg. The broadcast-expansion kernels
    * ([[lloydOnce]]'s crossJoin, PQ code assignment's ×codebook join)
    * multiply per-input-byte work by the codebook size, while file-scan
    * partitioning (`maxPartitionBytes`) sizes splits for ~1× work per
    * byte — a corpus that fits one split runs its whole n·k expansion
    * on ONE task. Measured (BenchFew median-of-3, local[16]): at the
    * 30× scale point the assignment legs ran near-single-threaded —
    * d16 71.5 s, d34 88.8 s, d23 78.0 s; with byId 7.2 / 17.3 / 10.5 s
    * (the 10× point improved 10.5→4.2, 41→4.8, 20.8→4.6), and the
    * 10×→30× ratios fell to 1.7× / 3.6× / 2.3× for 3× data — the
    * kernel-linear regime. Hashing on the id restores kernel-proportional
    * parallelism at any corpus size (`spark.sql.shuffle.partitions`
    * picks the count) and pre-aligns the per-vector argmin groupBy
    * — hash(vec_id) satisfies its clustering, so the expansion's
    * reduce needs no further exchange. The shuffle moved is the n-row
    * corpus itself, ≥64× smaller than the expansion it parallelizes.
    *
    * The partition count is EXPLICIT (r13): a bare `repartition(col)`
    * is advisory and AQE byte-coalesces it — the corpus is byte-SMALL
    * precisely because the ×k expansion hasn't happened yet, so AQE
    * folded the sf1 PQ code assignment onto 5 tasks (one 5.4 s job on
    * a 32-core box, measured in plans/r13). Same blind spot and fix as
    * d24_triangles (r12) and verifyExactJaccard's candidate exchange:
    * explicit N at the session's shuffle-partition setting, which is
    * the scale-adaptive knob a cluster deployment already sizes. */
  def byId(df: DataFrame, idCol: String = "vec_id"): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))

  /** [[codebook2]] over an ALREADY-QUANTIZED `(vec_id, qv)` corpus the
    * CALLER has materialized (localCheckpoint/cache) — both iterations
    * re-read it, so an unmaterialized lineage would repeat upstream
    * work. Used when the quantized view already exists for other plan
    * legs (e.g. [[Pq.ivfPqTopK]] shares it with code assignment). */
  def codebook2Q(q: DataFrame, k: Int): DataFrame =
    reduceToCodebook(
      lloydOnce(q, reduceToCodebook(lloydOnce(q, seedHashK(q, k)))))

  // ---- grouped Lloyd: train MANY independent codebooks in ONE plan ----
  // The product-quantization trainer: subspace j's codebook is an
  // independent k-means problem, and m problems run as one distributed
  // plan by carrying the group column through assignment and update —
  // m-way parallel training with zero extra driver rounds, instead of m
  // sequential loops. Input rows are (g, vec_id, qv); seeds (g, cid, cv).

  /** One Lloyd iteration per group: [[lloydOnce]] with the crossJoin
    * replaced by a broadcast equi-join on the group column (a vector
    * only scores its own group's seeds) and every key extended by `g`. */
  def lloydOnceBy(corpus: DataFrame, seeds: DataFrame, g: String): DataFrame = {
    // same min_by-aggregate argmin as [[lloydOnce]] — see the note
    // there, including the slim-value/join-back discipline
    val assigned = corpus
      .join(broadcast(seeds), Seq(g))
      .select(col(g), col("vec_id"), col("cid"),
              sqDist(col("qv"), col("cv")).as("dist"))
      .groupBy(g, "vec_id")
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))
    assigned.join(corpus, Seq(g, "vec_id"))
      .select(col(g), col("cid"), posexplode(col("qv")).as(Seq("pos0", "q")))
      .groupBy(col(g), col("cid"), (col("pos0") + 1).cast("int").as("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
  }

  /** Per-group [[reduceToCodebook]]: accumulators → (g, cid, cv). */
  def reduceToCodebookBy(acc: DataFrame, g: String): DataFrame =
    acc
      .select(col(g), col("cid"), col("pos"), expr("sum_q div n").as("c"))
      .groupBy(g, "cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col(g), col("cid"), transform(col("pc"), _.getField("c")).as("cv"))

  /** Per-group [[seedLowestK]]: the K lowest vec_ids WITHIN each group
    * (a window, not an orderBy/limit, so every group seeds itself). */
  def seedLowestKBy(q: DataFrame, k: Int, g: String): DataFrame =
    q.withColumn("rn",
        row_number().over(Window.partitionBy(g).orderBy(col("vec_id").asc)))
      .filter(col("rn") <= k)
      .select(col(g), col("vec_id").as("cid"), col("qv").as("cv"))

  /** Per-group two-iteration codebook — [[codebook2Q]] for a grouped
    * corpus the caller has materialized. Returns (g, cid, cv). */
  def codebook2By(q: DataFrame, k: Int, g: String): DataFrame =
    reduceToCodebookBy(
      lloydOnceBy(q,
        reduceToCodebookBy(lloydOnceBy(q, seedLowestKBy(q, k, g), g), g), g), g)
}
