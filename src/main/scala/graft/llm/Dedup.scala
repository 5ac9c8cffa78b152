package graft.llm

import graft.Fixpoint
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora (SURVEY §2.B D1/D2).
  *
  * Scale posture (the 100 TB question): every path here is
  * explode→groupBy→join-on-equality — hash-partitionable, no all-pairs
  * product anywhere. Candidate generation is LSH banding (equi-join on
  * band signature); only the candidate pairs — a vanishingly small set at
  * any corpus size — pay the exact-verification join.
  */
object Dedup {

  /** D1: exact content dedup. Groups by a (xxhash64, md5) content-hash
    * pair (at 100 TB you group by hashes, not the document body, so the
    * shuffle carries ~24 bytes per doc instead of the text; a silent
    * merge of distinct texts now needs a simultaneous collision in two
    * independent hash families); emits one keeper (min id) per group
    * plus the group size and the md5 content fingerprint for audit. */
  def exact(docs: DataFrame, id: Column, content: Column): DataFrame =
    docs
      .groupBy(xxhash64(content).as("h"), md5(content).as("fp"))
      .agg(min(id).as("keep_id"),
           count(lit(1)).as("n_copies"))
      .select(col("fp"), col("keep_id"), col("n_copies"))

  /** Distinct word `n`-gram shingles of a text column, as one array per
    * row — a pure expression, so per-doc reductions over shingles
    * (minhash, fingerprint) can stay inside codegen with NO explode and
    * NO shuffle. Documents shorter than `n` words yield an empty array
    * (guarded — sequence(1, 0) would count DOWN, not produce empty). */
  def shingleArray(text: Column, n: Int = 3): Column =
    // let-binding via a single-element transform: the lambda variable `w`
    // materializes split() ONCE per row. Referencing a named `val words`
    // instead would inline the split expression tree into every
    // element_at/size call (3n+ evaluations per row — measured 2x the
    // whole pipeline's cost)
    flatten(transform(array(split(text, " ")), w =>
      when(size(w) >= n,
        array_distinct(transform(
          sequence(lit(1), size(w) - (n - 1)), i =>
            concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*))))
      .otherwise(lit(Array.empty[String]))))

  /** Exploded form: (doc_id, sh) — for set operations across documents
    * (exact-Jaccard intersection joins). */
  def shingles(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    docs.select(id.as("doc_id"), explode(shingleArray(text, n)).as("sh"))

  /** D2: MinHash + LSH near-duplicate pairs.
    *
    * shingle → k minhashes (one groupBy pass, k aggregate mins) →
    * b bands of r rows → equi-self-join on (band, signature) for
    * candidates → exact-Jaccard verification of candidates only.
    * With (k=32, b=16, r=2) a pair at Jaccard 0.8 is missed with
    * probability (1-0.8²)^16 ≈ 8·10⁻⁸ — the declared-query oracle can
    * therefore be the exact all-pairs answer.
    *
    * NEVER an all-pairs join: candidates come from hash-bucket equality,
    * so cost scales with Σ_bucket |bucket|², which stays tiny because a
    * bucket collision IS a near-duplicate signal. */
  /** The per-document LSH band-signature table — the PERSISTABLE index
    * schema (doc_id, n_sh, band, bsig): one row per (doc, band). This
    * is what an incremental pipeline stores; [[minhashLsh]] derives it
    * in-plan and [[incrementalLsh]] probes a stored copy.
    *
    * One groupBy pass computes the shingle count AND all k minhashes.
    * (A per-row array-reduction formulation is a trap here:
    * CollapseProject inlines the shingle-array alias into every
    * consuming expression, so the array gets recomputed k+1 times per
    * row — the Aggregate is the reliable materialization barrier.) The
    * k hash families come from two real hashes via h_i = h1 + i*h2
    * (Kirsch-Mitzenmacher), so codegen subexpression elimination leaves
    * 2 hashes + k fused mult-adds per shingle instead of k independent
    * hashes. Mixing is XOR + bit-rotate (never add/multiply: ANSI mode
    * makes long overflow an ERROR). */
  def bandSignatures(docs: DataFrame, id: Column, text: Column, n: Int = 3,
                     k: Int = 32, bands: Int = 16): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"bands ($bands) must be >= 1 and divide k ($k) — r = k/bands rows " +
      "per band; r = 0 would put the whole corpus in one bucket (all-pairs)")
    val r = k / bands
    // spread the CPU-heavy shingle+k-minhash derivation off the scan's
    // split count (r13, guide §2.5 unsplittable-input repartition —
    // structural no-op at scale, see [[graft.spreadScan]]); the k=32
    // hash computations per shingle otherwise run on the fixture's 2-6
    // single-row-group splits regardless of cores
    val sh = shingles(graft.spreadScan(docs, id), id, text, n)
    val h1 = xxhash64(col("sh"))
    val h2 = xxhash64(lit(7), col("sh"))
    def rot(c: Column, i: Int): Column =
      if (i == 0) c else shiftleft(c, i).bitwiseOR(shiftrightunsigned(c, 64 - i))
    val aggs = count(lit(1)).as("n_sh") +:
      (0 until k).map(i => min(h1.bitwiseXOR(rot(h2, i))).as(s"mh$i"))
    val sig = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b) +: (0 until r).map(j => col(s"mh${b * r + j}")): _*)
          .as("bsig"))
    }
    sig.select(col("doc_id"), col("n_sh"),
        explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("n_sh"),
              col("bs.band").as("band"), col("bs.bsig").as("bsig"))
  }

  def minhashLsh(docs: DataFrame, id: Column, text: Column, n: Int = 3,
                 k: Int = 32, bands: Int = 16,
                 threshold: Double = 0.8): DataFrame = {
    // candidate generation is ONE shuffle: group by band signature and
    // emit in-bucket pairs (no self-join — a self-join would compute the
    // whole minhash subtree twice). n_sh rides along in the bucket so no
    // size join is needed later. Bucket pair-count is quadratic in bucket
    // size, which stays tiny when exact dedup (D1) runs first — identical
    // docs are the only mass-collision source.
    val banded = bandSignatures(docs, id, text, n, k, bands).select(
      struct(col("doc_id"), col("n_sh")).as("d"),
      col("band"), col("bsig"))
    val buckets = banded.groupBy(col("band"), col("bsig"))
      .agg(sort_array(collect_set(col("d"))).as("ds"))
      .filter(size(col("ds")) > 1)
    // cached: the pair list is consumed three times (output join + the
    // two candidate-id semi-joins) and is small by construction — a
    // bucket collision IS a near-dup signal, so |cand| << |corpus|.
    // Without this the whole shingle->minhash->bucket pipeline would
    // run once per consumer.
    val cand = bucketPairs(buckets).cache()

    verifyExactJaccard(cand, docs, id, text, n, threshold)
  }

  /** D2f: INCREMENTAL near-dup detection — probe a NEW batch against a
    * persisted band-signature index ([[bandSignatures]]' schema) without
    * recomputing anything for the already-indexed corpus: only the
    * batch pays shingling/minhash, candidates come from a plain
    * equi-join on (band, bsig) — the stored index is just another
    * keyed table, so at 100 TB this is the per-ingest cost of a
    * continuously-maintained dedup index (batch-internal pairs are out
    * of contract: the batch gets indexed right after, catching them on
    * the next ingest). `allDocs` supplies text for the exact
    * verification of candidates (old + new). */
  def incrementalLsh(index: DataFrame, batch: DataFrame,
                     id: Column, text: Column,
                     allDocs: DataFrame, allId: Column, allText: Column,
                     n: Int = 3, k: Int = 32, bands: Int = 16,
                     threshold: Double = 0.8): DataFrame =
    probeLshTracked(index, bandSignatures(batch, id, text, n, k, bands),
      allDocs, allId, allText, n, threshold)._1

  /** The probe core of [[incrementalLsh]], taking ALREADY-COMPUTED batch
    * band signatures — so [[ingestLsh]] can compute them once and use
    * them for both the probe and the index append. Also returns the
    * intermediate CACHED frames: one-shot callers leave them for the
    * harness clearCache (the lloydTwice convention), but an ingest
    * called once per batch must unpersist them per call or executor
    * storage grows without bound. */
  private def probeLshTracked(index: DataFrame, probeSigs: DataFrame,
                              allDocs: DataFrame, allId: Column,
                              allText: Column, n: Int, threshold: Double)
      : (DataFrame, Seq[DataFrame]) = {
    val cand = index
      .select(col("doc_id").as("a_id"), col("n_sh").as("na"),
              col("band"), col("bsig"))
      .join(probeSigs.select(col("doc_id").as("b_id"), col("n_sh").as("nb"),
              col("band"), col("bsig")), Seq("band", "bsig"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "na", "b_id", "nb").distinct()
      .cache()
    val (out, caches) =
      verifyExactJaccardTracked(cand, allDocs, allId, allText, n, threshold)
    (out, cand +: caches)
  }

  /** D2g: the MAINTENANCE half of the incremental loop — probe AND
    * index-append in one operation, closing [[incrementalLsh]]'s
    * "the batch gets indexed right after" contract: the batch's band
    * signatures are computed ONCE (materialized), probed against the
    * stored index, and then APPENDED to it, so the NEXT ingest's probe
    * sees this batch and batch(i)↔batch(i+1) pairs are caught one
    * ingest later — the steady state of a continuously-maintained
    * dedup index. Evaluation order is pinned by materialization: the
    * probe result is localCheckpointed BEFORE the append runs, so the
    * lazily-read index snapshot can never include the batch itself
    * (a batch never probes its own signatures). At 100 TB the append
    * is the only index write and is batch-sized; with the index
    * partitioned on `band` it lands as per-partition appends. */
  def ingestLsh(indexPath: String, batch: DataFrame,
                id: Column, text: Column,
                allDocs: DataFrame, allId: Column, allText: Column,
                n: Int = 3, k: Int = 32, bands: Int = 16,
                threshold: Double = 0.8): DataFrame = {
    val sigs = bandSignatures(batch, id, text, n, k, bands).localCheckpoint()
    val index = batch.sparkSession.read.parquet(indexPath)
    val (probed, caches) =
      probeLshTracked(index, sigs, allDocs, allId, allText, n, threshold)
    val pairs = probed.localCheckpoint()
    // the checkpoint materialized everything — release the probe's
    // cached intermediates NOW, so repeated ingests hold no per-batch
    // cache entries (a query scope releases checkpoints, not caches)
    caches.foreach(_.unpersist(false))
    // `sigs` is a checkpoint `pairs` does not read: the caller's query
    // scope releases it
    sigs.write.mode("append").parquet(indexPath)
    pairs
  }

  /** Raw (a_id, na, b_id, nb) candidate pairs from a bucket table's
    * sorted (doc_id, n_sh)-struct list column `ds`, WITH cross-bucket
    * repeats: in-bucket pair explosion — element i pairs with every
    * LATER element (1-based slice from i+2), so each unordered pair
    * appears once per bucket with a_id < b_id. Callers with a
    * per-pair pruning predicate apply it HERE, before the dedup
    * exchange (the ngramJaccard size filter — guide-§2.3 shuffle
    * fewer bytes: repeats multiply the distinct's input by the shared
    * prefix count, so pre-filtering cuts the exchange, never the
    * result). */
  private def bucketPairsRaw(buckets: DataFrame): DataFrame =
    buckets.select(
        explode(flatten(transform(col("ds"), (a, i) =>
          transform(slice(col("ds"), i + lit(2), size(col("ds"))), b =>
            struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("p.a.doc_id").as("a_id"), col("p.a.n_sh").as("na"),
              col("p.b.doc_id").as("b_id"), col("p.b.n_sh").as("nb"))

  /** [[bucketPairsRaw]] deduplicated — each unordered pair once. */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    bucketPairsRaw(buckets).distinct()

  /** Exact-Jaccard verification of a candidate-pair table
    * (a_id, na, b_id, nb). Shingles ONLY the candidate docs — a
    * broadcast semi-join on the candidate-id list — and keeps each doc's
    * shingles as ONE array row: the pair's intersection is a per-row
    * `array_intersect` (hash-set semantics, distinct by construction)
    * after two narrow id joins, instead of exploding candidate shingles
    * into ~|shingles| rows and paying a two-key join plus a groupBy.
    * One row per candidate doc joins twice; no re-aggregation. */
  private def verifyExactJaccard(cand: DataFrame, docs: DataFrame,
                                 id: Column, text: Column, n: Int,
                                 threshold: Double): DataFrame =
    verifyExactJaccardTracked(cand, docs, id, text, n, threshold)._1

  /** The candidate docs' shingle arrays (did, shs), one row per doc
    * named on either side of `cand` (a_id, b_id), cached: the table
    * feeds BOTH sides of the caller's pair join (different join keys ->
    * different exchanges, so ReuseExchange cannot dedupe the subtree).
    * Candidates are few by construction, so materializing their arrays
    * is tiny — unlike the full corpus's shingles, which stay
    * recompute-only. Repartitioned BEFORE the shingling projection
    * (r12): the semi-join inherits the corpus scan's file-split
    * partitioning, so the CPU-heavy shingleArray of the surviving
    * candidates ran at input-split parallelism (measured: a ~2 s 3-task
    * stage at sf0.1). The exchange moves only the CANDIDATE docs' text
    * — candidate-bounded at any scale — and the explicit partition
    * count (the session's scale-adaptive setting) keeps AQE from
    * re-coalescing the tiny-bytes/heavy-compute exchange to one task
    * (the d24 lesson). */
  private def candidateShingles(cand: DataFrame, docs: DataFrame,
                                id: Column, text: Column, n: Int)
      : DataFrame = {
    val candIds = cand
      .select(explode(array(col("a_id"), col("b_id"))).as("cid"))
      .distinct()
    docs
      .join(broadcast(candIds), id === col("cid"), "left_semi")
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        id)
      .select(id.as("did"), shingleArray(text, n).as("shs"))
      .cache()
  }

  /** [[verifyExactJaccard]] also handing back its cached intermediate,
    * for callers that must unpersist per batch (see probeLshTracked). */
  private def verifyExactJaccardTracked(cand: DataFrame, docs: DataFrame,
                                        id: Column, text: Column, n: Int,
                                        threshold: Double)
      : (DataFrame, Seq[DataFrame]) = {
    val candArr = candidateShingles(cand, docs, id, text, n)
    val out = cand
      .join(candArr.select(col("did").as("a_id"), col("shs").as("sa")), "a_id")
      .join(candArr.select(col("did").as("b_id"), col("shs").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        col("na"), col("nb"))
      .select(col("a_id"), col("b_id"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (out, Seq(candArr))
  }

  /** D2d: EXACT n-gram Jaccard pairs via a PREFIX-FILTERED inverted
    * index (Bayardo et al. "Scaling Up All Pairs Similarity Search";
    * Xiao et al. PPJoin) — the posting-list formulation, never an
    * all-pairs join, and never full posting lists either:
    *
    * 1. order shingles globally by (document frequency asc, shingle) —
    *    rarest first; any fixed total order preserves correctness, the
    *    rare-first order minimizes posting-list mass;
    * 2. index only each doc's PREFIX — its first
    *    `|d| - ceil(t*|d|) + 1` shingles in that order. Pigeonhole: a
    *    pair with J >= t shares >= t*|A| shingles, and a doc's
    *    non-prefix suffix holds only `ceil(t*|A|) - 1 < t*|A|` of them,
    *    so every qualifying pair collides on some prefix shingle —
    *    candidate generation is EXACT-complete, not probabilistic;
    * 3. in-posting pair explosion + the size filter (J >= t forces
    *    min(|A|,|B|) >= t*max(|A|,|B|)) yields candidates;
    * 4. exact-Jaccard verification of candidates only (shared with
    *    [[minhashLsh]]).
    *
    * Candidate cost drops from Σ_shingle |postings|² over ALL shingles
    * (quadratic in how many docs share a COMMON shingle — the
    * stop-shingle trap) to Σ over rare prefix shingles only. At 100 TB
    * the document-frequency table is the only extra global state, one
    * groupBy. Complements [[minhashLsh]]: same answer on the same
    * corpus, exact-complete candidates vs probabilistic banding. */
  def ngramJaccard(docs: DataFrame, id: Column, text: Column, n: Int = 3,
                   threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold ($threshold) must be in (0, 1] — the prefix length " +
      "|d| - ceil(t*|d|) + 1 goes negative past 1, and 0 would demand " +
      "indexing every shingle (the all-postings explosion)")
    // shingles travel the index as 8-byte xxhash64 KEYS, not n-word
    // strings (r13, guide §2.3 "shuffle keys and metadata instead of
    // payloads"): every exchange downstream of the derivation — the
    // df aggregate, the per-doc rare-first collect, the posting build —
    // carries (df, h) instead of (df, "w1 w2 w3"), and the per-doc
    // sort_array compares longs instead of strings. Correctness: the
    // prefix-filter completeness proof holds for ANY global total order
    // on shingle space, including the (df(h), h) quotient order — take
    // the MINIMUM shared key k₁; if no k₁-keyed entry were in A's
    // prefix, upward-closure would force every shared entry into A's
    // ceil(t·|A|)−1 suffix, contradicting shared ≥ t·|A| — and a hash
    // collision only MERGES postings (extra candidates, verified away
    // exactly), never drops one. n_sh stays the EXACT per-doc distinct
    // shingle count (one sh row per distinct shingle; hashing is a
    // projection, not a dedup), and the output jaccard is computed in
    // verifyExactJaccard from the true shingle ARRAYS — so the declared
    // result is bit-identical. The derivation itself is spread off the
    // scan's split count before the explode (spreadScan — the fixture's
    // single-row-group files otherwise serialize the CPU-heavy
    // shingling onto 2-6 tasks; structural no-op at scale).
    val src = graft.spreadScan(docs, id)
    val sh = shingles(src, id, text, n)
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    // document frequency via groupBy + join back, NOT a count-over-window
    // on the shingle partition: the window form buffers every row of a
    // hot shingle in one task (ExternalAppendOnlyUnsafeRowArray, spilling
    // past 4096 rows) — exactly the stop-shingle skew this operator
    // exists to sidestep. The groupBy gets map-side partial aggregation
    // (its shuffle carries ~distinct shingles, not all rows) and the join
    // streams hot keys without group buffering.
    // (r12 audit: a shared repartition(sh) feeding both the df aggregate
    // and the join — one shingle derivation instead of two — was tried
    // and REVERTED: the planner broadcasts the df side, so the branches
    // never canonicalize equal, ReuseExchange cannot fire, and the
    // explicit repartition only ADDED a full-shingle exchange. The
    // double derivation is the optimizer's cost-based outcome and the
    // right trade at both bench and 100 TB scale.)
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    // per-doc shingle list sorted rare-first, cut to the prefix. The
    // (df, h) struct sorts lexicographically — exactly the global order.
    val prefixLen = (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .cast("int")
    val prefixes = sh.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           sort_array(collect_list(struct(col("df"), col("h")))).as("ordered"))
      .select(struct(col("doc_id"), col("n_sh")).as("d"),
              explode(slice(col("ordered"), lit(1), prefixLen)).as("o"))
      .select(col("d"), col("o.h").as("h"))
    val posting = prefixes.groupBy("h")
      .agg(sort_array(collect_set(col("d"))).as("ds"))
      .filter(size(col("ds")) > 1)
    // size filter BEFORE the pair dedup (r12): a qualifying pair
    // re-emerges once per shared prefix shingle, so the raw pair
    // stream is a multiple of the distinct set — filtering first cuts
    // the dedup exchange's input without touching the result (the
    // predicate reads only columns that ride each raw pair)
    val cand = bucketPairsRaw(posting)
      .filter(col("na") >= lit(threshold) * col("nb") &&
              col("nb") >= lit(threshold) * col("na"))
      .distinct()
      .cache()
    verifyExactJaccard(cand, docs, id, text, n, threshold)
  }

  /** D9: test-set decontamination — remove every document that shares
    * ANY word n-gram with a benchmark corpus (the n-gram-overlap rule
    * used to scrub evaluation data out of pretraining sets; n is the
    * 13-gram-style knob). The benchmark is benchmark-sized — KBs to MBs
    * against a 100 TB corpus — so its distinct shingle set BROADCASTS:
    * the corpus pays one shingle derivation and a broadcast semi-join to
    * flag contaminated ids, then one anti-join on the id; corpus text
    * never shuffles. The contaminated-id set is aggregate-sized, so AQE
    * turns the anti-join's build side into a broadcast when small. */
  def decontaminate(docs: DataFrame, id: Column, text: Column,
                    benchmark: DataFrame, benchText: Column,
                    n: Int = 3): DataFrame = {
    val bsh = benchmark
      .select(explode(shingleArray(benchText, n)).as("sh")).distinct()
    // corpus shingle derivation spread off the scan splits (r13, §2.5);
    // the anti-join below still reads the original docs frame
    val contaminated = shingles(graft.spreadScan(docs, id), id, text, n)
      .join(broadcast(bsh), "sh")
      .select(col("doc_id").as("contaminated_id")).distinct()
    docs.join(contaminated, id === col("contaminated_id"), "left_anti")
  }

  /** D2b: 16-bit SimHash per document over the token multiset. Each md5
    * hex digit position contributes one vote bit (digit ≥ '8' = high bit
    * set); the signature bit is the sign of the summed votes. Engine-
    * portable by construction: md5 and byte-wise string comparison are
    * identical everywhere, so the oracle can recompute it exactly. */
  def simhash16(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      explode(split(text, " ")).as("tok"))
    val voteCols = (1 to 16).map(j =>
      sum(when(substring(md5(col("tok")), j, 1) >= "8", 1).otherwise(-1))
        .as(s"v$j"))
    val votes = toks.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    val shBits = (1 to 16).map(j =>
      when(col(s"v$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L)))
    votes.select(col("doc_id"), shBits.reduce(_ + _).as("sh16"))
  }

  /** D2 closure: collapse pairwise near-dup edges into dedup clusters —
    * each document mapped to the minimum id of its connected component
    * (the canonical keeper). Near-dup similarity is not transitive, so a
    * pipeline that drops `b` for every (a,b) pair over-deletes chains;
    * the component view keeps exactly one doc per cluster.
    *
    * Algorithm: QUOTIENT-GRAPH HOOKING with path compression (the
    * alternating-star family — Kiveris et al., "Connected Components in
    * MapReduce and Beyond"). Per round: (1) lift the edge set to label
    * space ((lbl(u), lbl(v)) for each edge, self-edges dropped) and let
    * every SUPERNODE adopt its minimum neighboring supernode — hooking
    * merges whole current components per round, where per-NODE min-label
    * propagation advances one grid step; (2) compress twice
    * (lbl ← lbl(lbl)). Labels only decrease, so no cycles form and the
    * fixpoint is the per-component minimum. Empirically a 7k-node grid
    * component of diameter ~150 converges in 5 rounds where plain
    * per-node propagation + one jump was still moving at round 25 (the
    * sf0.1 region-group grid, which ran on this closure before it
    * became a whole-raster tile kernel, motivated this form).
    *
    * The rounds run through [[graft.Fixpoint.iterate]] inside
    * [[graft.Fixpoint.scoped]] at a partition count sized from the
    * measured edge count: the pair graph is orders of magnitude smaller
    * than the corpus (pairs ARE the near-dups). Each round's checkpoints
    * drop the round plan's size estimates (a loop whose round joins its
    * own state k times otherwise grows the estimate as size^(k^round),
    * minutes per round in driver BigInteger math by round ~20). If a
    * pathological input still fails to converge in maxIter rounds the
    * call FAILS LOUDLY rather than returning intermediate labels. */
  def dedupClusters(pairs: DataFrame, aId: Column, bId: Column,
                    maxIter: Int = 25): DataFrame =
    closure("dedupClusters", pairs, aId, bId, maxIter) { (sym, labels, p) =>
      // (1) hook: edges in label space; every supernode adopts its
      // minimum neighboring supernode — one keyed aggregate over the
      // lifted edges, merging whole components per round
      val le = sym
        .join(labels.select(col("id").as("src"), col("lbl").as("ls")), "src")
        .join(labels.select(col("id").as("dst"), col("lbl").as("ld")), "dst")
        .filter(col("ls") =!= col("ld"))
      val upd = le.groupBy(col("ls")).agg(min(col("ld")).as("cand"))
      // checkpointed so the compressions' self-joins re-read rows, not
      // the hook plan
      val hooked = GraftBridge.freshCheckpoint(labels
        .join(upd, col("lbl") === col("ls"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("cand"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
        .repartition(p, col("id")))
      // (2) compress twice: lbl <- lbl(lbl)
      def jump(df: DataFrame): DataFrame = df
        .join(df.select(col("id").as("jid"), col("lbl").as("jl")),
          col("lbl") === col("jid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("jl"), col("lbl"))).as("lbl"),
          col("prev"))
      jump(jump(hooked))
    }

  /** The SECOND, independent connected-components formulation —
    * id-ordered per-NODE min-label propagation: each round every node
    * takes the minimum of its own label and its neighbors' labels
    * (one keyed aggregate over the symmetric edge list), with no
    * supernode hooking and no pointer-jumping compression. Same fixed
    * point as [[dedupClusters]] (the per-component minimum id), reached
    * by a STRUCTURALLY DIFFERENT recurrence — O(diameter) rounds where
    * hooking is O(log n) — which is exactly why it exists: it is the
    * differential VERIFIER for the closure family at scale points where
    * the DuckDB comparator runs out of memory (the sf3 gate;
    * `graft.CcDiff`, CcPropertySpec). Production pipelines stay on
    * [[dedupClusters]]; this one's cost profile (diameter-bound rounds,
    * same per-round shuffle shape) is acceptable for an audit pass and
    * documented as such. Same loop, scope and loud non-convergence as
    * its sibling. */
  def ccByLabelProp(pairs: DataFrame, aId: Column, bId: Column,
                    maxIter: Int = 400): DataFrame =
    closure("ccByLabelProp", pairs, aId, bId, maxIter) { (sym, labels, _) =>
      // neighbor minimum per node: one join edge→label on the source
      // side, one min-aggregate keyed by destination — no label-space
      // lift, no jumps; the recurrence is the textbook propagation
      val nbrMin = sym
        .join(labels.select(col("id").as("src"), col("lbl").as("ls")),
          "src")
        .groupBy(col("dst").as("id")).agg(min(col("ls")).as("nm"))
      labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nm"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
    }

  /** The min-label closure loop both formulations share: the edge set
    * symmetrized and hash-partitioned on `src` once, labels (id, lbl)
    * starting at lbl = id and kept hash-partitioned on `id`, so every
    * round's joins are co-partitioned. `round(sym, labels, p)` returns
    * the next (id, lbl, prev) frame; the loop stops when no lbl differs
    * from its prev. Returns (doc_id, cluster_id). */
  private def closure(op: String, pairs: DataFrame, aId: Column, bId: Column,
                      maxIter: Int)
                     (round: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    // materialize the (small) pair set once: the edge count, the node
    // set and the symmetric edges all read it
    val und = pairs.select(aId.cast("long").as("src"),
                           bId.cast("long").as("dst"))
      .localCheckpoint()
    val spark = und.sparkSession
    val edges = und.count()
    val p = Fixpoint.partitions(spark, edges)
    val labels = Fixpoint.scoped(op, spark, edges) { c =>
      val u = GraftBridge.rehome(und, c)
      val sym = u.union(u.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(p, col("src"))
        .localCheckpoint()
      val nodes = u.select(col("src").as("id"))
        .union(u.select(col("dst").as("id"))).distinct()
      Fixpoint.iterate(op, nodes.select(col("id"), col("id").as("lbl"))
          .repartition(p, col("id")), maxIter,
          changes = Some((_, next) => next.filter(col("lbl") =!= col("prev")).count())) {
        labels => round(sym, labels.select(col("id"), col("lbl")), p)
          .repartition(p, col("id"))
      }
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** D30: CONTAINMENT near-dup pairs — the ASYMMETRIC overlap measure
    * C(A→B) = |Sh(A) ∩ Sh(B)| / |Sh(A)|: a short document quoted
    * whole inside a much longer one scores 1.0 where Jaccard
    * (≈ |A|/|B|) falls below any symmetric threshold — the
    * doc-inside-doc duplication [[ngramJaccard]] is structurally blind
    * to. Emits (a_id, b_id, n_a, n_inter) with n_inter·100 ≥ n_a·pct
    * (BIGINT cross-multiply, no division). The threshold is an INTEGER
    * percent, not a Double: ceil(0.9·|A|) in binary floating point is
    * ceil(18.000000000000004) = 19 at |A| = 20 — one ulp that SHRINKS
    * the prefix below the safe length and silently drops true pairs.
    *
    * Candidate generation is the containment form of the prefix
    * filter: only the PROBE side takes a prefix — if C(A→B) ≥ t, B
    * must contain one of A's |A| − ceil(t·|A|) + 1 rarest shingles
    * (missing all of them caps the intersection at ceil(t·|A|) − 1) —
    * joined against the FULL shingle index on the build side
    * (asymmetry means B gets no prefix cut). Rare-first ordering keeps
    * probes off hot postings (the Bayardo argument); candidates then
    * pay one exact intersection count. Shingle streams are re-derived
    * per leg, the d2 recompute policy. */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
                       n: Int = 3, thresholdPct: Int = 90): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"thresholdPct ($thresholdPct) must be in (0, 100]")
    // 8-byte hash keys + scan spread, exactly as [[ngramJaccard]] (r13,
    // guide §2.3/§2.5): the probe prefix, the FULL build-side index and
    // the df aggregate all shuffle (df, h) longs instead of n-word
    // strings — the build side has no prefix cut (asymmetry), so it is
    // the biggest byte win in the family — and the derivation runs off
    // the scan's split count. Completeness: the containment pigeonhole
    // (miss all of A's prefix keys ⇒ intersection ≤ ceil(t·|A|)−1)
    // holds under the quotient order like the symmetric proof; a
    // collision only merges postings (extra candidates, verified away
    // on the true shingle arrays below). n_a stays the exact per-doc
    // distinct shingle count and n_inter is counted on true arrays, so
    // the declared output is bit-identical.
    val src = graft.spreadScan(docs, id)
    val sh = shingles(src, id, text, n)
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    // ceil(pct·n/100) = (pct·n + 99) div 100, integer-exact
    val prefixLen = (col("n_sh") - expr(
      s"(n_sh * $thresholdPct + 99) div 100") + 1).cast("int")
    val prefixes = sh.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           sort_array(collect_list(struct(col("df"), col("h")))).as("ordered"))
      .select(col("doc_id").as("a_id"), col("n_sh").as("n_a"),
              explode(slice(col("ordered"), lit(1), prefixLen)).as("o"))
      .select(col("a_id"), col("n_a"), col("o.h").as("h"))
    // cached: the pair list feeds the candidate-id semi-join AND the
    // output join (the ngramJaccard discipline); callers/harnesses
    // release it via clearCache once the result is consumed (the
    // Bench/Verify convention — see probeLshTracked for the loop-safe
    // tracked variant)
    val cand = prefixes
      .join(sh.select(col("doc_id").as("b_id"), col("h")), "h")
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id", "n_a").distinct()
      .cache()
    // verification on CANDIDATE SHINGLE ARRAYS (r12, the
    // verifyExactJaccard shape): the former form re-derived the FULL
    // corpus's exploded shingles twice more (one leg per pair side) and
    // paid a two-key (b_id, sh) join at corpus-gram grain to count the
    // intersection. Shingling only the candidates
    // ([[candidateShingles]]) and counting via array_intersect is
    // candidate-bounded at any scale. n_inter is identical:
    // shingleArray is array_distinct'd, so |intersect| counts distinct
    // shared shingles exactly as the distinct-gram join did.
    val candArr = candidateShingles(cand, docs, id, text, n)
    cand
      .join(candArr.select(col("did").as("a_id"), col("shs").as("sa")), "a_id")
      .join(candArr.select(col("did").as("b_id"), col("shs").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_a"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_inter"))
      .filter(col("n_inter") * 100 >= col("n_a") * thresholdPct)
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_inter"))
  }

  /** POSITIONAL word `n`-grams of a text column — [[shingleArray]]'s
    * order-preserving sibling (no array_distinct: span detection needs
    * every position, and the array index IS the word position). Same
    * single-element-transform let-binding so split() runs once per row. */
  def gramArray(text: Column, n: Int): Column =
    flatten(transform(array(split(text, " ")), w =>
      when(size(w) >= n,
        transform(
          sequence(lit(1), size(w) - (n - 1)), i =>
            concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
      .otherwise(lit(Array.empty[String]))))

  /** D27: duplicate-SPAN detection — substring-level exact dedup (the
    * published training-data method: Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499,
    * which removes repeated ≥50-token substrings the document-level
    * passes D1/D2 cannot see). Their suffix array over the concatenated
    * corpus is a single-machine structure; the Spark-native equivalent
    * is a positional k-gram inverted index: a k-gram occurring in ≥2
    * DISTINCT documents marks its position duplicated, and maximal runs
    * of duplicated positions are exactly the shared substrings of
    * length ≥ k words (a shared m-word span duplicates its m-k+1
    * consecutive k-gram positions).
    *
    * Returns (doc_id, n_pos, dup_pos, n_spans) per affected document —
    * the span census a removal pass consumes (D9's decontaminate is the
    * cut-on-contact special case of this with a fixed benchmark side).
    *
    * Scale shape: positional k-grams are a per-row flatMap (no
    * exchange); the index is ONE groupBy on an (xxhash64, md5) key pair
    * (D1's two-family-collision argument — the shuffle carries ~24 B
    * per gram, never gram text); duplicated keys — a tiny fraction of
    * any real corpus — join back candidate-sized (AQE broadcasts the
    * dup side when small). Run-grouping is the pos − row_number()
    * identity: O(1) state per row, and the window plus the per-doc
    * aggregate both ride ONE explicit doc_id exchange (hash(doc_id)
    * clusters (doc_id, dup) too — the w11 lesson). Grams feed two plan
    * legs and are deliberately re-derived, not cached: they are ~k× the
    * corpus size, and recompute beats materializing at 100 TB (the
    * d2_minhash_lsh policy). */
  def duplicateSpans(docs: DataFrame, id: Column, text: Column,
                     k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread the positional-gram derivation off the scan's split count
    // (r13, guide §2.5 — see [[graft.spreadScan]]; no-op at scale).
    // Both legs below re-derive grams from this frame (the d2 recompute
    // policy), and the two spread exchanges are canonically identical,
    // so ReuseExchange shares ONE shuffle write between them.
    val src = graft.spreadScan(docs, id)
    val grams = src
      .select(id.as("doc_id"), posexplode(gramArray(text, k)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
              xxhash64(col("g")).as("h"), md5(col("g")).as("fp"))
    // "≥2 distinct docs" is min(doc_id) ≠ max(doc_id) — a plain
    // single-exchange aggregate where countDistinct would plan a
    // second, wider distinct-expand exchange
    val dup = grams.groupBy("h", "fp")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("h"), col("fp"), lit(1).as("isdup"))
    // rows with isdup NULL form their own window partition; their
    // row_number is never read (grp stays NULL, countDistinct skips it)
    val byRun = Window.partitionBy("doc_id", "isdup").orderBy("pos")
    grams.join(dup, Seq("h", "fp"), "left")
      .repartition(col("doc_id"))
      .withColumn("grp",
        when(col("isdup").isNotNull, col("pos") - row_number().over(byRun)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
           count(col("isdup")).as("dup_pos"),
           countDistinct(col("grp")).as("n_spans"))
      .filter(col("dup_pos") > 0)
  }

  /** D29: duplicate-span REMOVAL — the rewrite half of Lee et al. 2022
    * ([[duplicateSpans]] is the census): every duplicated k-gram keeps
    * its occurrence in the LOWEST doc_id that contains it and is cut
    * everywhere else, so exactly one copy of each shared substring
    * survives corpus-wide (their keep-one-occurrence rule with min-id
    * as the deterministic tie). A cut k-gram at position p covers words
    * p..p+k−1; a document's rewritten text is its words minus the union
    * of covered positions — overlapping spans compose by position
    * union, no interval algebra needed.
    *
    * Emits (doc_id, n_words, n_removed, new_text) for affected docs.
    *
    * Scale shape: same gram derivation and (xxhash64, md5) index as the
    * census (grams re-derived per leg, the d2 recompute policy); the
    * per-gram keeper is the SAME min/max aggregate; covered positions
    * collapse per doc through one collect_set aggregate (bounded by doc
    * length — document-sized, never corpus-sized); the rebuild is a
    * per-row codegen filter over a position sequence (1-based, the
    * exact list the oracle's comprehension walks) — the corpus text
    * crosses one join, zero explodes. */
  def removeDuplicateSpans(docs: DataFrame, id: Column, text: Column,
                           k: Int = 8): DataFrame = {
    // scan spread, as [[duplicateSpans]] (r13, guide §2.5)
    val src = graft.spreadScan(docs, id)
    val grams = src
      .select(id.as("doc_id"), posexplode(gramArray(text, k)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
              xxhash64(col("g")).as("h"), md5(col("g")).as("fp"))
    val keepers = grams.groupBy("h", "fp")
      .agg(min(col("doc_id")).as("keeper"), max(col("doc_id")).as("d1"))
      .filter(col("keeper") =!= col("d1"))
      .select("h", "fp", "keeper")
    val covered = grams.join(keepers, Seq("h", "fp"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("wpos"))
      .groupBy("doc_id")
      .agg(collect_set(col("wpos")).as("cov"))
    docs.select(id.as("doc_id"), split(text, " ").as("ws"))
      .join(covered, "doc_id")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(col("cov")).cast("long").as("n_removed"),
        array_join(transform(
          filter(sequence(lit(1), size(col("ws"))),
            p => !array_contains(col("cov"), p)),
          p => element_at(col("ws"), p)), " ").as("new_text"))
  }

  /** D31: corpus-wide LINE deduplication — the C4 rule (Raffel et al.
    * 2020: web boilerplate repeats at line granularity, so any line
    * occurring more than once in the corpus keeps exactly one copy).
    * Keeper is the lowest (doc_id, pos) occurrence — one min(struct)
    * aggregate, deterministic, and intra-doc repeats are handled by the
    * same rule (keep the first position). Differs from
    * [[removeDuplicateSpans]] in granularity AND alignment: spans are
    * every overlapping k-gram; lines are a disjoint partition of the
    * document, so removal is per-line, never a position union.
    *
    * Emits (doc_id, n_lines, n_removed, new_text) for affected docs,
    * newline-joined rewritten text.
    *
    * Scale shape: lines shuffle once by (xxhash64, md5) content-hash
    * pair — ~24 bytes of key per line, not the line text (the d1
    * double-family argument: a silent merge needs a simultaneous
    * collision in two independent hash families); the keeper aggregate
    * and the removal join are both on that pair. The rewrite joins
    * removed positions back to the doc — only affected docs pay it. */
  def lineDedup(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // scan spread, as [[duplicateSpans]] (r13, guide §2.5): the
    // line explode + 2×hash-per-line derivation feeds both legs
    val src = graft.spreadScan(docs, id)
    val lines = src
      .select(id.as("doc_id"), posexplode(split(text, "\n")).as(Seq("p0", "line")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
              xxhash64(col("line")).as("h"), md5(col("line")).as("fp"))
    val keepers = lines.groupBy("h", "fp")
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"),
           count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(col("h"), col("fp"),
              col("keep.doc_id").as("kdoc"), col("keep.pos").as("kpos"))
    val removed = lines.join(keepers, Seq("h", "fp"))
      .filter(col("doc_id") =!= col("kdoc") || col("pos") =!= col("kpos"))
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("rm"))
    docs.select(id.as("doc_id"), split(text, "\n").as("ls"))
      .join(removed, "doc_id")
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        size(col("rm")).cast("long").as("n_removed"),
        array_join(transform(
          filter(sequence(lit(1), size(col("ls"))),
            p => !array_contains(col("rm"), p)),
          p => element_at(col("ls"), p)), "\n").as("new_text"))
  }

  /** D35: cross-source CONTAMINATION MATRIX — which sources share
    * verbatim content with which: for every source pair, the number of
    * distinct word-`n`-grams present in both (the corpus-internal
    * audit that tells you a "fresh" source is partially a mirror of
    * another before you weight them independently in a training mix;
    * d9 decontaminates against an external benchmark — this audits the
    * corpus against itself). Shingles travel as md5 hashes (32-byte
    * key instead of the n-word string — the narrow-shuffle policy;
    * collision odds at 128 bits are below the gate's resolution on any
    * corpus), deduplicated to (source, hash) grain BEFORE the join, so
    * the inverted-index self-join fans each shingle to at most
    * C(sources, 2) pairs — bounded by the SOURCE domain, never
    * documents², the d2 never-all-pairs policy. Two keyed exchanges at
    * 100 TB: the (source, hash) distinct and the pair count; both
    * partially aggregate map-side. */
  def sourceOverlap(docs: DataFrame, source: Column, text: Column,
                    n: Int = 8): DataFrame = {
    // materialized once: both join legs read the deduplicated index
    // (the d16 double-derivation lesson — the distinct dominates cost).
    // The derivation is spread off the scan's split count (r13, guide
    // §2.5); keyed by the text column since source is low-cardinality
    // (hashing 3 sources onto 32 partitions would leave 29 empty —
    // guide §2.5 synthetic-key pitfall)
    val sh = graft.spreadScan(docs, text)
      .select(source.as("src"), explode(shingleArray(text, n)).as("s"))
      .select(col("src"), md5(col("s")).as("h"))
      .distinct()
      .localCheckpoint()
    sh.select(col("src").as("src_a"), col("h"))
      .join(sh.select(col("src").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
  }
}
