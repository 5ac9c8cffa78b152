package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Shuffle-budget regression guard: each pinned query must plan with AT
  * MOST the shuffle-exchange count it was tuned to (sf0.01, AQE on,
  * pinned Spark version). A failure here means an edit silently added an
  * exchange to a plan that SCALE.md documents as already minimal —
  * tighten the code, not the budget. Budgets are exact current counts,
  * not aspirations; `<=` keeps the guard stable if AQE ever removes one.
  * The count includes the exchanges that build each cached relation the
  * plan scans: a cache is a shuffle the query pays, and counting only
  * the visible plan would let one cache() hide any number of them.
  *
  * r13 exception, priced in below: [[graft.spreadScan]] deliberately
  * ADDS one conditional repartition per compute-heavy scan derivation
  * (guide §2.5 unsplittable-input fix). At this spec's sf0.01 the
  * condition fires (single-row-group fixtures), so the affected budgets
  * rose by the spread count (+1 per derivation); at production split
  * counts the exchange does not plan at all. The spread exchanges carry the pre-explosion
  * scan projection — strictly fewer bytes than the derived stream they
  * parallelize. */
class PlanBudgetSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.01"

  private def shuffleCount(name: String): Int = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.count() // materialize so AQE finalizes the executed plan
    val n = shuffles(df.queryExecution.executedPlan).size
    spark.catalog.clearCache()
    n
  }

  /** Every exchange the plan pays: its own, and those of each cached
    * build it scans (once per cache, however many scans read it). */
  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] = {
    val builds = collectWithSubqueries(plan) {
      case m: InMemoryTableScanExec => m.relation.cacheBuilder
    }.distinct
    collectWithSubqueries(plan) { case s: ShuffleExchangeLike => s } ++
      builds.flatMap(b => shuffles(b.cachedPlan))
  }

  private val budgets: Seq[(String, Int)] = Seq(
    // the per-cell aggregate + the stats window's single-partition
    // exchange; remap and weighted sum are row arithmetic after it
    "wro_overlay_flagship" -> 2,
    // plain keyed agg: partial + final around one exchange
    "a2_groupby" -> 1,
    // AQE broadcasts the dim side at gate SF; one exchange for the agg
    "j2_shuffle_join" -> 1,
    // one window partition exchange
    "w1_rank" -> 1,
    // TakeOrderedAndProject: no exchange at all
    "o2_topk" -> 0,
    // hash groupBy on (xxhash64, md5) — one exchange
    "d1_dedup_exact" -> 1,
    // all nine exchanges build the cached candidate subtree; the
    // verification path over it is broadcast joins only
    "d2_minhash_lsh" -> 9,
    // benchmark shingles broadcast; the two exchanges carry only doc ids
    "d9_decontaminate" -> 2,
    // pure map-side filter
    "d7_stratified_sample" -> 0,
    // the flagship's two: per-cell aggregate + the stats window; the
    // codegen'd remap and the unpivot are row-local
    "f9_remap_expr" -> 2,
    // one exchange on user_id; both windows and the session agg reuse it
    "w6_sessionize" -> 1,
    // bucket agg + grid/span derivation; forward-fill window reuses the
    // user_id layout
    "w7_gapfill" -> 2,
    // same scaffold as gapfill: the backward AND forward window passes
    // share one user_id exchange
    "w7_interpolate" -> 2,
    // Spark's two-phase pivot: (status, prio) partial agg, then the
    // status-grain pivot agg — the second exchange carries only
    // group-cardinality rows
    "o5_pivot" -> 2,
    // cube expands all four grouping sets inside ONE aggregate
    "a12_cube" -> 1,
    // per-row lambda folds — pure map-side, zero exchanges
    "f10_higher_order" -> 0,
    // scan-heavy aggregate: partial + final around one exchange
    "q1_pricing_summary" -> 1,
    // broadcast seeds + windowed argmin (vec_id exchange) + accumulator
    // agg (cid,pos exchange)
    "d12_kmeans" -> 2,
    // ORC read-back aggregation — one exchange
    "src4_orc_roundtrip" -> 1,
    // interleave is pure bit arithmetic at the scan; one bucket-agg
    // exchange
    "f11_zorder" -> 1,
    // model agg + 1-row total + per-doc agg + the doc-restore join;
    // corpus TEXT never crosses any of them (ids and partial sums only)
    "d13_lm_surprise" -> 4,
    // one user_id exchange for the fold; the final 4-counter agg is the
    // 1-row merge every global aggregate has
    "w8_funnel" -> 2,
    // variant equi-join (AQE broadcasts the typo side at gate SF) +
    // candidate distinct — never an all-pairs cross join
    "j12_fuzzy_join" -> 1,
    // pure per-row fan-out: tokens → chunk windows, zero exchanges
    "d14_chunk_overlap" -> 0,
    // one custkey window partition serves all three rank functions
    "w9_rank_family" -> 1,
    // bivariate moments: partial + final around one exchange
    "a13_corr" -> 1,
    // decorrelated scalar: per-part avg agg exchange + the final
    // 1-row aggregate; the join back to lineitem broadcasts at gate SF
    "q17_small_qty" -> 2,
    // the existence/anti joins broadcast at gate SF; one s_name agg
    // exchange (at 100 TB AQE shuffles the joins on l_orderkey instead)
    "q21_waiting" -> 1,
    // semi-join shuffle + the priority agg + the scalar's 1-row agg;
    // the null-aware anti join broadcasts its (tiny) non-null build side
    "q22_in_subquery" -> 3,
    // the one exchange IS the range partitioning (asserted below)
    "o1_sort" -> 1,
    // catalog tools are fact-derived: the per-cell aggregate + one wide
    // 1-row stats agg; the edit, MERGE and SCD-2 cache the per-cell
    // frame for their second leg (+1 agg). The rewrite itself is
    // broadcast projections. r4's 2.39 s layerinfo bench reading was noise —
    // median-of-3 via BenchFew at sf0.1 is 0.56 s / 0.58 s for these two
    "wro_update_layerinfo" -> 2,
    "wro_update_classification" -> 3,
    // MERGE = broadcast left join + broadcast anti join; the exchanges
    // are the encoded catalog's derivation, not the merge
    "wro_merge_catalog" -> 3,
    // cume_dist window exchange on l_returnflag; the group-by reuses it
    "a14_exact_percentile" -> 1,
    // same per-cell derivation as the merge; history union is free
    "wro_catalog_scd2" -> 3,
    // code-assignment (vec_id, j) reduce + ADC per-vector sum + top-k
    "d16_pq_topk" -> 3,
    // sketch 1-row agg + candidate recount; the total count rides the
    // broadcast sketch row
    "a15_heavy_hitters" -> 2,
    "a16_conditional_agg" -> 1,
    // all three grouping sets expand inside ONE aggregate
    "a17_grouping_sets" -> 1,
    // HAVING aggregate + the join-side aggs (semi side broadcasts)
    "q18_large_orders" -> 3,
    // disjunction stays a join filter; one exchange for the 1-row agg
    "q19_disjunctive" -> 1,
    // TakeOrdered handles offset+limit with no exchange at all
    "o6_pagination" -> 0,
    // one exchange: the per-order collect_list groupBy
    "f14_explode_outer" -> 1,
    // ONE visible exchange (the word histogram) — training rounds are
    // checkpoint-truncated and the merge table broadcasts
    "d15_bpe_encode" -> 2,
    // the cached codebook's training build + the probe's
    // assignment reduce, probes cut, scored top-k and fallback anti
    "d3_ivf_trained" -> 9,
    // one user_id window exchange; the per-user aggregate reuses it
    "w10_time_weighted" -> 1,
    // unpivot is a per-row fan-out; one metric-agg exchange
    "o7_unpivot" -> 1,
    // variant parse/extract map-side; one event_type agg exchange
    "f17_variant" -> 1,
    // one host window exchange; the per-host aggregate reuses it
    "d18_host_quota" -> 1,
    // pure per-row array math + one... zero: the output is per-doc rows
    "d20_cdc_chunks" -> 0,
    // outer join shuffle + per-customer agg (reuses the join layout) +
    // the c_count distribution agg
    "q13_custdist" -> 3,
    // dims broadcast at gate SF; the fact join pair shuffles once and
    // the year agg adds the second
    "q7_nation_volume" -> 2,
    // all six dims broadcast at gate SF; the two exchanges are the
    // derived-table fact join pair + the per-year agg
    "q8_market_share" -> 2,
    // same posture as q8 minus customer: fact pair + nation/year agg
    "q9_profit_nation" -> 2,
    // three independent subplans (main + npart scalar + total scalar),
    // each a broadcast join feeding a partkey-grain aggregate — the
    // exchanges carry only (partkey, cents) rows, never fact tuples
    "q11_important_parts" -> 6,
    // orders side broadcasts under the date filter at gate SF; the
    // lateness join + returnflag agg
    "q12_priority_shipping" -> 2,
    // NOT-IN anti side broadcasts; two-phase distinct (partial on the
    // quad, count on the triple) + the final agg
    "q16_supplier_cnt" -> 3,
    // training + assignment hide behind the members checkpoint; visible:
    // the cid pair self-join (2) + the per-dropped-vector aggregate
    "d23_semdedup" -> 3,
    // batch partial agg + the group-sized merge re-aggregation; the
    // view write is its own job
    "a19_incremental_mv" -> 2,
    // the counts materialize behind a checkpoint (und/deg/oriented feed
    // 2-5 legs each); the visible plan scans it
    "d24_triangles" -> 0,
    // ONE explicit user_id exchange serves both windows (hash(user_id)
    // clusters (user_id, event_type) too)
    "w11_running_distinct" -> 1,
    // the evolved-read aggregate; the two batch writes are their own jobs
    "src6_schema_evolution" -> 1,
    // checkpointed purchase set; AQE broadcasts the candidate join at
    // gate SF (at 100 TB it shuffles on the bucket id — an equi-join)
    "j15_epsilon_join" -> 0,
    // closure rounds hide behind dedupClusters' checkpoints; the
    // per-family keep-best aggregate reads the one-partition label
    // checkpoint at gate SF and plans no exchange of its own
    "d25_dedup_keepbest" -> 0,
    // broadcast join + DPP leave one exchange: the event_type aggregate
    "j16_dpp_join" -> 1,
    // semdedup hides behind its members checkpoint; visible: pair join +
    // drop agg + the doc anti-join + the per-source pack window
    "pipe_semdedup_corpus" -> 5,
    // the 5-threshold aggregate; the doc side joins a broadcast
    "d26_temperature_mix" -> 1,
    // Spark refuses hash joins on collated (non-binary-equality) keys:
    // a sort-merge join exchanges both sides + the canon aggregate
    "f21_collation_join" -> 3,
    // gram index agg + the one doc_id exchange both window and final
    // agg ride; AQE broadcasts the duplicated-key side of the mark join
    "d27_substring_dedup" -> 3,
    // the single exchange is the 256-row weight-pack aggregate (model
    // side); the document side is a pure codegen fold — no corpus
    // explode, no corpus shuffle
    "d28_quality_classifier" -> 2,
    // both windows and the group-by ride one l_returnflag exchange
    // (the a14 one-shuffle shape, weighted)
    "a20_weighted_percentile" -> 1,
    // the fact-scan bitmap build hides behind its checkpoint; the three
    // visible exchanges move only groups x buckets bitmap rows (per-prio
    // rollup, per-bucket OR, global sum) — never the row stream
    "a21_bitmap_distinct" -> 3,
    // keeper-index agg + the covered-position per-doc set agg; AQE
    // broadcasts keepers into the mark join and the doc-sized cov
    // table into the rebuild join
    "d29_span_removal" -> 3,
    // span removal hides behind the stage checkpoint; the visible
    // exchanges are all doc-grain or smaller: model pack, gate join
    // sides, threshold agg + broadcast-side prep, and the pack window
    "pipe_ccnet_corpus" -> 8,
    // 16 lag reads share one window frame: one user_id exchange
    "w12_ewma" -> 1,
    // the cached candidate build + the shingle-df prefix aggregate
    // and the exact-intersection pair agg; candidates and the df table
    // broadcast at gate SF
    "d30_containment" -> 9,
    // (xxhash64, md5) keeper agg + the per-doc removed-position agg;
    // keepers and the rm sets broadcast into their joins
    "d31_line_dedup" -> 3,
    // the argmax is two cascaded hash aggregates (no window sort);
    // the customer-orders join broadcasts at gate SF
    "a22_mode" -> 2,
    // all three frame aggregates ride one user_id window exchange
    "w13_anomaly" -> 1,
    // line dedup hides behind the lined checkpoint (keeper agg + rm
    // agg); langid over the floored checkpoint adds lexicon freq agg +
    // lang-window + vote agg + doc-window; final (lang, source) agg.
    // Every exchange is line-hash, lexicon, or doc-id grain — the raw
    // corpus text crosses none of them after the checkpoints.
    "pipe_c4_corpus" -> 7,
    // lens agg + 1-row stats + tf agg + df agg + the doc-grain join
    // exchanges + final doc agg; top-k is TakeOrdered (no exchange) and
    // only (doc_id, micro) rows cross post-token exchanges
    "d32_bm25" -> 7,
    // first-week agg (reused by the user_id join) + the cohort-cell
    // two-phase distinct
    "w14_retention" -> 3,
    // per-cell agg + the focal target agg (contributions are 9x the
    // bounded raster, map-side combined)
    "wro_focal_stats" -> 2,
    // per-cell agg + the stats window's single-partition exchange; the
    // zone agg is already clustered by it
    "wro_zonal_stats" -> 2,
    // selection pushed below the one per-cell exchange: 15/16 of fact
    // rows never shuffle
    "wro_resample_nearest" -> 1,
    // per-cell agg + final per-rectangle agg; the tile join broadcasts
    "j18_grid_join" -> 2,
    // the explicit repartition(user_id) serves distinct, window, both
    // island aggregates, and the final per-user aggregate
    "w15_streak" -> 1,
    // ONE combine-capable hash aggregate; min_by/max_by partials merge,
    // so no per-bucket sort exchange exists
    "w16_ohlc" -> 1,
    // one user_id window exchange; the bounded 9-row frame is per-row
    // state, not an exchange
    "w17_rolling_median" -> 1,
    // per-cell agg + the Horn target agg (9x the bounded raster domain,
    // map-side combined) — the focal shape with weights
    "wro_slope" -> 2,
    // (doc, token) count + per-doc max; the per-row stats leg
    // broadcasts into the doc_id join
    "d33_gopher_rules" -> 2,
    // visible past the checkpointed assignment: the cid candidate join
    // (two sides) + the per-vector rank window
    "d34_knn_graph" -> 3,
    // past the checkpointed (type,user) counts: k-min rank window, the
    // sketch-pair h join, the exact-leg user_id self-join + both pair
    // aggregates (each over <=10 bounded rows); thetas broadcast
    "a23_theta_overlap" -> 6,
    // one Expand-carrying aggregate: distinct partials + final merge —
    // the profile scans the fact table exactly once
    "v6_dq_profile" -> 3,
    // past the checkpointed kept corpus: lexicon build + votes + the
    // gopher token aggregates + the final accounting; all doc-keyed
    "pipe_fineweb_corpus" -> 7,
    // the checkpointed (source, hash) index hides its own distinct;
    // visible: the pair count (one leg broadcasts at gate SF)
    "d35_source_overlap" -> 1,
    // per-cell agg + the classed grid's stats window; the 5-point
    // stencil target agg runs in the window's single partition
    "wro_class_boundaries" -> 2,
    // pure projection over the slope frame: no exchange beyond
    // slope's own two
    "wro_aspect" -> 2,
    // per-cell agg + the per-polygon agg; the 6-feature dim broadcasts
    // and the ray cast folds in-row (no edge explode)
    "wro_polygon_zonal" -> 2,
    // the D8 kernel materializes behind its window checkpoint; the
    // visible plan reads it and adds no exchange
    "wro_flow_direction" -> 0,
    // the versioned dim broadcasts; the one exchange is the final
    // accounting aggregate — the fact never shuffles for the lookup
    "j20_temporal_lookup" -> 1,
    // the ≤k-hop accumulation kernel materializes behind its window
    // checkpoint; the visible plan reads it and adds no exchange
    "wro_flow_accumulation" -> 0,
    // per-cell agg + the classed grid's stats window; the two-level mode
    // aggregate ((r,c,cls) counts then (r,c) fold) runs in its single
    // partition
    "wro_majority_filter" -> 2,
    // the windowed chamfer kernel materializes behind ONE checkpoint;
    // the visible plan reads it
    "wro_cost_distance" -> 0,
    // the decorrelated ranked window's s_nationkey exchange + the
    // outer ORDER BY's range partitioning; nation broadcasts
    "j19_lateral_topk" -> 2,
    // quantization is map-side, the 1-row query broadcasts, the cut is
    // TakeOrdered; the one exchange is the post-limit rank window
    // carrying ≤ k rows
    "d36_sq8_topk" -> 1,
    // the same chamfer kernel and checkpoint as cost distance
    "wro_allocation" -> 0,
    // the cached sketch's build + the exact-audit window exchange and
    // its aggregate — the audit leg exists to GATE the sketch and
    // disappears at scale
    "a24_sample_quantiles" -> 3,
    // gopher gate + content-hash dedup + classifier fold + histogram
    // threshold + accounting; checkpoints bound the visible plan
    "pipe_dclm_corpus" -> 6,
    // generate + parse + one keyed aggregate
    "f23_xml" -> 1,
    // pure projection over the slope frame: slope's own two exchanges
    "wro_hillshade" -> 2,
    // AQE broadcasts the dim side; one exchange for the aggregate
    "j22_nullsafe_join" -> 1,
    // one map-side-combined moments aggregate
    "a25_regression" -> 1,
    // the rank window's user_id exchange; the collect aggregate and
    // the in-row pair fold reuse its layout
    "w18_mann_kendall" -> 1,
    // the windowed D8 walk materializes behind its checkpoint; the
    // visible plan is a projection of it
    "wro_watershed" -> 0,
    // four independent signal families (gopher tokens, classifier
    // buckets, langid lexicon+votes, line census) each pay their keyed
    // aggregates, then the wide doc_id join — 10 total, each bounded
    // by token/line hashes or doc-grain rows, never raw text twice
    "pipe_rpv2_signals" -> 10,
    // slope's shape with weight triples: perCell + the stencil fold
    "wro_curvature" -> 2,
    // stage 1's post-limit rank rows + stage 2's — both ≤pool-sized;
    // the pool fetch and query side broadcast
    "d37_rerank_topk" -> 2,
    // the per-query rank window's q_id exchange — the batch's only
    // shuffle; queries broadcast
    // two-stage top-k (round 10): the (q_id, shard) stage-1 exchange +
    // the tiny stage-2 re-rank exchange — bought |batch|·shards sort
    // parallelism (the q_id-only window measured 28x at the sf1 soak)
    "d38_batch_topk" -> 3,
    // visible past the checkpointed family table: the split/audit
    // aggregates; the closure's rounds hide behind their checkpoints
    "pipe_split_assign" -> 5,
    // one multiplicity aggregate per bag set-op; each regroup reuses
    // its nationkey layout
    "o8_setops_all" -> 2,
    // two global rank windows over the 1k-row dim share one
    // single-partition exchange — sorts the dim's size makes trivial
    "o9_null_ordering" -> 1,
    // three FK edges × (child count + orphan count) single-row aggs;
    // every anti-join broadcasts its parent
    "v7_referential_audit" -> 6,
    // render+parse are per-row; one keyed aggregate
    "f24_timestamp_parse" -> 1,
    // cached per-cell grid + the per-ray running-max window; the gcd
    // is a bounded in-row filter, the observer row broadcasts
    "wro_viewshed" -> 2,
    // nation broadcasts; one collect aggregate, sort at finish
    "a26_listagg" -> 1,
    // per-cell agg + the rook pair join's fan-out leg + the scalar
    // folds (the checkpointed deviation grid hides its own build)
    "wro_moran" -> 3,
    // the cached grid's per-cell build + the 3x3 focal fan-out
    // aggregate + the grid's semi join; the moment row broadcasts
    "wro_gi_star" -> 3,
    // the cached grid's per-cell build + one target aggregate; the
    // anti-join broadcasts the present set
    "wro_idw" -> 2,
    // per-cell agg + the corner-role target aggregate — no join at all
    "wro_resample_bilinear" -> 2,
    // the whole-raster tile kernel's output is read from its checkpoint
    "wro_region_group" -> 0,
    // ONE returnflag exchange serves the rank window, the partition
    // count, and the final group-by — the a14 reuse discipline extended
    // to interpolation
    "a27_percentile_cont" -> 1,
    // token bucket model agg (read by both the totals and the weight
    // projection — the 256-row frame pays one extra exchange so bin()
    // runs 256x instead of per-token) + the per-doc fold + the doc
    // left join; weights broadcast
    "d39_dsir" -> 5,
    // langid lexicon/votes + paragraph-hash dedup + the final
    // accounting; checkpoints bound the visible plan
    "pipe_dolma_corpus" -> 4,
    // the (u, cents) pair aggregate + the per-u argmax + the value-
    // domain-bounded front window
    "o10_skyline" -> 3,
    // slope's two exchanges; the (r,c) join against the checkpointed
    // accumulation kernel adds none
    "wro_twi" -> 2,
    // the declared result is the driver-walked path as a LocalRelation;
    // the cost field materializes behind its tile kernel's checkpoint
    "wro_least_cost_path" -> 0,
    // per-cell agg + the stats window; the combo id and count windows
    // reuse its single partition
    "wro_combine" -> 2,
    // per-cell agg + the classed grid's stats window; the 3x3 target
    // aggregate runs in the window's single partition
    "wro_expand" -> 2,
    // the per-region aggregate over the region-group checkpoint
    "wro_zonal_geometry" -> 1,
    // the encode fold's doc aggregate + the per-language aggregate;
    // training rounds hide behind their own jobs
    "d40_fertility" -> 3,
    // both cost fields come out of one windowed chamfer kernel behind
    // one checkpoint; the visible plan reads it
    "wro_corridor" -> 0,
    // the visible plan reads the checkpointed final weight table;
    // per-epoch joins/aggregates hide behind their checkpoints
    "d41_perceptron" -> 0,
    // the decile window's single-partition exchange + the decile agg;
    // training hides behind its checkpoints, the weight pack broadcasts
    "d42_calibration" -> 3,
    // the windowed D8 walk materializes behind its checkpoint; the
    // visible plan is a projection of it
    "wro_flow_length" -> 0,
    // round 10: snapshot reads are plain pruned scans over the version
    // dir — both commits execute eagerly inside the function, the
    // declared read plans shuffle-free
    "snk7_time_travel" -> 0,
    // the CDF full-outer join: one exchange per version side (version
    // aggregates materialize inside the eager commits)
    "snk9_change_feed" -> 2,
    // codec roundtrips are pure mapPartitions over the id scan
    "d5_decode_bmp" -> 0,
    "d5_decode_wav" -> 0,
    "d5_frames_avi" -> 0,
    // visible plan: remap broadcast + score agg exchange + the ranges
    // dim's stats legs; the skewed fact join hides behind its
    // localCheckpoint (the AQE-split stage is spec-asserted in
    // SkewSpec, not here)
    "wro_overlay_skewed_aqe" -> 3)

  budgets.foreach { case (name, budget) =>
    test(s"$name plans with <= $budget shuffle exchange(s)") {
      val got = shuffleCount(name)
      assert(got <= budget,
        s"$name now plans $got shuffles (budget $budget) — an exchange " +
          "crept into a plan SCALE.md documents as minimal")
    }
  }

  test("snk2_partitioned read-back prunes partitions at the scan") {
    val df = graft.SparkEntry.queries("snk2_partitioned")(spark, dir)
    df.count()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "the event_type predicate never reached the scan as a partition filter")
    // events carry 4 types; the isin selects 2 — a scan that reads more
    // directories than that is reading data the query excluded
    scans.filter(_.partitionFilters.nonEmpty).foreach { f =>
      assert(f.selectedPartitions.partitionCount == 2,
        s"scan read ${f.selectedPartitions.partitionCount} partitions, " +
          "expected 2")
    }
  }

  test("snk4_compaction actually compacts: 64 data files in, 4 out") {
    graft.SparkEntry.queries("snk4_compaction")(spark, dir).count()
    def dataFiles(name: String): Int = {
      val sf = dir.replaceAll("[^0-9.]", "")
      new java.io.File(s"/tmp/graft_io/$name-$sf").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    }
    assert(dataFiles("snk4frag") == 64,
      s"fragmented layout wrote ${dataFiles("snk4frag")} files")
    assert(dataFiles("snk4compact") == 4,
      s"compaction wrote ${dataFiles("snk4compact")} files, wanted 4")
  }

  test("o1_sort range-partitions: parallel global sort, not one reducer") {
    val df = graft.SparkEntry.queries("o1_sort")(spark, dir)
    df.count()
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s.outputPartitioning
    }
    assert(exchanges.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
          .RangePartitioning]),
      s"global sort lost its range exchange:\n${df.queryExecution}")
    assert(exchanges.forall(_.numPartitions > 1),
      "global sort collapsed to a single partition — the plan that " +
        "dies at 100 TB")
  }
}
