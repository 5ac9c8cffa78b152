package graft.ops

import graft._
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY §2.B rows P/J/A/W/O/F/SRC/SNK)
  * as declared, DuckDB-oracle-checked queries over the driver fixtures.
  *
  * Oracle-exactness rules (the driver compare is EXACT after sorting):
  *  - money aggregates through `decimal(18,2)` casts (raw columns) or
  *    round(x*100) cents (computed products) BEFORE aggregation so the
  *    result is order-independent (float sums are not associative), and
  *    LEAVES the engine as BIGINT cents — never a DECIMAL column, which
  *    the gate's two readers render differently ("x.10" vs "x.1");
  *  - integer-valued doubles (l_quantity) sum exactly — left as-is;
  *  - inherently-float results (stddev) are rounded;
  *  - timestamps leave the engine as ISO strings or epoch-microsecond
  *    longs, never raw DATE/timestamps (reader rendering differs);
  *  - every window/top-k has a full deterministic tie-break key.
  *
  * Scale posture: every query is a declarative single plan — joins are
  * plain equi-joins Catalyst is free to broadcast at small SF and shuffle
  * at 100 TB (AQE decides from runtime stats); no collect, no driver loops.
  * Windows partition by a real key (customer/user), never a global window,
  * except w5_ntile whose global quantile assignment is documented below.
  */
object RelQueries {

  private val dec = "decimal(18,2)"

  // ---------- P: projection / filter / predicates ----------

  /** P2: conjunctive predicate filter (bool, comparison, null-check). */
  def p2Filter(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_returnflag") === "A" && col("l_discount") > 0.05 &&
        col("l_shipdate").isNotNull && col("l_linestatus") === "F")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** P3: point lookup by key — pushdown-able single-row predicate scan. */
  def p3PointLookup(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .filter(col("o_orderkey") === 7L)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** P4: regex + prefix predicates (R22/R23 analogues). */
  def p4Regex(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part")
      .filter(col("p_name").rlike("^[ab]") && col("p_type").startsWith("S"))
      .select("p_partkey", "p_name", "p_type")

  /** P5: when/otherwise dispatch (R28 sourcetype routing analogue). */
  def p5Case(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select(
        when(col("o_orderpriority").startsWith("1") ||
             col("o_orderpriority").startsWith("2"), "high")
          .when(col("o_orderpriority").startsWith("3"), "medium")
          .otherwise("low").as("urgency"))
      .groupBy("urgency").agg(count(lit(1)).as("n"))

  // ---------- J: joins ----------

  /** J2: large×large equi-join + group-by (shuffle/SMJ at scale; AQE may
    * broadcast the orders side at small SF — same declarative plan). */
  def j2ShuffleJoin(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .join(table(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           sum("l_quantity").cast("long").as("sum_qty"),
           (sum(col("l_extendedprice").cast(dec)) * 100).cast("long")
             .as("sum_price_cents"))

  /** J3: left outer join preserving unmatched left rows. */
  def j3LeftOuter(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .join(table(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("o_orderkey")
      .agg(count(col("l_orderkey")).as("n_items"),
           coalesce(sum("l_quantity").cast("long"), lit(0L)).as("sum_qty"))

  /** J4: left semi join — existence check (R6/R12 precheck analogue). */
  def j4Semi(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders"),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  /** J5: left anti join — difference check (R17 diff-detection analogue).
    * The right side is pre-filtered (customers with no URGENT order) so the
    * result is non-empty on the fixtures, where every FK is fully covered. */
  def j5Anti(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders")
              .filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")

  /** J7: as-of join — for each purchase, the latest click at-or-before it
    * by the same user. Composed scale-safely as ONE pass: union the two
    * event kinds, a single partitioned window carries the last click
    * forward (no join, no per-key skew explosion — the join+argmax
    * formulation re-reads every earlier click per purchase). */
  def j7AsOf(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
    // at equal ts a click sorts before the purchase ('click' < 'purchase'),
    // matching the oracle's c.ts <= p.ts inclusivity
    val w = Window.partitionBy("user_id")
      .orderBy("ts_us", "event_type", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickState = when(col("event_type") === "click",
      struct(col("ts_us"), col("event_id")))
    ev.withColumn("last_click", last(clickState, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
              col("last_click.ts_us").as("click_ts_us"),
              col("last_click.event_id").as("click_id"))
  }

  /** W10: TIME-WEIGHTED aggregation over an irregular event series —
    * each event's value holds until the user's next event, so the
    * weight is the gap length (the step-function integral every
    * sensor/price pipeline needs; a plain avg over irregular samples
    * is biased toward bursts). One keyed window (lead) + one keyed
    * aggregate. Exactness: cents × whole seconds, all integer — the
    * division into an average is left to the consumer so no float
    * crosses the gate; gaps truncate to seconds identically (`div` /
    * `//`). Users with a single event carry no interval and drop. */
  def w10TimeWeighted(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    table(s, dir, "events")
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("ts_us"),
              round(col("value") * 100).cast("long").as("v_cents"))
      .withColumn("nxt", lead(col("ts_us"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
           sum(expr("(nxt - ts_us) div 1000000")).as("total_s"),
           sum(expr("v_cents * ((nxt - ts_us) div 1000000)"))
             .as("weighted_cents_s"))
  }

  /** J15: ε-BAND join (|value_a − value_b| ≤ ε) without a cross join —
    * the numeric sibling of J12's edit-distance join: bucket width = ε,
    * the probe side explodes to bucket ± 1 (a pair within ε differs by
    * at most one bucket — complete by construction), candidates come
    * from a plain bucket equi-join, and only candidates pay the exact
    * band predicate. 3× linear fan-out, never quadratic; the bucket id
    * is an ordinary join key (hash-partitionable, AQE/salting apply).
    * All arithmetic on integer CENTS (ε = 5 cents, bucket = cents div
    * 5) so bucketing completeness and the predicate are exact — a
    * double-division floor can straddle boundaries by a ulp. Each
    * unordered pair materializes exactly once: (a,b) forms only where
    * b's exploded bucket equals a's home bucket, and the a_id < b_id
    * cut keeps one orientation. The oracle is an inequality join over
    * the same cents — an independent bucket-free formulation. */
  def j15EpsilonJoin(s: SparkSession, dir: String): DataFrame = {
    val p = table(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("id"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("bkt", expr("cents div 5"))
      .localCheckpoint() // both join sides read this once, not scan twice
    val probe = p.select(col("id").as("b_id"), col("cents").as("b_cents"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    p.select(col("id").as("a_id"), col("cents").as("a_cents"), col("bkt"))
      .join(probe, "bkt")
      .filter(col("a_id") < col("b_id") &&
              abs(col("a_cents") - col("b_cents")) <= 5)
      .select(col("a_id"), col("b_id"), col("a_cents"), col("b_cents"))
  }

  /** F21: COLLATION-aware join (Spark 4 collations): the fact side's
    * case-mangled names (deterministic upper/lower/as-is by key mod 3 —
    * the d17 synthesis pattern) equi-join the canonical dim under
    * UTF8_LCASE — the collation IS the key's equality semantics, not a
    * lower() wrapper around the column. Spark REFUSES hash-based joins
    * on keys without binary equality (it warns and plans a sort-merge
    * join instead — collation-aware comparisons need the sort path), so
    * this is deliberately gated as the SMJ it really is. The emitted
    * name comes from the DIM side (stable case — a collated group's
    * representative string is engine-unspecified, never gate it).
    * Oracle replays with lower() equality. */
  def f21CollationJoin(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer")
    val mangled = c.select(col("c_custkey"),
      when(col("c_custkey") % 3 === 0, upper(col("c_name")))
        .when(col("c_custkey") % 3 === 1, lower(col("c_name")))
        .otherwise(col("c_name")).as("m"))
    val dim = c.select(col("c_custkey").as("k"),
      lower(col("c_name")).as("canon"))
    mangled.join(dim,
        collate(col("m"), "UTF8_LCASE") ===
        collate(col("canon"), "UTF8_LCASE"))
      .groupBy("canon")
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_key"))
  }

  /** J16: DYNAMIC partition pruning — the star-schema join pattern at
    * 100 TB: the fact table is partitioned on the join key, the dim
    * side carries a selective filter, and Catalyst injects the dim's
    * surviving keys as a RUNTIME partition filter on the fact scan
    * (DynamicPruningExpression), so only the matching partition
    * directories are read — SNK2+ proved STATIC pruning from a literal
    * predicate; this is the join-driven form (no literal anywhere: the
    * pruning values exist only in dim rows). `DppSpec` plan-asserts the
    * dynamic filter and that exactly 2 of 5 directories were read. */
  def j16DppJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = ioDir(dir, "j16dpp")
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    // the dim carries a SELECTIVE FILTER (weight >= 2 keeps 2 of 5
    // rows) — DPP's planning rule requires one on the build side, and
    // the dim must be a REAL source (a filtered LocalRelation constant-
    // folds away, leaving no Filter node for the rule to see)
    val dimPath = ioDir(dir, "j16dim")
    Seq(("click", 1L), ("view", 1L), ("signup", 1L), ("purchase", 5L),
        ("error", 2L))
      .toDF("event_type", "weight")
      .write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath).filter(col("weight") >= 2L)
    s.read.parquet(out)
      .join(broadcast(dim), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(col("cents") * col("weight")).as("weighted_cents"))
  }

  /** J17: RUNTIME bloom-filter join pruning (Catalyst's
    * InjectRuntimeFilter) as a declared, oracle-gated query — J16's
    * sibling for when the fact table is NOT partitioned on the join
    * key (the common case): the selective dim side aggregates a bloom
    * filter over its join keys and the fact side filters on
    * might_contain BEFORE its shuffle, so at 100 TB only
    * possibly-matching rows pay exchange bytes. The fixture sits far
    * below the production-tuned size gates, so the query plans in a
    * clone of the caller's session (`GraftBridge.cloneSession`: the
    * caller's runtime confs, its own SQLConf — the caller's session is
    * never changed) with the size thresholds widened and broadcast
    * disabled: eligibility is decided by plan SHAPE, exactly as `RuntimeFilterSpec` pins; the bloom
    * build is itself a broadcast-sized aggregate. A plan assertion
    * lives in the spec; the gate here proves the filter never changes
    * the ANSWER (bloom false positives only pass extra rows to the
    * exact join). */
  def j17BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val ns = GraftBridge.cloneSession(s, Map(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val fact = table(ns, dir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val dim = table(ns, dir, "orders")
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
  }

  /** J18: 2-D SPATIAL bin-and-refine join — point-in-rectangle over the
    * pseudo-raster plane (the GIS-native join the 1-D J6 range join
    * can't express). The scalable spatial-join recipe: overlay a coarse
    * tile grid, replicate each RECTANGLE to every tile it intersects
    * (`sequence` × `sequence` — bounded by box-size/tile-size, never by
    * row count), map each POINT to its single home tile, equi-join on
    * tile, refine with the exact containment predicate. Every matching
    * pair meets in EXACTLY one tile (the point's), so no post-join
    * dedup is needed — the property the oracle's all-pairs BETWEEN join
    * gate-checks (candidate completeness + no double counting). Here
    * the 25-rectangle side broadcasts; at 100 TB with millions of
    * boxes both sides hash-partition by tile and the same plan holds —
    * tile size trades replication factor against per-tile fanout, and
    * a hot tile (city-density skew) salts like any skewed key. All
    * coordinates are integers; cents snap before the aggregate. */
  def j18GridJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = table(s, dir, "lineitem")
      .groupBy((col("l_orderkey") % 10000).as("cell_id"))
      .agg(max(col("l_quantity").cast("double")).as("q"))
      .select((col("cell_id") % 100).as("x"), expr("cell_id div 100").as("y"),
        (col("q").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("ptx", expr("x div 16")).withColumn("pty", expr("y div 16"))
    val rects = table(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("rid"),
        ((col("n_nationkey") * 17) % 80).cast("long").as("x0"),
        ((col("n_nationkey") * 29) % 80).cast("long").as("y0"))
      .withColumn("x1", col("x0") + 5 + (col("rid") * 7) % 20)
      .withColumn("y1", col("y0") + 5 + (col("rid") * 11) % 20)
    val tiles = rects
      .withColumn("tx", explode(sequence(expr("x0 div 16"), expr("x1 div 16"))))
      .withColumn("ty", explode(sequence(expr("y0 div 16"), expr("y1 div 16"))))
    pts.join(broadcast(tiles),
        col("ptx") === col("tx") && col("pty") === col("ty") &&
        col("x").between(col("x0"), col("x1")) &&
        col("y").between(col("y0"), col("y1")))
      .groupBy("rid")
      .agg(count(lit(1)).as("n_points"), sum(col("cents")).as("sum_cents"))
  }

  /** W11: RUNNING DISTINCT count — cumulative distinct event types per
    * user over time. No engine supports count(DISTINCT) OVER a running
    * frame (it would need per-row set state); the scalable
    * decomposition is FIRST-SEEN flag (row_number == 1 within
    * (user, type)) + running sum — two windows sharing ONE user_id
    * exchange, O(1) state per row: the explicit repartition on user_id
    * satisfies BOTH windows' clustering (hash(user_id) clusters
    * (user_id, event_type) too), where leaving it to the planner costs
    * a second exchange on the wider key. The oracle replays the same
    * decomposition in DuckDB syntax; rows are per-event so every
    * intermediate running value is gated, not just the final count. */
  def w11RunningDistinct(s: SparkSession, dir: String): DataFrame = {
    val perType = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_us", "event_id")
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .repartition(col("user_id"))
      .withColumn("first_seen",
        when(row_number().over(perType) === 1, 1L).otherwise(0L))
      .select(col("event_id"), col("user_id"), col("ts_us"),
              sum(col("first_seen")).over(byUser).as("n_distinct_types"))
  }

  /** J14: NEAREST-event join — the bidirectional as-of (J7 is
    * backward-only): for each purchase, the same user's nearest click
    * within ±30 minutes, ties to the earlier side. ONE union + ONE
    * window partition carries both directions (last click state
    * backward, first click state forward) — never a per-key join
    * explosion, the same scale argument as J7. Fully ordered frames
    * (ts, type, id) make every pick deterministic in both engines. */
  def j14NearestEvent(s: SparkSession, dir: String): DataFrame = {
    val win = 1800000000L // 30 minutes in epoch micros
    val ev = table(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
    val order = Window.partitionBy("user_id")
      .orderBy("ts_us", "event_type", "event_id")
    val back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val clickState = when(col("event_type") === "click",
      struct(col("ts_us"), col("event_id")))
    val staged = ev
      .withColumn("prev", last(clickState, ignoreNulls = true).over(back))
      .withColumn("nxt", first(clickState, ignoreNulls = true).over(fwd))
      .filter(col("event_type") === "purchase")
    val dPrev = col("ts_us") - col("prev.ts_us")
    val dNext = col("nxt.ts_us") - col("ts_us")
    val usePrev = col("prev").isNotNull && dPrev <= win &&
      (col("nxt").isNull || dNext > win || dPrev <= dNext)
    val useNext = col("nxt").isNotNull && dNext <= win
    staged.select(col("event_id"), col("user_id"),
      when(usePrev, col("prev.event_id"))
        .when(useNext, col("nxt.event_id")).as("click_id"),
      when(usePrev, col("prev.ts_us"))
        .when(useNext, col("nxt.ts_us")).as("click_ts_us"))
  }

  /** J10 (beyond §2.B): the skew-salting kernel through the gate —
    * salted fact×dim equi-join (hot keys scattered across 8 sub-keys,
    * dim replicated per salt), aggregated after. Must equal the PLAIN
    * join by construction; the oracle is the plain join, so the gate
    * proves salting is result-invariant, not just unit-tested. */
  def j10SaltedJoin(s: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(
        table(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        table(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
                  col("o_orderpriority")),
        "l_orderkey", salts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           sum("l_quantity").cast("long").as("sum_qty"))

  /** J11 (beyond §2.B): the bucketed-layout join through the gate — both
    * sides written bucketBy(8, custkey)+sortBy and read back through the
    * session catalog, then joined AND aggregated on the bucket key. The
    * bucket layout co-locates every stage, so the whole query plans with
    * ZERO shuffle exchanges (plan-asserted in BucketedJoinSpec over this
    * very query): at 100 TB the shuffle is paid once at layout time, not
    * per query. The oracle is the plain join over the raw parquet — the
    * gate proves the layout is result-invariant. */
  def j11BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // ioDir's SF token keeps the dot (distinct SFs must not collide —
    // [^0-9] would map sf0.1 and sf01 to the same table/path); dots are
    // not legal in a table identifier, so map them to underscores
    val sf = dir.replaceAll("[^0-9.]", "").replace('.', '_')
    val (tOrders, tCust) = (s"graft_bkt_orders_$sf", s"graft_bkt_customer_$sf")
    // external tables (explicit path): a fresh session's in-memory catalog
    // has no entry for a leftover managed-table directory, so a managed
    // CREATE would die on LOCATION_ALREADY_EXISTS; an external overwrite
    // is idempotent across sessions
    table(s, dir, "orders").select("o_custkey", "o_orderkey")
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"/tmp/graft_io/$tOrders").saveAsTable(tOrders)
    table(s, dir, "customer").select("c_custkey", "c_name")
      .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"/tmp/graft_io/$tCust").saveAsTable(tCust)
    s.table(tOrders)
      .join(s.table(tCust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("c_custkey").asc)
      .limit(10)
  }

  /** SQL-text entry point: a TPC-H Q6-shaped revenue scan run as SQL
    * TEXT over the registered views (`graft.Tables.register`) instead of
    * the DataFrame API — the declared proof that the inherited Spark SQL
    * parser surface works end to end. The predicate set (date window +
    * discount band + quantity cap) reaches the parquet scan as
    * PushedFilters exactly like a DataFrame twin would; revenue stays on
    * exact decimals, scaled to BIGINT 1e-4 units for the hash gate. */
  def q6SqlText(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql("""
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)
               AS revenue_e4,
             count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""")
  }

  /** J8: cross join (small dimension × small dimension). */
  def j8Cross(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "nation").select(col("n_name"))
      .crossJoin(table(s, dir, "region").select(col("r_name")))

  /** J9: interval-overlap self-join — pairs of error events by the same
    * user whose 10-minute windows overlap. Equi-join on user_id (hash
    * partitionable) with the interval predicate as join filter — never a
    * cartesian; per-user density bounds the output. */
  def j9IntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    def errs(alias: String) = table(s, dir, "events")
      .filter(col("event_type") === "error")
      .select(col("event_id").as(s"${alias}_id"),
              col("user_id").as(s"${alias}_user"),
              unix_micros(col("ts")).as(s"${alias}_us"))
    val win = 600L * 1000000L
    errs("a").join(errs("b"),
        col("a_user") === col("b_user") && col("a_id") < col("b_id") &&
        col("b_us") < col("a_us") + win && col("a_us") < col("b_us") + win)
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"))
  }

  /** J6 (auto-rewrite path): the NATURAL range-join formulation a user
    * would write — fact `v` against a literal table of sorted contiguous
    * half-open (lo, hi, out) ranges. The [[graft.plans.RangeJoinToRemap]]
    * optimizer rule proves the invariant on the literal rows at plan time
    * and rewrites the theta-join into the codegen'd O(log n)
    * [[graft.functions.RangeRemap]] binary search — the optimized plan
    * has NO join operator (asserted in RangeJoinToRemapSpec). The oracle
    * runs the join the user wrote. */
  def j6RangeAutoRewrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranges = Seq((0.0, 10.0, 1), (10.0, 25.0, 2), (25.0, 40.0, 3),
                     (40.0, 55.0, 4)).toDF("lo", "hi", "out")
    val li = table(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("double").as("v"))
    li.join(ranges, li("v") >= ranges("lo") && li("v") < ranges("hi"))
      .select(col("l_orderkey"), col("l_linenumber"), col("out"))
  }

  // ---------- A: aggregations ----------

  /** A1: global min/max/count/avg/stddev in one pass. avg of an
    * integer-valued double is exact (integer sum / count); stddev is
    * rounded — it is the one inherently float-ordering-dependent stat. */
  def a1Stats(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .agg(count(lit(1)).as("n"),
           min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
           sum("l_quantity").cast("long").as("sum_qty"),
           avg("l_quantity").as("avg_qty"),
           round(stddev("l_quantity"), 6).as("sd_qty"),
           (min(col("l_extendedprice").cast(dec)) * 100).cast("long")
             .as("min_price_cents"),
           (max(col("l_extendedprice").cast(dec)) * 100).cast("long")
             .as("max_price_cents"))

  /** A2: hash group-by aggregation (partial+final via Catalyst). */
  def a2GroupBy(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
           sum("l_quantity").cast("long").as("sum_qty"),
           (sum(col("l_extendedprice").cast(dec)) * 100).cast("long")
             .as("sum_price_cents"))

  /** A3: count distinct per group (expand+two-phase under the hood). */
  def a3Distinct(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(countDistinct("l_partkey").as("n_parts"),
           countDistinct("l_suppkey").as("n_supps"))

  /** A4: approx_count_distinct (HLL++). HLL sketches differ across
    * engines, so the oracle checks the CONTRACT instead of the sketch:
    * the approximation must land within 5% of the exact count (the
    * query emits the exact count and a pass flag; oracle recomputes the
    * exact count and expects flag=1). */
  def a4ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .agg(countDistinct("l_partkey").as("exact_nd"),
           approx_count_distinct("l_partkey", 0.02).as("approx_nd"))
      .select(col("exact_nd"),
        (abs(col("approx_nd") - col("exact_nd")) <=
          col("exact_nd") * 0.05).cast("int").as("within_5pct"))

  /** A11 (ext): approx_percentile (GK-style quantile sketch). Like A4,
    * the sketch differs across engines, so the oracle checks the
    * CONTRACT: each approximate quantile must land within 1% of the
    * corresponding exact quantile of l_quantity — OR within one value
    * step (1.0 for this integer column). The sketch's guarantee is
    * bounded RANK error (n/accuracy), and when a target rank falls near
    * a value-run boundary the returned element legitimately lands one
    * integer over (observed: p50 → 26 vs exact 25 at sf0.1); crossing a
    * WHOLE run would need rank error ≥ the run length, far beyond the
    * bound, so ±1 step is the tight robust tolerance at any SF. The flag
    * column is named for the tolerance actually enforced (within_tol =
    * max(1%, one value step)), not a bare percentage. Emits exact
    * quantiles + the pass flag; the oracle recomputes the exact side and
    * expects flag=1. */
  def a11ApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    table(s, dir, "lineitem")
      .agg(percentile_approx(col("l_quantity"),
             array(qs.map(lit): _*), lit(10000)).as("apx"),
           expr(s"percentile(l_quantity, array(${qs.mkString(", ")}))")
             .as("exact"))
      .select(
        (0 until qs.length).map(i =>
          element_at(col("exact"), i + 1).as(s"p${(qs(i) * 100).toInt}")) :+
        (0 until qs.length).map(i =>
          abs(element_at(col("apx"), i + 1) -
              element_at(col("exact"), i + 1)) <=
            greatest(abs(element_at(col("exact"), i + 1)) * 0.01, lit(1.0)))
          .reduce(_ && _).cast("int").as("within_tol"): _*)
  }

  /** A5: rollup with grouping_id (same bitmask convention as DuckDB's
    * GROUPING(a,b): leftmost key = most significant bit). */
  def a5Rollup(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
           sum("l_quantity").cast("long").as("sum_qty"))

  /** A6: collect_set made deterministic: sort then join to one string. */
  def a6Collect(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(concat_ws(",", array_sort(collect_set(col("l_linestatus"))))
        .as("statuses"))

  /** A8: argmax via max_by over a (value, tiebreak) struct — fully
    * deterministic even with duplicate account balances. Money leaves as
    * BIGINT cents: exact decimal arithmetic, and a representation the
    * gate hashes identically in every engine (a DECIMAL column renders
    * "9987.10" via pyarrow but "9987.1" via a float64 bridge). */
  def a8ArgMax(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(max_by(col("c_name"), struct(col("c_acctbal"), col("c_custkey")))
             .as("top_customer"),
           (max(col("c_acctbal").cast(dec)) * 100).cast("long")
             .as("top_acctbal_cents"))

  /** A10: custom typed Aggregator — the reference's remap-range merge
    * (pyt:1119-1138) run distributed per group. Each distinct value feeds
    * the aggregator twice (a degenerate (v,v) pair, §1.4(6) unique-value
    * semantics); finish = sort, drop first, max-bump, comma-join. */
  def a10RangeMerge(s: SparkSession, dir: String): DataFrame = {
    val rangeMerge = udaf(new graft.classify.RangeMergeAgg)
    table(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linenumber").cast("double").as("v"))
      .distinct()
      .select(col("l_returnflag"), explode(array(col("v"), col("v"))).as("b"))
      .groupBy("l_returnflag")
      .agg(rangeMerge(col("b")).as("remap"))
  }

  // ---------- W: window functions ----------

  /** W1: ranking — top order per customer (row_number, tie-broken). */
  def w1Rank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
              (col("o_totalprice").cast(dec) * 100).cast("long")
                .as("top_price_cents"))
  }

  /** W2: lag — inter-event gap per user in microseconds. */
  def w2Lag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .select(col("event_id"), col("user_id"),
              lag("event_id", 1).over(w).as("prev_id"),
              (col("ts_us") - lag("ts_us", 1).over(w)).as("gap_us"))
  }

  /** W12: EXPONENTIAL smoothing (EWMA, decay 1/2) — the trend signal a
    * plain moving average lags behind, integer-EXACT where the
    * textbook recursive form (s·α + v·(1−α)) never is cross-engine:
    * the horizon is bounded at 16 events (decay 1/2 makes older terms'
    * weight < 2^-15 of the newest — numerically irrelevant, here
    * exactly zero) and the weights are powers of two, so the smoothed
    * value is the exact rational ewma_num/ewma_den with both sides
    * BIGINT sums of cents·2^(15−j). 16 lag reads share ONE window
    * frame (one user_id exchange); a series younger than the horizon
    * normalizes by the weights actually present (ewma_den), not an
    * assumed-full frame — the warm-up-bias trap. */
  def w12Ewma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    def v(j: Int): Column =
      if (j == 0) col("cents") else lag(col("cents"), j).over(w)
    val num = (0 until 16).map { j =>
      coalesce(v(j) * (1L << (15 - j)), lit(0L)) }.reduce(_ + _)
    val den = (0 until 16).map { j =>
      when(v(j).isNotNull, lit(1L << (15 - j))).otherwise(lit(0L)) }
      .reduce(_ + _)
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("ts_us"),
              round(col("value") * 100).cast("long").as("cents"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
              num.as("ewma_num"), den.as("ewma_den"))
  }

  /** Generated 16-term EWMA lag sums shared with [[w12Ewma]]'s shape —
    * mechanically the same power-of-two weights, so both engines sum
    * identical BIGINT terms. */
  private def w12EwmaSql: String = {
    def v(j: Int) = if (j == 0) "cents" else s"lag(cents, $j) OVER w"
    val num = (0 until 16)
      .map(j => s"coalesce((${v(j)}) * ${1L << (15 - j)}, 0)")
      .mkString(" +\n    ")
    val den = (0 until 16)
      .map(j => s"CASE WHEN (${v(j)}) IS NOT NULL THEN ${1L << (15 - j)} ELSE 0 END")
      .mkString(" +\n    ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events)
       |SELECT event_id, user_id, ts_us,
       |  CAST($num AS BIGINT) AS ewma_num,
       |  CAST($den AS BIGINT) AS ewma_den
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin
  }

  /** W3: running aggregate (rowsBetween unboundedPreceding..current).
    * Decimal accumulator: a running float sum is order-exact only
    * per-prefix; decimal makes it engine-exact too. */
  def w3Running(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("ts_us"),
              col("value").cast(dec).as("v"))
      .select(col("event_id"), col("user_id"),
              count(lit(1)).over(w).as("run_n"),
              (sum("v").over(w) * 100).cast("long").as("run_sum_cents"))
  }

  /** W4: range frame — trailing 10-minute moving sum per user over event
    * time (rangeBetween on epoch micros). */
  def w4Moving(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-600L * 1000000L, 0)
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("ts_us"),
              col("value").cast(dec).as("v"))
      .select(col("event_id"), col("user_id"),
              count(lit(1)).over(w).as("win_n"),
              (sum("v").over(w) * 100).cast("long").as("win_sum_cents"))
  }

  /** W5: ntile + percent_rank. A single global window: acceptable here
    * because exact positional ntile is inherently a total order — the
    * scale path is [[w5QuantileBuckets]] below. */
  def w5Ntile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    table(s, dir, "orders")
      .select(col("o_orderkey"),
              ntile(4).over(w).as("quartile"),
              percent_rank().over(w).as("pr"))
  }

  /** W5 scale path: value-based quartile assignment with NO
    * single-partition window. Pass 1 computes the three quartile cut
    * points as one distributed aggregate; pass 2 broadcast-joins the
    * 1-row cut table and assigns buckets by comparison — every stage is
    * keyed or map-side, so the plan survives a 100× scale-up (at 100 TB,
    * swap `percentile` for `approx_percentile` with an accuracy bound;
    * the plan shape is identical, but exact percentile keeps this
    * oracle-checkable). Differs from positional ntile only in tie/
    * remainder placement — documented, value-deterministic semantics. */
  def w5QuantileBuckets(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").cast("double").as("v"))
    val cuts = o.agg(
      percentile(col("v"), lit(0.25)).as("c25"),
      percentile(col("v"), lit(0.50)).as("c50"),
      percentile(col("v"), lit(0.75)).as("c75"))
    o.join(broadcast(cuts))
      .select(col("o_orderkey"),
        (lit(1) + (col("v") >= col("c25")).cast("int")
                + (col("v") >= col("c50")).cast("int")
                + (col("v") >= col("c75")).cast("int")).as("quartile"))
  }

  // ---------- O: sort / limit / set ops ----------

  /** O2: top-k (TakeOrderedAndProject — no global sort materialized). */
  def o2TopK(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"),
              (col("o_totalprice").cast(dec) * 100).cast("long")
                .as("price_cents"))

  /** O3: union all + aggregate over the union. */
  def o3Union(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .unionByName(
        table(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("n_rows"))

  /** O4: except + intersect, tagged into one result. */
  def o4SetOps(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val p = table(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.except(p).withColumn("op", lit("except"))
      .unionByName(c.intersect(p).withColumn("op", lit("intersect")))
  }

  /** F24 — explicit-format TIMESTAMP parsing under tolerance (the
    * classic cross-engine minefield: implicit casts guess formats,
    * engines guess differently — the portable form is an EXPLICIT
    * pattern + UTC session + try_-tolerance): event times render to
    * strings with a pinned pattern, every 89th record is CORRUPTED
    * (truncated to the date half), and `try_to_timestamp` parses
    * back — corrupt rows land as NULL, not a dead scan (the
    * f12/f23/src5 discipline applied to time). The gate checks
    * parse∘format ≡ identity on clean rows (micros compared as
    * BIGINT) and counts the planted corruption per event_type. */
  def f24TimestampParse(s: SparkSession, dir: String): DataFrame = {
    val rendered = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    val raw = when(col("event_id") % 89 === 0, substring(rendered, 1, 10))
      .otherwise(rendered)
    table(s, dir, "events")
      .select(col("event_type"), col("ts"),
        try_to_timestamp(raw, lit("yyyy-MM-dd HH:mm:ss.SSSSSS")).as("back"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("back")).as("n_parsed"),
        sum((unix_micros(col("back")) === unix_micros(col("ts")))
          .cast("long")).as("n_roundtrip"),
        min(unix_micros(col("back"))).as("min_us"),
        max(unix_micros(col("back"))).as("max_us"))
  }

  /** A26 — ordered string aggregation (LISTAGG / string_agg WITHIN
    * GROUP — the report-formatting aggregate): per nation the
    * lexicographically ordered, comma-joined supplier names. The
    * ORDER BY inside the aggregate is the semantic payload — an
    * unordered listagg is nondeterministic under parallel merge, so
    * the portable form always pins the order. Composed as
    * array_join∘sort_array∘collect_list: partial collect_lists merge
    * associatively and the sort happens ONCE per group at finish —
    * same single-exchange shape as any hash aggregate. */
  def a26Listagg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "supplier")
      .join(table(s, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        array_join(sort_array(collect_list(col("s_name"))), ",")
          .as("names"))

  /** V7 — REFERENTIAL-INTEGRITY audit (the dbt-test / Deequ
    * `references` check; v6 profiled columns, this audits RELATIONS):
    * per foreign-key edge, child row count and ORPHAN count (children
    * whose parent key has no match) — each relation is one left-anti
    * join, planned broadcast where the parent is a dim. Orphans are
    * PLANTED (every 500th order re-keyed to customer + 10⁹ — a
    * corrupted ingest batch unioned in) so the audit is non-vacuous:
    * the planted edge reports exactly its plant count, the clean
    * edges report zero, and at 100 TB each audit costs one keyed
    * anti-join over the child table — no child joins more than its
    * own parents. */
  def v7ReferentialAudit(s: SparkSession, dir: String): DataFrame = {
    val o0 = table(s, dir, "orders")
    // the corrupted batch: every 500th order RE-KEYED to a customer
    // that does not exist
    val orders = o0.withColumn("o_custkey",
      when(col("o_orderkey") % 500 === 0, col("o_custkey") + 1000000000L)
        .otherwise(col("o_custkey")))
    val li = table(s, dir, "lineitem")
    def audit(rel: String, child: DataFrame, key: Column,
              parent: DataFrame, pkey: Column): DataFrame = {
      val orphans = child.select(key.as("k"))
        .join(parent.select(pkey.as("pk")), col("k") === col("pk"),
          "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphan")))
        .select(lit(rel).as("relation"), col("n_child"), col("n_orphan"))
    }
    audit("orders->customer", orders, col("o_custkey"),
        table(s, dir, "customer"), col("c_custkey"))
      .unionByName(audit("lineitem->orders", li, col("l_orderkey"),
        o0, col("o_orderkey")))
      .unionByName(audit("lineitem->part", li, col("l_partkey"),
        table(s, dir, "part"), col("p_partkey")))
  }

  /** O8 — BAG-semantics set ops (EXCEPT ALL / INTERSECT ALL — o4's
    * forms are the DISTINCT ones; the ALL forms subtract/keep
    * MULTIPLICITIES, the semantics multiset reconciliation and
    * change-data comparison actually need): customer vs supplier
    * nation keys as bags — a nation with 40 customers and 3 suppliers
    * keeps 37 rows under EXCEPT ALL (one under EXCEPT) and 3 under
    * INTERSECT ALL. Re-aggregated per key so the gate is scalar;
    * Spark plans both as multiplicity arithmetic over ONE hash
    * aggregate per side (no join explosion). */
  def o8SetopsAll(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"))
    val p = table(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey"))
    c.exceptAll(p).groupBy("nationkey")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      .unionByName(
        c.intersectAll(p).groupBy("nationkey")
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all")))
  }

  /** O9 — explicit NULL-ordering discipline (NULLS FIRST / NULLS
    * LAST): engines DISAGREE on default null placement (Spark: nulls
    * first ascending; DuckDB: nulls last) — the ONLY portable ordered
    * query over a nullable key spells the placement out. Ranking over
    * a planted-null key (every acctbal in [0, 100) cents nulls out)
    * with BOTH disciplines side by side; rank columns make the
    * placement semantic, not cosmetic, and the tie-break key keeps
    * the gate exact. */
  def o9NullOrdering(s: SparkSession, dir: String): DataFrame = {
    val cents = when(round(col("s_acctbal") * 100).cast("long")
        .between(0L, 99L), lit(null).cast("long"))
      .otherwise(round(col("s_acctbal") * 100).cast("long"))
    val wf = Window.orderBy(cents.asc_nulls_first, col("s_suppkey"))
    val wl = Window.orderBy(cents.asc_nulls_last, col("s_suppkey"))
    table(s, dir, "supplier")
      .select(col("s_suppkey"), cents.as("cents"),
        row_number().over(wf).as("rk_nulls_first"),
        row_number().over(wl).as("rk_nulls_last"))
  }

  /** O10 — 2-D SKYLINE / Pareto front (the multi-criteria dominance
    * query — "no other point is ≥ on both dims and > on one"):
    * maximize (quantity, extendedprice) over lineitem. The scalable
    * decomposition exploits the dominance-preserving reduction: any
    * pair (u, c) with c < max-cents-at-u is dominated WITHIN its u
    * slice, so per-u argmax (one hash aggregate, map-side combined)
    * shrinks the fact table to the u-domain (≤50 rows) before the
    * front test runs — the front itself is then the classic 2-D
    * sort-scan: survive iff cents STRICTLY exceeds the running max
    * over all higher u (equal cents at higher u dominates). The
    * unpartitioned window is bounded by the u domain, never the fact
    * table — at any SF the frame is ≤50 rows (a wider value domain
    * buckets first; the reduction is the same). Each front pair
    * carries n_rows, the fact multiplicity of the exact (u, cents)
    * point, folded through the two-level aggregate — no join back.
    * The oracle recomputes the front by NOT-EXISTS dominance — the
    * definitional independent formulation. */
  def o10Skyline(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("u").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    table(s, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("u"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .groupBy("u", "cents").agg(count(lit(1)).as("n"))
      .groupBy("u")
      .agg(max(struct(col("cents"), col("n"))).as("m"))
      .select(col("u"), col("m.cents").as("cents"), col("m.n").as("n_rows"))
      .withColumn("hi", max("cents").over(w))
      .filter(col("hi").isNull || col("cents") > col("hi"))
      .select("u", "cents", "n_rows")
  }

  // ---------- F: scalar function families ----------

  /** F1: string family over part names. */
  def f1String(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(
      col("p_partkey"),
      lower(col("p_name")).as("lo_name"),
      upper(col("p_brand")).as("up_brand"),
      length(col("p_name")).as("name_len"),
      substring_index(col("p_name"), " ", 1).as("first_word"),
      regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
      regexp_replace(col("p_name"), " ", "_").as("snake_name"),
      substring(col("p_type"), 1, 5).as("type5"),
      trim(concat(lit("  "), col("p_brand"), lit("  "))).as("trimmed"),
      col("p_type").startsWith("STANDARD").cast("int").as("is_std"))

  /** F3: date/time family — monthly order rollup. The month leaves as an
    * ISO string and money as BIGINT cents: bare DATE/DECIMAL columns render
    * differently across the gate's two readers (date vs midnight-datetime,
    * "x.10" vs "x.1"), so outputs stay on hash-stable primitives. */
  def f3DateTime(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
                 .as("m"))
      .agg(count(lit(1)).as("n_orders"),
           sum(col("o_totalprice").cast(dec)).as("sum_price"))
      .select(date_format(col("m"), "yyyy-MM-dd").as("month_start"),
              year(col("m")).as("yr"),
              quarter(col("m")).as("qtr"),
              col("n_orders"),
              (col("sum_price") * 100).cast("long").as("sum_price_cents"))

  /** F6: JSON family — extract props.k, aggregate by it. */
  def f6Json(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
              col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
           (sum(col("value").cast(dec)) * 100).cast("long")
             .as("sum_value_cents"))

  // ---------- SRC/SNK: sources and sinks ----------

  // ioDir lives in the ops package object — shared with LlmQueries'
  // persisted-index paths so the convention cannot drift.

  /** SRC2: CSV round-trip with RFC-4180 quote handling — values carrying
    * commas and embedded quotes survive write+read (escape=quote, i.e.
    * doubled quotes, NOT Spark's backslash default). */
  def src2Csv(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir(dir, "src2csv")
    val tricky = table(s, dir, "nation").select(
      col("n_nationkey"),
      concat(lit("x,\""), col("n_name"), lit("\"y")).as("tricky"))
    tricky.coalesce(1).write.mode("overwrite")
      .option("quote", "\"").option("escape", "\"").option("header", "true")
      .csv(out)
    s.read
      .option("quote", "\"").option("escape", "\"").option("header", "true")
      .schema("n_nationkey INT, tricky STRING")
      .csv(out)
  }

  /** SRC4: ORC sink + source round-trip — the columnar alternative to
    * parquet (built into spark-sql; same pushdown/pruning machinery).
    * Writes a lineitem projection as zlib ORC, reads it back, and
    * aggregates; the oracle computes the same aggregate from the parquet
    * original, so the gate proves write+read value fidelity, type
    * mapping (timestamp included), and that predicates still prune. */
  def src4Orc(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir(dir, "src4orc")
    table(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
              "l_shipdate")
      .write.mode("overwrite").option("compression", "zlib").orc(out)
    s.read.orc(out)
      .filter(col("l_shipdate") >= lit("1997-01-01"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
           sum("l_quantity").cast("long").as("sum_qty"),
           sum(round(col("l_extendedprice") * 100).cast("long"))
             .as("sum_base_cents"))
  }

  /** SRC3: JSON-lines source — parse the props column as a JSON dataset
    * (schema inference + read), then aggregate. */
  def src3Json(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val jsonl = table(s, dir, "events").select(col("props")).as[String]
    s.read.json(jsonl)
      .groupBy(col("k").cast("int").as("k"))
      .agg(count(lit(1)).as("n"))
  }

  /** SRC5: MALFORMED-input tolerance at the source — PERMISSIVE JSON
    * parsing: every 10th line is truncated (unparseable); the read
    * captures it in the corrupt-record column instead of failing the
    * scan, and the query reports valid/corrupt counts plus the valid
    * lines' key sum. The ingestion posture a 100 TB crawl read needs —
    * FAILFAST dies on the first bad byte of a petabyte. The plants are
    * deterministic, so the oracle computes the same partition of lines
    * arithmetically. */
  def src5JsonCorrupt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val jsonl = table(s, dir, "events")
      .select(when(col("event_id") % 10 === 0,
        substring(col("props"), 1, 4)).otherwise(col("props")).as("line"))
      .as[String]
    s.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema("k INT, _bad STRING")
      .json(jsonl)
      .agg(count(lit(1)).as("n"),
           count(col("k")).as("n_valid"),
           count(col("_bad")).as("n_corrupt"),
           sum(col("k")).cast("long").as("sum_k"))
  }

  /** SRC6: SCHEMA EVOLUTION on read — a long-lived table's early files
    * predate a column added later; `mergeSchema` reconciles the footers
    * and the old files surface NULL for the new column (no rewrite of
    * petabytes of history to add a field). Batch 1 (even orderkeys)
    * lacks o_orderpriority, batch 2 carries it; the aggregate groups by
    * the evolved column, so batch-1 rows land in the NULL group. The
    * oracle rebuilds the same split arithmetically from the source
    * table. */
  def src6SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir(dir, "src6evo")
    val o = table(s, dir, "orders")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
      .write.mode("overwrite").parquet(s"$out/v1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"),
              col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/v2")
    s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
  }

  /** SRC7: RAW TEXT / log-line ingestion — `spark.read.text` plus an
    * in-plan parse (split-with-limit, the delimited-log shape; a
    * regexp_extract parse is the same plan with a different
    * expression): documents round-trip through a line-oriented text
    * file as `id|lang|text` and are parsed back into typed columns.
    * The limit-3 split keeps any later delimiter inside the payload —
    * the field-count trap every log parser hits. The aggregate groups
    * the PARSED columns (cast long id sum + per-lang word counts), so
    * the gate proves the round-trip is lossless, not just countable;
    * the oracle reads the source table directly. Text files split by
    * line at any scale — the format is as parallel as parquet for
    * ingest (and the reason it appears here: 100 TB of crawl logs
    * arrive as text, not parquet). */
  def src7TextSource(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir(dir, "src7txt")
    table(s, dir, "documents")
      .select(concat_ws("|", col("doc_id"), col("lang"), col("text"))
        .as("value"))
      .write.mode("overwrite").text(out)
    val parsed = s.read.text(out)
      .select(split(col("value"), "\\|", 3).as("f"))
      .select(element_at(col("f"), 1).cast("long").as("doc_id"),
              element_at(col("f"), 2).as("lang"),
              element_at(col("f"), 3).as("text"))
    parsed.groupBy("lang")
      .agg(count(lit(1)).as("n"),
           sum(col("doc_id")).as("sum_id"),
           sum(size(split(col("text"), " ")).cast("long")).as("sum_words"))
  }

  /** SNK2: partitioned parquet sink + partition-pruned read-back (the
    * 100 TB mosaic layout, R26/SNK2): write events partitioned by
    * event_type, read back only two partitions (directory pruning — the
    * scan never touches the other partitions' files). */
  def snk2Partitioned(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir(dir, "snk2part")
    table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
              col("value").cast(dec).as("v"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.read.parquet(out)
      .filter(col("event_type").isin("purchase", "error"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           (sum("v") * 100).cast("long").as("sum_value_cents"))
  }

  /** SNK5: fact-scale partitioned MERGE — SNK2's layout + pruning
    * composed with the R18+ merge ([[graft.catalog.PartitionMerge]]):
    * a batch of updates (value-doubled every-7th purchase/error event)
    * and inserts (+1e9-id purchase copies) rewrites ONLY the two
    * partitions it touches; click/signup/view files are never read or
    * written (byte-identity spec-pinned in LayoutSpec). The declared
    * result re-reads the WHOLE table post-merge, so untouched
    * partitions prove themselves by summing correctly. */
  def snk5PartitionMerge(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir(dir, "snk5fact")
    table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
              col("value").cast(dec).as("v"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val ev = table(s, dir, "events")
    val updates = ev
      .filter(col("event_type").isin("purchase", "error") &&
              col("event_id") % 7 === 0)
      .select(col("event_id"), col("event_type"),
              (col("value").cast(dec) * 2).cast(dec).as("v"))
    val inserts = ev
      .filter(col("event_type") === "purchase" && col("event_id") % 11 === 0)
      .select((col("event_id") + 1000000000L).as("event_id"),
              col("event_type"), col("value").cast(dec).as("v"))
    graft.catalog.PartitionMerge.mergeInto(s, out,
      updates.unionByName(inserts), "event_type", "event_id", Seq("v"))
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           (sum("v") * 100).cast("long").as("sum_value_cents"))
  }

  /** SNK6: targeted partition-pruned DELETE
    * ([[graft.catalog.PartitionMerge.deleteFrom]]) — the GDPR operation
    * over the SNK5 layout: remove every 13th purchase and every 17th
    * error event; click/signup/view partitions are never touched. The
    * declared result re-reads the whole table post-delete. */
  def snk6GdprDelete(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir(dir, "snk6fact")
    table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
              col("value").cast(dec).as("v"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val deletes = table(s, dir, "events")
      .filter((col("event_type") === "purchase" && col("event_id") % 13 === 0) ||
              (col("event_type") === "error" && col("event_id") % 17 === 0))
      .select(col("event_id"), col("event_type"))
    graft.catalog.PartitionMerge.deleteFrom(s, out, deletes,
      "event_type", "event_id")
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           (sum("v") * 100).cast("long").as("sum_value_cents"))
  }

  /** SNK7: SNAPSHOT-VERSIONED commits + TIME TRAVEL
    * ([[graft.catalog.SnapshotTable]]): commit the per-type event
    * aggregate as version 1, commit a MERGED version 2 on top (purchase
    * doubled, a synthetic 'refund' group inserted), then time-travel
    * read version 1 AFTER the merge landed — the declared result must
    * equal the pre-merge replay, proving the commit protocol left the
    * old snapshot byte-untouched (the snapshot-isolation property the
    * rename-swap sinks lack; concurrent-writer conflicts are
    * spec-pinned in SnapshotTableSpec). */
  def snk7TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk7snap")
    // self-contained protocol demo: restart the table each run so the
    // version numbers below are deterministic
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = table(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           (sum(col("value").cast(dec)) * 100).cast("long")
             .as("sum_value_cents"))
    val v1 = SnapshotTable.commit(base, root, expectedBase = 0L)
    val merged = SnapshotTable.readLatest(s, root)
      .withColumn("sum_value_cents",
        when(col("event_type") === "purchase", col("sum_value_cents") * 2)
          .otherwise(col("sum_value_cents")))
      .unionByName(s.range(1).select(lit("refund").as("event_type"),
        lit(1L).as("n"), lit(-100L).as("sum_value_cents")))
    SnapshotTable.commit(merged, root, expectedBase = v1)
    SnapshotTable.read(s, root, v1)
  }

  /** SNK9: CHANGE FEED between snapshot versions
    * ([[graft.catalog.SnapshotTable.changes]], the Delta-CDF shape):
    * v1 = the per-type aggregate over two thirds of the events plus a
    * synthetic 'legacy' group (the planted DELETE), v2 = the full
    * aggregate plus a synthetic 'refund' group (the planted INSERT);
    * every real type's counts change between the versions, so they
    * emit as UPDATEs with post-images. The oracle derives all three
    * change classes arithmetically from the events table. */
  def snk9ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk9cdf")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    def agg(df: DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           (sum(col("value").cast(dec)) * 100).cast("long")
             .as("sum_value_cents"))
    val ev = table(s, dir, "events")
    val v1 = agg(ev.filter(col("event_id") % 3 =!= 0))
      .unionByName(s.range(1).select(lit("legacy").as("event_type"),
        lit(1L).as("n"), lit(-1L).as("sum_value_cents")))
    val v2 = agg(ev)
      .unionByName(s.range(1).select(lit("refund").as("event_type"),
        lit(2L).as("n"), lit(-200L).as("sum_value_cents")))
    SnapshotTable.commit(v1, root, 0L)
    SnapshotTable.commit(v2, root, 1L)
    SnapshotTable.changes(s, root, 1L, 2L, Seq("event_type"))
  }

  /** SNK10: COMMIT BY REFERENCE
    * ([[graft.catalog.SnapshotTable.commitReplace]]): version 1 is the
    * events table hive-partitioned on event_type; version 2 REPLACES
    * only the 'purchase' partition (values doubled, every 5th key
    * deleted) and DROPS 'error' outright — writing nothing but the new
    * purchase files, with every untouched partition REFERENCED from
    * v1's manifest verbatim (same paths, same bytes — spec-pinned in
    * SnapshotTableSpec). The declared result aggregates BOTH versions
    * after the replace landed, so the gate proves time travel AND
    * partition-scoped replace semantics together; the oracle replays
    * the two states arithmetically. The 100-TB point of the row: a
    * commit pays I/O for the partitions it touches, never a table
    * rewrite. */
  def snk10CommitRef(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk10ref")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
    val v1 = SnapshotTable.commitPartitioned(base, root, 0L, "event_type")
    val updates = base
      .filter(col("event_type") === "purchase" && col("event_id") % 5 =!= 0)
      .withColumn("cents", col("cents") * 2)
    val v2 = SnapshotTable.commitReplace(updates, root, v1, "event_type",
      dropParts = Seq("error"))
    def agg(v: Long) = SnapshotTable.read(s, root, v)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .withColumn("version", lit(v))
      .select("version", "event_type", "n", "sum_cents")
    agg(v1).unionByName(agg(v2))
  }

  /** SNK11: CHANGE-FEED-DRIVEN MV MAINTENANCE — the IVM composition
    * MvSpec proves, declared end-to-end: v1 holds two thirds of the
    * keyed events, v2 inserts the rest, doubles every 7th key's cents
    * (updates) and drops every 11th (deletes); the PREIMAGE change
    * feed ([[graft.catalog.SnapshotTable.changes]]) drives the view —
    * insert/update_postimage rows fold in as [[graft.catalog.Mv]]
    * partials, delete/update_preimage rows retract through
    * [[graft.catalog.Mv.deletePartials]]+mergeDeletes, and max repairs
    * group-scoped from the new version only for groups whose retracted
    * max reached the stored max. The declared result is the MAINTAINED
    * view; the oracle RECOMPUTES the aggregate over v2's definition —
    * equality is the incremental-equals-recompute proof at gate
    * grain. Per-refresh cost is feed + group cardinality, never
    * history. */
  def snk11CdfMv(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.{Mv, SnapshotTable}
    val root = ioDir(dir, "snk11cdfmv")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
    val v1 = base.filter(col("event_id") % 3 =!= 0)
    val v2 = base.filter(col("event_id") % 11 =!= 0)
      .withColumn("cents",
        when(col("event_id") % 7 === 0, col("cents") * 2)
          .otherwise(col("cents")))
    SnapshotTable.commit(v1, root, 0L)
    SnapshotTable.commit(v2, root, 1L)
    val mv0 = Mv.partials(SnapshotTable.read(s, root, 1L),
      Seq("event_type"), col("cents"))
    val feed = SnapshotTable.changes(s, root, 1L, 2L, Seq("event_id"),
      preimages = true).localCheckpoint()
    val adds = feed.filter(
      col("change_type").isin("insert", "update_postimage"))
    val retracts = feed.filter(
      col("change_type").isin("delete", "update_preimage"))
    val withAdds = Mv.merge(mv0,
      Mv.partials(adds, Seq("event_type"), col("cents")), Seq("event_type"))
    val afterDeletes = Mv.mergeDeletes(withAdds,
      Mv.deletePartials(retracts, Seq("event_type"), col("cents")),
      Seq("event_type"))
    Mv.repairMax(afterDeletes, SnapshotTable.read(s, root, 2L),
        Seq("event_type"), col("cents"))
      .select("event_type", "n_rows", "sum_cents", "max_cents")
  }

  /** SNK12: MULTI-TABLE ATOMIC COMMIT
    * ([[graft.catalog.SnapshotGroup]]): a corpus and its per-doc index
    * commit as ONE group version (half the docs at v1, all at v2);
    * the declared result joins BOTH tables read at the PINNED v1 AFTER
    * v2 landed — if the pair could advance independently there would
    * exist a corpus-new/index-old window and the join would mismatch;
    * conflicts and torn-commit impossibility are spec-pinned in
    * SnapshotGroupSpec. Oracle replays v1's content arithmetically. */
  def snk12GroupCommit(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotGroup
    val root = ioDir(dir, "snk12grp")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val d = table(s, dir, "documents")
    def pair(df: DataFrame) = Map(
      "corpus" -> df.select("doc_id", "source"),
      "index" -> df.select("doc_id", "n_chars"))
    val v1 = SnapshotGroup.commit(pair(d.filter(col("doc_id") % 2 === 0)),
      root, 0L)
    SnapshotGroup.commit(pair(d), root, v1)
    SnapshotGroup.read(s, root, "corpus", v1)
      .join(SnapshotGroup.read(s, root, "index", v1), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
           sum("n_chars").cast("long").as("sum_chars"))
  }

  /** SNK14: GROUP-COMMIT CHANGE FEED
    * ([[graft.catalog.SnapshotGroup.changes]]): a corpus and its
    * per-doc index advance through two ATOMIC group commits (v1 = the
    * even half; v2 = every non-%7 doc, with %3 sources rewritten and
    * %5 char counts shifted), then BOTH tables' change feeds are taken
    * at the SAME pinned version pair and composed by doc — the
    * cross-table delta a consumer of an atomically-committed pair
    * reads. The declared result counts docs by (corpus change class ×
    * index change class); the oracle derives both classifications
    * arithmetically from the documents table. Because the pair commits
    * atomically, the composition can never observe a corpus delta
    * without its matching index delta — which is exactly what the
    * count matrix's empty cells prove. */
  def snk14GroupFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotGroup
    val root = ioDir(dir, "snk14feed")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val d = table(s, dir, "documents")
    def pair(df: DataFrame) = Map(
      "corpus" -> df.select(col("doc_id"), col("source")),
      "index" -> df.select(col("doc_id"), col("n_chars")))
    val v1 = SnapshotGroup.commit(pair(d.filter(col("doc_id") % 2 === 0)),
      root, 0L)
    val d2 = d.filter(col("doc_id") % 7 =!= 0)
      .withColumn("source",
        when(col("doc_id") % 3 === 0, concat(col("source"), lit("_v2")))
          .otherwise(col("source")))
      .withColumn("n_chars",
        when(col("doc_id") % 5 === 0, col("n_chars") + 1000)
          .otherwise(col("n_chars")))
    val v2 = SnapshotGroup.commit(pair(d2), root, v1)
    val fc = SnapshotGroup.changes(s, root, "corpus", v1, v2, Seq("doc_id"))
      .select(col("doc_id"), col("change_type").as("corpus_change"))
    val fi = SnapshotGroup.changes(s, root, "index", v1, v2, Seq("doc_id"))
      .select(col("doc_id"), col("change_type").as("index_change"))
    fc.join(fi, Seq("doc_id"), "full_outer")
      .groupBy("corpus_change", "index_change")
      .agg(count(lit(1)).as("n"))
  }

  /** SNK13: MANIFEST DATA SKIPPING
    * ([[graft.catalog.SnapshotTable.readWhere]] over the per-entry
    * min/max stats [[graft.catalog.SnapshotTable.commitPartitioned]]
    * records): the events table snapshots hive-partitioned on an
    * event_id bucket, then a selective event_id range reads through
    * [[graft.catalog.SnapshotTable.pruneEntries]] — entries whose
    * recorded bounds exclude the range are never listed or scanned.
    * The declared result carries BOTH the filtered aggregate AND a
    * `_prune_entries` row = (entries scanned, entries total), and the
    * oracle recomputes the prune decision ARITHMETICALLY from each
    * bucket's true min/max — the skip itself is oracle-gated, not just
    * the surviving rows. 100-TB shape: a selective predicate against a
    * petabyte snapshot costs I/O proportional to the surviving
    * entries; this is the manifest-level analogue of the reference's
    * predicate pushdown into its geodatabase scan (pyt:152, 254). */
  def snk13StatsPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    import graft.catalog.SnapshotTable.Pred
    val root = ioDir(dir, "snk13prune")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / 2000).cast("long").as("bkt"))
    val v1 = SnapshotTable.commitPartitioned(base, root, 0L, "bkt")
    val preds = Seq(Pred("event_id", ">=", 1000L),
                    Pred("event_id", "<=", 2999L))
    val m = SnapshotTable.manifestAt(s, root, v1)
    val scanned = SnapshotTable.pruneEntries(m, preds).length.toLong
    val total = m.entries.length.toLong
    SnapshotTable.readWhere(s, root, v1, preds)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .unionByName(s.range(1).select(
        lit("_prune_entries").as("event_type"),
        lit(scanned).as("n"), lit(total).as("sum_cents")))
  }

  /** SNK16: ADD-ONLY SCHEMA EVOLUTION through the snapshot protocol
    * ([[graft.catalog.SnapshotTable.commitReplace]] with
    * `evolveSchema`): the events snapshot of snk13's shape commits v1
    * WITHOUT a `vclass` column, then ONE partition's rewrite carries
    * the new column and opts in — v2's recorded DDL appends `vclass`
    * as nullable, the untouched partitions re-reference their v1 files
    * VERBATIM (no backfill rewrite — the Delta/Iceberg ADD COLUMN
    * economics: a 100 TB table evolves for the cost of the one touched
    * partition), and reading v2 fills the old files' missing column
    * with NULL under the recorded schema. The declared result buckets
    * v2 by the evolved column with NULLs folded to a sentinel — the
    * oracle recomputes which events sit in the rewritten partition and
    * classifies only those, so BOTH halves of the evolution contract
    * (new column visible where written, NULL exactly where inherited)
    * gate arithmetically. */
  def snk16SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk16evolve")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / 2000).cast("long").as("bkt"))
    val v1 = SnapshotTable.commitPartitioned(base, root, 0L, "bkt")
    val upd = base.filter(col("bkt") === 1)
      .withColumn("vclass",
        when(col("cents") >= 5000L, lit("hi")).otherwise(lit("lo")))
    val v2 = SnapshotTable.commitReplace(upd, root, v1, "bkt",
      evolveSchema = true)
    SnapshotTable.read(s, root, v2)
      .groupBy(coalesce(col("vclass"), lit("<pre-evolution>"))
        .as("vclass"))
      .agg(count(lit(1)).as("n"),
           sum("cents").cast("long").as("sum_cents"))
  }

  /** SNK17: OPTIMIZE-style COMPACTION
    * ([[graft.catalog.SnapshotTable.compact]]): the events snapshot is
    * committed deliberately FRAGMENTED (a 12-way upstream repartition
    * leaves up to 12 small files per partition — the steady-state
    * shape of micro-batch ingest), then one compaction commit rewrites
    * every partition into a single file with the data bit-identical.
    * The file-count collapse and the after<before invariant are
    * asserted IN-QUERY (a compaction that failed to compact fails the
    * gate loudly); the declared result re-aggregates the POST-compact
    * snapshot so the oracle proves the rewrite changed nothing — the
    * whole point of OPTIMIZE. At 100 TB this is the maintenance
    * command that keeps scan cost bounded by data bytes instead of
    * file-open counts, and it costs only the partitions it touches. */
  def snk17Compact(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk17compact")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // SF-independent 8-bucket layout: width derives from the data (the
    // oracle replays it as a scalar subquery), so the gate exercises
    // the same partition count at every SF instead of exploding to
    // hundreds of tiny dirs at sf0.1 (gate scaffold, not signal)
    val events0 = table(s, dir, "events")
    val width = events0.agg(max("event_id")).head.getLong(0) / 8 + 1
    val base = events0
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / width).cast("long").as("bkt"))
    val v1 = SnapshotTable.commitPartitioned(
      base.repartition(12), root, 0L, "bkt")
    def dataFiles(v: Long): Long = {
      val m = SnapshotTable.manifestAt(s, root, v)
      m.entries.map { e =>
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$e"))
          .count(st => st.getPath.getName.endsWith(".parquet")).toLong
      }.sum
    }
    val before = dataFiles(v1)
    val v2 = SnapshotTable.compact(s, root, v1, "bkt")
    val after = dataFiles(v2)
    val nparts = SnapshotTable.manifestAt(s, root, v2).entries.length
    require(after == nparts && before > after,
      s"snk17: compaction left $after files over $nparts partitions " +
      s"(before: $before) — expected exactly one file per partition")
    SnapshotTable.read(s, root, v2)
      .groupBy("bkt")
      .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("sum_cents"))
  }

  /** SNK18: Z-ORDER CLUSTERED LAYOUT + MULTI-DIMENSION DATA SKIPPING
    * ([[graft.functions.ZOrder]] through the snapshot stats machinery):
    * the 100×100 cell grid commits twice — once partitioned on a
    * 16-block Morton-curve prefix (each block an axis-aligned 32×32
    * square, so BOTH r and c have bounded per-entry min/max) and once
    * on a 16-band row range (the 1-D layout: r bounded, c full-range
    * per entry). Two single-axis box predicates then show the
    * tradeoff that justifies Z-ordering at 100 TB: the row-box prunes
    * under BOTH layouts (the 1-D layout better on its own axis), but
    * the col-box prunes ONLY under the z layout — the row-banded
    * snapshot must scan all 16 entries, the z snapshot 4. Scanned
    * counts AND box sums are the declared result; the oracle replays
    * the interleave arithmetic ([[graft.functions.ZOrder.zBlockSql]]
    * emits the identical term sum), recomputes every block's r/c
    * bounds, and re-derives the prune decisions — the pruning itself
    * is gated, not just the surviving rows. */
  def snk18Zorder(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    import graft.catalog.SnapshotTable.Pred
    import graft.functions.ZOrder
    val zroot = ioDir(dir, "snk18zorder")
    val rroot = ioDir(dir, "snk18rowband")
    val fs = new org.apache.hadoop.fs.Path(zroot)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(zroot, rroot).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val cells = table(s, dir, "lineitem")
      .groupBy((col("l_orderkey") % 10000).as("cell_id"))
      .agg(sum((col("l_quantity").cast(dec) * 100).cast("long"))
        .cast("long").as("cents"))
      .select(col("cell_id"), col("cents"),
        expr("cell_id div 100").as("r"), (col("cell_id") % 100).as("c"))
    val zv = SnapshotTable.commitPartitioned(
      cells.withColumn("zb", ZOrder.zBlock(col("r"), col("c"), 7, 10)),
      zroot, 0L, "zb")
    val rv = SnapshotTable.commitPartitioned(
      cells.withColumn("rb", expr("(r * 16) div 100")), rroot, 0L, "rb")
    val zm = SnapshotTable.manifestAt(s, zroot, zv)
    val rm = SnapshotTable.manifestAt(s, rroot, rv)
    require(zm.entries.length == rm.entries.length,
      s"snk18: layouts disagree on partition count " +
      s"(${zm.entries.length} vs ${rm.entries.length})")
    val rowBox = Seq(Pred("r", ">=", 20L), Pred("r", "<=", 39L))
    val colBox = Seq(Pred("c", ">=", 10L), Pred("c", "<=", 29L))
    def audit(box: String, preds: Seq[Pred]): DataFrame = {
      val zScan = SnapshotTable.pruneEntries(zm, preds).length.toLong
      val rScan = SnapshotTable.pruneEntries(rm, preds).length.toLong
      val sum1 = SnapshotTable.readWhere(s, zroot, zv, preds)
        .agg(sum("cents")).head.getLong(0)
      val sum2 = SnapshotTable.readWhere(s, rroot, rv, preds)
        .agg(sum("cents")).head.getLong(0)
      require(sum1 == sum2,
        s"snk18: pruned reads disagree under $box ($sum1 vs $sum2)")
      s.range(1).select(lit(box).as("box"), lit(zScan).as("z_scanned"),
        lit(rScan).as("r_scanned"),
        lit(zm.entries.length.toLong).as("total"),
        lit(sum1).as("sum_cents"))
    }
    audit("row_box", rowBox).unionByName(audit("col_box", colBox))
  }

  /** SNK19: EXACTLY-ONCE MICRO-BATCH INGEST
    * ([[graft.stream.SnapshotSink.exactlyOnce]] over
    * [[graft.catalog.SnapshotTable.appendInto]]): three event-id-range
    * batches append through the foreachBatch sink surface, with the
    * middle batch DELIVERED TWICE (the at-least-once replay Structured
    * Streaming guarantees after a restart) — the tag-idempotent commit
    * makes the replay a provable no-op (version count asserted
    * in-query), and the oracle's plain full-table aggregate catches
    * any double-append arithmetically: one duplicated batch would
    * shift every touched group's count and sum. Each append is blind:
    * one partitioned write of the batch, stats from its footers, and
    * a manifest that re-references every earlier entry — no job
    * beyond the write, no re-read of the touched buckets. */
  def snk19AppendIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    import graft.stream.SnapshotSink
    val root = ioDir(dir, "snk19ingest")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // SF-independent 8-bucket layout (see snk17Compact)
    val events0 = table(s, dir, "events")
    val hi = events0.agg(max("event_id")).head.getLong(0)
    val width = hi / 8 + 1
    val base = events0
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / width).cast("long").as("bkt"))
    val cut1 = hi / 3
    val cut2 = 2 * hi / 3
    val sink = SnapshotSink.exactlyOnce(root, "bkt") _
    sink(base.filter(col("event_id") <= cut1), 0L)
    sink(base.filter(col("event_id") > cut1 && col("event_id") <= cut2), 1L)
    val vBefore = SnapshotTable.currentVersion(s, root)
    // at-least-once replay of batch 1 after a simulated restart
    sink(base.filter(col("event_id") > cut1 && col("event_id") <= cut2), 1L)
    require(SnapshotTable.currentVersion(s, root) == vBefore,
      "snk19: a replayed batch advanced the version — idempotence broken")
    sink(base.filter(col("event_id") > cut2), 2L)
    SnapshotTable.readLatest(s, root)
      .groupBy("bkt")
      .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("sum_cents"))
  }

  /** SNK20: VERSION-PAIR LAYERING — the documented composition for a
    * table that needs BOTH partition-scoped commit economics and
    * cross-artifact atomicity ([[graft.catalog.SnapshotGroup]]'s
    * recorded scope decision: group commits are full snapshots per
    * table, so the BIG table commits through
    * [[graft.catalog.SnapshotTable.commitReplace]] and the group
    * publishes only the (corpus version, derived index) PAIR). Two
    * ingest rounds run — the second touching ONE corpus partition via
    * commitReplace and republishing the pair — then the query pins the
    * OLDER group version: the pointer it stores selects corpus v1, and
    * the index read AT THE SAME group version was derived from exactly
    * that corpus, so per-bucket counts from the pinned index and a
    * recount of the pinned corpus agree row for row. The oracle
    * replays both sides from the events arithmetic; any torn
    * publication (new corpus, old index — the window the group
    * closes) or a broken pointer shifts one side and fails the hash.
    * At 100 TB: the corpus pays only touched partitions per round, the
    * group pays two tiny tables — atomicity costs metadata, not
    * data. */
  def snk20LayeredPair(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.{SnapshotGroup, SnapshotTable}
    import s.implicits._
    val big = ioDir(dir, "snk20corpus")
    val grp = ioDir(dir, "snk20pair")
    val fs = new org.apache.hadoop.fs.Path(big)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(big, grp).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    // SF-independent 8-bucket layout (see snk17Compact)
    val events0 = table(s, dir, "events")
    val width = events0.agg(max("event_id")).head.getLong(0) / 8 + 1
    val base = events0
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / width).cast("long").as("bkt"))
    def index(v: Long): DataFrame =
      SnapshotTable.read(s, big, v).groupBy("bkt")
        .agg(count(lit(1)).as("n_idx"),
          sum("cents").cast("long").as("sum_idx"))
    // round 1: even events ingest; pair (v1, index-of-v1) publishes
    val v1 = SnapshotTable.commitPartitioned(
      base.filter(col("event_id") % 2 === 0), big, 0L, "bkt")
    val g1 = SnapshotGroup.commit(Map(
      "ptr" -> Seq(v1).toDF("corpus_version"), "idx" -> index(v1)),
      grp, 0L)
    // round 2: the odd rows of ONE bucket land via commitReplace (only
    // that partition rewrites), and the pair republishes atomically
    val v2 = SnapshotTable.commitReplace(
      base.filter(col("bkt") === 1), big, v1, "bkt")
    SnapshotGroup.commit(Map(
      "ptr" -> Seq(v2).toDF("corpus_version"), "idx" -> index(v2)),
      grp, g1)
    // pin the OLD pair: its pointer must select corpus v1, and its
    // index must agree with a live recount of that pinned corpus
    val ptr = SnapshotGroup.read(s, grp, "ptr", g1)
      .head().getLong(0)
    require(ptr == v1,
      s"snk20: pinned group version points at corpus $ptr, not $v1")
    SnapshotGroup.read(s, grp, "idx", g1)
      .join(SnapshotTable.read(s, big, ptr).groupBy("bkt")
          .agg(count(lit(1)).as("n_live")),
        Seq("bkt"), "full_outer")
      .select(col("bkt"), col("n_idx"), col("sum_idx"), col("n_live"))
  }

  /** SNK21: DISJOINT-PARTITION OPTIMISTIC CONCURRENCY
    * ([[graft.catalog.SnapshotTable.commitReplace]]'s rebase path): two
    * TRULY CONCURRENT writers commitReplace DISJOINT partitions from
    * the SAME base version — the loser of the whole-table CAS re-reads
    * the winner's manifest, proves the touched partition sets
    * disjoint, and re-commits on the new base, so BOTH land without
    * manual rebase (version count asserted in-query). A third,
    * OVERLAPPING writer from the stale base must still conflict loudly
    * (also asserted in-query). The oracle recomputes the final table
    * arithmetically: buckets 1 and 5 carry their full event sets, all
    * others only the even half — a lost writer, a double-applied
    * batch, or a rebase that resurrected stale entries all shift the
    * per-bucket sums. At 100 TB this is what lets several ingest
    * streams plus a compaction daemon commit concurrently instead of
    * serializing on one CAS (the steady state snk17+snk19 set up). */
  def snk21RebaseCommit(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk21rebase")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // SF-independent 8-bucket layout (see snk17Compact)
    val events0 = table(s, dir, "events")
    val width = events0.agg(max("event_id")).head.getLong(0) / 8 + 1
    val base = events0
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / width).cast("long").as("bkt"))
    val v1 = SnapshotTable.commitPartitioned(
      base.filter(col("event_id") % 2 === 0), root, 0L, "bkt")
    // two writers, same base, disjoint buckets, racing on real threads
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = Seq(1L, 5L).map(b => new Thread(() =>
      try SnapshotTable.commitReplace(
        base.filter(col("bkt") === b), root, v1, "bkt"): Unit
      catch { case t: Throwable => errs.add(t): Unit }))
    writers.foreach(_.start()); writers.foreach(_.join())
    require(errs.isEmpty,
      s"snk21: a disjoint concurrent writer failed: ${errs.peek()}")
    require(SnapshotTable.currentVersion(s, root) == v1 + 2,
      "snk21: both disjoint writers must land as consecutive versions")
    // overlap from the same stale base stays a loud conflict
    val overlapped =
      try { SnapshotTable.commitReplace(
          base.filter(col("bkt") === 1 && col("event_id") % 3 === 0),
          root, v1, "bkt"): Unit
        false }
      catch { case _: java.util.ConcurrentModificationException => true }
    require(overlapped,
      "snk21: an overlapping writer from the stale base must conflict")
    SnapshotTable.readLatest(s, root)
      .groupBy("bkt")
      .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("sum_cents"))
  }

  /** Commit `base` as the first version of the snapshot table at
    * `root`, partitioned by `pcol` with each partition's rows in about
    * `files` files, fragmented DETERMINISTICALLY: each partition's rows
    * land in one task (hash by the partition column), sorted by
    * event_id, and maxRecordsPerFile (set in a session clone for the
    * write) rolls a new file every `rows` records — so file k of
    * partition t holds exactly its rows with per-partition id-order
    * rank in [k·rows, (k+1)·rows), clustered ranges an oracle replays
    * with a window function. This is also the layout a real ingest
    * would WANT for range skipping. */
  private def commitRolled(op: String, base: DataFrame, root: String,
                           pcol: String, files: Int): Long = {
    val rows = base.groupBy(pcol).count().agg(max("count")).head.getLong(0) / files + 1
    inClone(base.sparkSession, op, Map("spark.sql.files.maxRecordsPerFile" -> rows.toString)) {
      c => graft.catalog.SnapshotTable.commitPartitioned(GraftBridge.rehome(
        base.repartition(col(pcol)).sortWithinPartitions(pcol, "event_id"), c), root, 0L, pcol)
    }
  }

  /** SNK22: FILE-GRAIN DATA SKIPPING during fragmented ingest
    * ([[graft.catalog.SnapshotTable.pruneFiles]] over the per-file
    * bounds recorded in each entry's stats blob): the events snapshot
    * commits partitioned on `event_type` with every partition dir
    * deliberately FRAGMENTED into 12 files of disjoint event_id ranges
    * (one upstream task per range leg — the small-file shape
    * micro-batch ingest leaves before compaction). An event_id range
    * predicate then prunes at the grain parquet footers would: the
    * entry-level bounds keep EVERY entry (each type spans all ids),
    * but inside each kept entry only the files whose recorded range
    * intersects the probe are scanned. Scanned/total counts for BOTH
    * grains are the declared result; the oracle recomputes every
    * (type, leg) file's true min/max and re-derives each prune
    * decision arithmetically — the skipping itself is gated, not just
    * the surviving rows. */
  def snk22FilePrune(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    import graft.catalog.SnapshotTable.Pred
    val root = ioDir(dir, "snk22fileprune")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val events0 = table(s, dir, "events")
    val hi0 = events0.agg(max("event_id")).head.getLong(0)
    val fwidth = hi0 / 12 + 1
    val base = events0
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
    val v1 = commitRolled("snk22FilePrune", base, root, "event_type", 12)
    val m = SnapshotTable.manifestAt(s, root, v1)
    val (lo, hiP) = (4L * fwidth, 5L * fwidth - 1L)
    val preds = Seq(Pred("event_id", ">=", lo), Pred("event_id", "<=", hiP))
    val sel = SnapshotTable.pruneFiles(m, preds)
    require(sel.forall(_._2.isDefined),
      "snk22: every entry must carry file-level stats (12 files < cap)")
    val filesScanned = sel.flatMap(_._2.map(_.length.toLong)).sum
    val filesTotal = m.fileStats.map(_.size.toLong).sum
    val entriesScanned = sel.length.toLong
    val entriesTotal = m.entries.length.toLong
    SnapshotTable.readWhere(s, root, v1, preds)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .unionByName(s.range(1).select(
        lit("_prune_files").as("event_type"),
        lit(filesScanned).as("n"), lit(filesTotal).as("sum_cents")))
      .unionByName(s.range(1).select(
        lit("_prune_entries").as("event_type"),
        lit(entriesScanned).as("n"), lit(entriesTotal).as("sum_cents")))
  }

  /** SNK23: TIMESTAMP TIME TRAVEL
    * ([[graft.catalog.SnapshotTable.readAsOf]]): three commits carry
    * INJECTED wall-clock timestamps 1000 → 2000 → 1500 — the third
    * deliberately SKEWED backwards, the multi-writer clock reality —
    * and the query reads the table as of three pinned instants.
    * Resolution must adjust the skewed commit Delta-style
    * (effective(v3) = effective(v2)+1 = 2001): as-of 1500 sees only
    * v1, as-of 2000 sees v2, as-of 2001 sees v3 — pinned in-query via
    * `versionAsOf` AND gated through the content, since the oracle
    * recomputes each instant's expected snapshot arithmetically (v1 =
    * even events; v2 adds bucket 1's odd half; v3 adds bucket 2's).
    * The refusal surface (a timestamp before the first commit) is
    * asserted in-query. */
  def snk23AsOf(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk23asof")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val events0 = table(s, dir, "events")
    val width = events0.agg(max("event_id")).head.getLong(0) / 8 + 1
    val base = events0
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / width).cast("long").as("bkt"))
    val v1 = SnapshotTable.commitPartitioned(
      base.filter(col("event_id") % 2 === 0), root, 0L, "bkt",
      commitTs = 1000L)
    val v2 = SnapshotTable.commitReplace(
      base.filter(col("bkt") === 1), root, v1, "bkt", commitTs = 2000L)
    val v3 = SnapshotTable.commitReplace(
      base.filter(col("bkt") === 2), root, v2, "bkt", commitTs = 1500L)
    require(SnapshotTable.versionAsOf(s, root, 1500L) == v1 &&
      SnapshotTable.versionAsOf(s, root, 2000L) == v2 &&
      SnapshotTable.versionAsOf(s, root, 2001L) == v3,
      "snk23: timestamp resolution drifted from the Delta-style " +
      "monotonic adjustment")
    val refused =
      try { SnapshotTable.readAsOf(s, root, 999L); false }
      catch { case _: IllegalArgumentException => true }
    require(refused, "snk23: a pre-history timestamp must refuse loudly")
    Seq(1500L, 2000L, 2001L).map { ts =>
      SnapshotTable.readAsOf(s, root, ts)
        .groupBy("bkt")
        .agg(count(lit(1)).as("n"),
             sum("cents").cast("long").as("sum_cents"))
        .select(lit(ts).as("as_of_ts"), col("bkt"), col("n"),
          col("sum_cents"))
    }.reduce(_ unionByName _)
  }

  /** SNK25: SQL-NATIVE SNAPSHOT ACCESS with pushdown-driven pruning
    * ([[graft.catalog.SnapshotSource]], registered as `graft-snapshot`):
    * the same snapshot snk13 gates is read through
    * `spark.read.format("graft-snapshot")` — no [[SnapshotTable]] API in
    * the query path — and Catalyst's pushed filters drive the manifest
    * pruning: the relation plans ONLY the entries whose recorded bounds
    * intersect the BETWEEN probe (asserted in-query against an
    * independent `pruneFiles` computation via the `lastPlanned`
    * instrumentation, after forcing the scan). The declared result
    * carries the planned/total entry counts, and the oracle recomputes
    * the prune decision arithmetically — proving the DataFrameReader /
    * SQL surface gets the SAME skipping the API gets, which is what
    * makes the protocol usable from plain SQL at 100 TB. */
  def snk25SourceRead(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.{SnapshotSource, SnapshotTable}
    import graft.catalog.SnapshotTable.Pred
    val root = ioDir(dir, "snk25source")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / 2000).cast("long").as("bkt"))
    val v1 = SnapshotTable.commitPartitioned(base, root, 0L, "bkt")
    val m = SnapshotTable.manifestAt(s, root, v1)
    val preds = Seq(Pred("event_id", ">=", 1000L),
                    Pred("event_id", "<=", 2999L))
    val filtered = s.read.format("graft-snapshot").option("path", root)
      .load()
      .filter(col("event_id") >= 1000L && col("event_id") <= 2999L)
    // force the scan so the pushdown instrumentation reflects THIS plan
    SnapshotSource.lastPlanned.set((-9L, -9L))
    filtered.queryExecution.toRdd.count()
    val (plannedEntries, _) = SnapshotSource.lastPlanned.get()
    val expected = SnapshotTable.pruneFiles(m, preds).length.toLong
    require(plannedEntries == expected,
      s"snk25: the SQL surface planned $plannedEntries entries, the " +
      s"pruning API says $expected — pushdown did not reach the manifest")
    filtered
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .unionByName(s.range(1).select(
        lit("_planned_entries").as("event_type"),
        lit(plannedEntries).as("n"),
        lit(m.entries.length.toLong).as("sum_cents")))
  }

  /** SNK26: ROW-LEVEL DELETES without data rewrites
    * ([[graft.catalog.SnapshotTable.commitDelete]] — equality-delete
    * refs at entry grain, the Iceberg-equality-delete / Delta
    * deletion-vector capability class): the events snapshot commits
    * into 8 buckets with deliberately MULTI-FILE partitions, then a
    * GDPR-style delete of the event_ids divisible by 97 inside bucket
    * 2 (scoped through the delKeys' bkt column) and an UNSCOPED
    * second delete of the whole 'error' event class (different key
    * column — chain composition) commit WITHOUT touching data: the
    * query asserts in-query that the data-file set is verbatim
    * identical across both delete commits, that the chain attached
    * only to bucket 2's entries for the scoped delete, and that the
    * pre-delete version still time-travels to the full row set. At
    * 100 TB this is the difference between a one-key delete costing a
    * manifest + a keys file versus a 1-TB partition rewrite. The
    * declared result is the post-delete per-bucket aggregate plus the
    * time-travel count; the oracle recomputes both deletes
    * relationally. */
  def snk26RowDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk26rowdel")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val events0 = table(s, dir, "events")
    val width = events0.agg(max("event_id")).head.getLong(0) / 8 + 1
    val base = events0
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        floor(col("event_id") / width).cast("long").as("bkt"))
    // multi-file partitions: roll a new file every quarter-partition
    val v1 = commitRolled("snk26RowDelete", base, root, "bkt", 4)
    def dataFiles(): Set[String] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath.toString)
        }
      fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .map(_.getPath).filter(_.getName.startsWith("data-"))
        .flatMap(walk).filter(_.endsWith(".parquet")).toSet
    }
    val before = dataFiles()
    val v2 = SnapshotTable.commitDelete(
      base.filter(col("bkt") === 2 && col("event_id") % 97 === 0)
        .select("event_id", "bkt"),
      root, v1, Seq("event_id"))
    val m2 = SnapshotTable.manifestAt(s, root, v2)
    require(m2.entries.zip(m2.dels).forall { case (e, chain) =>
      chain.nonEmpty == e.contains("bkt=2") },
      "snk26: the scoped delete chain must attach to bucket 2 only")
    val v3 = SnapshotTable.commitDelete(
      s.range(1).select(lit("error").as("event_type")),
      root, v2, Seq("event_type"))
    require(dataFiles() == before,
      "snk26: a row-level delete rewrote data files")
    require(SnapshotTable.currentVersion(s, root) == v3)
    val fullN = SnapshotTable.read(s, root, v1).count()
    SnapshotTable.readLatest(s, root)
      .groupBy("bkt")
      .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("sum_cents"))
      .unionByName(s.range(1).select(
        lit(-1L).as("bkt"), lit(fullN).as("n"), lit(0L).as("sum_cents")))
  }

  /** SNK27: MANIFEST CHECKPOINTING keeps metadata scans O(suffix) on a
    * growing commit history ([[graft.catalog.SnapshotTable]]'s
    * `_ckpt` rollups — Delta's `_last_checkpoint` analogue): twelve
    * commits with injected timestamps build the micro-batch-ingest
    * steady state; the commit path auto-rolls a checkpoint every 10
    * commits, and the query asserts in-query that (a) the rollup
    * covers exactly v10, (b) timestamp resolution reads only the
    * UNCOVERED SUFFIX's manifest bodies (spec-counted ≤ suffix +
    * slack, against a 12-body walk without the rollup), and (c) after
    * `vacuumOlderThan` retires the three oldest versions, as-of
    * resolution over survivors is UNCHANGED — the effective-clock
    * fold continues through checkpoint records whose manifests no
    * longer exist. The declared result reads three pinned instants;
    * the oracle replays each instant's snapshot arithmetically. */
  def snk27CkptAsOf(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.SnapshotTable
    val root = ioDir(dir, "snk27ckpt")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val events0 = table(s, dir, "events")
    // a quarter-sample keeps the 12 cumulative full-snapshot writes
    // cheap at bench SF; slot derives from the SAMPLED id space (div
    // before mod — event_id % 4 == 0 correlates with event_id % 12,
    // which would leave slots {0,4,8} only)
    val base = events0.filter(col("event_id") % 4 === 0)
      .select(col("event_id"),
        (col("value").cast(dec) * 100).cast("long").as("cents"),
        expr("(event_id div 4) % 12").cast("long").as("slot"))
    // version i holds slots < i — a growing table, one commit per
    // "micro-batch", commit ts = 1000 * i
    (1 to 12).foldLeft(0L) { (b, i) =>
      SnapshotTable.commit(base.filter(col("slot") < i), root, b,
        commitTs = 1000L * i)
    }
    val ck = SnapshotTable.latestCheckpoint(fs, root)
    require(ck.map(_.k).contains(10L),
      s"snk27: expected an auto-rolled checkpoint through v10, got " +
      s"${ck.map(_.k)}")
    val r0 = SnapshotTable.manifestBodyReads.get()
    require(SnapshotTable.versionAsOf(s, root, 11500L) == 11L)
    val reads = SnapshotTable.manifestBodyReads.get() - r0
    require(reads <= 4L,
      s"snk27: versionAsOf read $reads bodies — the checkpoint is not " +
      "carrying the covered prefix (a 12-version walk reads 12)")
    // retention drops v1..v3 (effective ts < 4000); resolution over
    // survivors must not move
    val dropped = SnapshotTable.vacuumOlderThan(s, root, 4000L,
      minAgeMs = 0L)
    require(dropped == Seq(1L, 2L, 3L),
      s"snk27: vacuumOlderThan dropped $dropped")
    require(SnapshotTable.versionAsOf(s, root, 11500L) == 11L &&
      SnapshotTable.versionAsOf(s, root, 4500L) == 4L,
      "snk27: as-of resolution moved across retention")
    Seq(4500L, 9200L, 12000L).map { ts =>
      SnapshotTable.readAsOf(s, root, ts)
        .agg(count(lit(1)).as("n"),
             sum("cents").cast("long").as("sum_cents"))
        .select(lit(ts).as("as_of_ts"), col("n"), col("sum_cents"))
    }.reduce(_ unionByName _)
  }

  /** O6: keyset-style pagination — global order + OFFSET + LIMIT (page
    * 2 of 10). Spark plans offset+limit into one
    * CollectLimit/GlobalLimit over the partial orders, so page depth
    * costs offset+limit rows, not a full sort materialization. Total
    * order via the (totalprice desc, orderkey) key. */
  def o6Pagination(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"))
      .orderBy(col("total_cents").desc, col("o_orderkey").asc)
      .offset(10)
      .limit(10)

  /** A16: conditional aggregation — count_if / filtered sums /
    * bool_and / bool_or, the FILTER-clause family, one pass per group. */
  def a16ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count_if(col("l_quantity") >= 25).as("n_big"),
        sum(when(col("l_discount") > 0.05,
          round(col("l_extendedprice") * 100).cast("long"))
          .otherwise(lit(0L))).as("disc_cents"),
        bool_and(col("l_quantity") >= 1).as("all_positive"),
        bool_or(col("l_quantity") >= 50).as("any_max"))

  /** A17: explicit GROUPING SETS — the analyst surface beyond
    * rollup/cube: an arbitrary set list ((rf, ls), (rf), ()) skipping
    * the (ls)-only set, still ONE aggregate pass (Catalyst expands the
    * sets inside the Aggregate, not by re-scanning per set). SQL-text
    * form; dialect-neutral, replayed verbatim by the oracle. */
  private[ops] val a17Sql: String =
    """SELECT coalesce(l_returnflag, '<all>') AS rf,
      |  coalesce(l_linestatus, '<all>') AS ls,
      |  count(*) AS n,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), ())""".stripMargin

  def a17GroupingSets(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(a17Sql)
  }

  /** F14: null-preserving fan-out — explode_outer vs explode. A doc
    * whose array is empty or NULL must SURVIVE the outer fan-out with a
    * NULL element (the left-outer of the explode family); plain explode
    * drops it. The fixture side: orders fan out to their lineitems'
    * linenumbers via a grouped array; childless orders (none in the
    * fixture) and an injected empty-array row prove the semantics. */
  def f14ExplodeOuter(s: SparkSession, dir: String): DataFrame = {
    val nums = table(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("okey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("nums"))
    table(s, dir, "orders")
      .filter(col("o_orderkey") <= 100)
      .join(nums, col("o_orderkey") === col("okey"), "left")
      // an order with a present-but-EMPTY array exercises the branch a
      // left join alone cannot (null array vs empty array)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0, array().cast("array<int>"))
          .otherwise(col("nums")).as("nums"))
      .select(col("o_orderkey"), explode_outer(col("nums")).as("linenumber"))
  }

  /** TPC-H Q19 shape: a join whose predicate is an OR of ANDs SPANNING
    * both sides — the disjunctive-pushdown surface. Catalyst extracts
    * the common p_partkey equi-condition for the join, keeps the
    * disjunction as the join filter, and pushes each side's derivable
    * disjunction approximation down to its scan (brand/size to part,
    * quantity to lineitem) — the rewrite a naive engine misses, turning
    * this into a cross-join filter. Dialect-neutral text, replayed
    * verbatim. */
  private[ops] val q19Sql: String =
    """SELECT count(*) AS n,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |    AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND (
      |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |     AND l_quantity BETWEEN 1 AND 11)
      |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      |     AND l_quantity BETWEEN 10 AND 20)
      |  OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
      |     AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q19Sql)
  }

  /** F12: the try_* error-suppression family — malformed input yields
    * NULL instead of a task-killing exception, the semantics a 100 TB
    * ingest of dirty data actually needs (one bad row must not fail a
    * 10-hour job). try_cast on non-numeric text, try_element_at past
    * the array end, try_divide by zero; the oracle spells each as its
    * standard-SQL NULL-guard equivalent (TRY_CAST / bounds CASE /
    * zero-denominator CASE). */
  def f12TryFamily(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)")
          .as("prio_num"),
        expr("try_cast(o_orderstatus AS INT)").as("status_num"),
        try_element_at(split(col("o_orderpriority"), "-"), lit(3))
          .as("third_part"),
        expr("try_divide(o_totalprice, o_custkey % 2)").as("odd_ratio"))

  /** F16: map higher-order functions — map_from_entries /
    * transform_values / map_filter, then exploded back to rows so the
    * oracle can verify the map path against its FLAT relational
    * equivalent (the map machinery must compute exactly what the plain
    * filter+project computes). The fixture repeats linenumbers within
    * an order, so quantities pre-aggregate per (order, linenumber) —
    * map_from_entries errors on duplicate keys. */
  def f16MapOps(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 200)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(sum(col("l_quantity")).as("q"))
      .groupBy("l_orderkey")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("l_linenumber"), col("q"))))).as("m"))
      .select(col("l_orderkey"),
        explode(map_filter(
          transform_values(col("m"), (_, v) => v * 2),
          (_, v) => v >= 50)))
      .toDF("l_orderkey", "linenumber", "qty2")

  /** A18: MERGEABLE distinct-count sketches — the pre-aggregation
    * rollup pattern a 100 TB deployment lives on: per-group HLL
    * sketches (Datasketches hll_sketch_agg) union into the global
    * estimate WITHOUT re-touching rows (`hll_union_agg` over 5 sketch
    * rows vs a second fact scan). Sketch bytes are engine-specific, so
    * the gate follows the a4/a11 contract pattern: emit the EXACT
    * distinct counts (oracle-matched) plus within_tol flags proving the
    * per-group estimates AND the union-of-sketches estimate agree with
    * exact to 2% — the union row is the mergeability proof. */
  def a18SketchRollup(s: SparkSession, dir: String): DataFrame = {
    val perGroup = table(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(count_distinct(col("o_custkey")).as("n_exact"),
           hll_sketch_agg(col("o_custkey")).as("sk"))
    def tol(est: Column, exact: Column): Column =
      (abs(est - exact) <= exact * 0.02 + lit(1.0)).cast("int")
    val groups = perGroup.select(col("prio"), col("n_exact"),
      tol(hll_sketch_estimate(col("sk")), col("n_exact")).as("within_tol"))
    val globalExact = table(s, dir, "orders")
      .agg(count_distinct(col("o_custkey")).as("g_exact"))
    val unioned = perGroup
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .crossJoin(broadcast(globalExact))
      .select(lit("<all>").as("prio"), col("g_exact").as("n_exact"),
              tol(col("est"), col("g_exact")).as("within_tol"))
    groups.unionByName(unioned)
  }

  /** A21: EXACT mergeable distinct-count via bitmap aggregates (Spark 4
    * bitmap_construct_agg / bitmap_or_agg) — a18's HLL rollup with the
    * error bar removed: ids bucket into fixed 32k-bit bitmap segments
    * (bitmap_bucket_number / bitmap_bit_position), each (group, bucket)
    * aggregates to ONE bitmap, and any coarser rollup — here the global
    * count — ORs bitmaps without re-touching a single row: the
    * ClickHouse/Druid pre-aggregated-bitmap pattern, and the reason a
    * 100 TB daily-distinct dashboard needs one fact scan ever. State is
    * O(id-range/8) bytes per group split across buckets, shuffled as
    * compact binary — never the row stream. The per-bucket table feeds
    * both rollup legs and is localCheckpointed: it is bounded by
    * groups × buckets, the convergence-count class (a 1.5k-id fixture
    * fits one bucket; the bucketing IS the 100 TB id-space story).
    * Oracle: plain count(DISTINCT) per group ∪ global — an independent
    * formulation, so the gate cross-validates the whole bitmap algebra. */
  def a21BitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val perBucket = table(s, dir, "orders")
      .select(col("o_orderpriority").as("prio"),
        expr("bitmap_bucket_number(o_custkey)").as("bkt"),
        expr("bitmap_bit_position(o_custkey)").as("pos"))
      .groupBy("prio", "bkt")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
      .localCheckpoint()
    val perGroup = perBucket.groupBy("prio")
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
    val global = perBucket.groupBy("bkt")
      .agg(expr("bitmap_or_agg(bm)").as("obm"))
      .agg(sum(expr("bitmap_count(obm)")).as("n_distinct"))
      .select(lit("<all>").as("prio"), col("n_distinct"))
    perGroup.unionByName(global)
  }

  /** Q23: RECURSIVE CTE transitive closure (Spark 4's WITH RECURSIVE —
    * an engine capability the reference's geodatabase layer has no
    * analogue for, SURVEY §2.C): every document's ancestor chain
    * through a synthesized derivation DAG (parent = doc_id −
    * (doc_id % 7 + 3); parent < child guarantees acyclicity, so
    * UNION ALL terminates without dedup — each node has ONE parent,
    * chains never revisit). Depth capped at 20 in the recursion guard:
    * bounded iteration is the production posture (Spark executes one
    * UnionLoop step per level — an unbounded 100-level walk is 100
    * driver-scheduled steps, and the cap keeps the gate inside
    * spark.sql.cteRecursionLevelLimit). The SAME statement runs
    * verbatim in both engines — the subquery-family policy (q17–q22)
    * extended to recursion. Each level is a keyed equi-join of the
    * frontier against the bounded edge table; at 100 TB the frontier
    * is the only growing side and it shuffles on anc_id per level.
    * SCALE CAVEAT: Spark 4 also bounds the ACCUMULATED result at
    * spark.sql.cteRecursionRowLimit (default 1M rows) — this query
    * emits ~cap rows per document, so beyond ~1M/cap documents the
    * deployment must raise that limit (or lower the cap) explicitly;
    * the level cap alone does not make recursion scale-free. */
  private val q23Sql = """
    WITH RECURSIVE edges AS (
      SELECT doc_id AS child, doc_id - (doc_id % 7 + 3) AS parent
      FROM documents
      WHERE doc_id - (doc_id % 7 + 3) >= 0),
    anc AS (
      SELECT child AS doc_id, parent AS anc_id, 1 AS depth FROM edges
      UNION ALL
      SELECT a.doc_id, e.parent, a.depth + 1
      FROM anc a JOIN edges e ON e.child = a.anc_id
      WHERE a.depth < 20)
    SELECT doc_id, anc_id, CAST(depth AS BIGINT) AS depth FROM anc"""

  def q23AncestorChains(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    // Pin BOTH recursion ceilings explicitly rather than inheriting
    // whatever the session carries: the depth guard (< 20) must sit
    // inside the level limit, and the accumulated-row ceiling is the
    // real scale bound (~20 ancestor rows/doc → the default 1M rows is
    // ~50k documents; a larger corpus must raise this CONSCIOUSLY —
    // enforced, not just documented; boundary behavior spec-pinned in
    // SubquerySpec); they go into the loop scope's session clone, so
    // the caller's values never change.
    // The recursion executes as one driver-scheduled UnionLoop step per
    // level, and under AQE every level's stages are submitted as their
    // OWN jobs — measured 76 single-task jobs with 7+ s of scheduling
    // gaps (job-sum 5.0 s of a 12.3 s wall) at sf0.1. The frontier is
    // ≤ one row per document per level, so the materialization runs in
    // the loop scope sized from the corpus row count, read from the
    // parquet footers (Fixpoint.scoped).
    Fixpoint.scoped("q23", s, org.apache.spark.sql.execution.datasources.parquet
        .GraftFooters.rowCount(s, s"$dir/documents.parquet"),
        Map("spark.sql.cteRecursionLevelLimit" -> "100",
          "spark.sql.cteRecursionRowLimit" -> "1000000")) {
      _.sql(q23Sql).localCheckpoint()
    }
  }

  /** A23: KMV theta-style distinct sketches with SET INTERSECTION — the
    * audience-overlap estimate neither a18's HLL (no intersection
    * operator) nor a plain rollup can give without re-touching rows.
    * Sketch = each group's k smallest values of a uniform 60-bit hash
    * (the 15-hex-char md5 prefix — fixed-length lowercase hex, so
    * STRING order IS numeric order and the sketch never leaves
    * string-land until the final 10-row estimate). θ = the k-th
    * smallest; |A| ≈ k·2^60/θ, and for a pair the theta-sketch
    * intersection rule: θ∩ = min(θa, θb),
    * |A∩B| ≈ |{h ∈ Sa∩Sb : h < θ∩}| · 2^60/θ∩. Everything up to the
    * single rounded estimate is integer/string-exact, so the oracle
    * replays the whole sketch bit-for-bit — no tolerance contract
    * needed. The overlapped sets are each type's ENGAGED users —
    * (type, user) pairs with strictly above-mean event counts, the
    * mean cross-multiplied (n·npairs > total) so the threshold is
    * data-derived and SCALE-FREE: sets of 65–80 users per type with
    * varying 24–43-user intersections at gate SF (the all-users sets
    * are degenerate — every user touches every type), and k=32 < set
    * size keeps the sketch in genuine estimation mode, not exact mode.
    * The k-min cut is one per-group rank window over the (type, hash)
    * distinct; retained state is groups×k rows (checkpointed — the
    * convergence-count class); the pair stage joins 32-row sketches.
    * At 100 TB the sketch build is the only fact-grain stage — one
    * keyed aggregate + one bounded window — and sketches persist as
    * the rollup artifact, exactly the a18 pre-aggregation pattern plus
    * intersection algebra. The exact-intersection leg (the gate's
    * cross-check) is a keyed self-join on user_id, never all-pairs. */
  def a23ThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val pow60 = 1152921504606846976.0 // 2^60, exactly representable
    val counts = table(s, dir, "events")
      .groupBy(col("event_type").as("t"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // (type, user) grain — feeds totals AND the gate
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("npairs"))
    val engaged = counts.crossJoin(broadcast(totals))
      .filter(col("n") * col("npairs") > col("total"))
      .select(col("t"), col("user_id"))
    val ev = engaged.select(col("t"),
      substring(md5(col("user_id").cast("string")), 1, 15).as("h"))
    val w = Window.partitionBy("t").orderBy("h")
    val sk = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("t", "h")
      .localCheckpoint()
    val theta = sk.groupBy("t").agg(max(col("h")).as("theta"))
    val du = engaged
    val exactInter = du.select(col("t").as("ta"), col("user_id"))
      .join(du.select(col("t").as("tb"), col("user_id")), "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_inter_exact"))
    val thS = least(col("tha"), col("thb"))
    sk.select(col("t").as("ta"), col("h"))
      .join(sk.select(col("t").as("tb"), col("h")), "h")
      .filter(col("ta") < col("tb"))
      .join(broadcast(theta.select(col("t").as("ta"),
        col("theta").as("tha"))), "ta")
      .join(broadcast(theta.select(col("t").as("tb"),
        col("theta").as("thb"))), "tb")
      .filter(col("h") < thS)
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("m_inter"), min(thS).as("th_s"))
      .join(exactInter, Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("m_inter"),
        conv(col("th_s"), 16, 10).cast("long").as("theta_min"),
        round(col("m_inter").cast("double") * lit(pow60) /
          conv(col("th_s"), 16, 10).cast("long").cast("double"))
          .cast("long").as("est_users"),
        col("n_inter_exact"))
  }

  /** J20: TEMPORAL dimension lookup — the SCD-2 AS-OF join (`FROM fact
    * JOIN dim FOR SYSTEM_TIME AS OF fact.ts`, the form every warehouse
    * resolves a versioned dimension with): each event joins the ONE
    * dimension version whose validity window [vstart, vend) contains
    * its timestamp (equi on the dimension key + the half-open range
    * residual; the current version is open-ended NULL). The dimension
    * is version-grain tiny and BROADCASTS — the fact side never
    * shuffles for the lookup, only for the final accounting; windows
    * tile the key's timeline disjointly so each event matches exactly
    * once (no dedup stage). 8-day windows over the fixture's Jan-2024
    * span exercise all four versions at every SF. At 100 TB this is
    * THE pattern for point-in-time-correct feature/label joins:
    * broadcast the versioned dim, never range-shuffle the fact. */
  private val Scd2T0 = 1704067200000000L           // 2024-01-01 UTC, us
  private val Scd2Step = 691200000000L             // 8 days in us
  private val scd2Dim: Seq[(Long, Long, Long, java.lang.Long, String)] =
    for { k <- 0L to 9L; v <- 0L to 3L } yield
      (k, v, Scd2T0 + v * Scd2Step,
       if (v == 3) null
       else java.lang.Long.valueOf(Scd2T0 + (v + 1) * Scd2Step),
       "t" + ((k + v) % 3))

  def j20TemporalLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = scd2Dim.toDF("dk", "ver", "vstart", "vend", "tier")
    val e = table(s, dir, "events").filter(col("value").isNotNull)
      .select((col("user_id") % 10).as("k"), unix_micros(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    e.join(broadcast(dim),
        col("k") === col("dk") && col("t") >= col("vstart") &&
        (col("vend").isNull || col("t") < col("vend")))
      .groupBy("tier", "ver")
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
  }

  /** V6: ONE-PASS data-quality profile (the Deequ/Great-Expectations
    * shape): per audited column — null count, exact distinct count,
    * and an approx-distinct within-tolerance flag — computed for ALL
    * columns in a single Aggregate over a single fact scan, then
    * unpivoted to one row per column. This is the constraint-suite
    * pattern a 100 TB ingest gate runs nightly: the scan happens once
    * regardless of how many metrics ride it. The exact multi-column
    * count(DISTINCT)s plan as one Expand (rows × #distinct-columns
    * before partial aggregation — the standard cost, paid map-side);
    * the approx leg (HLL, no expand) is the scale path, and the gate
    * pins it to 5%+1 of exact per column (a18's contract: the flag is
    * oracle-checked, the estimate itself is engine-specific). The
    * unpivot is a 1-row struct-array inline — no second scan, no
    * shuffle beyond the aggregate's own. */
  def v6DqProfile(s: SparkSession, dir: String): DataFrame = {
    val audited =
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
        "l_shipdate")
    // r13 (guide §2.5 + VERDICT item 2): the 5-column count(DISTINCT)
    // suite plans as Expand ×6 BEFORE the partial aggregate, and that
    // map-side work ran at the SCAN's split count — 3 tasks on the
    // single-row-group fixture at every SF (measured: 26.9 s at sf1,
    // 8-vs-32-core scaling ratio ≈ 1, i.e. serial). The conditional
    // spreadScan hash-repartitions the PROJECTED audited columns (5
    // narrow cols — project-before-exchange, §2.3) to the session's
    // parallelism only when the scan is under it; at 100 TB the scan
    // has orders of magnitude more splits than cores and no shuffle
    // happens. Keyed by l_orderkey (high-cardinality, deterministic).
    val li = graft.spreadScan(
      table(s, dir, "lineitem").select(audited.map(col): _*),
      col("l_orderkey"))
    val aggs = count(lit(1)).as("n_rows") +: audited.flatMap { c => Seq(
      sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      approx_count_distinct(col(c)).as(s"${c}__approx")) }
    val entries = array(audited.map { c =>
      struct(lit(c).as("col_name"),
        col(s"${c}__nulls").as("n_null"),
        col(s"${c}__distinct").as("n_distinct"),
        (abs(col(s"${c}__approx") - col(s"${c}__distinct")) <=
          col(s"${c}__distinct") * 0.05 + lit(1.0))
          .cast("int").as("within_tol"))
    }: _*)
    li.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(entries).as("m"))
      .select(col("m.col_name").as("col_name"), col("n_rows"),
        col("m.n_null").as("n_null"), col("m.n_distinct").as("n_distinct"),
        col("m.within_tol").as("within_tol"))
  }

  /** A22: exact per-group MODE with a deterministic tie-break (smallest
    * value wins equal counts). Two cascaded hash aggregates — count per
    * (group, value), then one min(struct(-cnt, value)) per group — both
    * partially aggregable map-side, so the plan is two Exchanges of
    * per-group cardinality and NO window sort: the row_number
    * formulation sorts every (group, value) pair inside a window just
    * to read rank 1. The -cnt negation makes lexicographic struct-min
    * mean (max count, then min value). */
  def a22Mode(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
               col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("segment")
      .agg(min(struct((-col("cnt")).as("neg"), col("pri"))).as("m"))
      .select(col("segment"), col("m.pri").as("mode_priority"),
              (-col("m.neg")).as("n_orders"))

  /** A19: INCREMENTAL materialized-view maintenance ([[graft.catalog.Mv]])
    * — the view is built from history, persisted, then refreshed with a
    * disjoint batch by folding the batch's own partial aggregate in;
    * history is never re-aggregated. The oracle doesn't know any of
    * that: it full-scans and GROUP BYs, so the gate proves incremental
    * == recompute. Here "history" is 9/10 of lineitem and the "batch"
    * the remaining tenth (a real deployment feeds refresh from newly
    * landed files — MvSpec asserts that path never re-reads history). */
  def a19IncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("l_returnflag", "l_linestatus")
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val li = table(s, dir, "lineitem")
    val mvPath = ioDir(dir, "a19mv")
    graft.catalog.Mv.partials(
        li.filter(col("l_orderkey") % 10 =!= 0), keys, cents)
      .write.mode("overwrite").parquet(mvPath)
    graft.catalog.Mv.merge(
      s.read.parquet(mvPath),
      graft.catalog.Mv.partials(
        li.filter(col("l_orderkey") % 10 === 0), keys, cents),
      keys)
  }

  /** SNK4: small-file compaction — the operational rewrite every 100 TB
    * table eventually needs: a fragmented layout (64 shards here; the
    * real-world version is thousands of streaming micro-batch files)
    * rewritten to a target file count, content-identical. The declared
    * query proves identity by aggregating the COMPACTED copy against
    * the oracle's direct-source aggregate; the spec pins the file
    * counts. At scale the repartition target comes from
    * bytes/targetFileSize and the rewrite goes partition-by-partition —
    * same plan, bounded working set. */
  def snk4Compaction(s: SparkSession, dir: String): DataFrame = {
    val frag = ioDir(dir, "snk4frag")
    val compact = ioDir(dir, "snk4compact")
    table(s, dir, "events")
      .select("event_id", "user_id", "event_type")
      .repartition(64)
      .write.mode("overwrite").parquet(frag)
    s.read.parquet(frag)
      .repartition(4)
      .write.mode("overwrite").parquet(compact)
    s.read.parquet(compact)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(col("event_id")).as("sum_id"),
           sum(col("user_id")).as("sum_uid"))
  }

  /** SNK8: the combined maintenance op — [[graft.ops.Layout
    * .compactZorder]] rewrites the 64-fragment events table as 4
    * Z-ordered files on (user_id, event_id). The declared result
    * re-reads the compacted table and must equal the source aggregate
    * (content invariance); the file count and per-file Morton-rectangle
    * tightness are pinned in LayoutSpec. */
  def snk8CompactZorder(s: SparkSession, dir: String): DataFrame = {
    val frag = ioDir(dir, "snk8frag")
    val compact = ioDir(dir, "snk8zorder")
    table(s, dir, "events")
      .select("event_id", "user_id", "event_type")
      .repartition(64)
      .write.mode("overwrite").parquet(frag)
    graft.ops.Layout.compactZorder(s, frag, compact,
      col("user_id") % 65536, col("event_id") % 65536, files = 4)
    s.read.parquet(compact)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(col("event_id")).as("sum_id"),
           sum(col("user_id")).as("sum_uid"))
  }

  /** W9: the remaining rank-family functions in one declared query —
    * dense_rank, cume_dist, nth_value over a full frame. One user-keyed
    * window partition, full (price desc, key) tie-break. */
  def w9RankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    table(s, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        dense_rank().over(w).as("drank"),
        round(cume_dist().over(w), 6).as("cdist"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_key"))
  }

  /** A13: bivariate statistical aggregates (corr / covar_samp /
    * regr_slope) — single-pass partial-aggregable moments, rounded per
    * the a1 stddev policy (inherently-float results round; double
    * accumulation-order drift is far below the rounded digit). */
  def a13Corr(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6)
             .as("corr_qp"),
           round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
             .as("covar_qp"),
           round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
             .as("slope"))

  /** A14: EXACT per-group percentiles (percentile_disc semantics),
    * cross-validating the A11 sketch the way d2_ngram_jaccard
    * cross-validates the LSH. The formulation is the one that survives
    * 100 TB: a keyed SORT (cume_dist window on the group key), then
    * percentile_disc(p) = min value with cume_dist >= p — the group-by
    * reuses the window's exchange, so the whole query is ONE shuffle and
    * never collects a per-group value buffer the way Spark's exact
    * `percentile` ObjectHashAggregate does. l_quantity is discrete, so
    * the picked values are actual data points — no interpolation float. */
  /** A24 — MERGEABLE bottom-k quantile sketch (the KMV sampling idea
    * a23 uses for cardinality, turned on QUANTILES): a group's sketch
    * is its k = 64 rows with the smallest md5(o_orderkey) — bottom-k
    * hashing is a deterministic uniform sample without replacement, so
    * the sketch is MERGEABLE with a provably lossless rule: bottom-k
    * of a union of per-group bottom-k's equals bottom-k of the raw
    * union (any global bottom-k member is bottom-k within its own
    * group — its group discarded only larger hashes). The global
    * (`ALL`) row is built exactly that way: from the ≤5·64 per-group
    * sketch rows, never from the fact table — the a18 rollup pattern
    * with the error bar made DETERMINISTIC (the sample is
    * hash-determined, so the estimate is bit-reproducible and the
    * whole query gates exact, not within-tolerance). Median estimate =
    * percentile_disc(0.5) over the sample, computed positionally on
    * the ≤64-element sorted array (with ties the positional pick
    * equals min-value-with-cume_dist≥½ — the a14 identity). The exact
    * per-group + global medians ride along as the audit columns; the
    * global exact leg is a single-partition cume_dist window —
    * affordable at gate SF, and exactly the cost the sketch exists to
    * DELETE at 100 TB (production keeps the estimate column only). */
  def a24SampleQuantiles(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders").select(
      col("o_orderpriority").as("grp"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      md5(col("o_orderkey").cast("string")).as("h"),
      col("o_orderkey"))
    val w = Window.partitionBy("grp").orderBy(col("h"), col("o_orderkey"))
    // the per-group sketches; cached — the global merge re-reads them
    val samp = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 64)
      .select("grp", "h", "o_orderkey", "cents")
      .cache()
    val wg = Window.orderBy(col("h"), col("o_orderkey"))
    val global = samp.withColumn("rn", row_number().over(wg))
      .filter(col("rn") <= 64)
      .select(lit("ALL").as("grp"), col("cents"))
    val est = samp.select(col("grp"), col("cents")).unionByName(global)
      .groupBy("grp")
      .agg(sort_array(collect_list("cents")).as("sv"))
      .select(col("grp"), size(col("sv")).cast("long").as("n_sample"),
        element_at(col("sv"),
          floor((size(col("sv")) + 1) / 2).cast("int"))
          .as("est_median_cents"))
    val wcd = Window.partitionBy("grp").orderBy("cents")
    val exact = o.select(col("grp"), col("cents"))
      .unionByName(o.select(lit("ALL").as("grp"), col("cents")))
      .withColumn("cd", cume_dist().over(wcd))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"),
        min(when(col("cd") >= 0.5, col("cents"))).as("exact_median_cents"))
    est.join(exact, Seq("grp"))
      .select(col("grp"), col("n_rows"), col("n_sample"),
        col("est_median_cents"), col("exact_median_cents"),
        abs(col("est_median_cents") - col("exact_median_cents"))
          .as("err_cents"))
  }

  /** A27 — exact interpolated PERCENTILE_CONT in fixed point. a14 gave
    * percentile_disc (a value FROM the group); the CONT form
    * interpolates BETWEEN order statistics — v_lo + frac·(v_hi−v_lo)
    * at pos = p·(n−1) — and every engine's builtin divides in its own
    * order, so the gate carries the result ×4: for p ∈ {¼,½,¾},
    * 4·pos = p4·(n−1) is an INTEGER, frac4 = (p4·(n−1)) mod 4, and
    *   p_x4 = v[k]·(4−frac4) + v[k+1]·frac4,  k = (p4·(n−1)) div 4 + 1,
    * exact BIGINT quarter-units (quantity is integral — the GIS18
    * verified domain). The division by 4 is the caller's monotone
    * post-step. Ties need no tiebreak: rank positions among equal
    * values hold equal values, so v[k] is determined by the sorted
    * MULTISET alone. Shape: ONE rank window per group (n rides the
    * same partition as an unbounded count — no second exchange), then
    * one aggregate selecting the ≤2 contributing rows per percentile
    * via rn predicates — no per-group value buffer materializes (the
    * a14 anti-ObjectHashAggregate stance, extended to interpolation). */
  def a27PercentileCont(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag").orderBy("v")
    val wn = Window.partitionBy("l_returnflag")
    val base = table(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
    def px4(p4: Int) = {
      val pos4 = lit(p4.toLong) * (col("n") - 1)
      // exact: pos4 − pos4%4 is divisible by 4, the double division is
      // of integers ≪ 2^53
      val k = ((pos4 - pos4 % 4) / 4).cast("long") + 1
      val frac4 = pos4 % 4
      sum(when(col("rn") === k, col("v") * (lit(4) - frac4))
            .when(col("rn") === k + 1 && frac4 > 0, col("v") * frac4))
    }
    base.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), px4(1).as("p25_x4"),
           px4(2).as("p50_x4"), px4(3).as("p75_x4"))
  }

  def a14ExactPercentile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.95 -> "p95")
    table(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("l_returnflag")
      .agg(min(when(col("cd") >= qs.head._1, col("l_quantity")))
             .as(qs.head._2),
           qs.tail.map { case (p, nm) =>
             min(when(col("cd") >= p, col("l_quantity"))).as(nm) } ++
           Seq(count(lit(1)).as("n"),
               percentile_approx(col("l_quantity"),
                 array(qs.map(q => lit(q._1)): _*), lit(10000)).as("apx"))
           : _*)
      .select(col("l_returnflag") +: qs.map(q => col(q._2)) :+
        col("n") :+
        qs.zipWithIndex.map { case ((_, nm), i) =>
          abs(element_at(col("apx"), i + 1) - col(nm)) <=
            greatest(abs(col(nm)) * 0.01, lit(1.0)) }
          .reduce(_ && _).cast("int").as("within_tol"): _*)
  }

  /** A20: exact WEIGHTED percentiles per group — the price below which
    * a quarter / half / three quarters of the shipped VOLUME trades
    * (weight = quantity), not a quarter of the rows: the
    * volume-weighted sibling of A14 no engine offers as a built-in
    * (there is no weighted quantile_disc). Scalable decomposition: one
    * ordered running-weight window + threshold picks — weighted
    * percentile_disc(p) = min value whose running weight crosses p·W,
    * with the crossings tested as BIGINT cross-multiplies
    * (4·cumw ≥ W, 2·cumw ≥ W, 4·cumw ≥ 3·W — the q11 threshold policy,
    * no double division anywhere). A rows-frame running sum is
    * order-dependent WITHIN a tie run, but the pick is not: a run
    * crosses iff its LAST row does (intra-run sums only grow), and
    * min() then returns the run's value whichever row crossed — so the
    * result is deterministic under ties with no tie-break key needed.
    * The group-by rides the windows' l_returnflag exchange (the a14
    * one-shuffle shape); everything stays integer cents × integral
    * quantities. */
  def a20WeightedPercentile(s: SparkSession, dir: String): DataFrame = {
    val run = Window.partitionBy("l_returnflag").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy("l_returnflag")
    table(s, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_quantity")).cast("long").as("wq"))
      .withColumn("cumw", sum(col("wq")).over(run))
      .withColumn("totw", sum(col("wq")).over(all))
      .groupBy("l_returnflag")
      .agg(min(when(col("cumw") * 4 >= col("totw"), col("cents"))).as("wp25"),
           min(when(col("cumw") * 2 >= col("totw"), col("cents"))).as("wp50"),
           min(when(col("cumw") * 4 >= col("totw") * 3, col("cents"))).as("wp75"),
           sum(col("wq")).as("total_weight"))
  }

  /** O1: global multi-key sort of the FACT table with a full tie-break
    * (the (orderkey, linenumber) PK closes the order) — the named form
    * of the capability that previously rode a 15-row catalog sort. The
    * point is the PLAN: Spark samples the key distribution and range-
    * partitions, so every partition sorts its slice in parallel and
    * partitions concatenate in order — never a single-partition sort
    * (asserted in PlanBudgetSpec). Timestamps leave as epoch-us longs
    * per the exactness policy. */
  def o1Sort(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      // l_shipdate is TIMESTAMP_NTZ; the cast is identity wall-clock
      // under the session's pinned UTC, matching DuckDB's epoch_us
      .select(unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"),
              col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("ship_us").asc, col("l_orderkey").asc,
               col("l_linenumber").asc)

  // ---------- composite analytical queries ----------

  /** Per-row discounted revenue as integer CENTS, snapped BEFORE the sum
    * so the aggregate is exact integer arithmetic (one definition for
    * every composite query — money-rounding rules must not diverge
    * between them). round(x*100) rather than CAST(x AS DECIMAL(18,2)):
    * at an integer boundary both engines round ties away from zero,
    * whereas the decimal cast diverges (Spark HALF_UP vs DuckDB) on
    * products that land exactly on a representable .xx5 — observed as a
    * 1-cent drift at sf0.1. */
  private def revenueCents =
    sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(100)).cast("long"))
      .as("revenue_cents")

  /** TPC-H Q3 shape: 3-way join with predicates pushed to all three
    * scans, revenue aggregation, deterministic top-10. Proves the
    * operator surface COMPOSES — pushdown + join order + agg + top-k in
    * one declarative plan. Revenue is per-row cents BEFORE the sum
    * (exact integer aggregate, order-independent). */
  def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01")
    table(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy(col("l_orderkey"),
               col("o_orderdate").cast("date").as("odate"),
               col("o_orderpriority"))
      .agg(revenueCents)
      .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"),
              date_format(col("odate"), "yyyy-MM-dd").as("odate"),
              col("o_orderpriority"), col("revenue_cents"))
  }

  /** TPC-H Q5 shape: 6-table join (two dimension sides broadcast), local
    * supplier volume per nation in one region over a date window. */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1998-01-01"))
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(table(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(table(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(revenueCents)

  /** O5: pivot (wide crosstab) with an EXPLICIT value list — Spark's
    * pivot without values runs an extra distinct-collect job to discover
    * them; declaring the five priorities keeps this a single group-by
    * plan (one shuffle on o_orderstatus). Missing combos coalesce to 0
    * so the shape is total at every SF. */
  def o5Pivot(s: SparkSession, dir: String): DataFrame = {
    val vals = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val names = Seq("p_urgent", "p_high", "p_medium", "p_notspec", "p_low")
    val piv = table(s, dir, "orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", vals)
      .agg(count(lit(1)))
    piv.select(col("o_orderstatus") +:
      vals.zip(names).map { case (v, n) =>
        coalesce(col(s"`$v`"), lit(0L)).as(n) }: _*)
  }

  /** A12: full cube + grouping_id — all four grouping sets of
    * (returnflag, linestatus) in ONE pass (Spark expands the cube in the
    * aggregate, not by re-scanning per set). grouping_id bit order
    * (first listed column = MSB) matches DuckDB's GROUPING(). */
  def a12Cube(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("int").as("gid"),
           count(lit(1)).as("n"),
           sum("l_quantity").cast("long").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("rf"),
              coalesce(col("l_linestatus"), lit("<all>")).as("ls"),
              col("gid"), col("n"), col("sum_qty"))

  /** F10: higher-order array functions (filter/transform/aggregate) over
    * the embedding column — per-row lambda folds, fully codegen'd, no
    * explode/re-aggregate round trip (the anti-pattern this query
    * exists to rule out: posexplode + groupBy shuffles |corpus|×dim
    * rows for what is a narrow per-row computation). */
  def f10HigherOrder(s: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    table(s, dir, "embeddings").select(
      col("vec_id"),
      size(filter(e, x => x > 0f)).as("n_pos"),
      round(aggregate(transform(e, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x), 4).as("sumsq"),
      round(array_max(transform(e, x => abs(x.cast("double")))), 4)
        .as("max_abs"))
  }

  /** TPC-H Q1 shape: the pricing-summary scan-heavy aggregate — one full
    * lineitem pass, map-side partial agg, 4-group output. Money snapped
    * to cents per-row before summing (exact, order-independent); the
    * charge term rounds the product once (not per factor). */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").cast("long").as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("sum_disc_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * 100).cast("long")).as("sum_charge_cents"),
        count(lit(1)).as("n"))

  /** TPC-H Q10 shape: returned-item revenue per customer — 3 fact-side
    * joins + broadcast nation dim, group on the customer grain,
    * deterministic top-20 (revenue desc, custkey asc). */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= lit("1996-10-01") &&
              col("o_orderdate") < lit("1997-01-01"))
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag") === "R")
      .join(broadcast(table(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(revenueCents)
      .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
              col("revenue_cents"))

  // ---------- subquery shapes (Catalyst decorrelation gates) ----------
  // Each text is dialect-neutral and used VERBATIM on both sides of the
  // gate: Spark parses/optimizes it via spark.sql, DuckDB replays the
  // identical statement as the oracle — so the row proves the two
  // engines agree on the same SQL, not on two hand-matched dialects.

  /** TPC-H Q17 shape: correlated SCALAR subquery — the per-part average
    * quantity referenced from the outer predicate. Catalyst decorrelates
    * it into a per-part aggregate joined back on the correlation key
    * (one declarative plan — NOT a per-outer-row re-execution), which
    * [[SubquerySpec]] asserts against the plan and cross-checks against
    * the hand-decorrelated DataFrame form. Exactness: l_quantity is an
    * integer-valued double, so the per-part sum is exact and
    * avg = exact-sum / count is the same single IEEE division in both
    * engines; money snaps to cents per-row before the sum (house rule). */
  private[ops] val q17Sql: String =
    """SELECT count(*) AS n,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
      |  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
      |                    FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q17Sql)
  }

  /** TPC-H Q21 shape: correlated EXISTS + NOT EXISTS against the same
    * fact table (the fixture carries no receipt/commit dates, so "late"
    * is re-expressed over l_returnflag: suppliers whose item on a
    * multi-supplier order was the ONLY return on that order). Catalyst
    * plans both as existence/anti joins on l_orderkey — never a per-row
    * probe. Deterministic top-10 via the (numwait desc, s_name) key. */
  private[ops] val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1
      |WHERE s_suppkey = l1.l_suppkey AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name ASC
      |LIMIT 10""".stripMargin

  def q21Waiting(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q21Sql)
  }

  /** TPC-H Q22-ish shape: IN (SELECT …) → left semi join, NOT IN
    * (SELECT …) → Spark's null-aware anti join (its own codepath — the
    * subquery column is non-null here so both engines agree on the
    * three-valued-logic edge), and an UNCORRELATED scalar subquery that
    * stays a one-row subquery stage feeding a literal. max() not avg()
    * for the scalar: max is order-independent over doubles, a float
    * avg's sum is not. */
  private[ops] val q22Sql: String =
    """SELECT o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     WHERE l_quantity >= 45)
      |  AND o_custkey NOT IN (SELECT c_custkey FROM customer
      |                        WHERE c_acctbal < 0)
      |  AND o_totalprice < (SELECT 0.5 * max(o2.o_totalprice)
      |                      FROM orders o2)
      |GROUP BY o_orderpriority""".stripMargin

  def q22InSubquery(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q22Sql)
  }

  /** TPC-H Q18 shape: IN over a GROUPED + HAVING subquery (the "large
    * orders" filter) — the aggregate-subquery flavor SUB1–SUB3 don't
    * cover: Catalyst plans the HAVING aggregate once and semi-joins it.
    * Money exits as per-row-rounded cents; top-10 fully tie-broken. */
  private[ops] val q18Sql: String =
    """SELECT c_name, o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey
      |                     HAVING sum(l_quantity) > 300)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, o_orderkey, o_totalprice
      |ORDER BY total_cents DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q18Sql)
  }

  /** TPC-H Q4 shape: correlated EXISTS whose inner predicate compares a
    * NON-KEY outer column with date arithmetic (l_shipdate more than 30
    * days after the order date) — decorrelation must carry o_orderdate
    * into the semi-join condition, a mixed equi + non-equi existence
    * join (the flavor q21's pure-equi EXISTS doesn't cover). Timestamp
    * literals and INTERVAL arithmetic are dialect-neutral. */
  private[ops] val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q4Sql)
  }

  /** TPC-H Q15 shape: a CTE ("view") referenced TWICE — once as the
    * fact being filtered, once inside the uncorrelated scalar max that
    * filters it (top-revenue supplier). Exercises CTE dedup/reuse in
    * both planners; revenue snaps to cents per row before the sum. */
  private[ops] val q15Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |                  AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_cents
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_cents = (SELECT max(total_cents) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q15Sql)
  }

  /** TPC-H Q7 shape: two-nation shipping volume — a SIX-way join with
    * nation joined TWICE (supplier side and customer side) under a
    * disjunction that spans both roles, grouped by shipment year. The
    * double-role dimension join + cross-side OR is the shape Q2–Q22
    * siblings don't cover. */
  private[ops] val q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INT) AS l_year,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |                AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM supplier s
      |JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q7Sql)
  }

  /** TPC-H Q14 shape: promo revenue share per year — conditional
    * aggregation over a fact×dim join. Numerator and denominator exit
    * as exact cents (no float division crosses the gate). */
  private[ops] val q14Sql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS l_year,
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |       THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |            AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |                AS BIGINT)) AS BIGINT) AS total_cents
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q14Sql)
  }

  /** TPC-H Q13 shape: customer distribution — LEFT OUTER join with a
    * filter in the ON clause (not WHERE — customers with only urgent
    * orders must still count as zero), then TWO stacked aggregations
    * (orders per customer → customers per order-count). */
  private[ops] val q13Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q13Sql)
  }

  /** F17: Spark 4 VARIANT — semi-structured JSON as the binary variant
    * type: try_parse_json absorbs malformed rows (planted on every 10th
    * event) as NULL instead of failing the task, variant_get extracts a
    * typed path. The modern open-table shredding surface; f6's
    * get_json_object is the string-walking predecessor. */
  def f17Variant(s: SparkSession, dir: String): DataFrame = {
    // truncation, not a trailing token — the variant parser (like most
    // streaming JSON parsers) stops after the first complete value and
    // would accept '{"k":69}}'; an unterminated object cannot parse
    val raw = when(col("event_id") % 10 === 0,
      substring(col("props"), 1, 4)).otherwise(col("props"))
    table(s, dir, "events")
      .select(col("event_type"), try_parse_json(raw).as("v"))
      .select(col("event_type"), col("v"),
              variant_get(col("v"), "$.k", "int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           count(col("v")).as("n_valid"),
           sum(col("k")).cast("long").as("sum_k"))
  }

  /** J22 — NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): the
    * join where NULL is a MATCHABLE value, not an always-false
    * comparison — the semantics MERGE keys and SCD attribute joins
    * need. Spark hash-partitions null-safe keys like any equi key
    * (nulls all land in one bucket — a documented skew hazard when the
    * null population is large; here it is dimension-sized), so the
    * plan is an ordinary shuffled/broadcast hash join, never a
    * nested-loop fallback. Customers and suppliers pair on nationkey
    * with nation 3 masked to NULL on BOTH sides: under plain `=` those
    * rows silently vanish; under `<=>` they form the NULL bucket —
    * visible as the `-1` output group, which the oracle reproduces
    * with IS NOT DISTINCT FROM. */
  def j22NullsafeJoin(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer")
      .select(nullif(col("c_nationkey"), lit(3)).as("ck"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
    val sup = table(s, dir, "supplier")
      .select(nullif(col("s_nationkey"), lit(3)).as("sk"))
    c.join(sup, col("ck") <=> col("sk"))
      .groupBy(coalesce(col("ck"), lit(-1)).as("nk"))
      .agg(count(lit(1)).as("n_pairs"), sum("cents").as("sum_cents"))
  }

  /** A25 — exact linear REGRESSION moments (the regr_slope /
    * regr_intercept family, integer-exact): per (returnflag, ship
    * year), quantity explains spend. No engine's regr_* is
    * cross-engine bit-stable (each divides in its own accumulation
    * order), so the gate carries the EXACT BIGINT moments and the
    * assembled cross-multiplied numerators instead:
    *   slope = slope_num / slope_den,
    *   intercept = icpt_num / slope_den  (same denominator),
    * with slope_num = n·Σxy − Σx·Σy, slope_den = n·Σx² − (Σx)²,
    * icpt_num = Σy·Σx² − Σx·Σxy — the division is the caller's
    * monotone post-step (w13's discipline). Everything is one
    * map-side-combined aggregate; the year split keeps every product
    * within BIGINT at bench SF (n ≈ 28k per group at sf0.1 →
    * icpt_num ≈ 10¹⁷). */
  def a25Regression(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val y = round(col("l_extendedprice") * 100).cast("long")
    table(s, dir, "lineitem")
      .select(col("l_returnflag"), year(col("l_shipdate")).as("yr"),
        x.as("x"), y.as("y"))
      .groupBy("l_returnflag", "yr")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("l_returnflag"), col("yr"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("icpt_num"))
  }

  /** F23 — Spark 4 native XML (`from_xml`, the SPARK-44265 surface):
    * machine-shaped XML order records — element text, an ATTRIBUTE
    * (`id`, surfacing as `_id` under the default attributePrefix), and
    * integer cents so the round trip never touches float rendering —
    * parsed back under PERMISSIVE tolerance: every 97th record is
    * TRUNCATED mid-document and must land as a null struct field, not
    * kill the scan (src5's corrupt-record contract at the function
    * level). The oracle never parses XML: because the documents are
    * generated from the base columns in-plan, parse(generate(row)) ≡
    * row is the checkable contract, and corrupt rows are exactly the
    * planted ones. Corrupt rows group under 'CORRUPT' with zeroed
    * measures (their parsed fields are NULL, summed via coalesce). */
  def f23Xml(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val whole = concat(
      lit("<order id=\""), col("o_orderkey"), lit("\"><priority>"),
      col("o_orderpriority"), lit("</priority><total_cents>"),
      cents, lit("</total_cents></order>"))
    val xml = when(col("o_orderkey") % 97 === 0,
      substring(whole, 1, 30)).otherwise(whole)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("priority",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("total_cents",
        org.apache.spark.sql.types.LongType)))
    table(s, dir, "orders")
      .select(from_xml(xml, schema,
        new java.util.HashMap[String, String]()).as("x"))
      .select(
        coalesce(col("x.priority"), lit("CORRUPT")).as("priority"),
        coalesce(col("x.total_cents"), lit(0L)).as("tc"),
        when(col("x.priority").isNull, lit(0L))
          .otherwise(coalesce(col("x._id"), lit(0L))).as("oid"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n"), sum("tc").as("sum_cents"),
           sum("oid").as("sum_id"))
  }

  /** O7: UNPIVOT/melt — wide metric columns to long (metric, value)
    * rows, the inverse of o5_pivot; re-aggregated per metric so the
    * gate stays scalar. Money-class values snap to cents per row. */
  def o7Unpivot(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
              col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
           sum(round(col("value") * 100).cast("long")).as("sum_cents"))

  /** TPC-H Q2 shape: correlated scalar MIN over a FOUR-WAY join — the
    * min-cost-supplier query, re-expressed on the fixture (no partsupp
    * table: lineitem plays the supply-offer role, extendedprice the
    * cost). The inner subquery joins lineitem→supplier→nation→region
    * under the same region filter and correlates on the outer part key;
    * Catalyst decorrelates it into a per-part aggregate of the joined
    * inner, joined back (SubquerySpec asserts + cross-checks the
    * hand-decorrelated form). Exactness: the min comparison is equality
    * on UNARITHMETIC doubles (same value set both engines); money exits
    * as per-row cents. DISTINCT collapses equal-offer duplicates so the
    * fully-keyed top-20 is deterministic. */
  private[ops] val q2Sql: String =
    """SELECT DISTINCT s_name, n_name, p_partkey, p_brand,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
      |FROM part, lineitem, supplier, nation, region
      |WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE' AND p_size = 15
      |  AND l_extendedprice = (
      |    SELECT min(l2.l_extendedprice)
      |    FROM lineitem l2, supplier s2, nation n2, region r2
      |    WHERE l2.l_partkey = p_partkey AND l2.l_suppkey = s2.s_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey
      |      AND n2.n_regionkey = r2.r_regionkey
      |      AND r2.r_name = 'EUROPE')
      |ORDER BY price_cents ASC, p_partkey ASC, s_name ASC
      |LIMIT 20""".stripMargin

  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q2Sql)
  }

  /** TPC-H Q20 shape: NESTED IN (part-filter inside a grouped lineitem
    * subquery inside the supplier IN) with a CORRELATED SCALAR on the
    * inner derived table — the dominant-supplier query: suppliers whose
    * shipped quantity of some small part exceeds 1/8 of that part's
    * total shipped quantity. The correlation target is a GROUP BY
    * column of the derived table (the decorrelation stressor Q17–Q22
    * don't cover). 0.125 is an exact binary fraction and l_quantity an
    * integer-valued double, so the threshold compare is exact. */
  private[ops] val q20Sql: String =
    """SELECT s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT g.l_suppkey FROM (
      |    SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
      |    FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 10)
      |    GROUP BY l_suppkey, l_partkey) g
      |  WHERE g.q > 0.125 * (SELECT sum(l2.l_quantity) FROM lineitem l2
      |                       WHERE l2.l_partkey = g.l_partkey))
      |ORDER BY s_name""".stripMargin

  def q20DominantShare(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q20Sql)
  }

  /** J19 — LATERAL correlated derived table with ORDER BY + LIMIT: the
    * top-k-per-group join written the way SQL:2016 / Postgres / DuckDB
    * write it. W1's window covers the semantics; the LATERAL form
    * exercises the DECORRELATION of a correlated LIMIT — Catalyst's
    * DecorrelateInnerQuery rewrites the per-nation LIMIT 2 into a
    * partition-ranked join (row_number ≤ 2 over a window partitioned
    * by the correlation key), so per-outer-row re-execution never
    * exists at any scale — the same SQL text runs verbatim in both
    * engines. Ties at the boundary are impossible: s_name is unique
    * and rides the sort key. */
  private[ops] val j19Sql: String =
    """SELECT n_name, s_name, acctbal_cents
      |FROM nation, LATERAL (
      |  SELECT s_name,
      |    CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
      |  FROM supplier
      |  WHERE s_nationkey = n_nationkey
      |  ORDER BY acctbal_cents DESC, s_name
      |  LIMIT 2) t
      |ORDER BY n_name, acctbal_cents DESC, s_name""".stripMargin

  def j19LateralTopK(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(j19Sql)
  }

  /** TPC-H Q8 shape: national market share — the EIGHT-way join (all
    * seven relational tables, nation twice: customer side restricts the
    * market region, supplier side names the nation whose share is
    * measured), derived-table + conditional-aggregation share per order
    * year. Numerator and denominator exit as exact cents; the division
    * stays outside the gate. */
  private[ops] val q8Sql: String =
    """SELECT o_year,
      |  CAST(sum(CASE WHEN nation = 'NATION_6' THEN volume_cents
      |           ELSE 0 END) AS BIGINT) AS nation_cents,
      |  CAST(sum(volume_cents) AS BIGINT) AS total_cents
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |         AS BIGINT) AS volume_cents,
      |    n2.n_name AS nation
      |  FROM part, lineitem, supplier, orders, customer,
      |       nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
      |    AND p_type = 'PROMO') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q8Sql)
  }

  /** TPC-H Q9 shape: product-type profit by nation and year — the
    * LIKE-filtered part scan fanned through lineitem to supplier nation,
    * profit = revenue minus supply cost. No partsupp table in the
    * fixture, so cost is re-expressed as 10% of the part's retail price
    * per unit; to keep the gate integer-exact the amount is in
    * DECI-cents: 10 x revenue_cents - retail_cents x quantity (each
    * factor snaps per ROW via the established round(x*100) pattern
    * before any multiplication, so both engines do identical BIGINT
    * arithmetic). */
  private[ops] val q9Sql: String =
    """SELECT nation, o_year,
      |  CAST(sum(amount_decicents) AS BIGINT) AS profit_decicents
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(year(o_orderdate) AS INT) AS o_year,
      |    10 * CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |              AS BIGINT)
      |      - CAST(round(p_retailprice * 100) AS BIGINT)
      |        * CAST(l_quantity AS BIGINT) AS amount_decicents
      |  FROM part, lineitem, supplier, orders, nation
      |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE '%red%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  def q9ProfitNation(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q9Sql)
  }

  /** TPC-H Q11 shape: important stock — group-by with a HAVING clause
    * comparing the group aggregate against UNCORRELATED SCALAR
    * subqueries over the same filtered join (the global-threshold shape;
    * Q15's scalar filters a CTE, this one lives inside HAVING). No
    * partsupp: lineitem value per part plays the stock-value role.
    * TPC-H scales Q11's fraction by 1/SF so the row count survives data
    * growth; the same effect here is SCALE-FREE — keep parts holding
    * more than twice the MEAN per-part share (v x npart > 2 x total),
    * all-BIGINT multiplies, never a float threshold. */
  private[ops] val q11Sql: String =
    """SELECT l_partkey,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |       AS BIGINT) AS value_cents
      |FROM lineitem, supplier, nation
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_name = 'NATION_3'
      |GROUP BY l_partkey
      |HAVING CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT)
      |  * (SELECT count(DISTINCT l_partkey)
      |     FROM lineitem, supplier, nation
      |     WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |       AND n_name = 'NATION_3')
      |  > 2 *
      |  (SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |               AS BIGINT)
      |   FROM lineitem, supplier, nation
      |   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |     AND n_name = 'NATION_3')
      |ORDER BY value_cents DESC, l_partkey""".stripMargin

  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q11Sql)
  }

  /** TPC-H Q12 shape: shipping-mode priority split — fact-fact join
    * with a multi-value IN on the grouping column, INTERVAL-arithmetic
    * lateness predicate, and the two-way conditional counts. No
    * l_shipmode/commitdate in the fixture: l_returnflag plays the mode,
    * late = shipped more than 60 days after the order date. */
  private[ops] val q12Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_returnflag IN ('A', 'R')
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  def q12PriorityShipping(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q12Sql)
  }

  /** TPC-H Q16 shape: supplier count per part attribute triple — a
    * NOT-IN anti subquery excluding flagged suppliers (negative account
    * balance plays the complaints role; no partsupp, so lineitem is the
    * who-supplies-what relation), count(DISTINCT) under a negated LIKE
    * + brand + size-IN filter, ordered by the count. */
  private[ops] val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#1'
      |  AND p_type NOT LIKE 'PRO%'
      |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      |  AND l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.register(s, dir)
    s.sql(q16Sql)
  }

  /** Deletion neighborhood of a string: the string plus every
    * single-character deletion — the FastSS candidate key for edit
    * distance ≤ 1 (two strings within ED 1 ALWAYS share a variant, so an
    * equi-join on variants is a complete candidate generator). */
  private def deletionVariants(c: Column): Column =
    array_union(array(c),
      // the length guard matters: Spark's sequence(1, 0) is DESCENDING
      // [1, 0], so an empty string would fabricate bogus variants
      when(length(c) >= 1,
        transform(sequence(lit(1), length(c)),
          i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c)))))
        .otherwise(array().cast("array<string>")))

  /** J12: fuzzy (edit-distance ≤ 1) join WITHOUT an all-pairs cross
    * join: both sides explode to their deletion neighborhoods, candidates
    * come from a plain equi-join on the variant (shuffle-partitionable,
    * bucket-bounded — the FastSS scheme), and only candidates pay the
    * exact `levenshtein` verification. The probe side is the nation
    * table with one character deleted (a planted typo corpus). At 100 TB
    * the variant column is just another join key: salting/AQE apply, and
    * neighborhood size is |s|+1 — linear fan-out, never quadratic. */
  /** The ED≤1 join core: explode both sides to deletion neighborhoods,
    * equi-join on the variant, dedup candidates, verify exactly. Output
    * columns: (l_id, l_s, r_id, r_s). */
  def ed1Join(l: DataFrame, lId: Column, lStr: Column,
              r: DataFrame, rId: Column, rStr: Column): DataFrame = {
    val lv = l.select(lId.as("l_id"), lStr.as("l_s"),
      explode(deletionVariants(lStr)).as("v"))
    val rv = r.select(rId.as("r_id"), rStr.as("r_s"),
      explode(deletionVariants(rStr)).as("v"))
    lv.join(rv, "v")
      .select("l_id", "l_s", "r_id", "r_s").distinct()
      .filter(levenshtein(col("l_s"), col("r_s")) <= 1)
  }

  def j12FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val nation = table(s, dir, "nation").select("n_nationkey", "n_name")
    val typos = nation.filter(length(col("n_name")) >= 4)
      .select((col("n_nationkey") + 100).as("t_id"),
        concat(substring(col("n_name"), 1, 2), expr("substring(n_name, 4)"))
          .as("t_name"))
    ed1Join(typos, col("t_id"), col("t_name"),
            nation, col("n_nationkey"), col("n_name"))
      .select(col("l_id").as("t_id"), col("l_s").as("t_name"),
              col("r_id").as("n_nationkey"), col("r_s").as("n_name"))
  }

  /** F11: Z-order (Morton) clustering key — the 2D-pruning write layout
    * ([[Layout.zorder16]]). The query emits the interleaved key plus a
    * per-Z-range aggregate proving the curve's locality (each 65536-wide
    * Z bucket covers at most a 256x256 (partkey, suppkey) rectangle —
    * exactly the min/max stats a file written in Z order would carry). */
  def f11Zorder(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .select(Layout.zorder16(col("l_partkey"), col("l_suppkey")).as("z"),
              col("l_partkey").bitwiseAND(lit(0xFFFFL)).as("x"),
              col("l_suppkey").bitwiseAND(lit(0xFFFFL)).as("y"))
      .groupBy((col("z") - pmod(col("z"), lit(65536L))).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
           min("x").as("min_x"), max("x").as("max_x"),
           min("y").as("min_y"), max("y").as("max_y"))

  lazy val (queries, oracle) = registry(declared)

  private[ops] val declared: Seq[Query] = Seq(
    Query("p2_filter", p2Filter,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'A' AND l_discount > 0.05
        |  AND l_shipdate IS NOT NULL AND l_linestatus = 'F'""".stripMargin),
    Query("p3_point_lookup", p3PointLookup,
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        |FROM orders WHERE o_orderkey = 7""".stripMargin),
    Query("p4_regex", p4Regex,
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE regexp_matches(p_name, '^[ab]') AND p_type LIKE 'S%'""".stripMargin),
    Query("p5_case", p5Case,
      """SELECT CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%' THEN 'high'
        |            WHEN o_orderpriority LIKE '3%' THEN 'medium'
        |            ELSE 'low' END AS urgency, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin),
    Query("j2_shuffle_join", j2ShuffleJoin,
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    Query("j3_left_outer", j3LeftOuter,
      """SELECT o_orderkey, count(l_orderkey) AS n_items,
        |  coalesce(CAST(sum(l_quantity) AS BIGINT), 0) AS sum_qty
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin),
    Query("j4_semi", j4Semi,
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
    Query("j5_anti", j5Anti,
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin),
    Query("j7_asof", j7AsOf,
      """SELECT event_id, user_id, click_ts_us, click_id FROM (
        |  SELECT p.event_id AS event_id, p.user_id AS user_id,
        |    epoch_us(c.ts) AS click_ts_us, c.event_id AS click_id,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC NULLS LAST, c.event_id DESC) AS rn
        |  FROM events p
        |  LEFT JOIN events c
        |    ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
        |  WHERE p.event_type = 'purchase')
        |WHERE rn = 1""".stripMargin),
    Query("j8_cross", j8Cross,
      "SELECT n_name, r_name FROM nation CROSS JOIN region"),
    Query("j10_salted_join", j10SaltedJoin,
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    Query("j11_bucketed_join", j11BucketedJoin,
      """SELECT c_custkey, c_name, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, c_custkey ASC
        |LIMIT 10""".stripMargin),
    Query("q6_sql_text", q6SqlText,
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)
        |         AS revenue_e4,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    Query("j9_interval_overlap", j9IntervalOverlap,
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND epoch_us(b.ts) < epoch_us(a.ts) + 600000000
        | AND epoch_us(a.ts) < epoch_us(b.ts) + 600000000
        |WHERE a.event_type = 'error' AND b.event_type = 'error'""".stripMargin),
    Query("j6_range_autorewrite", j6RangeAutoRewrite,
      """WITH ranges(lo, hi, out) AS (
        |  VALUES (0.0, 10.0, 1), (10.0, 25.0, 2), (25.0, 40.0, 3),
        |         (40.0, 55.0, 4))
        |SELECT l.l_orderkey, l.l_linenumber, r.out
        |FROM lineitem l JOIN ranges r
        |  ON CAST(l.l_quantity AS DOUBLE) >= r.lo
        | AND CAST(l.l_quantity AS DOUBLE) < r.hi""".stripMargin),
    Query("a1_stats", a1Stats,
      """SELECT count(*) AS n,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  avg(l_quantity) AS avg_qty,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS min_price_cents,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS max_price_cents
        |FROM lineitem""".stripMargin),
    Query("a2_groupby", a2GroupBy,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_cents
        |FROM lineitem GROUP BY 1, 2""".stripMargin),
    Query("a3_distinct", a3Distinct,
      """SELECT l_returnflag, l_linestatus,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1, 2""".stripMargin),
    Query("a4_approx_distinct", a4ApproxDistinct,
      "SELECT count(DISTINCT l_partkey) AS exact_nd, 1 AS within_5pct FROM lineitem"),
    Query("a11_approx_percentile", a11ApproxPercentile,
      """SELECT quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.95) AS p95,
        |  1 AS within_tol
        |FROM lineitem""".stripMargin),
    // the map path must equal the flat relational computation
    Query("f16_map_ops", f16MapOps,
      """SELECT l_orderkey, l_linenumber AS linenumber,
        |       sum(l_quantity) * 2 AS qty2
        |FROM lineitem WHERE l_orderkey <= 200
        |GROUP BY 1, 2
        |HAVING sum(l_quantity) * 2 >= 50""".stripMargin),
    // outer-unnest emulation: empty/null arrays become [NULL] so the
    // parent row survives with a NULL element — explode_outer's contract
    Query("f14_explode_outer", f14ExplodeOuter,
      """WITH nums AS (
        |  SELECT l_orderkey AS okey, list_sort(list(l_linenumber)) AS nums
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN CAST([] AS INT[])
        |         ELSE n.nums END AS nums
        |  FROM orders o LEFT JOIN nums n ON o.o_orderkey = n.okey
        |  WHERE o_orderkey <= 100)
        |SELECT o_orderkey,
        |  unnest(CASE WHEN nums IS NULL OR len(nums) = 0
        |              THEN CAST([NULL] AS INT[]) ELSE nums END) AS linenumber
        |FROM base""".stripMargin),
    Query("o6_pagination", o6Pagination,
      """SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
        |FROM orders
        |ORDER BY total_cents DESC, o_orderkey ASC
        |LIMIT 10 OFFSET 10""".stripMargin),
    Query("a16_conditional_agg", a16ConditionalAgg,
      """SELECT l_returnflag,
        |  count(*) FILTER (l_quantity >= 25) AS n_big,
        |  CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    FILTER (l_discount > 0.05), 0) AS BIGINT) AS disc_cents,
        |  bool_and(l_quantity >= 1) AS all_positive,
        |  bool_or(l_quantity >= 50) AS any_max
        |FROM lineitem GROUP BY 1""".stripMargin),
    Query("a17_grouping_sets", a17GroupingSets, a17Sql),
    // exact counts + contract flags; the sketch estimates live only in
    // the within_tol checks (sketch bytes are engine-specific)
    Query("a18_sketch_rollup", a18SketchRollup,
      """SELECT o_orderpriority AS prio,
        |  count(DISTINCT o_custkey) AS n_exact, 1 AS within_tol
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT '<all>', count(DISTINCT o_custkey), 1 FROM orders""".stripMargin),
    // independent formulation: plain COUNT(DISTINCT) cross-validates
    // the whole bitmap bucket/construct/or/count algebra
    Query("a21_bitmap_distinct", a21BitmapDistinct,
      """SELECT o_orderpriority AS prio,
        |  count(DISTINCT o_custkey) AS n_distinct
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT '<all>', count(DISTINCT o_custkey) FROM orders""".stripMargin),
    // same generated version table as VALUES; half-open windows tile
    // each key's timeline, so the join is exactly-once by construction
    Query("j20_temporal_lookup", j20TemporalLookup,
      s"""WITH dim(dk, ver, vstart, vend, tier) AS (VALUES
        |  ${scd2Dim.map { case (k, v, s0, e0, tr) =>
             val end = if (e0 == null) "CAST(NULL AS BIGINT)" else e0.toString
             s"($k, $v, $s0, $end, '$tr')" }.mkString(",\n  ")}),
        |e AS (
        |  SELECT user_id % 10 AS k, epoch_us(ts) AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL)
        |SELECT tier, CAST(ver AS BIGINT) AS ver, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM e JOIN dim ON e.k = dim.dk AND t >= vstart
        |  AND (vend IS NULL OR t < vend)
        |GROUP BY 1, 2""".stripMargin),
    // per-column metrics replayed as independent scalar subqueries; the
    // within_tol flag is Spark-side-attested (a18 contract), literal 1
    Query("v6_dq_profile", v6DqProfile,
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
          "l_shipdate").map { c =>
        s"""SELECT '$c' AS col_name,
           |  (SELECT count(*) FROM lineitem) AS n_rows,
           |  (SELECT count(*) FROM lineitem WHERE $c IS NULL) AS n_null,
           |  (SELECT count(DISTINCT $c) FROM lineitem) AS n_distinct,
           |  CAST(1 AS INT) AS within_tol""".stripMargin
      }.mkString("\nUNION ALL\n")),
    // bit-for-bit sketch replay: same md5-prefix hash, same k-min cut,
    // same theta intersection rule; hex string order IS numeric order
    Query("a23_theta_overlap", a23ThetaOverlap,
      """WITH c AS (
        |  SELECT event_type AS t, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |             count(*) AS npairs FROM c),
        |du AS (SELECT t, user_id FROM c, s WHERE n * npairs > total),
        |e AS (SELECT t,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS h FROM du),
        |r AS (SELECT t, h,
        |        row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM e),
        |sk AS (SELECT t, h FROM r WHERE rn <= 32),
        |th AS (SELECT t, max(h) AS theta FROM sk GROUP BY 1),
        |ex AS (
        |  SELECT a.t AS ta, b.t AS tb, count(*) AS n_inter_exact
        |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.t < b.t
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT a.t AS ta, b.t AS tb, count(*) AS m_inter,
        |    min(least(tha.theta, thb.theta)) AS th_s
        |  FROM sk a JOIN sk b ON a.h = b.h AND a.t < b.t
        |  JOIN th tha ON tha.t = a.t JOIN th thb ON thb.t = b.t
        |  WHERE a.h < least(tha.theta, thb.theta)
        |  GROUP BY 1, 2)
        |SELECT ta, tb, m_inter,
        |  CAST(concat('0x', th_s) AS BIGINT) AS theta_min,
        |  CAST(round(m_inter * 1152921504606846976.0 /
        |       CAST(concat('0x', th_s) AS BIGINT)) AS BIGINT) AS est_users,
        |  n_inter_exact
        |FROM m JOIN ex USING (ta, tb)""".stripMargin),
    // window-rank formulation — independent of the Spark side's
    // double-aggregate argmax shape
    // same bottom-64-by-md5 sample, positional percentile_disc on the
    // sorted sample array, cume_dist exact audit — all deterministic,
    // so the sketch estimate itself gates exact
    Query("a24_sample_quantiles", a24SampleQuantiles,
      """WITH o AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    md5(CAST(o_orderkey AS VARCHAR)) AS h, o_orderkey
        |  FROM orders),
        |samp AS (
        |  SELECT grp, h, o_orderkey, cents FROM (
        |    SELECT grp, h, o_orderkey, cents, row_number() OVER (
        |      PARTITION BY grp ORDER BY h, o_orderkey) AS rn
        |    FROM o) WHERE rn <= 64),
        |gmerge AS (
        |  SELECT 'ALL' AS grp, cents FROM (
        |    SELECT cents, row_number() OVER (ORDER BY h, o_orderkey) AS rn
        |    FROM samp) WHERE rn <= 64),
        |su AS (SELECT grp, cents FROM samp
        |       UNION ALL SELECT grp, cents FROM gmerge),
        |est AS (
        |  SELECT grp, list_sort(list(cents)) AS sv FROM su GROUP BY grp),
        |est2 AS (
        |  SELECT grp, CAST(len(sv) AS BIGINT) AS n_sample,
        |    sv[(len(sv) + 1) // 2] AS est_median_cents
        |  FROM est),
        |f AS (SELECT grp, cents FROM o
        |      UNION ALL SELECT 'ALL', cents FROM o),
        |cd AS (SELECT grp, cents,
        |         cume_dist() OVER (PARTITION BY grp ORDER BY cents) AS cd
        |       FROM f),
        |ex AS (SELECT grp, count(*) AS n_rows,
        |         min(CASE WHEN cd >= 0.5 THEN cents END)
        |           AS exact_median_cents
        |       FROM cd GROUP BY grp)
        |SELECT e.grp, CAST(x.n_rows AS BIGINT) AS n_rows, e.n_sample,
        |  e.est_median_cents, x.exact_median_cents,
        |  abs(e.est_median_cents - x.exact_median_cents) AS err_cents
        |FROM est2 e JOIN ex x ON e.grp = x.grp""".stripMargin),
    Query("a22_mode", a22Mode,
      """WITH t AS (
        |  SELECT c_mktsegment AS segment, o_orderpriority AS pri,
        |    count(*) AS cnt
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT segment, pri, cnt,
        |    row_number() OVER (PARTITION BY segment
        |                       ORDER BY cnt DESC, pri) AS rn
        |  FROM t)
        |SELECT segment, pri AS mode_priority, cnt AS n_orders
        |FROM r WHERE rn = 1""".stripMargin),
    // the oracle full-scans — the gate proves incremental == recompute
    Query("a19_incremental_mv", a19IncrementalMv,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |       AS BIGINT) AS sum_cents,
        |  CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT))
        |       AS BIGINT) AS max_cents
        |FROM lineitem
        |GROUP BY 1, 2""".stripMargin),
    Query("f12_try_family", f12TryFamily,
      """SELECT o_orderkey,
        |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
        |  TRY_CAST(o_orderstatus AS INT) AS status_num,
        |  CASE WHEN len(string_split(o_orderpriority, '-')) >= 3
        |       THEN string_split(o_orderpriority, '-')[3]
        |       ELSE NULL END AS third_part,
        |  CASE WHEN o_custkey % 2 = 0 THEN NULL
        |       ELSE o_totalprice / (o_custkey % 2) END AS odd_ratio
        |FROM orders""".stripMargin),
    Query("o1_sort", o1Sort,
      """SELECT epoch_us(l_shipdate) AS ship_us, l_orderkey, l_linenumber,
        |       l_quantity
        |FROM lineitem ORDER BY 1, 2, 3""".stripMargin),
    // quantile_disc == min value with cume_dist >= p (verified: both
    // pick the ceil(p*n)-th order statistic); within_tol asserts the
    // A11 sketch agrees with the exact values to 1% on the Spark side
    Query("a14_exact_percentile", a14ExactPercentile,
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS p25,
        |  quantile_disc(l_quantity, 0.5) AS p50,
        |  quantile_disc(l_quantity, 0.95) AS p95,
        |  count(*) AS n, 1 AS within_tol
        |FROM lineitem GROUP BY 1""".stripMargin),
    // INDEPENDENT formulation: DuckDB's native quantile_cont ×4 — the
    // interpolation fractions are quarters, so the double result is
    // exact and ×4 is integral; the window-free builtin must agree with
    // the rank-window fixed-point decomposition
    Query("a27_percentile_cont", a27PercentileCont,
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(round(quantile_cont(l_quantity, 0.25) * 4) AS BIGINT)
        |    AS p25_x4,
        |  CAST(round(quantile_cont(l_quantity, 0.5) * 4) AS BIGINT)
        |    AS p50_x4,
        |  CAST(round(quantile_cont(l_quantity, 0.75) * 4) AS BIGINT)
        |    AS p75_x4
        |FROM lineitem GROUP BY 1""".stripMargin),
    // DuckDB has no weighted quantile either — same running-weight
    // decomposition, same BIGINT cross-multiplied thresholds
    Query("a20_weighted_percentile", a20WeightedPercentile,
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_quantity) AS BIGINT) AS wq
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, cents, wq,
        |    sum(wq) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(wq) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM li)
        |SELECT l_returnflag,
        |  min(CASE WHEN cumw * 4 >= totw THEN cents END) AS wp25,
        |  min(CASE WHEN cumw * 2 >= totw THEN cents END) AS wp50,
        |  min(CASE WHEN cumw * 4 >= totw * 3 THEN cents END) AS wp75,
        |  CAST(sum(wq) AS BIGINT) AS total_weight
        |FROM r GROUP BY 1""".stripMargin),
    // the definitional NOT-EXISTS dominance over the per-u maxima (the
    // dominance-preserving reduction is shared; the FRONT test is the
    // independent formulation), multiplicities joined back from p
    Query("o10_skyline", o10Skyline,
      """WITH p AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS u,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT u, max(cents) AS cents FROM p GROUP BY 1),
        |f AS (
        |  SELECT a.u, a.cents FROM m a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM m b
        |    WHERE b.u >= a.u AND b.cents >= a.cents
        |      AND (b.u > a.u OR b.cents > a.cents)))
        |SELECT f.u, f.cents, CAST(p.n AS BIGINT) AS n_rows
        |FROM f JOIN p ON p.u = f.u AND p.cents = f.cents""".stripMargin),
    Query("a5_rollup", a5Rollup,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    Query("a6_collect", a6Collect,
      """SELECT l_returnflag,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        |FROM lineitem GROUP BY 1""".stripMargin),
    Query("a8_argmax", a8ArgMax,
      """SELECT c_nationkey, c_name AS top_customer,
        |  CAST(top_bal * 100 AS BIGINT) AS top_acctbal_cents
        |FROM (SELECT c_nationkey, c_name,
        |        max(CAST(c_acctbal AS DECIMAL(18,2))) OVER (PARTITION BY c_nationkey) AS top_bal,
        |        row_number() OVER (PARTITION BY c_nationkey
        |                           ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        |      FROM customer)
        |WHERE rn = 1""".stripMargin),
    Query("a10_range_merge", a10RangeMerge,
      """SELECT l_returnflag,
        |  array_to_string(list_concat(l[2:], [l[-1] + 1]), ',') AS remap
        |FROM (
        |  SELECT l_returnflag, list(b ORDER BY b) AS l
        |  FROM (
        |    SELECT l_returnflag, CAST(l_linenumber AS DOUBLE) AS b
        |    FROM lineitem GROUP BY 1, 2
        |    UNION ALL
        |    SELECT l_returnflag, CAST(l_linenumber AS DOUBLE)
        |    FROM lineitem GROUP BY 1, 2)
        |  GROUP BY 1)""".stripMargin),
    Query("w1_rank", w1Rank,
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS top_price_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders)
        |WHERE rn = 1""".stripMargin),
    Query("w2_lag", w2Lag,
      """SELECT event_id, user_id,
        |  lag(event_id) OVER w AS prev_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),
    Query("w12_ewma", w12Ewma, w12EwmaSql),
    Query("w3_running", w3Running,
      """SELECT event_id, user_id,
        |  count(*) OVER w AS run_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w * 100 AS BIGINT) AS run_sum_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    Query("w4_moving", w4Moving,
      """SELECT event_id, user_id,
        |  count(*) OVER w AS win_n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w * 100 AS BIGINT) AS win_sum_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    Query("w5_ntile", w5Ntile,
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pr
        |FROM orders
        |WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin),
    Query("w5_quantile_buckets", w5QuantileBuckets,
      """WITH c AS (
        |  SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS c25,
        |         quantile_cont(CAST(o_totalprice AS DOUBLE), 0.50) AS c50,
        |         quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS c75
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(1 + (CASE WHEN o_totalprice >= c25 THEN 1 ELSE 0 END)
        |         + (CASE WHEN o_totalprice >= c50 THEN 1 ELSE 0 END)
        |         + (CASE WHEN o_totalprice >= c75 THEN 1 ELSE 0 END) AS INT)
        |    AS quartile
        |FROM orders, c""".stripMargin),
    Query("o2_topk", o2TopK,
      """SELECT o_orderkey, o_custkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Query("o3_union", o3Union,
      """SELECT nationkey, count(*) AS n_rows FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |GROUP BY 1""".stripMargin),
    Query("o4_setops", o4SetOps,
      """SELECT nationkey, 'except' AS op FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'intersect' AS op FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)""".stripMargin),
    Query("f1_string", f1String,
      """SELECT p_partkey,
        |  lower(p_name) AS lo_name,
        |  upper(p_brand) AS up_brand,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  coalesce(regexp_extract(p_brand, '([0-9]+)', 1), '') AS brand_num,
        |  regexp_replace(p_name, ' ', '_', 'g') AS snake_name,
        |  substr(p_type, 1, 5) AS type5,
        |  trim('  ' || p_brand || '  ') AS trimmed,
        |  CAST(p_type LIKE 'STANDARD%' AS INT) AS is_std
        |FROM part""".stripMargin),
    Query("f3_datetime", f3DateTime,
      """SELECT strftime(m, '%Y-%m-%d') AS month_start,
        |  CAST(year(m) AS INT) AS yr,
        |  CAST(quarter(m) AS INT) AS qtr, n_orders,
        |  CAST(sum_price * 100 AS BIGINT) AS sum_price_cents
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |        count(*) AS n_orders,
        |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price
        |      FROM orders GROUP BY 1)""".stripMargin),
    Query("f6_json", f6Json,
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1""".stripMargin),
    Query("src2_csv_roundtrip", src2Csv,
      """SELECT n_nationkey, 'x,"' || n_name || '"y' AS tricky FROM nation""".stripMargin),
    Query("src3_json_source", src3Json,
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    Query("snk2_partitioned", snk2Partitioned,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        |FROM events WHERE event_type IN ('purchase', 'error')
        |GROUP BY 1""".stripMargin),
    // the plants are deterministic: every 10th event's line is
    // truncated and unparseable, the rest carry an int k
    Query("src5_json_corrupt", src5JsonCorrupt,
      """SELECT count(*) AS n,
        |  count(CASE WHEN event_id % 10 = 0 THEN NULL ELSE 1 END) AS n_valid,
        |  count(CASE WHEN event_id % 10 = 0 THEN 1 ELSE NULL END) AS n_corrupt,
        |  CAST(sum(CASE WHEN event_id % 10 = 0 THEN NULL
        |       ELSE CAST(json_extract(props, '$.k') AS INT) END) AS BIGINT)
        |    AS sum_k
        |FROM events""".stripMargin),
    Query("snk6_gdpr_delete", snk6GdprDelete,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS sum_value_cents
        |FROM events
        |WHERE NOT (event_type = 'purchase' AND event_id % 13 = 0)
        |  AND NOT (event_type = 'error' AND event_id % 17 = 0)
        |GROUP BY 1""".stripMargin),
    // time travel to version 1 AFTER the v2 merge = the PRE-merge replay
    Query("snk7_time_travel", snk7TimeTravel,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS sum_value_cents
        |FROM events GROUP BY 1""".stripMargin),
    // the three change classes derived arithmetically: real types are
    // updates (counts change), 'legacy' only in v1 (delete, pre-image),
    // 'refund' only in v2 (insert, post-image)
    Query("snk9_change_feed", snk9ChangeFeed,
      """WITH v2 AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS sum_value_cents
        |  FROM events GROUP BY 1)
        |SELECT event_type, 'update' AS change_type, n, sum_value_cents
        |FROM v2
        |UNION ALL
        |SELECT 'legacy', 'delete', 1, -1
        |UNION ALL
        |SELECT 'refund', 'insert', 2, -200""".stripMargin),
    // both versions replayed arithmetically: v1 = the raw cents rows,
    // v2 = purchase doubled with every 5th key deleted, error dropped
    Query("snk10_commit_ref", snk10CommitRef,
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events)
        |SELECT CAST(1 AS BIGINT) AS version, event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base GROUP BY 1, 2
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, count(*),
        |  CAST(sum(cents) AS BIGINT)
        |FROM (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'purchase' THEN cents * 2
        |         ELSE cents END AS cents
        |  FROM base
        |  WHERE event_type <> 'error'
        |    AND NOT (event_type = 'purchase' AND event_id % 5 = 0))
        |GROUP BY 1, 2""".stripMargin),
    // incremental-equals-recompute: the oracle recomputes the grouped
    // aggregate over v2's definition; the declared side MAINTAINS it
    // from the preimage change feed
    Query("snk11_cdf_mv", snk11CdfMv,
      """SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents
        |FROM (
        |  SELECT event_type,
        |    CASE WHEN event_id % 7 = 0 THEN 2 * cents ELSE cents END AS cents
        |  FROM (
        |    SELECT event_id, event_type,
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |    FROM events)
        |  WHERE event_id % 11 <> 0)
        |GROUP BY 1""".stripMargin),
    // both tables' change classes derived arithmetically per doc; docs
    // unchanged in BOTH tables are absent from both feeds and excluded
    Query("snk14_group_feed", snk14GroupFeed,
      """WITH cls AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0 THEN 'delete'
        |         WHEN doc_id % 2 = 0 AND doc_id % 7 <> 0
        |              AND doc_id % 3 = 0 THEN 'update'
        |         WHEN doc_id % 2 <> 0 AND doc_id % 7 <> 0 THEN 'insert'
        |         END AS corpus_change,
        |    CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0 THEN 'delete'
        |         WHEN doc_id % 2 = 0 AND doc_id % 7 <> 0
        |              AND doc_id % 5 = 0 THEN 'update'
        |         WHEN doc_id % 2 <> 0 AND doc_id % 7 <> 0 THEN 'insert'
        |         END AS index_change
        |  FROM documents)
        |SELECT corpus_change, index_change, count(*) AS n
        |FROM cls
        |WHERE corpus_change IS NOT NULL OR index_change IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),
    // the skip itself is gated: the oracle recomputes the prune
    // decision from each bucket's true min/max (an entry survives iff
    // its bounds intersect [1000, 2999]) and the declared side reports
    // what it actually scanned
    Query("snk13_stats_prune", snk13StatsPrune,
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(floor(event_id / 2000) AS BIGINT) AS bkt
        |  FROM events),
        |b AS (
        |  SELECT bkt, min(event_id) AS mn, max(event_id) AS mx
        |  FROM base GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE event_id BETWEEN 1000 AND 2999
        |GROUP BY 1
        |UNION ALL
        |SELECT '_prune_entries',
        |  (SELECT count(*) FROM b WHERE mx >= 1000 AND mn <= 2999),
        |  (SELECT count(*) FROM b)""".stripMargin),
    // the evolved column exists only where the bkt=1 rewrite wrote it;
    // every other partition's file predates the column and reads NULL
    Query("snk16_schema_evolution", snk16SchemaEvolution,
      """WITH base AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(floor(event_id / 2000) AS BIGINT) AS bkt
        |  FROM events)
        |SELECT CASE WHEN bkt = 1
        |         THEN CASE WHEN cents >= 5000 THEN 'hi' ELSE 'lo' END
        |         ELSE '<pre-evolution>' END AS vclass,
        |  count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base GROUP BY 1""".stripMargin),
    // compaction must be invisible to the data: the post-compact
    // aggregate is the plain events aggregate
    Query("snk17_compact", snk17Compact,
      """SELECT CAST(floor(event_id / ((SELECT max(event_id) FROM events) // 8 + 1)) AS BIGINT) AS bkt,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin),
    // the prune decisions replay arithmetically: per-block r/c bounds
    // from the SAME interleave term sum, then bounds-vs-box intersection
    Query("snk18_zorder", snk18Zorder, {
      val zb = graft.functions.ZOrder.zBlockSql("r", "c", 7, 10)
      s"""WITH cells AS (
         |  SELECT l_orderkey % 10000 AS cell_id,
         |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
         |             AS BIGINT)) AS BIGINT) AS cents
         |  FROM lineitem GROUP BY 1),
         |g AS (
         |  SELECT cell_id, cents, cell_id // 100 AS r, cell_id % 100 AS c
         |  FROM cells),
         |z AS (SELECT *, $zb AS zb, (r * 16) // 100 AS rb FROM g),
         |zs AS (SELECT zb, min(r) mr, max(r) xr, min(c) mc, max(c) xc
         |       FROM z GROUP BY zb),
         |rs AS (SELECT rb, min(r) mr, max(r) xr, min(c) mc, max(c) xc
         |       FROM z GROUP BY rb)
         |SELECT 'row_box' AS box,
         |  (SELECT count(*) FROM zs WHERE xr >= 20 AND mr <= 39)
         |    AS z_scanned,
         |  (SELECT count(*) FROM rs WHERE xr >= 20 AND mr <= 39)
         |    AS r_scanned,
         |  (SELECT count(*) FROM zs) AS total,
         |  (SELECT CAST(sum(cents) AS BIGINT) FROM z
         |   WHERE r BETWEEN 20 AND 39) AS sum_cents
         |UNION ALL
         |SELECT 'col_box',
         |  (SELECT count(*) FROM zs WHERE xc >= 10 AND mc <= 29),
         |  (SELECT count(*) FROM rs WHERE xc >= 10 AND mc <= 29),
         |  (SELECT count(*) FROM zs),
         |  (SELECT CAST(sum(cents) AS BIGINT) FROM z
         |   WHERE c BETWEEN 10 AND 29)""".stripMargin
    }),
    // the pinned pair is corpus v1 = the even-event half; a torn
    // publication or broken pointer shifts n_idx against n_live
    Query("snk20_layered_pair", snk20LayeredPair,
      """WITH c AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(floor(event_id / ((SELECT max(event_id) FROM events) // 8 + 1)) AS BIGINT) AS bkt
        |  FROM events WHERE event_id % 2 = 0)
        |SELECT bkt, count(*) AS n_idx,
        |  CAST(sum(cents) AS BIGINT) AS sum_idx,
        |  count(*) AS n_live
        |FROM c GROUP BY bkt""".stripMargin),
    // snk13's prune arithmetic replayed for the SQL-surface read: the
    // DataFrameReader path must plan exactly the buckets whose bounds
    // intersect [1000, 2999]
    Query("snk25_source_read", snk25SourceRead,
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(floor(event_id / 2000) AS BIGINT) AS bkt
        |  FROM events),
        |b AS (
        |  SELECT bkt, min(event_id) AS mn, max(event_id) AS mx
        |  FROM base GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE event_id BETWEEN 1000 AND 2999
        |GROUP BY 1
        |UNION ALL
        |SELECT '_planned_entries',
        |  (SELECT count(*) FROM b WHERE mx >= 1000 AND mn <= 2999),
        |  (SELECT count(*) FROM b)""".stripMargin),
    // both disjoint writers landed: buckets 1 and 5 carry the FULL
    // event set, every other bucket only the even half — a lost
    // writer, a doubled batch, or resurrected stale entries all shift
    // the per-bucket sums
    Query("snk21_rebase_commit", snk21RebaseCommit,
      """WITH base AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(floor(event_id / ((SELECT max(event_id) FROM events) // 8 + 1)) AS BIGINT) AS bkt
        |  FROM events)
        |SELECT bkt, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base
        |WHERE bkt IN (1, 5) OR event_id % 2 = 0
        |GROUP BY 1""".stripMargin),
    // every file's true min/max is recomputed and each prune decision
    // re-derived: file k of type t holds that type's id-order rank
    // range [k·N, (k+1)·N) (the maxRecordsPerFile roll), scanned iff
    // its id range intersects the probe; an entry iff its type's
    // whole range does
    Query("snk22_file_prune", snk22FilePrune,
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |n AS (
        |  SELECT max(cnt) // 12 + 1 AS rows_per_file
        |  FROM (SELECT count(*) AS cnt FROM base GROUP BY event_type)),
        |r AS (
        |  SELECT event_id, event_type, cents,
        |    (row_number() OVER (PARTITION BY event_type
        |        ORDER BY event_id) - 1)
        |      // (SELECT rows_per_file FROM n) AS fidx
        |  FROM base),
        |b AS (
        |  SELECT 4 * ((SELECT max(event_id) FROM events) // 12 + 1) AS lo,
        |         5 * ((SELECT max(event_id) FROM events) // 12 + 1) - 1
        |           AS hi),
        |g AS (
        |  SELECT event_type, fidx, min(event_id) AS mn, max(event_id) AS mx
        |  FROM r GROUP BY 1, 2),
        |e AS (
        |  SELECT event_type, min(event_id) AS mn, max(event_id) AS mx
        |  FROM base GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE event_id BETWEEN (SELECT lo FROM b)
        |  AND (SELECT hi FROM b)
        |GROUP BY 1
        |UNION ALL
        |SELECT '_prune_files',
        |  (SELECT count(*) FROM g
        |   WHERE mx >= (SELECT lo FROM b) AND mn <= (SELECT hi FROM b)),
        |  (SELECT count(*) FROM g)
        |UNION ALL
        |SELECT '_prune_entries',
        |  (SELECT count(*) FROM e
        |   WHERE mx >= (SELECT lo FROM b) AND mn <= (SELECT hi FROM b)),
        |  (SELECT count(*) FROM e)""".stripMargin),
    // each pinned instant's snapshot replays arithmetically: as-of
    // 1500 the skew-adjusted v3 (effective 2001) and v2 (2000) are
    // both in the future, so only v1's even half is visible; 2000 adds
    // bucket 1's odd rows; 2001 adds bucket 2's
    Query("snk23_as_of", snk23AsOf,
      """WITH base AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(floor(event_id / ((SELECT max(event_id) FROM events) // 8 + 1)) AS BIGINT) AS bkt
        |  FROM events)
        |SELECT CAST(1500 AS BIGINT) AS as_of_ts, bkt, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE event_id % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2000 AS BIGINT), bkt, count(*),
        |  CAST(sum(cents) AS BIGINT)
        |FROM base WHERE bkt = 1 OR event_id % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2001 AS BIGINT), bkt, count(*),
        |  CAST(sum(cents) AS BIGINT)
        |FROM base WHERE bkt IN (1, 2) OR event_id % 2 = 0 GROUP BY 2"""
        .stripMargin),
    // both deletes replayed relationally: the scoped GDPR keys
    // (bkt 2, id % 97) and the unscoped 'error' class vanish from the
    // live aggregate, while the time-travel row carries the FULL
    // pre-delete count — a rewrite-based "delete" that dropped old
    // versions, or a chain that leaked into other buckets, shifts one
    // side or the other
    Query("snk26_row_delete", snk26RowDelete,
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(floor(event_id / ((SELECT max(event_id) FROM events) // 8 + 1)) AS BIGINT) AS bkt
        |  FROM events),
        |live AS (
        |  SELECT * FROM base
        |  WHERE NOT (bkt = 2 AND event_id % 97 = 0)
        |    AND event_type <> 'error')
        |SELECT bkt, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM live GROUP BY 1
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), (SELECT count(*) FROM base),
        |  CAST(0 AS BIGINT)""".stripMargin),
    // each pinned instant's snapshot is version ts//1000 = slots < i;
    // a checkpoint fold that drifted the effective clock, or a vacuum
    // that broke resolution, lands on the wrong version's content
    Query("snk27_ckpt_as_of", snk27CkptAsOf,
      """WITH base AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST((event_id // 4) % 12 AS BIGINT) AS slot
        |  FROM events WHERE event_id % 4 = 0)
        |SELECT CAST(4500 AS BIGINT) AS as_of_ts, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base WHERE slot < 4
        |UNION ALL
        |SELECT CAST(9200 AS BIGINT), count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE slot < 9
        |UNION ALL
        |SELECT CAST(12000 AS BIGINT), count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE slot < 12""".stripMargin),
    // one duplicated batch would shift every touched group's n and sum
    Query("snk19_append_ingest", snk19AppendIngest,
      """SELECT CAST(floor(event_id / ((SELECT max(event_id) FROM events) // 8 + 1)) AS BIGINT) AS bkt,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin),
    // the pinned group version v1 = the even-doc_id half of both tables
    Query("snk12_group_commit", snk12GroupCommit,
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |GROUP BY 1""".stripMargin),
    // the merge replay: matched rows take the batch payload (CASE on the
    // match, not coalesce — NULL payloads propagate), unmatched batch
    // rows insert, untouched partitions ride through unmodified
    Query("snk5_partition_merge", snk5PartitionMerge,
      """WITH fact AS (
        |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |batch AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)) AS v
        |  FROM events
        |  WHERE event_type IN ('purchase', 'error') AND event_id % 7 = 0
        |  UNION ALL
        |  SELECT event_id + 1000000000, event_type,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events
        |  WHERE event_type = 'purchase' AND event_id % 11 = 0),
        |merged AS (
        |  SELECT f.event_id, f.event_type,
        |    CASE WHEN b.event_id IS NOT NULL THEN b.v ELSE f.v END AS v
        |  FROM fact f LEFT JOIN batch b
        |    ON f.event_type = b.event_type AND f.event_id = b.event_id
        |  UNION ALL
        |  SELECT b.event_id, b.event_type, b.v FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM fact f
        |    WHERE f.event_type = b.event_type AND f.event_id = b.event_id))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(v) * 100 AS BIGINT) AS sum_value_cents
        |FROM merged GROUP BY 1""".stripMargin),
    // content identity through fragment -> compact: the aggregate over
    // the compacted copy must equal the direct-source aggregate
    Query("snk4_compaction", snk4Compaction,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY 1""".stripMargin),
    // compaction must not change content, whatever the row layout
    Query("snk8_compact_zorder", snk8CompactZorder,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY 1""".stripMargin),
    Query("q3_shipping_priority", q3Shipping,
      """SELECT l_orderkey, strftime(odate, '%Y-%m-%d') AS odate, o_orderpriority,
        |  revenue_cents
        |FROM (
        |  SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate, o_orderpriority,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2, 3
        |  ORDER BY revenue_cents DESC, l_orderkey ASC
        |  LIMIT 10)""".stripMargin),
    Query("q5_local_supplier", q5LocalSupplier,
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin),
    Query("src4_orc_roundtrip", src4Orc,
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_base_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin),
    Query("w9_rank_family", w9RankFamily,
      """SELECT o_custkey, o_orderkey,
        |  CAST(dense_rank() OVER w AS INT) AS drank,
        |  round(cume_dist() OVER w, 6) AS cdist,
        |  CAST(nth_value(o_orderkey, 2) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS BIGINT) AS second_key
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin),
    Query("a13_corr", a13Corr,
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope
        |FROM lineitem GROUP BY 1""".stripMargin),
    Query("o5_pivot", o5Pivot,
      """SELECT o_orderstatus,
        |  count(*) FILTER (o_orderpriority = '1-URGENT') AS p_urgent,
        |  count(*) FILTER (o_orderpriority = '2-HIGH') AS p_high,
        |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p_medium,
        |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p_notspec,
        |  count(*) FILTER (o_orderpriority = '5-LOW') AS p_low
        |FROM orders GROUP BY 1""".stripMargin),
    Query("a12_cube", a12Cube,
      """SELECT coalesce(l_returnflag, '<all>') AS rf,
        |       coalesce(l_linestatus, '<all>') AS ls,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |       count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    // sumsq folds the squares left-to-right in BOTH engines (Spark
    // `aggregate`, DuckDB position-sum over an ordered group) — rounded
    // to 4dp to absorb sub-ulp accumulation drift.
    Query("f10_higher_order", f10HigherOrder,
      """SELECT a_id AS vec_id, n_pos,
        |       round(sumsq, 4) AS sumsq, round(max_abs, 4) AS max_abs
        |FROM (
        |  SELECT e.vec_id AS a_id,
        |    CAST(len(list_filter(e.embedding, x -> x > 0)) AS INT) AS n_pos,
        |    sum(CAST(e.embedding[i.x] AS DOUBLE) * CAST(e.embedding[i.x] AS DOUBLE)) AS sumsq,
        |    max(abs(CAST(e.embedding[i.x] AS DOUBLE))) AS max_abs
        |  FROM embeddings e, LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS x) i
        |  GROUP BY 1, 2)""".stripMargin),
    // oracle verifies with the EXACT predicate over the (tiny) dims —
    // the Spark plan must produce the same pair set from its
    // deletion-neighborhood candidates
    Query("j12_fuzzy_join", j12FuzzyJoin,
      """WITH typos AS (
        |  SELECT n_nationkey + 100 AS t_id,
        |         substr(n_name, 1, 2) || substr(n_name, 4) AS t_name
        |  FROM nation WHERE length(n_name) >= 4)
        |SELECT t.t_id, t.t_name, n.n_nationkey, n.n_name
        |FROM typos t JOIN nation n
        |  ON levenshtein(t.t_name, n.n_name) <= 1""".stripMargin),
    Query("f11_zorder", f11Zorder,
      """WITH k AS (
        |  SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y,
        |         count(*) AS m
        |  FROM lineitem GROUP BY 1, 2),
        |z AS (
        |  SELECT x, y, any_value(m) AS m,
        |    sum(((x // (1 << i.b)) % 2) * (1 << (2 * i.b)) +
        |        ((y // (1 << i.b)) % 2) * (1 << (2 * i.b + 1))) AS z
        |  FROM k, LATERAL (SELECT unnest(range(0, 16)) AS b) i
        |  GROUP BY x, y)
        |SELECT CAST(z - z % 65536 AS BIGINT) AS z_bucket,
        |  CAST(sum(m) AS BIGINT) AS n,
        |  CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
        |  CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
        |FROM z GROUP BY 1""".stripMargin),
    Query("q1_pricing_summary", q1PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_disc_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_charge_cents,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY 1, 2""".stripMargin),
    Query("q10_returned_items", q10ReturnedItems,
      """SELECT c_custkey, c_name, n_name, revenue_cents FROM (
        |  SELECT c_custkey, c_name, n_name,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |      AS revenue_cents
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-10-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |    AND l_returnflag = 'R'
        |  GROUP BY 1, 2, 3
        |  ORDER BY revenue_cents DESC, c_custkey ASC
        |  LIMIT 20)""".stripMargin),
    // the subquery gates replay the IDENTICAL statement Spark ran —
    // one text, two engines (see the q17Sql/q21Sql/q22Sql scaladoc)
    Query("q17_small_qty", q17SmallQty, q17Sql),
    Query("q21_waiting", q21Waiting, q21Sql),
    Query("q22_in_subquery", q22InSubquery, q22Sql),
    Query("q23_ancestor_chains", q23AncestorChains, q23Sql),
    Query("q18_large_orders", q18LargeOrders, q18Sql),
    Query("q2_min_cost_supplier", q2MinCostSupplier, q2Sql),
    Query("q20_dominant_share", q20DominantShare, q20Sql),
    Query("j19_lateral_topk", j19LateralTopK, j19Sql),
    // strftime/strptime are DuckDB's explicit-pattern pair; the same
    // render→corrupt→parse→roundtrip pipeline, micros as BIGINT
    Query("f24_timestamp_parse", f24TimestampParse,
      """WITH r AS (
        |  SELECT event_type, ts, event_id,
        |    strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS rendered
        |  FROM events),
        |c AS (
        |  SELECT event_type, ts,
        |    try_strptime(CASE WHEN event_id % 89 = 0
        |                 THEN substr(rendered, 1, 10) ELSE rendered END,
        |                 '%Y-%m-%d %H:%M:%S.%f') AS back
        |  FROM r)
        |SELECT event_type, count(*) AS n,
        |  count(back) AS n_parsed,
        |  CAST(sum(CASE WHEN epoch_us(back) = epoch_us(ts)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip,
        |  min(epoch_us(back)) AS min_us,
        |  max(epoch_us(back)) AS max_us
        |FROM c GROUP BY 1""".stripMargin),
    Query("a26_listagg", a26Listagg,
      """SELECT n_name, count(*) AS n,
        |  string_agg(s_name, ',' ORDER BY s_name) AS names
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin),
    Query("v7_referential_audit", v7ReferentialAudit,
      """WITH o2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 500 = 0
        |         THEN o_custkey + 1000000000 ELSE o_custkey END AS o_custkey
        |  FROM orders)
        |SELECT 'orders->customer' AS relation,
        |  (SELECT count(*) FROM o2) AS n_child,
        |  (SELECT count(*) FROM o2 LEFT JOIN customer
        |     ON o_custkey = c_custkey WHERE c_custkey IS NULL) AS n_orphan
        |UNION ALL
        |SELECT 'lineitem->orders',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem LEFT JOIN orders
        |     ON l_orderkey = o_orderkey WHERE o_orderkey IS NULL)
        |UNION ALL
        |SELECT 'lineitem->part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem LEFT JOIN part
        |     ON l_partkey = p_partkey WHERE p_partkey IS NULL)""".stripMargin),
    Query("o8_setops_all", o8SetopsAll,
      """SELECT nationkey, count(*) AS n, 'except_all' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY 1
        |UNION ALL
        |SELECT nationkey, count(*) AS n, 'intersect_all' AS op FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY 1""".stripMargin),
    // both engines spell the null placement out — the ranks are the
    // semantic payload (defaults DISAGREE: Spark nulls-first asc,
    // DuckDB nulls-last)
    Query("o9_null_ordering", o9NullOrdering,
      """WITH s AS (
        |  SELECT s_suppkey,
        |    CASE WHEN CAST(round(s_acctbal * 100) AS BIGINT)
        |              BETWEEN 0 AND 99 THEN NULL
        |         ELSE CAST(round(s_acctbal * 100) AS BIGINT) END AS cents
        |  FROM supplier)
        |SELECT s_suppkey, cents,
        |  CAST(row_number() OVER (ORDER BY cents ASC NULLS FIRST,
        |    s_suppkey) AS INT) AS rk_nulls_first,
        |  CAST(row_number() OVER (ORDER BY cents ASC NULLS LAST,
        |    s_suppkey) AS INT) AS rk_nulls_last
        |FROM s""".stripMargin),
    Query("j22_nullsafe_join", j22NullsafeJoin,
      """SELECT coalesce(ck, -1) AS nk, count(*) AS n_pairs,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM (SELECT nullif(c_nationkey, 3) AS ck,
        |        CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |      FROM customer) c
        |JOIN (SELECT nullif(s_nationkey, 3) AS sk FROM supplier) s
        |  ON c.ck IS NOT DISTINCT FROM s.sk
        |GROUP BY 1""".stripMargin),
    Query("a25_regression", a25Regression,
      """SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS yr,
        |  count(*) AS n,
        |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
        |    AS slope_num,
        |  CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
        |    AS slope_den,
        |  CAST(sum(y) * sum(x * x) - sum(x) * sum(x * y) AS BIGINT)
        |    AS icpt_num
        |FROM (SELECT l_returnflag, l_shipdate,
        |        CAST(l_quantity AS BIGINT) AS x,
        |        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |      FROM lineitem)
        |GROUP BY 1, 2""".stripMargin),
    // the oracle never parses XML: the documents are generated in-plan
    // from base columns, so parse(generate(row)) == row is the
    // contract, and the corrupt rows are exactly the planted ones
    Query("f23_xml", f23Xml,
      """SELECT
        |  CASE WHEN o_orderkey % 97 = 0 THEN 'CORRUPT'
        |       ELSE o_orderpriority END AS priority,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 0
        |           ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
        |       AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 0
        |           ELSE o_orderkey END) AS BIGINT) AS sum_id
        |FROM orders GROUP BY 1""".stripMargin),
    Query("q4_order_priority", q4OrderPriority, q4Sql),
    Query("q15_top_supplier", q15TopSupplier, q15Sql),
    Query("q7_nation_volume", q7NationVolume, q7Sql),
    Query("q14_promo_share", q14PromoShare, q14Sql),
    Query("q13_custdist", q13CustDist, q13Sql),
    Query("q8_market_share", q8MarketShare, q8Sql),
    Query("q9_profit_nation", q9ProfitNation, q9Sql),
    Query("q11_important_parts", q11ImportantParts, q11Sql),
    Query("q12_priority_shipping", q12PriorityShipping, q12Sql),
    Query("q16_supplier_cnt", q16SupplierCnt, q16Sql),
    // the same first-seen + running-sum decomposition, DuckDB syntax;
    // epoch_us on TIMESTAMP_NS floors — matching the reader's rebuild
    Query("w11_running_distinct", w11RunningDistinct,
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, ts_us,
        |    CASE WHEN row_number() OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts_us, event_id) = 1 THEN 1 ELSE 0 END AS fs
        |  FROM ev)
        |SELECT event_id, user_id, ts_us,
        |  CAST(sum(fs) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_distinct_types
        |FROM flagged""".stripMargin),
    // lower()-equality replay of the collated join
    Query("f21_collation_join", f21CollationJoin,
      """WITH m AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
        |         WHEN c_custkey % 3 = 1 THEN lower(c_name)
        |         ELSE c_name END AS m
        |  FROM customer),
        |dim AS (SELECT c_custkey AS k, lower(c_name) AS canon FROM customer)
        |SELECT canon, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
        |FROM m JOIN dim ON lower(m.m) = dim.canon
        |GROUP BY 1""".stripMargin),
    // exact all-pairs BETWEEN join, no tile grid: candidate
    // completeness and exactly-once pair matching are both gate-checked
    Query("j18_grid_join", j18GridJoin,
      """WITH pts AS (
        |  SELECT cell_id % 100 AS x, cell_id // 100 AS y, cents FROM (
        |    SELECT l_orderkey % 10000 AS cell_id,
        |      CAST(CAST(max(CAST(l_quantity AS DOUBLE)) AS DECIMAL(18,2))
        |           * 100 AS BIGINT) AS cents
        |    FROM lineitem GROUP BY 1)),
        |rects AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS rid,
        |    CAST((n_nationkey * 17) % 80 AS BIGINT) AS x0,
        |    CAST((n_nationkey * 29) % 80 AS BIGINT) AS y0
        |  FROM nation),
        |r2 AS (SELECT rid, x0, y0, x0 + 5 + (rid * 7) % 20 AS x1,
        |              y0 + 5 + (rid * 11) % 20 AS y1 FROM rects)
        |SELECT rid, count(*) AS n_points,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM pts JOIN r2
        |  ON x BETWEEN x0 AND x1 AND y BETWEEN y0 AND y1
        |GROUP BY 1""".stripMargin),
    // plain join replay — the runtime bloom filter must be invisible
    // in the answer
    Query("j17_bloom_join", j17BloomJoin,
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |       AS BIGINT) AS sum_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000.0
        |GROUP BY 1""".stripMargin),
    // the dim rows replayed as a CASE over the two surviving types
    Query("j16_dpp_join", j16DppJoin,
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT) *
        |           CASE event_type WHEN 'purchase' THEN 5 ELSE 2 END)
        |       AS BIGINT) AS weighted_cents
        |FROM events
        |WHERE event_type IN ('purchase', 'error')
        |GROUP BY 1""".stripMargin),
    // bucket-free inequality-join formulation of the band join
    Query("j15_epsilon_join", j15EpsilonJoin,
      """WITH p AS (
        |  SELECT event_id AS id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT a.id AS a_id, b.id AS b_id,
        |  a.cents AS a_cents, b.cents AS b_cents
        |FROM p a JOIN p b
        |  ON a.id < b.id
        | AND b.cents >= a.cents - 5 AND b.cents <= a.cents + 5""".stripMargin),
    // rebuilds the batch split arithmetically: even orderkeys are the
    // pre-evolution files whose priority column reads NULL
    Query("src6_schema_evolution", src6SchemaEvolution,
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |       END AS o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders
        |GROUP BY 1""".stripMargin),
    // the round-trip must be lossless: replay reads the source table
    Query("src7_text_source", src7TextSource,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_words
        |FROM documents GROUP BY 1""".stripMargin),
    // nearest-event replay: the same fully-ordered frames in both
    // directions; paired (ts, id) picks stay consistent because the
    // CASE columns are null together
    Query("j14_nearest_event", j14NearestEvent,
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN ts_us END
        |      IGNORE NULLS) OVER wb AS prev_ts,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER wb AS prev_id,
        |    first_value(CASE WHEN event_type = 'click' THEN ts_us END
        |      IGNORE NULLS) OVER wf AS next_ts,
        |    first_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER wf AS next_id
        |  FROM ev
        |  WINDOW
        |    wb AS (PARTITION BY user_id
        |           ORDER BY ts_us, event_type, event_id
        |           ROWS UNBOUNDED PRECEDING),
        |    wf AS (PARTITION BY user_id
        |           ORDER BY ts_us, event_type, event_id
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |p AS (SELECT * FROM w WHERE event_type = 'purchase')
        |SELECT event_id, user_id,
        |  CASE WHEN prev_ts IS NOT NULL AND ts_us - prev_ts <= 1800000000
        |            AND (next_ts IS NULL OR next_ts - ts_us > 1800000000
        |                 OR ts_us - prev_ts <= next_ts - ts_us)
        |       THEN prev_id
        |       WHEN next_ts IS NOT NULL AND next_ts - ts_us <= 1800000000
        |       THEN next_id END AS click_id,
        |  CASE WHEN prev_ts IS NOT NULL AND ts_us - prev_ts <= 1800000000
        |            AND (next_ts IS NULL OR next_ts - ts_us > 1800000000
        |                 OR ts_us - prev_ts <= next_ts - ts_us)
        |       THEN prev_ts
        |       WHEN next_ts IS NOT NULL AND next_ts - ts_us <= 1800000000
        |       THEN next_ts END AS click_ts_us
        |FROM p""".stripMargin),
    Query("w10_time_weighted", w10TimeWeighted,
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS v_cents
        |  FROM events),
        |l AS (
        |  SELECT user_id, ts_us, v_cents,
        |    lead(ts_us) OVER (PARTITION BY user_id
        |                      ORDER BY ts_us, event_id) AS nxt
        |  FROM e)
        |SELECT user_id, count(*) AS n_intervals,
        |  CAST(sum((nxt - ts_us) // 1000000) AS BIGINT) AS total_s,
        |  CAST(sum(v_cents * ((nxt - ts_us) // 1000000)) AS BIGINT)
        |    AS weighted_cents_s
        |FROM l WHERE nxt IS NOT NULL GROUP BY 1""".stripMargin),
    // variant parse/extract replay: the planted malformed rows (every
    // 10th event) are NULL on both sides — try_parse_json there,
    // a CASE here; valid rows extract $.k as a typed int
    Query("f17_variant", f17Variant,
      """SELECT event_type, count(*) AS n,
        |  count(CASE WHEN event_id % 10 = 0 THEN NULL ELSE 1 END) AS n_valid,
        |  CAST(sum(CASE WHEN event_id % 10 = 0 THEN NULL
        |           ELSE CAST(json_extract(props, '$.k') AS INT) END) AS BIGINT)
        |    AS sum_k
        |FROM events GROUP BY 1""".stripMargin),
    Query("o7_unpivot", o7Unpivot,
      """SELECT metric, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM (
        |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', l_discount FROM lineitem)
        |GROUP BY 1""".stripMargin),
    Query("q19_disjunctive", q19Disjunctive, q19Sql)
  )
}
