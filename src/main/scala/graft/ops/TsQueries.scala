package graft.ops

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch time-series operators over the `events` fixture: gap-based
  * sessionization (the batch analogue of the streaming session window,
  * SURVEY §2.B S3) and fixed-grid resampling with forward fill — the two
  * shapes every telemetry/training-log pipeline needs and the reference's
  * event handling implies (mosaic time dimension, pyt:1263-1269 stats
  * over time-partitioned rasters).
  *
  * Scale posture: both queries window PARTITION BY user_id — never a
  * global window — so the state per task is one user's series. The
  * gap-fill grid is generated per-user with `sequence()` (a narrow
  * projection, no shuffle beyond the bucket aggregation), and the
  * forward fill is `last(ignoreNulls)` over the per-user hourly series:
  * at 100 TB the series would be range-partitioned by (user, month) and
  * each partition carries one preceding bucket of carry-in state.
  *
  * Oracle-exactness: timestamps leave the engine as epoch-microsecond
  * longs; money as BIGINT cents snapped before aggregation (the
  * RelQueries policy); session ordering carries a full deterministic
  * tie-break (ts, event_id).
  */
object TsQueries {

  private val GapUs   = 1800000000L   // 30 min session gap
  private val HourUs  = 3600000000L   // resample grid step
  private val WeekUs  = 604800000000L // retention cohort grid

  /** Gap-based sessionization core over (user_id, event_id, t:us):
    * a new session starts when a user's inter-event gap exceeds
    * `gapUs`. lag + running sum of break flags + group-by, the textbook
    * single-shuffle plan (one Exchange on user_id; both windows and the
    * final aggregation reuse that partitioning). */
  def sessionize(events: DataFrame, gapUs: Long = GapUs): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    events
      .withColumn("brk",
        when(lag(col("t"), 1).over(w).isNull ||
             col("t") - lag(col("t"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sess_n", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_n")
      .agg(min(col("t")).as("start_us"), max(col("t")).as("end_us"),
           count(lit(1)).as("n_events"))
  }

  /** W6: sessionization of the events fixture. */
  def w6Sessionize(s: SparkSession, dir: String): DataFrame =
    sessionize(table(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t")))

  /** W7: resample to an hourly grid + forward fill. Buckets each user's
    * events to the hour (value summed as exact BIGINT cents), generates
    * the dense per-user hour grid from that user's own [min, max] span
    * (`sequence` + explode — no cross join against a global calendar),
    * left-joins the observed buckets, and forward-fills with
    * last(ignoreNulls) over the per-user series. `is_gap` marks filled
    * rows. Restricted to user_id < 20 so the declared result is
    * fixture-sized at every SF; the plan is the unrestricted one. */
  def w7Gapfill(s: SparkSession, dir: String): DataFrame =
    gapfill(table(s, dir, "events").filter(col("user_id") < 20), HourUs)

  /** Shared resample scaffold: exact-cents buckets on the `stepUs` grid,
    * densified over each user's own [min, max] span, observed buckets
    * left-joined back in. */
  private def bucketGrid(events: DataFrame, stepUs: Long): DataFrame = {
    // `%`, not pmod: DuckDB's % truncates (sign of dividend), and the
    // oracle buckets with `epoch_us(ts) - epoch_us(ts) % step` — pmod
    // would shift pre-1970 timestamps into a different bucket than the
    // oracle's. (Truncating bucketing end-labels pre-epoch buckets; the
    // event domain here is nonnegative epochs, where % and floor agree.)
    // NULL-valued events are MISSING data, not zero cents — drop them
    // before bucketing, so a bucket of only-NULL values doesn't exist
    // (it stays a gap) rather than anchoring fills at a fabricated 0;
    // this also keeps "observed bucket" == "non-null cents" exactly, so
    // the engines' is_gap flags cannot diverge.
    val t = unix_micros(col("ts"))
    val b = events
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"), (t - t % lit(stepUs)).as("bus"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("cents"))
    b.groupBy("user_id")
      .agg(min(col("bus")).as("mn"), max(col("bus")).as("mx"))
      .select(col("user_id"),
        explode(sequence(col("mn"), col("mx"), lit(stepUs))).as("bus"))
      .join(b, Seq("user_id", "bus"), "left")
  }

  /** Resample-and-forward-fill core: bucket (user_id, ts, value) rows to
    * a `stepUs` grid, densify each user's own [min, max] span, and carry
    * the last observed bucket value forward. */
  def gapfill(events: DataFrame, stepUs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("bus")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketGrid(events, stepUs)
      .select(col("user_id"), col("bus"),
        last(col("cents"), ignoreNulls = true).over(w).as("filled_cents"),
        when(col("cents").isNull, 1).otherwise(0).as("is_gap"))
  }

  /** Resample-and-LINEAR-INTERPOLATE core: gap buckets take the exact
    * integer lerp between the surrounding observed buckets
    * (`prev + (next-prev)·(t-tp) div (tn-tp)` — both Spark's `div` and
    * DuckDB's `//` truncate toward zero, verified on negative slopes).
    * Every gap is interior by construction: the grid spans [first, last]
    * OBSERVED bucket, so both neighbors always exist (the no-next branch
    * below is defensive only). Same single user_id layout as gapfill:
    * the backward and forward scans are two window passes over one
    * exchange. */
  def interpolate(events: DataFrame, stepUs: Long): DataFrame = {
    val base = Window.partitionBy("user_id").orderBy("bus")
    val wPrev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsBus = when(col("cents").isNotNull, col("bus"))
    bucketGrid(events, stepUs)
      .withColumn("pbus", last(obsBus, ignoreNulls = true).over(wPrev))
      .withColumn("pc", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("nbus", first(obsBus, ignoreNulls = true).over(wNext))
      .withColumn("nc", first(col("cents"), ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("bus"),
        when(col("pbus") === col("bus"), col("pc"))
          // defensive: unreachable while the grid ends at the last
          // observation (see scaladoc); kept so a widened grid degrades
          // to forward fill instead of NULL
          .when(col("nbus").isNull, col("pc"))
          // divide the bus deltas down to STEP counts before the
          // multiply: they are exact multiples of stepUs, the ratio is
          // unchanged, and the numerator shrinks by ~stepUs — without
          // this, cents × microsecond-delta can overflow Long (Spark
          // wraps silently with ANSI off; the oracle would error)
          .otherwise(col("pc") + expr(
            s"((nc - pc) * ((bus - pbus) div $stepUs))" +
              s" div ((nbus - pbus) div $stepUs)"))
          .as("lerp_cents"),
        when(col("cents").isNull, 1).otherwise(0).as("is_gap"))
  }

  /** Ordered-funnel core over (user_id, event_type, t:us): the first
    * `stages.head` event opens the funnel, each later stage is the first
    * matching event STRICTLY after the previous stage's time. One
    * user_id exchange: events collect per user (bounded per-user event
    * counts — document/enforce upstream at scale) and a single
    * higher-order `aggregate` fold walks the time-sorted array once —
    * no per-stage self-join cascade (the 3-join formulation shuffles
    * the events table once per stage). Ties at the same timestamp are
    * broken by (t, event_type) sort order, but stage conditions are
    * strict (>) so equal-time events can never fill two stages. */
  def funnelTimes(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnelTimes needs at least one stage")
    // accumulator = one nullable slot per stage; the fold rebuilds the
    // struct per event with each slot's open/match/strictly-after rule
    val zero = struct(stages.indices.map(i =>
      lit(null).cast("long").as(s"t${i + 1}")): _*)
    val arr = array_sort(collect_list(struct(col("t"), col("event_type"))))
    val fold = aggregate(arr, zero, (acc, ev) => {
      val (et, ty) = (ev.getField("t"), ev.getField("event_type"))
      struct(stages.indices.map { i =>
        val slot = acc.getField(s"t${i + 1}")
        val opened =
          if (i == 0) lit(true) else acc.getField(s"t$i").isNotNull
        val after =
          if (i == 0) lit(true) else et > acc.getField(s"t$i")
        when(slot.isNull && opened && ty === stages(i) && after, et)
          .otherwise(slot).as(s"t${i + 1}")
      }: _*)
    })
    events.groupBy("user_id").agg(fold.as("f"))
      .select(col("user_id") +:
        stages.indices.map(i => col(s"f.t${i + 1}").as(s"t${i + 1}")): _*)
  }

  /** W8: click → view → purchase funnel over the events fixture —
    * per-stage user counts and total open-to-conversion latency. */
  def w8Funnel(s: SparkSession, dir: String): DataFrame =
    funnelTimes(
      table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("t")),
      Seq("click", "view", "purchase"))
      .agg(count(col("t1")).as("n_stage1"),
           count(col("t2")).as("n_stage2"),
           count(col("t3")).as("n_stage3"),
           coalesce(sum(col("t3") - col("t1")), lit(0L)).cast("long")
             .as("sum_conv_us"))

  /** W7b: the interpolation variant of w7 over the same fixture cut. */
  def w7Interpolate(s: SparkSession, dir: String): DataFrame =
    interpolate(table(s, dir, "events").filter(col("user_id") < 20), HourUs)

  /** Rolling z-score anomaly core over (user_id, event_id, t:us,
    * cents): flag an event when its deviation from the TRAILING window
    * of `win` preceding events exceeds k sigma. The test is pure BIGINT
    * cross-multiplication — z² > k² ⇔ (n·x − Σx)² > k²·(n·Σx² − (Σx)²)
    * (multiply (x − Σx/n)² > k²·(n·Σx² − (Σx)²)/n² through by n²) — so
    * no division, sqrt, or float ever happens and the flag is exact on
    * both engines. The frame EXCLUDES the current row (an outlier must
    * not inflate its own baseline) and needs `minN` observations before
    * it may fire. One Exchange on user_id; all three window aggregates
    * share the same sorted frame pass. */
  def anomalies(events: DataFrame, win: Int = 12, k: Int = 3,
                minN: Int = 6): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      .rowsBetween(-win, -1)
    val dev = col("n") * col("cents") - col("s")
    events
      .withColumn("n", count(col("cents")).over(w))
      .withColumn("s", sum(col("cents")).over(w))
      .withColumn("s2", sum(col("cents") * col("cents")).over(w))
      .filter(col("n") >= minN &&
        dev * dev > lit(k.toLong * k) * (col("n") * col("s2") - col("s") * col("s")))
      .select(col("user_id"), col("event_id"), col("t").as("t_us"),
              col("cents"), col("n").as("n_win"), col("s").as("sum_win"))
  }

  /** W13: 3-sigma anomalies over the events fixture (12-event trailing
    * baseline, 6 observations minimum). Non-vacuous at every SF — the
    * fixture's value distribution is heavy-tailed enough that ~4% of
    * events clear 3 sigma. Largest product at the fixture's max cents
    * (49002) is ~3·10¹², five orders of magnitude inside Long. */
  def w13Anomaly(s: SparkSession, dir: String): DataFrame =
    anomalies(table(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents")))

  /** Cohort-retention core over (user_id, t:us): cohort = the user's
    * first active week (epoch-week = t div week, positive domain so
    * truncating div and floor agree), cell (cohort, offset) = distinct
    * users from that cohort active offset weeks later. The week grid is
    * pure integer arithmetic; counts are exact countDistinct. Two
    * exchanges at scale: the per-user first-week aggregate (reused by
    * the join — both hash on user_id) and the cohort-cell distinct. */
  def retention(events: DataFrame, stepUs: Long = WeekUs): DataFrame = {
    val e = events.select(col("user_id"), expr(s"t div $stepUs").as("wk"))
    val firsts = e.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    e.join(firsts, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** W14: weekly cohort retention of the events fixture. */
  def w14Retention(s: SparkSession, dir: String): DataFrame =
    retention(table(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t")))

  private val DayUs = 86400000000L

  /** Gaps-and-islands longest-streak core over (user_id, day): a
    * streak is a maximal run of CONSECUTIVE active days; island id =
    * day − row_number over the user's distinct days (constant within a
    * run, distinct across runs — the textbook identity, exact because
    * both terms are integers). Per user: the longest streak with
    * earliest-start tie-break, picked by min(struct(−len, start)) —
    * lexicographic struct ordering makes the argmax a plain partially-
    * aggregable min, no second window. ONE exchange end to end: the
    * explicit repartition(user_id) satisfies the clustering that the
    * distinct, the window, the island aggregate, and the final
    * aggregate all require (hash(user_id) clusters every (user_id, *)
    * grouping; the planner only reuses it when the layout already
    * exists — the w11 lesson). */
  def streaks(days: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    days.repartition(col("user_id"))
      .select("user_id", "day").distinct()
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"), min("day").as("start_day"))
      .groupBy("user_id")
      .agg(min(struct((-col("len")).as("nl"), col("start_day").as("sd")))
             .as("best"),
           count(lit(1)).as("n_streaks"))
      .select(col("user_id"), (-col("best.nl")).as("streak_len"),
              col("best.sd").as("start_day"), col("n_streaks"))
  }

  /** W15: longest consecutive-active-day streak per user (epoch-day =
    * t div day, positive domain). */
  def w15Streak(s: SparkSession, dir: String): DataFrame =
    streaks(table(s, dir, "events")
      .select(col("user_id"), expr(s"unix_micros(ts) div $DayUs").as("day")))

  /** OHLC downsampling core over (key, event_id, t:us, cents): per
    * (key, bucket) bar — open/close are the first/last value in
    * (t, event_id) order via min_by/max_by over the FULL deterministic
    * tie-break struct (event_id is unique, so the pick is exact — no
    * "first row the executor happened to see"), high/low/volume/total
    * are plain aggregates. One hash aggregate, fully map-side
    * combinable: min_by/max_by partials merge associatively, so the
    * bar NEVER needs a per-bucket sort — the window-rank formulation
    * the oracle replays would pay one; at 100 TB that is the
    * difference between a combine-only exchange of bar rows and a
    * full-row sort-shuffle. */
  def ohlc(events: DataFrame, stepUs: Long = HourUs): DataFrame = {
    val ord = struct(col("t"), col("event_id"))
    events
      .select(col("key"), (col("t") - col("t") % stepUs).as("bus"),
              col("t"), col("event_id"), col("cents"))
      .groupBy("key", "bus")
      .agg(min_by(col("cents"), ord).as("open_c"),
           max(col("cents")).as("high_c"),
           min(col("cents")).as("low_c"),
           max_by(col("cents"), ord).as("close_c"),
           count(lit(1)).as("n_events"),
           sum(col("cents")).as("sum_c"))
  }

  /** W16: hourly OHLC bars of the events fixture, keyed by event type
    * (the "instrument"), money as exact cents. */
  def w16Ohlc(s: SparkSession, dir: String): DataFrame =
    ohlc(table(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type").as("key"), col("event_id"),
        unix_micros(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents")))

  /** Rolling-median core over (user_id, event_id, t:us, cents): the
    * trailing-`frame`-event exact median of each user's value series —
    * the robust baseline sibling of w13's mean/sigma z-score (a median
    * baseline shrugs off the very outliers w13 exists to catch).
    * percentile() is Spark's EXACT percentile ImperativeAggregate
    * evaluated per frame; the frame is bounded ROWS (frame−1 PRECEDING
    * .. CURRENT), so per-row state is O(frame), never the partition.
    * `frame` must be ODD: the 0.5 quantile of an odd count IS the
    * middle element — an integer cents value both engines return
    * exactly, with the interpolation branch provably never taken (the
    * double intermediate is lossless on integer cents ≪ 2^53).
    * Incomplete leading frames (n < frame) are suppressed: an even
    * prefix count would interpolate and put cross-engine float rounding
    * into the gate. ONE exchange: the user_id window; at 100 TB the
    * series would be range-partitioned (user, month) with frame−1 rows
    * of carry-in halo per partition, same plan per slice. */
  def rollingMedian(events: DataFrame, frame: Int = 9): DataFrame = {
    require(frame % 2 == 1, s"frame must be odd for an exact median: $frame")
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      .rowsBetween(-(frame - 1), Window.currentRow)
    events
      .withColumn("n_win", count(col("cents")).over(w))
      .withColumn("med_c",
        percentile(col("cents"), lit(0.5)).over(w).cast("long"))
      .filter(col("n_win") === frame)
      .select(col("user_id"), col("event_id"), col("t").as("t_us"),
        col("cents"), col("med_c"))
  }

  /** W17: trailing-9-event rolling median of the events fixture,
    * money as exact cents. */
  def w17RollingMedian(s: SparkSession, dir: String): DataFrame =
    rollingMedian(table(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents")))

  /** W18 — MANN-KENDALL trend statistic over each user's trailing 21
    * events (the nonparametric monotone-trend test; w13 flags POINT
    * anomalies, this detects sustained DRIFT): S = Σ_{i<j}
    * sign(v_j − v_i) over the time-ordered window — n·(n−1)/2 sign
    * comparisons, pure integers; the variance/normal approximation
    * (and its sqrt) is the caller's post-step, w13's discipline.
    * Shape: one rank window cuts the trailing 21, one collect into a
    * time-sorted ≤21-element array, and the quadratic pair fold runs
    * INSIDE codegen over array indices — ≤210 comparisons per user,
    * zero explode, zero exchange beyond the user_id window (the w15
    * lesson applied to an O(frame²) statistic: bound the frame, fold
    * in-row; the oracle replays the pairs as a self-join, a deliberate
    * second formulation). Users with fewer than 10 events are below
    * the test's meaningful n and are filtered BEFORE the fold. */
  def w18MannKendall(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("t").desc, col("event_id").desc)
    table(s, dir, "events").filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 21)
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("t"), col("event_id"), col("cents")))).as("v"))
      .filter(size(col("v")) >= 10)
      .select(col("user_id"), size(col("v")).cast("long").as("n"),
        expr("""aggregate(flatten(transform(sequence(2, size(v)), j ->
            transform(sequence(1, j - 1), i ->
              CASE WHEN v[j - 1].cents > v[i - 1].cents THEN 1L
                   WHEN v[j - 1].cents < v[i - 1].cents THEN -1L
                   ELSE 0L END))), 0L, (acc, x) -> acc + x)""")
          .as("s_stat"))
  }

  lazy val (queries, oracle) = registry(declared)

  private[ops] val declared: Seq[Query] = Seq(
    // the in-row pair fold replayed as an explicit position self-join
    // (a < b on the time rank) — an independent second formulation
    Query("w18_mann_kendall", w18MannKendall,
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY t DESC, event_id DESC) AS rn FROM e),
        |k AS (SELECT user_id, t, event_id, cents FROM r WHERE rn <= 21),
        |o AS (SELECT user_id, cents, row_number() OVER (
        |        PARTITION BY user_id ORDER BY t, event_id) AS p FROM k),
        |nn AS (SELECT user_id, count(*) AS n FROM o GROUP BY 1),
        |sp AS (SELECT a.user_id,
        |        CAST(sum(CASE WHEN b.cents > a.cents THEN 1
        |                 WHEN b.cents < a.cents THEN -1
        |                 ELSE 0 END) AS BIGINT) AS s_stat
        |      FROM o a JOIN o b ON a.user_id = b.user_id AND a.p < b.p
        |      GROUP BY 1)
        |SELECT nn.user_id, CAST(nn.n AS BIGINT) AS n,
        |  coalesce(sp.s_stat, 0) AS s_stat
        |FROM nn LEFT JOIN sp USING (user_id) WHERE nn.n >= 10""".stripMargin),
    // quantile_cont over the same 9-row frame: with an odd count the
    // 0.5 quantile is the middle element — integer cents, interpolation
    // never fires, the BIGINT cast is exact in both engines
    Query("w17_rolling_median", w17RollingMedian,
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT *, count(cents) OVER win AS n,
        |    CAST(quantile_cont(cents, 0.5) OVER win AS BIGINT) AS med_c
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, t AS t_us, cents, med_c
        |FROM w WHERE n = 9""".stripMargin),
    // independent formulation: window-rank argmax (ORDER BY len DESC,
    // start ASC) instead of the min(struct(-len, start)) aggregate
    Query("w15_streak", w15Streak,
      s"""WITH e AS (SELECT DISTINCT user_id,
         |  epoch_us(ts) // $DayUs AS day FROM events),
         |i AS (SELECT user_id, day,
         |        day - row_number() OVER (PARTITION BY user_id ORDER BY day)
         |          AS island
         |      FROM e),
         |g AS (SELECT user_id, island, count(*) AS len, min(day) AS start_day
         |      FROM i GROUP BY 1, 2),
         |sel AS (SELECT user_id, len, start_day,
         |        row_number() OVER (PARTITION BY user_id
         |          ORDER BY len DESC, start_day) AS rn,
         |        count(*) OVER (PARTITION BY user_id) AS n_streaks
         |        FROM g)
         |SELECT user_id, CAST(len AS BIGINT) AS streak_len, start_day,
         |  CAST(n_streaks AS BIGINT) AS n_streaks
         |FROM sel WHERE rn = 1""".stripMargin),
    // independent formulation: open/close via double window-rank (the
    // per-bucket sort the min_by/max_by plan avoids)
    Query("w16_ohlc", w16Ohlc,
      s"""WITH e AS (
         |  SELECT event_type AS key, event_id, epoch_us(ts) AS t,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |w AS (
         |  SELECT key, t - t % $HourUs AS bus, cents,
         |    row_number() OVER (PARTITION BY key, t - t % $HourUs
         |                       ORDER BY t, event_id) AS ra,
         |    row_number() OVER (PARTITION BY key, t - t % $HourUs
         |                       ORDER BY t DESC, event_id DESC) AS rd
         |  FROM e)
         |SELECT key, bus,
         |  CAST(min(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_c,
         |  max(cents) AS high_c, min(cents) AS low_c,
         |  CAST(min(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close_c,
         |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_c
         |FROM w GROUP BY 1, 2""".stripMargin),
    Query("w14_retention", w14Retention,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT cohort_wk, wk - cohort_wk AS offset_wk,
        |  count(DISTINCT user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    // same BIGINT cross-multiply test; DuckDB's windowed sum(BIGINT) is
    // HUGEINT, cast back down before the products
    Query("w13_anomaly", w13Anomaly,
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT *, count(cents) OVER win AS n,
        |    CAST(sum(cents) OVER win AS BIGINT) AS s,
        |    CAST(sum(cents * cents) OVER win AS BIGINT) AS s2
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, t AS t_us, cents,
        |  n AS n_win, s AS sum_win
        |FROM w
        |WHERE n >= 6
        |  AND (n*cents - s) * (n*cents - s) > 9 * (n*s2 - s*s)""".stripMargin),
    Query("w6_sessionize", w6Sessionize,
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
         |g AS (SELECT user_id, event_id, t,
         |        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > $GapUs
         |             THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         |s AS (SELECT user_id, t,
         |        sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
         |          ROWS UNBOUNDED PRECEDING) AS sess_n FROM g)
         |SELECT user_id, CAST(sess_n AS BIGINT) AS sess_n,
         |       min(t) AS start_us, max(t) AS end_us, count(*) AS n_events
         |FROM s GROUP BY 1, 2""".stripMargin),
    // ASOF LEFT JOIN is DuckDB's native forward-fill: latest observed
    // bucket at-or-before each grid hour — exactly last(ignoreNulls).
    // two ASOF joins (backward >= for prev, forward <= for next) + the
    // same integer lerp (DuckDB // truncates toward zero, like Spark div)
    Query("w7_interpolate", w7Interpolate,
      s"""WITH b AS (
         |  SELECT user_id, epoch_us(ts) - epoch_us(ts) % $HourUs AS bus,
         |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
         |  FROM events WHERE user_id < 20 AND value IS NOT NULL GROUP BY 1, 2),
         |span AS (SELECT user_id, min(bus) AS mn, max(bus) AS mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(range(mn, mx + 1, $HourUs)) AS bus FROM span),
         |fb AS (
         |  SELECT g.user_id, g.bus, pb.bus AS pbus, pb.cents AS pc
         |  FROM grid g ASOF LEFT JOIN b pb
         |    ON g.user_id = pb.user_id AND g.bus >= pb.bus),
         |ff AS (
         |  SELECT fb.*, nb.bus AS nbus, nb.cents AS nc
         |  FROM fb ASOF LEFT JOIN b nb
         |    ON fb.user_id = nb.user_id AND fb.bus <= nb.bus)
         |SELECT user_id, bus,
         |  CASE WHEN pbus = bus THEN pc
         |       WHEN nbus IS NULL THEN pc
         |       ELSE pc + ((nc - pc) * ((bus - pbus) // $HourUs))
         |                 // ((nbus - pbus) // $HourUs)
         |  END AS lerp_cents,
         |  CASE WHEN pbus = bus THEN 0 ELSE 1 END AS is_gap
         |FROM ff""".stripMargin),
    // per-stage mins recomputed as the correlated-min cascade; the fold
    // and the cascade agree because stage conditions are strict
    Query("w8_funnel", w8Funnel,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e
        |       WHERE event_type = 'click' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND t > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t > t2 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS n_stage1,
        |       (SELECT count(*) FROM s2) AS n_stage2,
        |       (SELECT count(*) FROM s3) AS n_stage3,
        |       (SELECT CAST(coalesce(sum(t3 - t1), 0) AS BIGINT)
        |        FROM s3 JOIN s1 USING (user_id)) AS sum_conv_us""".stripMargin),
    Query("w7_gapfill", w7Gapfill,
      s"""WITH b AS (
         |  SELECT user_id, epoch_us(ts) - epoch_us(ts) % $HourUs AS bus,
         |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
         |  FROM events WHERE user_id < 20 AND value IS NOT NULL GROUP BY 1, 2),
         |span AS (SELECT user_id, min(bus) AS mn, max(bus) AS mx FROM b GROUP BY 1),
         |grid AS (SELECT user_id, unnest(range(mn, mx + 1, $HourUs)) AS bus FROM span)
         |SELECT g.user_id, g.bus, b.cents AS filled_cents,
         |       CASE WHEN b.bus = g.bus THEN 0 ELSE 1 END AS is_gap
         |FROM grid g ASOF LEFT JOIN b ON g.user_id = b.user_id AND g.bus >= b.bus""".stripMargin)
  )
}
