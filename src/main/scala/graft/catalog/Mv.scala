package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance — the pre-aggregation
  * pattern that makes dashboard-grain queries O(batch), not O(history),
  * at fact scale: the view stores one row of MERGEABLE state per group
  * (count, sum, max — avg derives as sum/count downstream), and a new
  * batch refreshes it by aggregating ONLY its own rows to the same
  * state and folding them in. History is never re-read: the refresh
  * touches the view (group-cardinality rows) plus the batch. The same
  * algebra [[graft.ops.RelQueries]]'s a18 uses for HLL sketches and
  * a15 for Misra-Gries counters, here for the plain additive aggregate
  * family. Deletes retract through [[deletePartials]]+[[mergeDeletes]]:
  * count/sum negate naturally; max — not mergeable under deletes — is
  * flagged stale only when the deleted max reaches the stored max and
  * repaired group-scoped via [[repairMax]] (bulk deletes at scale still
  * compose with [[PartitionMerge.deleteFrom]] + partition-scoped
  * rebuild).
  *
  * 100 TB posture: both sides of a refresh are tiny relative to the
  * fact table — the batch partial is one map-side-combined aggregate of
  * the new files, the merge an exchange at group cardinality. The view
  * itself rewrites wholesale only because it IS group-sized; a
  * partition-keyed view composes with [[PartitionMerge.mergeInto]]
  * instead.
  */
object Mv {

  /** The mergeable partial state of the grouped aggregate: one row per
    * key tuple — (n_rows, sum_cents, max_cents). */
  def partials(df: DataFrame, keys: Seq[String], valueCents: Column)
      : DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
           sum(valueCents).as("sum_cents"),
           max(valueCents).as("max_cents"))

  /** Fold a batch's partial state into the stored view: union + one
    * re-aggregation at group cardinality (count and sum merge by sum,
    * max by max). Groups new to the batch appear, untouched groups ride
    * through — the union-agg form needs no outer-join null handling. */
  def merge(mv: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    mv.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
           sum(col("sum_cents")).as("sum_cents"),
           max(col("max_cents")).as("max_cents"))

  /** A19 retractions — partial state of a DELETE batch: count and sum
    * enter the merge NEGATED (additive aggregates retract naturally);
    * max cannot retract, so the batch's deleted max rides along for
    * [[mergeDeletes]]' staleness test instead. */
  def deletePartials(df: DataFrame, keys: Seq[String], valueCents: Column)
      : DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg((-count(lit(1))).as("n_rows"),
           (-sum(valueCents)).as("sum_cents"),
           max(valueCents).as("del_max_cents"))

  /** Fold a DELETE batch into the view. count/sum retract additively —
    * one group-cardinality fold, history untouched. max is NOT
    * mergeable under deletes: a group whose deleted max REACHES the
    * stored max may have lost its extremum, so that row emits
    * max_stale=true with a null max, and the caller repairs exactly
    * those groups via [[repairMax]] before serving max (a deleted max
    * strictly below the stored max proves the extremum survived — no
    * repair, no history read). Groups emptied by the delete drop from
    * the view. A delete targeting an absent group, or retracting more
    * rows than the view holds, indicates a corrupted ledger and FAILS
    * LOUDLY (both inputs are group-sized, so the eager checks cost two
    * scans of dimension-cardinality data, never of history). */
  def mergeDeletes(mv: DataFrame, dels: DataFrame, keys: Seq[String])
      : DataFrame = {
    val d = dels.select(keys.map(col) ++ Seq(col("n_rows").as("d_n"),
      col("sum_cents").as("d_sum"), col("del_max_cents")): _*)
    val j = mv.join(d, keys, "full_outer").localCheckpoint()
    require(j.filter(col("n_rows").isNull).isEmpty,
      "delete batch retracts from a group absent from the view — the " +
      "delete ledger and the view have diverged")
    require(j.filter(col("d_n").isNotNull &&
        col("n_rows") + col("d_n") < 0).isEmpty,
      "delete batch retracts more rows than the view holds for a group")
    val n2 = col("n_rows") + coalesce(col("d_n"), lit(0L))
    // a group is stale when this batch's deleted max REACHES the stored
    // max — or when the stored max is already NULL from an UNREPAIRED
    // earlier batch (chained mergeDeletes must carry the stale flag
    // forward, not silently clear it: del_max >= NULL evaluates NULL
    // and would otherwise coalesce to false, stranding the group with
    // a NULL max and no repair signal)
    val stale = col("max_cents").isNull ||
      (col("del_max_cents").isNotNull &&
       col("del_max_cents") >= col("max_cents"))
    j.select(keys.map(col) ++ Seq(
        n2.as("n_rows"),
        (col("sum_cents") + coalesce(col("d_sum"), lit(0L))).as("sum_cents"),
        when(stale, lit(null)).otherwise(col("max_cents"))
          .cast("long").as("max_cents"),
        coalesce(stale, lit(false)).as("max_stale")): _*)
      .filter(n2 > 0)
  }

  /** The re-aggregate path for max under deletes: recompute max over
    * SURVIVING history for exactly the max_stale groups — the stale key
    * set is group-sized, so it broadcasts and the semi join pushes the
    * key filter into the history scan (partition/row-group pruning at a
    * partition-keyed table). Untouched groups never re-read history. */
  def repairMax(merged: DataFrame, history: DataFrame, keys: Seq[String],
                valueCents: Column): DataFrame = {
    val staleKeys = merged.filter(col("max_stale")).select(keys.map(col): _*)
    val recomputed = history
      .join(broadcast(staleKeys), keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(max(valueCents).as("r_max"))
    merged.join(broadcast(recomputed), keys, "left")
      .select(keys.map(col) ++ Seq(col("n_rows"), col("sum_cents"),
        coalesce(col("r_max"), col("max_cents")).as("max_cents")): _*)
  }
}
