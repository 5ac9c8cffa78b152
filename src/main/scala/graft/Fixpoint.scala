package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way an iterative operator runs its driver loop: the dedup
  * closures, SSSP, host rank, k-means, the perceptron's epochs and
  * q23's recursion all share these three pieces. (The raster kernels
  * need no loop: see [[graft.ops.Tiles]].)
  *
  *  - [[partitions]] sizes a loop's shuffles from its row bound.
  *  - [[scoped]] runs a materializing body at loop confs.
  *  - [[iterate]] runs the rounds: one stats-free checkpoint per round,
  *    release of every block the loop no longer needs, and a loud
  *    failure when a convergence loop runs out of rounds. */
object Fixpoint {

  /** Shuffle partitions for a loop whose frames hold at most `rows`
    * rows: ~100k rows per partition, at least 1, at most the session's
    * shuffle-partition setting (the scale knob a deployment sizes). */
  def partitions(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      rows / 100000L + 1L)).toInt

  /** Run `body` with AQE off and shuffle partitions at
    * [[partitions]]`(rows)`, restoring the session's values afterwards.
    * Loop frames are bounded by `rows` (a pair graph, a node set, a
    * corpus), so AQE has nothing to adapt, yet it would submit
    * every one of a round's tiny shuffle stages as its own job; with it
    * off each materialization is one job. `body` must MATERIALIZE what
    * it builds (checkpoint or action) — a lazy plan returned from the
    * scope runs later at session confs (the [[graft.withConfs]]
    * contract, including its same-session concurrency boundary). */
  def scoped[T](spark: SparkSession, rows: Long)(body: => T): T =
    withConfs(spark, Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> partitions(spark, rows).toString))(body)

  /** Run `step` from `init` for `maxRounds` rounds, or, when `changes`
    * is given, until it counts no change between a round's input and
    * its checkpointed output. Each round materializes through ONE
    * [[GraftBridge.freshCheckpoint]], so no round inherits the previous
    * round's multiplied size estimates; a layout the step establishes
    * (repartition by key) survives into the next round.
    *
    * The loop OWNS every checkpoint that `init` or a round reads and
    * every round checkpoint it makes: each superseded round is released
    * as soon as the next one is materialized, and on return everything
    * else is released except what the returned frame reads. A caller
    * must not read such a checkpoint after the loop (a released local
    * checkpoint cannot be recomputed).
    *
    * Every job a round runs carries the job description
    * `<op> round <i>` (1-based); the caller's description is restored
    * when the loop ends.
    *
    * A convergence loop that still counts changes after `maxRounds`
    * fails with an IllegalArgumentException naming `op`, never returns
    * a non-converged result. */
  def iterate(op: String, init: DataFrame, maxRounds: Int,
              changes: Option[(DataFrame, DataFrame) => Long] = None)
             (step: DataFrame => DataFrame): DataFrame = {
    val spark = init.sparkSession
    var read = checkpointsOf(init)
    var cur = init
    var rounds = 0
    var changed = 1L
    val caller = spark.sparkContext.getLocalProperty("spark.job.description")
    try while (rounds < maxRounds && (changes.isEmpty || changed > 0)) {
      spark.sparkContext.setJobDescription(s"$op round ${rounds + 1}")
      val frame = step(cur)
      read ++= checkpointsOf(frame)
      val next = GraftBridge.freshCheckpoint(frame)
      changes.foreach(count => changed = count(cur, next))
      if (rounds > 0) unpersist(spark, checkpointsOf(cur))
      cur = next
      rounds += 1
    } finally spark.sparkContext.setJobDescription(caller)
    val converged = changes.isEmpty || changed == 0
    unpersist(spark,
      if (converged) read -- checkpointsOf(cur) else read ++ checkpointsOf(cur))
    require(converged, s"$op did not converge in $maxRounds rounds")
    cur
  }

  /** Release the checkpoints `frames` read — for a loop's own frames
    * that its rounds reach only through a checkpoint made inside a
    * round, where [[iterate]] cannot see them. */
  def release(frames: DataFrame*): Unit =
    frames.foreach(df => unpersist(df.sparkSession, checkpointsOf(df)))

  /** By id: a checkpoint whose frame the GC already collected is
    * released now, not whenever the ContextCleaner gets to it. */
  private def unpersist(spark: SparkSession, ids: Set[Int]): Unit =
    ids.foreach(GraftBridge.unpersist(spark.sparkContext, _))

  /** RDD ids of the checkpoints (LogicalRDD leaves) `df` reads. */
  private def checkpointsOf(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRDD => r.rdd.id
    }.toSet
}
