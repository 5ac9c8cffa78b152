package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way an iterative operator runs its driver loop: the dedup
  * closures, SSSP, host rank, BPE training, the perceptron's epochs
  * and q23's recursion all share these pieces. (The raster kernels
  * need no loop: see [[graft.ops.Tiles]].)
  *
  *  - [[partitions]] sizes a loop's shuffles from its row bound.
  *  - [[scoped]] runs a materializing body in a session clone at loop
  *    confs.
  *  - [[iterate]] runs the rounds: one stats-free checkpoint per round,
  *    release of every block the loop no longer needs, and a loud
  *    failure when a convergence loop runs out of rounds.
  *
  * A checkpoint an operator makes outside a loop's rounds needs no
  * release of its own: the query scope of a declared query
  * ([[graft.ops]]) releases every checkpoint the result does not read
  * when the plan returns. */
object Fixpoint {

  /** Shuffle partitions for a loop whose frames hold at most `rows`
    * rows: ~100k rows per partition, at least 1, at most the session's
    * shuffle-partition setting (the scale knob a deployment sizes). */
  def partitions(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      rows / 100000L + 1L)).toInt

  /** Run `body` in a clone of `spark` with AQE off, shuffle partitions
    * at [[partitions]]`(rows)` and `confs`, its jobs described as `op`;
    * `spark` itself never changes. Loop frames are bounded by `rows` (a
    * pair graph, a node set, a corpus), so AQE has nothing to adapt,
    * yet it would submit every one of a round's tiny shuffle stages as
    * its own job; with it off each materialization is one job. `body`
    * builds its loop frames in the clone it is given (a caller-session
    * frame re-homed by [[GraftBridge.rehome]]) and MATERIALIZES them
    * (checkpoint or action); a frame it returns is re-homed into
    * `spark`, where its later lazy plans run at the caller's confs (the
    * [[graft.inClone]] contract). */
  def scoped[T](op: String, spark: SparkSession, rows: Long,
                confs: Map[String, String] = Map.empty)(body: SparkSession => T): T =
    inClone(spark, op, confs ++ Map(
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
    while (rounds < maxRounds && (changes.isEmpty || changed > 0))
      described(spark, s"$op round ${rounds + 1}") {
        val frame = step(cur)
        read ++= checkpointsOf(frame)
        val next = GraftBridge.freshCheckpoint(frame)
        changes.foreach(count => changed = count(cur, next))
        if (rounds > 0) unpersist(spark, checkpointsOf(cur))
        cur = next
        rounds += 1
      }
    val converged = changes.isEmpty || changed == 0
    unpersist(spark,
      if (converged) read -- checkpointsOf(cur) else read ++ checkpointsOf(cur))
    require(converged, s"$op did not converge in $maxRounds rounds")
    cur
  }

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
