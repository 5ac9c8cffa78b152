package org.apache.spark.sql

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{CleanerListener, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.status.api.v1
import scala.jdk.CollectionConverters._

/** Bridge to Spark 4's private[sql] Column <-> catalyst Expression
  * conversions, needed to expose custom Catalyst expressions (e.g.
  * graft.codec.Rfc4180Decode) as user-facing Columns. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-plan a batch frame as a STREAMING-flagged one — what a DSv1
    * streaming Source's getBatch must hand back (the engine asserts
    * isStreaming=true; FileStreamSource uses the same private[sql]
    * internalCreateDataFrame). The RDD is lazy: this plans, it does
    * not execute. */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** `df.localCheckpoint()` WITHOUT the origin plan's estimated
    * statistics. Spark 4's checkpoint carries the child plan's
    * sizeInBytes into its LogicalRDD, and a loop whose round joins its
    * own state multiplies those estimates every round — a BigInteger
    * whose digit count doubles per round, until the driver spends
    * minutes per round in the stats visitor. The rebuilt leaf has no
    * origin stats (the session's defaultSizeInBytes, as for any RDD
    * frame) and keeps the checkpoint's own output partitioning, so a
    * hash layout established before the checkpoint survives into the
    * next round's joins. Eager, like localCheckpoint. */
  def freshCheckpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val r = df.localCheckpoint().queryExecution.logical.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(spark, r.copy()(spark, None, None))
  }

  /** Release an RDD's blocks by id, whether or not its object is
    * still reachable (`RDD.unpersist` needs the object). */
  def unpersist(sc: SparkContext, rdd: Int): Unit = sc.unpersistRDD(rdd, blocking = false)

  /** Wait until the listener bus has delivered every event posted so
    * far, so listeners and the status store are complete (the bus is
    * private to Spark, hence this package). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The jobs run under job group `group`, and the stage attempts they
    * ran to completion with the summed scheduler delay of each one's
    * tasks. A stage that several jobs share, or that a job skipped,
    * appears once. Read from Spark's status store, which is kept with
    * or without the UI; call it after [[drain]]. */
  def jobsIn(sc: SparkContext, group: String)
      : (Seq[v1.JobData], Seq[(v1.StageData, Long)]) = {
    val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted.map(sc.statusStore.job)
    jobs -> jobs.flatMap(_.stageIds).distinct.flatMap(sc.statusStore.stageData(_))
      .filter(_.status == v1.StageStatus.COMPLETE).map { s =>
        s -> sc.statusStore.taskList(s.stageId, s.attemptId, Int.MaxValue)
          .map(_.schedulerDelay).sum
      }
  }

  /** The persistent RDDs made after this mark that a piece of work
    * leaves behind: those still held, plus those the ContextCleaner
    * unpersisted and nothing else released. RDD ids only
    * grow, so blocks that earlier work left cannot skew the count.
    * `getPersistentRDDs` alone is not enough: it holds its RDDs weakly,
    * and once a leaked checkpoint's frame is collected the cleaner
    * unpersists it, so whether a leak showed depended on GC timing. */
  final class Residue(sc: SparkContext) {
    private val reclaims = reclaimsOf(sc)
    private val mark = sc.emptyRDD[Int].id
    def held: Int = { drain(sc); (sc.getPersistentRDDs.keySet ++ reclaims.leaked).count(_ > mark) }
  }

  /** The RDDs the ContextCleaner unpersisted, and the unpersist events
    * of every RDD. The cleaner also reclaims RDDs that were released
    * explicitly; those carry an unpersist event besides the cleaner's. */
  private final class Reclaims(val sc: SparkContext)
      extends SparkListener with CleanerListener {
    private val cleaned = ConcurrentHashMap.newKeySet[Int]()
    private val unpersists = new ConcurrentHashMap[Int, Int]()
    sc.addSparkListener(this)
    sc.cleaner.foreach(_.attachListener(this))
    /** After a [[drain]]: the cleaned RDDs whose only unpersist event is
      * the cleaner's (it posts that event before it reports the cleanup). */
    def leaked: Iterator[Int] = cleaned.asScala.iterator.filter(unpersists.get(_) == 1)
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      unpersists.merge(e.rddId, 1, (a, b) => a + b)
    def rddCleaned(id: Int): Unit = cleaned.add(id)
    def shuffleCleaned(id: Int): Unit = ()
    def broadcastCleaned(id: Long): Unit = ()
    def accumCleaned(id: Long): Unit = ()
    def checkpointCleaned(id: Long): Unit = ()
  }

  private var reclaims: Option[Reclaims] = None

  private def reclaimsOf(sc: SparkContext): Reclaims = synchronized {
    if (!reclaims.exists(_.sc eq sc)) reclaims = Some(new Reclaims(sc))
    reclaims.get
  }
}
