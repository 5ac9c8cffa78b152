package org.apache.spark.sql

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{CleanerListener, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType
import org.apache.spark.status.api.v1
import scala.jdk.CollectionConverters._
import scala.util.chaining._

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

  /** A session sharing `spark`'s SparkContext, cache and catalog, with
    * a COPY of its runtime confs and temp views plus `confs`
    * (`newSession()` would start from the static confs and drop both).
    * A frame built in it plans and runs at its confs whenever it is
    * materialized; `spark` never changes.
    *
    * The clone's jobs run in the executors' shared artifact session.
    * Spark gives each session its own, with its own task class loader,
    * so a short-lived clone recompiled every generated class its query
    * ran and left one more loader in the executors' session cache. A
    * clone fixes its artifact session when it is made, from its
    * parent's confs, so the clone is made from an intermediate clone
    * with artifact isolation off, which never runs a job. */
  def cloneSession(spark: SparkSession, confs: Map[String, String]): SparkSession = {
    val shared = spark.asInstanceOf[classic.SparkSession].cloneSession()
      .tap(_.conf.set("spark.sql.artifact.isolation.enabled", "false"))
    shared.cloneSession().tap(c => confs.foreach { case (k, v) => c.conf.set(k, v) })
  }

  /** `df`'s analyzed plan as a frame of `spark`: it plans and runs at
    * `spark`'s confs from here on. Nothing executes. */
  def rehome(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** `df`'s rows, collected to the driver in one action as copied
    * Catalyst rows: no Row-encoder round trip. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect().map(_.copy()))
  }

  /** A frame of `spark` over driver-held rows of `schema`: a
    * `LocalRelation` with fresh attribute ids, so two reads of one row
    * set in one plan do not collide. The rows are shared, not copied;
    * nothing executes. */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

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

  /** Run `body` as one scope of work on `sc` and release the
    * checkpoints it made that its result does not read. Every job
    * `body` submits, those AQE and broadcast threads submit for it
    * included, carries the scope's local property; the persisted RDDs
    * of those jobs' stages are the scope's. When `body` returns, each
    * of them that is a checkpoint and that no RDD dependency of
    * the result's leaves reaches is released; when it throws, all of
    * them are. Attribution goes by the property, not by an RDD-id
    * mark: ids interleave across threads, so a mark would claim
    * another thread's checkpoints. Cache entries are left to
    * `clearCache()`: releasing them by id would strand CacheManager
    * entries. */
  def releasing(sc: SparkContext)(body: => DataFrame): DataFrame = {
    val open = scopesOf(sc).made
    val scope = java.util.UUID.randomUUID.toString
    val made = new ConcurrentHashMap[Int, RDD[_]]()
    open.put(scope, made)
    val outer = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    val out = try scala.util.Try(body) finally sc.setLocalProperty(ScopeKey, outer)
    drain(sc)
    open.remove(scope)
    val reached = out.fold(_ => Set.empty[Int], lineage)
    made.asScala.foreach { case (id, rdd) =>
      if (rdd.isCheckpointed && !reached(id) && sc.persistentRdds.contains(id))
        unpersist(sc, id)
    }
    out.get
  }

  private val ScopeKey = "graft.scope"

  /** The ids of the RDD leaves of `df` (subqueries included) and of
    * every RDD they depend on. */
  private def lineage(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }.foreach(walk)
    seen.toSet
  }

  /** The persisted RDDs each open scope's jobs computed, held strongly
    * until the scope closes so the GC cannot hand one to the
    * ContextCleaner first. */
  private final class Scopes(val sc: SparkContext) extends SparkListener {
    val made = new ConcurrentHashMap[String, ConcurrentHashMap[Int, RDD[_]]]()
    sc.addSparkListener(this)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(ScopeKey)))
        .flatMap(k => Option(made.get(k))).foreach { rdds =>
          e.stageInfos.flatMap(_.rddInfos).filter(_.storageLevel.isValid)
            .foreach(i => sc.persistentRdds.get(i.id).foreach(rdds.put(i.id, _)))
        }
  }

  private var scopes: Option[Scopes] = None

  private def scopesOf(sc: SparkContext): Scopes = synchronized {
    if (!scopes.exists(_.sc eq sc)) scopes = Some(new Scopes(sc))
    scopes.get
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
