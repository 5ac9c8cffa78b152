package graft.catalog

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** SQL-NATIVE access to snapshot tables: `graft-snapshot` registered
  * as a Spark data source, so the protocol's reads compose with the
  * DataFrameReader and plain SQL instead of requiring the
  * [[SnapshotTable]] API:
  * {{{
  *   spark.read.format("graft-snapshot").option("path", root).load()
  *   CREATE TEMPORARY VIEW t USING `graft-snapshot` OPTIONS (path '...')
  * }}}
  * Options: `path` (table root, required), `version` (pin a committed
  * version; default latest), `asOfTimestamp` (epoch millis —
  * [[SnapshotTable.versionAsOf]] resolution; mutually exclusive with
  * `version`), `table` (read one table of a [[SnapshotGroup]] at
  * `path` instead of a single snapshot table). The version resolves
  * ONCE, when the relation is created — a `CREATE TEMPORARY VIEW`
  * therefore pins the snapshot it saw at creation (snapshot-isolation
  * view semantics, the protocol's reader property); re-create the
  * view (or `load()` again) to follow new commits.
  *
  * The relation implements `PrunedFilteredScan`, so Catalyst hands it
  * the query's column set and conjunctive filters: supported
  * comparisons (`= < <= > >=` against literals, `And` flattened)
  * translate to [[SnapshotTable.Pred]]s and drive MANIFEST pruning —
  * entries and per-file lists the recorded stats provably exclude are
  * never listed, never planned, never scanned — before the surviving
  * files go through the ordinary vectorized parquet scan (which
  * additionally gets the same predicates pushed to its footers).
  * `unhandledFilters` returns EVERY filter, so Spark re-applies the
  * full predicate above the scan: manifest pruning stays a pure
  * optimization and unsupported/partial translations (null checks,
  * IN, OR, non-literals) are simply not used for skipping. The scan
  * is handed back as `InternalRow`s (`needConversion = false`), so
  * the inner parquet read keeps whole-stage codegen.
  *
  * This is the DSv1 stable API (`RelationProvider`) by choice: the
  * relation's job is metadata pruning + delegation to the built-in
  * parquet source, exactly the granularity `PrunedFilteredScan`
  * expresses; a DSv2 `Table` would re-implement the file scan for no
  * added pushdown. Writes stay on the commit API — they need
  * `expectedBase`/tags/evolution flags that a blind `save()` cannot
  * express safely. */
class SnapshotSource extends RelationProvider with DataSourceRegister
    with StreamSourceProvider with CreatableRelationProvider {

  override def shortName(): String = "graft-snapshot"

  /** SQL writes are REFUSED WITH GUIDANCE rather than Spark's generic
    * "data source does not support write": a blind `save()`/`INSERT`
    * cannot carry the commit protocol's safety inputs
    * (expectedBase for optimistic concurrency, tags for replay
    * idempotence, the explicit evolveSchema opt-in), so accepting one
    * would silently forfeit exactly the guarantees the table exists
    * for. The error names the real write surfaces. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation =
    throw new UnsupportedOperationException(
      "graft-snapshot: SQL/DataFrame writes are not supported — commits " +
      "need an expected base version (optimistic concurrency), an " +
      "optional idempotence tag, and an explicit schema-evolution " +
      "opt-in, which save()/INSERT cannot express. Write through " +
      "graft.catalog.SnapshotTable: commit / commitPartitioned / " +
      "commitReplace / appendInto / commitDelete (or " +
      "stream.SnapshotSink.exactlyOnce for streaming ingest); reads " +
      "stay on this source.")

  /** Streaming CHANGE FEED over the commit log:
    * {{{
    *   spark.readStream.format("graft-snapshot")
    *     .option("path", root).option("keys", "id")
    *     [.option("preimages", "true")]
    *     [.option("startingVersion", "0")]
    *     .load()
    * }}}
    * Offsets are COMMITTED VERSIONS: each micro-batch emits the
    * Delta-CDF rows ([[SnapshotTable.changes]] semantics, one
    * `_commit_version` column appended) of every commit in
    * (lastSeen, current] — the incremental-consumer story (snk11's MV
    * maintenance, cache invalidation, downstream sync) without
    * polling code: the engine's checkpoint persists the version
    * cursor. `startingVersion` N means "emit changes AFTER version N"
    * (0 = from the first commit, whose feed is all-inserts); absent,
    * the stream starts at the CURRENT version — history is not
    * replayed. Retention must outlast checkpoint lag: a vacuumed
    * version inside a restart's catch-up range fails loudly rather
    * than emitting a gap. */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), SnapshotChangeSource.cdfSchema(
      sqlContext.sparkSession, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    // metadataPath is the engine's per-source checkpoint dir — the V1
    // hook FileStreamSource uses for exactly this: state that must
    // survive a restart but precedes the first committed offset (here:
    // the resolved start-at-current default, see resolveDefaultStart)
    new SnapshotChangeSource(sqlContext, parameters, Some(metadataPath))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot: the 'path' option (table root) is required"))
    val spark = sqlContext.sparkSession
    require(!(parameters.contains("version") &&
        parameters.contains("asOfTimestamp")),
      "graft-snapshot: 'version' and 'asOfTimestamp' are mutually exclusive")
    // `table` selects a table of a SnapshotGroup at `path`; absent, the
    // path is a single SnapshotTable. Group reads carry no skipping
    // stats by the recorded scope decision (group tables are small
    // artifacts), so the group relation prunes columns only.
    val table = parameters.get("table")
    val log = if (table.isDefined) SnapshotGroup.log else SnapshotTable.log
    val fs = SnapshotTable.fsOf(spark, root)
    val version = parameters.get("version").map(_.toLong)
      .orElse(parameters.get("asOfTimestamp")
        .map(ts => log.asOf(fs, root, ts.toLong)))
      .getOrElse {
        val v = log.current(fs, root)
        require(v > 0,
          s"graft-snapshot: ${log.noun} $root has no committed version")
        v
      }
    table.fold[BaseRelation](new SnapshotRelation(sqlContext, root, version))(
      new SnapshotGroupRelation(sqlContext, root, _, version))
  }
}

object SnapshotSource {
  /** Last buildScan's manifest-pruning outcome — (entries planned,
    * files planned; -1 = some entry scans whole dirs). Instrumentation
    * for the gate/specs, same role as
    * [[SnapshotTable.manifestBodyReads]]; production code never reads
    * it. THREAD-LOCAL, not a process-wide cell: DSv1 `buildScan` runs
    * on the thread that forces the query's physical plan, so a gate
    * that sets→scans→gets on one thread can never have its reading
    * overwritten by a concurrent `graft-snapshot` scan on another
    * (parallel gate queries / parallel test suites). */
  private[graft] val lastPlanned =
    new ThreadLocal[(Long, Long)] {
      override def initialValue(): (Long, Long) = (0L, 0L)
    }
}

/** One table of a [[SnapshotGroup]] through the data source: column
  * pruning only (group tables record no skipping stats — the scope
  * decision on [[SnapshotGroup]]); rows hand back as InternalRows
  * from the delegated parquet scan, filters re-applied by Spark. */
private[catalog] class SnapshotGroupRelation(val sqlContext: SQLContext,
    root: String, table: String, version: Long)
    extends BaseRelation with PrunedScan {

  private val spark = sqlContext.sparkSession
  // val, not def: the relation pins `version`, so the one resolved
  // read (one manifest body) serves schema and every buildScan
  private val df = SnapshotGroup.read(spark, root, table, version)

  override val schema: StructType = df.schema

  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String]): RDD[Row] = {
    import org.apache.spark.sql.functions.col
    val base = df
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

private[catalog] object SnapshotChangeSource {
  private[catalog] def keysOf(parameters: Map[String, String]): Seq[String] =
    parameters.getOrElse("keys", throw new IllegalArgumentException(
      "graft-snapshot stream: the 'keys' option (comma-separated key " +
      "columns, the changes() upsert contract) is required"))
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** The CDF schema: keys (caller order) ++ change_type ++ payload
    * (table order) ++ _commit_version — exactly the column order
    * [[SnapshotTable.changes]] emits plus the version stamp, so
    * every per-commit batch aligns positionally. */
  private[catalog] def cdfSchema(spark: org.apache.spark.sql.SparkSession,
      parameters: Map[String, String]): StructType = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot stream: the 'path' option is required"))
    val keys = keysOf(parameters)
    parameters.get("maxVersionsPerTrigger").map(_.toLong).foreach(n =>
      require(n > 0L,
        s"graft-snapshot stream: maxVersionsPerTrigger $n must be " +
        "positive — 0 would silently wedge the stream after its " +
        "first batch"))
    val cur = SnapshotTable.currentVersion(spark, root)
    require(cur > 0, s"graft-snapshot stream: $root has no committed " +
      "version to derive the change schema from")
    val table = StructType.fromDDL(
      SnapshotTable.manifestAt(spark, root, cur).schemaDdl)
    val names = table.fieldNames.toSet
    keys.foreach(k => require(names.contains(k),
      s"graft-snapshot stream: key column '$k' is not a table column"))
    val keyFields = keys.map(k => table(table.fieldIndex(k)))
    val payload = table.fields.filterNot(f => keys.contains(f.name))
    StructType((keyFields :+
      org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType)) ++ payload :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType))
  }
}

/** The micro-batch change-feed source (see
  * [[SnapshotSource.sourceSchema]] for the contract): offsets are
  * committed snapshot versions, each batch the union of per-commit
  * Delta-CDF diffs over its (start, end] version range — normally one
  * commit per micro-batch in steady state. Version resolution per
  * batch is [[SnapshotTable.currentVersion]]'s O(1) pointer path, so
  * the POLL cost does not grow with history; the diff itself joins
  * two adjacent snapshot reads (partition-pruned on partition-keyed
  * tables, per the changes() scale contract). */
private[catalog] class SnapshotChangeSource(val sqlContext: SQLContext,
    parameters: Map[String, String],
    metadataPath: Option[String] = None)
    extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val spark = sqlContext.sparkSession
  private val root = parameters("path")
  private val keys = SnapshotChangeSource.keysOf(parameters)
  private val preimages =
    parameters.get("preimages").exists(_.toBoolean)
  // absent startingVersion = start AT the current version: history is
  // not replayed, only commits after stream start feed batches. The
  // default resolves ONCE PER STREAM, not once per restart: the first
  // creation persists the resolved version under the engine's
  // metadataPath and every re-creation reads it back. Without that, a
  // stream that WALs its first offset E and crashes before committing
  // re-evaluates the default to the restart-time current version
  // (>= E), the replayed batch 0 computes an empty range, and the
  // versions in (originalStart, E] are silently never delivered — an
  // exactly-once violation. (The engine cursor still wins over this
  // floor once an offset has been committed — see getBatch.)
  private val explicitStartV: Option[Long] =
    parameters.get("startingVersion").map(_.toLong)
  private val startV: Long = explicitStartV
    .getOrElse(resolveDefaultStart())

  /** The start-at-current default, made restart-stable: read the
    * persisted resolution if one exists, else resolve against the
    * table and persist via write-temp-then-rename (atomic on the
    * filesystems the engine checkpoints on; a lost rename race means
    * a concurrent creation won — read the winner, so every creation
    * agrees on one floor). A source constructed WITHOUT a
    * metadataPath (direct API use, specs) keeps the plain re-resolve:
    * it has no engine checkpoint to be consistent with. */
  private def resolveDefaultStart(): Long = metadataPath match {
    case None => SnapshotTable.currentVersion(spark, root)
    case Some(dir) =>
      val hp = new org.apache.hadoop.fs.Path(dir)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val f = new org.apache.hadoop.fs.Path(hp, "graft-start-version")
      def readBack(): Long = {
        if (!fs.exists(f)) throw new IllegalStateException(
          s"graft-snapshot stream: could not persist the start marker " +
          s"$f (rename failed and no concurrent creation left one) — " +
          "check checkpointLocation permissions, or set an explicit " +
          "startingVersion to bypass the marker")
        val in = fs.open(f)
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        try body.toLong
        catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"graft-snapshot stream: persisted start marker $f is " +
            s"unreadable ('$body') — the source checkpoint is damaged; " +
            "delete the stream's checkpointLocation to start a fresh " +
            "stream (at the then-current version), or set an explicit " +
            "startingVersion")
        }
      }
      if (fs.exists(f)) readBack()
      else {
        val v = SnapshotTable.currentVersion(spark, root)
        fs.mkdirs(hp)
        val tmp = new org.apache.hadoop.fs.Path(hp,
          s"graft-start-version.tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(v.toString.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, f)) fs.delete(tmp, false)
        // THE FILE is authoritative, not the local resolution: on
        // filesystems where rename silently overwrites (POSIX local),
        // two racing creations could otherwise each keep a different
        // in-memory floor while the file holds one of them — reading
        // back after the rename makes every creation agree with
        // whatever the marker settled on (rename-failed readers defer
        // to the winner the same way).
        readBack()
      }
  }
  // rate limit: at most this many commits per micro-batch (Delta's
  // maxFilesPerTrigger analogue at version grain) for commits that
  // accumulate while the stream RUNS. Scope honestly stated: the first
  // batch after a (re)start is unthrottled — a V1 getOffset cannot see
  // the engine's committed cursor (see getOffset) — so a restart far
  // behind pays one unbounded catch-up batch, then bounded ones.
  private val maxVersionsPerTrigger: Long =
    parameters.get("maxVersionsPerTrigger").map(_.toLong)
      .getOrElse(Long.MaxValue)
  require(maxVersionsPerTrigger > 0L,
    s"graft-snapshot stream: maxVersionsPerTrigger " +
    s"$maxVersionsPerTrigger must be positive — 0 would silently " +
    "wedge the stream after its first batch")
  // the highest version already HANDED OUT as a batch end — getOffset
  // throttles from here; re-learned from the engine's own range on
  // restart (getBatch runs before the next getOffset matters)
  @volatile private var lastBatchEnd: Long = -1L

  override val schema: StructType =
    SnapshotChangeSource.cdfSchema(spark, parameters)

  /** The latest available offset is simply the current version — the
    * ENGINE compares it against its checkpointed committed offset, so
    * this must NOT be gated on `startV`: even with the start-at-current
    * default now persisted once per stream (resolveDefaultStart), a
    * gate like `cur > startV` would silently withhold commits made
    * while the stream was down until some later unrelated commit
    * arrived. Start-position semantics live entirely in [[getBatch]]'s
    * from-floor instead. */
  override def getOffset: Option[V1Offset] = {
    val cur = SnapshotTable.currentVersion(spark, root)
    if (cur <= 0) None
    else if (maxVersionsPerTrigger == Long.MaxValue || lastBatchEnd < 0L)
      // unthrottled, OR no batch seen yet THIS RUN: a V1 getOffset
      // cannot see the engine's committed cursor, and throttling from
      // any guess below it would hand out an offset BEHIND the
      // checkpoint — regressing the log and re-delivering versions.
      // So the first batch after a (re)start is unthrottled (the
      // Kafka-V1 precedent); an in-flight batch recovered from the
      // offset log replays through getBatch first and re-seeds the
      // throttle base, and every subsequent batch is bounded.
      Some(LongOffset(cur))
    else {
      // overflow-safe: a huge limit saturates to cur instead of
      // wrapping negative (which would hand out an offset behind the
      // committed cursor and regress the log)
      val headroom = cur - lastBatchEnd
      Some(LongOffset(
        if (headroom > maxVersionsPerTrigger)
          lastBatchEnd + maxVersionsPerTrigger
        else cur))
    }
  }

  private def offsetV(o: V1Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong // SerializedOffset on restart
  }

  /** One commit's CDF rows, version-stamped. The first commit has no
    * predecessor snapshot — its feed is the snapshot itself as
    * inserts (the same shape a from-empty diff would produce). */
  private def cdfOfCommit(v: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val d =
      if (v == 1L) {
        val t = SnapshotTable.read(spark, root, 1L)
        val payload = t.columns.filterNot(keys.contains).toSeq
        t.select(keys.map(col) ++ Seq(lit("insert").as("change_type")) ++
          payload.map(col): _*)
      } else SnapshotTable.changes(spark, root, v - 1L, v, keys, preimages)
    d.withColumn("_commit_version", lit(v))
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : org.apache.spark.sql.DataFrame = {
    // a fresh stream (start = None) begins after startV; an engine
    // cursor WINS over the re-evaluated default (see startV note) and
    // is floored only by an EXPLICIT startingVersion, so a recovered
    // offset can never resurrect pre-start history nor stall behind a
    // restart-time current version
    val fromV = start.map(offsetV) match {
      case Some(cursor) => math.max(cursor, explicitStartV.getOrElse(0L))
      case None => startV
    }
    val toV = offsetV(end)
    lastBatchEnd = math.max(lastBatchEnd, toV)
    val range = (fromV + 1L) to toV
    import org.apache.spark.sql.functions.col
    val ordered = schema.fieldNames.map(col).toIndexedSeq
    val batch =
      if (range.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else range.map(cdfOfCommit).reduce(_ unionByName _)
        .select(ordered: _*)
    // the engine asserts getBatch hands back a STREAMING-flagged plan
    org.apache.spark.sql.GraftBridge.asStreaming(batch)
  }

  override def commit(end: V1Offset): Unit = ()
  override def stop(): Unit = ()
}

private[catalog] class SnapshotRelation(val sqlContext: SQLContext,
    root: String, version: Long)
    extends BaseRelation with PrunedFilteredScan {

  private val spark = sqlContext.sparkSession
  private val m = SnapshotTable.manifestAt(spark, root, version)

  override val schema: StructType = StructType.fromDDL(m.schemaDdl)

  // rows are handed back as InternalRow from the delegated parquet
  // scan — no Row conversion layer, codegen preserved
  override def needConversion: Boolean = false

  // every filter is re-applied by Spark above this scan; translation
  // below is only ever used to SKIP provably-empty entries/files
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  /** The conjunctive, literal-comparison fragment of `filters` as
    * pruning preds — exactly the shape [[SnapshotTable.Pred]] decides
    * from interval bounds. IN translates to the disjunctive pred
    * (excluded only when every member is); a null-safe equality with a
    * non-null literal prunes like `=` (its null rows fail either way);
    * StartsWith decomposes into the half-open prefix RANGE
    * `[p, incr(p))` — for ASCII prefixes where the upper bound is
    * expressible (last char < 0x7f), since bound comparison is only
    * sound in ASCII anyway (see pruneEntries). Anything else
    * contributes nothing (sound: pruning keeps the entry). */
  private def toPreds(filters: Array[Filter]): Seq[SnapshotTable.Pred] =
    filters.toSeq.flatMap {
      case And(l, r) => toPreds(Array(l, r))
      case EqualTo(a, v) if lit(v) => Seq(SnapshotTable.Pred(a, "=", v))
      case EqualNullSafe(a, v) if lit(v) =>
        Seq(SnapshotTable.Pred(a, "=", v))
      case GreaterThan(a, v) if lit(v) => Seq(SnapshotTable.Pred(a, ">", v))
      case GreaterThanOrEqual(a, v) if lit(v) =>
        Seq(SnapshotTable.Pred(a, ">=", v))
      case LessThan(a, v) if lit(v) => Seq(SnapshotTable.Pred(a, "<", v))
      case LessThanOrEqual(a, v) if lit(v) =>
        Seq(SnapshotTable.Pred(a, "<=", v))
      case In(a, vs) if vs.nonEmpty && vs.forall(lit) =>
        Seq(SnapshotTable.Pred(a, "in", vs.toSeq))
      case StringStartsWith(a, p)
          if p.nonEmpty && p.forall(c => c < 0x7f) =>
        val upper = p.init + (p.last + 1).toChar
        Seq(SnapshotTable.Pred(a, ">=", p),
            SnapshotTable.Pred(a, "<", upper))
      case _ => Nil
    }

  private def lit(v: Any): Boolean = v match {
    case null => false
    case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
         _: java.math.BigDecimal | _: scala.math.BigDecimal | _: String =>
      true
    case _ => false
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val preds = toPreds(filters)
    val sel = SnapshotTable.pruneFiles(m, preds)
    SnapshotSource.lastPlanned.set((sel.length.toLong,
      if (sel.forall(_._2.isDefined)) sel.flatMap(_._2.map(_.length.toLong)).sum
      else -1L))
    val base = SnapshotTable.readPruned(spark, root, m, sel, preds)
    import org.apache.spark.sql.functions.col
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.map(col).toIndexedSeq: _*)
    // needConversion = false: hand back the InternalRow RDD
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
