package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** MULTI-TABLE atomic commits — the cross-table story
  * [[SnapshotTable]] deliberately scopes out: a pipeline that
  * materializes several artifacts that must stay mutually consistent
  * (a corpus beside its LSH index, a fact table beside its rollup MV)
  * commits them as ONE version under a shared root, so a reader that
  * pins a version sees every table AS OF the same commit — no window
  * where the corpus is new and the index old.
  *
  * Layout under the group root:
  * {{{
  *   data-<uuid>/<table>/ ...    one dir per commit, one subdir per table
  *   _commits/v00000001.json     ONE manifest per version — the single
  *                               arbiter spanning every table
  *   _latest                     pointer cache (same advisory role)
  * }}}
  *
  * The protocol is [[SnapshotTable]]'s with one arbiter for N tables:
  * every table's data writes completely into the commit's uniquely
  * named dir, then the ONE manifest — recording each table's subdir
  * and schema — is exclusively created. Either every table advances or
  * none does; a crash mid-write leaves an orphan dir no reader sees,
  * and the loser of a commit race removes only its own dir. The group
  * runs on [[SnapshotTable]]'s version log ([[SnapshotTable.VersionLog]])
  * with its own manifest parse projected onto the log's record: version
  * discovery (pointer hint, roll forward, listing fallback — the commit
  * path stays O(1) manifest reads), the base check, the committed-
  * version walk and the effective clock of as-of resolution are the
  * table's, without a checkpoint.
  *
  * Scope (the design decision, recorded): group commits are FULL
  * snapshots per table — the partition-scoped
  * [[SnapshotTable.commitReplace]] path stays single-table, because
  * cross-table reference lists would couple every table's layout to
  * the group manifest format. A pipeline needing both properties
  * commits its big table through [[SnapshotTable]] and publishes the
  * (table version, artifact) PAIR through a small group — the same
  * layering Delta users apply with a manifest table.
  *
  * STATS ASYMMETRY, recorded for the same reason: group tables commit
  * WITHOUT per-entry min/max skipping stats, so [[read]] never prunes
  * — deliberate, not an omission. A group table is by the scope
  * decision above a SMALL artifact (a version pointer, a rollup, an
  * index summary): a skipping pass over it saves nothing, and stats
  * would require per-table partition layouts the group manifest
  * format deliberately excludes. A table big enough to want
  * [[SnapshotTable.readWhere]]'s pruning belongs on the other side of
  * the version-pair layering (gated by `snk20_layered_pair`), where it
  * gets entry- and file-grain stats through the partitioned commit
  * path.
  */
object SnapshotGroup {

  /** Per-version decoded manifest: table name → (subdir entry, schema
    * DDL). */
  private[graft] case class GroupManifest(version: Long, base: Long,
      tables: Map[String, (String, String)], tag: Option[String],
      ts: Option[Long] = None)

  private val TableRe =
    """"([A-Za-z0-9_\-]+)":\{"dir":"([^"]*)","schema":"([^"]*)"\}""".r
  private val BaseRe = """"base":(-?\d+)""".r
  private val TagRe = """"tag":"([^"]*)"""".r
  private val TsRe = """"ts":(-?\d+)""".r
  private val TablesEnd = "}}" // a complete body closes tables + object

  /** Parse a group manifest; None = not (yet) committed (the
    * create→write visibility window, same reader rule as
    * [[SnapshotTable]]). A body is complete only when its closing
    * braces landed. */
  private def parse(v: Long, body: String): Option[GroupManifest] = {
    val tables = TableRe.findAllMatchIn(body).map { m =>
      m.group(1) -> (m.group(2), new String(
        java.util.Base64.getDecoder.decode(m.group(3)), "UTF-8"))
    }.toMap
    for {
      base <- BaseRe.findFirstMatchIn(body).map(_.group(1).toLong)
      if tables.nonEmpty && body.endsWith(TablesEnd)
    } yield GroupManifest(v, base, tables,
      TagRe.findFirstMatchIn(body).map(_.group(1)),
      TsRe.findFirstMatchIn(body).map(_.group(1).toLong))
  }

  /** The group's version log: a group manifest projects onto the
    * table log's record (its entries are its tables). */
  private[catalog] val log = new SnapshotTable.VersionLog("snapshot group",
    "group", checkpointed = false, (v, body) => parse(v, body).map(m =>
      SnapshotTable.CkptRec(m.version, m.base, m.ts, m.tag,
        m.tables.size.toLong, None)))

  private def manifestIfCommitted(fs: org.apache.hadoop.fs.FileSystem,
      root: String, v: Long): Option[GroupManifest] =
    if (!fs.exists(SnapshotTable.manifest(root, v))) None
    else parse(v, SnapshotTable.readManifestBody(fs, root, v))

  private def manifestOf(fs: org.apache.hadoop.fs.FileSystem,
      root: String, v: Long): GroupManifest =
    manifestIfCommitted(fs, root, v).getOrElse(sys.error(
      s"snapshot group: version $v of $root has no parseable manifest"))

  /** Committed versions ascending — audit surface, O(versions) body
    * reads (no checkpoint). */
  def committedVersions(spark: SparkSession, root: String): Seq[Long] =
    log.versions(SnapshotTable.fsOf(spark, root), root)

  /** Latest committed version, 0 = empty — O(1) body reads on the
    * steady state ([[SnapshotTable.currentVersion]]). */
  def currentVersion(spark: SparkSession, root: String): Long =
    log.current(SnapshotTable.fsOf(spark, root), root)

  /** Commit every table in `tables` as ONE new version, requiring the
    * group to still be at `expectedBase`. All-or-nothing: data for all
    * tables lands in this commit's own dir before the single manifest
    * is exclusively created; the loser of a race (pre-check or
    * manifest create) fails loudly and removes only its own dir.
    * Tables absent from a later commit simply don't exist in that
    * version (each version's table SET is explicit in its manifest) —
    * carry a table forward by including it. */
  def commit(tables: Map[String, DataFrame], root: String,
             expectedBase: Long, tag: Option[String] = None,
             commitTs: Long = -1L): Long = {
    require(tables.nonEmpty, "snapshot group commit: no tables")
    tables.keys.foreach(t => require(
      t.nonEmpty && t.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"snapshot group commit: table name '$t' must be [A-Za-z0-9_-]+"))
    SnapshotTable.checkTag(tag)
    val spark = tables.head._2.sparkSession
    val fs = SnapshotTable.fsOf(spark, root)
    val cur = log.checkBase(fs, root, expectedBase)
    val next = cur + 1
    val dirName = s"data-${java.util.UUID.randomUUID()}"
    val dataDir = new Path(s"$root/$dirName")
    val entries = tables.toSeq.sortBy(_._1).map { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$root/$dirName/$name")
      val schemaB64 = java.util.Base64.getEncoder.encodeToString(
        SnapshotTable.nullableSchema(df.schema).toDDL.getBytes("UTF-8"))
      s""""$name":{"dir":"$dirName/$name","schema":"$schemaB64"}"""
    }
    val tagField = tag.map(t => s""","tag":"$t"""").getOrElse("")
    val ts = if (commitTs >= 0L) commitTs else System.currentTimeMillis()
    val body = (s"""{"version":$next,"base":$cur,"ts":$ts$tagField,""" +
      s""""tables":{${entries.mkString(",")}}}""").getBytes("UTF-8")
    SnapshotTable.createManifestExclusive(fs, root, next, body, Some(dataDir))
    next
  }

  /** Read one table AS OF a group version — every table read at the
    * same version is mutually consistent by construction. */
  def read(spark: SparkSession, root: String, table: String,
           version: Long): DataFrame = {
    val fs = SnapshotTable.fsOf(spark, root)
    val m = manifestIfCommitted(fs, root, version).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot group read: version $version of $root was never " +
        s"committed (committed: ${committedVersions(spark, root)
          .mkString(",")})"))
    val (dir, ddl) = m.tables.getOrElse(table, sys.error(
      s"snapshot group read: version $version has no table '$table' " +
      s"(tables: ${m.tables.keys.toSeq.sorted.mkString(",")})"))
    val schema = StructType.fromDDL(ddl)
    spark.read.schema(schema).parquet(s"$root/$dir")
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
  }

  /** CHANGE FEED for one table of the group between two committed
    * group versions — the [[SnapshotTable.changes]] Delta-CDF shape
    * derived AT A PINNED VERSION PAIR: because both versions are
    * atomic group commits, the per-table feeds taken at the SAME
    * (fromV, toV) are mutually consistent by construction — a
    * consumer maintaining a corpus AND its index from their feeds can
    * never observe a corpus delta without its matching index delta
    * (the window [[commit]] exists to close). Keys must be unique per
    * version per table (the upsert contract); `preimages` emits the
    * update_preimage/update_postimage pair for retraction-based
    * maintenance. Gated by `snk14_group_feed`, which composes two
    * tables' feeds at one pair against an arithmetic oracle. */
  def changes(spark: SparkSession, root: String, table: String,
              fromV: Long, toV: Long, keys: Seq[String],
              preimages: Boolean = false): DataFrame = {
    require(fromV < toV, s"group changes: fromV $fromV must precede $toV")
    SnapshotTable.diffFrames(read(spark, root, table, fromV),
      read(spark, root, table, toV), keys, preimages)
  }

  /** Read a table at the latest committed group version. */
  def readLatest(spark: SparkSession, root: String, table: String)
      : DataFrame = {
    val v = currentVersion(spark, root)
    require(v > 0, s"snapshot group read: $root has no committed version")
    read(spark, root, table, v)
  }

  /** TIMESTAMP TIME TRAVEL for groups — the group version current as
    * of `ts`, with [[SnapshotTable.versionAsOf]]'s Delta-style
    * monotonic adjustment (a skewed clock never makes a later version
    * resolve earlier); because a group version is atomic across its
    * tables, every table read at the resolved version is mutually
    * consistent AS OF that instant. O(versions) body reads ascending
    * — audit-priced. Fails loudly before the first commit's timestamp
    * and on ts-less pre-timestamp history. */
  def versionAsOf(spark: SparkSession, root: String, ts: Long): Long =
    log.asOf(SnapshotTable.fsOf(spark, root), root, ts)

  /** Read one table of the group as of wall-clock `ts`
    * ([[versionAsOf]] resolution). */
  def readAsOf(spark: SparkSession, root: String, table: String,
               ts: Long): DataFrame =
    read(spark, root, table, versionAsOf(spark, root, ts))

  /** Drop group versions older than `keepLast`, then reclaim data dirs
    * no surviving manifest references (each group commit owns exactly
    * one dir, so reclamation is dir-granular). Writer safety is
    * enforced the same way as [[SnapshotTable.vacuum]]: an
    * unreferenced dir younger than `minAgeMs` is a live writer's
    * not-yet-committed data, not garbage, and is skipped. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 2,
             minAgeMs: Long = SnapshotTable.defaultVacuumHorizonMs)
      : Seq[Long] = {
    require(keepLast >= 1, "vacuum must keep at least the live snapshot")
    val fs = SnapshotTable.fsOf(spark, root)
    val aged = SnapshotTable.oldEnough(fs, minAgeMs)
    val versions = committedVersions(spark, root)
    val drop = versions.dropRight(keepLast)
    drop.foreach(v => fs.delete(SnapshotTable.manifest(root, v), false))
    val referenced = versions.drop(drop.length)
      .flatMap(v => manifestOf(fs, root, v).tables.values
        .map(_._1.takeWhile(_ != '/'))).toSet
    fs.listStatus(new Path(root)).toSeq.map(_.getPath).foreach { p =>
      if (p.getName.startsWith("data-") && !referenced.contains(p.getName) &&
          aged(p))
        fs.delete(p, true)
    }
    drop
  }
}
