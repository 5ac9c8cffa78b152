package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Snapshot-versioned table commits — the manifest-based protocol that
  * generalizes [[graft.stream.Streams]]' stage→swap and
  * [[PartitionMerge]]'s rename discipline into SNAPSHOT ISOLATION with
  * TIME TRAVEL and loud OPTIMISTIC-CONCURRENCY conflicts, retiring the
  * "a Delta/Iceberg sink is needed for real multi-writer commits"
  * caveat for the single-table case.
  *
  * Layout under the table root:
  * {{{
  *   data-<uuid>/ ...            immutable data dirs (parquet),
  *                               UNIQUELY named per commit attempt
  *   _commits/v00000001.json     manifest — EXISTENCE = committed;
  *                               body records the ENTRY LIST of vN
  *   _latest                     pointer cache (advisory, see below)
  * }}}
  *
  * COMMIT BY REFERENCE: a manifest names a LIST of entries — whole
  * data dirs for unpartitioned snapshots, or `dir/pcol=value` partition
  * subdirectories for partitioned ones — so version N may reference
  * files written by MANY earlier commits. [[commitReplace]] writes only
  * the partitions a batch touches and re-references every untouched
  * entry from the parent version verbatim (Delta/Iceberg's file-list
  * commit, at partition granularity): a 100 TB table pays a commit
  * proportional to the data it CHANGES, never a wholesale rewrite.
  * [[vacuum]] is correspondingly reference-counted — an entry is
  * reclaimable only when NO surviving manifest references it.
  *
  * The COMMIT ARBITER is the manifest file, exclusively created —
  * atomic on HDFS (`create(overwrite=false)`) and on local disks (NIO
  * O_EXCL for the file:// scheme; Hadoop's local create is
  * check-then-act, caught by the race spec). Plain S3A has no atomic
  * create — a deployment there needs S3 conditional PUTs or an
  * external lock, the caveat every manifest-based format documents —
  * and the create is a pluggable seam ([[SnapshotTable.CommitArbiter]]
  * via [[SnapshotTable.installArbiter]]) so exactly that deployment
  * supplies If-None-Match PUT semantics without forking the protocol.
  * Readers treat a manifest as committed only once its BODY parses, so
  * the create→write visibility window reads as "not committed yet".
  * Everything else is ordered around the arbiter:
  *  1. data writes COMPLETELY into a fresh uniquely-named dir — no two
  *     writers ever touch the same path, so there is NO shared rename
  *     target (an earlier design renamed staging onto a shared `vN/`;
  *     an 8-thread race test caught both of that design's holes —
  *     Hadoop's local rename NESTS into an existing destination dir
  *     instead of failing, and the rename→manifest window let a
  *     concurrent committer reclaim a LIVE writer's data);
  *  2. the manifest — carrying the entry list in its body — is
  *     exclusively created: the second committer of the same base loses
  *     this race, FAILS LOUDLY with the conflict error, and deletes only
  *     its OWN data dir. A crash before the manifest leaves an orphan
  *     data dir no reader can see ([[vacuum]] reclaims it);
  *  3. the `_latest` pointer is refreshed LAST and is only a cache:
  *     readers that find it missing or stale fall back to listing
  *     `_commits/`, which is authoritative, so a crash between 2 and 3
  *     loses nothing.
  *
  * VERSION DISCOVERY IS O(1) ON THE HOT PATHS: [[currentVersion]] (and
  * through it [[commit]]'s conflict pre-check) verifies the `_latest`
  * hint with ONE manifest body read and rolls FORWARD over any
  * newer-than-hint manifests (a crash between manifest and pointer
  * leaves the hint at most a step stale), falling back to a filename
  * listing — names only, bodies read lazily descending — when the hint
  * is missing or unparsable. [[latestTag]] likewise reads bodies
  * descending from the filename listing and stops at the first tagged
  * one. Only the maintenance/audit surfaces ([[committedVersions]],
  * [[committedTags]], [[vacuum]]) pay O(versions) body reads, and
  * vacuum bounds that. [[manifestBodyReads]] counts body reads so the
  * O(1) claims are SPEC-ASSERTED over a 100-version table, not
  * documented.
  *
  * Readers never lock: `read(version)` resolves the version's manifest
  * and scans its immutable entries — a concurrent commit cannot change
  * bytes under a running query (the Delta/Iceberg property the
  * rename-swap protocol lacked). Old versions stay readable until
  * [[vacuum]] drops them. Reference grounding: the geodatabase's
  * transactional update cursors (`pyt:318-324`, `pyt:879-885`) assume
  * exactly this commit-or-nothing property, and its per-layer
  * write-back loop (`pyt:879-885`) is the partition-scoped rewrite
  * [[commitReplace]] makes transactional.
  */
object SnapshotTable {

  /** Instrumentation: manifest BODIES read since process start. The
    * O(1)-commit-path spec snapshots this around a commit against a
    * long history; production code never reads it. */
  private[graft] val manifestBodyReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Instrumentation: successful disjoint-partition REBASES performed
    * by [[commitReplace]] since process start — each one is a conflict
    * that would have failed the whole-table CAS but landed after the
    * independence proof. `ConcBench`/specs snapshot it; production
    * code never reads it. */
  private[graft] val rebasesPerformed =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private[catalog] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vdir(version: Long): String = f"v$version%08d"
  private[catalog] def manifest(root: String, version: Long): Path =
    new Path(s"$root/_commits/${vdir(version)}.json")

  /** One committed version's decoded manifest. `entries` are paths
    * relative to the table root: a bare `data-<uuid>` dir for an
    * unpartitioned snapshot, `data-<uuid>/<pcol>=<value>` partition
    * subdirs for a partitioned one. `schemaDdl` restores column order
    * and the partition column's ORIGINAL type on read (hive-layout dir
    * names are strings; the recorded DDL is what makes the round trip
    * type-exact instead of inference-dependent). */
  private[graft] case class Manifest(version: Long, base: Long,
      entries: Seq[String], pcol: Option[String], schemaDdl: String,
      tag: Option[String], stats: Seq[Map[String, ColStats]] = Nil,
      ts: Option[Long] = None,
      fileStats: Seq[Map[String, Map[String, ColStats]]] = Nil,
      dels: Seq[Seq[DelRef]] = Nil)

  /** One EQUALITY-DELETE reference attached to a manifest entry (the
    * Iceberg equality-delete analogue at entry grain): `path` is a
    * `del-<uuid>` dir under the table root holding the parquet of
    * deleted key tuples, `keyCols` the columns the read-side anti-join
    * matches on. A [[commitDelete]] appends one ref to every entry it
    * scopes to; the entry's DATA FILES are untouched — deleting one
    * key in a 1-TB partition rewrites nothing. Reads apply refs as
    * anti-joins; [[compact]]/[[commitReplace]] rewrites MATERIALIZE
    * them (a rewritten partition's fresh entry carries no refs).
    * Unlike the advisory stats, delete refs are SEMANTIC: a garbled
    * dels field fails the read loudly rather than resurrecting
    * deleted rows. */
  private[graft] case class DelRef(path: String, keyCols: Seq[String])

  /** Per-entry, per-column MIN/MAX recorded in the manifest — the
    * Delta/Iceberg data-skipping statistics. `tpe` is a comparison
    * class, not the full Spark type: "l" (integral, rendered as Long),
    * "d" (fractional/decimal, compared as BigDecimal — fractional
    * bounds render via `new BigDecimal(double)`, the EXACT binary
    * value, so a predicate can never sneak between the true bound and
    * a rounded rendering), "s" (string, compared lexically — pruning
    * on it additionally requires both sides ASCII, see
    * [[SnapshotTable.pruneEntries]]: UTF8 byte order and String
    * UTF-16 order agree only there). min/max are the rendered values;
    * stats omit a column wherever its partition slice is all-NULL or
    * its extreme is NaN/Infinite (no pruning there — NULL rows fail
    * every null-rejecting predicate anyway, so min/max over non-nulls
    * stays a SOUND skipping bound). */
  private[graft] case class ColStats(tpe: String, min: String, max: String)

  /** A pruning predicate for [[readWhere]]/[[pruneEntries]]: `col op
    * value` with op one of `= < <= > >= in` — the conjunctive,
    * null-rejecting fragment data-skipping can decide from interval
    * bounds (Delta's supported-predicate shape). `value` may be an
    * Int/Long/Float/Double/BigDecimal or String; for `in` it is a
    * Seq of such literals (the entry is excluded only when EVERY
    * member is provably absent). Anything a bound can't be compared
    * with simply keeps the entry (pruning is an optimization, the
    * residual filter is always applied). */
  case class Pred(col: String, op: String, value: Any) {
    require(Set("=", "<", "<=", ">", ">=", "in").contains(op),
      s"snapshot pruning: unsupported op '$op' (want = < <= > >= in)")
    require(op != "in" || value.isInstanceOf[Seq[_]],
      "snapshot pruning: 'in' takes a Seq of literals")
  }

  private val EntriesRe = """"entries":\[([^\]]*)\]""".r
  // a dels-bearing manifest stores its entry list under a DIFFERENT
  // field name: a pre-dels reader binary (rolling upgrade, mixed-
  // version cluster) parses the legacy field fine — its regexes simply
  // never match the unknown dels blob — and would scan the entries
  // WITHOUT the anti-joins, silently resurrecting deleted rows. The
  // old `"entries":` regex cannot match `"entriesv2":` (no quote
  // precedes `entries` there), so that binary fails the required-field
  // parse and treats the version as uncommitted: its reads resolve to
  // the newest pre-dels version (a consistent older snapshot) and its
  // writes conflict loudly on the existing manifest — never a read
  // that drops deletions. Same technique as the checkpoint's recsv2.
  private val EntriesV2Re = """"entriesv2":\[([^\]]*)\]""".r
  private val EntryRe = """"([^"]*)"""".r
  private val PcolRe = """"pcol":"([^"]*)"""".r
  private val SchemaRe = """"schema":"([^"]*)"""".r
  private val TagRe = """"tag":"([^"]*)"""".r
  private val BaseRe = """"base":(-?\d+)""".r
  private val TsRe = """"ts":(-?\d+)""".r
  private val StatsRe = """"stats":\[([^\]]*)\]""".r
  private val DelsRe = """"dels":\[([^\]]*)\]""".r

  /** Delete-chain codec: per entry, one base64 blob of lines
    * `b64(path) \t b64(col1,col2,…)` — same regex-parsable-JSON
    * discipline as the stats blob. Decode failures are NOT advisory
    * (see [[DelRef]]): they throw out of [[parseManifest]]'s dels
    * block, outside the stats' degrade-to-empty catch. */
  private def encodeDels(refs: Seq[DelRef]): String = {
    def b64(v: String) =
      java.util.Base64.getEncoder.encodeToString(v.getBytes("UTF-8"))
    java.util.Base64.getEncoder.encodeToString(
      refs.map(r => s"${b64(r.path)}\t${b64(r.keyCols.mkString(","))}")
        .mkString("\n").getBytes("UTF-8"))
  }

  private def decodeDels(blob: String): Seq[DelRef] = {
    def un64(v: String) =
      new String(java.util.Base64.getDecoder.decode(v), "UTF-8")
    val body = un64(blob)
    if (body.isEmpty) Nil
    else body.split('\n').toSeq.map { line =>
      line.split("\t", -1) match {
        case Array(p, kc) =>
          DelRef(un64(p), un64(kc).split(',').toSeq)
        case other => sys.error(
          s"snapshot dels: unrecognized line shape (${other.length} " +
          "fields) — a dels-aware reader is required for this manifest")
      }
    }
  }

  /** Stats blob codec: one LINE per bound — the whole per-entry blob
    * base64'd into the manifest's stats array, so the manifest stays
    * regex-parsable (no nested JSON) and arbitrary string min/max
    * round-trip exactly. Two line shapes, distinguished by FIELD COUNT:
    * {{{
    *   col \t tpe \t b64(min) \t b64(max)                 entry-level
    *   f \t b64(file) \t col \t tpe \t b64(min) \t b64(max)  per-FILE
    * }}}
    * Per-file lines are the Iceberg-grain refinement: during
    * fragmented ingest (the appendInto steady state) one partition
    * entry holds many files, and entry-level bounds coarsen to the
    * union — file lines let [[pruneFiles]] skip at the same grain
    * parquet footers do, BEFORE compaction runs. A pre-file-stats
    * reader hitting a 6-field line fails the decode and degrades to
    * no-stats via parseManifest's advisory catch — never a wrong
    * prune. */
  private def encodeStats(s: Map[String, ColStats],
      files: Map[String, Map[String, ColStats]]): String = {
    def b64(v: String) =
      java.util.Base64.getEncoder.encodeToString(v.getBytes("UTF-8"))
    def checkName(c: String): Unit =
      require(!c.contains('\t') && !c.contains('\n'),
        s"snapshot stats: column name '$c' carries codec-breaking chars")
    val entryLines = s.toSeq.sortBy(_._1).map { case (c, cs) =>
      checkName(c)
      s"$c\t${cs.tpe}\t${b64(cs.min)}\t${b64(cs.max)}"
    }
    val fileLines = files.toSeq.sortBy(_._1).flatMap { case (fn, cols) =>
      if (cols.isEmpty)
        // PRESENCE marker: a file with no recordable bound (NaN
        // extremes / all-NULL slices) must still appear in the decoded
        // file list — pruneFiles treats that list as COMPLETE, so a
        // vanished file's rows would be silently skipped (unsound)
        Seq(s"f\t${b64(fn)}")
      else cols.toSeq.sortBy(_._1).map { case (c, cs) =>
        checkName(c)
        s"f\t${b64(fn)}\t$c\t${cs.tpe}\t${b64(cs.min)}\t${b64(cs.max)}"
      }
    }
    java.util.Base64.getEncoder.encodeToString(
      (entryLines ++ fileLines).mkString("\n").getBytes("UTF-8"))
  }

  /** Inverse of [[encodeStats]]: (entry-level bounds, per-file
    * bounds). `split("\t", -1)` (limit -1) is load-bearing: an
    * empty-string min/max encodes to an empty b64 token, and the
    * default split would DROP trailing empty tokens and break the
    * round trip for a legal encode output. */
  private def decodeStats(blob: String)
      : (Map[String, ColStats], Map[String, Map[String, ColStats]]) = {
    def un64(v: String) =
      new String(java.util.Base64.getDecoder.decode(v), "UTF-8")
    val body = un64(blob)
    if (body.isEmpty) (Map.empty, Map.empty)
    else {
      val entry = Map.newBuilder[String, ColStats]
      val files = scala.collection.mutable.Map
        .empty[String, Map[String, ColStats]]
      body.split('\n').foreach { line =>
        line.split("\t", -1) match {
          case Array(c, t, mn, mx) =>
            entry += c -> ColStats(t, un64(mn), un64(mx))
          case Array("f", fn64) => // presence marker: bound-less file
            val fn = un64(fn64)
            if (!files.contains(fn)) files(fn) = Map.empty
          case Array("f", fn64, c, t, mn, mx) =>
            val fn = un64(fn64)
            files(fn) = files.getOrElse(fn, Map.empty) +
              (c -> ColStats(t, un64(mn), un64(mx)))
          case other => sys.error(
            s"snapshot stats: unrecognized line shape " +
            s"(${other.length} fields)") // caught: degrades to no-stats
        }
      }
      (entry.result(), files.toMap)
    }
  }

  /** Parse a manifest body; None = not (yet) a committed manifest — a
    * reader in the create→write visibility window sees a partial body
    * and must treat the version as uncommitted. COMPLETENESS is
    * checked structurally: the body must end with the closing brace.
    * That check is load-bearing for the SEMANTIC trailing fields
    * (dels): without it, a torn write whose visible prefix already
    * satisfies the required-field regexes would parse as committed
    * WITHOUT its delete chains and resurrect deleted rows. The writer
    * cooperates by emitting `tag` (the one field whose value may
    * legally contain '}') BEFORE `entries`, so every later byte up to
    * the final brace is brace-free (uuid paths, hive-escaped partition
    * values truncate a required field, base64 blobs carry no '}') — a
    * strict prefix can therefore never end in '}' AND satisfy the
    * field regexes. The schema field is required: a body without it is
    * from no writer of this protocol. */
  private def parseManifest(v: Long, body: String): Option[Manifest] =
    for {
      _ <- Option.when(body.endsWith("}"))(())
      em <- EntriesV2Re.findFirstMatchIn(body)
        .orElse(EntriesRe.findFirstMatchIn(body))
      sm <- SchemaRe.findFirstMatchIn(body)
      base <- BaseRe.findFirstMatchIn(body).map(_.group(1).toLong)
    } yield {
      val entries =
        EntryRe.findAllMatchIn(em.group(1)).map(_.group(1)).toSeq
      // Stats are ADVISORY: any decode failure (corrupt base64, torn
      // blob) or an entry/stats length mismatch degrades to "no
      // stats" — pruning just keeps everything — instead of letting
      // an exception escape parseManifest and crash every reader
      // path on a manifest whose committed content is intact.
      val decoded =
        try StatsRe.findFirstMatchIn(body)
          .map(m => EntryRe.findAllMatchIn(m.group(1))
            .map(g => decodeStats(g.group(1))).toSeq)
          .getOrElse(Nil)
        catch { case scala.util.control.NonFatal(_) => Nil }
      val aligned = decoded.isEmpty || decoded.length == entries.length
      // dels are SEMANTIC, not advisory: a dels field that fails to
      // decode or misaligns with the entry list throws loudly — a
      // reader must never scan an entry without its delete chain
      // (that would resurrect deleted rows)
      val dels = DelsRe.findFirstMatchIn(body)
        .map(m => EntryRe.findAllMatchIn(m.group(1))
          .map(g => decodeDels(g.group(1))).toSeq)
        .getOrElse(Nil)
      require(dels.isEmpty || dels.length == entries.length,
        s"snapshot manifest v$v: ${dels.length} delete chains for " +
        s"${entries.length} entries — refusing to read (deleted rows " +
        "would resurrect)")
      Manifest(
        version = v,
        base = base,
        entries = entries,
        pcol = PcolRe.findFirstMatchIn(body).map(_.group(1)),
        schemaDdl = new String(
          java.util.Base64.getDecoder.decode(sm.group(1)), "UTF-8"),
        tag = TagRe.findFirstMatchIn(body).map(_.group(1)),
        stats = if (aligned) decoded.map(_._1) else Nil,
        ts = TsRe.findFirstMatchIn(body).map(_.group(1).toLong),
        fileStats = if (aligned) decoded.map(_._2) else Nil,
        dels = dels)
    }

  private def readFileBody(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
  }

  private[catalog] def readManifestBody(fs: FileSystem, root: String, v: Long)
      : String = {
    manifestBodyReads.incrementAndGet()
    readFileBody(fs, manifest(root, v))
  }

  /** The version's manifest if its file exists AND its body parses —
    * the committed-ness test (one exists probe + at most one body
    * read). */
  private def manifestIfCommitted(fs: FileSystem, root: String, v: Long)
      : Option[Manifest] =
    if (!fs.exists(manifest(root, v))) None
    else parseManifest(v, readManifestBody(fs, root, v))

  private def manifestOf(fs: FileSystem, root: String, v: Long): Manifest =
    manifestIfCommitted(fs, root, v).getOrElse(sys.error(
      s"snapshot: version $v of $root has no parseable manifest"))

  /** A committed version's decoded manifest — the introspection
    * surface the pruning specs and the `snk13` gate count entries
    * through. */
  private[graft] def manifestAt(spark: SparkSession, root: String,
                                v: Long): Manifest =
    manifestOf(fsOf(spark, root), root, v)

  /** Candidate version numbers from the `_commits` FILENAME listing —
    * one directory listing, zero body reads. */
  private[catalog] def listedVersions(fs: FileSystem, root: String): Seq[Long] = {
    val dir = new Path(s"$root/_commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  private[catalog] def readPointer(fs: FileSystem, root: String): Option[Long] = {
    val p = new Path(s"$root/_latest")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
      } catch { case _: java.io.IOException => None }
      finally in.close()
    }
  }

  /** Committed versions, ascending — from the `_commits/` listing, the
    * authoritative record (the pointer is only a cache). A manifest
    * counts only once its BODY parses: on filesystems where create()
    * makes the file visible before the body lands, a reader hitting the
    * create→write window must see "not committed yet", not a
    * half-committed version. O(checkpoint + suffix) reads: versions a
    * checkpoint covers are committed by construction (the rollup only
    * records parsed manifests), so only the uncovered suffix pays body
    * reads — without a checkpoint this is the old O(versions) walk. */
  def committedVersions(spark: SparkSession, root: String): Seq[Long] =
    log.versions(fsOf(spark, root), root)

  /** Latest committed version; 0 = empty table (no commits yet).
    * O(1) manifest reads on the steady state: the `_latest` hint is
    * verified with one body read, then rolled FORWARD while newer
    * manifests exist (a crash between manifest create and pointer
    * refresh leaves the hint stale-low, never high — manifests are
    * never created behind the committed frontier, and vacuum only
    * deletes BELOW the keep window the pointer sits inside). Missing /
    * corrupt hint falls back to the filename listing with bodies read
    * lazily descending. */
  def currentVersion(spark: SparkSession, root: String): Long =
    log.current(fsOf(spark, root), root)

  /** Read each committed version's manifest `tag` (absent → no entry).
    * Tags are the replay-idempotence hook: a streaming sink stamps
    * each commit with its micro-batch id and skips batches whose tag
    * is already committed. O(checkpoint + suffix) reads: tags of
    * checkpoint-covered versions come from the rollup — INCLUDING
    * versions later vacuumed, which is exactly right for idempotence
    * (a batch whose commit aged out of retention is still committed;
    * re-appending it would duplicate rows the live snapshot holds).
    * Only the uncovered suffix pays body reads. */
  def committedTags(spark: SparkSession, root: String): Map[String, Long] =
    log.walk(fsOf(spark, root), root).recs()
      .flatMap(r => r.rec.tag.map(_ -> r.rec.version)).toMap

  /** The most recent committed version that carries a tag, with its
    * tag — filenames listed without body reads, then bodies read
    * DESCENDING until the first tagged one, so a streaming sink whose
    * own tagged commit is the latest pays O(1) body reads regardless
    * of stream length (a run of untagged foreign commits on top costs
    * one read each — still never the full history once one tag is
    * found). */
  def latestTag(spark: SparkSession, root: String): Option[(String, Long)] = {
    val fs = fsOf(spark, root)
    val listed = listedVersions(fs, root).reverse
    // steady state (the newest tagged commit is near the top): pay
    // body reads only for that shallow suffix, and never touch the
    // checkpoint file (whose byte size grows with history). Only once
    // the walk is deeper than one rollup interval load the checkpoint
    // LAZILY and finish the scan in its records — a long run of
    // untagged foreign commits then costs O(interval + 1 checkpoint
    // read), not O(versions) bodies.
    var ckpt: Option[Ckpt] = None
    var ckptLoaded = false
    var i = 0
    while (i < listed.length) {
      val v = listed(i)
      if (!ckptLoaded && checkpointInterval > 0 &&
          i >= checkpointInterval) {
        ckpt = latestCheckpoint(fs, root); ckptLoaded = true
      }
      if (ckpt.exists(v <= _.k))
        return ckpt.flatMap(_.recs.reverseIterator
          .flatMap(r => r.tag.map(_ -> r.version)).nextOption())
      val t = parseManifest(v, readManifestBody(fs, root, v))
        .flatMap(m => m.tag.map(_ -> v))
      if (t.isDefined) return t
      i += 1
    }
    // exhausted the listing untagged: tags may survive only in the
    // checkpoint (their versions vacuumed) — still valid idempotence
    // evidence, see [[committedTags]]
    if (!ckptLoaded) ckpt = latestCheckpoint(fs, root)
    ckpt.flatMap(_.recs.reverseIterator
      .flatMap(r => r.tag.map(_ -> r.version)).nextOption())
  }

  /** The most recent committed tag decoded against a numeric-suffix
    * namespace, with its version: `Right(id)` when the latest tag is
    * `prefix` + digits within Long range, `Left(tag)` for a foreign
    * latest tag, None when no tagged commit exists. The O(1) replay
    * fast path of the exactly-once sink ([[graft.stream.SnapshotSink]])
    * — and the single place the suffix parse is guarded: an empty or
    * over-Long suffix is a FOREIGN tag, never an exception (a writer
    * tagging `ingest-` must not wedge every later micro-batch). */
  private[graft] def latestNumericTag(spark: SparkSession, root: String,
      prefix: String): Option[(Either[String, Long], Long)] =
    latestTag(spark, root).map { case (t, v) =>
      (if (t.startsWith(prefix))
         t.stripPrefix(prefix).toLongOption.toRight(t)
       else Left(t)) -> v
    }

  // ----------------------------------------------------------------
  // metadata checkpointing: O(suffix) audit scans on long histories
  // ----------------------------------------------------------------

  /** One version's metadata as rolled into a checkpoint — everything
    * the audit surfaces ([[versionAsOf]], [[history]],
    * [[committedTags]], [[latestTag]]) need, WITHOUT the entry list:
    * entry-list consumers ([[read]], vacuum's refcount) read the
    * version's own manifest, which exists for every non-vacuumed
    * version. `ts` is the RAW recorded timestamp; the monotonic
    * adjustment stays a read-time fold so it composes identically
    * across the checkpoint/suffix seam. It is also the record the
    * [[VersionLog]] walk yields for a manifest body, of either format. */
  private[graft] case class CkptRec(version: Long, base: Long,
      ts: Option[Long], tag: Option[String], nEntries: Long,
      pcol: Option[String])

  /** Instrumentation: checkpoint FILES read since process start —
    * separate from [[manifestBodyReads]] so the O(suffix) specs bound
    * both sides of the seam honestly. */
  private[graft] val checkpointReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Roll up a metadata checkpoint every N commits (0/negative
    * disables). Micro-batch ingest creates one version per batch;
    * without a rollup, every as-of resolution / history / full tag
    * scan walks O(versions) manifest bodies between vacuums — 1,440
    * manifests per day at one-minute cadence. Delta checkpoints its
    * log every 10 commits for exactly this reason. Spec-tunable. */
  @volatile private[graft] var checkpointInterval: Int = 10

  /** Bound on per-version records a checkpoint retains. Beyond it,
    * the oldest VACUUMED records fold into the scalar summary (the
    * effective-clock base readers need from them); their tags age out
    * of the idempotence record — a replay older than the cap then
    * refuses loudly through the sink's ancient-replay guard instead
    * of silently duplicating. Keeps the checkpoint file — and the
    * O(file) rollup a commit pays every interval — BOUNDED instead of
    * growing one record per commit forever. Spec-tunable. */
  @volatile private[graft] var checkpointRecordCap: Int = 4096

  /** A decoded checkpoint: records for versions in (summV, k], plus
    * the summary of the folded prefix 1..summV — `summEff` is the
    * effective timestamp AT version summV (the fold base), `summN`
    * the folded record count (audit breadcrumb). summV = 0 means
    * nothing folded. */
  private[graft] case class Ckpt(k: Long, summV: Long,
      summEff: Option[Long], summN: Long, recs: Seq[CkptRec])

  private def ckptPath(root: String, k: Long): Path =
    new Path(s"$root/_commits/_ckpt-${vdir(k)}.json")

  private val CkptRecsRe = """"recs":"([^"]*)"""".r
  // a FOLDED checkpoint stores its records under a different field
  // name: a pre-cap reader binary (rolling upgrade) must FAIL to
  // decode it and fall back to an older checkpoint or bodies, because
  // it would otherwise read the suffix records without the summary
  // fold base and resolve as-of timestamps wrongly. The old regex
  // cannot match `"recsv2":"` (it requires `"recs":"` verbatim).
  private val CkptRecsV2Re = """"recsv2":"([^"]*)"""".r
  private val SummVRe = """"summv":(-?\d+)""".r
  private val SummERe = """"summe":(-?\d+)""".r
  private val SummNRe = """"summn":(-?\d+)""".r

  /** Checkpoint codec: the record list as TSV lines (one per version,
    * ascending), the whole blob base64'd — the same
    * regex-parsable-JSON discipline as the manifest stats blob. A
    * `-1` ts and empty-b64 tag/pcol encode absence ([[checkTag]]
    * refuses empty tags, so the sentinel is unambiguous). */
  private def encodeCkpt(c: Ckpt): Array[Byte] = {
    def b64(v: String) =
      java.util.Base64.getEncoder.encodeToString(v.getBytes("UTF-8"))
    val blob = c.recs.map { r =>
      s"${r.version}\t${r.base}\t${r.ts.getOrElse(-1L)}\t" +
        s"${b64(r.tag.getOrElse(""))}\t${r.nEntries}\t" +
        b64(r.pcol.getOrElse(""))
    }.mkString("\n")
    val recsField = if (c.summV > 0L) "recsv2" else "recs"
    (s"""{"ckpt":${c.k},"summv":${c.summV}""" +
      c.summEff.map(e => s""","summe":$e""").getOrElse("") +
      s""","summn":${c.summN},"$recsField":"${java.util.Base64.getEncoder
        .encodeToString(blob.getBytes("UTF-8"))}"}""").getBytes("UTF-8")
  }

  /** Inverse of [[encodeCkpt]]; None = torn/garbled (the caller falls
    * back to an older checkpoint or to manifest bodies — a checkpoint
    * is an optimization, never the only copy of live metadata).
    * Summary fields default to "nothing folded" so first-format
    * checkpoints decode unchanged. */
  private def decodeCkpt(k: Long, body: String): Option[Ckpt] =
    CkptRecsV2Re.findFirstMatchIn(body)
      .orElse(CkptRecsRe.findFirstMatchIn(body)).flatMap { m =>
      try {
        def un64(v: String) =
          new String(java.util.Base64.getDecoder.decode(v), "UTF-8")
        val blob = un64(m.group(1))
        val recs = if (blob.isEmpty) Seq.empty[CkptRec]
        else blob.split('\n').toSeq.map { line =>
          line.split("\t", -1) match {
            case Array(v, b, t, tag, n, pc) =>
              CkptRec(v.toLong, b.toLong,
                Some(t.toLong).filter(_ >= 0L),
                Some(un64(tag)).filter(_.nonEmpty), n.toLong,
                Some(un64(pc)).filter(_.nonEmpty))
            case other => sys.error(
              s"checkpoint: unrecognized record shape " +
              s"(${other.length} fields)") // caught below
          }
        }
        Some(Ckpt(k,
          SummVRe.findFirstMatchIn(body).map(_.group(1).toLong)
            .getOrElse(0L),
          SummERe.findFirstMatchIn(body).map(_.group(1).toLong),
          SummNRe.findFirstMatchIn(body).map(_.group(1).toLong)
            .getOrElse(0L),
          recs))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** The newest parseable checkpoint under `_commits`: (covered-through
    * version K, records for versions 1..K ascending — complete for
    * every version that was committed when it was written, INCLUDING
    * versions later vacuumed). One listing + one file read on the
    * happy path; a torn or concurrently-deleted checkpoint falls back
    * to the next older one, then to None. */
  private def listedCheckpoints(fs: FileSystem, root: String): Seq[Long] = {
    val dir = new Path(s"$root/_commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("_ckpt-v") && n.endsWith(".json") =>
        n.stripPrefix("_ckpt-v").stripSuffix(".json").toLong }
      .sorted
  }

  private[graft] def latestCheckpoint(fs: FileSystem, root: String)
      : Option[Ckpt] =
    listedCheckpoints(fs, root).reverseIterator // already ascending
      .flatMap { k =>
        try {
          checkpointReads.incrementAndGet()
          decodeCkpt(k, readFileBody(fs, ckptPath(root, k)))
        } catch { case scala.util.control.NonFatal(_) => None }
      }.nextOption()

  // ----------------------------------------------------------------
  // the version log: one record walk and one effective clock, read
  // through the table's or the group's manifest format
  // ----------------------------------------------------------------

  /** One version-log record with the effective commit clock after it.
    * `live` = the version's manifest is still listed (a readable
    * version, not one known only from the checkpoint); `body` = the
    * manifest body the walk read (None: the record came from the
    * checkpoint). */
  private[catalog] case class LogRec(rec: CkptRec, live: Boolean,
      clock: Option[Long], body: Option[String]) {
    /** The version's effective commit timestamp; None = it records no
      * timestamp (and leaves the clock where it was). */
    def eff: Option[Long] = rec.ts.flatMap(_ => clock)
  }

  /** The `_commits/` version log as one manifest format reads it. The
    * table's and the group's logs share version discovery, the record
    * walk and the effective clock; only `rec`, the projection of a
    * manifest body onto its [[CkptRec]], differs (None = not committed
    * yet: the create→write window). `checkpointed` logs read their
    * metadata checkpoint first; groups roll none, by their recorded
    * small-artifact scope. `what` and `noun` name the log in errors. */
  private[catalog] final class VersionLog(what: String, val noun: String,
      checkpointed: Boolean, rec: (Long, String) => Option[CkptRec]) {

    /** v's manifest exists and its body parses — one exists probe and
      * at most one body read. */
    def committed(fs: FileSystem, root: String, v: Long): Boolean =
      fs.exists(manifest(root, v)) &&
        rec(v, readManifestBody(fs, root, v)).isDefined

    /** [[SnapshotTable.currentVersion]]: pointer hint, roll forward,
      * listing fallback. */
    def current(fs: FileSystem, root: String): Long =
      readPointer(fs, root).filter(h => h > 0 && committed(fs, root, h))
        match {
        case Some(h) =>
          var v = h
          while (committed(fs, root, v + 1)) v += 1
          v
        case None =>
          listedVersions(fs, root).reverseIterator
            .find(committed(fs, root, _)).getOrElse(0L)
      }

    /** The optimistic-concurrency pre-check every commit shape runs. */
    def checkBase(fs: FileSystem, root: String, expectedBase: Long): Long = {
      val cur = current(fs, root)
      if (cur != expectedBase)
        throw new java.util.ConcurrentModificationException(
          s"$what commit conflict at $root: expected base version " +
          s"$expectedBase but the $noun is at $cur — rebase on the " +
          "current snapshot and retry")
      cur
    }

    /** THE record walk, from one checkpoint read and one listing (in
      * that order: vacuum checkpoints before it drops manifests). */
    final class Walk(fs: FileSystem, root: String) {
      val ckpt: Option[Ckpt] =
        if (checkpointed) latestCheckpoint(fs, root) else None
      val listed: Seq[Long] = listedVersions(fs, root)
      val live: Set[Long] = listed.toSet

      /** Records ascending: the checkpoint's (vacuumed versions
        * included), then the listed suffix it does not cover up to
        * `through`, each body read only when the caller pulls it. The
        * clock starts at the checkpoint's fold base (`summEff`) and
        * steps Delta-style, effective(v) = max(recorded(v),
        * effective(v-1) + 1), so later versions always resolve later
        * and the fold composes identically across the checkpoint/suffix
        * seam. */
      def recs(through: Long = Long.MaxValue): Iterator[LogRec] = {
        val k = ckpt.fold(0L)(_.k)
        var clock = ckpt.flatMap(_.summEff)
        (ckpt.iterator.flatMap(_.recs).map(_ -> Option.empty[String]) ++
          listed.iterator.filter(v => v > k && v <= through).flatMap { v =>
            val body = readManifestBody(fs, root, v)
            rec(v, body).map(_ -> Some(body))
          })
          .map { case (r, body) =>
            r.ts.foreach(raw =>
              clock = Some(clock.fold(raw)(e => math.max(raw, e + 1))))
            LogRec(r, live(r.version), clock, body)
          }
      }
    }

    def walk(fs: FileSystem, root: String): Walk = new Walk(fs, root)

    def versions(fs: FileSystem, root: String): Seq[Long] =
      walk(fs, root).recs().filter(_.live).map(_.rec.version).toSeq

    /** The live versions ascending, each with the body the walk read
      * (None: the checkpoint covers it) — what a vacuum refcounts, so
      * no surviving body is read twice. */
    def liveBodies(fs: FileSystem, root: String): Seq[(Long, Option[String])] =
      walk(fs, root).recs().filter(_.live).map(r => r.rec.version -> r.body).toSeq

    /** [[SnapshotTable.versionAsOf]]: the latest live version whose
      * effective timestamp is ≤ ts. */
    def asOf(fs: FileSystem, root: String, ts: Long): Long = {
      val w = walk(fs, root)
      val it = w.recs()
      var clock = w.ckpt.flatMap(_.summEff)
      var best = 0L
      // once the clock has reached ts, every LATER version's effective
      // timestamp is strictly greater (the +1 step) — resolution is
      // determined, so stop before reading another body: a ts-less
      // manifest BEYOND this point (an old writer binary in a rolling
      // upgrade) must not fail queries it cannot affect
      while (!clock.exists(_ >= ts) && it.hasNext) {
        val r = it.next()
        // a ts-less LIVE version before the resolution point is the
        // pre-timestamp-history refusal; a ts-less VACUUMED checkpoint
        // record contributes neither a clock value nor a read target
        if (r.live) r.eff match {
          case None => sys.error(
            s"$what asOf: version ${r.rec.version} of $root records no " +
            s"commit timestamp and resolution of $ts needs it — that " +
            "span of history predates timestamp time travel; pin by " +
            "version number instead")
          case Some(e) => if (e <= ts) best = r.rec.version
        }
        clock = r.clock
      }
      require(best > 0,
        s"$what asOf: timestamp $ts precedes the first commit of $root " +
        "(or resolves only to versions retention already dropped)")
      best
    }
  }

  /** The table's version log: a manifest projects onto its rollup
    * record. */
  private[catalog] val log = new VersionLog("snapshot", "table",
    checkpointed = true, (v, body) => parseManifest(v, body).map(m =>
      CkptRec(m.version, m.base, m.ts, m.tag, m.entries.length.toLong,
        m.pcol)))

  /** Write (or extend) the checkpoint to cover every committed version
    * ≤ `throughV`: the prior checkpoint's records carry over verbatim,
    * the uncovered suffix's manifest bodies are rolled up, and the new
    * file is exclusively created (a twin writer producing the same
    * rollup is a benign no-op — the content is a pure function of the
    * immutable manifests). Returns false WITHOUT writing when a listed
    * version in the roll range does not parse yet (a committer's
    * create→write window): a checkpoint must never record a gap,
    * because readers treat its record set as complete for versions ≤ K
    * — the next interval retries. Never throws: metadata rollup is an
    * optimization; a commit or vacuum must not fail because it did. */
  private[graft] def writeCheckpoint(fs: FileSystem, root: String,
      throughV: Long, retried: Boolean = false): Boolean =
    try {
      val w = log.walk(fs, root)
      val prior = w.ckpt
      val k0 = prior.map(_.k).getOrElse(0L)
      if (k0 >= throughV) true
      else {
        // versions are DENSE (next = cur + 1), so (k0, throughV] must
        // be fully covered by `prior` plus the listing. A gap means a
        // concurrent vacuum checkpointed-and-dropped versions AFTER
        // `prior` was read — the vacuum's newer checkpoint holds their
        // records: RE-READ once and rebase this rollup on it, so the
        // newest checkpoint can never lose records an older one held.
        // A gap that survives the re-read is pre-checkpointing history
        // (vacuumed before any rollup recorded it): proceed without
        // those versions — the fold then starts at the first survivor,
        // exactly the semantics that span always had.
        if (!retried && ((k0 + 1) to throughV).exists(v => !w.live(v)))
          return writeCheckpoint(fs, root, throughV, retried = true)
        val all = w.recs(throughV).toIndexedSeq
        if (all.count(_.rec.version > k0) <
            w.listed.count(v => v > k0 && v <= throughV)) false
        else {
          // bound the file: fold the oldest VACUUMED records into the
          // scalar summary (their fold base is all readers need; live
          // records never fold — committedVersions counts on them).
          // The fold count is the smaller of the overflow and the
          // vacuumed prefix length; the last folded record's clock is
          // the new fold base.
          val foldN = math.min(math.max(0, all.length - checkpointRecordCap),
            all.segmentLength(!_.live))
          val (summV, summEff) = all.take(foldN).lastOption.fold(
            (prior.map(_.summV).getOrElse(0L), prior.flatMap(_.summEff)))(
            r => (r.rec.version, r.clock))
          val summN = prior.map(_.summN).getOrElse(0L) + foldN
          val recs = all.drop(foldN).map(_.rec)
          // the DEFAULT per-scheme create, NOT the installed arbiter:
          // the arbiter seam arbitrates COMMITS (who owns a version);
          // a checkpoint is an advisory rollup whose content is a pure
          // function of immutable manifests plus the covered range —
          // twins write identical bytes, and a torn file degrades
          // through decodeCkpt to the older rollup. Routing it through
          // a custom arbiter would also let commit-arbitration faults
          // (or a race spec's deliberately blocked writer) wedge
          // vacuum's metadata pass.
          locally {
            val p = ckptPath(root, throughV)
            val bytes = encodeCkpt(Ckpt(throughV, summV, summEff, summN,
              recs))
            def attempt(): Boolean =
              try { perSchemeArbiter.createExclusive(fs, p, bytes); true }
              catch {
                case _: java.nio.file.FileAlreadyExistsException |
                     _: java.io.IOException => false
              }
            def existsParseable(): Boolean =
              try decodeCkpt(throughV, readFileBody(fs, p)).isDefined
              catch { case scala.util.control.NonFatal(_) => false }
            // success ONLY if the file exists AND DECODES (a twin wrote
            // the identical rollup): a twin that crashed in the
            // create→write window leaves a torn file whose mere
            // existence must not report coverage — vacuum would then
            // drop manifests whose records exist nowhere parseable. A
            // permanently torn file is garbage (checkpoint content is a
            // pure function of the immutable manifests; no reader uses
            // an undecodable one), so clear it and re-create once; a
            // torn file that STAYS torn after that reports false and
            // the caller refuses/retries.
            attempt() || existsParseable() || {
              try fs.delete(p, false)
              catch { case _: java.io.IOException => () }
              attempt() || existsParseable()
            }
          }
        }
      }
    } catch {
      case scala.util.control.NonFatal(_) => false
    }

  /** The commit-path hook: roll up every [[checkpointInterval]]
    * commits. Only [[SnapshotTable]]'s own commit shapes call it —
    * [[SnapshotGroup]] reads the same version log without a checkpoint,
    * so its audit walks stay O(versions) by its recorded small-artifact
    * scope. */
  private def maybeCheckpoint(fs: FileSystem, root: String,
      next: Long): Unit =
    if (checkpointInterval > 0 && next % checkpointInterval == 0) {
      writeCheckpoint(fs, root, next); ()
    }

  // ----------------------------------------------------------------
  // commit machinery shared by the three commit shapes
  // ----------------------------------------------------------------

  private[catalog] def checkTag(tag: Option[String]): Unit =
    // the tag is interpolated into the manifest JSON and re-parsed by a
    // regex — a quote/backslash/control char would corrupt both, and a
    // corrupted tag silently breaks replay idempotence. Refuse loudly.
    tag.foreach(t => require(
      t.nonEmpty && t.forall(ch => ch >= ' ' && ch != '"' && ch != '\\'),
      s"snapshot commit: tag '$t' must be non-empty printable text " +
      "without quotes or backslashes"))

  private def checkBase(spark: SparkSession, root: String,
                        expectedBase: Long): Long =
    log.checkBase(fsOf(spark, root), root, expectedBase)

  /** Parquet reads every column back nullable regardless of the source
    * plan's nullability, so the recorded schema normalizes to nullable
    * — otherwise a commitReplace built FROM a read() would spuriously
    * fail the schema-drift check against a parent committed from a
    * non-nullable source plan. */
  private def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = asNullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = asNullable(m.keyType),
             valueType = asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private[graft] def nullableSchema(schema: StructType): StructType =
    asNullable(schema).asInstanceOf[StructType]

  /** `stats`, when non-empty, must be positionally parallel to
    * `entries` (enforced — the parse side additionally discards a
    * misaligned stats array, so a future format change can never
    * silently attribute bounds to the wrong entry). */
  private def manifestBody(next: Long, base: Long, entries: Seq[String],
                           pcol: Option[String], schema0: StructType,
                           tag: Option[String],
                           stats: Seq[Map[String, ColStats]] = Nil,
                           fstats: Seq[Map[String, Map[String, ColStats]]]
                             = Nil,
                           ts: Long = -1L,
                           dels: Seq[Seq[DelRef]] = Nil)
      : Array[Byte] = {
    val schema = nullableSchema(schema0)
    entries.foreach(e => require(!e.exists(ch => ch == '"' || ch == '\\'),
      s"snapshot commit: entry path '$e' carries JSON-breaking characters"))
    require(stats.isEmpty || stats.length == entries.length,
      s"snapshot commit: ${stats.length} stats blobs for " +
      s"${entries.length} entries — writer bug")
    require(fstats.isEmpty || fstats.length == entries.length,
      s"snapshot commit: ${fstats.length} file-stats blobs for " +
      s"${entries.length} entries — writer bug")
    require(dels.isEmpty || dels.length == entries.length,
      s"snapshot commit: ${dels.length} delete chains for " +
      s"${entries.length} entries — writer bug")
    val entriesJson = entries.map(e => s""""$e"""").mkString(",")
    val pcolField = pcol.map(p => s""","pcol":"$p"""").getOrElse("")
    val schemaB64 = java.util.Base64.getEncoder
      .encodeToString(schema.toDDL.getBytes("UTF-8"))
    val fs0 = if (fstats.isEmpty) entries.map(_ =>
      Map.empty[String, Map[String, ColStats]]) else fstats
    val statsField =
      if (stats.isEmpty ||
          (stats.forall(_.isEmpty) && fs0.forall(_.isEmpty))) ""
      else s""","stats":[${stats.zip(fs0)
        .map { case (s, f) => s""""${encodeStats(s, f)}"""" }
        .mkString(",")}]"""
    val tagField = tag.map(t => s""","tag":"$t"""").getOrElse("")
    val tsField = if (ts >= 0) s""","ts":$ts""" else ""
    val delsField =
      if (dels.forall(_.isEmpty)) ""
      else s""","dels":[${dels.map(d => s""""${encodeDels(d)}"""")
        .mkString(",")}]"""
    // tag FIRST (see parseManifest's completeness contract): it is the
    // only field whose value may contain '}', so everything after it —
    // through the semantic dels — stays brace-free until the final
    // closing brace. Parsing is regex-based and order-independent, so
    // pre-reorder manifests read identically.
    // READER-PROTOCOL GUARD: a dels-bearing manifest renames the entry
    // list to `entriesv2` (see [[EntriesV2Re]]) so a pre-dels reader
    // binary fails the required-field parse instead of scanning the
    // entries without their delete chains; dels-free manifests keep
    // the legacy field, so old binaries read them unchanged.
    val entriesKey = if (delsField.isEmpty) "entries" else "entriesv2"
    (s"""{"version":$next,"base":$base$tsField$tagField,""" +
      s""""$entriesKey":[$entriesJson]""" +
      s"""$pcolField,"schema":"$schemaB64"$statsField$delsField}""")
      .getBytes("UTF-8")
  }

  /** Resolve a caller-supplied commit timestamp: an explicit value is
    * recorded verbatim (what keeps tests and replayed pipelines
    * deterministic); the < 0 sentinel falls back to the process wall
    * clock. Monotonicity is NOT enforced at commit time (multi-writer
    * clock skew must not fail commits — Delta's position);
    * [[versionAsOf]] adjusts non-monotonic history at resolution time
    * instead. */
  private def resolveTs(commitTs: Long): Long =
    if (commitTs >= 0L) commitTs else System.currentTimeMillis()

  /** The ATOMIC-CREATE SEAM: how a manifest file comes into existence
    * exactly once. Implementations MUST create `path` with `body`
    * all-or-nothing and throw `IOException` (or
    * `FileAlreadyExistsException`) if the path already exists — that
    * exception IS the commit-conflict signal. The default
    * [[perSchemeArbiter]] covers HDFS (`create(overwrite=false)`,
    * atomic) and local disks (NIO O_EXCL); an object-store deployment
    * installs its own arbiter carrying S3 conditional-PUT
    * (`If-None-Match: *`) semantics or an external lock via
    * [[installArbiter]] — the protocol (data-dir layout, manifest
    * format, vacuum, version discovery) needs no fork. */
  trait CommitArbiter {
    def createExclusive(fs: FileSystem, path: Path, body: Array[Byte]): Unit
  }

  /** Default arbiter: per-scheme atomic create. HDFS's
    * create(overwrite=false) is atomic; the LOCAL filesystem's is
    * check-then-act, so for the file:// scheme we use NIO's O_EXCL
    * createFile (genuinely atomic — what makes the 8-thread race spec
    * sound rather than probabilistic). Plain S3A has NO atomic create
    * — the `fs.create(path, false)` branch is check-then-act there,
    * the same caveat Delta documents; that deployment must install a
    * conditional-PUT arbiter instead. */
  object perSchemeArbiter extends CommitArbiter {
    def createExclusive(fs: FileSystem, path: Path,
                        body: Array[Byte]): Unit =
      if (fs.getScheme == "file") {
        val local = java.nio.file.Paths.get(path.toUri.getPath)
        java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.createFile(local) // throws if it exists
        java.nio.file.Files.write(local, body)
      } else {
        val out = fs.create(path, false)
        try out.write(body) finally out.close()
      }
  }

  @volatile private var arbiter: CommitArbiter = perSchemeArbiter

  /** Install a replacement atomic-create arbiter PROCESS-WIDE (all
    * tables, [[SnapshotGroup]] included — both funnel every commit
    * through the one seam). Returns the previous arbiter so callers
    * can restore it; the race spec injects a fake conditional-PUT
    * arbiter this way. Public although only specs call it: it is the
    * seam where a deployment installs an object-store commit arbiter. */
  def installArbiter(a: CommitArbiter): CommitArbiter = {
    val prev = arbiter; arbiter = a; prev
  }

  /** THE commit point: exclusive manifest create through the installed
    * [[CommitArbiter]] — exactly one writer per version. On losing the
    * race the caller's OWN data dir (and only it) is removed. */
  private[catalog] def createManifestExclusive(fs: FileSystem, root: String,
      next: Long, body: Array[Byte], ownDataDir: Option[Path]): Unit = {
    val m = manifest(root, next)
    fs.mkdirs(m.getParent)
    try {
      arbiter.createExclusive(fs, m, body)
    } catch {
      case e @ (_: java.io.IOException |
                _: java.nio.file.FileAlreadyExistsException) =>
        ownDataDir.foreach(d => fs.delete(d, true))
        throw new java.util.ConcurrentModificationException(
          s"snapshot commit conflict at $root: lost the version-$next " +
          s"manifest race (${e.getMessage})")
    }
    // pointer refresh — advisory cache only, losers of this rename race
    // are corrected by the forward scan / listing fallback
    val tmp = new Path(s"$root/._latest-${java.util.UUID.randomUUID()}")
    val pout = fs.create(tmp, true)
    try pout.write(next.toString.getBytes("UTF-8")) finally pout.close()
    val ptr = new Path(s"$root/_latest")
    fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr)) fs.delete(tmp, false)
  }

  /** Commit `df` as the next FULL snapshot, REQUIRING the table to
    * still be at `expectedBase` — optimistic concurrency. Returns the
    * new version. The second committer of the same base fails loudly
    * at either the pre-check or (under a true race) the exclusive
    * manifest create; it removes ONLY its own uniquely-named data dir,
    * so the winner's commit is untouchable (8-thread race
    * spec-pinned). `tag`, if given, is recorded in the manifest for
    * [[committedTags]]/[[latestTag]]-based replay idempotence. For a
    * table too big to rewrite wholesale, use [[commitReplace]]. */
  def commit(df: DataFrame, root: String, expectedBase: Long,
             tag: Option[String] = None, commitTs: Long = -1L): Long = {
    val spark = df.sparkSession
    val fs = fsOf(spark, root)
    checkTag(tag)
    val cur = checkBase(spark, root, expectedBase)
    val next = cur + 1
    // uniquely-named data dir: no writer ever touches another's path,
    // and a crash before the manifest leaves an invisible orphan
    val dirName = s"data-${java.util.UUID.randomUUID()}"
    val dataDir = new Path(s"$root/$dirName")
    df.write.mode("overwrite").parquet(dataDir.toString)
    val body = manifestBody(next, cur, Seq(dirName), None, df.schema, tag,
      ts = resolveTs(commitTs))
    createManifestExclusive(fs, root, next, body, Some(dataDir))
    maybeCheckpoint(fs, root, next)
    next
  }

  /** Commit `df` as the next full snapshot laid out HIVE-PARTITIONED on
    * `pcol` — the layout [[commitReplace]] requires, because its unit
    * of reference is the partition subdirectory. The manifest records
    * one entry per partition value plus the original schema DDL, so a
    * read restores the partition column's type and position exactly
    * (dir names alone would leave them to partition-type inference). */
  def commitPartitioned(df: DataFrame, root: String, expectedBase: Long,
                        pcol: String, tag: Option[String] = None,
                        commitTs: Long = -1L): Long = {
    val spark = df.sparkSession
    val fs = fsOf(spark, root)
    checkTag(tag)
    require(df.columns.contains(pcol),
      s"snapshot commitPartitioned: no column '$pcol' in ${df.columns.toSeq}")
    val cur = checkBase(spark, root, expectedBase)
    val next = cur + 1
    val dirName = s"data-${java.util.UUID.randomUUID()}"
    val dataDir = new Path(s"$root/$dirName")
    df.write.mode("overwrite").partitionBy(pcol).parquet(dataDir.toString)
    val entries = partitionEntries(fs, root, dirName, pcol)
    val (stats, fstats) = entryStats(spark, root, pcol,
      nullableSchema(df.schema), entries)
    val body = manifestBody(next, cur, entries, Some(pcol), df.schema, tag,
      stats, fstats, resolveTs(commitTs))
    createManifestExclusive(fs, root, next, body, Some(dataDir))
    maybeCheckpoint(fs, root, next)
    next
  }

  /** The partition subdir entries a partitioned write produced, sorted
    * for deterministic manifests. */
  private def partitionEntries(fs: FileSystem, root: String,
                               dirName: String, pcol: String): Seq[String] =
    fs.listStatus(new Path(s"$root/$dirName")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$pcol="))
      .map(s => s"$dirName/${s.getPath.getName}")
      .sorted

  /** The partition-value dir-name component of a partition entry
    * (still in Spark's escaped path form — comparisons happen at this
    * level on both sides, so escaping is never undone). */
  private def entryPartValue(entry: String, pcol: String): String =
    entry.substring(entry.lastIndexOf('/') + 1).stripPrefix(s"$pcol=")

  /** Columns eligible for skipping stats, with their comparison
    * class: integrals → "l", fractional/decimal → "d", string → "s".
    * Everything else (timestamps, nested, binary, …) is simply
    * omitted — omission is always sound, pruning keeps the entry. */
  private[catalog] def statsCols(schema: StructType, pcol: String)
      : Seq[(String, String)] = {
    import org.apache.spark.sql.types._
    schema.fields.toSeq.filter(_.name != pcol).flatMap { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(f.name -> "l")
        case FloatType | DoubleType | _: DecimalType => Some(f.name -> "d")
        case StringType => Some(f.name -> "s")
        case _ => None
      }
    }
  }

  /** Render one aggregated extreme as a ColStats bound; None = no
    * bound recordable (NULL slice, NaN/Infinity). Fractionals render
    * through `new BigDecimal(double)` — the EXACT value — so a
    * pruning comparison can never be off by a rounding ulp. */
  private[catalog] def renderBound(tpe: String, v: Any): Option[String] =
    (tpe, v) match {
      case (_, null) => None
      case ("l", n: Number) => Some(n.longValue.toString)
      case ("d", d: java.math.BigDecimal) => Some(d.toPlainString)
      case ("d", d: Double) =>
        if (d.isNaN || d.isInfinite) None
        else Some(new java.math.BigDecimal(d).toPlainString)
      case ("d", f: Float) =>
        if (f.isNaN || f.isInfinite) None
        else Some(new java.math.BigDecimal(f.toDouble).toPlainString)
      case ("s", s: String) => Some(s)
      case _ => None
    }

  /** Per-entry cap on FILE-level stats: a partition entry holding more
    * files than this records only entry-level bounds (the manifest is
    * one JSON document — a pathologically fragmented partition must
    * not balloon it; [[compact]] is the cure for that shape anyway,
    * and entry-level pruning still applies). Spec-tunable. */
  @volatile private[graft] var fileStatsCap: Int = 128

  /** Rendered-bound comparison in the bound's own domain. Strings
    * compare by UTF-8 bytes UNSIGNED — exactly Spark's binary string
    * ordering — so a driver-side merge can never pick a different
    * extreme than Spark's own min/max would. */
  private[catalog] def boundLt(tpe: String, a: String, b: String): Boolean =
    tpe match {
      case "l" => a.toLong < b.toLong
      case "d" =>
        new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) < 0
      case _ => java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0
    }

  /** Per-entry AND per-file min/max stats, read from the PARQUET
    * FOOTERS of each new entry's data files — the row-group statistics
    * Spark itself trusts for row-group skipping — on the driver, with
    * no Spark job and no read of the data. A file's bound for a column
    * is the merge of its row-group bounds; the column is omitted for
    * the file when any row group holding values lacks a min/max
    * (parquet-mr drops NaN bounds on read and writes no oversized
    * binary bound), when a bound renders as NaN/Infinity, or when the
    * column is all-NULL there. Decimals render from the unscaled value
    * (INT32/INT64/FIXED_LEN_BYTE_ARRAY) and the column's scale, strings
    * as UTF-8 (whose unsigned byte order is Spark's binary ordering).
    * Entry-level bounds merge from the file bounds in the driver; a
    * column ANY file omits is omitted at entry level too — the file's
    * hidden extreme could make a merged bound unsound under Spark's
    * NaN-greatest ordering, and omission is always sound. Driver state
    * is O(files × columns), the same bound the manifest itself then
    * carries, and [[fileStatsCap]] bounds it per entry. Any failure
    * degrades to NO stats — a commit must never fail because an
    * optimization pass did. */
  private def entryStats(spark: SparkSession, root: String, pcol: String,
      schema: StructType, entries: Seq[String])
      : (Seq[Map[String, ColStats]],
         Seq[Map[String, Map[String, ColStats]]]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.io.api.Binary
    import org.apache.spark.sql.execution.datasources.parquet.GraftFooters
    import org.apache.spark.sql.types.DecimalType
    val cols = statsCols(schema, pcol)
    val noStats = (entries.map(_ => Map.empty[String, ColStats]),
      entries.map(_ => Map.empty[String, Map[String, ColStats]]))
    if (cols.isEmpty) return noStats
    val scale: Map[String, Int] = schema.fields.collect {
      case f if f.dataType.isInstanceOf[DecimalType] =>
        f.name -> f.dataType.asInstanceOf[DecimalType].scale
    }.toMap
    // one footer statistic value, in the domain renderBound expects
    def value(c: String, v: Any): Any = (scale.get(c), v) match {
      case (Some(sc), i: java.lang.Integer) =>
        java.math.BigDecimal.valueOf(i.longValue, sc)
      case (Some(sc), l: java.lang.Long) => java.math.BigDecimal.valueOf(l, sc)
      case (Some(sc), b: Binary) =>
        new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), sc)
      case (None, b: Binary) => b.toStringUsingUTF8
      case _ => v
    }
    def merge(tpe: String, bs: Seq[ColStats]): ColStats = ColStats(tpe,
      bs.map(_.min).reduce((a, b) => if (boundLt(tpe, a, b)) a else b),
      bs.map(_.max).reduce((a, b) => if (boundLt(tpe, a, b)) b else a))
    // a column's bound over one file's row groups; None = omitted
    def fileBound(blocks: Seq[Map[String,
        org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]],
        c: String, tpe: String): Option[ColStats] = {
      val chunks = blocks.map(_.get(c))
      val valued = chunks.flatten.filterNot { cc =>
        val st = cc.getStatistics
        st.isNumNullsSet && st.getNumNulls == cc.getValueCount
      }
      val bounds = valued.map { cc =>
        val st = cc.getStatistics
        if (!st.hasNonNullValue) None
        else for {
          mn <- renderBound(tpe, value(c, st.genericGetMin))
          mx <- renderBound(tpe, value(c, st.genericGetMax))
        } yield ColStats(tpe, mn, mx)
      }
      if (chunks.exists(_.isEmpty) || valued.isEmpty ||
          bounds.exists(_.isEmpty)) None
      else Some(merge(tpe, bounds.flatten))
    }
    try {
      val conf = spark.sessionState.newHadoopConf()
      val perEntry = entries.map { e =>
        GraftFooters.dataFiles(conf, new Path(s"$root/$e")).map { f =>
          val blocks = GraftFooters.footer(conf, f, rowGroups = true)
            .getBlocks.asScala.toSeq.map(_.getColumns.asScala
              .map(cc => cc.getPath.toDotString -> cc).toMap)
          f.getPath.getName -> cols.flatMap { case (c, tpe) =>
            fileBound(blocks, c, tpe).map(c -> _) }.toMap
        }.toMap
      }
      (perEntry.map { files =>
        val perFile = files.values.toSeq
        cols.flatMap { case (c, tpe) =>
          val bounds = perFile.map(_.get(c))
          if (bounds.isEmpty || bounds.exists(_.isEmpty)) None
          else Some(c -> merge(tpe, bounds.flatten))
        }.toMap
      },
       perEntry.map(files =>
         if (files.size > fileStatsCap)
           Map.empty[String, Map[String, ColStats]]
         else files))
    } catch {
      case scala.util.control.NonFatal(_) => noStats
    }
  }

  /** COMMIT BY REFERENCE — the partition-scoped commit: `updates` is
    * the COMPLETE new content of every partition it contains (plus
    * `dropParts` values to delete outright), and the resulting version
    * writes ONLY those partitions, re-referencing every untouched
    * entry of the parent version verbatim. Untouched partitions are
    * the SAME files — path and bytes — in both versions (spec-pinned),
    * so a 100 TB table pays I/O proportional to the batch's touched
    * partitions, never a wholesale rewrite; this is
    * [[PartitionMerge.mergeInto]]'s rewrite unit made transactional.
    * The parent must be a partitioned snapshot on the same `pcol` with
    * the same schema (both checked loudly — a silent schema drift
    * would poison every later read through the recorded DDL), UNLESS
    * `evolveSchema` opts in to ADD-ONLY evolution: extra `updates`
    * columns append after the parent's as nullable columns, untouched
    * entries keep their old files and read back NULL there, and a
    * predicate on a new column never prunes a stats-less old entry
    * (missing column stats mean "must scan"). Drop/rename/retype stay
    * refused in both modes.
    * `dropParts` values are RAW partition values; they are escaped
    * with Spark's partition-path escaping before matching entries.
    *
    * DISJOINT-PARTITION OPTIMISTIC CONCURRENCY (the Delta/Iceberg
    * logical-conflict-detection analogue): when the table has moved
    * past `expectedBase` — at the pre-check or by losing the manifest
    * race — the commit does NOT immediately fail. It re-reads the
    * winner's manifest and PROVES the two commits independent: same
    * `pcol`, schema unchanged since `expectedBase`, and the set of
    * partition values the winners touched (entry sets differing
    * between the expected base and the current manifest) DISJOINT
    * from the set this commit replaces or drops. If the proof holds
    * it re-commits on the new base — kept entries and their stats now
    * inherited from the WINNER's manifest, so nothing the winner wrote
    * is lost — bounded by `rebaseRetries`; any overlap, concurrent
    * schema evolution, or retry exhaustion stays a LOUD
    * ConcurrentModificationException. At 100 TB this is what lets
    * several ingest streams plus a compaction daemon commit
    * concurrently instead of serializing on a whole-table CAS: the
    * data is written ONCE, each retry pays only a manifest read and
    * an exclusive create. Returns the new version. */
  def commitReplace(updates: DataFrame, root: String, expectedBase: Long,
                    pcol: String, dropParts: Seq[String] = Nil,
                    tag: Option[String] = None,
                    evolveSchema: Boolean = false,
                    rebaseRetries: Int = 10,
                    commitTs: Long = -1L): Long = {
    val spark = updates.sparkSession
    val fs = fsOf(spark, root)
    checkTag(tag)
    require(expectedBase > 0,
      "snapshot commitReplace: no parent version — bootstrap the table " +
      "with commitPartitioned first")
    // validate against the EXPECTED base (not whatever is current):
    // the rebase path re-proves compatibility against the winner later
    val parent = manifestOf(fs, root, expectedBase)
    require(parent.pcol.contains(pcol),
      s"snapshot commitReplace: parent version $expectedBase is " +
      s"partitioned on ${parent.pcol.getOrElse("<nothing>")}, not '$pcol'")
    val parentSchema = StructType.fromDDL(parent.schemaDdl)
    // ADD-ONLY schema evolution (opt-in): columns of `updates` beyond
    // the parent's append AFTER the parent's, forced nullable — kept
    // entries' files lack them and read back as NULL under the
    // recorded schema (the explicit-schema parquet read fills absent
    // columns with NULLs; spec-pinned). Every parent column must still
    // be present with its recorded type — drop/rename/retype is
    // refused loudly in BOTH modes, because old files would then lie
    // under the new DDL.
    val parentNames = parentSchema.fieldNames.toSet
    val extras = updates.schema.fields
      .filterNot(f => parentNames.contains(f.name))
      .map(_.copy(nullable = true))
    require(evolveSchema || extras.isEmpty,
      s"snapshot commitReplace: updates carry column(s) " +
      s"${extras.map(_.name).mkString(", ")} beyond the table schema " +
      s"${parent.schemaDdl} — pass evolveSchema=true to ADD them " +
      "(silently dropping them would hide a writer bug)")
    val schema =
      if (extras.isEmpty) parentSchema
      else StructType(parentSchema.fields ++ extras)
    val aligned = updates.select(
      schema.fieldNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    require(nullableSchema(StructType(
        aligned.schema.fields.take(parentSchema.length))).toDDL
        == parent.schemaDdl,
      s"snapshot commitReplace: updates schema ${aligned.schema.toDDL} " +
      s"does not match the table schema ${parent.schemaDdl}" +
      (if (evolveSchema) " (evolution is ADD-only: parent columns must " +
        "keep their names and types)" else ""))
    // data writes ONCE into the commit's own dir; every rebase retry
    // reuses it (the whole point — a conflict must not re-run the job)
    val dirName = s"data-${java.util.UUID.randomUUID()}"
    val dataDir = new Path(s"$root/$dirName")
    aligned.write.mode("overwrite").partitionBy(pcol).parquet(dataDir.toString)
    val newEntries = partitionEntries(fs, root, dirName, pcol)
    val dropped = dropParts.map(v =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v)).toSet
    val replaced = newEntries.map(e => entryPartValue(e, pcol)).toSet ++ dropped
    if (replaced.isEmpty) {
      fs.delete(dataDir, true)
      throw new IllegalArgumentException(
        "requirement failed: snapshot commitReplace: the batch touches " +
        "no partitions")
    }
    commitEntries(spark, root, pcol, parent, schema, dataDir, newEntries,
      replaced, tag, rebaseRetries, resolveTs(commitTs))
  }

  /** The manifest assembly and CAS loop shared by [[commitReplace]] and
    * [[appendInto]]: commit the parent's entries minus the `replaced`
    * partition values plus `newEntries` (already written under
    * `dataDir`), which pay the only stats pass. Kept entries inherit
    * the parent's stats and delete chains verbatim; new entries carry
    * no chain. A moved base rebases onto the winner when the commits
    * are provably independent (see [[commitReplace]]) — with nothing
    * `replaced` (a blind append) that proof reduces to the winner
    * keeping `pcol` and the schema — at most `rebaseRetries` times;
    * `rebaseRetries = 0` is a plain CAS on `parent`. */
  private def commitEntries(spark: SparkSession, root: String, pcol: String,
      parent: Manifest, schema: StructType, dataDir: Path,
      newEntries: Seq[String], replaced: Set[String], tag: Option[String],
      rebaseRetries: Int, ts: Long): Long = {
    val fs = fsOf(spark, root)
    val expectedBase = parent.version
    val (freshStats, freshFileStats) = entryStats(spark, root, pcol,
      nullableSchema(schema), newEntries)

    // a partition's conflict signature includes its DELETE CHAIN: a
    // concurrent commitDelete changes no entry paths, but replacing
    // that partition from a stale base would resurrect the deleted
    // rows — so a dels-only change must count as "winner touched it"
    def partEntrySets(m: Manifest): Map[String, Set[String]] = {
      val dmap: Map[String, Seq[DelRef]] =
        if (m.dels.length == m.entries.length) m.entries.zip(m.dels).toMap
        else Map.empty
      m.entries.groupBy(e => entryPartValue(e, pcol))
        .map { case (pv, es) => pv -> es.map(e =>
          e + "|" + dmap.getOrElse(e, Nil).map(_.path).sorted
            .mkString(",")).toSet }
    }

    def fail(msg: String): Nothing = {
      fs.delete(dataDir, true)
      throw new java.util.ConcurrentModificationException(
        s"snapshot commit conflict at $root: $msg")
    }

    var parentV = expectedBase
    var parentM = parent
    var attempts = 0
    while (true) {
      val cur = currentVersion(spark, root)
      if (cur != parentV) {
        // the table moved: prove this commit independent of the
        // winner(s), or fail loudly
        if (cur < parentV) fail(
          s"expected base $parentV but the table is at $cur")
        if (attempts >= rebaseRetries) fail(
          s"expected base $expectedBase but the table is at $cur and " +
          s"$rebaseRetries rebase retries are exhausted — rebase on the " +
          "current snapshot and retry")
        val curM = manifestOf(fs, root, cur)
        if (!curM.pcol.contains(pcol)) fail(
          s"a concurrent writer re-partitioned the table on " +
          s"${curM.pcol.getOrElse("<nothing>")} — cannot rebase")
        if (curM.schemaDdl != parent.schemaDdl) fail(
          s"a concurrent writer evolved the schema to ${curM.schemaDdl} " +
          s"since base $expectedBase — cannot rebase automatically")
        val (bm, cm) = (partEntrySets(parent), partEntrySets(curM))
        val winnerTouched = (bm.keySet ++ cm.keySet).filter(pv =>
          bm.getOrElse(pv, Set.empty) != cm.getOrElse(pv, Set.empty))
        val overlap = winnerTouched.intersect(replaced)
        if (overlap.nonEmpty) fail(
          s"concurrent writer(s) modified partition(s) " +
          s"${overlap.toSeq.sorted.mkString(", ")} this commit also " +
          "replaces — rebase on the current snapshot and retry")
        // NOT counted against rebaseRetries here: every loop iteration
        // ends in an exclusive-create attempt, and only a LOST create
        // advances the counter — so the budget counts actual conflicts
        // once each, not once at the catch and again at this re-proof
        rebasesPerformed.incrementAndGet()
        parentV = cur
        parentM = curM
      }
      val next = parentV + 1
      val kept = parentM.entries
        .filterNot(e => replaced.contains(entryPartValue(e, pcol)))
      val entries = (kept ++ newEntries).sorted
      // kept entries INHERIT the parent's per-entry stats (the bytes
      // are the same files — the bounds still hold); only the new
      // entries pay a stats pass, keeping commit cost proportional to
      // the touched partitions. A stats-less parent contributes empty
      // maps. On a rebase, "parent" is the WINNER's manifest, so its
      // commits' stats ride through too.
      val aligned0 = parentM.stats.length == parentM.entries.length
      val parentStats: Map[String, Map[String, ColStats]] =
        if (aligned0) parentM.entries.zip(parentM.stats).toMap
        else Map.empty
      val parentFileStats: Map[String, Map[String, Map[String, ColStats]]] =
        if (aligned0 && parentM.fileStats.length == parentM.entries.length)
          parentM.entries.zip(parentM.fileStats).toMap
        else Map.empty
      val statsByEntry = parentStats ++ newEntries.zip(freshStats).toMap
      val fstatsByEntry =
        parentFileStats ++ newEntries.zip(freshFileStats).toMap
      val stats = entries.map(e =>
        statsByEntry.getOrElse(e, Map.empty[String, ColStats]))
      val fstats = entries.map(e => fstatsByEntry.getOrElse(e,
        Map.empty[String, Map[String, ColStats]]))
      // kept entries INHERIT the parent's delete chains (their files
      // still contain the deleted rows); new entries carry none — a
      // replace's rewrite read applied the chain, so it MATERIALIZES
      // deletes for the partitions it touches, and an append's rows
      // were never under a chain
      val parentDels: Map[String, Seq[DelRef]] =
        if (parentM.dels.length == parentM.entries.length)
          parentM.entries.zip(parentM.dels).toMap
        else Map.empty
      val dels = entries.map(e => parentDels.getOrElse(e, Nil))
      val body = manifestBody(next, parentV, entries, Some(pcol), schema,
        tag, stats, fstats, ts, dels)
      try {
        createManifestExclusive(fs, root, next, body, None)
        maybeCheckpoint(fs, root, next)
        return next
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // lost the exclusive create: loop — the re-read of
          // currentVersion above discovers the winner and either
          // rebases or fails with the overlap diagnosis. The attempt
          // counter ALSO advances here so the create→write visibility
          // window (winner's manifest exists, body not yet readable —
          // currentVersion still reports the old frontier) cannot spin
          // this loop unboundedly; the brief sleep lets that body land.
          if (attempts >= rebaseRetries) { fs.delete(dataDir, true); throw e }
          attempts += 1
          Thread.sleep(10L)
      }
    }
    sys.error("unreachable")
  }

  /** OPTIMIZE-style COMPACTION: rewrite the selected partitions of the
    * current version into `filesPerPart` files each (default 1) with
    * the data bit-identical, as a normal [[commitReplace]] commit —
    * unselected partitions re-reference their existing files verbatim,
    * readers time-travel across the compaction untouched, and the
    * fragmented pre-compaction files are reclaimed by [[vacuum]] once
    * the old versions age out (the refcount already handles it; no new
    * GC path). Small-file fragmentation is the steady-state tax of
    * micro-batch ingest ([[appendInto]] adds one file set per batch per
    * touched partition): at 100 TB the cost of a scan is bounded below
    * by files-opened, so periodic compaction is what keeps read
    * amplification flat — and because it rides commitReplace, its cost
    * is proportional to the partitions it touches, never the table.
    *
    * `filesPerPart` > 1 splits each partition by a deterministic row
    * hash for very large partitions (one task per output file).
    * `parts` filters which RAW partition values compact (empty = all).
    * Returns the new version. */
  def compact(spark: SparkSession, root: String, expectedBase: Long,
              pcol: String, parts: Seq[String] = Nil,
              filesPerPart: Int = 1, tag: Option[String] = None,
              rebaseRetries: Int = 10): Long = {
    require(filesPerPart >= 1,
      s"snapshot compact: filesPerPart=$filesPerPart must be >= 1")
    // expectedBase < 0 = compact whatever is current (the daemon form,
    // mirroring appendInto): a concurrent writer on OTHER partitions
    // still lands via commitReplace's rebase; one touching a selected
    // partition conflicts loudly, which is correct — the compaction
    // would otherwise resurrect that partition's pre-write content
    val cur =
      if (expectedBase >= 0L) checkBase(spark, root, expectedBase)
      else currentVersion(spark, root)
    val m = manifestOf(fsOf(spark, root), root, cur)
    require(m.pcol.contains(pcol),
      s"snapshot compact: version $cur is partitioned on " +
      s"${m.pcol.getOrElse("<nothing>")}, not '$pcol'")
    val touched =
      if (parts.isEmpty) m.entries.map(e => entryPartValue(e, pcol))
      else parts.map(v =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(v))
    val wanted = touched.toSet
    val sel = m.entries.filter(e => wanted.contains(entryPartValue(e, pcol)))
    // every requested value must match — silently skipping a typo'd
    // partition would let the caller believe it was compacted
    if (parts.nonEmpty) {
      val have = m.entries.map(e => entryPartValue(e, pcol)).toSet
      val missing = touched.filterNot(have.contains)
      require(missing.isEmpty,
        s"snapshot compact: requested partition value(s) " +
        s"${missing.mkString(", ")} match no entry of version $cur")
    }
    require(sel.nonEmpty, "snapshot compact: no matching partitions")
    // scan ONLY the selected entries (partition pruning by entry list,
    // not a post-scan filter), then lay the rows out one task per
    // output file: hash(pcol) alone puts a whole partition in one
    // task/file; the salt term splits it filesPerPart ways by a
    // deterministic row hash when one file would be too large.
    val data = readEntries(spark, root, m, sel)
    val keys: Seq[org.apache.spark.sql.Column] =
      org.apache.spark.sql.functions.col(pcol) +:
        (if (filesPerPart == 1) Nil
         else Seq(org.apache.spark.sql.functions.pmod(
           org.apache.spark.sql.functions.xxhash64(
             data.columns.map(org.apache.spark.sql.functions.col)
               .toIndexedSeq: _*),
           org.apache.spark.sql.functions.lit(filesPerPart))))
    commitReplace(data.repartition(keys: _*), root, cur, pcol, tag = tag,
      rebaseRetries = rebaseRetries)
  }

  /** MAINTENANCE POLICY — the compaction daemon's brain: compact
    * exactly the partitions of the CURRENT version whose total file
    * count exceeds `maxFiles`, deciding from METADATA only. The common
    * case reads no filesystem at all: a partition fragmented by
    * [[appendInto]] spans several entries (one per append) and each
    * entry's per-file stats record its file list, so the count comes
    * from the manifest; only an entry without a recorded file list
    * (stats-less legacy commit, advisory failure, or a
    * [[fileStatsCap]] overflow — which MEANS heavily fragmented) pays
    * one directory listing. Partitions at or under the threshold are
    * untouched — their entries ride through the commit verbatim, so
    * the daemon's steady-state cost tracks the fragmented set, never
    * the table. Floating-base ([[compact]]'s daemon form): disjoint
    * concurrent ingest rides the rebase. Returns None when nothing is
    * fragmented (no commit at all), Some(newVersion) otherwise. */
  def compactFragmented(spark: SparkSession, root: String, pcol: String,
                        maxFiles: Int, filesPerPart: Int = 1,
                        tag: Option[String] = None,
                        rebaseRetries: Int = 10): Option[Long] = {
    require(maxFiles >= 1,
      s"snapshot compactFragmented: maxFiles=$maxFiles must be >= 1")
    val fs = fsOf(spark, root)
    val cur = currentVersion(spark, root)
    require(cur > 0, s"snapshot compactFragmented: $root has no commits")
    val m = manifestOf(fs, root, cur)
    require(m.pcol.contains(pcol),
      s"snapshot compactFragmented: version $cur is partitioned on " +
      s"${m.pcol.getOrElse("<nothing>")}, not '$pcol'")
    val fAligned = m.fileStats.length == m.entries.length
    def entryFiles(e: String, i: Int): Long = {
      val rec = if (fAligned) m.fileStats(i) else Map.empty
      if (rec.nonEmpty) rec.size.toLong
      else // unknown grain: one LISTING, still zero data bytes
        try fs.listStatus(new Path(s"$root/$e")).toSeq
          .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .toLong
        catch { case _: java.io.IOException => 0L } // vanished: skip
    }
    val byPart = m.entries.zipWithIndex
      .groupBy { case (e, _) => entryPartValue(e, pcol) }
      .map { case (pv, es) =>
        pv -> es.map { case (e, i) => entryFiles(e, i) }.sum }
    val fragmented = byPart.collect {
      case (pv, n) if n > maxFiles => pv }.toSeq.sorted
    if (fragmented.isEmpty) None
    else
      // daemon semantics for the decide→commit window: a concurrent
      // writer that drops or replaces a selected partition makes the
      // compact conflict (or its existence require fail) — for an
      // unattended maintenance loop that is a benign race, not a
      // crash: skip this cycle, the next one re-decides from the new
      // current version. Everything else (bad arguments, wrong pcol)
      // stays loud — those requires already fired above.
      try Some(compact(spark, root, -1L, pcol,
        parts = fragmented.map(pv =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(pv)),
        filesPerPart = filesPerPart, tag = tag,
        rebaseRetries = rebaseRetries))
      catch {
        case _: java.util.ConcurrentModificationException => None
        case e: IllegalArgumentException
            if e.getMessage != null &&
               e.getMessage.contains("match no entry") => None
      }
  }

  /** BLIND APPEND of `batch` into the partitioned snapshot — the
    * micro-batch ingest primitive behind [[graft.stream.SnapshotSink]].
    * Pure append, no key semantics (upserts go through
    * [[PartitionMerge]] + [[commitReplace]]): the batch is written ONCE,
    * partitioned, into its own data dir, and the next version is the
    * parent's entries verbatim — stats and delete chains included —
    * plus one new entry per partition the write produced. Nothing
    * existing is read or rewritten, so cost is proportional to the
    * BATCH, and the write's own partition listing names the touched
    * partitions (no collect job); a touched partition gains one file
    * set per batch, which [[compact]] retires. Bootstraps an empty
    * table with [[commitPartitioned]]. An empty batch writes no
    * partition and is a no-op returning the current version (no
    * manifest, no tag). A NULL partition value is refused, leaving no
    * entry behind.
    *
    * `expectedBase` < 0 (the default) appends onto whatever version is
    * current, and a moved base REBASES onto any winner that kept `pcol`
    * and the schema (an append conflicts with no data change — Delta's
    * blind-append rule), counted in [[rebasesPerformed]] and bounded by
    * `rebaseRetries`. An exactly-once caller
    * ([[graft.stream.SnapshotSink]]) must PIN the base it decided
    * idempotence against: a pinned base is a plain CAS, so a twin
    * attempt of the same batch that loses the commit race CONFLICTS
    * (which the caller resolves via its tag) instead of landing the
    * batch a second time. Returns the new version. */
  def appendInto(batch: DataFrame, root: String, pcol: String,
                 tag: Option[String] = None,
                 expectedBase: Long = -1L,
                 rebaseRetries: Int = 10): Long = {
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    val fs = fsOf(spark, root)
    checkTag(tag)
    val cur =
      if (expectedBase >= 0L) checkBase(spark, root, expectedBase)
      else currentVersion(spark, root)
    if (cur == 0L) commitPartitioned(batch, root, 0L, pcol, tag)
    else {
      val m = manifestOf(fs, root, cur)
      require(m.pcol.contains(pcol),
        s"snapshot appendInto: version $cur is partitioned on " +
        s"${m.pcol.getOrElse("<nothing>")}, not '$pcol'")
      val schema = StructType.fromDDL(m.schemaDdl)
      // mirror commitReplace's extras refusal: silently dropping a
      // batch column beyond the table schema would hide a writer bug
      // behind the streaming sink. Evolution goes through
      // commitReplace(evolveSchema = true) explicitly.
      val extra = batch.columns.filterNot(schema.fieldNames.contains)
      require(extra.isEmpty,
        s"snapshot appendInto: batch carries column(s) " +
        s"${extra.mkString(", ")} beyond the table schema " +
        s"${m.schemaDdl} — evolve through commitReplace(evolveSchema = " +
        "true) instead (silently dropping them would hide a writer bug)")
      val aligned = batch.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      require(nullableSchema(aligned.schema).toDDL == m.schemaDdl,
        s"snapshot appendInto: batch schema ${aligned.schema.toDDL} " +
        s"does not match the table schema ${m.schemaDdl}")
      val dirName = s"data-${java.util.UUID.randomUUID()}"
      val dataDir = new Path(s"$root/$dirName")
      aligned.write.mode("overwrite").partitionBy(pcol).parquet(dataDir.toString)
      val newEntries = partitionEntries(fs, root, dirName, pcol)
      if (newEntries.isEmpty) { fs.delete(dataDir, true); cur }
      else {
        if (newEntries.exists(e =>
            entryPartValue(e, pcol) == "__HIVE_DEFAULT_PARTITION__")) {
          fs.delete(dataDir, true)
          throw new IllegalArgumentException(
            s"requirement failed: snapshot appendInto: batch carries a " +
            s"NULL $pcol value")
        }
        commitEntries(spark, root, pcol, m, schema, dataDir, newEntries,
          Set.empty, tag, if (expectedBase >= 0L) 0 else rebaseRetries,
          resolveTs(-1L))
      }
    }
  }

  /** ROW-LEVEL DELETE without rewriting data — the GDPR-at-scale path:
    * records `delKeys` (deduplicated on `keyCols`) as an EQUALITY
    * DELETE file and commits a new version whose entry list, data
    * files, and stats are the PARENT'S VERBATIM, each in-scope entry
    * gaining one [[DelRef]]. Deleting one key in a 1-TB partition
    * therefore writes one tiny parquet of keys and one manifest —
    * never a partition rewrite (that is [[commitReplace]]'s price);
    * reads anti-join the chain (broadcast-sized for point deletes) and
    * the next [[compact]]/[[commitReplace]] of a partition
    * materializes its chain away. Old versions still time-travel to
    * the pre-delete rows (retire them with [[vacuum]], which
    * refcounts delete files like data).
    *
    * SCOPING: when the parent is partitioned and `delKeys` carries the
    * partition column (it need not be part of `keyCols`), only the
    * partitions `delKeys` names pay the read-side anti-join — the
    * others' entries stay chain-free — and the partition column JOINS
    * the match key: the deleted tuple is the per-row (keyCols, pcol)
    * pair, so a key aimed at partition B never deletes its twin in
    * partition A (the Iceberg partition-scoped equality-delete
    * semantics, expressed with one pooled file). Without the partition
    * column, the ref attaches to every entry and matches on `keyCols`
    * alone (sound, but prices every read).
    *
    * Semantics: a row of the table is deleted iff its match tuple
    * (`keyCols`, plus the partition column when `delKeys` carries it;
    * null-safe) appears in `delKeys` AND its entry is in scope.
    * Every `delKeys` column must exist in the table with EXACTLY its
    * recorded type — a mistyped key would otherwise anti-join through
    * an implicit cast and silently delete nothing (or the wrong rows).
    * Stats stay inherited — deletion only removes rows, so recorded
    * min/max remain sound over-approximations for skipping.
    * Concurrency: plain optimistic CAS on `expectedBase` (no rebase
    * loop — a delete is metadata-cheap to retry, and auto-rebasing a
    * DELETE across unseen winners could silently miss rows a
    * concurrent append just added for the same keys). Returns the new
    * version. */
  def commitDelete(delKeys: DataFrame, root: String, expectedBase: Long,
                   keyCols: Seq[String], tag: Option[String] = None,
                   commitTs: Long = -1L): Long = {
    val spark = delKeys.sparkSession
    val fs = fsOf(spark, root)
    checkTag(tag)
    require(expectedBase > 0,
      "snapshot commitDelete: no parent version — nothing to delete from")
    require(keyCols.nonEmpty, "snapshot commitDelete: empty keyCols")
    keyCols.foreach(c => require(
      !c.contains(',') && !c.contains('\t') && !c.contains('\n'),
      s"snapshot commitDelete: key column '$c' carries codec-breaking " +
      "characters"))
    val cur = checkBase(spark, root, expectedBase)
    val parent = manifestOf(fs, root, cur)
    val parentNames = StructType.fromDDL(parent.schemaDdl).fieldNames.toSet
    keyCols.foreach(c => require(parentNames.contains(c),
      s"snapshot commitDelete: no column '$c' in ${parent.schemaDdl}"))
    keyCols.foreach(c => require(delKeys.columns.contains(c),
      s"snapshot commitDelete: delKeys lacks key column '$c'"))
    delKeys.columns.foreach(c => require(parentNames.contains(c),
      s"snapshot commitDelete: delKeys column '$c' is not a table " +
      "column — a typo here would silently delete nothing"))
    // TYPES are validated like names: the read-side anti-join would
    // otherwise resolve a mismatched key column through implicit
    // casts, and a string-vs-bigint or float-vs-decimal key can
    // silently match nothing (or the wrong rows) — the same failure
    // the name check guards against. Exact match after nullability
    // normalization; the caller casts explicitly when it means to.
    val parentFields = StructType.fromDDL(parent.schemaDdl)
    delKeys.schema.fields.foreach { f =>
      val want = parentFields(parentFields.fieldIndex(f.name)).dataType
      require(asNullable(f.dataType) == asNullable(want),
        s"snapshot commitDelete: delKeys column '${f.name}' is " +
        s"${f.dataType.sql} but the table records ${want.sql} — cast " +
        "the keys explicitly (an implicit cast here can silently " +
        "delete nothing, or the wrong rows)")
    }
    import org.apache.spark.sql.functions.col
    // partition scoping from the delKeys' pcol values, when present
    val touched: Option[Set[String]] =
      parent.pcol.filter(delKeys.columns.contains).map { pc =>
        delKeys.select(col(pc).cast("string")).distinct()
          .collect().map(r => Option(r.getString(0)) match {
            case None => "__HIVE_DEFAULT_PARTITION__"
            case Some(v) => org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName(v)
          }).toSet
      }
    // when delKeys carries the partition column beyond keyCols, the
    // partition column JOINS the match key: one pooled keys file is
    // attached to every touched partition, so without it a key
    // intended for partition B would also delete matching rows in
    // partition A (delKeys [(id=1,p=A),(id=2,p=B)] with keyCols=[id]
    // must not delete id=2 from A). Iceberg scopes equality-delete
    // files per partition for the same reason; here the per-row
    // (key, partition) tuple expresses the same intent with one file.
    val matchCols = parent.pcol match {
      case Some(pc) if delKeys.columns.contains(pc) &&
          !keyCols.contains(pc) =>
        require(!pc.contains(',') && !pc.contains('\t') &&
          !pc.contains('\n'),
          s"snapshot commitDelete: partition column '$pc' carries " +
          "codec-breaking characters")
        keyCols :+ pc
      case _ => keyCols
    }
    val delDir = s"del-${java.util.UUID.randomUUID()}"
    val delPath = new Path(s"$root/$delDir")
    delKeys.select(matchCols.map(col): _*).distinct()
      .write.mode("overwrite").parquet(delPath.toString)
    val ref = DelRef(delDir, matchCols)
    val parentDels: Seq[Seq[DelRef]] =
      if (parent.dels.length == parent.entries.length) parent.dels
      else parent.entries.map(_ => Seq.empty[DelRef])
    val dels = parent.entries.zip(parentDels).map { case (e, chain) =>
      val inScope = touched match {
        case None => true
        case Some(set) =>
          parent.pcol.exists(pc => set.contains(entryPartValue(e, pc)))
      }
      if (inScope) chain :+ ref else chain
    }
    val next = cur + 1
    val body = manifestBody(next, cur, parent.entries, parent.pcol,
      StructType.fromDDL(parent.schemaDdl), tag, parent.stats,
      parent.fileStats, resolveTs(commitTs), dels)
    createManifestExclusive(fs, root, next, body, Some(delPath))
    maybeCheckpoint(fs, root, next)
    next
  }

  /** Time-travel read: the immutable snapshot of `version` — the union
    * of its manifest's entries. Partitioned entries read with their
    * data dir as `basePath` (so the hive-layout partition column comes
    * back) under the RECORDED schema, which restores the partition
    * column's original type and the original column order — never
    * partition-type inference. Entries spanning several data dirs
    * (after [[commitReplace]]) union by name; the dir count is bounded
    * by commits since the last compacting commit, not by data size.
    * Fails loudly on an uncommitted version (data-dir presence alone
    * is a crashed writer, not a commit). */
  def read(spark: SparkSession, root: String, version: Long): DataFrame = {
    val fs = fsOf(spark, root)
    require(fs.exists(manifest(root, version)),
      s"snapshot read: version $version of $root was never committed " +
      s"(committed: ${committedVersions(spark, root).mkString(",")})")
    val m = manifestOf(fs, root, version)
    readEntries(spark, root, m, m.entries)
  }

  /** The scan of a manifest restricted to `entries` — shared by the
    * full [[read]] and the stats-pruned [[readWhere]]. */
  private def readEntries(spark: SparkSession, root: String, m: Manifest,
                          entries: Seq[String]): DataFrame =
    readSelection(spark, root, m, entries.map(_ -> None))

  /** Apply an entry's delete chain to its scan: one LEFT-ANTI join per
    * distinct key-column set against the UNION of that set's delete
    * key files (null-safe equality, so a deleted NULL key matches).
    * The delete side of a GDPR-style point delete is tiny — Spark's
    * size-based broadcast threshold turns these into broadcast
    * anti-joins, so at 100 TB the data side streams through unshuffled
    * — and rewrites ([[compact]]/[[commitReplace]]) materialize the
    * chain away, so it never grows past the commits since the last
    * rewrite of that partition. The key files are read under the
    * table's recorded types (commitDelete requires the keys to match
    * them exactly, and schema evolution only adds columns), so
    * building the scan infers nothing and runs no Spark job. */
  private def applyDels(spark: SparkSession, root: String,
      schema: StructType, df: DataFrame, dels: Seq[DelRef]): DataFrame =
    if (dels.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      dels.groupBy(_.keyCols).toSeq
        .sortBy(_._1.mkString(","))
        .foldLeft(df) { case (acc, (kcols, refs)) =>
          val keys = spark.read.schema(StructType(kcols.map(schema(_))))
            .parquet(refs.map(r => s"$root/${r.path}"): _*)
            .select(kcols.map(c => col(c).as(s"_del_$c")): _*)
            .distinct()
          val cond = kcols.map(c => acc(c) <=> keys(s"_del_$c"))
            .reduce(_ && _)
          acc.join(keys, cond, "left_anti")
        }
    }

  /** The scan of a manifest restricted to a selection of entries,
    * each optionally narrowed to a FILE list within its directory
    * (`None` = the whole entry dir) — the read unit [[pruneFiles]]
    * produces. File paths keep the entry's data dir as `basePath`, so
    * the hive partition column still materializes under the recorded
    * schema. */
  private def readSelection(spark: SparkSession, root: String, m: Manifest,
      sel: Seq[(String, Option[Seq[String]])]): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDdl)
    import org.apache.spark.sql.functions.col
    val ordered = schema.fieldNames.map(col).toIndexedSeq
    val delsByEntry: Map[String, Seq[DelRef]] =
      if (m.dels.length == m.entries.length) m.entries.zip(m.dels).toMap
      else Map.empty // parseManifest refuses misalignment; Nil = none
    if (sel.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    else m.pcol match {
      case None =>
        // unpartitioned entries are whole dirs (commit() records no
        // stats, so file narrowing never reaches this branch); entries
        // sharing a delete chain scan as one group
        sel.groupBy(e => delsByEntry.getOrElse(e._1, Nil)).toSeq
          .sortBy(_._2.map(_._1).min)
          .map { case (dels, es) =>
            applyDels(spark, root, schema,
              spark.read.schema(schema)
                .parquet(es.map(e => s"$root/${e._1}"): _*)
                .select(ordered: _*), dels)
          }
          .reduce(_ unionByName _)
      case Some(_) =>
        sel.groupBy(e => (e._1.substring(0, e._1.indexOf('/')),
            delsByEntry.getOrElse(e._1, Nil))).toSeq
          .sortBy { case ((dir, dels), _) =>
            (dir, dels.map(_.path).mkString(",")) }
          .map { case ((dir, dels), es) =>
            val paths = es.flatMap {
              case (e, None) => Seq(s"$root/$e")
              case (e, Some(fns)) => fns.map(f => s"$root/$e/$f")
            }
            applyDels(spark, root, schema,
              spark.read.schema(schema)
                .option("basePath", s"$root/$dir")
                .parquet(paths: _*)
                .select(ordered: _*), dels)
          }
          .reduce(_ unionByName _)
    }
  }

  // ----------------------------------------------------------------
  // data skipping: prune manifest entries from their recorded stats
  // ----------------------------------------------------------------

  private def isAscii(s: String): Boolean = s.forall(_ < 0x80)

  private implicit val bdOrdering: Ordering[java.math.BigDecimal] =
    (a: java.math.BigDecimal, b: java.math.BigDecimal) => a.compareTo(b)

  /** `value` as an exact BigDecimal, when it is numeric. */
  private def toBd(v: Any): Option[java.math.BigDecimal] = v match {
    case n: java.math.BigDecimal => Some(n)
    case n: scala.math.BigDecimal => Some(n.bigDecimal)
    case d: Double =>
      if (d.isNaN || d.isInfinite) None
      else Some(new java.math.BigDecimal(d))
    case f: Float =>
      if (f.isNaN || f.isInfinite) None
      else Some(new java.math.BigDecimal(f.toDouble))
    case n: Number => Some(java.math.BigDecimal.valueOf(n.longValue))
    case _ => None
  }

  /** Does the interval [mn, mx] PROVABLY exclude every row satisfying
    * `x op v`? (min/max are over non-null rows; every supported op is
    * null-rejecting, so null rows never need the interval.) */
  private def intervalExcludes[T](mn: T, mx: T, op: String, v: T)
      (implicit ord: Ordering[T]): Boolean = op match {
    case "="  => ord.lt(v, mn) || ord.gt(v, mx)
    case "<"  => ord.gteq(mn, v)
    case "<=" => ord.gt(mn, v)
    case ">"  => ord.lteq(mx, v)
    case ">=" => ord.lt(mx, v)
  }

  /** true = this pred proves the entry empty. Conservative in every
    * undecidable direction: missing stats, type mismatch, non-ASCII
    * strings all answer false (keep the entry — the residual filter
    * is always applied downstream). */
  private def predExcludes(stats: Map[String, ColStats],
      partValue: Option[String], pcolType: Option[org.apache.spark.sql
        .types.DataType], p: Pred): Boolean = {
    // IN = a disjunction of equalities: the entry is provably empty
    // only when EVERY member is (an empty list is Catalyst-folded to
    // false upstream; conservatively keep the entry here)
    if (p.op == "in") {
      val vs = p.value.asInstanceOf[Seq[Any]]
      return vs.nonEmpty && vs.forall(v =>
        predExcludes(stats, partValue, pcolType, Pred(p.col, "=", v)))
    }
    // stats are ADVISORY end to end: a blob that base64-decodes but
    // carries a garbled numeric bound must degrade to "keep the entry"
    // (false), never throw out of a read path — the same contract
    // parseManifest enforces one layer up for torn blobs.
    val viaStats = stats.get(p.col).exists { cs =>
      try cs.tpe match {
        case "l" | "d" =>
          toBd(p.value).exists(v => intervalExcludes(
            new java.math.BigDecimal(cs.min),
            new java.math.BigDecimal(cs.max), p.op, v))
        case "s" => p.value match {
          case s: String if isAscii(s) && isAscii(cs.min) && isAscii(cs.max) =>
            intervalExcludes(cs.min, cs.max, p.op, s)
          case _ => false
        }
        case _ => false
      } catch { case scala.util.control.NonFatal(_) => false }
    }
    // the partition column itself: the entry's value IS its interval.
    // The hive null sentinel reads back as NULL, which fails every
    // null-rejecting op — always prunable under a pcol pred.
    val viaPart = partValue.exists { pv =>
      if (pv == "__HIVE_DEFAULT_PARTITION__") true
      else {
        val raw = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(pv)
        import org.apache.spark.sql.types._
        pcolType match {
          case Some(ByteType | ShortType | IntegerType | LongType |
                    FloatType | DoubleType | _: DecimalType) =>
            (try Some(new java.math.BigDecimal(raw))
             catch { case _: NumberFormatException => None })
              .zip(toBd(p.value)).exists { case (pvBd, vBd) =>
                intervalExcludes(pvBd, pvBd, p.op, vBd)
              }
          case Some(StringType) => p.value match {
            case s: String if isAscii(s) && isAscii(raw) =>
              intervalExcludes(raw, raw, p.op, s)
            case _ => false
          }
          case _ => false
        }
      }
    }
    viaStats || viaPart
  }

  /** DATA SKIPPING — the read-side of the manifest's per-entry
    * min/max stats: the entries of `m` that MIGHT satisfy the
    * conjunction of `preds`. An entry is dropped only when some pred
    * PROVABLY excludes it — from its recorded column bounds, or from
    * its partition-directory value — so the result over the kept
    * entries plus the residual filter is exactly the full read
    * filtered (differentially spec-pinned). Bounds-undecidable
    * situations (no stats, non-ASCII strings, type mismatches) keep
    * the entry; pruning is an optimization, never a semantics. This
    * is the file-skipping analogue of the reference's predicate
    * pushdown into its geodatabase scan (pyt:152, pyt:254), at
    * manifest granularity: a 100 TB snapshot under a selective
    * predicate lists and scans only the surviving entries. */
  private[graft] def pruneEntries(m: Manifest, preds: Seq[Pred])
      : Seq[String] = {
    val aligned = m.stats.length == m.entries.length
    val pcolType = m.pcol.flatMap(p =>
      StructType.fromDDL(m.schemaDdl).fields.find(_.name == p)
        .map(_.dataType))
    m.entries.zipWithIndex.collect { case (e, i)
        if !preds.exists(p => predExcludes(
          if (aligned) m.stats(i) else Map.empty,
          m.pcol.filter(p.col == _).map(pc => entryPartValue(e, pc)),
          pcolType, p)) =>
      e
    }
  }

  /** FILE-GRAIN DATA SKIPPING — [[pruneEntries]] refined to the file
    * lists recorded per entry: for each surviving entry, the files the
    * conjunction of `preds` cannot prove empty. `None` = the entry
    * records no file-level stats (pre-file-stats manifest, advisory
    * stats failure, or a [[fileStatsCap]] overflow) — scan the whole
    * entry dir; skipping stays an optimization. An entry whose EVERY
    * recorded file is provably empty drops entirely — the case
    * entry-level bounds structurally cannot see: the entry interval is
    * the UNION of its files' intervals, and a predicate can land in
    * the gap between two files' ranges (exactly the fragmented-ingest
    * steady state, where each appendInto batch writes one
    * narrow-range file set per touched partition). This is the
    * Iceberg per-file-stats grain on the same manifest. */
  private[graft] def pruneFiles(m: Manifest, preds: Seq[Pred])
      : Seq[(String, Option[Seq[String]])] = {
    val fAligned = m.fileStats.length == m.entries.length
    val idx = m.entries.zipWithIndex.toMap
    pruneEntries(m, preds).flatMap { e =>
      val files =
        if (fAligned) m.fileStats(idx(e))
        else Map.empty[String, Map[String, ColStats]]
      if (files.isEmpty) Some(e -> None)
      else {
        val kept = files.toSeq.collect { case (fn, fcs)
            if !preds.exists(p => predExcludes(fcs, None, None, p)) => fn }
          .sorted
        if (kept.isEmpty) None else Some(e -> Some(kept))
      }
    }
  }

  /** One pruning pred as the equivalent residual Catalyst filter. */
  def predColumn(preds: Seq[Pred]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    preds.map { p =>
      val c = col(p.col)
      p.op match {
        case "="  => c === lit(p.value)
        case "<"  => c < lit(p.value)
        case "<=" => c <= lit(p.value)
        case ">"  => c > lit(p.value)
        case ">=" => c >= lit(p.value)
        case "in" => c.isin(p.value.asInstanceOf[Seq[Any]]: _*)
      }
    }.reduceOption(_ && _)
      .getOrElse(lit(true))
  }

  /** Stats-pruned read: semantically `read(version).filter(preds)`,
    * but entries — and, where per-file bounds are recorded, individual
    * FILES within surviving entries — whose [min,max] bounds (or
    * partition value) exclude the conjunction are never listed, never
    * planned, never scanned. Returns the filtered frame; what was
    * actually scanned is [[pruneFiles]]' output, spec- and
    * gate-counted. */
  def readWhere(spark: SparkSession, root: String, version: Long,
                preds: Seq[Pred]): DataFrame = {
    val fs = fsOf(spark, root)
    require(fs.exists(manifest(root, version)),
      s"snapshot read: version $version of $root was never committed " +
      s"(committed: ${committedVersions(spark, root).mkString(",")})")
    val m = manifestOf(fs, root, version)
    readPruned(spark, root, m, pruneFiles(m, preds), preds)
  }

  /** The pruned-selection read with its residual filter — shared by
    * [[readWhere]] and the `graft-snapshot` data source relation
    * ([[SnapshotRelation]]), which computes the selection itself to
    * instrument what was planned. */
  private[catalog] def readPruned(spark: SparkSession, root: String,
      m: Manifest, sel: Seq[(String, Option[Seq[String]])],
      preds: Seq[Pred]): DataFrame =
    readSelection(spark, root, m, sel).filter(predColumn(preds))

  /** Read the latest committed snapshot (pointer fast path, listing
    * fallback). */
  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(spark, root)
    require(v > 0, s"snapshot read: $root has no committed version")
    read(spark, root, v)
  }

  /** TIMESTAMP TIME TRAVEL: the version that was current AS OF `ts` —
    * the latest version whose EFFECTIVE commit timestamp is ≤ ts.
    * Commit timestamps are recorded per manifest ([[commit]]'s
    * `commitTs`, wall clock by default); because multi-writer clock
    * skew can record them non-monotonically, resolution adjusts
    * Delta-style — effective(v) = max(recorded(v), effective(v-1)+1) —
    * so later versions always resolve later and every version stays
    * addressable by some timestamp. O(checkpoint + suffix) reads: the
    * fold (inherently left-to-right) consumes checkpoint records for
    * the covered prefix WITHOUT body reads — including records of
    * versions later vacuumed, which keeps the effective clock anchored
    * at the true first commit instead of restarting at the first
    * survivor — and pays body reads only for the uncovered suffix.
    * Only still-listed versions are resolvable read targets. Fails
    * loudly before the first commit's timestamp, and on history
    * predating timestamp recording. */
  def versionAsOf(spark: SparkSession, root: String, ts: Long): Long =
    log.asOf(fsOf(spark, root), root, ts)

  /** Read the snapshot that was current as of wall-clock `ts` — the
    * human form of time travel ("as of yesterday 06:00");
    * [[versionAsOf]] defines the resolution. */
  def readAsOf(spark: SparkSession, root: String, ts: Long): DataFrame =
    read(spark, root, versionAsOf(spark, root, ts))

  /** CHANGE FEED between two committed versions — the Delta/Iceberg
    * CDF shape, derivable here because versions are immutable
    * snapshots: one keyed full-outer join of the two version reads
    * emits `insert` (key only in `toV`, post-image), `delete` (key
    * only in `fromV`, pre-image), and `update` (payload struct
    * differs, post-image); unchanged rows are filtered in-plan, so
    * the feed is diff-sized downstream of the join. This is what an
    * incremental consumer (MV maintenance via [[Mv.deletePartials]] +
    * [[Mv.partials]], cache invalidation, downstream sync) reads
    * instead of re-scanning history — on a partition-keyed table the
    * join prunes to partitions either side touched. Keys must be
    * unique per version (the upsert contract). Images are selected by
    * change class — deletes carry the pre-image, everything else the
    * post-image — so an update that sets a payload field to NULL
    * reports NULL, not the stale old value a null-coalescing pick
    * would resurrect.
    *
    * With `preimages = true` an update emits TWO rows —
    * `update_preimage` (old payload) and `update_postimage` (new) —
    * the Delta-CDF shape an incremental MV needs: retract every
    * preimage/delete row, add every postimage/insert row (composition
    * proven in MvSpec and gated end-to-end by `snk11_cdf_mv`). */
  def changes(spark: SparkSession, root: String, fromV: Long, toV: Long,
              keys: Seq[String], preimages: Boolean = false): DataFrame = {
    require(fromV < toV, s"changes: fromV $fromV must precede toV $toV")
    diffFrames(read(spark, root, fromV), read(spark, root, toV), keys,
      preimages)
  }

  /** The change-feed diff core shared by [[changes]] and
    * [[SnapshotGroup.changes]]: keyed full-outer join of two immutable
    * snapshots of the same schema, emitting the Delta-CDF change
    * classes (see [[changes]] for the semantics — image selection by
    * class, optional preimage rows). */
  private[catalog] def diffFrames(a: DataFrame, b: DataFrame,
      keys: Seq[String], preimages: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val payload = b.columns.filterNot(keys.contains).toSeq
    val pa = a.select(keys.map(col) :+
      struct(payload.map(col): _*).as("_pre"): _*)
    val pb = b.select(keys.map(col) :+
      struct(payload.map(col): _*).as("_post"): _*)
    val joined = pa.join(pb, keys, "full_outer")
    if (!preimages)
      joined
        .withColumn("change_type",
          when(col("_pre").isNull, lit("insert"))
            .when(col("_post").isNull, lit("delete"))
            .when(!(col("_pre") <=> col("_post")), lit("update")))
        .filter(col("change_type").isNotNull)
        .select(keys.map(col) ++ Seq(col("change_type")) ++
          payload.map(p =>
            when(col("change_type") === "delete", col(s"_pre.$p"))
              .otherwise(col(s"_post.$p")).as(p)): _*)
    else {
      // unchanged rows yield a NULL event array — explode drops them
      def ev(tpe: String, img: org.apache.spark.sql.Column) =
        struct(lit(tpe).as("change_type"), img.as("img"))
      val events =
        when(col("_pre").isNull, array(ev("insert", col("_post"))))
          .when(col("_post").isNull, array(ev("delete", col("_pre"))))
          .when(!(col("_pre") <=> col("_post")),
            array(ev("update_preimage", col("_pre")),
                  ev("update_postimage", col("_post"))))
      joined
        .select(keys.map(col) :+ explode(events).as("_c"): _*)
        .select(keys.map(col) ++ Seq(col("_c.change_type")) ++
          payload.map(p => col(s"_c.img.$p").as(p)): _*)
    }
  }

  /** Default vacuum age horizon: 20 minutes — comfortably longer than
    * any data-write→manifest-create window a live commit spends as an
    * apparent orphan, short enough that crashed writers reclaim on the
    * next maintenance pass. */
  val defaultVacuumHorizonMs: Long = 20L * 60L * 1000L

  /** COMMIT HISTORY as data — the DESCRIBE HISTORY analogue: one row
    * per committed version still within retention (version, base,
    * commit ts, effective ts after [[versionAsOf]]'s monotonic
    * adjustment, tag, entry count, partition column). O(checkpoint +
    * suffix) reads: covered versions' rows come from the rollup
    * records; vacuumed records are folded for effective-clock
    * continuity but not reported (they are no longer readable
    * versions). Driver-side construction is O(versions) rows of
    * metadata, the same bound the listing itself carries. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows = log.walk(fsOf(spark, root), root).recs().filter(_.live)
      .map(r => (r.rec.version, r.rec.base, r.rec.ts, r.eff, r.rec.tag,
        r.rec.nEntries, r.rec.pcol)).toSeq
    import spark.implicits._
    rows.toDF("version", "base", "commit_ts", "effective_ts", "tag",
      "entries", "pcol")
  }

  /** TIME-BASED RETENTION — the "keep 7 days" form of [[vacuum]]:
    * drops every version whose EFFECTIVE commit timestamp
    * ([[versionAsOf]]'s adjusted clock) is strictly below `cutoffTs`,
    * always keeping at least the latest version, then reclaims data
    * through the same reference-counted, age-horizon-guarded pass.
    * Versions without a recorded timestamp never age out by time (a
    * pre-timestamp history must be reclaimed explicitly by count).
    * Returns the removed version numbers. */
  def vacuumOlderThan(spark: SparkSession, root: String, cutoffTs: Long,
                      minAgeMs: Long = defaultVacuumHorizonMs)
      : Seq[Long] = {
    // effective ts is strictly increasing, so the aged set is the
    // longest PREFIX of history below the cutoff — takeWhile, which
    // also makes a ts-less version a conservative stop (nothing beyond
    // it ages by time) and ends the walk at the first version that is
    // not aged. The clock is the version log's (vacuumed checkpoint
    // records anchor it), so retention and resolution can never
    // disagree about a version's effective timestamp.
    val live = LazyList.from(log.walk(fsOf(spark, root), root).recs())
      .filter(_.live)
    val aged = live.takeWhile(_.eff.exists(_ < cutoffTs))
      .map(_.rec.version).toList
    // the latest version always stays
    (if (live.lengthCompare(aged.length) > 0) aged else aged.dropRight(1))
      .lastOption.fold(Seq.empty[Long]) { through =>
      // the drop boundary is an explicit VERSION NUMBER, not a count:
      // a concurrent commit landing between this aged-prefix
      // computation and the reclaim pass's own listing only appends
      // HIGHER versions, which a `<= boundary` filter can never drop —
      // a count-based keepLast recomputed against a second listing
      // could overshoot past the aged prefix and delete versions at or
      // after the cutoff (ADVICE r10).
      vacuumDrop(spark, root, vs => vs.dropRight(1).filter(_ <= through),
        minAgeMs)
    }
  }

  /** Drop snapshots older than `keepLast` versions, then reclaim data
    * REFERENCE-COUNTED at entry granularity: an entry (whole data dir
    * or partition subdir) is deleted only when NO surviving manifest
    * references it — after [[commitReplace]], a data dir may serve
    * many versions, so vacuuming the version that created it must keep
    * exactly the subdirs later versions still reference. Orphan data
    * dirs no surviving manifest references at all (crashed or
    * race-losing writers) go entirely. Never touches entries in the
    * keep window.
    *
    * WRITER SAFETY IS ENFORCED, not documented: a LIVE writer's data
    * dir is an apparent orphan until its manifest lands, so vacuum
    * skips any unreferenced dir (or partition subdir) whose
    * modification time is younger than `minAgeMs` — Delta's
    * retention-check analogue. The horizon must comfortably exceed the
    * longest data-write→manifest-create window; crashed writers older
    * than it reclaim normally. `minAgeMs = 0` restores the legacy
    * maintenance-exclusive mode (tests use it to exercise reclamation
    * deterministically). Returns the removed version numbers. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 2,
             minAgeMs: Long = defaultVacuumHorizonMs): Seq[Long] = {
    require(keepLast >= 1, "vacuum must keep at least the live snapshot")
    vacuumDrop(spark, root, _.dropRight(keepLast), minAgeMs)
  }

  /** Vacuum's writer-safety test, shared with [[SnapshotGroup.vacuum]]:
    * a path is reclaimable once it is at least `minAgeMs` old, measured
    * from now (`minAgeMs` ≤ 0: always); one that vanished mid-pass is
    * skipped. */
  private[catalog] def oldEnough(fs: FileSystem, minAgeMs: Long)
      : Path => Boolean = {
    val now = System.currentTimeMillis()
    p => minAgeMs <= 0L ||
      (try now - fs.getFileStatus(p).getModificationTime >= minAgeMs
       catch { case _: java.io.IOException => false })
  }

  /** The reclaim pass shared by [[vacuum]] and [[vacuumOlderThan]]:
    * `dropSel` picks the versions to drop FROM THE ONE authoritative
    * listing this pass performs, so no caller can race a concurrent
    * commit between two listings (it must select a prefix that keeps
    * at least the latest version — both callers do by construction). */
  private def vacuumDrop(spark: SparkSession, root: String,
      dropSel: Seq[Long] => Seq[Long], minAgeMs: Long): Seq[Long] = {
    val fs = fsOf(spark, root)
    val aged = oldEnough(fs, minAgeMs)
    val live = log.liveBodies(fs, root)
    val versions = live.map(_._1)
    val drop = dropSel(versions)
    // CHECKPOINT-AWARE: before the dropped manifests disappear, make
    // sure the newest checkpoint covers every one of them — that
    // preserves the effective-clock fold prefix ([[versionAsOf]] /
    // [[history]] fold checkpoint records where bodies no longer
    // exist) and the tag record (replay idempotence outlives
    // retention). The result is ENFORCED, not advisory: if the rollup
    // cannot be written (torn manifest in the roll range, I/O
    // failure), the drop REFUSES loudly — proceeding would silently
    // destroy the fold prefix and the vacuumed ingest tags, making
    // retention and as-of resolution disagree with no error anywhere.
    // Nothing is deleted before this point, so a refused vacuum is
    // simply retried after the cause clears.
    if (checkpointInterval > 0 && drop.nonEmpty &&
        !writeCheckpoint(fs, root, drop.last))
      throw new IllegalStateException(
        s"snapshot vacuum at $root: could not extend the metadata " +
        s"checkpoint through version ${drop.last} before dropping " +
        "manifests — refusing to delete committed history whose " +
        "effective-clock and tag records would be lost (a torn " +
        "manifest in the roll range or a transient I/O failure; " +
        "retry after it clears)")
    drop.foreach(v => fs.delete(manifest(root, v), false))
    val dropped = drop.toSet
    val survivors = live.filterNot(l => dropped(l._1)).map { case (v, body) =>
      body.flatMap(parseManifest(v, _)).getOrElse(manifestOf(fs, root, v)) }
    val referenced: Set[String] = survivors.flatMap(_.entries).toSet
    val referencedDirs = referenced.map(e =>
      if (e.contains('/')) e.substring(0, e.indexOf('/')) else e)
    // delete-key dirs refcount like data: reclaimable only when NO
    // surviving manifest's chain references them (age-horizon guarded
    // — a live commitDelete's dir is an apparent orphan until its
    // manifest lands, same as data)
    val referencedDels: Set[String] =
      survivors.flatMap(_.dels.flatten.map(_.path)).toSet
    fs.listStatus(new Path(root)).toSeq.map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("del-") && !referencedDels.contains(n) && aged(p))
        fs.delete(p, true)
      else if (n.startsWith("data-") && !referenced.contains(n)) {
        if (!referencedDirs.contains(n)) {
          if (aged(p)) fs.delete(p, true) // fully dead (and aged)
        } else // partially referenced: reclaim only unreferenced subdirs
          fs.listStatus(p).toSeq.filter(_.isDirectory).foreach { c =>
            if (!referenced.contains(s"$n/${c.getPath.getName}") &&
                aged(c.getPath))
              fs.delete(c.getPath, true)
          }
      }
    }
    // retire superseded checkpoints, keeping the newest PARSEABLE one
    // (and anything newer): the newest FILE may be a torn leftover of
    // a concurrent rollup that crashed in its create→write window —
    // deleting the older good rollups it supersedes by name alone
    // would leave readers nothing parseable and permanently lose the
    // vacuumed versions' effective-clock and tag records. Every
    // consumer takes the newest parseable checkpoint, and
    // [[latestCheckpoint]] tolerates a file vanishing mid-read by
    // falling back, so deleting strictly-older rollups never strands
    // a reader.
    latestCheckpoint(fs, root).map(_.k).foreach { good =>
      listedCheckpoints(fs, root).filter(_ < good)
        .foreach(k => fs.delete(ckptPath(root, k), false))
    }
    drop
  }
}
