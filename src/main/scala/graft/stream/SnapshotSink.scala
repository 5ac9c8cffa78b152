package graft.stream

import org.apache.spark.sql.DataFrame
import graft.catalog.SnapshotTable

/** EXACTLY-ONCE micro-batch ingest into a [[SnapshotTable]] — the
  * `foreachBatch` sink that makes the snapshot protocol a streaming
  * target (S21). Structured Streaming guarantees at-least-once
  * delivery of each (batchId, data) pair to `foreachBatch` with
  * DETERMINISTIC replay after a restart; exactly-once therefore
  * reduces to making the commit IDEMPOTENT PER BATCH ID, which the
  * manifest's `tag` field already supports: each batch commits with
  * tag `ingest-<batchId>`, and a replayed batch whose tag is already
  * in [[SnapshotTable.committedTags]] is a no-op. A CRASH between the
  * data write and the manifest create leaves an invisible orphan dir
  * (vacuum reclaims it) and NO tag — the replay then commits normally,
  * so the window that breaks file-append sinks is exactly the window
  * the manifest protocol already closes.
  *
  * Two racing attempts of the SAME batch (speculative restart) funnel
  * through the commit arbiter: the loser's conflict error is re-checked
  * against the tag — if the winning commit carries this batch's tag,
  * the loser treats it as success (its work was done by its twin);
  * any OTHER conflicting tag is a genuine concurrent writer and stays
  * loud.
  *
  * Scale shape: each micro-batch pays [[SnapshotTable.appendInto]]'s
  * blind append — one write of the batch plus a manifest, cost
  * proportional to the BATCH, every existing entry re-referenced
  * verbatim and nothing existing re-read — and the steady-state
  * small-file tax (one file set per batch per touched partition) is
  * retired by periodic [[SnapshotTable.compact]] commits, which
  * interleave with ingest as ordinary versions (a reader never sees
  * either in-flight). An empty micro-batch commits nothing. */
object SnapshotSink {

  private[stream] def batchTag(batchId: Long): String = s"ingest-$batchId"

  /** Already-committed check at PER-BATCH streaming cost: the
    * [[SnapshotTable.latestNumericTag]] fast path reads O(1) manifest
    * bodies on the steady state, where a full
    * [[SnapshotTable.committedTags]] scan reads every committed body —
    * O(versions) per batch, quadratic over the stream until vacuum.
    * The shortcut relies on the sink being this table's ONLY
    * `ingest-*` tagger (the tag namespace the exactly-once contract
    * already owns) and on foreachBatch delivering batch ids in order
    * per checkpoint lineage. Decision table on the latest ingest id:
    * `== batchId` → committed (the common replay); `< batchId` → new
    * batch; `> batchId` → IMPOSSIBLE within one lineage (foreachBatch
    * never re-delivers an old id after a newer one committed), so pay
    * the full scan: the tag present means a legitimately ancient
    * replay; ABSENT means a fresh checkpoint is replaying ids against
    * an old table — refused LOUDLY, because a silent append would
    * DUPLICATE rows the snapshot still holds (vacuum drops old
    * manifests, not current data) and a silent skip would LOSE the new
    * lineage's batch. A foreign latest tag is the other ambiguous case
    * and pays the full scan too. */
  private def alreadyCommitted(spark: org.apache.spark.sql.SparkSession,
      root: String, tag: String, batchId: Long): Boolean =
    SnapshotTable.latestNumericTag(spark, root, "ingest-") match {
      case None => false // no tagged commit at all: ours can't exist
      case Some((Right(id), _)) if id == batchId => true
      case Some((Right(id), _)) if id < batchId => false
      case latest => // latest id > batchId, or a foreign tag: full scan
        if (SnapshotTable.committedTags(spark, root).contains(tag)) true
        else if (latest.exists(_._1.exists(_ > batchId)))
          throw new IllegalStateException(
            s"snapshot ingest at $root: batch $batchId arrived behind " +
            "the table's latest ingest tag with no committed tag of its " +
            "own — a restarted stream must reuse its checkpoint (a fresh " +
            "checkpoint would re-append rows the snapshot already holds)")
        else false
    }

  /** The `foreachBatch` function: append `batch` into the partitioned
    * snapshot at `root` exactly once per `batchId`.
    * {{{ ds.writeStream.foreachBatch(SnapshotSink.exactlyOnce(root, "p") _) }}} */
  def exactlyOnce(root: String, pcol: String)
                 (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val tag = batchTag(batchId)
    // pin the base FIRST, then decide idempotence: a twin of this same
    // batch that commits after the tag check makes our pinned commit
    // CONFLICT (resolved below via the tag) — an unpinned append could
    // instead re-read the twin's version as its parent and land the
    // batch twice
    val base = SnapshotTable.currentVersion(spark, root)
    // replay fast path: this batch already committed before a restart
    if (alreadyCommitted(spark, root, tag, batchId)) return
    try SnapshotTable.appendInto(batch, root, pcol, Some(tag),
      expectedBase = base)
    catch {
      case e: java.util.ConcurrentModificationException =>
        // conflict: if this batch's tag is committed, the twin attempt
        // won — exactly-once is preserved by doing nothing. Otherwise a
        // FOREIGN writer interleaved: stay loud, let the streaming
        // engine fail and replay the batch (the replay is idempotent).
        if (!alreadyCommitted(spark, root, tag, batchId)) throw e
    }
  }
}
