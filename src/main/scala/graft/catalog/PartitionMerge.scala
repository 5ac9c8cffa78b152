package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fact-scale partitioned MERGE (SNK5) — [[Catalog.mergeCatalog]]'s
  * semantics lifted to a table too big to rewrite wholesale: the target
  * is a parquet table PARTITIONED on a key (the SNK2 layout), and a
  * batch rewrites ONLY the partitions it touches. Untouched partitions
  * are never read and never written — their files stay byte-identical
  * (spec-pinned at the file level). This retires the wholesale rewrite
  * a dimension-sized catalog merge can afford at fact scale: the same
  * upsert shape, but the unit of rewrite is a partition, not the
  * table.
  *
  * Reference: the per-layer write-back loop of
  * `WROS/Weighted Raster Overlay Service.pyt:879-885`, at the scale
  * where per-layer = per-partition.
  */
object PartitionMerge {

  /** MERGE `batch` into the partitioned parquet table at `path`. Rows
    * matched on (partCol, keyCol) take the batch's payload columns —
    * including legitimate NULLs, standard MERGE UPDATE SET semantics —
    * unmatched batch rows INSERT, and rows of untouched partitions are
    * untouched files. Returns the touched partition values.
    *
    * Plan shape — the fact side NEVER shuffles:
    *  - the touched-partition list is collected (bounded by the
    *    partition-value domain, the convergence-count class — never
    *    fact rows) and pushed as a static `isin` PartitionFilter, so
    *    the current-state scan reads only touched directories;
    *  - the batch BROADCASTS into the rewrite join (fact rows stream
    *    map-side, no exchange);
    *  - matched keys are extracted from the rewrite result
    *    (batch-sized) and broadcast into the insert anti-join, which
    *    therefore runs over the BATCH, not the fact;
    *  - the rewrite result is materialized (localCheckpoint) BEFORE
    *    the dynamic-partition overwrite commits, because the write
    *    would otherwise truncate its own source partitions mid-read
    *    (the self-overwrite hazard). At petabyte partitions the same
    *    plan stages each partition to a sibling directory and swaps by
    *    rename — the unit of atomicity is unchanged.
    *
    * Assumes `keyCol` is unique within a partition (the fact-upsert
    * contract); a batch with several rows per key should be reduced
    * first to one row per key (a deterministic max-struct pick). */
  def mergeInto(spark: SparkSession, path: String, batch: DataFrame,
                partCol: String, keyCol: String,
                payloadCols: Seq[String]): Seq[String] = {
    val parts0 = batch.select(col(partCol).cast("string")).distinct()
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    // a NULL partition value would silently match nothing in the isin
    // filter below (its row neither updates nor inserts) — reject loudly
    require(!parts0.contains(null),
      s"partition merge: batch carries a NULL $partCol value")
    val parts = parts0.sorted
    require(parts.nonEmpty, "partition merge: batch touches no partitions")
    val cur = spark.read.parquet(path).filter(col(partCol).isin(parts: _*))
    val b = batch.select(
      col(partCol).as("_bp") +: col(keyCol).as("_bk") +:
        payloadCols.map(f => col(f).as(s"_b_$f")): _*)
    val rewritten = rewriteJoin(cur, b, partCol, keyCol, payloadCols)
      .localCheckpoint()
    val matched = rewritten.filter(col("_bk").isNotNull)
      .select(col(partCol).as("_mp"), col("_bk").as("_mk")).distinct()
    val inserts = b
      .join(broadcast(matched),
        col("_bp") === col("_mp") && col("_bk") === col("_mk"), "left_anti")
      .select(col("_bp").as(partCol) +: col("_bk").as(keyCol) +:
        payloadCols.map(f => col(s"_b_$f").as(f)): _*)
    rewritten.drop("_bk").unionByName(inserts)
      .write.mode("overwrite").partitionBy(partCol)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    parts
  }

  /** The rewrite leg of [[mergeInto]] as a pure plan: broadcast batch
    * left-joined onto the pruned fact scan, matched rows taking the
    * batch payload. Exposed so the "fact side never shuffles" claim is
    * PLAN-ASSERTED (CatalogSpec), not just documented. */
  private[graft] def rewriteJoin(cur: DataFrame, b: DataFrame,
                                 partCol: String, keyCol: String,
                                 payloadCols: Seq[String]): DataFrame =
    cur
      .join(broadcast(b),
        col(partCol) === col("_bp") && col(keyCol) === col("_bk"), "left")
      .select(col(partCol) +: col(keyCol) +: col("_bk") +:
        payloadCols.map(f =>
          when(col("_bk").isNotNull, col(s"_b_$f")).otherwise(col(f)).as(f)): _*)

  /** Targeted DELETE from the partitioned table — the GDPR /
    * right-to-be-forgotten operation a training-data store must support:
    * remove exactly the (partCol, keyCol) pairs in `deletes`, rewriting
    * ONLY the partitions that contain them. Same plan discipline as
    * [[mergeInto]]: static isin PartitionFilter, broadcast delete-key
    * anti-join (fact side never shuffles), materialize before the
    * dynamic overwrite. One wrinkle mergeInto cannot hit: a partition
    * whose every row is deleted produces NO output rows, so dynamic
    * overwrite would leave its old files in place — those directories
    * are removed explicitly (the surviving-partition list is
    * partition-domain-sized driver data). Returns the touched
    * partition values. */
  def deleteFrom(spark: SparkSession, path: String, deletes: DataFrame,
                 partCol: String, keyCol: String): Seq[String] = {
    val parts0 = deletes.select(col(partCol).cast("string")).distinct()
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    require(!parts0.contains(null),
      s"partition delete: batch carries a NULL $partCol value")
    val parts = parts0.sorted
    require(parts.nonEmpty, "partition delete: batch touches no partitions")
    val cur = spark.read.parquet(path).filter(col(partCol).isin(parts: _*))
    val dk = deletes.select(col(partCol).as("_dp"), col(keyCol).as("_dk"))
    val remaining = deleteAntiJoin(cur, dk, partCol, keyCol)
      .localCheckpoint()
    remaining.write.mode("overwrite").partitionBy(partCol)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    val survived = remaining.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    parts.filterNot(survived).foreach { p =>
      // directory names carry Spark's partition-path ESCAPING (':' is
      // %3A etc.) — deleting the raw value's path would miss the real
      // directory and silently leave the "deleted" rows on disk
      val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(p)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$partCol=$escaped"), true)
    }
    parts
  }

  /** The anti-join leg of [[deleteFrom]] as a pure plan — the
    * [[rewriteJoin]] pattern, so the shuffle-free claim is asserted on
    * the PRODUCTION join, not a test-side copy. */
  private[graft] def deleteAntiJoin(cur: DataFrame, dk: DataFrame,
                                    partCol: String, keyCol: String): DataFrame =
    cur.join(broadcast(dk),
      col(partCol) === col("_dp") && col(keyCol) === col("_dk"),
      "left_anti")
}
