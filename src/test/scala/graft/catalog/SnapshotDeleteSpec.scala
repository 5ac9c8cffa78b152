package graft.catalog

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Row-level deletes ([[SnapshotTable.commitDelete]]): equality-delete
  * refs at entry grain — a delete commit rewrites NO data file
  * (asserted on verbatim paths), reads anti-join the chain, rewrites
  * materialize it, vacuum refcounts delete files like data, and a
  * dels-only change counts as a conflict for a stale-base replace of
  * the same partition (resurrection safety). */
class SnapshotDeleteSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("snapdel").toString + "/t"

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** id 0..59, bkt = id / 20 (3 partitions), payload v = id * 10; laid
    * out ~3 files per partition by rolling a new file every 8 records
    * (the fragmented-ingest shape row-level deletes exist for). */
  private def seed(root: String): Long = {
    import spark.implicits._
    val df = (0L until 60L).map(i => (i, i / 20L, i * 10L))
      .toDF("id", "bkt", "v")
      .repartition(col("bkt"))
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, 8L)
      SnapshotTable.commitPartitioned(df, root, 0L, "bkt")
    } finally spark.conf.set(key, prev)
  }

  private def dataFiles(root: String): Set[String] = {
    val f = fs(root)
    def walk(p: Path): Seq[String] =
      f.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq(s.getPath.toString)
      }
    f.listStatus(new Path(root)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("data-")).flatMap(walk)
      .filter(_.endsWith(".parquet")).toSet
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("a point delete in a multi-file partition rewrites NOTHING: " +
       "data file paths are verbatim identical across the commit, the " +
       "keys are gone at the new version and present at the old") {
    val root = freshRoot()
    val v1 = seed(root)
    val before = dataFiles(root)
    assert(before.size >= 6, s"want multi-file partitions: $before")
    import spark.implicits._
    val v2 = SnapshotTable.commitDelete(
      Seq((21L, 1L), (25L, 1L)).toDF("id", "bkt"), root, v1, Seq("id"))
    assert(dataFiles(root) == before,
      "a row-level delete touched data files")
    assert(ids(SnapshotTable.read(spark, root, v2)) ==
      (0L until 60L).toSet -- Set(21L, 25L))
    assert(ids(SnapshotTable.read(spark, root, v1)) ==
      (0L until 60L).toSet, "time travel to pre-delete rows broke")
    // entry lists identical, stats inherited, chain scoped to bkt=1
    val (m1, m2) = (SnapshotTable.manifestAt(spark, root, v1),
      SnapshotTable.manifestAt(spark, root, v2))
    assert(m2.entries == m1.entries && m2.stats == m1.stats)
    val chains = m2.entries.zip(m2.dels).toMap
    assert(chains.filter(_._2.nonEmpty).keySet ==
      m1.entries.filter(_.contains("bkt=1")).toSet,
      s"delete chain not scoped: $chains")
    // the pruned read path applies the chain too
    assert(SnapshotTable.readWhere(spark, root, v2,
      Seq(SnapshotTable.Pred("id", "=", 21L))).count() == 0L)
    assert(SnapshotTable.readWhere(spark, root, v2,
      Seq(SnapshotTable.Pred("id", "=", 22L))).count() == 1L)
  }

  test("stacked deletes with DIFFERENT key columns compose; an " +
       "unscoped delete (no pcol in delKeys) attaches everywhere") {
    val root = freshRoot()
    val v1 = seed(root)
    import spark.implicits._
    val v2 = SnapshotTable.commitDelete(
      Seq((5L, 0L)).toDF("id", "bkt"), root, v1, Seq("id"))
    // delete by PAYLOAD value, unscoped: v = 300 is id 30 (bkt 1)
    val v3 = SnapshotTable.commitDelete(
      Seq(300L).toDF("v"), root, v2, Seq("v"))
    assert(ids(SnapshotTable.readLatest(spark, root)) ==
      (0L until 60L).toSet -- Set(5L, 30L))
    val m3 = SnapshotTable.manifestAt(spark, root, v3)
    assert(m3.entries.zip(m3.dels).forall { case (_, chain) =>
      chain.exists(_.keyCols == Seq("v")) },
      "unscoped delete must attach to every entry")
  }

  test("rewrites MATERIALIZE the chain: compact clears refs with " +
       "content unchanged; appendInto of a previously-deleted key " +
       "re-adds it (the appended entry carries no chain)") {
    val root = freshRoot()
    val v1 = seed(root)
    import spark.implicits._
    val v2 = SnapshotTable.commitDelete(
      Seq((40L, 2L), (41L, 2L)).toDF("id", "bkt"), root, v1, Seq("id"))
    val v3 = SnapshotTable.compact(spark, root, v2, "bkt",
      parts = Seq("2"))
    val m3 = SnapshotTable.manifestAt(spark, root, v3)
    assert(m3.entries.zip(m3.dels).forall { case (e, chain) =>
      if (e.contains("bkt=2")) chain.isEmpty else true },
      "compact did not materialize the delete chain")
    assert(ids(SnapshotTable.read(spark, root, v3)) ==
      (0L until 60L).toSet -- Set(40L, 41L))
    // re-append id 40 into bkt=2: the append adds a fresh entry
    // beside the compacted one, and a new entry carries no chain —
    // the new row must NOT be swallowed by any stale chain
    val v4 = SnapshotTable.appendInto(
      Seq((40L, 2L, 9999L)).toDF("id", "bkt", "v"), root, "bkt")
    assert(v4 == v3 + 1)
    val got = SnapshotTable.readLatest(spark, root)
      .filter(col("id") === 40L).collect()
    assert(got.length == 1 && got.head.getLong(2) == 9999L)
  }

  test("a dels-only concurrent change CONFLICTS a stale-base replace " +
       "of the same partition (resurrection safety), while a disjoint " +
       "partition still rebases through") {
    val root = freshRoot()
    val v1 = seed(root)
    import spark.implicits._
    // winner: delete inside bkt=0
    SnapshotTable.commitDelete(
      Seq((3L, 0L)).toDF("id", "bkt"), root, v1, Seq("id"))
    // stale-base replace of bkt=0 would resurrect id 3 — must conflict
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitReplace(
        Seq((0L, 0L, 0L), (1L, 0L, 10L)).toDF("id", "bkt", "v"),
        root, v1, "bkt")
    }
    assert(e.getMessage.contains("modified partition(s) 0"))
    // disjoint partition from the same stale base rebases and lands,
    // and the delete survives it
    val v3 = SnapshotTable.commitReplace(
      Seq((55L, 2L, 1L)).toDF("id", "bkt", "v"), root, v1, "bkt")
    assert(v3 == v1 + 2)
    assert(!ids(SnapshotTable.readLatest(spark, root)).contains(3L),
      "a rebase resurrected a deleted row")
  }

  test("vacuum refcounts delete files: referenced chains survive, " +
       "fully-dereferenced del dirs reclaim (aged), live-writer " +
       "horizon still guards young orphans") {
    val root = freshRoot()
    val v1 = seed(root)
    import spark.implicits._
    val v2 = SnapshotTable.commitDelete(
      Seq((10L, 0L)).toDF("id", "bkt"), root, v1, Seq("id"))
    def delDirs() = fs(root).listStatus(new Path(root)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("del-")).toSet
    assert(delDirs().size == 1)
    // keep v1 and v2: the chain is still referenced
    SnapshotTable.vacuum(spark, root, keepLast = 2, minAgeMs = 0L)
    assert(delDirs().size == 1, "vacuum ate a referenced delete file")
    assert(!ids(SnapshotTable.readLatest(spark, root)).contains(10L))
    // materialize the delete, then drop the chain-bearing versions
    val v3 = SnapshotTable.compact(spark, root, v2, "bkt")
    assert(v3 == v2 + 1)
    SnapshotTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    assert(delDirs().isEmpty, "dereferenced delete file not reclaimed")
    assert(!ids(SnapshotTable.readLatest(spark, root)).contains(10L))
    // a YOUNG orphan del dir (live commitDelete mid-flight) survives a
    // default-horizon vacuum
    val orphan = new Path(s"$root/del-orphan-young")
    fs(root).mkdirs(orphan)
    SnapshotTable.vacuum(spark, root, keepLast = 1)
    assert(fs(root).exists(orphan),
      "vacuum ate a younger-than-horizon delete dir")
    SnapshotTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    assert(!fs(root).exists(orphan))
  }

  test("compactFragmented: the metadata-decided daemon policy compacts " +
       "ONLY over-threshold partitions (fragmented by appendInto), " +
       "leaves the rest verbatim, and is a no-op when nothing is " +
       "fragmented") {
    val root = freshRoot()
    import spark.implicits._
    // bucket 0: 12 rows rolled into single-row files (the fragmented
    // shape); bucket 1: one row, one file
    val seed = ((1L to 12L).map(i => (i, 0L, i)) :+ (100L, 1L, 100L))
      .toDF("id", "bkt", "v").repartition(col("bkt"))
      .sortWithinPartitions("bkt", "id")
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.get(key)
    val v1 = try {
      spark.conf.set(key, 1L)
      SnapshotTable.commitPartitioned(seed, root, 0L, "bkt")
    } finally spark.conf.set(key, prev)
    val before = SnapshotTable.manifestAt(spark, root, v1)
    val b1Before = before.entries.filter(_.contains("bkt=1"))
    assert(before.fileStats(before.entries.indexWhere(
      _.contains("bkt=0"))).size == 12,
      "seed should have fragmented bucket 0 into 12 recorded files")
    val v = SnapshotTable.compactFragmented(spark, root, "bkt",
      maxFiles = 3)
    assert(v.isDefined, "fragmented bucket 0 not detected")
    val after = SnapshotTable.manifestAt(spark, root, v.get)
    assert(after.fileStats(after.entries.indexWhere(
      _.contains("bkt=0"))).size == 1,
      "bucket 0 not compacted to one file")
    assert(after.entries.filter(_.contains("bkt=1")) == b1Before,
      "an under-threshold partition was rewritten")
    assert(SnapshotTable.readLatest(spark, root)
      .agg(count(lit(1)), sum("v")).head() ==
      spark.sql("SELECT CAST(13 AS BIGINT), CAST(178 AS BIGINT)").head(),
      "compaction changed content")
    // steady state: nothing left over threshold
    assert(SnapshotTable.compactFragmented(spark, root, "bkt",
      maxFiles = 3).isEmpty)
  }

  test("null-safe key matching: a NULL key tuple deletes NULL-key rows") {
    val root = freshRoot()
    import spark.implicits._
    val df = Seq((Some(1L), 0L, 10L), (None, 0L, 20L), (Some(3L), 1L, 30L))
      .toDF("id", "bkt", "v")
    val v1 = SnapshotTable.commitPartitioned(df, root, 0L, "bkt")
    val v2 = SnapshotTable.commitDelete(
      Seq(Option.empty[Long]).toDF("id"), root, v1, Seq("id"))
    val left = SnapshotTable.read(spark, root, v2)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(left == Set(10L, 30L), s"null-key delete missed: $left")
  }

  test("no cross-partition key bleed: when delKeys carries the " +
       "partition column beyond keyCols, the partition JOINS the match " +
       "key — a key aimed at partition B never deletes its twin in A") {
    val root = freshRoot()
    import spark.implicits._
    // ids 1 and 2 exist in BOTH partitions; the delete names (1, A)
    // and (2, B) — the pooled keys file attaches to both partitions,
    // and without the partition column in the join it would delete
    // id 2 from A and id 1 from B too
    val df = Seq((1L, 0L, 10L), (2L, 0L, 20L), (1L, 1L, 30L),
      (2L, 1L, 40L)).toDF("id", "bkt", "v")
    val v1 = SnapshotTable.commitPartitioned(df, root, 0L, "bkt")
    val v2 = SnapshotTable.commitDelete(
      Seq((1L, 0L), (2L, 1L)).toDF("id", "bkt"), root, v1, Seq("id"))
    val left = SnapshotTable.read(spark, root, v2)
      .select("id", "bkt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(left == Set((2L, 0L), (1L, 1L)),
      s"cross-partition key bleed: $left")
    // the recorded match key carries the partition column
    val m2 = SnapshotTable.manifestAt(spark, root, v2)
    assert(m2.dels.flatten.forall(_.keyCols == Seq("id", "bkt")),
      s"match key must include the partition column: ${m2.dels}")
  }

  test("key TYPES are validated like names: a delKeys column whose " +
       "type differs from the table's recorded type refuses loudly " +
       "instead of anti-joining through an implicit cast") {
    val root = freshRoot()
    val v1 = seed(root)
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete(Seq(21).toDF("id"), root, v1, Seq("id"))
    }
    assert(e.getMessage.contains("INT") &&
      e.getMessage.contains("BIGINT") &&
      e.getMessage.contains("cast"), e.getMessage)
    // a string key against a bigint column is the classic silent miss
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete(Seq("21").toDF("id"), root, v1,
        Seq("id"))
    }
    // an explicit cast to the recorded type passes
    val v2 = SnapshotTable.commitDelete(
      Seq(21).toDF("id").select(col("id").cast("long").as("id")),
      root, v1, Seq("id"))
    assert(!ids(SnapshotTable.read(spark, root, v2)).contains(21L))
  }

  test("reader-protocol guard: a dels-bearing manifest renames its " +
       "entry list to entriesv2, so a pre-dels binary's required-field " +
       "parse fails (loud/stale, never a scan without the chains); " +
       "dels-free manifests keep the legacy field") {
    val root = freshRoot()
    val v1 = seed(root)
    import spark.implicits._
    val v2 = SnapshotTable.commitDelete(
      Seq((21L, 1L)).toDF("id", "bkt"), root, v1, Seq("id"))
    def body(v: Long): String = {
      val in = fs(root).open(
        new Path(f"$root/_commits/v$v%08d.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val legacyRe = """"entries":\[""".r // the pre-dels reader's regex
    assert(legacyRe.findFirstIn(body(v1)).isDefined,
      "dels-free manifests must keep the legacy entries field")
    val delBody = body(v2)
    assert(delBody.contains("\"entriesv2\":[") &&
      legacyRe.findFirstIn(delBody).isEmpty,
      s"a pre-dels binary would read this without its chains: $delBody")
    // and a rewrite that materializes every chain returns to the
    // legacy field — old binaries resume reading at the next compact
    val v3 = SnapshotTable.compact(spark, root, v2, "bkt")
    assert(legacyRe.findFirstIn(body(v3)).isDefined,
      "materialized manifests should stay old-reader-compatible")
  }

  test("refusals: unknown delKeys column, missing key column, empty " +
       "keyCols, delete against an empty table") {
    val root = freshRoot()
    val v1 = seed(root)
    import spark.implicits._
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete(Seq(1L).toDF("nope"), root, v1,
        Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete(Seq(1L).toDF("v"), root, v1, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete(Seq(1L).toDF("id"), root, v1, Nil)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete(Seq(1L).toDF("id"), freshRoot(), 0L,
        Seq("id"))
    }
  }

  test("the graft-snapshot data source applies delete chains (the SQL " +
       "surface can never resurrect deleted rows)") {
    val root = freshRoot()
    val v1 = seed(root)
    import spark.implicits._
    SnapshotTable.commitDelete(
      Seq((7L, 0L), (33L, 1L)).toDF("id", "bkt"), root, v1, Seq("id"))
    val viaSql = spark.read.format("graft-snapshot")
      .option("path", root).load()
    assert(ids(viaSql) == (0L until 60L).toSet -- Set(7L, 33L))
    // and with a pushed filter over the deleted key
    assert(viaSql.filter(col("id") === 7L).count() == 0L)
  }
}
