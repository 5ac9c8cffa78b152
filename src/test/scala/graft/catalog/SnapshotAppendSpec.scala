package graft.catalog

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Blind appends: the batch is written once into its own data dir and
  * the manifest is the parent's entries plus the new ones. Concurrency
  * is staged through the commit arbiter — the first manifest create
  * lets a competing writer commit first, so the append loses a real
  * race. */
class SnapshotAppendSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("snapapp").toString + "/t"

  private def fs(root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(ps: (String, Long)*): DataFrame = {
    import spark.implicits._
    ps.map { case (p, id) => (p, id, id * 10) }.toDF("p", "id", "v")
  }

  private def state(root: String): Seq[(String, Long)] =
    SnapshotTable.readLatest(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

  /** Data dirs on disk that no committed manifest references. */
  private def orphans(root: String): Set[String] = {
    val live = SnapshotTable.committedVersions(spark, root)
      .flatMap(v => SnapshotTable.manifestAt(spark, root, v).entries)
      .map(e => e.substring(0, e.indexOf('/'))).toSet
    fs(root).listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("data-")).toSet -- live
  }

  /** Run `body` with an arbiter whose FIRST create runs `winner` (a
    * competing commit, through the default arbiter) before attempting
    * its own. */
  private def losingFirstRace[T](winner: => Any)(body: => T): T = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prev = SnapshotTable.installArbiter(new SnapshotTable.CommitArbiter {
      def createExclusive(f: FileSystem, path: Path, b: Array[Byte]): Unit = {
        if (fired.compareAndSet(false, true)) winner
        SnapshotTable.perSchemeArbiter.createExclusive(f, path, b)
      }
    })
    try body finally SnapshotTable.installArbiter(prev)
  }

  test("a pinned base that lost the commit race throws " +
       "ConcurrentModificationException and leaves no data dir") {
    val root = freshRoot()
    val v1 = SnapshotTable.commitPartitioned(rows("a" -> 1L, "b" -> 2L),
      root, 0L, "p")
    intercept[java.util.ConcurrentModificationException] {
      losingFirstRace(SnapshotTable.appendInto(rows("b" -> 3L), root, "p")) {
        SnapshotTable.appendInto(rows("a" -> 4L), root, "p",
          expectedBase = v1)
      }
    }
    assert(SnapshotTable.currentVersion(spark, root) == v1 + 1)
    assert(state(root) == Seq("a" -> 1L, "b" -> 2L, "b" -> 3L))
    assert(orphans(root).isEmpty, orphans(root))
    // a base that had already moved fails before writing anything
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.appendInto(rows("a" -> 5L), root, "p", expectedBase = v1)
    }
    assert(orphans(root).isEmpty, orphans(root))
  }

  test("a floating base rebases over a concurrent commitReplace of " +
       "another partition and of the same partition") {
    val root = freshRoot()
    val v1 = SnapshotTable.commitPartitioned(rows("a" -> 1L, "b" -> 2L),
      root, 0L, "p")
    val r0 = SnapshotTable.rebasesPerformed.get()
    val v3 = losingFirstRace(
        SnapshotTable.commitReplace(rows("b" -> 20L), root, v1, "p")) {
      SnapshotTable.appendInto(rows("a" -> 3L), root, "p")
    }
    assert(v3 == v1 + 2)
    assert(state(root) == Seq("a" -> 1L, "a" -> 3L, "b" -> 20L))
    // same partition: the replace wins, the append still lands on top
    val v5 = losingFirstRace(
        SnapshotTable.commitReplace(rows("a" -> 30L), root, v3, "p")) {
      SnapshotTable.appendInto(rows("a" -> 4L), root, "p")
    }
    assert(v5 == v3 + 2)
    assert(state(root) == Seq("a" -> 4L, "a" -> 30L, "b" -> 20L))
    assert(SnapshotTable.rebasesPerformed.get() - r0 == 2L)
    assert(orphans(root).isEmpty, orphans(root))
  }

  test("a compaction that read the pre-append state conflicts with the " +
       "append instead of dropping its rows") {
    val root = freshRoot()
    val v1 = SnapshotTable.commitPartitioned(rows("a" -> 1L, "b" -> 2L),
      root, 0L, "p")
    val v2 = SnapshotTable.appendInto(rows("a" -> 3L), root, "p")
    val e = intercept[java.util.ConcurrentModificationException] {
      losingFirstRace(SnapshotTable.appendInto(rows("a" -> 4L), root, "p")) {
        SnapshotTable.compact(spark, root, v2, "p", parts = Seq("a"))
      }
    }
    assert(e.getMessage.contains("modified partition(s) a"), e.getMessage)
    assert(state(root) == Seq("a" -> 1L, "a" -> 3L, "a" -> 4L, "b" -> 2L))
    // the same stale read committed directly conflicts the same way
    val pre = SnapshotTable.read(spark, root, v1).filter(col("p") === "a")
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitReplace(pre, root, v1, "p")
    }
    assert(state(root) == Seq("a" -> 1L, "a" -> 3L, "a" -> 4L, "b" -> 2L))
  }

  test("an append after commitDelete keeps the chain on the old entries " +
       "and leaves the new rows visible") {
    import spark.implicits._
    val root = freshRoot()
    val v1 = SnapshotTable.commitPartitioned(
      rows("a" -> 1L, "a" -> 2L, "b" -> 3L), root, 0L, "p")
    val v2 = SnapshotTable.commitDelete(Seq((2L, "a")).toDF("id", "p"),
      root, v1, Seq("id"))
    val v3 = SnapshotTable.appendInto(rows("a" -> 2L, "a" -> 5L), root, "p")
    assert(v3 == v2 + 1)
    val (m2, m3) = (SnapshotTable.manifestAt(spark, root, v2),
      SnapshotTable.manifestAt(spark, root, v3))
    // the parent's entries keep their chains verbatim; the new one has none
    m2.entries.zip(m2.dels).foreach { case (e, chain) =>
      assert(m3.dels(m3.entries.indexOf(e)) == chain, e) }
    val fresh = m3.entries.filterNot(m2.entries.contains)
    assert(fresh.length == 1 && m3.dels(m3.entries.indexOf(fresh.head)).isEmpty)
    assert(m2.dels.exists(_.nonEmpty))
    assert(state(root) == Seq("a" -> 1L, "a" -> 2L, "a" -> 5L, "b" -> 3L))
  }

  test("a NULL partition value is refused and leaves no entry or data " +
       "dir behind") {
    import spark.implicits._
    val root = freshRoot()
    val v1 = SnapshotTable.commitPartitioned(rows("a" -> 1L), root, 0L, "p")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.appendInto(
        Seq(("a", 2L, 20L), (null.asInstanceOf[String], 3L, 30L))
          .toDF("p", "id", "v"), root, "p")
    }
    assert(e.getMessage.contains("NULL p value"), e.getMessage)
    assert(SnapshotTable.currentVersion(spark, root) == v1)
    assert(orphans(root).isEmpty, orphans(root))
    assert(state(root) == Seq("a" -> 1L))
  }

  test("an empty batch is a no-op: no manifest, no tag, no data dir") {
    val root = freshRoot()
    val v1 = SnapshotTable.commitPartitioned(rows("a" -> 1L), root, 0L, "p")
    val empty = rows("a" -> 9L).filter(col("id") < 0L)
    assert(SnapshotTable.appendInto(empty, root, "p", Some("t-1")) == v1)
    assert(SnapshotTable.appendInto(empty, root, "p",
      expectedBase = v1) == v1)
    assert(SnapshotTable.committedVersions(spark, root) == Seq(v1))
    assert(SnapshotTable.committedTags(spark, root).isEmpty)
    assert(orphans(root).isEmpty, orphans(root))
  }
}
