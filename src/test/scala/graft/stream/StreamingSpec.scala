package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics that batch oracles can't express (SURVEY §2.B
  * S1, S4, S7, S15, S21 and §5.2-5): batch-vs-stream equivalence of the
  * declared [[Streams]] operators, a watermark's late-data drop, the
  * file source, checkpointed restart and the exactly-once
  * [[SnapshotSink]]. */
class StreamingSpec extends SparkSpec {

  private def eventsDf(rows: (Long, Long, Long, Double)*) = {
    import spark.implicits._
    rows.toDF("event_id", "mins", "user_id", "value")
      .select(col("event_id"), timestamp_millis(col("mins") * 60000).as("ts"),
              col("user_id"), col("value"))
  }

  test("S1 batch == stream for the tumbling aggregation") {
    import spark.implicits._
    val rows = Seq((1L, 0L, 1L, 1.0), (2L, 5L, 1L, 2.0), (3L, 12L, 2L, 4.0))
    val batch = Streams.tumbling(eventsDf(rows: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val input = MemoryStream[(Long, Long, Long, Double)](spark)
    val streamed = Streams.tumbling(
      input.toDF().toDF("event_id", "mins", "user_id", "value")
        .select(timestamp_millis(col("mins") * 60000).as("ts"), col("value")))
    val q = streamed.writeStream.format("memory").queryName("s1eq")
      .outputMode("complete").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val got = spark.table("s1eq")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("S7 stream-stream join: purchases match prior clicks in-window, " +
       "and equal the batch interval join") {
    import spark.implicits._
    // minute offsets start at 100: an event time EQUAL to the initial
    // watermark (epoch 0) is treated as expired state on insert
    val clicks = Seq((1L, 100L, 1L, 0.0), (2L, 120L, 1L, 0.0),
                     (3L, 100L, 2L, 0.0))
    val purchases = Seq((10L, 125L, 1L, 9.0), // joins clicks 1 (25m) & 2 (5m)
                        (11L, 140L, 2L, 9.0)) // click 3 is 40m back: outside
    val batch = Streams.clickPurchaseJoin(
        eventsDf(clicks: _*), eventsDf(purchases: _*))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(batch == Set((10L, 1L), (10L, 2L)))

    val cIn = MemoryStream[(Long, Long, Long, Double)](spark)
    val pIn = MemoryStream[(Long, Long, Long, Double)](spark)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "mins", "user_id", "value")
        .select(col("event_id"),
                timestamp_millis(col("mins") * 60000).as("ts"),
                col("user_id"))
    val q = Streams.clickPurchaseJoin(shape(cIn.toDF()), shape(pIn.toDF()))
      .writeStream.format("memory").queryName("s7join")
      .outputMode("append").start()
    try {
      // causal order, two micro-batches: clicks must be IN STATE before
      // the purchase batch advances the global watermark past their
      // event times, else the oldest click is late-dropped on arrival
      cIn.addData(clicks)
      q.processAllAvailable()
      pIn.addData(purchases)
      q.processAllAvailable()
      val got = spark.table("s7join")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("S15 file source: newly landed parquet files are picked up by the " +
       "running query, batch transform unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s15").toString
    val in = s"$dir/in"
    Seq((1L, "click", 1.0), (2L, "view", 2.0))
      .toDF("event_id", "event_type", "value").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    val streamed = spark.readStream.schema(schema).parquet(in)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val q = streamed.writeStream.format("memory").queryName("s15agg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val first = spark.table("s15agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(first == Map("click" -> 1L, "view" -> 1L))
      // a new file LANDS while the query runs — it must be ingested
      // without a restart (the micro-batch file listing picks it up)
      Seq((3L, "click", 3.0)).toDF("event_id", "event_type", "value")
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      val second = spark.table("s15agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(second == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("S4 watermark drops events later than the horizon") {
    import spark.implicits._
    val input = MemoryStream[(Long, Double)](spark)
    val streamed = Streams.tumbling(
      input.toDF().toDF("mins", "value")
        .select(timestamp_millis(col("mins") * 60000).as("ts"), col("value"))
        .withWatermark("ts", "10 minutes"))
    val q = streamed.writeStream.format("memory").queryName("s4wm")
      .outputMode("append").start()
    try {
      input.addData(Seq((0L, 1.0), (5L, 2.0)))   // window [0,10)
      q.processAllAvailable()
      input.addData(Seq((40L, 3.0)))             // advances watermark to 30min
      q.processAllAvailable()
      input.addData(Seq((1L, 100.0)))            // late: 1min << 30min horizon
      q.processAllAvailable()
      input.addData(Seq((80L, 4.0)))             // flush closable windows
      q.processAllAvailable()
      val finalized = spark.table("s4wm")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // the [0,10) window finalized WITHOUT the late 100.0 event
      val w0 = finalized.find(_._1 == 0L).get
      assert(w0._2 == 2L && w0._3 == 300L) // 3.00 as cents
    } finally q.stop()
  }

  test("S1 from a real parquet file source equals the batch result") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val batch = Streams.tumbling(graft.table(spark, dir, "events"))
      .collect().map(key).toSet
    assert(batch.nonEmpty)
    // the file source wants a directory: stage the fixture in a tmp dir
    val srcDir = java.nio.file.Files.createTempDirectory("graft-s1file")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    // same nanos-as-long schema and the SAME ts rebuild as the batch path
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val src = graft.rebuildEventTs(
      spark.readStream.schema(schema).parquet(srcDir.toString))
    val q = Streams.tumbling(src)
      .writeStream.format("memory").queryName("s1file")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(120000))
      val streamed = spark.table("s1file").collect().map(key).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("parquet sink + checkpoint: restart resumes exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val srcDir = root.resolve("src"); val outDir = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectory(srcDir)

    def addFile(name: String, ids: Range): Unit = {
      val tmp = root.resolve(s"stage_$name")
      ids.map(_.toLong).toDF("id").coalesce(1)
        .write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        srcDir.resolve(s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("id LONG").parquet(srcDir.toString)
      val q = src.select(col("id"), (col("id") * 2).as("doubled"))
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); q.stop()
    }

    addFile("a", 0 until 100)
    runOnce()
    // second batch lands AFTER the first run committed; the restarted
    // query must pick up exactly the new file — nothing lost, nothing
    // reprocessed
    addFile("b", 100 until 200)
    runOnce()

    val out = spark.read.parquet(outDir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 200, "each input row exactly once")
    assert(out.toSet == (0L until 200L).map(i => (i, i * 2)).toSet)
  }

  test("S21 exactly-once snapshot APPEND sink: micro-batches append at " +
       "commitReplace economics, replay and a racing twin are no-ops, " +
       "untouched partitions keep their files") {
    import spark.implicits._
    import graft.catalog.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_s21").toString
    val root = s"$dir/tbl"
    val input = MemoryStream[(String, Long)](spark)
    val rows = input.toDF().toDF("p", "v")
    val q = rows.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(SnapshotSink.exactlyOnce(root, "p") _)
      .start()
    try {
      input.addData(("a", 1L), ("b", 2L))
      q.processAllAvailable()
      input.addData(("a", 3L))          // touches only partition a
      q.processAllAvailable()
    } finally q.stop()
    def state(v: Long): Seq[(String, Long)] =
      SnapshotTable.read(spark, root, v).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(SnapshotTable.committedVersions(spark, root) == Seq(1L, 2L))
    assert(state(2L) == Seq(("a", 1L), ("a", 3L), ("b", 2L)))
    // append economics: batch 1 did not rewrite partition b
    val bFiles1 = SnapshotTable.read(spark, root, 1L).inputFiles.toSet
      .filter(_.contains("p=b"))
    val bFiles2 = SnapshotTable.read(spark, root, 2L).inputFiles.toSet
      .filter(_.contains("p=b"))
    assert(bFiles2 == bFiles1,
      "an append touching only partition a rewrote partition b")
    // at-least-once replay after a simulated restart: no-op
    SnapshotSink.exactlyOnce(root, "p")(Seq(("a", 3L)).toDF("p", "v"), 1L)
    assert(SnapshotTable.currentVersion(spark, root) == 2L)
    assert(state(2L) == Seq(("a", 1L), ("a", 3L), ("b", 2L)))
    // racing twin attempts of the SAME batch: exactly one commits
    // (arbiter), the loser resolves its conflict via the tag and stays
    // quiet; the data lands exactly once
    val batch2 = Seq(("b", 8L)).toDF("p", "v")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (1 to 2).map(_ => new Thread(() =>
      try SnapshotSink.exactlyOnce(root, "p")(batch2, 2L)
      catch { case t: Throwable => errs.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"twin race leaked: ${errs.peek()}")
    assert(SnapshotTable.currentVersion(spark, root) == 3L)
    assert(state(3L).count(_ == ("b", 8L)) == 1,
      "the twin race double-appended batch 2")
  }

  test("S21 an empty micro-batch on a non-empty table is a no-op, and " +
       "so is its replay") {
    import spark.implicits._
    import graft.catalog.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_s21empty").toString + "/tbl"
    val sink = SnapshotSink.exactlyOnce(root, "p") _
    sink(Seq(("a", 1L), ("b", 2L)).toDF("p", "v"), 0L)
    val empty = Seq.empty[(String, Long)].toDF("p", "v")
    sink(empty, 1L)
    assert(SnapshotTable.currentVersion(spark, root) == 1L)
    assert(SnapshotTable.committedTags(spark, root).keySet == Set("ingest-0"))
    sink(empty, 1L) // replay after a restart
    assert(SnapshotTable.currentVersion(spark, root) == 1L)
    sink(Seq(("a", 3L)).toDF("p", "v"), 2L)
    assert(SnapshotTable.currentVersion(spark, root) == 2L)
    assert(SnapshotTable.readLatest(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("a", 1L), ("a", 3L), ("b", 2L)))
  }

  test("S21 per-batch cost is O(1) manifest body reads regardless of " +
       "stream length (latestTag fast path, spec-counted), and a " +
       "foreign tag on top still resolves replays correctly") {
    import spark.implicits._
    import graft.catalog.SnapshotTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_s21cost").toString + "/tbl"
    def batch(i: Long) = Seq(("a", i)).toDF("p", "v")
    def reads[T](body: => T): Long = {
      val before = SnapshotTable.manifestBodyReads.get()
      body
      SnapshotTable.manifestBodyReads.get() - before
    }
    (0L until 8L).foreach(i => SnapshotSink.exactlyOnce(root, "p")(batch(i), i))
    val costAt8 = reads(SnapshotSink.exactlyOnce(root, "p")(batch(8L), 8L))
    (9L until 24L).foreach(i =>
      SnapshotSink.exactlyOnce(root, "p")(batch(i), i))
    val costAt24 = reads(SnapshotSink.exactlyOnce(root, "p")(batch(24L), 24L))
    assert(costAt24 <= costAt8,
      s"per-batch manifest reads grew with history: $costAt8 -> $costAt24")
    assert(costAt24 <= 10L,
      s"per-batch manifest reads not O(1): $costAt24 bodies")
    // replay of the LATEST batch — the common restart shape — is O(1)
    val replayCost = reads(SnapshotSink.exactlyOnce(root, "p")(batch(24L), 24L))
    assert(SnapshotTable.currentVersion(spark, root) == 25L)
    assert(replayCost <= 4L,
      s"latest-batch replay read $replayCost bodies — not O(1)")
    // an OUT-OF-ORDER old id (impossible within one checkpoint lineage)
    // pays the full scan by design: the tag is still committed here, so
    // it resolves to a no-op; cost is deliberately unbounded on this
    // rare path
    SnapshotSink.exactlyOnce(root, "p")(batch(3L), 3L)
    assert(SnapshotTable.currentVersion(spark, root) == 25L)
    // a FRESH checkpoint lineage against an old table (old id, tag NOT
    // committed) must refuse loudly — a silent append would duplicate
    // rows the snapshot still holds, a silent skip would lose data
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_s21fresh").toString + "/tbl"
    SnapshotSink.exactlyOnce(root2, "p")(batch(24L), 24L)
    val fresh = intercept[IllegalStateException] {
      SnapshotSink.exactlyOnce(root2, "p")(batch(3L), 3L)
    }
    assert(fresh.getMessage.contains("checkpoint"), fresh.getMessage)
    // a FOREIGN tagged commit on top makes the shortcut ambiguous: the
    // sink must fall back to the full scan and still treat the old
    // batch as committed (no double-append)
    SnapshotTable.commit(
      SnapshotTable.readLatest(spark, root), root, 25L, tag = Some("opt-1"))
    val n = SnapshotTable.readLatest(spark, root).count()
    SnapshotSink.exactlyOnce(root, "p")(batch(5L), 5L)
    assert(SnapshotTable.currentVersion(spark, root) == 26L,
      "a replay under a foreign tag double-appended")
    assert(SnapshotTable.readLatest(spark, root).count() == n)
    // a malicious/malformed 'ingest-' tag (empty numeric suffix) is a
    // FOREIGN tag, not an exception: the sink must not wedge on it
    SnapshotTable.commit(
      SnapshotTable.readLatest(spark, root), root, 26L,
      tag = Some("ingest-"))
    SnapshotSink.exactlyOnce(root, "p")(batch(5L), 5L) // no-op via scan
    assert(SnapshotTable.currentVersion(spark, root) == 27L)
    assert(SnapshotTable.readLatest(spark, root).count() == n)
  }
}
