package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming semantics that batch oracles can't express (SURVEY §2.B
  * S4–S6 and §5.2-5): batch-vs-stream equivalence, watermark late-data
  * drop, stateful dedup, arbitrary state across micro-batches. */
class StreamingSpec extends SparkSpec {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

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

  test("S10 foreachBatch upsert: micro-batches MERGE into the catalog") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s10").toString
    val catPath = s"$dir/cat"
    Seq(("L", "0.0,5.0", "a", "1"), ("M", "0.0,9.0", "m", "4"))
      .toDF("name", "input_ranges", "range_labels", "output_values")
      .write.parquet(catPath)
    val input = MemoryStream[(String, String, String, String)](spark)
    val updates = input.toDF()
      .toDF("name", "input_ranges", "range_labels", "output_values")
    val q = Streams.catalogUpsert(updates, catPath, s"$dir/ckpt")
    try {
      // batch 1 carries TWO updates for L — the upsert must reduce to
      // one row per name (max-struct), never fan the merge join out
      input.addData(("L", "0.0,10.0", "a1", "5"),
                    ("L", "0.0,11.0", "a2", "7"))
      q.processAllAvailable()
      input.addData(("N", "1.0,2.0", "n", "3"))   // batch 2: insert N
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(catPath)
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("L", "0.0,11.0"),  // ONE L row: the max-struct pick, no dup fanout
      ("M", "0.0,9.0"),   // untouched row carried through both merges
      ("N", "1.0,2.0")))  // batch-2 insert landed
  }

  test("S16 streaming MV refresh: the view after N micro-batches equals " +
       "the full recompute, and batch 1 bootstraps it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s16").toString
    val viewPath = s"$dir/mv"
    val input = MemoryStream[(String, Double)](spark)
    val rows = input.toDF().toDF("flag", "price")
    val q = Streams.mvRefreshStream(rows, viewPath, Seq("flag"),
      round(col("price") * 100).cast("long"), s"$dir/ckpt")
    val b1 = Seq(("A", 1.10), ("A", 2.30), ("B", 5.00))
    val b2 = Seq(("A", 0.60), ("C", 9.99))   // A merges, C is view-new
    try {
      input.addData(b1: _*)   // no view exists yet — bootstrap
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(viewPath)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(afterB1 == Set(("A", 2L, 340L, 230L), ("B", 1L, 500L, 500L)))
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(viewPath)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // == Mv.partials over everything the stream ever carried
    val full = graft.catalog.Mv.partials(
        (b1 ++ b2).toDF("flag", "price"), Seq("flag"),
        round(col("price") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == full)
    assert(got == Set(("A", 3L, 400L, 230L), ("B", 1L, 500L, 500L),
      ("C", 1L, 999L, 999L)))
  }

  test("S17 streaming DQ profile: counts and distinct estimates after " +
       "N micro-batches equal the full recompute") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s17").toString
    val viewPath = s"$dir/profile"
    val input = MemoryStream[(Long, String)](spark)
    val rows = input.toDF().toDF("user_id", "event_type")
      .select(col("user_id"),
        when(col("event_type") =!= "none", col("event_type")).as("event_type"))
    val q = Streams.profileStream(rows, viewPath,
      Seq("user_id", "event_type"), s"$dir/ckpt")
    val b1 = (1L to 40L).map(i => (i, if (i % 5 == 0) "none" else s"t${i % 3}"))
    val b2 = (30L to 70L).map(i => (i, s"t${i % 4}"))  // overlaps b1's ids
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def read(df: org.apache.spark.sql.DataFrame) = df
      .select(col("col_name"), col("n_rows"), col("n_null"),
        expr("cast(round(hll_sketch_estimate(sk)) as long)").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val got = read(spark.read.parquet(viewPath))
    // full recompute over everything the stream ever carried — counts
    // must match exactly; the sketches are in exact (coupon) mode at
    // this cardinality, so union-of-batch-sketches == one-pass sketch
    val all = (b1 ++ b2).toDF("user_id", "event_type")
      .select(col("user_id"),
        when(col("event_type") =!= "none", col("event_type")).as("event_type"))
    val full = read(graft.catalog.Mv.profilePartials(all,
      Seq("user_id", "event_type")))
    assert(got == full)
    // ground truth: 81 rows, 8 nulls in event_type, 70 distinct users,
    // 4 distinct types (t0..t2 from b1, t0..t3 from b2)
    assert(got == Set(("user_id", 81L, 0L, 70L),
                      ("event_type", 81L, 8L, 4L)))
  }

  test("S16 replay idempotence: re-applying a committed batch id is a " +
       "no-op, never a double-count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s16r").toString
    val viewPath = s"$dir/mv"
    val cents = round(col("price") * 100).cast("long")
    val b1 = Seq(("A", 1.00), ("B", 2.00)).toDF("flag", "price")
    Streams.applyMvBatch(b1, viewPath, Seq("flag"), cents, batchId = 0L)
    def read() = spark.read.parquet(viewPath)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val once = read()
    assert(once == Set(("A", 1L, 100L, 100L), ("B", 1L, 200L, 200L)))
    // the at-least-once replay: same batch, same id — swap committed,
    // checkpoint didn't. Must not fold a second time.
    Streams.applyMvBatch(b1, viewPath, Seq("flag"), cents, batchId = 0L)
    assert(read() == once, "replayed batch double-counted into the view")
    // a genuinely new batch still applies
    Streams.applyMvBatch(Seq(("A", 0.50)).toDF("flag", "price"),
      viewPath, Seq("flag"), cents, batchId = 1L)
    assert(read() == Set(("A", 2L, 150L, 100L), ("B", 1L, 200L, 200L)))
  }

  test("S16 crash recovery: a mid-swap crash (live gone, backup at " +
       ".old-N) is recovered, never rebuilt from the batch alone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s16c").toString
    val viewPath = s"$dir/mv"
    val cents = round(col("price") * 100).cast("long")
    Streams.applyMvBatch(Seq(("A", 1.00)).toDF("flag", "price"),
      viewPath, Seq("flag"), cents, batchId = 0L)
    // simulate the crash window between stageAndSwap's two renames:
    // live moved aside, promote never happened
    val fs = new org.apache.hadoop.fs.Path(viewPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(viewPath),
      new org.apache.hadoop.fs.Path(s"$viewPath.old-1")))
    // restart replays batch 1: history must survive the recovery
    Streams.applyMvBatch(Seq(("A", 0.25)).toDF("flag", "price"),
      viewPath, Seq("flag"), cents, batchId = 1L)
    val got = spark.read.parquet(viewPath)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(("A", 2L, 125L, 100L)),
      s"batch-0 history lost in recovery: $got")
  }

  test("S13 streaming LSH ingest: batch 2 finds its near-dup in batch 1 " +
       "purely via the maintained index") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s13").toString
    val (idx, corpus, pairs) = (s"$dir/idx", s"$dir/corpus", s"$dir/pairs")
    // seed: a base corpus, indexed, mutually dissimilar
    val base = (1 to 10).map(i =>
      (i.toLong, (1 to 12).map(w => s"b${i}w$w").mkString(" ")))
      .toDF("doc_id", "text")
    base.write.parquet(corpus)
    graft.llm.Dedup.bandSignatures(base, col("doc_id"), col("text"))
      .write.parquet(idx)
    // pairs sink must exist with the right schema for the final read
    spark.emptyDataset[(Long, Long, Double)]
      .toDF("a_id", "b_id", "jaccard").write.parquet(pairs)
    val t1 = (1 to 12).map(w => s"s$w").mkString(" ")
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.lshIngestStream(input.toDF().toDF("doc_id", "text"),
      idx, corpus, pairs, s"$dir/ckpt")
    try {
      input.addData((100L, t1))          // batch 1: brand-new doc
      q.processAllAvailable()
      input.addData((200L, t1 + " x"))   // batch 2: near-dup of batch 1
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // only one pair ever: (100, 200), found on ingest 2 via the index
    // maintained by ingest 1 (t1 has 10 shingles, batch 2 adds one)
    assert(got.toSeq == Seq((100L, 200L, 10.0 / 11.0)))
    // and the corpus table accreted both batches
    assert(spark.read.parquet(corpus).count() === 12L)
  }

  test("S11 transformWithState carries typed ValueState across batches") {
    import spark.implicits._
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.UserEvent](spark)
      val q = Streams.runningMaxTws(spark, input.toDS())
        .writeStream.format("memory").queryName("s11tws")
        .outputMode("update").start()
      try {
        input.addData(Streams.UserEvent(1L, 1L, 3.0),
          Streams.UserEvent(1L, 2L, 7.0), Streams.UserEvent(2L, 3L, 5.0))
        q.processAllAvailable()
        input.addData(Streams.UserEvent(1L, 4L, 4.0)) // below user 1's max
        q.processAllAvailable()
        val got = spark.table("s11tws")
          .groupBy("user_id").agg(max("n").as("n"), max("max_value").as("mx"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1)
        // state carried: user 1 counted 3 events across 2 batches and
        // kept the batch-1 max; user 2 untouched by batch 2
        assert(got.toSeq == Seq((1L, 3L, 7.0), (2L, 1L, 5.0)))
      } finally q.stop()
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("S18 event-time timers close idle sessions and clear state") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.TimedEvent](spark)
      val q = Streams.idleCloseTws(spark, input.toDS(), gapMs = 5000L)
        .writeStream.format("memory").queryName("s18timer")
        .outputMode("append").start()
      try {
        // user 1 is active at 1-2 s, user 2 at 3 s; gap = 5 s
        input.addData(Streams.TimedEvent(1L, ts(1), 1.0),
          Streams.TimedEvent(1L, ts(2), 2.0),
          Streams.TimedEvent(2L, ts(3), 3.0))
        q.processAllAvailable()
        // batch 2 moves only user 2; its max ts drives the watermark
        input.addData(Streams.TimedEvent(2L, ts(20), 4.0))
        q.processAllAvailable()
        // batch 3: watermark is now 20 s > user 1's 2+5 s timer — it
        // fires, emits the closed session, clears user 1's state
        input.addData(Streams.TimedEvent(2L, ts(30), 5.0))
        q.processAllAvailable()
        val got = spark.table("s18timer").as[Streams.ClosedSession]
          .collect().sortBy(_.user_id)
        assert(got.exists(s => s.user_id == 1L && s.n == 2L &&
          s.closed_at_ms == 7000L),
          s"user 1's idle session must close by timer, got " +
            got.mkString(", "))
        // user 2 kept re-arming while active: at most its 8 s timer
        // (3+5) fired before its 20 s event re-opened a session
        assert(!got.exists(s => s.user_id == 2L && s.closed_at_ms > 8000L))
        // a fresh user-1 event after the close starts a NEW session:
        // state was cleared, so the count restarts from this event
        input.addData(Streams.TimedEvent(1L, ts(31), 6.0),
          Streams.TimedEvent(2L, ts(40), 7.0))
        q.processAllAvailable()
        input.addData(Streams.TimedEvent(2L, ts(50), 8.0))
        q.processAllAvailable()
        val reopened = spark.table("s18timer").as[Streams.ClosedSession]
          .collect().filter(s => s.user_id == 1L && s.closed_at_ms > 7000L)
        assert(reopened.map(_.n).toSeq == Seq(1L),
          s"the reopened session counts only post-close events, got " +
            reopened.mkString(", "))
      } finally q.stop()
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("S12 stream-static enrichment join equals the batch join") {
    import spark.implicits._
    val dim = Seq(("click", 1), ("purchase", 10), ("error", -1))
      .toDF("event_type", "weight")
    val rows = Seq((1L, "click"), (2L, "purchase"), (3L, "scroll"))
    // the USING join puts event_type first — read columns by name
    def shape(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("event_id"), Option(r.get(r.fieldIndex("weight"))))
    val batch = Streams.enrichWithDim(
        rows.toDF("event_id", "event_type"), dim)
      .collect().map(shape).toSet
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.enrichWithDim(
        input.toDF().toDF("event_id", "event_type"), dim)
      .writeStream.format("memory").queryName("s12enrich")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val got = spark.table("s12enrich").collect().map(shape).toSet
      assert(got == batch)
      // the unmatched type survives the left join with a null weight
      assert(got.contains((3L, None)))
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

  test("S14 left-outer stream-stream join: unmatched clicks emit with a " +
       "NULL purchase only after the watermark closes their window") {
    import spark.implicits._
    val cIn = MemoryStream[(Long, Long, Long, Double)](spark)
    val pIn = MemoryStream[(Long, Long, Long, Double)](spark)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "mins", "user_id", "value")
        .select(col("event_id"),
                timestamp_millis(col("mins") * 60000).as("ts"),
                col("user_id"))
    val q = Streams.clickPurchaseLeftJoin(shape(cIn.toDF()), shape(pIn.toDF()))
      .writeStream.format("memory").queryName("s14join")
      .outputMode("append").start()
    try {
      // click 1 converts; click 2 (user 2) never will
      cIn.addData((1L, 100L, 1L, 0.0), (2L, 100L, 2L, 0.0))
      q.processAllAvailable()
      pIn.addData((10L, 110L, 1L, 9.0))
      q.processAllAvailable()
      val early = spark.table("s14join")
        .collect().map(r => (r.getLong(0), r.isNullAt(2)))
      // the matched row may emit, but click 2's NULL row must NOT have:
      // its 30-minute window is still open
      assert(!early.exists(x => x._1 == 2L && x._2),
        s"NULL row emitted before the watermark closed the window: " +
        early.mkString(","))
      // advance both watermarks far past click 2's window + delay
      cIn.addData((3L, 500L, 9L, 0.0))
      pIn.addData((11L, 500L, 9L, 9.0))
      q.processAllAvailable()
      val got = spark.table("s14join")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
        .toSet
      assert(got.contains((1L, 10L)), s"matched pair missing: $got")
      assert(got.contains((2L, -1L)),
        s"unmatched click never emitted with NULL: $got")
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
    val streamed = Streams.tumblingWatermarked(
      input.toDF().toDF("mins", "value")
        .select(timestamp_millis(col("mins") * 60000).as("ts"), col("value")))
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

  test("S5 dropDuplicatesWithinWatermark removes repeated event ids") {
    import spark.implicits._
    val input = MemoryStream[(Long, Long, Long, Double)](spark)
    val streamed = Streams.dedupWithinWatermark(
      input.toDF().toDF("event_id", "mins", "user_id", "value")
        .select(col("event_id"), timestamp_millis(col("mins") * 60000).as("ts"),
                col("user_id"), col("value")))
    val q = streamed.writeStream.format("memory").queryName("s5dd")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, 0L, 1L, 1.0), (1L, 1L, 1L, 1.0), (2L, 2L, 1L, 2.0)))
      q.processAllAvailable()
      input.addData(Seq((2L, 3L, 1L, 2.0), (3L, 4L, 2L, 3.0)))
      q.processAllAvailable()
      val ids = spark.table("s5dd").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("S9 streaming ingest gate: dedup + length/repetition gates + PII " +
       "redaction on a document stream") {
    import spark.implicits._
    val input = MemoryStream[(Long, Long, String)](spark)
    val streamed = Streams.docIngestGate(
      input.toDF().toDF("doc_id", "mins", "text")
        .select(col("doc_id"), timestamp_millis(col("mins") * 60000).as("ts"),
                col("text")))
    val q = streamed.writeStream.format("memory").queryName("s9gate")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, 100L, "alpha beta gamma delta epsilon"),   // clean -> kept
        (2L, 101L, "alpha beta gamma delta epsilon"),   // exact dup -> drop
        (3L, 102L, "too short"),                        // length gate
        (4L, 103L, "spam spam spam spam spam spam"),    // repetition gate
        (5L, 104L, "mail bob@example.org now please friend"))) // redacted
      q.processAllAvailable()
      input.addData(Seq(
        (6L, 105L, "alpha beta gamma delta epsilon"),   // replay in horizon
        (7L, 106L, "one two three four five six")))     // kept
      q.processAllAvailable()
      val rows = spark.table("s9gate")
        .select("doc_id", "text", "n_redactions")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(1L, 5L, 7L))
      val redacted = rows.find(_._1 == 5L).get
      assert(redacted._2 == "mail <EMAIL> now please friend")
      assert(redacted._3 == 1L)
      assert(rows.filter(_._1 != 5L).forall(_._3 == 0L))
    } finally q.stop()
  }

  test("S6 mapGroupsWithState carries per-user state across micro-batches") {
    import spark.implicits._
    val input = MemoryStream[Streams.UserEvent](spark)
    val q = Streams.runningTotals(spark, input.toDS())
      .writeStream.format("memory").queryName("s6st")
      .outputMode("update").start()
    try {
      input.addData(Streams.UserEvent(1L, 0L, 1.0), Streams.UserEvent(1L, 1L, 2.0))
      q.processAllAvailable()
      input.addData(Streams.UserEvent(1L, 2L, 4.0), Streams.UserEvent(2L, 3L, 8.0))
      q.processAllAvailable()
      val byBatchLatest = spark.table("s6st")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // user 1: first batch (2, 3.0), second batch carries state -> (3, 7.0)
      assert(byBatchLatest.contains((1L, 2L, 3.0)))
      assert(byBatchLatest.contains((1L, 3L, 7.0)))
      assert(byBatchLatest.contains((2L, 1L, 8.0)))
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

  test("S19 streaming Misra-Gries keeps O(k) state and never loses a " +
       "true heavy hitter across micro-batches") {
    import spark.implicits._
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val k = 3
      val input = MemoryStream[Streams.TokEvent](spark)
      val q = Streams.mgTws(spark, input.toDS(), k)
        .writeStream.format("memory").queryName("s19mg")
        .outputMode("update").start()
      try {
        // key 1: 60 tokens across two batches — "hot" appears 24 times
        // (> 60/(k+1) = 15), the rest is a spread of rare tokens that
        // would blow past k counters if state were unbounded
        val rare = (1 to 18).map(i => Streams.TokEvent(1L, s"r$i"))
        val hot1 = Seq.fill(10)(Streams.TokEvent(1L, "hot"))
        input.addData(scala.util.Random.shuffle(rare ++ hot1): _*)
        q.processAllAvailable()
        val rare2 = (19 to 36).map(i => Streams.TokEvent(1L, s"r$i"))
        val hot2 = Seq.fill(14)(Streams.TokEvent(1L, "hot"))
        input.addData(scala.util.Random.shuffle(rare2 ++ hot2): _*)
        q.processAllAvailable()
        val finalToks = spark.table("s19mg").as[Streams.SketchRow]
          .collect().filter(_.key == 1L)
        assert(finalToks.nonEmpty)
        // memory sink in update mode appends per-batch snapshots; the
        // final snapshot is the rows whose counts reflect batch 2
        assert(finalToks.map(_.tok).distinct.length <= 2 * k + 1,
          "snapshots stay sketch-sized")
        assert(finalToks.exists(_.tok == "hot"),
          "the >n/(k+1) token must survive in the sketch")
        // and the batch-side aggregator agrees on the same stream: the
        // one-primitive-two-regimes contract
        val batchCand = graft.llm.HeavyHitters.heavyHitters(
          (rare ++ hot1 ++ rare2 ++ hot2).toDF("key", "text")
            .select(col("text")), col("text"), k)
          .collect().map(_.getString(0))
        assert(batchCand.contains("hot"))
      } finally q.stop()
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("S20 snapshot-committing upsert: each batch is a committed " +
       "version, stream history time-travels, replay is idempotent") {
    import spark.implicits._
    import graft.catalog.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_s20").toString
    val root = s"$dir/tbl"
    val input = MemoryStream[(String, Long)](spark)
    val updates = input.toDF().toDF("k", "v")
    val q = Streams.snapshotUpsert(updates, root, Seq("k"), s"$dir/ckpt")
    try {
      input.addData(("a", 1L), ("a", 3L), ("b", 5L)) // dup key a: max wins
      q.processAllAvailable()
      input.addData(("b", 7L), ("c", 9L))
      q.processAllAvailable()
    } finally q.stop()
    def state(v: Long): Seq[(String, Long)] =
      SnapshotTable.read(spark, root, v).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(SnapshotTable.committedVersions(spark, root) == Seq(1L, 2L))
    // version 1 = state after batch 0, readable AFTER batch 1 landed
    assert(state(1L) == Seq(("a", 3L), ("b", 5L)))
    assert(state(2L) == Seq(("a", 3L), ("b", 7L), ("c", 9L)))
    // replay batch 1 (checkpoint rolled back): the manifest tag makes
    // it a no-op — no version 3, same state
    val replayed = Streams.snapshotApply(
      Seq(("b", 7L), ("c", 9L)).toDF("k", "v"), root, Seq("k"), batchId = 1L)
    assert(replayed == 2L)
    assert(SnapshotTable.currentVersion(spark, root) == 2L)
    assert(state(2L) == Seq(("a", 3L), ("b", 7L), ("c", 9L)))
    // a genuinely NEW batch still lands
    val v3 = Streams.snapshotApply(
      Seq(("a", 10L)).toDF("k", "v"), root, Seq("k"), batchId = 2L)
    assert(v3 == 3L)
    assert(state(3L) == Seq(("a", 10L), ("b", 7L), ("c", 9L)))
    // a FOREIGN writer's tagged commit lands on top — the monotonic
    // latest-tag shortcut is blind to it, so a replayed batch must fall
    // back to the full tag map and SKIP instead of re-committing (the
    // version-per-batch invariant, not just state idempotence)
    SnapshotTable.commit(
      SnapshotTable.readLatest(spark, root), root, 3L,
      tag = Some("maintenance-compact"))
    val replayedUnderForeign = Streams.snapshotApply(
      Seq(("a", 10L)).toDF("k", "v"), root, Seq("k"), batchId = 2L)
    assert(replayedUnderForeign == 3L,
      "replay under a foreign latest tag must resolve to the original " +
      "batch version")
    assert(SnapshotTable.currentVersion(spark, root) == 4L,
      "replay under a foreign latest tag re-committed a duplicate version")
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
