package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming operators over the `events` shape: the tumbling,
  * sliding and session windows (SURVEY §2.B S1–S3) and the stream-stream
  * interval join (S7). The transforms are written against a DataFrame so
  * the SAME code path serves batch (oracle-checkable: `window`/
  * `session_window` work in batch mode) and `readStream` inputs —
  * batch-equivalence is the correctness argument for the streaming path
  * (SURVEY §5.2-5). [[graft.ops.StreamQueries]] declares each one as a
  * batch query; StreamingSpec drives them on streams, a watermarked
  * [[tumbling]] included. The exactly-once snapshot sink is
  * [[SnapshotSink]].
  *
  * Event time leaves as epoch microseconds (engine-portable), money sums
  * as decimal. At scale every aggregation below is keyed (window bucket,
  * user) — state partitions by key; watermarks bound state size. */
object Streams {

  /** Exact decimal value-sum rendered as BIGINT cents — money stays on
    * hash-stable primitives (bare DECIMAL renders "x.10" via one parquet
    * reader and "x.1" via a float64 bridge, failing byte-level compares). */
  private def sumCents =
    (sum(col("value").cast("decimal(18,2)")) * 100).cast("long")

  /** S1: tumbling 10-minute window — count + value sum per window. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sumCents.as("sum_value_cents"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("n"),
              col("sum_value_cents"))

  /** S2: sliding 10-minute window, 5-minute slide (each event lands in
    * two windows). */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sumCents.as("sum_value_cents"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("n"),
              col("sum_value_cents"))

  /** S3: per-user session windows with a 30-minute inactivity gap. */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), sumCents.as("sum_value_cents"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
              col("n"), col("sum_value_cents"))

  /** S7 (beyond §2.B): stream-stream inner join — each purchase joined to
    * the same user's clicks from the preceding 30 minutes. Both sides are
    * watermarked so the join state is bounded: a buffered click can be
    * dropped once the purchase-side watermark passes click_ts + 30 min.
    * In batch mode the same transform is a plain interval join, which is
    * the batch-equivalence argument (mirrors j7/j9's verified shapes). */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("interval 30 minutes"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
              unix_micros(col("click_ts")).as("click_ts_us"),
              unix_micros(col("purchase_ts")).as("purchase_ts_us"))
  }
}
