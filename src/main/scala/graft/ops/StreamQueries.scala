package graft.ops

import graft._
import graft.stream.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S1–S3 and S7 declared as batch-equivalence queries: each runs the
  * SAME [[Streams]] transform used for streams, executed in batch mode
  * over the events fixture, hash-checked against DuckDB. A watermark's
  * late-data drop (S4) is not batch-expressible: StreamingSpec drives
  * [[Streams.tumbling]] on a watermarked MemoryStream instead. */
object StreamQueries {

  def s1(s: SparkSession, dir: String): DataFrame =
    Streams.tumbling(table(s, dir, "events"))

  def s2(s: SparkSession, dir: String): DataFrame =
    Streams.sliding(table(s, dir, "events"))

  def s3(s: SparkSession, dir: String): DataFrame =
    Streams.sessions(table(s, dir, "events"))

  /** S7: the stream-stream interval join run in batch mode over the
    * events fixture (clicks × purchases of the same user within 30
    * minutes) — same transform code the streaming test drives with
    * MemoryStream inputs, hash-checked here against a plain SQL
    * interval join. */
  def s7(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    Streams.clickPurchaseJoin(
      ev.filter(org.apache.spark.sql.functions.col("event_type") === "click"),
      ev.filter(org.apache.spark.sql.functions.col("event_type") === "purchase"))
  }

  lazy val (queries, oracle) = registry(declared)

  private[ops] val declared: Seq[Query] = Seq(
    Query("s1_tumbling", s1,
      """SELECT ws_us, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        |FROM (SELECT epoch_us(ts) - epoch_us(ts) % 600000000 AS ws_us, value
        |      FROM events)
        |GROUP BY 1""".stripMargin),
    Query("s2_sliding", s2,
      """SELECT ws_us, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        |FROM (SELECT (epoch_us(ts) // 300000000 - k.k) * 300000000 AS ws_us,
        |             value
        |      FROM events, (SELECT unnest([0, 1]) AS k) k)
        |GROUP BY 1""".stripMargin),
    Query("s3_session", s3,
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS t, value,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (SELECT *, CASE WHEN prev IS NULL OR t - prev >= 1800000000
        |                     THEN 1 ELSE 0 END AS new_s FROM o),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM m)
        |SELECT user_id, min(t) AS session_start_us, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        |FROM s GROUP BY user_id, sid""".stripMargin),
    Query("s7_stream_join", s7,
      """SELECT p.event_id AS purchase_id, c.user_id, c.event_id AS click_id,
        |  epoch_us(c.ts) AS click_ts_us, epoch_us(p.ts) AS purchase_ts_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'""".stripMargin)
  )
}
