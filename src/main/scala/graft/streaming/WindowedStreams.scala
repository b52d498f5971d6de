package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked streaming forms of the §2.4 window aggregations. The
  * aggregate bodies are the same graft.operators.WindowedAggs shapes;
  * these wrappers add event-time watermarks (§2.7: 5 s main / 10 s
  * analytics bounded out-of-orderness) so late data is dropped with
  * the reference's semantics and state is evicted by watermark rather
  * than external TTLs. Output mode `append` (emit on window close)
  * matches Flink's on-watermark firing (SURVEY §7.4.2).
  */
object WindowedStreams {

  /** A1: per-key sliding velocity (5 min / 1 min). */
  def slidingVelocity(events: DataFrame, key: String = "user_id",
                      ts: String = "ts",
                      watermark: String = "10 seconds"): DataFrame =
    events.withWatermark(ts, watermark)
      .groupBy(window(col(ts), "5 minutes", "1 minute"), col(key))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).as("total_value"),
           approx_count_distinct(col("event_type")).as("n_types_approx"))

  /** A3: 30-min-gap session windows per key. */
  def sessions(events: DataFrame, key: String = "user_id",
               ts: String = "ts",
               watermark: String = "10 seconds"): DataFrame =
    events.withWatermark(ts, watermark)
      .groupBy(session_window(col(ts), "30 minutes"), col(key))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** J3: watermarked stream–stream interval join (same predicate
    * shape as the batch Joins.intervalJoin).
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
                         ts: String, watermark: String = "10 seconds"): DataFrame = {
    val a = left.withWatermark(ts, watermark)
      .select(col(key).as("k"), col(ts).as("ts_a"), col("event_id").as("eid_a"))
    val b = right.withWatermark(ts, watermark)
      .select(col(key).as("k2"), col(ts).as("ts_b"), col("event_id").as("eid_b"))
    a.join(b, col("k") === col("k2") &&
      col("ts_b") > col("ts_a") &&
      col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES"))
  }
}
