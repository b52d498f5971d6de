package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Multi-horizon rolling velocity counters — the Spark-native form of
  * the reference's Redis-incremented 5min/1h/24h per-user counters
  * (reference: sinks/RedisTransactionSink.java:87-135, read back in
  * FeatureExtractor.java:330-363). A per-event external INCR+read
  * becomes one pass of value-range window frames: each event sees the
  * exact count/sum of its key's events in (t−horizon, t], including
  * itself — the reference's read-your-writes semantics — with one
  * shuffle on the key and no external store.
  *
  * Frames are RANGE over epoch seconds (value-based), so results are
  * independent of tie order within a second — deterministic and
  * oracle-reproducible. Sums are cent-quantized BIGINT inside the
  * frame (see ExactAgg) for cross-engine bit-equality.
  */
object Velocity {

  /** horizons: (suffix, seconds). */
  val DefaultHorizons: Seq[(String, Long)] =
    Seq("5min" -> 300L, "1h" -> 3600L, "24h" -> 86400L)

  def multiHorizon(events: DataFrame, key: String = "user_id",
                   ts: String = "ts", value: String = "value",
                   horizons: Seq[(String, Long)] = DefaultHorizons): DataFrame = {
    val sec = col(ts).cast(LongType)
    val base = Window.partitionBy(col(key)).orderBy(sec)
    horizons.foldLeft(events) { case (df, (sfx, secs)) =>
      val w = base.rangeBetween(-secs, 0)
      df.withColumn(s"n_$sfx", count(lit(1)).over(w))
        .withColumn(s"amt_$sfx",
          sum(round(col(value) * lit(1e4)).cast(LongType)).over(w)
            .cast(DoubleType) / lit(1e4))
    }
  }
}
