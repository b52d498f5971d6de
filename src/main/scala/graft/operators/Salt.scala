package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys (SURVEY §4 / builder brief: "skewed
  * keys → salting or AQE skew-join").
  *
  * Two-phase salted aggregation: phase 1 aggregates on
  * (key, salt ∈ [0, buckets)) so a hot key's rows spread over
  * `buckets` reducers; phase 2 merges the partials per key. The same
  * two phases work for any algebraic aggregate (anything with an
  * associative merge, the same law the typed Aggregator encodes).
  * AQE's skew-join handling covers joins; this covers aggregation,
  * where AQE cannot split a single hot reduce key.
  *
  * The salt is derived from a row-distinguishing column via xxhash64 —
  * deterministic (no rand()), so results are reproducible and
  * retry-safe.
  */
object Salt {

  /** Salted count + exact (scaled-integer) sum per key. */
  def saltedCountSum(df: DataFrame, key: String, value: String,
                     saltFrom: String, buckets: Int = 32): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(col(saltFrom)), lit(buckets.toLong)))
    salted.groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"),
           sum(round(col(value) * 1e4).cast("long")).as("_s"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n"),
           (sum(col("_s")).cast("double") / 1e4).as("total"))
  }
}
