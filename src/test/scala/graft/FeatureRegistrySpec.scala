package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FeatureRegistry

/** A10 registry semantics: the catalog drives profiling, null rates
  * surface real absence, categorical shares are a distribution.
  */
class FeatureRegistrySpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private lazy val events = sources.Tables(spark, sf, "events")

  test("catalog registers every profiled feature with a kind") {
    val cat = FeatureRegistry.catalog(spark).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (FeatureRegistry.numericNames ++ FeatureRegistry.categoricalNames)
      .foreach(n => assert(cat.contains(n), s"$n missing from catalog"))
    assert(cat.values.toSet == Set("numeric", "categorical"))
  }

  test("numeric stats cover the registry and expose the lag null rate") {
    val stats = FeatureRegistry.numericStats(events).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats.keySet == FeatureRegistry.numericNames.toSet)
    // delta_prev is null exactly once per user (their first event)
    val nUsers = events.select("user_id").distinct().count()
    val d = stats("delta_prev")
    assert(d.getLong(1) - d.getLong(2) == nUsers)
    assert(d.getDouble(3) > 0.0)          // null_rate
    assert(stats("value").getDouble(3) == 0.0)
  }

  test("categorical shares sum to 1 per feature") {
    val shares = FeatureRegistry.valueCounts(events).collect()
      .groupBy(_.getString(0))
      .map { case (f, rows) => f -> rows.map(_.getDouble(3)).sum }
    assert(shares.keySet == FeatureRegistry.categoricalNames.toSet)
    shares.values.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }

  test("feature store round trip: persisted values audit back to the " +
       "source, files own disjoint feature spans") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_fstore_spec")
    val audit = graft.functions.FeatureStoreOps.roundTrip(events, dir)
      .collect().map(r => r.getString(1) -> r).toMap
    // every registered feature came back, with name/type recovered
    // through the definitions join (values carry only feature_id)
    assert(audit.keySet ==
      (FeatureRegistry.numericNames ++ FeatureRegistry.categoricalNames).toSet)
    val nEvents = events.count()
    audit.values.foreach { r =>
      assert(r.getLong(3) == nEvents)   // n_values: one row per event
      assert(r.getLong(5) == nEvents)   // n_entities
    }
    // numeric features persisted numerically, categorical as strings
    assert(audit("value").getString(2) == "numeric")
    assert(audit("event_type").getString(2) == "categorical")
    assert(!audit("value").isNullAt(6) && audit("event_type").isNullAt(6))
    // exact sum survives the parquet round trip bit-for-bit
    val directSum = events.agg(
      sum(round(col("value") * lit(1.0e4)).cast("long"))).head().getLong(0)
    assert(audit("value").getLong(6) == directSum)
    // range layout on feature_id: no two files share a feature
    val fileFeatures = spark.read
      .parquet(s"$dir/feature_values")
      .select(col("feature_id"), input_file_name().as("f"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1))
    fileFeatures.groupBy(_._1).values
      .foreach(fs => assert(fs.map(_._2).distinct.size == 1,
        "a feature's values spread across multiple files"))
  }
}
