package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExactAgg._

/** Dimension enrichment — the Spark-native replacement for the
  * reference's per-event Redis point lookups
  * (reference: services/flink-jobs/.../TransactionProcessor.java:97-138,
  * RedisService.java:83-122). A per-row RPC becomes a broadcast-hash
  * LEFT join + column defaults: no network hop per record, and at
  * 100 TB the dimension side (users/merchants ~10⁴–10⁷ rows) still
  * broadcasts, so the fact stream is never shuffled for enrichment.
  */
object Enrichment {

  /** LEFT-join `facts` to a (small) `dim` on `keys`, then fill the
    * miss-path with defaults — mirroring the reference's
    * "default profile on cache miss"
    * (TransactionProcessor.java:489-508).
    *
    * @param defaults column → default value applied via coalesce
    */
  def withDefaults(facts: DataFrame, dim: DataFrame, keys: Seq[String],
                   defaults: Map[String, Column]): DataFrame = {
    val joined = facts.join(broadcast(dim), keys, "left")
    defaults.foldLeft(joined) { case (df, (name, default)) =>
      df.withColumn(name, coalesce(col(name), default))
    }
  }

  /** Orders enriched with customer attributes, aggregated per market
    * segment; misses get segment UNKNOWN / risk 0.5 (J1 semantics).
    */
  def ordersBySegment(orders: DataFrame, customer: DataFrame): DataFrame = {
    val enriched = withDefaults(
      orders, customer.withColumnRenamed("c_custkey", "o_custkey"),
      Seq("o_custkey"),
      Map("c_mktsegment" -> lit("UNKNOWN"),
          "c_acctbal"    -> lit(5000.0)))
    enriched
      .withColumn("cust_risk", col("c_acctbal") / lit(10000.0))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_amount"),
        davg(col("cust_risk"), scale = 6).as("avg_cust_risk"))
  }
}

/** Multi-way star join + aggregation (the oracle surface's stand-in
  * for the reference's enrich-then-aggregate pipelines). Small dims
  * (region/nation/customer) are broadcast so the only shuffle is the
  * final groupBy — the plan that survives a 100× scale-up.
  */
object StarJoin {
  def revenueByNation(region: DataFrame, nation: DataFrame,
                      customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame): DataFrame = {
    val dims = broadcast(
      customer
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name")))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
  }
}

/** TPC-H Q3 shape: filtered 3-way join → per-order revenue → top-10
  * with deterministic tie-break. ORDER BY + LIMIT on an exact-sum
  * revenue column, ordered set stable across engines.
  */
object ShippingPriority {
  def topOrders(customer: DataFrame, orders: DataFrame,
                lineitem: DataFrame, segment: String = "BUILDING",
                n: Int = 10): DataFrame = {
    import graft.functions.ExactAgg._
    val cutoff = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    customer.filter(col("c_mktsegment") === segment)
      .join(orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(n)
  }
}

/** Grouping-sets surface (SURVEY §2.4 note: "the oracle surface
  * should still support them via vanilla Catalyst"): ROLLUP revenue
  * across the region/nation hierarchy.
  */
object Rollups {
  def revenueRollup(region: DataFrame, nation: DataFrame,
                    customer: DataFrame, orders: DataFrame,
                    lineitem: DataFrame): DataFrame = {
    import graft.functions.ExactAgg._
    val dims = broadcast(
      customer
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name")))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
           dsum(col("l_extendedprice")).as("revenue"))
  }
}

/** Last-N-per-key retention — Spark-native form of the reference's
  * Redis `lpush`+`ltrim` recent-transaction lists
  * (RedisService.java:296-321): row_number over a per-key
  * timestamp-desc window. One shuffle on the key; no global sort.
  */
object TopN {
  def recentPerKey(df: DataFrame, key: String, ts: String, tiebreak: String,
                   n: Int): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col(tiebreak).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Native two-phase top-N (graft.plans.TopKPerKeyNode): same rows as
    * [[recentPerKey]] minus the rank column, but the partial phase
    * bounds shuffle volume to n·keys per input partition instead of
    * shuffling every row into a per-key sort. Orders by (ts DESC,
    * tiebreak ASC); the unique tiebreak makes the row set
    * deterministic (and oracle-checkable).
    */
  def recentPerKeyNative(df: DataFrame, key: String, ts: String,
                         tiebreak: String, n: Int): DataFrame =
    topPerKeyNative(df, key, ts, tiebreak, n)

  /** Native top-N per key, ordered by (orderCol DESC, tiebreak ASC) —
    * the general spelling of [[recentPerKeyNative]]; also the output
    * bound for co-occurrence neighborhoods (Joins.coOccurrence).
    */
  def topPerKeyNative(df: DataFrame, key: String, orderCol: String,
                      tiebreak: String, n: Int,
                      maxPartialKeys: Int =
                        graft.plans.PartialTopKExec.DefaultMaxKeys)
      : DataFrame = {
    val spark = df.sparkSession
    graft.plans.GraftExtensions.useStrategy(spark, graft.plans.TopKStrategy)
    val analyzed = df.queryExecution.analyzed
    def attr(name: String) = analyzed.output
      .find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val order = Seq(SortOrder(attr(orderCol), Descending),
                    SortOrder(attr(tiebreak), Ascending))
    org.apache.spark.sql.graftshim.ColumnBridge.ofRows(spark,
      graft.plans.TopKPerKeyNode(Seq(attr(key)), order, n, analyzed,
        maxPartialKeys))
  }
}

/** Rule-score → (risk level, decision) CASE ladders, mirroring
  * TransactionProcessor.java:444-473 (≥0.9 DECLINE/CRITICAL,
  * ≥0.7 REVIEW/HIGH, ≥0.5 APPROVE/MEDIUM, else APPROVE/LOW).
  * Pure `when` chains — whole-stage-codegen'd, no UDF.
  */
object Decisions {
  def riskLevel(score: Column): Column =
    when(score >= 0.9, "CRITICAL")
      .when(score >= 0.7, "HIGH")
      .when(score >= 0.5, "MEDIUM")
      .otherwise("LOW")

  def decision(score: Column): Column =
    when(score >= 0.9, "DECLINE")
      .when(score >= 0.7, "REVIEW")
      .otherwise("APPROVE")

  /** Clamp to [0,1] — the reference's max(0,min(1,s)) idiom. */
  def clamp01(c: Column): Column = greatest(lit(0.0), least(lit(1.0), c))

  /** Demo ladder over orders: normalized price as the "score". */
  def orderDecisions(orders: DataFrame): DataFrame = {
    val score = clamp01(col("o_totalprice") / lit(500000.0))
    orders
      .withColumn("risk_level", riskLevel(score))
      .withColumn("decision", decision(score))
      .groupBy(col("risk_level"), col("decision"))
      .agg(count(lit(1)).as("n"),
           dsum(col("o_totalprice")).as("total_amount"))
  }
}
