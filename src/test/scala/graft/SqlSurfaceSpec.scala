package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The oracle SQL is written for DuckDB, but the ANSI core of it must
  * also run on Spark SQL against registered views and agree with the
  * DataFrame-API results — the "SQL surface" a reference user would
  * expect (`spark.sql(...)` parity).
  */
class SqlSurfaceSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private val ansiCompatible =
    Seq("q_star_revenue", "q_enrich_orders", "q_supplier_stats",
        "q_decision_ladder", "q_rollup_revenue",
        // round-2 additions: EXISTS/NOT EXISTS, correlated scalar
        // subquery, 6-table join, disjunctive predicates, full-outer
        // merge — all must also run as spark.sql text
        "q_order_priority", "q_sole_supplier", "q_max_order",
        "q_local_supplier", "q_disjunctive_rev", "q_merge_upsert",
        // round-3 additions: Q15 scalar-max view, Q20 correlated-agg
        // semi-join, Q22 scalar-avg + anti-join, Q17 correlated
        // average, Q18 HAVING volume, A/B z-test (FILTER clause),
        // sequence window (WINDOW clause), graph degree score
        "q_top_supplier", "q_share_supplier", "q_dormant_customers",
        "q_small_qty_rev", "q_big_orders", "q_ab_test",
        "q_seq_score", "q_graph_score",
        // round-4 additions: broadcast-stats normalization, exact
        // Pearson, MI/chi2 over the marginal grid, EWMA lag chain,
        // NTILE bins, md5-ranked stratified sample, fixed-point
        // PageRank CTE rounds
        "q_feature_normalize", "q_feature_corr", "q_feature_select",
        "q_ewma", "q_quantile_bins", "q_sample_stratified",
        "q_pagerank", "q_skew_profile", "q_drift_psi",
        // Q13/Q10/Q7/Q8 classic shapes
        "q_cust_distribution", "q_returned_items", "q_volume_shipping",
        "q_market_share",
        // Q9/Q11/Q16 classic shapes
        "q_product_profit", "q_important_parts", "q_part_supplier_counts",
        // round-4: global window rank (the oracle twin of the
        // distributed two-phase spelling)
        "q_global_index")

  test("ANSI oracle SQL runs on Spark SQL and matches the DataFrame API") {
    Tables.registerAll(spark, sf)
    ansiCompatible.foreach { name =>
      val viaSql = spark.sql(SparkEntry.oracleSql(name))
      val viaDf = SparkEntry.queries(name)(spark, sf)
      val sqlRows = viaSql.collect().map(_.toSeq.map(String.valueOf))
        .map(_.mkString("|")).sorted.toSeq
      val dfRows = viaDf.collect().map(_.toSeq.map(String.valueOf))
        .map(_.mkString("|")).sorted.toSeq
      // column order may differ; compare per-column-sorted row content
      assert(sqlRows.length == dfRows.length, s"$name row count")
      val sqlCols = viaSql.columns.sorted.toSeq
      val dfCols = viaDf.columns.sorted.toSeq
      assert(sqlCols == dfCols, s"$name columns: $sqlCols vs $dfCols")
      val s2 = viaSql.select(sqlCols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val d2 = viaDf.select(dfCols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(s2 == d2, s"$name values differ between SQL and DataFrame paths")
    }
  }

  test("DSv2 catalog table: the log-roundtrip oracle runs as pure SQL over CREATE TABLE ... USING graftlog") {
    // the q_log_roundtrip substrate (events produced through the log),
    // but consumed the way a SQL-only user would: the log registered
    // as a session-catalog table and the whole decode + aggregate as
    // one spark.sql text — parity with the DataFrame path proves the
    // DSv2 table surface carries a real green query end-to-end.
    import graft.sources.log.GraftLog
    val dir = tempDir("glog_sqlq") + "/log"
    val events = spark.read.parquet(s"$sf/events.parquet")
    val viaDf = GraftLog.eventStatsThroughLog(events, dir)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    spark.sql(s"CREATE TABLE glog_events_q USING graftlog OPTIONS (path '$dir')")
    try {
      val viaSql = spark.sql(
        s"""SELECT r.event_type AS event_type, COUNT(*) AS n_events,
           |  ${graft.functions.OracleSql.dsum("r.value")} AS sum_value,
           |  COUNT(DISTINCT r.user_id) AS n_users
           |FROM (SELECT from_json(CAST(value AS STRING),
           |        'event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE') AS r
           |      FROM glog_events_q)
           |GROUP BY r.event_type""".stripMargin)
        .select("event_type", "n_events", "sum_value", "n_users")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(viaSql == viaDf,
        "catalog-table SQL path diverges from the DataFrame path")
      assert(viaDf.nonEmpty)
    } finally spark.sql("DROP TABLE glog_events_q")
  }
}
