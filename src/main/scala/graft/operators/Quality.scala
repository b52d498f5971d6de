package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality validation — the expectation-suite surface a
  * training-data pipeline runs before a corpus snapshot ships
  * (constraint checks + referential integrity; the reference's
  * Postgres schema encodes the same constraints as DDL,
  * docker/postgres/init.sql).
  *
  * [[check]] evaluates every rule in ONE pass over the data (each
  * rule is a conditional count inside the same partial+final
  * aggregate — adding a rule adds a column, not a scan) and unpivots
  * to a row per rule. [[fkOrphans]] is a left-anti join keyed on the
  * parent key — the scalable NOT EXISTS form of a foreign-key check.
  */
object Quality {

  /** One row per rule: rows scanned, violations, rate, pass flag. */
  def check(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("_n") +:
      rules.map { case (name, pred) =>
        count(when(!pred, 1)).as(s"_v_$name")
      }
    val counted = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.map { case (name, _) =>
      s"'$name', _v_$name"
    }.mkString(", ")
    counted
      .select(col("_n"),
        expr(s"stack(${rules.size}, $stacked) as (rule_name, n_violations)"))
      .select(col("rule_name"), col("_n").as("n_rows"), col("n_violations"),
        (col("n_violations").cast("double") / col("_n").cast("double"))
          .as("violation_rate"),
        (col("n_violations") === 0).as("passed"))
  }

  /** ANALYZE-style per-column statistics — the catalog numbers every
    * planning decision at 100 TB consumes (broadcast-vs-shuffle
    * choice, join-order estimates, partition sizing, null-rate data
    * audits): per column, row count, null count, distinct count, and
    * min/max rendered as strings so heterogeneous columns share one
    * long-form schema.
    *
    * ONE pass over the data: every column's four aggregates live in
    * the same partial+final aggregate (Spark plans the multi-distinct
    * via Expand — rows × |cols| inside the agg, still a single scan),
    * and the one-row result unpivots row-locally. `exact = false`
    * switches distinct counting to HLL `approx_count_distinct` — the
    * 100 TB default, where a ±2% NDV answers the same planning
    * questions without the Expand blow-up; the oracle-checked query
    * runs the exact form.
    */
  def columnStats(df: DataFrame, cols: Seq[String],
                  exact: Boolean = true): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"_cnt_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"_nd_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    // fan the scan (r17): the triple-countDistinct expand ran in ONE
    // task over the single-file scan (measured: 1.13 s single-task
    // stage); fan is a guarded no-op at cluster scan parallelism
    val one = graft.sources.Par.fan(df).agg(count(lit(1)).as("_n"), aggs: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("col_name"), col("_n").as("n_rows"),
        (col("_n") - col(s"_cnt_$c")).as("n_nulls"),
        col(s"_nd_$c").as("n_distinct"),
        col(s"_min_$c").as("min_value"), col(s"_max_$c").as("max_value"))
    }
    one.select(explode(array(perCol: _*)).as("s")).select("s.*")
  }

  /** Referential-integrity orphan count: child rows whose `childKey`
    * has no match in `parent(parentKey)`.
    */
  def fkOrphans(child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String,
                name: String): DataFrame = {
    // both sides reduce to one row before the (trivial) cross join —
    // no driver-side count, stays one lazy plan
    val total = child.agg(count(lit(1)).as("n_rows"))
    child
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(total)
      .select(lit(name).as("rule_name"), col("n_rows"),
        col("n_violations"),
        (col("n_violations").cast("double") / col("n_rows").cast("double"))
          .as("violation_rate"),
        (col("n_violations") === 0).as("passed"))
  }

  /** The events expectation suite (oracle query q_data_quality). */
  def eventsSuite(events: DataFrame, orders: DataFrame,
                  customer: DataFrame): DataFrame = {
    val rules = Seq(
      "value_positive" -> (col("value") > 0.0),
      "ts_in_window" ->
        (col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
         col("ts") < lit("2024-02-01 00:00:00").cast("timestamp")),
      "known_event_type" -> col("event_type")
        .isin("click", "signup", "error", "view", "purchase"),
      "user_id_present" -> col("user_id").isNotNull,
      "value_below_cap" -> (col("value") <= 100000.0))
    check(events, rules).unionByName(
      fkOrphans(orders, "o_custkey", customer, "c_custkey",
        "fk_orders_customer"))
  }

  /** Key-skew profile — the diagnosis that decides whether a join or
    * aggregation on `key` needs the salting machinery
    * ([[Salt]]/[[Joins.coOccurrence]]): per-key counts rolled into
    * n_keys / max / exact-ratio mean / skew = max/mean, attached to
    * the top-`k` heavy hitters (deterministic count-desc, key-asc
    * order). One keyed agg + one tiny sorted limit; the summary rides
    * along as a broadcast. Exactness: mean is an integer ratio, skew
    * a division of exact doubles.
    */
  /** Distribution-drift monitor between a reference and a current
    * population (model monitoring's PSI screen + a binned
    * Kolmogorov–Smirnov statistic), over fixed amount bins so the
    * binning is deterministic in any engine. PSI =
    * Σ (p_i − q_i)·ln(p_i/q_i) with the ln rounded 6dp pre-product
    * and the unordered bin sum BIGINT-quantized; KS = max over bins
    * of |cumP − cumQ| (exact integer-ratio CDFs, comparison-only
    * max). Empty bins are Laplace-smoothed by one count on BOTH
    * sides — the standard PSI guard, identical cross-engine. One
    * scan, one tiny bin aggregation.
    */
  def driftMonitor(events: DataFrame, splitPred: Column,
                   binWidth: Double = 40.0, bins: Int = 10): DataFrame = {
    val bin = least(greatest(floor(col("value") / binWidth).cast("int"),
      lit(0)), lit(bins - 1))
    val counted = events.groupBy(bin.as("bin")).agg(
      count(when(splitPred, 1)).as("n_ref"),
      count(when(!splitPred, 1)).as("n_cur"))
    val tot = counted.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cur")).as("t_cur"), count(lit(1)).as("k_bins"))
    // Laplace smoothing: +1 per observed bin on both sides so an
    // empty side cannot produce ln(0); totals adjusted by bin count
    val j = counted.crossJoin(broadcast(tot))
    val p = (col("n_ref") + 1).cast("double") / (col("t_ref") + col("k_bins"))
    val q = (col("n_cur") + 1).cast("double") / (col("t_cur") + col("k_bins"))
    val psiTerm = (p - q) * round(log(p / q), 6)
    import org.apache.spark.sql.expressions.Window
    // unpartitioned by design: the CDF runs over at most `bins` rows
    // (the bin is clamped to [0, bins)), so Spark's single-partition
    // window warning here is not actionable
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cumP = sum(col("n_ref")).over(w).cast("double") / col("t_ref")
    val cumQ = sum(col("n_cur")).over(w).cast("double") / col("t_cur")
    j.withColumn("psi_term_scaled",
        round(psiTerm * lit(1.0e9)).cast("long"))
      .withColumn("cdf_gap", abs(cumP - cumQ))
      .agg(
        (sum(col("psi_term_scaled")).cast("double") / lit(1.0e9)).as("psi"),
        max(col("cdf_gap")).as("ks"),
        count(lit(1)).as("n_bins"))
  }

  /** K-ANONYMITY RISK PROBE — the privacy gate a training-data
    * pipeline runs before releasing quasi-identifier combinations:
    * bucket the quasi-identifiers (here event_type × hour-of-day ×
    * amount decade), count group sizes, and report every equivalence
    * class smaller than `k` — rows whose attribute combination could
    * re-identify an individual. One groupBy (partial-agg friendly);
    * output is bounded by the bucket grid, not the corpus.
    */
  def kAnonymityRisk(events: DataFrame, k: Long = 5L): DataFrame =
    graft.sources.Par.fan(events)
      .groupBy(col("event_type"),
        floor((hour(col("ts")) * 60 + minute(col("ts"))) / lit(6))
          .cast("long").as("tod_band"),
        // decade as digit count of the integer part — exact integer
        // arithmetic, never floor(log10) (libm 1-ulp at exact powers
        // of ten flips the bucket — same trick as amountClusterKey)
        (length(floor(greatest(col("value"), lit(1.0))).cast("long")
          .cast("string")) - 1).cast("long").as("amount_decade"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)

  def keySkewProfile(df: DataFrame, key: String, k: Int = 5): DataFrame = {
    val counts = OperatorCaches.track(
      df.groupBy(col(key)).agg(count(lit(1)).as("n_rows")))
    val summary = counts.agg(
      count(lit(1)).as("n_keys"), max(col("n_rows")).as("max_rows"),
      sum(col("n_rows")).as("total_rows"))
      .select(col("n_keys"), col("max_rows"),
        (col("total_rows").cast("double") / col("n_keys")).as("mean_rows"))
      .withColumn("skew_ratio", col("max_rows") / col("mean_rows"))
    counts.orderBy(col("n_rows").desc, col(key)).limit(k)
      .crossJoin(broadcast(summary))
  }

  /** MAD robust outlier profile — the outlier detector that survives
    * the outliers it hunts (a handful of extreme values moves a
    * std-based z-score; the median absolute deviation barely moves):
    * per key, med = median(x), mad = median(|x − med|), and the count
    * of rows beyond `nSigmas` robust sigmas (MAD · 1.4826, the
    * normal-consistency constant). Two keyed aggregation passes with
    * the |keys|-row medians frame broadcast between them — no row
    * ever shuffles twice, output is |keys| rows. Exact: Spark
    * `percentile` and DuckDB `quantile_cont` share the
    * linear-interpolation definition, and everything downstream is
    * same-order IEEE arithmetic (the consistency constant is emitted
    * into the oracle from this same Scala double).
    */
  val MadConsistency = 1.4826

  def madOutliers(events: DataFrame, nSigmas: Double = 3.0): DataFrame = {
    val med = events.groupBy(col("event_type").as("mt"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    // cached: the deviation frame feeds both the MAD aggregation and
    // the outlier count; released via OperatorCaches
    val dev = OperatorCaches.track(
      events.join(broadcast(med), col("event_type") === col("mt"))
        .select(col("event_type"), col("med"),
          abs(col("value") - col("med")).as("adev")))
    val mad = dev.groupBy(col("event_type").as("kt"))
      .agg(expr("percentile(adev, 0.5)").as("mad"),
        count(lit(1)).as("n"))
    dev.join(broadcast(mad), col("event_type") === col("kt"))
      .groupBy(col("event_type"), col("med"), col("mad"), col("n"))
      .agg(sum(when(col("adev") >
          lit(nSigmas) * (lit(MadConsistency) * col("mad")), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("med"), col("mad"),
        col("n"), col("n_outliers"))
  }

  /** Seasonal-baseline anomaly screen: per (event_type, hour-of-day)
    * the value profile of a baseline period vs the evaluation period
    * after `splitAt`, flagged where the eval mean drifts more than
    * `tolNum/tolDen` (20% default) off the baseline mean. The flag is
    * INTEGER cross-multiplication over scaled-BIGINT sums —
    * |eval·n_b − base·n_e| · den > tol·base·n_e — so it is exact in
    * any engine; the two reported means are single IEEE divisions of
    * those same longs. Sums stay < 2⁴⁰ at 10⁴ scale, far from long
    * overflow even with the cross-product.
    *
    * One partial+final aggregation over the events onto a
    * |types·24|-row frame; both periods aggregate in the same pass
    * (conditional sums), so the events are read and shuffled once.
    */
  /** Snapshot diff (CDC audit): key-level reconciliation of two
    * table snapshots — added / removed / changed / unchanged counts
    * from ONE co-partitioned full-outer join on the key. The value
    * comparison is raw stored-double equality (both sides read the
    * same parquet encoding, so bit-equality is the right test; a
    * tolerance belongs to the caller's projection). This is the audit
    * every incremental-ingest pipeline runs between loads; at 100 TB
    * both sides shuffle once on the key and nothing else moves.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
                   valueCol: String): DataFrame = {
    val o = oldDf.select(col(key).as("k"), col(valueCol).as("v_old"))
    val n = newDf.select(col(key).as("k"), col(valueCol).as("v_new"))
    o.join(n, Seq("k"), "full_outer")
      .select(when(col("v_old").isNull, "added")
        .when(col("v_new").isNull, "removed")
        .when(col("v_old") === col("v_new"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_rows"))
  }

  def seasonalAnomaly(events: DataFrame,
                      splitAt: String = "2024-01-22 00:00:00",
                      tolNum: Long = 1L, tolDen: Long = 5L): DataFrame = {
    val cut = lit(java.sql.Timestamp.valueOf(splitAt))
    val scaled = round(col("value") * lit(1.0e4)).cast("long")
    val base = col("ts") < cut
    events
      .groupBy(col("event_type"), hour(col("ts")).as("hod"))
      .agg(
        sum(when(base, 1L).otherwise(0L)).as("n_base"),
        sum(when(base, scaled).otherwise(0L)).as("base_scaled"),
        sum(when(!base, 1L).otherwise(0L)).as("n_eval"),
        sum(when(!base, scaled).otherwise(0L)).as("eval_scaled"))
      .filter(col("n_base") > 0 && col("n_eval") > 0)
      .select(col("event_type"), col("hod"), col("n_base"), col("n_eval"),
        (col("base_scaled").cast("double") / lit(1.0e4) / col("n_base"))
          .as("base_mean"),
        (col("eval_scaled").cast("double") / lit(1.0e4) / col("n_eval"))
          .as("eval_mean"),
        (abs(col("eval_scaled") * col("n_base") -
             col("base_scaled") * col("n_eval")) * lit(tolDen) >
          lit(tolNum) * col("base_scaled") * col("n_eval"))
          .as("anomaly"))
  }
}
