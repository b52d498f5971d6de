package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Features => F, Scoring}

/** The fraud-domain operator surface mapped onto the driver's generic
  * test tables (events as the transaction stream), so every feature /
  * scoring / velocity operator is oracle-checkable. The same column
  * library runs unchanged over the Transaction schema in
  * graft.streaming.
  */
object FraudQueries {

  /** §2.6 feature extraction: amount + time features per event. */
  def eventFeatures(events: DataFrame): DataFrame = {
    val v = col("value")
    graft.sources.Par.fan(events).select(col("event_id"),
      F.amountSqrt(v).as("amount_sqrt"),
      round(F.amountLog(v), 6).as("amount_log_r"),
      F.isRoundAmount(v, 10.0).as("round_10"),
      F.amountBucket(v).as("amount_bucket"),
      F.amountClusterKey(v).as("amount_cluster"),
      F.hourOfDay(col("ts")).as("hour_of_day"),
      F.dayOfWeekSun1(col("ts")).as("dow_sun1"),
      F.isWeekend(col("ts")).as("is_weekend"),
      F.periodOfDay(col("ts")).as("period_of_day"),
      F.isBusinessHours(col("ts")).as("business_hours"),
      F.isNight(col("ts")).as("is_night"),
      F.epochHour(col("ts")).as("epoch_hour"))
  }

  /** Rule scoring + decision ladder (TransactionProcessor.java:327-473
    * weights/shape) over event-derived flags, rolled up per decision.
    */
  def fraudScoring(events: DataFrame): DataFrame = {
    val score = Scoring.ruleScore(Seq(
      (col("value") > 150.0) -> 0.25,
      (col("event_type") === "error") -> 0.2,
      F.isNight(col("ts")) -> 0.15,
      F.isWeekend(col("ts")) -> 0.15,
      F.isRoundAmount(col("value"), 10.0) -> 0.1))
    events
      .select(Decisions.riskLevel(score).as("risk_level"),
              Decisions.decision(score).as("decision"))
      .groupBy("risk_level", "decision")
      .agg(count(lit(1)).as("n"))
  }

  /** A11 ensemble combiners over three deterministic pseudo-model
    * scores (weighted average / graded vote fraction /
    * confidence-weighted — the vote combiner returns
    * fraud_votes/total_votes per ensemble_predictor.py:296-323).
    */
  def ensemble(events: DataFrame): DataFrame = {
    val s1 = (col("value") % 100.0) / 100.0
    val s2 = (col("event_id") % 97).cast("double") / 97.0
    val s3 = (col("user_id") % 89).cast("double") / 89.0
    events.select(col("event_id"),
      Scoring.weightedAverage(Seq(s1 -> 0.5, s2 -> 0.25, s3 -> 0.25))
        .as("ens_wavg"),
      Scoring.voteFraction(Seq(s1, s2, s3)).as("ens_vote"),
      Scoring.confidenceWeighted(Seq(s1, s2, s3)).as("ens_conf"))
  }

  /** A11 at full breadth: FOUR heterogeneous model families — the
    * columnar LR (learned, frozen weights), the frozen tree ensemble
    * (xgboost analog), the config-weighted rule model, and the
    * isolation-depth anomaly score — combined with all three ensemble
    * combiners, mirroring model_manager.py:279-307 dispatch feeding
    * ensemble_predictor.py:252-323. Only the LR member crosses libm
    * (sigmoid) and is rounded at 6dp; every other member and all
    * combiner math is exact rational column algebra.
    */
  def ensembleMulti(events: DataFrame): DataFrame = {
    import graft.ml.DeterministicModels
    val scored = graft.ml.FraudModel.score(
      graft.sources.Par.fan(events), col("value"), col("ts"))
    val lr = round(col("p_fraud"), 6)
    val tree = DeterministicModels.treeEnsembleScore(col("value"), col("ts"))
    val rule = Scoring.ruleScore(Seq(
      (col("value") > 1500.0) -> 0.5,
      F.isNight(col("ts")) -> 0.25,
      F.isWeekend(col("ts")) -> 0.25))
    val iso = DeterministicModels.isolationScore(col("value"), col("ts"))
    val members = Seq(lr, tree, rule, iso)
    scored.select(col("event_id"),
      lr.as("m_lr"), tree.as("m_tree"), rule.as("m_rule"), iso.as("m_iso"),
      Scoring.weightedAverage(
          Seq(lr -> 0.4, tree -> 0.3, rule -> 0.15, iso -> 0.15))
        .as("ens_wavg"),
      Scoring.voteFraction(members).as("ens_vote"),
      Scoring.confidenceWeighted(members).as("ens_conf"))
  }

  /** Per-prediction explanation surface
    * (ensemble_predictor.py:371-435: top feature importances per
    * prediction): each LR feature's signed contribution w_i·x_i,
    * ranked per event by |contribution| through the native TopK
    * operator (shuffle volume k rows per event per partition, not the
    * full long-form frame). Deterministic: ties broken by feature
    * name; all contribution math is exact products of exact features
    * with the frozen published weights.
    */
  def modelExplain(events: DataFrame, k: Int = 3): DataFrame = {
    import graft.ml.FraudModel
    val contribs = FraudModel.featureColumns(col("value"), col("ts"))
      .zip(FraudModel.PublishedWeights)
      .map { case ((name, c), w) =>
        struct(lit(name).as("feature"), (c * lit(w)).as("contribution"))
      }
    val longForm = graft.sources.Par.fan(events)
      .select(col("event_id"), explode(array(contribs: _*)).as("fc"))
      .select(col("event_id"), col("fc.feature").as("feature"),
              col("fc.contribution").as("contribution"))
      .withColumn("abs_c", abs(col("contribution")))
    TopN.topPerKeyNative(longForm, "event_id", "abs_c", "feature", k)
      .select("event_id", "feature", "contribution")
  }

  /** A/B-testing analog (testing/ab_testing.py:1-100): deterministic
    * hash-based variant assignment (md5 first hex digit splits 50/50 —
    * engine-independent) and a two-proportion z-test over conversion
    * aggregates as pure column math. The z statistic is exact-shape
    * IEEE arithmetic (integer ratios, one sqrt — correctly rounded in
    * both engines) but rounded at 6dp out of caution; significance at
    * |z| > 1.96.
    */
  def abTest(events: DataFrame): DataFrame = {
    val isControl =
      substring(md5(col("user_id").cast("string")), 1, 1) < "8"
    val converted = col("value") > 100.0
    val agg = events.agg(
      count(when(isControl, 1)).as("n_control"),
      count(when(!isControl, 1)).as("n_treatment"),
      count(when(isControl && converted, 1)).as("conv_control"),
      count(when(!isControl && converted, 1)).as("conv_treatment"))
    val pC = col("conv_control").cast("double") / col("n_control")
    val pT = col("conv_treatment").cast("double") / col("n_treatment")
    val pPool = (col("conv_control") + col("conv_treatment")).cast("double") /
      (col("n_control") + col("n_treatment"))
    val se = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_control") + lit(1.0) / col("n_treatment")))
    agg.select(col("n_control"), col("n_treatment"),
      col("conv_control"), col("conv_treatment"),
      pC.as("p_control"), pT.as("p_treatment"),
      // degenerate slice (pooled conversion 0 or 1) ⇒ se = 0: emit
      // NULL rather than engine-divergent NaN/Inf
      when(se > 0.0, round((pC - pT) / se, 6)).as("z_r"))
      .withColumn("significant", abs(col("z_r")) > 1.96)
  }

  /** Geo features over synthetic-but-deterministic coordinates derived
    * from event values: grid key (A4), high-risk predicate, haversine
    * distance to a fixed point (rounded: libm trig is not
    * correctly-rounded across engines).
    */
  def geoFeatures(events: DataFrame): DataFrame = {
    val lat = col("value") % 180.0 - 90.0
    val lon = (col("value") * 3.0) % 360.0 - 180.0
    graft.sources.Par.fan(events).select(col("event_id"),
      F.geoGridKey(lat, lon).as("geo_grid"),
      F.isHighRiskLocation(lat, lon).as("high_risk_loc"),
      // native codegen expression (value-identical to the column-math
      // composition — CatalystSpec asserts bit-equality)
      round(graft.plans.HaversineDistance(lat, lon, lit(40.7), lit(-74.0)), 3)
        .as("dist_km_r"))
  }

  /** §2.6 string/regex features over the events props JSON: regex
    * field extraction, predicates, and the reference's text-cleaning
    * chain (lower + strip non-alnum + squish).
    */
  def stringFeatures(events: DataFrame): DataFrame =
    graft.sources.Par.fan(events).select(col("event_id"),
      regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long")
        .as("k_value"),
      (col("event_type") === "error").as("is_error"),
      length(col("event_type")).cast("long").as("type_len"),
      F.cleanText(col("props")).as("props_clean"),
      col("event_type").rlike("(?i)(error|fail)").as("risky_type"))

  /** §2.5 analytic window functions: per-user event deltas (lag),
    * next-event lookahead (lead), and an exact running total — the
    * row-frame analytics the oracle surface must support.
    */
  def lagLeadFeatures(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val running = w.rowsBetween(Window.unboundedPreceding, 0)
    events.select(col("event_id"), col("user_id"),
      (col("value") - lag(col("value"), 1).over(w)).as("delta_prev"),
      lead(col("event_type"), 1).over(w).as("next_type"),
      (sum(round(col("value") * lit(1e4)).cast("long")).over(running)
        .cast("double") / lit(1e4)).as("running_total"),
      row_number().over(w).as("seq"))
  }

  /** A5 fraud-pattern aggregation: the derived composite pattern key
    * (payment × category × amount bucket — WindowProcessor.java:
    * 198-222) mapped onto events, rolled up with exact stats.
    */
  def patternAgg(events: DataFrame): DataFrame = {
    import graft.functions.ExactAgg._
    events
      .groupBy(F.patternKey(col("event_type"),
        substring(col("props"), 8, 1), col("value")).as("pattern_key"))
      .agg(count(lit(1)).as("n"),
           dsum(col("value")).as("total_value"),
           countDistinct(col("user_id")).as("n_users"))
  }

  /** Exact percentiles per key: Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition, so
    * results are bit-identical on the same sorted multiset.
    */
  def percentiles(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(
      expr("percentile(value, 0.5)").as("p50"),
      expr("percentile(value, 0.95)").as("p95"),
      count(lit(1)).as("n"))

  /** A8 multi-horizon velocity, per-event read-your-writes counters. */
  def velocityMulti(events: DataFrame): DataFrame =
    Velocity.multiHorizon(events)
      .select("event_id", "n_5min", "amt_5min", "n_1h", "amt_1h",
              "n_24h", "amt_24h")

  /** Model inference stage (model_manager.py:279-307 serving path):
    * the published LR (`FraudModel.score`), its probability fed into
    * the A11 weighted-average ensemble next to the rule score.
    *
    * `margin` is exact linear algebra (the left-associated chain MLlib's
    * BLAS ddot also computes — MlSpec pins bit-equality); the sigmoid
    * crosses libm, so the probability is rounded at 6dp in both engines
    * before use.
    */
  def modelScore(events: DataFrame): DataFrame = {
    val scored = graft.ml.FraudModel.score(
      graft.sources.Par.fan(events), col("value"), col("ts"))
    val rule = Scoring.ruleScore(Seq(
      (col("value") > 150.0) -> 0.25,
      (col("event_type") === "error") -> 0.2,
      F.isNight(col("ts")) -> 0.15,
      F.isWeekend(col("ts")) -> 0.15,
      F.isRoundAmount(col("value"), 10.0) -> 0.1))
    scored
      .withColumn("p_model_r", round(col("p_fraud"), 6))
      .withColumn("rule_score", rule)
      .select(col("event_id"), col("margin"), col("p_model_r"),
        Scoring.weightedAverage(
          Seq(col("p_model_r") -> 0.6, col("rule_score") -> 0.4))
          .as("final_score"),
        when(col("p_model_r") >= 0.5, "REVIEW").otherwise("APPROVE")
          .as("model_decision"))
  }

  /** Ordered conversion FUNNEL (view → click → purchase): a user
    * clears stage k when an event of stage k's type exists STRICTLY
    * after their stage-(k−1) clearing time. Three conditional-min
    * aggregation passes per user with the per-user stage times
    * carried forward by keyed joins — every pass is partial+final on
    * user_id, nothing but |users|-sized frames after the first agg,
    * so the funnel scales with distinct users, not events. Output is
    * one row of stage counts + integer-ratio conversion rates.
    */
  def funnel(events: DataFrame): DataFrame = {
    val stage1 = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val stage2 = events.filter(col("event_type") === "click")
      .join(stage1, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(col("ts")).as("t_click"))
    val stage3 = events.filter(col("event_type") === "purchase")
      .join(stage2, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t_purchase"))
    val n1 = stage1.agg(count(lit(1)).as("n_view"))
    val n2 = stage2.agg(count(lit(1)).as("n_click"))
    val n3 = stage3.agg(count(lit(1)).as("n_purchase"))
    n1.crossJoin(broadcast(n2)).crossJoin(broadcast(n3))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        // try_divide: an empty stage yields a NULL rate (DuckDB's
        // divide-by-zero convention), not an ANSI error
        try_divide(col("n_click").cast("double"), col("n_view"))
          .as("view_to_click"),
        try_divide(col("n_purchase").cast("double"), col("n_click"))
          .as("click_to_purchase"))
  }
}
