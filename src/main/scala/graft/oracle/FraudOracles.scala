package graft.oracle

import graft.functions.OracleSql._

/** DuckDB twins for the fraud-domain operator queries (features,
  * scoring, velocity, joins). Shapes and literal order mirror the
  * Spark column expressions exactly; libm-dependent functions (ln,
  * trig) are rounded in BOTH engines at a scale where a 1-ulp libm
  * divergence cannot flip the rounded value.
  */
object FraudOracles {

  /** Spark `cast(ts as long)` truncates µs → s; DuckDB CAST rounds,
    * so the oracle uses integer floor-division on epoch_us.
    */
  private val sec = "epoch_us(ts) // 1000000"

  private def velocitySql: String = {
    def winCols(sfx: String, secs: Long) =
      s"""COUNT(*) OVER w$sfx AS n_$sfx,
         |  (CAST(SUM(CAST(ROUND(value * 1.0e4, 0) AS BIGINT)) OVER w$sfx
         |        AS DOUBLE) / 1.0e4) AS amt_$sfx""".stripMargin
    def win(sfx: String, secs: Long) =
      s"w$sfx AS (PARTITION BY user_id ORDER BY sec RANGE BETWEEN $secs PRECEDING AND CURRENT ROW)"
    s"""SELECT event_id,
       |  ${winCols("5min", 300)},
       |  ${winCols("1h", 3600)},
       |  ${winCols("24h", 86400)}
       |FROM (SELECT event_id, user_id, value, $sec AS sec FROM events)
       |WINDOW ${win("5min", 300)}, ${win("1h", 3600)}, ${win("24h", 86400)}""".stripMargin
  }

  private val intervalJoinSql =
    """SELECT a.user_id, a.event_id AS eid_a, b.event_id AS eid_b,
      |  CASE WHEN b.event_type = 'error' THEN 0.3e0
      |       WHEN b.event_type = 'login' THEN 0.2e0
      |       ELSE 0.0e0 END AS pair_risk
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '5 minutes'""".stripMargin

  private def bandedJoinSql: String =
    s"""WITH li AS (
       |  SELECT CAST(FLOOR(l_extendedprice / 100.0) * 100.0 AS BIGINT) AS band,
       |    COUNT(*) AS n_li, ${davg("l_extendedprice")} AS avg_li
       |  FROM lineitem GROUP BY 1),
       |p AS (
       |  SELECT CAST(FLOOR(p_retailprice / 100.0) * 100.0 AS BIGINT) AS band,
       |    COUNT(*) AS n_p, ${davg("p_retailprice")} AS avg_p
       |  FROM part GROUP BY 1)
       |SELECT band, n_li, avg_li, n_p, avg_p,
       |  1.0 - ABS(avg_li - avg_p) / GREATEST(avg_li, avg_p) AS band_similarity
       |FROM li JOIN p USING (band)""".stripMargin

  private val coOccurSql =
    """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS v FROM lineitem),
      |p AS (SELECT a.s AS src_a, b.s AS src_b, COUNT(*) AS shared
      |      FROM e a JOIN e b ON a.v = b.v AND a.s < b.s
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT src_a, src_b, shared FROM (
      |  SELECT src_a, src_b, shared,
      |    ROW_NUMBER() OVER (PARTITION BY src_a
      |                       ORDER BY shared DESC, src_b) AS rn
      |  FROM p)
      |WHERE rn <= 10""".stripMargin

  /** Exponent = digits(floor(x))−1 (exact; see Features.amountClusterKey). */
  private val clusterExp =
    "(length(CAST(CAST(FLOOR(GREATEST(value, 1.0)) AS BIGINT) AS VARCHAR)) - 1)"

  private val featureSql =
    s"""SELECT event_id,
       |  SQRT(value) AS amount_sqrt,
       |  ROUND(LN(1.0 + value), 6) AS amount_log_r,
       |  fmod(value, 10.0) = 0.0 AS round_10,
       |  CASE WHEN value < 10.0 THEN 'micro'
       |       WHEN value < 100.0 THEN 'small'
       |       WHEN value < 1000.0 THEN 'medium'
       |       WHEN value < 10000.0 THEN 'large'
       |       ELSE 'very_large' END AS amount_bucket,
       |  'amount' || '_' || CAST($clusterExp AS BIGINT) || '_' ||
       |    CAST(FLOOR(GREATEST(value, 1.0)
       |         / POW(10.0, CAST($clusterExp AS DOUBLE))) AS BIGINT)
       |    AS amount_cluster,
       |  CAST(hour(ts) AS INTEGER) AS hour_of_day,
       |  CAST(dayofweek(ts) + 1 AS INTEGER) AS dow_sun1,
       |  dayofweek(ts) IN (0, 6) AS is_weekend,
       |  CASE WHEN hour(ts) >= 6 AND hour(ts) < 12 THEN 'morning'
       |       WHEN hour(ts) >= 12 AND hour(ts) < 18 THEN 'afternoon'
       |       WHEN hour(ts) >= 18 AND hour(ts) < 22 THEN 'evening'
       |       ELSE 'night' END AS period_of_day,
       |  hour(ts) BETWEEN 9 AND 17 AS business_hours,
       |  hour(ts) <= 6 OR hour(ts) >= 22 AS is_night,
       |  CAST(($sec) // 3600 AS BIGINT) AS epoch_hour
       |FROM events""".stripMargin

  private val scoringSql =
    """WITH f AS (
      |  SELECT
      |    CASE WHEN value > 150.0 THEN 1.0 ELSE 0.0 END AS f_high,
      |    CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END AS f_err,
      |    CASE WHEN hour(ts) <= 6 OR hour(ts) >= 22 THEN 1.0 ELSE 0.0 END AS f_night,
      |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 1.0 ELSE 0.0 END AS f_wkd,
      |    CASE WHEN fmod(value, 10.0) = 0.0 THEN 1.0 ELSE 0.0 END AS f_round
      |  FROM events),
      |s AS (SELECT GREATEST(0.0, LEAST(1.0,
      |        f_high * 0.25 + f_err * 0.2 + f_night * 0.15
      |        + f_wkd * 0.15 + f_round * 0.1)) AS score FROM f)
      |SELECT
      |  CASE WHEN score >= 0.9 THEN 'CRITICAL'
      |       WHEN score >= 0.7 THEN 'HIGH'
      |       WHEN score >= 0.5 THEN 'MEDIUM'
      |       ELSE 'LOW' END AS risk_level,
      |  CASE WHEN score >= 0.9 THEN 'DECLINE'
      |       WHEN score >= 0.7 THEN 'REVIEW'
      |       ELSE 'APPROVE' END AS decision,
      |  COUNT(*) AS n
      |FROM s GROUP BY 1, 2""".stripMargin

  private val ensembleSql =
    """WITH s AS (SELECT event_id,
      |    fmod(value, 100.0) / 100.0 AS s1,
      |    CAST(event_id % 97 AS DOUBLE) / 97.0 AS s2,
      |    CAST(user_id % 89 AS DOUBLE) / 89.0 AS s3
      |  FROM events)
      |SELECT event_id,
      |  (s1 * 0.5 + s2 * 0.25 + s3 * 0.25) / 1.0 AS ens_wavg,
      |  CAST((CASE WHEN s1 > 0.5 THEN 1 ELSE 0 END
      |      + CASE WHEN s2 > 0.5 THEN 1 ELSE 0 END
      |      + CASE WHEN s3 > 0.5 THEN 1 ELSE 0 END) AS DOUBLE) / 3.0
      |    AS ens_vote,
      |  CASE WHEN (ABS(s1 - 0.5) * 2.0) + (ABS(s2 - 0.5) * 2.0)
      |          + (ABS(s3 - 0.5) * 2.0) > 0.0
      |       THEN (s1 * (ABS(s1 - 0.5) * 2.0) + s2 * (ABS(s2 - 0.5) * 2.0)
      |           + s3 * (ABS(s3 - 0.5) * 2.0))
      |          / ((ABS(s1 - 0.5) * 2.0) + (ABS(s2 - 0.5) * 2.0)
      |           + (ABS(s3 - 0.5) * 2.0))
      |       ELSE 0.5 END AS ens_conf
      |FROM s""".stripMargin

  private val geoSql = {
    val lat = "(fmod(value, 180.0) - 90.0)"
    val lon = "(fmod(value * 3.0, 360.0) - 180.0)"
    val a = s"""SIN(RADIANS(40.7 - $lat) / 2) * SIN(RADIANS(40.7 - $lat) / 2)
               | + COS(RADIANS($lat)) * COS(RADIANS(40.7))
               |   * SIN(RADIANS(-74.0 - $lon) / 2) * SIN(RADIANS(-74.0 - $lon) / 2)"""
      .stripMargin
    s"""SELECT event_id,
       |  'geo' || '_' || CAST(FLOOR($lat) AS BIGINT) || '_'
       |        || CAST(FLOOR($lon) AS BIGINT) AS geo_grid,
       |  ABS($lat) > 60.0 OR (ABS($lat) < 10.0 AND ABS($lon) < 10.0)
       |    AS high_risk_loc,
       |  ROUND(6371.0 * 2.0 * ATAN2(SQRT($a), SQRT(1.0 - ($a))), 3)
       |    AS dist_km_r
       |FROM events""".stripMargin
  }

  private val stringFeaturesSql =
    """SELECT event_id,
      |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_value,
      |  event_type = 'error' AS is_error,
      |  CAST(length(event_type) AS BIGINT) AS type_len,
      |  trim(regexp_replace(regexp_replace(lower(props),
      |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS props_clean,
      |  regexp_matches(event_type, '(?i)(error|fail)') AS risky_type
      |FROM events""".stripMargin

  private val lagLeadSql =
    """SELECT event_id, user_id,
      |  value - lag(value, 1) OVER w AS delta_prev,
      |  lead(event_type, 1) OVER w AS next_type,
      |  CAST(SUM(CAST(ROUND(value * 1.0e4, 0) AS BIGINT))
      |       OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1.0e4
      |    AS running_total,
      |  ROW_NUMBER() OVER w AS seq
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  private def patternAggSql: String = {
    val bucket =
      """CASE WHEN value < 10.0 THEN 'micro'
        |     WHEN value < 100.0 THEN 'small'
        |     WHEN value < 1000.0 THEN 'medium'
        |     WHEN value < 10000.0 THEN 'large'
        |     ELSE 'very_large' END""".stripMargin
    s"""SELECT concat_ws('_', 'pattern', event_type, substr(props, 8, 1),
       |    $bucket) AS pattern_key,
       |  COUNT(*) AS n,
       |  ${dsum("value")} AS total_value,
       |  COUNT(DISTINCT user_id) AS n_users
       |FROM events GROUP BY 1""".stripMargin
  }

  /** Mirror of FraudQueries.modelScore: the published LR coefficients
    * applied as the same left-associated linear chain as
    * FraudModel.score, sigmoid rounded at 6dp
    * (libm exp), ensemble over the rounded probability.
    */
  // Every literal is cast to DOUBLE: a bare multi-digit literal is a
  // DECIMAL in DuckDB, DECIMAL products stay decimal, and DuckDB's
  // DECIMAL→DOUBLE cast is not correctly rounded (1-ulp drift).
  private def D(x: Double) = s"CAST($x AS DOUBLE)"
  private def flag(pred: String) =
    s"CAST(CASE WHEN $pred THEN 1 ELSE 0 END AS DOUBLE)"

  /** LR feature expressions over the events table — mirror of
    * FraudModel.featureColumns on (value, ts), in weight order.
    */
  private def lrFeatSql: Seq[String] = Seq(
    s"value / ${D(1000.0)}",
    s"CAST(hour(ts) AS DOUBLE) / ${D(24.0)}",
    flag("dayofweek(ts) IN (0, 6)"),
    flag(s"value < ${D(3.0)}"),
    flag(s"value > ${D(1500.0)}"))

  /** Left-associated margin chain, as FraudModel.score computes it. */
  private def lrMarginSql: String =
    lrFeatSql.zip(graft.ml.FraudModel.PublishedWeights)
      .map { case (f, wi) => s"($f) * ${D(wi)}" }.mkString(" + ") +
      s" + ${D(graft.ml.FraudModel.PublishedIntercept)}"

  private def modelScoreSql: String = {
    val margin = lrMarginSql
    val rule = Seq(
      s"value > ${D(150.0)}" -> 0.25,
      "event_type = 'error'" -> 0.2,
      "hour(ts) <= 6 OR hour(ts) >= 22" -> 0.15,
      "dayofweek(ts) IN (0, 6)" -> 0.15,
      s"fmod(value, ${D(10.0)}) = ${D(0.0)}" -> 0.1)
      .map { case (p, wt) => s"${flag(p)} * ${D(wt)}" }.mkString(" + ")
    s"""WITH m AS (
       |  SELECT event_id, value, ts, event_type, $margin AS margin
       |  FROM events),
       |p AS (
       |  SELECT event_id, margin,
       |    ROUND(${D(1.0)} / (${D(1.0)} + EXP(-margin)), 6) AS p_model_r,
       |    GREATEST(${D(0.0)}, LEAST(${D(1.0)}, $rule)) AS rule_score
       |  FROM m)
       |SELECT event_id, margin, p_model_r,
       |  (p_model_r * ${D(0.6)} + rule_score * ${D(0.4)})
       |    / (${D(0.6)} + ${D(0.4)}) AS final_score,
       |  CASE WHEN p_model_r >= ${D(0.5)} THEN 'REVIEW' ELSE 'APPROVE' END
       |    AS model_decision
       |FROM p""".stripMargin
  }

  /** Mirror of FraudQueries.ensembleMulti: four heterogeneous members
    * (LR sigmoid rounded at 6dp — the only libm crossing; tree
    * ensemble, rule score, isolation score all exact rational via the
    * dual-rendered DeterministicModels DSL) + the three combiners.
    */
  private def ensembleMultiSql: String = {
    import graft.ml.DeterministicModels
    val tree = DeterministicModels.treeEnsembleDuckdbSql("value", "ts")
    val iso = DeterministicModels.isolationScoreDuckdbSql("value", "ts")
    val rule = Seq(
      s"value > ${D(1500.0)}" -> 0.5,
      "(hour(ts) <= 6 OR hour(ts) >= 22)" -> 0.25,
      "dayofweek(ts) IN (0, 6)" -> 0.25)
      .map { case (p, wt) => s"${flag(p)} * ${D(wt)}" }.mkString(" + ")
    val members = Seq("m_lr", "m_tree", "m_rule", "m_iso")
    val wavgNum = members.zip(Seq(0.4, 0.3, 0.15, 0.15))
      .map { case (m, wt) => s"$m * ${D(wt)}" }.mkString(" + ")
    val wavgDen = Seq(0.4, 0.3, 0.15, 0.15).map(D).mkString(" + ")
    val votes = members
      .map(m => s"CASE WHEN $m > ${D(0.5)} THEN 1 ELSE 0 END")
      .mkString(" + ")
    def conf(m: String) = s"(ABS($m - ${D(0.5)}) * ${D(2.0)})"
    val confNum = members.map(m => s"$m * ${conf(m)}").mkString(" + ")
    val confDen = members.map(conf).mkString(" + ")
    s"""WITH m AS (
       |  SELECT event_id,
       |    ROUND(${D(1.0)} / (${D(1.0)} + EXP(-($lrMarginSql))), 6) AS m_lr,
       |    $tree AS m_tree,
       |    GREATEST(${D(0.0)}, LEAST(${D(1.0)}, $rule)) AS m_rule,
       |    $iso AS m_iso
       |  FROM events)
       |SELECT event_id, m_lr, m_tree, m_rule, m_iso,
       |  ($wavgNum) / ($wavgDen) AS ens_wavg,
       |  CAST(($votes) AS DOUBLE) / 4.0 AS ens_vote,
       |  CASE WHEN ($confDen) > ${D(0.0)}
       |       THEN ($confNum) / ($confDen) ELSE ${D(0.5)} END AS ens_conf
       |FROM m""".stripMargin
  }

  /** Mirror of DeterministicModels.sequenceScore: 5-row look-back
    * window per user (ts, event_id order), exact scaled-BIGINT sum,
    * clamped normalized average.
    */
  private def seqScoreSql: String = {
    val avg =
      s"""(CAST(SUM(CAST(ROUND(value * 1.0e4, 0) AS BIGINT)) OVER w
         |    AS DOUBLE) / 1.0e4) / COUNT(*) OVER w""".stripMargin
    s"""SELECT event_id, COUNT(*) OVER w AS n_recent,
       |  $avg AS avg_recent,
       |  GREATEST(${D(0.0)}, LEAST(${D(1.0)},
       |    ($avg) / ${D(1000.0)})) AS p_seq
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin
  }

  /** Mirror of DeterministicModels.graphScore: distinct derived
    * merchant keys per user, centrality = min(degree/10, 1).
    */
  private def graphScoreSql: String =
    s"""WITH deg AS (
       |  SELECT user_id,
       |    COUNT(DISTINCT (event_id * 7) % 97) AS merchant_degree
       |  FROM events GROUP BY 1)
       |SELECT event_id, merchant_degree,
       |  LEAST(CAST(merchant_degree AS DOUBLE) / ${D(10.0)}, ${D(1.0)})
       |    AS p_graph
       |FROM events JOIN deg USING (user_id)""".stripMargin

  /** Mirror of FraudQueries.modelExplain: per-feature signed LR
    * contributions (w_i·x_i, exact products), long form via UNION ALL,
    * top-3 per event by |contribution| with feature-name tiebreak.
    */
  private def modelExplainSql: String = {
    val arms = graft.ml.FraudModel.FeatureNames.zip(lrFeatSql)
      .zip(graft.ml.FraudModel.PublishedWeights)
      .map { case ((name, f), wi) =>
        s"SELECT event_id, '$name' AS feature, ($f) * ${D(wi)} AS contribution FROM events"
      }.mkString("\n  UNION ALL\n  ")
    s"""WITH lf AS (
       |  $arms)
       |SELECT event_id, feature, contribution FROM (
       |  SELECT event_id, feature, contribution,
       |    ROW_NUMBER() OVER (PARTITION BY event_id
       |      ORDER BY ABS(contribution) DESC, feature) AS rn
       |  FROM lf)
       |WHERE rn <= 3""".stripMargin
  }

  /** Mirror of FraudQueries.abTest: md5-first-hex-digit variant split,
    * two-proportion z-test as exact-shape column math, z rounded 6dp.
    */
  private def abTestSql: String = {
    // STRING: the type alias BOTH DuckDB and Spark SQL parse (Spark
    // rejects bare VARCHAR without a length)
    val isControl = "substr(md5(CAST(user_id AS STRING)), 1, 1) < '8'"
    val conv = s"value > ${D(100.0)}"
    val pC = "CAST(conv_control AS DOUBLE) / n_control"
    val pT = "CAST(conv_treatment AS DOUBLE) / n_treatment"
    val pPool =
      "CAST(conv_control + conv_treatment AS DOUBLE) / (n_control + n_treatment)"
    val se = s"SQRT(($pPool) * (${D(1.0)} - ($pPool)) * " +
      s"(${D(1.0)} / n_control + ${D(1.0)} / n_treatment))"
    val zGuarded = s"CASE WHEN ($se) > ${D(0.0)} " +
      s"THEN ROUND((($pC) - ($pT)) / ($se), 6) ELSE NULL END"
    s"""WITH a AS (
       |  SELECT
       |    COUNT(*) FILTER (WHERE $isControl) AS n_control,
       |    COUNT(*) FILTER (WHERE NOT ($isControl)) AS n_treatment,
       |    COUNT(*) FILTER (WHERE ($isControl) AND ($conv)) AS conv_control,
       |    COUNT(*) FILTER (WHERE NOT ($isControl) AND ($conv)) AS conv_treatment
       |  FROM events)
       |SELECT n_control, n_treatment, conv_control, conv_treatment,
       |  $pC AS p_control, $pT AS p_treatment,
       |  $zGuarded AS z_r,
       |  ABS($zGuarded) > ${D(1.96)} AS significant
       |FROM a""".stripMargin
  }

  private val periodCase =
    """CASE WHEN hour(ts) >= 6 AND hour(ts) < 12 THEN 'morning'
      |       WHEN hour(ts) >= 12 AND hour(ts) < 18 THEN 'afternoon'
      |       WHEN hour(ts) >= 18 AND hour(ts) < 22 THEN 'evening'
      |       ELSE 'night' END""".stripMargin

  private def merchantHourlySql: String = {
    val flagged = "COUNT(*) FILTER (WHERE event_type = 'error')"
    s"""SELECT 'm' || CAST((event_id * 7) % 97 AS VARCHAR) AS merchant_id,
       |  date_trunc('hour', ts) AS bucket_hour,
       |  COUNT(*) AS total_count,
       |  ${dsum("value")} AS total_amount,
       |  ${davg("value")} AS avg_amount,
       |  $flagged AS flag_count,
       |  CAST($flagged AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS flag_rate,
       |  COUNT(DISTINCT user_id) AS unique_user_count
       |FROM events GROUP BY 1, 2""".stripMargin
  }

  private val graphDegreeSql =
    """WITH e AS (SELECT user_id, (event_id * 7) % 97 AS merchant_key
      |           FROM events)
      |SELECT 'user' AS entity_type, user_id AS entity_id,
      |  COUNT(DISTINCT merchant_key) AS degree,
      |  LEAST(CAST(COUNT(DISTINCT merchant_key) AS DOUBLE)
      |        / CAST(10.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) AS centrality
      |FROM e GROUP BY user_id
      |UNION ALL
      |SELECT 'merchant', merchant_key,
      |  COUNT(DISTINCT user_id),
      |  LEAST(CAST(COUNT(DISTINCT user_id) AS DOUBLE)
      |        / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
      |FROM e GROUP BY merchant_key""".stripMargin

  /** f CTE mirroring FeatureRegistry.eventFeatureFrame. */
  private val featureFrameCte =
    s"""WITH f AS (SELECT event_id, value,
       |  value - lag(value, 1) OVER (PARTITION BY user_id
       |                              ORDER BY ts, event_id) AS delta_prev,
       |  CAST(hour(ts) AS DOUBLE) AS hour_of_day,
       |  event_type,
       |  $periodCase AS period_of_day
       |FROM events)""".stripMargin

  private def featureStatsSql: String = {
    val stacked = graft.functions.FeatureRegistry.numericNames
      .map(n => s"SELECT '$n' AS feature_name, $n AS x FROM f")
      .mkString("\n  UNION ALL\n  ")
    s"""$featureFrameCte,
       |s AS (
       |  $stacked)
       |SELECT feature_name, COUNT(*) AS n_rows, COUNT(x) AS n_present,
       |  CAST(1.0 AS DOUBLE)
       |    - CAST(COUNT(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS null_rate,
       |  MIN(x) AS min_x, MAX(x) AS max_x,
       |  ${davg("x")} AS mean_x,
       |  COUNT(DISTINCT x) AS n_distinct
       |FROM s GROUP BY feature_name""".stripMargin
  }

  private def featureValueCountsSql: String = {
    val stacked = graft.functions.FeatureRegistry.categoricalNames
      .map(n => s"SELECT '$n' AS feature_name, $n AS value FROM f")
      .mkString("\n  UNION ALL\n  ")
    s"""$featureFrameCte,
       |s AS (
       |  $stacked),
       |g AS (SELECT feature_name, value, COUNT(*) AS n FROM s GROUP BY 1, 2)
       |SELECT feature_name, value, n,
       |  CAST(n AS DOUBLE)
       |    / CAST(SUM(n) OVER (PARTITION BY feature_name) AS DOUBLE) AS share
       |FROM g""".stripMargin
  }

  /** Mirror of FeatureEng.negativeSamples' per-user direct draw: 16
    * draws per user, each mapped to the dense supplier-catalog index
    * by the first four md5 nibbles mod |vocab|; duplicate draws keep
    * their first position, positives anti-join out, first k=2
    * survivors by draw order win. The catalog index here is
    * ROW_NUMBER() OVER (ORDER BY item) — value-identical to
    * Layout.globalIndex's two-phase rank on distinct items.
    */
  private def negativeSamplesSql: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    def nib(pos: Int) = s"(CASE substr(h, $pos, 1) $nibble END)"
    s"""WITH i AS (SELECT o_custkey, l_suppkey FROM orders
       |           JOIN lineitem ON o_orderkey = l_orderkey),
       |u AS (SELECT DISTINCT o_custkey FROM i),
       |pos AS (SELECT DISTINCT o_custkey, l_suppkey FROM i),
       |v AS (SELECT l_suppkey,
       |        ROW_NUMBER() OVER (ORDER BY l_suppkey) AS vi
       |      FROM (SELECT DISTINCT l_suppkey FROM i)),
       |vc AS (SELECT COUNT(*) AS vsz FROM v),
       |dh AS (SELECT o_custkey, dr.i,
       |         md5('negd:' || CAST(o_custkey AS VARCHAR)
       |           || ':' || CAST(dr.i AS VARCHAR)) AS h
       |       FROM u CROSS JOIN
       |         (SELECT UNNEST(generate_series(1, 16)) AS i) dr),
       |di AS (SELECT o_custkey, i,
       |         ((${nib(1)} * 4096 + ${nib(2)} * 256
       |           + ${nib(3)} * 16 + ${nib(4)}) % vsz) + 1 AS vi
       |       FROM dh CROSS JOIN vc),
       |cand AS (SELECT d.o_custkey, v.l_suppkey, MIN(d.i) AS draw_i
       |         FROM (SELECT o_custkey, i, vi FROM di) d
       |         JOIN v ON d.vi = v.vi
       |         GROUP BY 1, 2),
       |neg AS (SELECT o_custkey, l_suppkey, draw_i FROM cand c
       |        WHERE NOT EXISTS (SELECT 1 FROM pos
       |          WHERE pos.o_custkey = c.o_custkey
       |            AND pos.l_suppkey = c.l_suppkey)),
       |r AS (SELECT o_custkey, l_suppkey,
       |        ROW_NUMBER() OVER (PARTITION BY o_custkey
       |          ORDER BY draw_i, l_suppkey) AS rnk
       |      FROM neg)
       |SELECT o_custkey, l_suppkey AS neg_item, CAST(rnk AS INTEGER) AS rnk
       |FROM r WHERE rnk <= 2""".stripMargin
  }

  /** Mirror of FeatureStoreOps.roundTrip's read-back audit: the same
    * five registered features in long form (built directly from
    * events — the parquet round trip is lossless, so the persisted
    * store aggregates to exactly this), feature_id as the first 8 md5
    * hex digits, exact scaled-BIGINT sums (NULL for categorical
    * features in both engines).
    */
  private def featureStoreSql: String =
    """WITH f AS (SELECT event_id, value,
      |    value - lag(value, 1) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS delta_prev,
      |    CAST(hour(ts) AS DOUBLE) AS hour_of_day,
      |    event_type,
      |    CASE WHEN hour(ts) >= 6 AND hour(ts) < 12 THEN 'morning'
      |         WHEN hour(ts) >= 12 AND hour(ts) < 18 THEN 'afternoon'
      |         WHEN hour(ts) >= 18 AND hour(ts) < 22 THEN 'evening'
      |         ELSE 'night' END AS period_of_day
      |  FROM events),
      |v AS (
      |  SELECT 'value' AS feature_name, 'numeric' AS data_type,
      |    event_id AS entity_id, value AS value_num,
      |    CAST(NULL AS VARCHAR) AS value_str FROM f
      |  UNION ALL SELECT 'delta_prev', 'numeric', event_id, delta_prev,
      |    CAST(NULL AS VARCHAR) FROM f
      |  UNION ALL SELECT 'hour_of_day', 'numeric', event_id, hour_of_day,
      |    CAST(NULL AS VARCHAR) FROM f
      |  UNION ALL SELECT 'event_type', 'categorical', event_id,
      |    CAST(NULL AS DOUBLE), event_type FROM f
      |  UNION ALL SELECT 'period_of_day', 'categorical', event_id,
      |    CAST(NULL AS DOUBLE), period_of_day FROM f)
      |SELECT substr(md5('feat:' || feature_name), 1, 8) AS feature_id,
      |  feature_name, data_type,
      |  COUNT(*) AS n_values,
      |  COUNT(value_num) + COUNT(value_str) AS n_present,
      |  COUNT(DISTINCT entity_id) AS n_entities,
      |  CAST(SUM(CAST(ROUND(value_num * 10000.0, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_scaled
      |FROM v GROUP BY 1, 2, 3""".stripMargin

  /** Mirror of FraudQueries.funnel: same strict-after stage joins,
    * integer-ratio conversion rates.
    */
  private val funnelSql =
    """WITH s1 AS (SELECT user_id, MIN(ts) AS t_view FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t_click
      |       FROM events e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t_view
      |       GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      |       FROM events e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
      |       GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_view,
      |  (SELECT COUNT(*) FROM s2) AS n_click,
      |  (SELECT COUNT(*) FROM s3) AS n_purchase,
      |  CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM s1) AS view_to_click,
      |  CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM s2) AS click_to_purchase""".stripMargin

  /** Mirror of Quality.madOutliers: shared interpolated-median
    * definition (quantile_cont ≡ Spark percentile), consistency
    * constant emitted from the same Scala double, parenthesization
    * matching the Catalyst expression order.
    */
  private def madOutliersSql: String = {
    val c = graft.operators.Quality.MadConsistency
    s"""WITH med AS (SELECT event_type AS mt,
       |         quantile_cont(value, 0.5) AS med
       |       FROM events GROUP BY 1),
       |dev AS (SELECT event_type, med, ABS(value - med) AS adev
       |        FROM events JOIN med ON event_type = mt),
       |mad AS (SELECT event_type AS kt,
       |          quantile_cont(adev, 0.5) AS mad, COUNT(*) AS n
       |        FROM dev GROUP BY 1)
       |SELECT event_type, med, mad, n,
       |  CAST(SUM(CASE WHEN adev > 3.0 * ($c * mad) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers
       |FROM dev JOIN mad ON event_type = kt
       |GROUP BY 1, 2, 3, 4""".stripMargin
  }

  /** Mirror of Behavior.cohortRetention: trunc-of-min cohort week,
    * distinct (user, week) activity, offset in exact weeks (the day
    * difference between truncated Mondays is always a multiple of 7,
    * so the division and the rounding DuckDB cast are both exact).
    */
  private val cohortRetentionSql =
    """WITH f AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      |           FROM events GROUP BY 1),
      |s AS (SELECT cohort_week AS sw, COUNT(*) AS cohort_size FROM f GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
      |      FROM events),
      |m AS (SELECT f.cohort_week,
      |        CAST(date_diff('day', f.cohort_week, a.activity_week) / 7
      |             AS INTEGER) AS week_offset,
      |        COUNT(DISTINCT a.user_id) AS n_active
      |      FROM a JOIN f USING (user_id) GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, cohort_size, n_active,
      |  CAST(n_active AS DOUBLE) / cohort_size AS retention
      |FROM m JOIN s ON cohort_week = sw""".stripMargin

  /** Mirror of Behavior.eventTransitions: LEAD over (ts, event_id) —
    * the id tiebreak totally orders ties identically in both engines.
    */
  private val eventTransitionsSql =
    """WITH t AS (SELECT user_id, event_type,
      |             LEAD(event_type) OVER (PARTITION BY user_id
      |               ORDER BY ts, event_id) AS to_type
      |           FROM events),
      |c AS (SELECT event_type AS from_type, to_type, COUNT(*) AS n
      |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type AS ft, SUM(n) AS row_total FROM c GROUP BY 1)
      |SELECT from_type, to_type, n, CAST(n AS DOUBLE) / row_total AS p
      |FROM c JOIN tot ON from_type = ft""".stripMargin

  /** Mirror of Behavior.attribution: bookend IGNORE-NULLS window
    * scans over the strictly-preceding frame.
    */
  private def attributionSql: String = {
    val touch =
      "CASE WHEN event_type IN ('view','click','signup') THEN event_type END"
    val frame = """OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
    s"""WITH w AS (SELECT event_type, value,
       |    LAST_VALUE($touch IGNORE NULLS) $frame AS lt,
       |    FIRST_VALUE($touch IGNORE NULLS) $frame AS ft
       |  FROM events)
       |SELECT COALESCE(lt, 'direct') AS last_touch,
       |  COALESCE(ft, 'direct') AS first_touch,
       |  COUNT(*) AS n_purchases,
       |  ${dsum("value")} AS revenue
       |FROM w WHERE event_type = 'purchase'
       |GROUP BY 1, 2""".stripMargin
  }

  /** Mirror of Joins.triangleCount over the ≥2-shared-parts co-supply
    * graph: same (degree, id) edge orientation, same out-list wedge
    * enumeration, triangles as wedges closed by an edge.
    */
  private val trianglesSql =
    """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS v FROM lineitem),
      |pr AS (SELECT a.s AS src_a, b.s AS src_b, COUNT(*) AS shared
      |       FROM e a JOIN e b ON a.v = b.v AND a.s < b.s
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |p AS (SELECT src_a AS a, src_b AS b FROM (
      |        SELECT src_a, src_b,
      |          ROW_NUMBER() OVER (PARTITION BY src_a
      |            ORDER BY shared DESC, src_b) AS rn
      |        FROM pr) WHERE rn <= 10),
      |d AS (SELECT node, COUNT(*) AS deg FROM (
      |        SELECT a AS node FROM p UNION ALL SELECT b AS node FROM p)
      |      GROUP BY 1),
      |o AS (SELECT CASE WHEN da.deg < db.deg
      |                    OR (da.deg = db.deg AND p.a < p.b)
      |                  THEN p.a ELSE p.b END AS lo,
      |             CASE WHEN da.deg < db.deg
      |                    OR (da.deg = db.deg AND p.a < p.b)
      |                  THEN p.b ELSE p.a END AS hi
      |      FROM p JOIN d da ON p.a = da.node JOIN d db ON p.b = db.node),
      |w AS (SELECT o1.hi AS wa, o2.hi AS wb FROM o o1 JOIN o o2
      |      ON o1.lo = o2.lo AND o1.hi < o2.hi)
      |SELECT (SELECT COUNT(*) FROM p) AS n_edges,
      |       (SELECT COUNT(*) FROM w) AS n_wedges,
      |       (SELECT COUNT(*) FROM w JOIN p ON wa = p.a AND wb = p.b)
      |         AS n_triangles""".stripMargin

  /** Mirror of Behavior.sessionPaths: lag-gap sessionize on integer
    * seconds, ordered string_agg path, same top-k order.
    */
  private def sessionPathsSql: String =
    s"""WITH o AS (SELECT user_id, event_id, event_type, ts,
       |             $sec AS sec FROM events),
       |g AS (SELECT user_id, event_id, event_type, ts, sec,
       |        CASE WHEN lag(sec) OVER w IS NULL
       |               OR sec - lag(sec) OVER w > 1800
       |             THEN 1 ELSE 0 END AS opens
       |      FROM o
       |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (SELECT user_id, event_id, event_type, ts,
       |        SUM(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM g),
       |p AS (SELECT user_id, sid,
       |        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
       |      FROM s GROUP BY 1, 2),
       |c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
       |SELECT path, n_sessions FROM c
       |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** Mirror of ModelEval.preferencePairs: the same two opposing
    * ROW_NUMBER windows with opposite id tiebreaks.
    */
  private val preferencePairsSql =
    """WITH r AS (SELECT user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY value DESC, event_id DESC) AS rb,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY value ASC, event_id ASC) AS rw
      |  FROM events),
      |b AS (SELECT user_id, event_id AS best_event, value AS best_value
      |      FROM r WHERE rb = 1),
      |w AS (SELECT user_id, event_id AS worst_event, value AS worst_value
      |      FROM r WHERE rw = 1)
      |SELECT user_id, best_event, best_value, worst_event, worst_value,
      |  best_value - worst_value AS margin
      |FROM b JOIN w USING (user_id)
      |WHERE best_event <> worst_event""".stripMargin

  /** Mirror of WindowedAggs.burstDetect: integer hour buckets, RANGE
    * trailing window, n·24 > 2·sum integer decision.
    */
  private val burstDetectSql =
    s"""WITH h AS (SELECT event_type, ($sec) // 3600 AS hour_bucket,
       |             COUNT(*) AS n
       |           FROM events GROUP BY 1, 2),
       |t AS (SELECT event_type, hour_bucket, n,
       |        SUM(n) OVER w AS trail_sum,
       |        COUNT(n) OVER w AS trail_cnt
       |      FROM h
       |      WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
       |        RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
       |SELECT event_type, hour_bucket, n,
       |  CAST(trail_sum AS BIGINT) AS trail_sum, trail_cnt,
       |  n * 24 > 2 * trail_sum AS burst
       |FROM t WHERE trail_cnt > 0""".stripMargin

  /** Mirror of Quality.snapshotDiff on the two derived event
    * snapshots (eval side doubles the error rows' values).
    */
  private val snapshotDiffSql =
    """WITH o AS (SELECT event_id AS k, value AS v_old FROM events
      |           WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
      |n AS (SELECT event_id AS k,
      |        CASE WHEN event_type = 'error' THEN value * 2
      |             ELSE value END AS v_new
      |      FROM events WHERE ts >= TIMESTAMP '2024-01-06 00:00:00'),
      |j AS (SELECT CASE WHEN v_old IS NULL THEN 'added'
      |                  WHEN v_new IS NULL THEN 'removed'
      |                  WHEN v_old = v_new THEN 'unchanged'
      |                  ELSE 'changed' END AS status
      |      FROM o FULL OUTER JOIN n USING (k))
      |SELECT status, COUNT(*) AS n_rows FROM j GROUP BY 1""".stripMargin

  /** Mirror of FeatureEng.rebalanceClasses/-Profile: same md5 16-bit
    * draw (nibble-CASE hex parse), same integer cross-multiplied
    * keep decision, per-class kept profile.
    */
  private def rebalanceSql: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    def nib(pos: Int) = s"(CASE substr(h, $pos, 1) $nibble END)"
    s"""WITH c AS (SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1),
       |m AS (SELECT MIN(cnt) AS minc FROM c),
       |e2 AS (SELECT event_type,
       |         md5('bal:' || CAST(event_id AS VARCHAR)) AS h FROM events),
       |k AS (SELECT e2.event_type
       |      FROM e2 JOIN c USING (event_type) CROSS JOIN m
       |      WHERE (${nib(1)} * 4096 + ${nib(2)} * 256
       |             + ${nib(3)} * 16 + ${nib(4)}) * cnt < minc * 65536),
       |g AS (SELECT event_type, COUNT(*) AS n_kept FROM k GROUP BY 1)
       |SELECT event_type, cnt AS n_before, n_kept,
       |  CAST(n_kept AS DOUBLE) / cnt AS kept_rate
       |FROM g JOIN c USING (event_type)""".stripMargin
  }

  /** Mirror of FeatureEng.kfoldProfile: same nibble-horner 16-bit
    * draw on the user id, mod 5, exact davg.
    */
  private def kfoldSql: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    def nib(pos: Int) = s"(CASE substr(h, $pos, 1) $nibble END)"
    s"""WITH e2 AS (SELECT value, user_id,
       |    md5('fold:' || CAST(user_id AS VARCHAR)) AS h FROM events),
       |f AS (SELECT value, user_id,
       |        CAST((${nib(1)} * 4096 + ${nib(2)} * 256
       |          + ${nib(3)} * 16 + ${nib(4)}) % 5 AS BIGINT) AS fold
       |      FROM e2)
       |SELECT fold, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  ${davg("value")} AS avg_value
       |FROM f GROUP BY 1""".stripMargin
  }

  /** Mirror of FeatureEng.valueHistogram: FLOOR in FP before the
    * BIGINT cast (DuckDB's double cast rounds; Spark truncates).
    */
  private val histogramSql =
    s"""SELECT event_type, CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
       |  COUNT(*) AS n, ${dsum("value")} AS bin_sum
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Mirror of Quality.seasonalAnomaly: scaled-BIGINT conditional
    * sums in one grouped pass; the anomaly flag is pure integer
    * cross-multiplication, the means the same single divisions.
    */
  private val seasonalAnomalySql = {
    val cut = "TIMESTAMP '2024-01-22 00:00:00'"
    val scaled = "CAST(ROUND(value * 1.0e4, 0) AS BIGINT)"
    s"""WITH g AS (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
       |    CAST(SUM(CASE WHEN ts < $cut THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       |    CAST(SUM(CASE WHEN ts < $cut THEN $scaled ELSE 0 END) AS BIGINT)
       |      AS base_scaled,
       |    CAST(SUM(CASE WHEN ts >= $cut THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
       |    CAST(SUM(CASE WHEN ts >= $cut THEN $scaled ELSE 0 END) AS BIGINT)
       |      AS eval_scaled
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, hod, n_base, n_eval,
       |  CAST(base_scaled AS DOUBLE) / 1.0e4 / n_base AS base_mean,
       |  CAST(eval_scaled AS DOUBLE) / 1.0e4 / n_eval AS eval_mean,
       |  ABS(eval_scaled * n_base - base_scaled * n_eval) * 5
       |    > 1 * (base_scaled * n_eval) AS anomaly
       |FROM g WHERE n_base > 0 AND n_eval > 0""".stripMargin
  }

  /** Mirror of Quality.columnStats (exact form) over the oracle-safe
    * column subset: bigints and strings cast to VARCHAR render
    * identically in both engines (doubles/timestamps would not).
    */
  private def columnStatsSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value
         |FROM events""".stripMargin
    Seq("event_id", "user_id", "event_type").map(one)
      .mkString("\nUNION ALL\n")
  }

  val sql: Map[String, String] = Map(
    "q_table_stats" -> columnStatsSql,
    "q_model_score" -> modelScoreSql,
    "q_feature_store" -> featureStoreSql,
    "q_funnel" -> funnelSql,
    "q_mad_outliers" -> madOutliersSql,
    "q_cohort_retention" -> cohortRetentionSql,
    "q_event_transitions" -> eventTransitionsSql,
    "q_attribution" -> attributionSql,
    "q_triangles" -> trianglesSql,
    "q_seasonal_anomaly" -> seasonalAnomalySql,
    "q_rebalance" -> rebalanceSql,
    "q_session_paths" -> sessionPathsSql,
    "q_snapshot_diff" -> snapshotDiffSql,
    "q_preference_pairs" -> preferencePairsSql,
    "q_burst_detect" -> burstDetectSql,
    "q_kfold" -> kfoldSql,
    "q_histogram" -> histogramSql,

    "q_json_props" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_struct,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_variant,
        |  json_valid(props) AS parsed_ok
        |FROM events""".stripMargin,

    "q_json_rollup" ->
      s"""SELECT CAST(json_extract(props, '$$.k') AS BIGINT) % 10 AS k_mod10,
         |  COUNT(*) AS n,
         |  ${dsum("value")} AS total_value
         |FROM events GROUP BY 1""".stripMargin,
    "q_merchant_hourly" -> merchantHourlySql,
    "q_graph_degree" -> graphDegreeSql,
    "q_feature_stats" -> featureStatsSql,
    "q_feature_valuecounts" -> featureValueCountsSql,
    "q_percentiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_negative_samples" -> negativeSamplesSql,
    "q_kanon_risk" ->
      """SELECT event_type,
        |  CAST(FLOOR((hour(ts) * 60 + minute(ts)) / 6) AS BIGINT)
        |    AS tod_band,
        |  CAST(length(CAST(CAST(FLOOR(GREATEST(value, 1.0)) AS BIGINT)
        |    AS VARCHAR)) - 1 AS BIGINT) AS amount_decade,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2, 3 HAVING COUNT(*) < 5""".stripMargin,
    "q_zorder_key" -> {
      // interleave of the low 8 bits: x in even, y in odd positions —
      // mirror of Layout.zorderKey's unrolled shift/mask terms. Every
      // term is FULLY parenthesized: DuckDB (like Postgres) gives
      // `|` and `<<` equal precedence, left-associative, so an
      // unparenthesized a << 1 | b << 3 parses as ((a << 1) | b) << 3
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH b AS (SELECT event_id,
         |  CAST(LEAST(FLOOR(value / 4), 255) AS BIGINT) AS x,
         |  CAST(FLOOR((hour(ts) * 60 + minute(ts)) / 6) AS BIGINT) AS y
         |  FROM events)
         |SELECT event_id, x AS amount_band, y AS tod_band,
         |  (${terms.mkString(" | ")}) AS zkey
         |FROM b""".stripMargin
    },
    "q_winsorize" ->
      """WITH b AS (SELECT event_type,
        |    quantile_cont(value, 0.01) AS p_lo,
        |    quantile_cont(value, 0.99) AS p_hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type, value,
        |  GREATEST(p_lo, LEAST(p_hi, value)) AS value_winsorized,
        |  value < p_lo AS clipped_low,
        |  value > p_hi AS clipped_high
        |FROM events JOIN b USING (event_type)""".stripMargin,
    "q_fuzzy_match" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        | AND abs(length(a.p_name) - length(b.p_name)) <= 6
        |WHERE levenshtein(a.p_name, b.p_name) <= 6""".stripMargin,
    "q_pattern_agg" -> patternAggSql,
    "q_lag_lead" -> lagLeadSql,
    "q_string_features" -> stringFeaturesSql,
    "q_velocity_multi" -> velocitySql,
    "q_interval_join" -> intervalJoinSql,

    // DuckDB's native ASOF JOIN is the oracle for the union+window
    // implementation (Joins.asOfJoin); >= makes same-instant updates
    // visible, matching the (ts, right-before-left) sort order.
    "q_asof_join" ->
      """WITH upd AS (SELECT user_id, ts, MAX(value) AS profile_value
        |             FROM events WHERE event_type = 'signup'
        |             GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, e.ts, e.value, u.profile_value
        |FROM events e ASOF LEFT JOIN upd u
        |  ON e.user_id = u.user_id AND e.ts >= u.ts""".stripMargin,
    "q_asof_native" ->
      """WITH upd AS (SELECT user_id, ts, MAX(value) AS profile_value
        |             FROM events WHERE event_type = 'signup'
        |             GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, e.ts, e.value, u.profile_value
        |FROM events e ASOF LEFT JOIN upd u
        |  ON e.user_id = u.user_id AND e.ts >= u.ts""".stripMargin,
    "q_banded_join" -> bandedJoinSql,
    "q_graph_cooccur" -> coOccurSql,
    "q_event_features" -> featureSql,
    "q_fraud_scoring" -> scoringSql,
    "q_ensemble" -> ensembleSql,
    "q_ensemble_multi" -> ensembleMultiSql,
    "q_seq_score" -> seqScoreSql,
    "q_graph_score" -> graphScoreSql,
    "q_model_explain" -> modelExplainSql,
    "q_ab_test" -> abTestSql,
    "q_geo_features" -> geoSql,
  )
}
