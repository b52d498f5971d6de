package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-inference stage — the Spark-native analog of the reference's
  * model service (services/ml-models/src/models/model_manager.py:279-307
  * dispatch, ensemble_predictor.py:75-148 member scoring), evaluated
  * entirely inside the executor — no HTTP hop, no per-row dispatch.
  *
  * Training and serving are split the way the reference splits its
  * training jobs from its serving path:
  *  - [[train]]: an MLlib `PipelineModel` (VectorAssembler →
  *    LogisticRegression) fit on DataGen's labeled fraud scenarios
  *    (fixed seed ⇒ deterministic data); MlSpec proves it reproduces
  *    the published weights.
  *  - [[score]]: those published weights, frozen as constants (the
  *    analog of the reference's pickled model files), applied as
  *    column algebra, so scoring fuses into whole-stage codegen with
  *    the rest of the plan, batch or stream, and the q_model_score
  *    oracle is reproducible bit-for-bit.
  */
object FraudModel {

  /** Feature contract shared by the transaction stream and the events
    * table: all rational column arithmetic (no libm), so every feature
    * double is bit-identical in any engine that reads the same rows.
    */
  def featureColumns(amount: Column, ts: Column): Seq[(String, Column)] = Seq(
    "f_amt"     -> (amount / 1000.0),
    "f_hour"    -> (hour(ts).cast("double") / 24.0),
    "f_weekend" -> dayofweek(ts).isin(1, 7).cast("double"),
    "f_micro"   -> (amount < 3.0).cast("double"),
    "f_large"   -> (amount > 1500.0).cast("double"))

  val FeatureNames: Seq[String] =
    Seq("f_amt", "f_hour", "f_weekend", "f_micro", "f_large")

  def withFeatures(df: DataFrame, amount: Column, ts: Column): DataFrame =
    featureColumns(amount, ts).foldLeft(df) { case (d, (n, c)) =>
      d.withColumn(n, c)
    }

  def assembler: VectorAssembler = new VectorAssembler()
    .setInputCols(FeatureNames.toArray).setOutputCol("features")

  /** Fit on labeled data (expects `is_fraud` plus the raw `amount`/
    * `ts` columns, e.g. DataGen.transactions).
    */
  def train(labeled: DataFrame, maxIter: Int = 50): PipelineModel = {
    val lr = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("label")
      .setMaxIter(maxIter).setRegParam(0.01)
    val prepared = withFeatures(labeled, col("amount"), col("timestamp"))
      .withColumn("label", col("is_fraud").cast("double"))
    new Pipeline().setStages(Array(assembler, lr)).fit(prepared)
  }

  /** Coefficients published from `train(DataGen.transactions(n=50000,
    * nUsers=500, seed=42))` on local[8]. A refit reproduces them to
    * ~1e-12 relative (MlSpec) — exact bits depend on partition count
    * because LBFGS gradient sums accumulate in partition order. The
    * serving path and its oracle use ONLY these frozen constants, so
    * scoring is bit-reproducible everywhere regardless.
    */
  val PublishedWeights: Array[Double] = Array(
    3.8191025482813745, -0.020239423108196777, 0.017772414626682952,
    6.949605774911317, 1.012399334285386)
  val PublishedIntercept: Double = -4.334628310389339

  /** Score rows with the published LR: adds `margin` (the raw log-odds)
    * and `p_fraud` (its sigmoid `1/(1+e^-m)`). The margin is the
    * left-associated sum of `w_i·x_i` in feature order plus the
    * intercept — bit-identical to MLlib's `LogisticRegressionModel`
    * (BLAS ddot accumulates the same way; MlSpec pins it). `p_fraud`
    * agrees with MLlib's to ~1e-13 relative: MLlib's link calls
    * Math.exp, Catalyst's EXP calls StrictMath.exp.
    */
  def score(df: DataFrame, amount: Column, ts: Column): DataFrame = {
    val margin = featureColumns(amount, ts).zip(PublishedWeights)
      .map { case ((_, c), w) => c * lit(w) }
      .reduce(_ + _) + lit(PublishedIntercept)
    df.withColumn("margin", margin)
      .withColumn("p_fraud", lit(1.0) / (lit(1.0) + exp(-col("margin"))))
  }

  // ---- named-model dispatch (model_manager.py:279-307) ----

  val DefaultModel = "logistic_regression"

  /** Registered scorers; every member emits a `p_fraud` column. The
    * rule-based member is the reference's RuleBasedModel analog — a
    * config-weighted flag combination, no learning.
    */
  def registry: Map[String, (DataFrame, Column, Column) => DataFrame] = Map(
    DefaultModel -> ((df, a, t) => score(df, a, t)),
    "rule_based" -> ((df, a, t) => df.withColumn("p_fraud",
      graft.functions.Scoring.ruleScore(Seq(
        (a > 1500.0) -> 0.5,
        graft.functions.Features.isNight(t) -> 0.25,
        graft.functions.Features.isWeekend(t) -> 0.25)))),
    // deterministic analogs of the reference's learned families
    // (model_manager.py:279-307): frozen tree ensemble (xgboost) and
    // isolation-depth anomaly score (isolation_forest)
    "tree_ensemble" -> ((df, a, t) => df.withColumn("p_fraud",
      DeterministicModels.treeEnsembleScore(a, t))),
    "isolation_forest" -> ((df, a, t) => df.withColumn("p_fraud",
      DeterministicModels.isolationScore(a, t))),
    // sequence (lstm analog) and graph (gnn analog) members need
    // user_id/event_id columns — the keyed sequence / graph context
    "sequence_model" -> ((df, a, t) =>
      DeterministicModels.sequenceScore(df, a, t)),
    "graph_model" -> ((df, a, t) => DeterministicModels.graphScore(df)))

  /** Dispatch by model name; unknown names fall back to the default
    * model, matching the reference's ModelManager fallback.
    */
  def scoreWith(name: String, df: DataFrame, amount: Column,
                ts: Column): DataFrame =
    registry.getOrElse(name, registry(DefaultModel))(df, amount, ts)
}
