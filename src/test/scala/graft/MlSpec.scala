package graft

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.graftshim.ModelBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.FraudModel

/** The model leg: train→serve determinism, the published serving
  * model, named dispatch (model_manager.py:279-307), and the
  * bit-exactness contract the q_model_score oracle relies on.
  */
class MlSpec extends AnyFunSuite {
  import TestSpark._

  /** Reference scorer: the published weights as a real MLlib
    * `LogisticRegressionModel`, applied through the Transformer API
    * (assemble → transform → unpack the raw/probability vectors).
    */
  private def mllibScore(df: DataFrame, amount: Column, ts: Column): DataFrame = {
    val lr = ModelBridge.logistic("graft_lr", FraudModel.PublishedWeights,
      FraudModel.PublishedIntercept).setFeaturesCol("features")
    lr.transform(FraudModel.assembler.transform(
        FraudModel.withFeatures(df, amount, ts)))
      .withColumn("margin", element_at(vector_to_array(col("rawPrediction")), 2))
      .withColumn("p_fraud", element_at(vector_to_array(col("probability")), 2))
  }

  test("training on the seeded simulator reproduces the published weights") {
    // Bitwise up to gradient-accumulation order: treeAggregate sums
    // partials in partition order, so core count shifts the last few
    // ulps (published run: local[8]; suite runs local[4]). The model
    // itself is identical to ~1e-12 relative.
    val txns = graft.gen.DataGen.transactions(spark, 50000L, 500, 42L)
    val lr = FraudModel.train(txns).stages(1)
      .asInstanceOf[LogisticRegressionModel]
    lr.coefficients.toArray.zip(FraudModel.PublishedWeights).foreach {
      case (t, p) => assert(math.abs(t - p) <= 1e-9 * math.max(1.0, math.abs(p)),
        s"trained $t vs published $p")
    }
    assert(math.abs(lr.intercept - FraudModel.PublishedIntercept) <= 1e-9)
  }

  test("published model separates labeled fraud from normal traffic") {
    val txns = graft.gen.DataGen.transactions(spark, 20000L, 500, 42L)
    val scored = FraudModel.score(txns, col("amount"), col("timestamp"))
    val byLabel = scored.groupBy(col("is_fraud"))
      .agg(avg(col("p_fraud")).as("avg_p"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLabel(true) > 5 * byLabel(false),
      s"fraud ${byLabel(true)} vs normal ${byLabel(false)}")
  }

  test("transform margin equals the closed-form left-assoc chain bit-for-bit") {
    // q_model_score's oracle assumes BLAS ddot == left-associated sum
    // in index order; pin that here on real table data.
    val ev = sources.Tables(spark, sf, "events")
    val scored = mllibScore(ev, col("value"), col("ts"))
      .select(col("event_id"), col("margin"))
    val manual = FraudModel.withFeatures(ev, col("value"), col("ts"))
      .select(col("event_id"),
        (FraudModel.FeatureNames.zip(FraudModel.PublishedWeights)
          .map { case (n, w) => col(n) * lit(w) }
          .reduce(_ + _) + lit(FraudModel.PublishedIntercept)).as("m2"))
    val mismatches = scored.join(manual, "event_id")
      .filter(col("margin") =!= col("m2")).count()
    assert(mismatches == 0L)
  }

  test("columnar twin: margin bit-identical, sigmoid to ~1e-13 relative") {
    // MLlib's link uses java.lang.Math.exp (intrinsic); Catalyst's EXP
    // uses StrictMath.exp — a few-ulp exp divergence amplifies to
    // ~1e-14 relative in the probability; the margin is exact.
    val ev = sources.Tables(spark, sf, "events")
    val a = mllibScore(ev, col("value"), col("ts"))
      .select(col("event_id"), col("margin"), col("p_fraud"))
    val b = FraudModel.score(ev, col("value"), col("ts"))
      .select(col("event_id"), col("margin").as("m2"),
        col("p_fraud").as("p2"))
    val j = a.join(b, "event_id").cache()
    assert(j.filter(col("margin") =!= col("m2")).count() == 0L)
    val maxRel = j.select(
      max(abs(col("p_fraud") - col("p2")) / col("p_fraud")).as("r"))
      .head().getDouble(0)
    assert(maxRel <= 1e-13, s"sigmoid diverged beyond tolerance: $maxRel")
    j.unpersist()
  }

  test("registry dispatches by name and falls back to the default model") {
    import spark.implicits._
    val df = Seq((1L, 100.0, java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
      .toDF("id", "amount", "ts")
    val viaDefault =
      FraudModel.scoreWith(FraudModel.DefaultModel, df, col("amount"), col("ts"))
    val viaUnknown =
      FraudModel.scoreWith("no_such_model", df, col("amount"), col("ts"))
    assert(viaDefault.columns.contains("p_fraud"))
    assert(viaUnknown.select("p_fraud").collect().map(_.getDouble(0)).toSeq ==
      viaDefault.select("p_fraud").collect().map(_.getDouble(0)).toSeq)
    val viaRules = FraudModel.scoreWith("rule_based", df, col("amount"), col("ts"))
    assert(viaRules.select("p_fraud").collect().head.getDouble(0) == 0.0)
  }

  test("deterministic model families: tree ensemble and isolation score") {
    import spark.implicits._
    def p(name: String, amount: Double, hour: Int): Double = {
      val df = Seq((1L, amount,
        java.sql.Timestamp.valueOf(f"2024-01-03 $hour%02d:00:00"))) // a Wednesday
        .toDF("id", "amount", "ts")
      FraudModel.scoreWith(name, df, col("amount"), col("ts"))
        .select("p_fraud").head().getDouble(0)
    }
    // tree ensemble: big night amount hits the high leaves of all trees
    // (0.9 + 0.55 + 0.75)/3; quiet weekday lunch hits the low leaves
    // (0.1 + 0.05 + 0.15)/3
    assert(p("tree_ensemble", 1600.0, 23) == (0.9 + 0.55 + 0.75) / 3.0)
    assert(p("tree_ensemble", 57.3, 12) == (0.1 + 0.05 + 0.15) / 3.0)
    // isolation: extreme amount at night isolates at depth 1 in both
    // trees -> max anomaly 1.0; mundane row reaches full depth -> 0.0
    assert(p("isolation_forest", 1900.0, 23) == 1.0)
    assert(p("isolation_forest", 57.3, 12) == 0.0)
    // scores stay in [0,1] on real data
    val ev = sources.Tables(spark, sf, "events")
    val bad = FraudModel.scoreWith("isolation_forest", ev, col("value"), col("ts"))
      .filter(col("p_fraud") < 0.0 || col("p_fraud") > 1.0).count() +
      FraudModel.scoreWith("tree_ensemble", ev, col("value"), col("ts"))
        .filter(col("p_fraud") < 0.0 || col("p_fraud") > 1.0).count()
    assert(bad == 0L)
  }

  test("registry covers all five reference model families plus rules") {
    // model_manager.py:279-307 dispatches xgboost / lstm / bert(lr
    // stands in: text features -> linear head) / gnn / isolation_forest
    assert(FraudModel.registry.keySet == Set("logistic_regression",
      "rule_based", "tree_ensemble", "isolation_forest",
      "sequence_model", "graph_model"))
    val ev = sources.Tables(spark, sf, "events")
    Seq("sequence_model", "graph_model").foreach { m =>
      val out = FraudModel.scoreWith(m, ev, col("value"), col("ts"))
      assert(out.filter(col("p_fraud") < 0.0 || col("p_fraud") > 1.0)
        .count() == 0L, s"$m out of range")
      assert(out.count() == ev.count(), s"$m changed cardinality")
    }
  }
}
