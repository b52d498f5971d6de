package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Decisions

/** Rule-based fraud scoring and model-ensemble combiners.
  *
  * The reference computes these per-event in Java
  * (TransactionProcessor.java:327-439 rule weights;
  * ensemble_predictor.py:252-323 combiners); here they are pure
  * column arithmetic, so scoring is fused into the same codegen stage
  * as feature extraction — no per-row function dispatch, no service
  * hop.
  */
object Scoring {

  /** Weighted-sum rule score clamped to [0,1] — the shape of
    * TransactionProcessor.calculateFraudScore (weights are engine
    * config, not learned).
    */
  def ruleScore(weighted: Seq[(Column, Double)]): Column =
    Decisions.clamp01(
      weighted.map { case (c, w) => c.cast("double") * lit(w) }
        .reduce(_ + _))

  // ---- ensemble combiners (ensemble_predictor.py:252-323, A11) ----

  /** Weighted average of model scores. */
  def weightedAverage(scores: Seq[(Column, Double)]): Column = {
    val num = scores.map { case (c, w) => c * lit(w) }.reduce(_ + _)
    num / lit(scores.map(_._2).sum)
  }

  /** Graded voting combiner: the fraction of members whose score
    * clears the threshold — fraud_votes / total_votes, matching the
    * reference's `_voting_ensemble` contract
    * (ensemble_predictor.py:296-323 returns the vote fraction as a
    * probability, not a binary decision). Exact rational: an integer
    * vote count divided by the member count.
    */
  def voteFraction(scores: Seq[Column], threshold: Double = 0.5): Column = {
    val votes = scores.map(s =>
      when(s > threshold, 1).otherwise(0)).reduce(_ + _)
    votes.cast("double") / lit(scores.size.toDouble)
  }

  /** Thresholded majority DECISION: 1 iff a strict majority of members
    * fire. This is the binary decision layered on [[voteFraction]] —
    * the reference's combiner itself returns the graded fraction.
    */
  def majorityVote(scores: Seq[Column], threshold: Double = 0.5): Column = {
    val votes = scores.map(s =>
      when(s > threshold, 1).otherwise(0)).reduce(_ + _)
    (votes >= (scores.size / 2 + 1)).cast("int")
  }

  /** Confidence-weighted combine: weight each model by its distance
    * from the decision boundary (|s−0.5|·2).
    */
  def confidenceWeighted(scores: Seq[Column]): Column = {
    val pairs = scores.map(s => (s, abs(s - lit(0.5)) * lit(2.0)))
    val num = pairs.map { case (s, w) => s * w }.reduce(_ + _)
    val den = pairs.map(_._2).reduce(_ + _)
    when(den > 0.0, num / den).otherwise(lit(0.5))
  }
}
