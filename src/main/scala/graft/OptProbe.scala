package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Sub-plan probes for optimization work: each names a STAGE of a
  * declared query (the simhash pass alone, the CC fixpoint alone, one
  * ANN rung alone) so a slow query can be attributed to the stage that
  * owns the time instead of guessed at. [[Bench]] times and profiles a
  * probe when SPARK_GRAFT_BENCH_ONLY names it, by the suite's own rules
  * (min of runs, jobs, stages, tasks, top-3 stages); the full suite
  * never runs them:
  *
  * `SPARK_GRAFT_BENCH_ONLY=p_cc,q_dedup_clusters sbt "runMain graft.Bench"`
  */
object OptProbe {
  def probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- cluster-family decomposition (q_dedup_clusters et al.) ----
    "p_simhash" -> ((s, d) => Dedup.simhash(T(s, d)("documents"))),
    "p_sig_reps" -> ((s, d) => sigReps(T(s, d)("documents"))),
    "p_rep_pairs" -> ((s, d) =>
      Dedup.simhashPairs(T(s, d)("documents"))),
    // the connected-components fixpoint over the rep pairs
    "p_cc" -> ((s, d) => {
      val docs = T(s, d)("documents")
      Dedup.connectedComponents(
        Dedup.simhashPairs(docs).select("doc_a", "doc_b"),
        sigReps(docs).select("doc_id"), "doc_id")
    }),
    "p_clusters" -> ((s, d) => Dedup.simhashClusters(T(s, d)("documents"))),
    // ---- containment: prefix-filtered vs direct self-join (the
    // numbers behind Dedup.ContainmentPrefixMinDocs) ----
    "p_containment_prefix" -> ((s, d) => Dedup.containmentPairs(
      T(s, d)("documents"), threshold = 0.8, prefixFilter = Some(true))),
    "p_containment_direct" -> ((s, d) => Dedup.containmentPairs(
      T(s, d)("documents"), threshold = 0.8, prefixFilter = Some(false))),
    // ---- ANN ladder decomposition ----
    "p_prepared" -> ((s, d) =>
      T(s, d)("embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))),
    "p_truth" -> ((s, d) =>
      Similarity.bruteForceTopK(T(s, d)("embeddings"), col("vec_id") < 8, 3)),
    "p_ivf" -> ((s, d) =>
      Similarity.ivfTopK(T(s, d)("embeddings"), col("vec_id") < 8, 3)),
    "p_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(T(s, d)("embeddings"), col("vec_id") < 8, 3)),
    "p_lsh" -> ((s, d) =>
      Similarity.lshTopK(T(s, d)("embeddings"), col("vec_id") < 8, 3))
  )

  private def T(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables(s, dir, name)

  private def sigReps(docs: DataFrame): DataFrame =
    Dedup.simhash(docs).groupBy("simhash").agg(min("doc_id").as("doc_id"))
}
