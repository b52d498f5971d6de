package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{OperatorCaches, Similarity}

/** Measures ANN recall@k against the exact brute-force ranking for
  * every variant in the ladder — untrained (first-`nlist` pivots) vs
  * TRAINED (one deterministic Lloyd round, Similarity.kmeansPivotArr)
  * coarse quantizers, at several nprobe settings — producing the
  * recall table COVERAGE.md records. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.RecallAudit"
  *
  * Driver-side collects are bounded: |queries| × k ids per variant.
  */
object RecallAudit {

  private def topkSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  private def recallOf(ann: DataFrame, truth: Map[Long, Set[Long]], k: Int): Double = {
    val got = topkSets(ann)
    val per = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / k }
    per.sum / per.size
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qPred = col("vec_id") < 64
    val k = 10
    val truth = topkSets(Similarity.bruteForceTopK(emb, qPred, k))
    OperatorCaches.releaseAll()

    val trained = Similarity.kmeansPivotArr(emb, k = 16, iters = 1)
      .localCheckpoint(true)
    val trainedBook = Similarity.kmeansCarr(emb, k = 16, iters = 1)
      .localCheckpoint(true)
    // q_ann_trained_rerank's regime: ONE book, ONE Lloyd round on the
    // 25% sample, in both the coarse and PQ roles, + exact rerank@40
    // (one round, not more — see the r11 decomposition in COVERAGE.md)
    val sampleBook = Similarity.kmeansCarr(
        emb.filter(pmod(col("vec_id"), lit(4L)) === 0), k = 16, iters = 1)
      .localCheckpoint(true)
    val samplePivots = Similarity.carrToPivotArr(sampleBook)
      .localCheckpoint(true)
    OperatorCaches.releaseAll()

    // trained RESIDUAL book (the production IVFADC shape): one Lloyd
    // round of k-means over the residual frame itself. Train on
    // vec_id >= 16 ONLY: the first 16 residuals are identically zero
    // (the pivots' own residuals), and kmeansCarr seeds on the first
    // 16 rows — zero seeds collapse every assignment to cluster 0 and
    // the "trained" book to [global mean, 15 zeros], the same
    // degenerate-book trap the operator's default book convention
    // documents (an earlier audit row measured that artifact at 0.066
    // recall and misread it as a training conclusion).
    val residuals = Similarity.residualFrame(emb).localCheckpoint(true)
    val residualBook = Similarity.kmeansCarr(
        residuals.filter(col("vec_id") >= 16)
          .select(col("vec_id"), col("r").as("embedding")),
        k = 16, iters = 1)
      .localCheckpoint(true)
    OperatorCaches.releaseAll()

    // ---- clustered-regime twin --------------------------------------
    // Residual encoding pays exactly when the corpus CONCENTRATES
    // around the coarse cells (the IVFADC premise); the near-uniform
    // synthetic embeddings are the opposite regime. Derive a 16-cluster
    // corpus from the first 16 corpus vectors (cluster centers = the
    // operator's default pivots) with 40 hash-perturbed points each —
    // residuals are then pure within-cell offsets and the residual
    // book quantizes THEM instead of re-describing the cells. The
    // generator is the operator-surface Similarity.clusteredCopies, so
    // the audit consumes the oracle-checked corpus.
    val clustered = Similarity.clusteredCopies(emb)
      .localCheckpoint(true)
    val cqPred = col("vec_id") >= 320 && col("vec_id") < 328
    val ctruth = topkSets(Similarity.bruteForceTopK(clustered, cqPred, k))
    OperatorCaches.releaseAll()

    // (variant, nprobe, approximate top-k) per row, in print order; the
    // RP rungs have no nprobe — their dial is the shortlist pool, swept
    // as pool = 10·nprobe
    import Similarity._
    val uniform: Seq[(String, Int => DataFrame)] = Seq(
      "ivf_first16" -> (np => ivfTopK(emb, qPred, k, nprobe = np)),
      "ivf_trained" -> (np => ivfTopK(emb, qPred, k, nprobe = np,
        pivotsOpt = Some(trained))),
      "ivfpq_first16" -> (np => ivfPqTopK(emb, qPred, k, nprobe = np)),
      "ivfpq_trained" -> (np => ivfPqTopK(emb, qPred, k, nprobe = np,
        pivotsOpt = Some(trained), bookOpt = Some(trainedBook))),
      "ivfpq_residual" -> (np => ivfPqResidualTopK(emb, qPred, k, nprobe = np)),
      "ivfpq_residual_trained" -> (np => ivfPqResidualTopK(emb, qPred, k,
        nprobe = np, bookOpt = Some(residualBook))),
      "ivfpq_rerank40" -> (np => ivfPqRerankTopK(emb, qPred, k, rerank = 40,
        nprobe = np)),
      "residual_rerank40" -> (np => ivfPqResidualRerankTopK(emb, qPred, k,
        rerank = 40, nprobe = np)),
      "trained_rerank40" -> (np => ivfPqRerankTopK(emb, qPred, k, rerank = 40,
        nprobe = np, pivotsOpt = Some(samplePivots), bookOpt = Some(sampleBook))),
      "rp16_rerank_pool10x" -> (np => rpRerankTopK(emb, qPred, k, pool = 10 * np)))
    val clusteredRows: Seq[(String, Int => DataFrame)] = Seq(
      "clustered_pq_raw" -> (np => ivfPqTopK(clustered, cqPred, k, nprobe = np)),
      "clustered_pq_residual" -> (np => ivfPqResidualTopK(clustered, cqPred, k,
        nprobe = np)),
      "clustered_residual_rerank40" -> (np => ivfPqResidualRerankTopK(clustered,
        cqPred, k, rerank = 40, nprobe = np)),
      "clustered_rp16_rerank_pool10x" -> (np => rpRerankTopK(clustered, cqPred,
        k, pool = 10 * np)))
    val table =
      (for (np <- Seq(1, 2, 4, 8); (v, ann) <- uniform)
        yield (v, np, () => recallOf(ann(np), truth, k))) ++
      (for (np <- Seq(1, 2, 4); (v, ann) <- clusteredRows)
        yield (v, np, () => recallOf(ann(np), ctruth, k)))
    val out = table.map { case (v, np, recall) =>
      try (v, np, recall()) finally OperatorCaches.releaseAll() }
    println("variant,nprobe,recall_at_10")
    out.foreach { case (v, np, r) => println(f"$v,$np,$r%.4f") }
    println(Bench.jsonObject(Seq("metric" -> "recall_at_10", "sf" -> sfDir) ++
      out.map { case (v, np, r) => s"${v}_np$np" -> r }: _*).toString)
    spark.stop()
  }
}
