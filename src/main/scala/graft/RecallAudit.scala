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

    val rows = Seq.newBuilder[(String, Int, Double)]
    for (nprobe <- Seq(1, 2, 4, 8)) {
      rows += (("ivf_first16", nprobe,
        recallOf(Similarity.ivfTopK(emb, qPred, k, nprobe = nprobe), truth, k)))
      OperatorCaches.releaseAll()
      rows += (("ivf_trained", nprobe,
        recallOf(Similarity.ivfTopK(emb, qPred, k, nprobe = nprobe,
          pivotsOpt = Some(trained)), truth, k)))
      OperatorCaches.releaseAll()
      rows += (("ivfpq_first16", nprobe,
        recallOf(Similarity.ivfPqTopK(emb, qPred, k, nprobe = nprobe), truth, k)))
      OperatorCaches.releaseAll()
      rows += (("ivfpq_trained", nprobe,
        recallOf(Similarity.ivfPqTopK(emb, qPred, k, nprobe = nprobe,
          pivotsOpt = Some(trained), bookOpt = Some(trainedBook)), truth, k)))
      OperatorCaches.releaseAll()
      rows += (("ivfpq_residual", nprobe,
        recallOf(Similarity.ivfPqResidualTopK(emb, qPred, k,
          nprobe = nprobe), truth, k)))
      OperatorCaches.releaseAll()
      rows += (("ivfpq_residual_trained", nprobe,
        recallOf(Similarity.ivfPqResidualTopK(emb, qPred, k,
          nprobe = nprobe, bookOpt = Some(residualBook)), truth, k)))
      OperatorCaches.releaseAll()
      rows += (("ivfpq_rerank40", nprobe,
        recallOf(Similarity.ivfPqRerankTopK(emb, qPred, k, rerank = 40,
          nprobe = nprobe), truth, k)))
      OperatorCaches.releaseAll()
      rows += (("residual_rerank40", nprobe,
        recallOf(Similarity.ivfPqResidualRerankTopK(emb, qPred, k,
          rerank = 40, nprobe = nprobe), truth, k)))
      OperatorCaches.releaseAll()
      rows += (("trained_rerank40", nprobe,
        recallOf(Similarity.ivfPqRerankTopK(emb, qPred, k, rerank = 40,
          nprobe = nprobe, pivotsOpt = Some(samplePivots),
          bookOpt = Some(sampleBook)), truth, k)))
      OperatorCaches.releaseAll()
      // RP rung has no nprobe; its dial is the shortlist pool —
      // reuse the loop variable as pool = 10·nprobe for the sweep
      rows += (("rp16_rerank_pool10x", nprobe,
        recallOf(Similarity.rpRerankTopK(emb, qPred, k,
          pool = 10 * nprobe), truth, k)))
      OperatorCaches.releaseAll()
    }
    // ---- clustered-regime twin --------------------------------------
    // Residual encoding pays exactly when the corpus CONCENTRATES
    // around the coarse cells (the IVFADC premise); the near-uniform
    // synthetic embeddings above are the opposite regime. Derive a
    // 16-cluster corpus from the first 16 corpus vectors (cluster
    // centers = the operator's default pivots) with 40 hash-perturbed
    // points each — residuals are then pure within-cell offsets and
    // the residual book quantizes THEM instead of re-describing the
    // cells.
    // the generator is now the operator-surface Similarity
    // .clusteredCopies (promoted in r16 so the clustered regime is
    // oracle-checkable); the audit consumes the same corpus
    val clustered = Similarity.clusteredCopies(emb)
      .localCheckpoint(true)
    val cqPred = col("vec_id") >= 320 && col("vec_id") < 328
    val ctruth = topkSets(Similarity.bruteForceTopK(clustered, cqPred, k))
    OperatorCaches.releaseAll()
    for (nprobe <- Seq(1, 2, 4)) {
      rows += (("clustered_pq_raw", nprobe,
        recallOf(Similarity.ivfPqTopK(clustered, cqPred, k,
          nprobe = nprobe), ctruth, k)))
      OperatorCaches.releaseAll()
      rows += (("clustered_pq_residual", nprobe,
        recallOf(Similarity.ivfPqResidualTopK(clustered, cqPred, k,
          nprobe = nprobe), ctruth, k)))
      OperatorCaches.releaseAll()
      rows += (("clustered_residual_rerank40", nprobe,
        recallOf(Similarity.ivfPqResidualRerankTopK(clustered, cqPred, k,
          rerank = 40, nprobe = nprobe), ctruth, k)))
      OperatorCaches.releaseAll()
      rows += (("clustered_rp16_rerank_pool10x", nprobe,
        recallOf(Similarity.rpRerankTopK(clustered, cqPred, k,
          pool = 10 * nprobe), ctruth, k)))
      OperatorCaches.releaseAll()
    }

    val out = rows.result()
    println("variant,nprobe,recall_at_10")
    out.foreach { case (v, np, r) => println(f"$v,$np,$r%.4f") }
    val json = out.map { case (v, np, r) => s""""${v}_np$np":$r""" }
      .mkString("{\"metric\":\"recall_at_10\",\"sf\":\"" + sfDir + "\",", ",", "}")
    println(json)
    spark.stop()
  }
}
