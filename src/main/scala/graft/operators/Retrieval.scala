package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranked retrieval over the document corpus — the search/RAG leg of
  * a training-data platform: an inverted-index build surface and BM25
  * scoring (Robertson/Spärck Jones; the Lucene-shaped idf variant).
  *
  * Scale shape: both operators are a tokenizer projection with the
  * term filter PUSHED INTO the explode output (rows for non-query
  * terms die row-locally, never shuffle), followed by keyed
  * aggregation. Corpus statistics (N, avgdl) and per-term document
  * frequencies are catalog-sized frames that broadcast; the final
  * top-k is TakeOrderedAndProject — per-partition heaps, never a
  * single-partition global sort (the same distributed-top-k shape as
  * the tokenizer vocab build, PlanSpec-pinned).
  */
object Retrieval {

  val K1 = 1.2
  val B = 0.75

  private def fan(df: DataFrame): DataFrame = graft.sources.Par.fan(df)

  /** Positional postings for `terms` — the long-form inverted index
    * (term, doc_id, pos), the layout a posting-list store shards by
    * term ([[Layout.writeRangeLayout]] on `term` gives file-level
    * pruning per term). Pure map + row-local filter: nothing
    * shuffles; at 100 TB the cost is the tokenizing scan.
    */
  def invertedIndex(docs: DataFrame, terms: Seq[String]): DataFrame =
    fan(docs)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("pos"))

  /** Exact phrase occurrences via the positional index — the classic
    * phrase-query plan every search engine runs over its postings:
    * for phrase terms t₀..tₘ₋₁, intersect the term posting lists with
    * position alignment (an occurrence starts at p iff term i appears
    * at p+i for every i). Each step is a keyed equi-join on
    * (doc_id, aligned position) — the position is IN the join key, so
    * intersection cost is bounded by the rarest term's posting list,
    * never by document length, and nothing is ever quadratic. Output:
    * one row per matching doc — n_occurrences + first_pos (the
    * snippet anchor).
    *
    * 100 TB shape: the postings projection dies row-locally for
    * non-phrase terms (same contract as [[invertedIndex]]), the m−1
    * alignment joins move only the phrase terms' postings, and a
    * sharded postings store ([[graft.operators.Layout]] range layout
    * on term) turns the scan into per-term file pruning.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    // cached: one postings frame consumed once per phrase term
    val idx = OperatorCaches.track(invertedIndex(docs, phrase.distinct))
    def postings(term: String, offset: Int): DataFrame =
      idx.filter(col("term") === term)
        .select(col("doc_id"), (col("pos") - offset).as("start"))
    val starts = phrase.zipWithIndex.tail.foldLeft(postings(phrase.head, 0)) {
      case (acc, (t, i)) => acc.join(postings(t, i), Seq("doc_id", "start"))
    }
    starts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("start")).as("first_pos"))
  }

  /** BM25 top-k: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf = ln((N − df + 0.5)/(df + 0.5) + 1) (always-positive Lucene
    * form). Exactness: idf is the single libm term — rounded at 6 dp
    * (the standard libm guard here); everything after is same-order
    * IEEE arithmetic on exact integer-derived doubles, and the
    * per-term contributions combine through FIXED-ORDER conditional
    * sums (one column per query term, then a left-to-right `+` chain
    * — never a data-order-dependent sum of doubles), so the score is
    * bit-identical across engines. Final ranking on the 6dp-rounded
    * score with doc_id tiebreak, via orderBy+limit
    * (TakeOrderedAndProject).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 20)
      : DataFrame = {
    val tokenized = fan(docs).select(col("doc_id"),
      split(col("text"), " ").as("toks"))
    val exploded = tokenized
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
    // corpus stats: one broadcast row (N, avgdl — exact long/long division)
    val stats = tokenized.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(col("toks")).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    // per-term document frequency: |terms| rows, broadcast
    val df = exploded.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val tf = exploded.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25Score(tf, df, stats, terms, k)
  }

  /** The BM25 scoring tail over already-derived index frames — shared
    * verbatim between the batch operator and the incrementally
    * maintained [[graft.streaming.StreamIndex]], so the two paths are
    * bit-identical by construction (same expressions, same IEEE op
    * order). Inputs: `tf` (doc_id, dl double, term, tf double),
    * `df` (term, df double — broadcast-sized), `stats` one row
    * (n_docs double, avgdl double).
    */
  private[graft] def bm25Score(tf: DataFrame, df: DataFrame,
                               stats: DataFrame, terms: Seq[String],
                               k: Int): DataFrame = {
    val idf = round(log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0)), 6)
    val contrib = idf * (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), contrib.as("c"))
    // fixed-order combine: one conditional sum per query term (each
    // sums exactly one value per doc), then a left-to-right + chain
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("c"))).as(s"c_$i")
    }
    val total = terms.indices
      .map(i => coalesce(col(s"c_$i"), lit(0.0)))
      .reduceLeft(_ + _)
    scored.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"), round(total, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the standard RAG
    * serving layout (Cormack et al., "Reciprocal Rank Fusion
    * outperforms Condorcet..."): a LEXICAL leg ([[bm25TopK]] over the
    * query terms) and a VECTOR leg ([[Similarity.ivfTopK]] over the
    * query embedding, `doc_id` ≡ `vec_id` — the corpus convention the
    * curation loop already uses) each produce a bounded top list, and
    * documents rank by Σ_legs 1/(rrfK + rank) — rank arithmetic only,
    * so no score normalization across incomparable scales is needed
    * (the reason production stacks prefer RRF over score blending).
    *
    * Scale shape: each leg keeps its own at-scale plan (BM25's
    * pushed-term scan + broadcast stats; IVF's broadcast codebook +
    * keyed inverted-list probe); the fusion itself is a full-outer
    * join of two ≤`kLex`/`kVec`-row frames — driver-trivial, and the
    * only global windows run over those bounded frames. Determinism:
    * ranks are ints, 1.0/(60+rank) is one IEEE division, the two-leg
    * sum is a fixed left-to-right chain, ties to the smaller doc_id —
    * q_hybrid_rrf mirrors it exactly.
    *
    * The vector leg excludes the query vector itself (the ANN
    * convention); the lexical leg has no notion of the query doc, so
    * the query's own document may surface through it — the honest RAG
    * behavior (the query text matching its own source is a feature).
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
                terms: Seq[String], queryVecId: Long, k: Int = 10,
                kLex: Int = 20, kVec: Int = 20, rrfK: Int = 60,
                nprobe: Int = 4): DataFrame =
    rrfFuse(bm25TopK(docs, terms, kLex),
      Similarity.ivfTopK(embeddings, col("vec_id") === queryVecId,
        kVec, nprobe = nprobe).select(col("neighbor_id"), col("rn")),
      k, rrfK)

  /** The fusion tail shared by the batch operator and the streaming
    * twin (`StreamServe.hybridRrf`), so their pinned equality holds
    * by construction: rank the bounded lexical top list (doc_id,
    * bm25), take the vector leg's ranks as given, full-outer join,
    * score Σ 1/(rrfK + rank) with absent legs contributing 0, final
    * top-k by (score desc, doc_id). Both ranking windows are
    * unpartitioned by design and run over bounded frames: the lexical
    * top list, then the fused frame, which the optimizer caps at `k`
    * rows (the `rn <= k` filter becomes a WindowGroupLimit). So
    * Spark's "No Partition Defined for Window" warning here is not
    * actionable: the single-partition input is driver-sized, not a
    * scale hazard (PlanSpec pins both bounds).
    */
  private[graft] def rrfFuse(lexTop: DataFrame, vecTop: DataFrame,
                             k: Int, rrfK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = lexTop.withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val vec = vecTop
      .select(col("neighbor_id").as("vdoc_id"), col("rn").as("vec_rank"))
    val rr = (rank: org.apache.spark.sql.Column) =>
      coalesce(lit(1.0) / (rank + lit(rrfK)).cast("double"), lit(0.0))
    val fused = lex.join(vec, col("doc_id") === col("vdoc_id"),
        "full_outer")
      .select(coalesce(col("doc_id"), col("vdoc_id")).as("doc_id"),
        (rr(col("lex_rank")) + rr(col("vec_rank"))).as("rrf"),
        col("lex_rank"), col("vec_rank"))
    fused.withColumn("rn", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rn") <= k)
      .select("doc_id", "rrf", "lex_rank", "vec_rank", "rn")
  }
}
