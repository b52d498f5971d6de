package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.OracleSql._
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 (or the
  * large-scale data-pipeline extensions) expressed through the graft
  * library over the driver's deterministic tables; [[oracleSql]] holds
  * the ANSI-SQL twin the driver runs in DuckDB. Numeric results are
  * engineered to be bit-identical across engines (see
  * [[graft.functions.ExactAgg]]).
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables(s, dir, name)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val t = T(spark, "/root/testdata/sf0.001") _
    StarJoin.revenueByNation(
      t("region"), t("nation"), t("customer"), t("orders"), t("lineitem"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: per-key velocity profile
    "q_user_velocity" -> ((s, d) =>
      WindowedAggs.keyVelocity(T(s, d)("events"))),
    // A2: per-merchant stats incl. exact stddev + distinct counts
    "q_supplier_stats" -> ((s, d) =>
      WindowedAggs.supplierStats(T(s, d)("lineitem"))),
    // A9: epoch-hour roll-up
    "q_hourly_rollup" -> ((s, d) =>
      WindowedAggs.hourlyRollup(T(s, d)("events"))),
    // TPC-H Q3 shape: filtered star join, top-10 with tiebreak
    "q_shipping_priority" -> ((s, d) => {
      val t = T(s, d) _
      ShippingPriority.topOrders(t("customer"), t("orders"), t("lineitem"))
    }),
    // TPC-H Q1 shape: canonical multi-aggregate pricing summary
    "q_pricing_summary" -> ((s, d) =>
      WindowedAggs.pricingSummary(T(s, d)("lineitem"))),
    // TPC-H Q6 shape: pushed-down range filters + revenue agg
    "q_forecast_revenue" -> ((s, d) =>
      WindowedAggs.forecastRevenue(T(s, d)("lineitem"))),
    // set operations: INTERSECT / EXCEPT cohorting
    "q_churn_sets" -> ((s, d) =>
      WindowedAggs.churnSets(T(s, d)("events"))),
    // A9 daily roll-up with conditional counts
    "q_daily_rollup" -> ((s, d) =>
      WindowedAggs.dailyRollup(T(s, d)("events"))),
    // A9 merchant-hour roll-up (Redis merchant:<id>:<hour> analog)
    "q_merchant_hourly" -> ((s, d) =>
      WindowedAggs.merchantHourRollup(T(s, d)("events"))),
    // J7 companion: per-entity distinct-counterparty degree/centrality
    "q_graph_degree" -> ((s, d) =>
      Joins.degreeFeatures(T(s, d)("events"))),
    // A10 feature-store registry: numeric stats incl. null rate
    "q_feature_stats" -> ((s, d) =>
      graft.functions.FeatureRegistry.numericStats(T(s, d)("events"))),
    // A10 feature-store registry: categorical value counts + share
    "q_feature_valuecounts" -> ((s, d) =>
      graft.functions.FeatureRegistry.valueCounts(T(s, d)("events"))),
    // A10 feature-store PERSISTENCE: write definitions +
    // range-laid-out values parquet, then oracle-audit the read-back
    // (name/type recovered by joining the definitions catalog)
    "q_feature_store" -> ((s, d) =>
      graft.functions.FeatureStoreOps.roundTrip(T(s, d)("events"),
        s"${System.getProperty("java.io.tmpdir")}/graft_fstore_${math.abs(d.hashCode)}")),
    // A1 sliding window: 5 min / 1 min panes
    "q_sliding_window" -> ((s, d) =>
      WindowedAggs.slidingCounts(T(s, d)("events"))),
    // A3: session windows, 30-min gap
    "q_session_window" -> ((s, d) =>
      WindowedAggs.userSessions(T(s, d)("events"))),
    // J1/J2: broadcast enrichment join with defaults on miss
    "q_enrich_orders" -> ((s, d) => {
      val t = T(s, d) _
      Enrichment.ordersBySegment(t("orders"), t("customer"))
    }),
    // multi-way star join + aggregation (broadcast dims)
    "q_star_revenue" -> ((s, d) => {
      val t = T(s, d) _
      StarJoin.revenueByNation(
        t("region"), t("nation"), t("customer"), t("orders"), t("lineitem"))
    }),
    // S8: last-N-per-key retention via row_number
    "q_topn_recent" -> ((s, d) =>
      TopN.recentPerKey(T(s, d)("events"), "user_id", "ts", "event_id", 3)
        .select("user_id", "event_id", "rn")),
    // S8 via the native two-phase TopK operator (custom LogicalPlan +
    // Strategy + partial/final SparkPlans)
    "q_topn_native" -> ((s, d) =>
      TopN.recentPerKeyNative(T(s, d)("events"), "user_id", "ts",
          "event_id", 3)
        .select("user_id", "event_id")),
    // decision CASE ladders (TransactionProcessor.java:444-473)
    "q_decision_ladder" -> ((s, d) =>
      Decisions.orderDecisions(T(s, d)("orders"))),
    // EXISTS / left-semi join (TPC-H Q4 shape)
    "q_order_priority" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.orderPriority(t("orders"), t("lineitem"))
    }),
    // 6-table join with cross-dimension equality (TPC-H Q5 shape)
    "q_local_supplier" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.localSupplierVolume(t("region"), t("nation"),
        t("customer"), t("supplier"), t("orders"), t("lineitem"))
    }),
    // conditional-sum ratio (TPC-H Q14 shape)
    "q_promo_revenue" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.promoRevenue(t("lineitem"), t("part"))
    }),
    // CASE-split double counts (TPC-H Q12 shape)
    "q_priority_counts" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.priorityCounts(t("orders"), t("lineitem"))
    }),
    // NOT EXISTS / left-anti join
    "q_unordered_parts" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.unorderedParts(t("part"), t("lineitem"))
    }),
    // disjunctive predicate over a join (TPC-H Q19 shape)
    "q_disjunctive_rev" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.disjunctiveRevenue(t("lineitem"), t("part"))
    }),
    // TPC-H Q15 shape: revenue view + scalar-max top supplier
    "q_top_supplier" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.topSupplierRevenue(t("supplier"), t("lineitem"))
    }),
    // TPC-H Q20 shape: nested semi-join with correlated aggregate
    "q_share_supplier" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.significantShareSuppliers(t("supplier"), t("part"),
        t("lineitem"))
    }),
    // TPC-H Q22 shape: scalar-avg subquery + anti join
    "q_dormant_customers" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.dormantRichCustomers(t("customer"), t("orders"))
    }),
    // TPC-H Q17 shape: correlated per-part average threshold
    "q_small_qty_rev" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.smallQuantityRevenue(t("lineitem"), t("part"))
    }),
    // TPC-H Q18 shape: HAVING on summed quantity + dimension joins
    "q_big_orders" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.bigVolumeOrders(t("customer"), t("orders"),
        t("lineitem"))
    }),
    // correlated scalar subquery shape (max per customer, Q2 flavor)
    "q_max_order" -> ((s, d) =>
      OlapQueries.maxOrderPerCustomer(T(s, d)("orders"))),
    // data-quality expectation suite (one-pass rules + FK orphans)
    "q_data_quality" -> ((s, d) => {
      val t = T(s, d) _
      Quality.eventsSuite(t("events"), t("orders"), t("customer"))
    }),
    // snapshot MERGE/upsert via full-outer join, updates win
    "q_merge_upsert" -> ((s, d) => {
      val c = T(s, d)("customer")
      Merge.upsert(c, Merge.customerUpserts(c), "c_custkey")
    }),
    // SCD type-2 history reconstruction from a keyed changelog:
    // half-open [valid_from, valid_to) version intervals via LEAD,
    // open version flagged current — one keyed shuffle
    "q_scd2" -> ((s, d) =>
      Merge.scd2(T(s, d)("orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"),
        key = "o_custkey", ts = "o_orderdate", tiebreak = "o_orderkey")),
    // EXISTS + NOT EXISTS with inequality residual (Q21 shape)
    "q_sole_supplier" -> ((s, d) =>
      OlapQueries.soleGoodSupplier(T(s, d)("lineitem"))),
    // TPC-H Q13 shape: outer-join order-count histogram
    "q_cust_distribution" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.customerDistribution(t("customer"), t("orders"))
    }),
    // TPC-H Q10 shape: top-20 lost revenue from returned items
    "q_returned_items" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.returnedItems(t("customer"), t("orders"),
        t("lineitem"), t("nation"))
    }),
    // TPC-H Q7 shape: nation-pair shipping volume, nation joined twice
    "q_volume_shipping" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.volumeShipping(t("supplier"), t("lineitem"),
        t("orders"), t("customer"), t("nation"))
    }),
    // TPC-H Q8 shape: national market share as a conditional-sum ratio
    "q_market_share" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.marketShare(t("region"), t("nation"), t("customer"),
        t("supplier"), t("orders"), t("lineitem"))
    }),
    // TPC-H Q9 shape: product-type profit by nation and year
    "q_product_profit" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.productProfit(t("part"), t("supplier"), t("lineitem"),
        t("orders"), t("nation"))
    }),
    // TPC-H Q11 shape: grouped HAVING vs a scalar fraction-of-total
    "q_important_parts" -> ((s, d) =>
      OlapQueries.importantParts(T(s, d)("lineitem"))),
    // TPC-H Q16 shape: NOT-IN supplier exclusion + COUNT(DISTINCT)
    "q_part_supplier_counts" -> ((s, d) => {
      val t = T(s, d) _
      OlapQueries.partSupplierCounts(t("part"), t("supplier"),
        t("lineitem"))
    }),

    // ---- training-data pipeline operators ----
    // exact dedup via hash-groupBy
    "q_dedup_exact" -> ((s, d) => Dedup.exactGroups(T(s, d)("documents"))),
    // bounded dedup contract: canonical parent per duplicate, O(N) rows
    "q_dedup_simhash_canon" -> ((s, d) =>
      Dedup.simhashCanonical(T(s, d)("documents"))),
    // 3-gram Jaccard near-dup pairs — scale path: exact Jaccard
    // counted only on MinHash-LSH candidates
    "q_dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairsBanded(T(s, d)("documents"), threshold = 0.5)),
    // asymmetric containment near-dup (sub-document inclusion):
    // |A∩B|/|A| or /|B| over direct df-capped shingle-join candidates
    // (resemblance-LSH bands provably miss contained pairs)
    "q_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(T(s, d)("documents"), threshold = 0.8)),
    // MinHash + LSH banding candidates
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashCandidates(T(s, d)("documents"))),
    // one-permutation MinHash (1 hash/shingle instead of 8)
    "q_dedup_minhash_oph" -> ((s, d) =>
      Dedup.minhashCandidatesOph(T(s, d)("documents"))),
    // SimHash near-dup pairs (byte-block LSH + hamming verify)
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(T(s, d)("documents"), maxHamming = 3)),
    // brute-force cosine top-k (ANN baseline)
    "q_ann_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3)),
    // sign-bit LSH-bucketed ANN (scale path)
    "q_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3)),
    // IVF ANN: coarse codebook + inverted lists + nprobe (scale path 2)
    "q_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3)),
    // recall@k of the approximate paths vs brute-force ground truth
    // (the eval every ANN index owes its caller — measured, not assumed)
    "q_ann_recall" -> ((s, d) =>
      Similarity.annRecall(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3,
        method = "ivf")),
    "q_lsh_recall" -> ((s, d) =>
      Similarity.annRecall(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3,
        method = "lsh")),
    // the IVF tuning curve: recall@3 at nprobe 1/2/4/8, one shared
    // brute-force ground-truth leg
    "q_ann_recall_curve" -> ((s, d) =>
      Similarity.annRecallCurve(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3)),
    // measured recall@3 for EVERY shipped index variant (the two gate
    // paths plus the six that previously graded only via rerank
    // parity), one shared brute-force ground-truth leg
    "q_ann_recall_ladder" -> ((s, d) =>
      Similarity.annRecallLadder(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3)),
    // the CLUSTERED-regime recall panel (r15 verdict Next #4): the PQ
    // rungs graded on the corpus shape they are sold for — 16 coarse
    // cells x 40 md5-perturbed members (clusteredCopies, the
    // RecallAudit two-regime generator promoted to the gate), queries
    // = the c=20 copies of centers 0..7. Residual PQ's win over raw
    // PQ is only visible here; the near-uniform ladder can't show it.
    "q_ann_recall_clustered" -> ((s, d) =>
      Similarity.annRecallLadder(
        Similarity.clusteredCopies(T(s, d)("embeddings")),
        org.apache.spark.sql.functions.col("vec_id") >= 320 &&
          org.apache.spark.sql.functions.col("vec_id") < 328, k = 3,
        methods = Seq("ivfpq", "ivfpq_residual", "residual_rerank"))),
    // IVF ANN on the TRAINED coarse quantizer: one Lloyd round of
    // deterministic k-means over the corpus replaces the first-16
    // pivots — higher recall at equal nprobe (table in COVERAGE.md),
    // same plan shape, trained book bit-reproducible cross-engine
    "q_ann_ivf_trained" -> ((s, d) => {
      val emb = T(s, d)("embeddings")
      Similarity.ivfTopK(emb,
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3,
        pivotsOpt = Some(Similarity.kmeansPivotArr(emb, k = 16, iters = 1)))
    }),
    // IVF-PQ with ADC ranking: inverted lists hold 8 code bytes per
    // vector instead of 64 floats; candidates cost 8 table lookups
    // (the billion-scale memory layout — scale path 3)
    "q_ann_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3)),
    // the production two-stage layout: ADC top-20 shortlist, exact
    // cosine rerank, final top-3 — buys back the recall the 8-byte
    // quantization loses at rerank full-vector reads per query
    "q_ann_ivfpq_rerank" -> ((s, d) =>
      Similarity.ivfPqRerankTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3)),
    // IVFADC residual encoding: the PQ book quantizes v - c(list)
    // so the code bytes describe the offset WITHIN the coarse cell
    // (the published residual layout; ADC tables per (query, probed
    // list))
    "q_ann_ivfpq_residual" -> ((s, d) =>
      Similarity.ivfPqResidualTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3)),
    // the full IVFADC serving stack: residual-ADC top-40 shortlist,
    // exact-cosine rerank, final top-3
    "q_ann_residual_rerank" -> ((s, d) =>
      Similarity.ivfPqResidualRerankTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8, k = 3,
        rerank = 40)),
    // the FULL production ANN shape: coarse quantizer AND PQ book
    // trained (one Lloyd round) on a 25% training sample — a
    // deterministic vec_id % 4 slice standing in for a seeded uniform
    // sample so the DuckDB oracle can replay the identical training —
    // composed with the ADC top-40 shortlist + exact-cosine rerank.
    // Training cost is O(sample); the corpus only ever sees row-local
    // encode/assign passes against the broadcast trained books.
    "q_ann_trained_rerank" -> ((s, d) => {
      val emb = T(s, d)("embeddings")
      val train = emb.filter(
        org.apache.spark.sql.functions.pmod(col("vec_id"),
          org.apache.spark.sql.functions.lit(4L)) === 0)
      // ONE trained book (cached) serves as both the coarse quantizer
      // and the PQ codebook — the Lloyd round is paid once. ONE round,
      // not more: on this corpus extra sample-Lloyd rounds shrink the
      // centroids toward the mean and blur the COARSE probe ordering
      // at low nprobe (recall@10 decomposition in COVERAGE.md r11 log;
      // the PQ role is insensitive), so deeper training measures WORSE
      // than the untrained book — 1 round is both cheaper and better.
      val book = Similarity.kmeansCarr(train, k = 16, iters = 1)
      Similarity.ivfPqRerankTopK(emb, col("vec_id") < 8, k = 3, rerank = 40,
        pivotsOpt = Some(Similarity.carrToPivotArr(book)),
        bookOpt = Some(book))
    }),
    // deterministic distributed k-means (1 Lloyd refinement, exact-
    // agg means): the codebook TRAINER for IVF/PQ and the clustering
    // primitive for mixture balancing — assignment oracle-checked
    "q_kmeans" -> ((s, d) =>
      Similarity.kmeansAssign(T(s, d)("embeddings"), k = 8)),
    // embedding-cosine near-dup pairs at the selective AND
    // high-recall regime: corpus ∪ deterministic perturbed copies
    // (raw corpus has no pair above cos 0.7), 8-bit × 8-band sign-LSH
    // candidates (~3% of pairs), exact-cosine verify at t=0.9 where
    // banding recall is ≥99% (SimilaritySpec asserts it measured)
    "q_emb_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(
        Similarity.perturbedCopies(T(s, d)("embeddings")),
        threshold = 0.9, bitsPerBand = 8, bands = 8)),
    // IMAGE near-dup through the REAL codec path: id-derived 9x8 PNGs
    // (+ one-cell-perturbed copies, the image twin of perturbedCopies)
    // are ImageIO-encoded, ImageIO-decoded, dHashed (64 horizontal-
    // gradient bits off the block-averaged luma grid), then paired by
    // composite-band LSH (28 two-block 16-bit keys — full recall at
    // hamming <= 6 by pigeonhole) + exact-hamming verify. PNG
    // losslessness makes the decoded grid equal the
    // integer formula grid, so the DuckDB oracle replays hash and
    // pairs exactly — a broken codec round-trip fails the gate.
    "q_image_neardup" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.imagesFromIds(
        T(s, d)("embeddings").select("vec_id"))
      val hashes = graft.multimodal.Multimodal.imageDHashes(media)
        .toDF().withColumnRenamed("dhash", "ahash")
      graft.multimodal.Multimodal.imageNearDup(hashes, maxHamming = 6)
    }),
    // AUDIO near-dup through the REAL codec path: id-derived WAVs
    // (16 square-wave energy windows at power-of-two amplitudes from
    // md5, + half-gain copies) are RIFF-encoded, decoded via
    // javax.sound, RMS-envelope'd, centered, then paired by the
    // embedding near-dup kernel (sign-band LSH + exact cosine).
    // Power-of-two amplitudes keep every float an exact dyadic, so
    // the DuckDB oracle replays envelope, bands, and cosines exactly
    // — a broken WAV round-trip fails the gate.
    "q_audio_neardup" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.wavsFromIds(
        T(s, d)("embeddings").select("vec_id"))
      graft.multimodal.Multimodal.audioNearDup(media, threshold = 0.98)
    }),
    // VIDEO near-dup through the REAL container path: id-derived
    // RIFF/AVIs with 3 lossless PNG frames each (9x8 grids from md5,
    // + one-frame-perturbed copies) are container-walked, per-frame
    // decoded and dHashed (the image kernel — one hamming space),
    // frame-paired by the composite-band LSH, and rolled up per video
    // pair with n_shared = DISTINCT matching frames. PNG losslessness
    // makes the decoded grids equal the formula grids, so the oracle
    // replays frame hashes, pairs, and roll-up exactly. 3-block bands
    // (full recall to hamming 5) are the at-scale frame banding:
    // per-frame rows triple N before the quadratic band-collision
    // term, and the 2-block cut measured 22x wall at 10x videos
    // (SCALE_r16) — the explicit band-width choice at the query site,
    // same philosophy as nearDupPairs' no-default banding.
    "q_video_neardup" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.videosFromIds(
        T(s, d)("embeddings").select("vec_id"))
      graft.multimodal.Multimodal.videoNearDup(media, minSharedFrames = 2,
        maxHamming = 5, bandBlocks = 3)
    }),
    // kNN label propagation (weak supervision): majority label of the
    // 5 IVF-ANN nearest neighbors per query vector
    "q_knn_label" -> ((s, d) =>
      ModelEval.knnLabel(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") % 20 === 0, k = 5)),
    // calibration reliability bins: observed positive rate vs exact
    // mean score per score decile
    "q_calibration" -> ((s, d) =>
      ModelEval.calibrationBins(T(s, d)("embeddings"))),
    // precision/recall confusion counts at fixed decision thresholds
    "q_eval_pr" -> ((s, d) =>
      ModelEval.prAtThresholds(T(s, d)("embeddings"))),
    // Morton/Z-order layout key over (amount band × time-of-day band)
    // — the multi-dim clustering key for write-side data skipping
    "q_zorder_key" -> ((s, d) =>
      Layout.eventZorder(T(s, d)("events"))),
    // global sequential example index: range-partitioned two-phase
    // rank (zipWithIndex), never a single-partition global window
    "q_global_index" -> ((s, d) =>
      Layout.globalIndex(T(s, d)("documents"), Seq("n_chars", "doc_id"))
        .select("doc_id", "n_chars", "global_idx")),
    // shard packing plan: token-budget shards via distributed prefix
    // sum (the scale-safe twin of q_pack_sequences' global window)
    "q_shard_plan" -> ((s, d) =>
      TextAnalysis.shardPlan(T(s, d)("documents"))),
    // curriculum ordering: easy-to-hard global rank by quality score
    // through the distributed two-phase index
    "q_curriculum" -> ((s, d) =>
      Layout.globalIndex(
        TextAnalysis.qualityScore(T(s, d)("documents"))
          .select("doc_id", "quality"),
        Seq("quality", "doc_id"), indexCol = "curriculum_rank")),
    // tokenize-to-ids: top-256 frequency vocabulary broadcast over a
    // posexploded token stream, OOV -> 0
    "q_tokenize_ids" -> ((s, d) =>
      TextAnalysis.vocabEncode(T(s, d)("documents"))),
    // BM25 ranked retrieval: broadcast df/corpus stats, fixed-order
    // per-term combine, distributed top-k (TakeOrderedAndProject)
    "q_bm25" -> ((s, d) =>
      Retrieval.bm25TopK(T(s, d)("documents"),
        Seq("spark", "join", "window"))),
    // hybrid retrieval (the RAG serving layout): BM25 lexical leg +
    // IVF-ANN vector leg fused by reciprocal rank, Σ 1/(60+rank) —
    // rank arithmetic only, no cross-scale score normalization
    "q_hybrid_rrf" -> ((s, d) =>
      Retrieval.hybridRrf(T(s, d)("documents"), T(s, d)("embeddings"),
        Seq("spark", "join", "window"), queryVecId = 0L)),
    // MMR diversification over the IVF shortlist (RAG serving pass):
    // greedy lambda*rel - (1-lambda)*max-sim-to-selected, k=5 picks
    // from a top-20 pool, unrolled bounded-frame rounds
    "q_mmr_rerank" -> ((s, d) =>
      Similarity.mmrTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8)),
    // contrastive-training hard negatives: ANN shortlist minus
    // same-label positives, top-k by cosine per query
    "q_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8)),
    // JL random-projection prefilter (64 -> 16 dims) + exact rerank
    "q_ann_rp_rerank" -> ((s, d) =>
      Similarity.rpRerankTopK(T(s, d)("embeddings"),
        org.apache.spark.sql.functions.col("vec_id") < 8)),
    // positional inverted-index build: long-form postings, term
    // filter dies row-locally at the scan — nothing shuffles
    "q_inverted_index" -> ((s, d) =>
      Retrieval.invertedIndex(T(s, d)("documents"),
        Seq("spark", "join", "window"))),
    // exact phrase query over the positional index: posting-list
    // intersection with position alignment — the position is in the
    // join key, so cost is bounded by the rarest term's postings
    "q_phrase_search" -> ((s, d) =>
      Retrieval.phraseSearch(T(s, d)("documents"), Seq("table", "hash"))),
    // mixture curation: greedy longest-first selection under a
    // per-domain token budget (keyed running sum, integer-exact)
    "q_budget_select" -> ((s, d) =>
      TextAnalysis.budgetSelect(T(s, d)("documents"))),
    // vocabulary coverage truncation (95% token mass) via the
    // distributed prefix sum — never a whole-vocab window
    "q_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(T(s, d)("documents"))),
    // ordered conversion funnel view -> click -> purchase: per-user
    // conditional-min passes, |users|-sized frames after the first agg
    "q_funnel" -> ((s, d) =>
      FraudQueries.funnel(T(s, d)("events"))),
    // MAD robust outlier profile: median / median-absolute-deviation
    // per type, outliers beyond 3 robust sigmas
    "q_mad_outliers" -> ((s, d) =>
      graft.operators.Quality.madOutliers(T(s, d)("events"))),
    // weekly cohort retention matrix (trunc-of-min cohort, distinct
    // user-week activity, broadcast cohort sizes)
    "q_cohort_retention" -> ((s, d) =>
      Behavior.cohortRetention(T(s, d)("events"))),
    // first-order Markov transition matrix over per-user sequences
    "q_event_transitions" -> ((s, d) =>
      Behavior.eventTransitions(T(s, d)("events"))),
    // bookend (first/last-touch) purchase attribution with exact revenue
    "q_attribution" -> ((s, d) =>
      Behavior.attribution(T(s, d)("events"))),
    // triangle count over the top-10-per-node SPARSIFIED co-supply
    // graph (kNN-graph clustering structure). The raw >=2-shared
    // graph is complete on TPC-H data — C(n,2) edges — and triangle
    // counting on a complete graph is Theta(n^3) in ANY engine; the
    // top-k sparsifier is the standard dense-regime move and keeps
    // edges at O(10n), wedges bounded, at every scale
    "q_triangles" -> ((s, d) =>
      Joins.triangleCount(Joins.coOccurrenceDense(
        T(s, d)("lineitem"), "l_suppkey", "l_partkey",
        minShared = 2L, topNPerSrc = 10))),
    // seasonal hour-of-day baseline vs eval-period drift flags
    // (integer cross-multiplied tolerance test)
    "q_seasonal_anomaly" -> ((s, d) =>
      graft.operators.Quality.seasonalAnomaly(T(s, d)("events"))),
    // minority-class rebalance profile: integer cross-multiplied
    // 16-bit hash draw, no FP in the keep decision
    "q_rebalance" -> ((s, d) =>
      FeatureEng.rebalanceProfile(T(s, d)("events"))),
    // top event-type paths per 30-min session (lag-gap sessionize,
    // ordered path render, distributed top-k)
    "q_session_paths" -> ((s, d) =>
      Behavior.sessionPaths(T(s, d)("events"))),
    // RLHF-style preference pairs: best/worst per user via opposing
    // deterministic windows (no engine-unspecified arg_max ties)
    "q_preference_pairs" -> ((s, d) =>
      ModelEval.preferencePairs(T(s, d)("events"))),
    // hour-bucket burst flags vs the trailing-24h rate (integer
    // cross-multiplied decision, RANGE window so silent hours count)
    "q_burst_detect" -> ((s, d) =>
      WindowedAggs.burstDetect(T(s, d)("events"))),
    // group-aware k-fold CV assignment profile (user-keyed folds, no
    // group leakage by construction; exact per-fold balance audit)
    "q_kfold" -> ((s, d) =>
      FeatureEng.kfoldProfile(T(s, d)("events"))),
    // equi-width value histogram (FLOOR in FP before any cast)
    "q_histogram" -> ((s, d) =>
      FeatureEng.valueHistogram(T(s, d)("events"))),
    // snapshot diff / CDC audit: added/removed/changed/unchanged from
    // one co-partitioned full-outer join (eval snapshot perturbs the
    // error rows so 'changed' is exercised)
    "q_snapshot_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions.{lit, when}
      val ev = T(s, d)("events")
      val oldSnap = ev.filter(
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-21 00:00:00")))
      val newSnap = ev.filter(
        col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-06 00:00:00")))
        .withColumn("value", when(
          col("event_type") === "error", col("value") * 2)
          .otherwise(col("value")))
      graft.operators.Quality.snapshotDiff(oldSnap, newSnap,
        "event_id", "value")
    }),
    // bigram-LM surprisal (context-conditioned KenLM-filter analog);
    // bigrams form row-locally from the token array
    "q_bigram_surprisal" -> ((s, d) =>
      TextAnalysis.bigramSurprisal(T(s, d)("documents"))),
    // dynamic-batching prep: power-of-two length buckets with batch
    // counts (exact integer log2, never libm)
    "q_length_buckets" -> ((s, d) =>
      TextAnalysis.lengthBuckets(T(s, d)("documents"))),
    // k-anonymity risk probe: quasi-identifier classes smaller than k
    "q_kanon_risk" -> ((s, d) =>
      Quality.kAnonymityRisk(T(s, d)("events"))),
    // token counting (whitespace + BPE-ish regex)
    "q_text_tokens" -> ((s, d) =>
      TextAnalysis.tokenCounts(T(s, d)("documents"))),
    // phrase mining: PMI-ranked adjacent bigrams (word2vec-style)
    "q_collocations" -> ((s, d) =>
      TextAnalysis.collocations(T(s, d)("documents"))),
    // deterministic 80/10/10 train/val/test assignment + split stats
    "q_data_split" -> ((s, d) =>
      TextAnalysis.datasetSplit(T(s, d)("documents"))),
    // composed curation pipeline: dedup-canonical + lang-agree + quality
    "q_corpus_curate" -> ((s, d) =>
      TextAnalysis.curateCorpus(T(s, d)("documents"))),
    // TF-IDF keyword extraction, top-3 per doc via native TopK
    "q_tfidf_terms" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(T(s, d)("documents"))),
    // quality scoring
    "q_text_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(T(s, d)("documents"))),
    // per-source quality cut: keep top 50% of EACH source by quality
    "q_quality_prune" -> ((s, d) =>
      TextAnalysis.qualityPrune(T(s, d)("documents"))),
    // stopword language heuristic
    "q_text_langid" -> ((s, d) => TextAnalysis.langId(T(s, d)("documents"))),
    // rolling-window document fingerprint
    "q_text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(T(s, d)("documents"))),
    // connected-component dedup clusters: iterative min-label
    // propagation + pointer jumping over the simhash near-dup graph
    // (oracle computes the same fixpoint by recursive closure)
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.simhashClusters(T(s, d)("documents"))),
    // soft dedup: keep every member, weight = 1/cluster_size
    "q_soft_dedup" -> ((s, d) =>
      Dedup.softDedupWeights(T(s, d)("documents"))),
    // quality-aware canonicals: the cluster rep is the BEST member
    "q_dedup_best_rep" -> ((s, d) =>
      Dedup.bestOfCluster(T(s, d)("documents"))),
    // hashing-trick bag-of-words: fixed-width feature slots, ±1 signs
    "q_feature_hash" -> ((s, d) =>
      FeatureEng.hashedFeatures(T(s, d)("documents"))),
    // incremental batch-vs-corpus dedup: exact-hash + band semi-joins
    "q_dedup_incremental" -> ((s, d) =>
      Dedup.incrementalDedup(T(s, d)("documents"),
        org.apache.spark.sql.functions.col("doc_id") % 10 === 0)),
    // benchmark decontamination: 5-gram overlap vs the eval partition
    "q_decontaminate" -> ((s, d) =>
      Dedup.decontaminate(T(s, d)("documents"),
        org.apache.spark.sql.functions.col("doc_id") % 20 === 1)),
    // same screen through a broadcast Bloom prefilter + exact verify
    // (bit-identical output; the eval set no longer needs to fit a
    // broadcast hash table)
    "q_decontaminate_bloom" -> ((s, d) =>
      Dedup.decontaminateBloom(T(s, d)("documents"),
        org.apache.spark.sql.functions.col("doc_id") % 20 === 1)),
    // contamination-span REMOVAL: rebuild train docs without blocks
    // holding any eval 5-gram (the scrub form of the screen above)
    "q_decontaminate_scrub" -> ((s, d) =>
      Dedup.decontaminateScrub(T(s, d)("documents"),
        org.apache.spark.sql.functions.col("doc_id") % 20 === 1)),
    // Gopher-style repetition screens: exact token/bigram share ratios
    "q_text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionMetrics(T(s, d)("documents"))),
    // int8 embedding quantization audit: scale, mse, max error per vec
    "q_emb_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(T(s, d)("embeddings"))),
    // SemDeDup: IVF-cluster-bounded semantic dedup, min-id canonical
    "q_semdedup" -> ((s, d) =>
      Similarity.semDedup(T(s, d)("embeddings"), threshold = 0.4,
        nlist = 16)),
    // cluster-bounded mutual-kNN graph (top-5 edges per vector)
    "q_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(T(s, d)("embeddings"), nlist = 16)),
    // greedy k-center coreset: 8 farthest-point picks + radii
    "q_kcenter_coreset" -> ((s, d) =>
      Similarity.kCenterCoreset(T(s, d)("embeddings"))),
    // coverage map: every vector to its nearest k-center pick
    "q_coreset_assign" -> ((s, d) =>
      Similarity.kCenterAssign(T(s, d)("embeddings"))),
    // DSIR-style importance weights: hashed unigrams, target = 'en'
    "q_dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(T(s, d)("documents"),
        org.apache.spark.sql.functions.col("lang") === "en")),
    // DSIR selection: per-source floors + global budget fill over
    // the importance weights (two-phase ranks, no keyed windows)
    "q_dsir_select" -> ((s, d) =>
      TextAnalysis.dsirSelect(T(s, d)("documents"),
        org.apache.spark.sql.functions.col("lang") === "en")),
    // substring-level dedup profile: strided-window repeated share
    "q_substring_dedup" -> ((s, d) =>
      Dedup.repeatedSubstrings(T(s, d)("documents"))),
    // duplicated-span REMOVAL: rebuild docs without corpus-repeated
    // 10-token blocks (tail always kept)
    "q_substring_scrub" -> ((s, d) =>
      Dedup.substringScrub(T(s, d)("documents"))),
    // per-doc n-gram novelty vs min-doc_id introducers
    "q_ngram_novelty" -> ((s, d) =>
      Dedup.ngramNovelty(T(s, d)("documents"))),
    // concat-then-chunk sequence packing into 512-token windows
    "q_pack_sequences" -> ((s, d) =>
      TextAnalysis.packSequences(T(s, d)("documents"))),
    // unigram-LM surprisal score (KenLM perplexity-filter analog)
    "q_text_surprisal" -> ((s, d) =>
      TextAnalysis.unigramSurprisal(T(s, d)("documents"))),
    // RAG-style overlapping chunk plan (128-token chunks, 16 overlap)
    "q_chunk_docs" -> ((s, d) =>
      TextAnalysis.chunkPlan(T(s, d)("documents"))),
    // HTML boilerplate removal (jusText-style block scoring) over
    // deterministic pages built from the documents themselves — the
    // planted-content-recovery gate: kept blocks must re-join to
    // EXACTLY the original text (`recovered`), chrome must die on the
    // integer length/link-density rules. The oracle rebuilds the page
    // AND replays the extraction, so both directions are pinned.
    "q_html_extract" -> ((s, d) => {
      val docs = T(s, d)("documents")
      Web.extractMainText(Web.htmlFromDocs(docs))
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          col("main_text"),
          (col("main_text") === col("text")).as("recovered"))
    }),
    // URL quality-filter profile: every extracted link classified by
    // the crawl rule ladder (scheme / binary ext / tracking params /
    // path depth), rolled up per (domain, verdict)
    "q_url_filter" -> ((s, d) =>
      Web.urlFilterProfile(T(s, d)("documents"))),
    // cross-site link graph from the KEPT outlinks (self-loop chrome
    // excluded) — the crawl discovery structure
    "q_link_graph" -> ((s, d) =>
      Web.linkGraph(T(s, d)("documents"))),
    // temperature-scaled (α = 1/2) source-mixing weights + epochs
    "q_temperature_mix" -> ((s, d) =>
      TextAnalysis.temperatureMix(T(s, d)("documents"))),
    // per-source exact p50/p90 length profile via two-phase rank
    "q_source_length_profile" -> ((s, d) =>
      TextAnalysis.sourceLengthProfile(T(s, d)("documents"))),
    // MOSS winnowing: distinct per-window min-hash fingerprint sets
    "q_winnow_fingerprints" -> ((s, d) =>
      TextAnalysis.winnowFingerprints(T(s, d)("documents"))),
    // winnowing overlap pairs (>= 2 shared rare fingerprints)
    "q_winnow_overlap" -> ((s, d) =>
      TextAnalysis.winnowOverlap(T(s, d)("documents"))),
    // eval-split contamination list: val/test docs sharing winnow
    // fingerprints with any train doc (the docs a pipeline scrubs)
    "q_eval_contamination" -> ((s, d) =>
      TextAnalysis.evalContamination(T(s, d)("documents"))),
    // sketch-algebra corpus similarity: per-source MinHash signatures
    "q_source_minhash_sim" -> ((s, d) =>
      Dedup.sourceMinhashSim(T(s, d)("documents"))),
    // per-dimension embedding health: range, exact mean, dead slots
    "q_emb_dim_profile" -> ((s, d) =>
      Similarity.embDimProfile(T(s, d)("embeddings"))),
    // per-source frequent-bigram heavy hitters via two-phase rank
    "q_top_ngrams" -> ((s, d) =>
      TextAnalysis.topNgramsBySource(T(s, d)("documents"))),
    // deterministic hash-coin MLM masking prep (15% [MASK], 0 shuffles)
    "q_mask_tokens" -> ((s, d) =>
      TextAnalysis.maskTokens(T(s, d)("documents"))),
    // BPE tokenizer training: top-3 learned merges (word-freq rounds)
    "q_bpe_merges" -> ((s, d) =>
      TextAnalysis.bpeTrain(T(s, d)("documents"))),
    // apply the learned merges: per-doc BPE token counts + fertility
    "q_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeEncode(T(s, d)("documents"))),
    // static domain-mixture reweighting to a uniform target
    "q_domain_mix" -> ((s, d) =>
      TextAnalysis.domainMixture(T(s, d)("documents"))),
    // key-skew diagnosis: heavy hitters + max/mean skew ratio
    "q_skew_profile" -> ((s, d) =>
      Quality.keySkewProfile(T(s, d)("events"), "user_id")),
    // hourly resample + longest-dormancy profile (gaps-and-islands)
    "q_gapfill" -> ((s, d) =>
      WindowedAggs.hourlyGapProfile(T(s, d)("events"))),
    // drift monitor: PSI + binned KS between month halves
    "q_drift_psi" -> ((s, d) =>
      Quality.driftMonitor(T(s, d)("events"),
        col("ts") < org.apache.spark.sql.functions
          .lit("2024-01-16 00:00:00").cast("timestamp"))),
    // per-type z-score normalization (exact mean, exact-shape stddev)
    "q_feature_normalize" -> ((s, d) =>
      FeatureEng.zscoreNormalize(T(s, d)("events"))),
    // Pearson correlation screen: amount vs hour-of-day per type
    "q_feature_corr" -> ((s, d) =>
      FeatureEng.featureCorrelation(T(s, d)("events"))),
    // α=1/2 EWMA decayed-amount feature (exact dyadic weights)
    "q_ewma" -> ((s, d) => FeatureEng.ewmaAmounts(T(s, d)("events"))),
    // equi-depth NTILE discretization per type, bin stats
    "q_quantile_bins" -> ((s, d) =>
      FeatureEng.quantileBins(T(s, d)("events"))),
    // deterministic 10% stratified sample via salted-md5 ranking
    "q_sample_stratified" -> ((s, d) =>
      FeatureEng.stratifiedSample(T(s, d)("events"))),
    // MI + chi-square feature-selection screen from one contingency pass
    "q_feature_select" -> ((s, d) =>
      FeatureEng.featureSelection(T(s, d)("events"))),
    // fixed-point integer PageRank, 3 damped rounds, user<->merchant
    "q_pagerank" -> ((s, d) =>
      GraphRank.pagerankBipartite(T(s, d)("events"))),

    // ---- fraud-domain operators over the events stream ----
    // A8: multi-horizon (5min/1h/24h) rolling velocity counters
    "q_velocity_multi" -> ((s, d) =>
      FraudQueries.velocityMulti(T(s, d)("events"))),
    // J3: time-bounded interval join with correlation risk factors
    "q_interval_join" -> ((s, d) =>
      Joins.intervalJoin(T(s, d)("events"), "user_id", "ts")),
    // AS-OF join: each event sees the latest signup-derived profile
    // value at-or-before its event time (point-in-time correctness)
    "q_asof_join" -> ((s, d) => {
      val ev = T(s, d)("events")
      val updates = ev.filter(org.apache.spark.sql.functions.col("event_type") === "signup")
        .groupBy("user_id", "ts")
        .agg(org.apache.spark.sql.functions.max("value").as("profile_value"))
      Joins.asOfJoin(
        ev.select("event_id", "user_id", "ts", "value"),
        updates, "user_id", "ts", "profile_value")
    }),
    // the same point-in-time lookup through the NATIVE sort-merge
    // as-of operator (custom LogicalPlan + Strategy + BinaryExecNode);
    // oracle-identical to q_asof_join by construction
    "q_asof_native" -> ((s, d) => {
      val ev = T(s, d)("events")
      val updates = ev.filter(org.apache.spark.sql.functions.col("event_type") === "signup")
        .groupBy("user_id", "ts")
        .agg(org.apache.spark.sql.functions.max("value").as("profile_value"))
      Joins.asOfJoinNative(
        ev.select("event_id", "user_id", "ts", "value"),
        updates, "user_id", "ts", "profile_value")
    }),
    // J5: banded (bucketed-similarity) join, pre-aggregated per band
    "q_banded_join" -> ((s, d) => {
      val t = T(s, d) _
      Joins.bandedJoin(t("lineitem"), t("part"), width = 100.0)
    }),
    // J7: graph neighborhood co-occurrence (shared-part supplier pairs)
    // bounded neighborhood contract (graph_neural_network.py:244-315):
    // >=2 shared parts, top-10 strongest neighbors per supplier via the
    // native TopK operator — output is O(10·|suppliers|), not Θ(n²).
    // Dense-strategy form (2 shuffles, row-local pair enumeration);
    // part degree is bounded, so no hot-via salt is needed — the
    // salted coOccurrence form is the skew path (FraudOpsSpec pins
    // output equivalence of the two)
    "q_graph_cooccur" -> ((s, d) =>
      Joins.coOccurrenceDense(T(s, d)("lineitem"), "l_suppkey", "l_partkey",
        minShared = 2L, topNPerSrc = 10)),
    // §2.6: amount/time feature library
    "q_event_features" -> ((s, d) =>
      FraudQueries.eventFeatures(T(s, d)("events"))),
    // rule scoring + decision ladder roll-up
    "q_fraud_scoring" -> ((s, d) =>
      FraudQueries.fraudScoring(T(s, d)("events"))),
    // A11: ensemble combiners
    "q_ensemble" -> ((s, d) => FraudQueries.ensemble(T(s, d)("events"))),
    // A11 full breadth: 4 heterogeneous model families through all
    // three combiners (model_manager.py dispatch analog)
    "q_ensemble_multi" -> ((s, d) =>
      FraudQueries.ensembleMulti(T(s, d)("events"))),
    // per-prediction feature attributions, top-3 via native TopK
    "q_model_explain" -> ((s, d) =>
      FraudQueries.modelExplain(T(s, d)("events"))),
    // A/B analog: hash variant assignment + two-proportion z-test
    "q_ab_test" -> ((s, d) => FraudQueries.abTest(T(s, d)("events"))),
    // sequence-model member (lstm analog): keyed look-back window
    "q_seq_score" -> ((s, d) =>
      graft.ml.FraudModel.scoreWith("sequence_model",
          T(s, d)("events"), col("value"), col("ts"))
        .select(col("event_id"), col("n_recent"), col("avg_recent"),
          col("p_fraud").as("p_seq"))),
    // graph-model member (gnn analog): degree centrality score
    "q_graph_score" -> ((s, d) =>
      graft.ml.FraudModel.scoreWith("graph_model",
          T(s, d)("events"), col("value"), col("ts"))
        .select(col("event_id"), col("merchant_degree"),
          col("p_fraud").as("p_graph"))),
    // published-LR inference (FraudModel.score) + model/rule ensemble
    "q_model_score" -> ((s, d) => FraudQueries.modelScore(T(s, d)("events"))),
    // A4/geo: grid key, high-risk predicate, haversine
    "q_geo_features" -> ((s, d) => FraudQueries.geoFeatures(T(s, d)("events"))),
    // exact interpolated percentiles per key
    "q_percentiles" -> ((s, d) =>
      FraudQueries.percentiles(T(s, d)("events"))),
    // winsorization: per-key exact-percentile clamp, broadcast bounds
    "q_winsorize" -> ((s, d) =>
      FeatureEng.winsorize(T(s, d)("events"))),
    // deterministic negative sampling: per-user direct hash draw into
    // the supplier catalog (O(users·draws) generated rows — never a
    // users × vocabulary enumeration), anti-join positives, rank
    "q_negative_samples" -> ((s, d) => {
      val t = T(s, d) _
      val interactions = t("orders")
        .join(t("lineitem"),
          org.apache.spark.sql.functions.col("o_orderkey") ===
            org.apache.spark.sql.functions.col("l_orderkey"))
      FeatureEng.negativeSamples(interactions, "o_custkey", "l_suppkey")
    }),
    // cross-split leakage audit over near-dup clusters
    "q_split_leakage" -> ((s, d) =>
      TextAnalysis.splitLeakage(T(s, d)("documents"))),
    // leakage-free remediation: split hash applied to the cluster id
    "q_cluster_split" -> ((s, d) =>
      TextAnalysis.clusterAwareSplit(T(s, d)("documents"))),
    // cross-source near-dup overlap matrix (dedup-planning view)
    "q_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(T(s, d)("documents"))),
    // the whole cluster family off ONE shared materialized label
    // view: the simhash->CC fixpoint runs once, all three consumers
    // (labels, cluster-aware split, leakage audit) read its cache
    "q_cluster_family_shared" -> ((s, d) =>
      TextAnalysis.clusterFamilySummary(T(s, d)("documents"))),
    // PII scan + redaction audit over a deterministically PII-injected
    // corpus (the synthetic docs carry no natural PII; the injection
    // is mirrored bit-identically in the oracle)
    "q_pii_scan" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = T(s, d)("documents")
      val aug = docs.withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-0199"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7"))).otherwise(lit(""))))
      TextAnalysis.piiScan(aug)
    }),
    // model-based quality filter: exact-int linear margin over the
    // hashed bag-of-words (the fastText-filter analog)
    "q_quality_classifier" -> ((s, d) =>
      FeatureEng.qualityClassifier(T(s, d)("documents"))),
    // ANALYZE-style per-column statistics (one-pass multi-distinct;
    // oracle-safe column subset: bigints + string)
    "q_table_stats" -> ((s, d) =>
      Quality.columnStats(T(s, d)("events"),
        Seq("event_id", "user_id", "event_type"))),
    // S1/S5 wire loop: produce events as user-keyed JSON records into
    // the graft log (the executable Kafka twin, sources/log), consume
    // through the DSv2 scan, decode, aggregate — the oracle reads the
    // parquet directly, so a hash match proves the log is lossless
    "q_log_roundtrip" -> ((s, d) =>
      graft.sources.log.GraftLog.eventStatsThroughLog(T(s, d)("events"),
        s"${System.getProperty("java.io.tmpdir")}/graft_qlog_${math.abs(d.hashCode)}")),
    // same loop with the AVRO payload lane: keyed binary records
    // through produce → segment → consume → Avro decode — proves the
    // schema-registry wire encoding is lossless (and it is the
    // measured fast lane vs JSON decode, BASELINE.md)
    "q_log_avro" -> ((s, d) =>
      graft.sources.log.GraftLog.eventStatsThroughAvroLog(T(s, d)("events"),
        s"${System.getProperty("java.io.tmpdir")}/graft_qloga_${math.abs(d.hashCode)}")),
    // Kafka cleanup.policy=compact twin: orders produced as a
    // per-customer changelog, storage-side key compaction (sparse
    // .cseg segments, original offsets), read back via latestByKey —
    // a hash match proves compaction == latest-record-per-key
    "q_log_compact" -> ((s, d) =>
      graft.sources.log.GraftLog.latestOrderThroughCompactedLog(
        T(s, d)("orders"),
        s"${System.getProperty("java.io.tmpdir")}/graft_qlogc_${math.abs(d.hashCode)}")),
    // blocked fuzzy matching (levenshtein within brand blocks)
    "q_fuzzy_match" -> ((s, d) =>
      Dedup.fuzzyPairs(T(s, d)("part"), text = "p_name",
        blocks = Seq("p_brand", "p_size"), id = "p_partkey", maxDist = 6)),
    // Fellegi-Sunter record linkage: blocked candidates, weighted
    // multi-field agreement (name edit distance + numeric tolerance),
    // two-threshold match/possible verdict; substrate = customers
    // plus deterministic dirty second-source copies
    "q_record_linkage" -> ((s, d) =>
      Dedup.recordLinkage(Dedup.customerDirtyCopies(T(s, d)("customer")),
        id = "c_custkey", name = "c_name", numeric = "c_acctbal",
        blocks = Seq("c_nationkey", "c_mktsegment"))),
    // A5: fraud-pattern composite-key aggregation
    "q_pattern_agg" -> ((s, d) =>
      FraudQueries.patternAgg(T(s, d)("events"))),
    // §2.5 analytics: lag/lead/running-total window functions
    "q_lag_lead" -> ((s, d) =>
      FraudQueries.lagLeadFeatures(T(s, d)("events"))),
    // §2.6 string/regex features + text cleaning
    "q_string_features" -> ((s, d) =>
      FraudQueries.stringFeatures(T(s, d)("events"))),
    // semi-structured: JSON field extraction ×3 routes (struct/path/
    // variant)
    "q_json_props" -> ((s, d) =>
      SemiStructured.jsonProps(T(s, d)("events"))),
    // group-by on an extracted JSON field
    "q_json_rollup" -> ((s, d) =>
      SemiStructured.jsonFieldRollup(T(s, d)("events"))),
    // grouping sets: CUBE over event dimensions
    "q_cube_stats" -> ((s, d) =>
      WindowedAggs.cubeStats(T(s, d)("events"))),
    // PIVOT: wide per-user event-type count matrix
    "q_pivot_usage" -> ((s, d) =>
      WindowedAggs.eventTypePivot(T(s, d)("events"))),
    // grouping sets: ROLLUP over the region/nation hierarchy
    "q_rollup_revenue" -> ((s, d) => {
      val t = T(s, d) _
      Rollups.revenueRollup(
        t("region"), t("nation"), t("customer"), t("orders"), t("lineitem"))
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    graft.oracle.DocOracles.sql ++ graft.oracle.FraudOracles.sql ++ Map(
    // the Spark side routes events through the graft log's produce →
    // segment → consume → JSON-decode loop; the oracle aggregates the
    // parquet directly — equality proves the wire path is lossless
    "q_log_roundtrip" ->
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  ${dsum("value")} AS sum_value,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1""".stripMargin,

    // the Avro lane must reproduce the identical aggregate — the
    // oracle is the same direct-parquet read
    "q_log_avro" ->
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  ${dsum("value")} AS sum_value,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1""".stripMargin,

    // the Spark side compacts the changelog in storage and reads the
    // survivors; the oracle picks each customer's latest order by the
    // same (date, orderkey) order the log's offsets encode
    "q_log_compact" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,

    "q_feature_normalize" ->
      s"""WITH s AS (SELECT event_type, ${davg("value")} AS mu,
         |             ${dstd("value")} AS sigma
         |           FROM events GROUP BY 1)
         |SELECT event_id, e.event_type, value,
         |  CASE WHEN sigma > 0.0 THEN (value - mu) / sigma END AS z
         |FROM events e JOIN s USING (event_type)""".stripMargin,

    "q_feature_corr" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  CASE WHEN ${dstd("value")} > 0.0 AND ${dstd("hour(ts)")} > 0.0
         |       THEN (${dsum("value * hour(ts)", 0)} / CAST(COUNT(*) AS DOUBLE)
         |             - (${dsum("value")} / CAST(COUNT(*) AS DOUBLE))
         |               * (${dsum("hour(ts)")} / CAST(COUNT(*) AS DOUBLE)))
         |            / (${dstd("value")} * ${dstd("hour(ts)")})
         |  END AS corr_value_hour
         |FROM events GROUP BY 1""".stripMargin,

    "q_ewma" -> {
      // same fixed left-to-right chain as FeatureEng.ewmaAmounts —
      // every term is an exact division by a power of two
      val terms = (0 until 10).map { k =>
        val t = if (k == 0) "value"
                else s"COALESCE(LAG(value, $k) OVER w, CAST(0.0 AS DOUBLE))"
        s"$t / CAST(${math.pow(2.0, k)} AS DOUBLE)"
      }.mkString("\n  + ")
      s"""SELECT event_id, user_id, ts, value,
         |  $terms AS ewma
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
    },

    "q_quantile_bins" ->
      s"""SELECT event_type, bin, COUNT(*) AS n,
         |  MIN(value) AS lo, MAX(value) AS hi,
         |  ${davg("value")} AS avg_value
         |FROM (SELECT event_type, value, event_id,
         |        CAST(NTILE(10) OVER (PARTITION BY event_type
         |               ORDER BY value, event_id) AS INTEGER) AS bin
         |      FROM events)
         |GROUP BY 1, 2""".stripMargin,

    "q_sample_stratified" ->
      """SELECT event_id, event_type, rk FROM (
        |  SELECT event_id, event_type,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY md5('smp:' || CAST(event_id AS STRING)), event_id)
        |      AS INTEGER) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_stratum
        |  FROM events)
        |WHERE rk * 10 <= n_stratum""".stripMargin,

    "q_skew_profile" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n_rows
        |           FROM events GROUP BY 1),
        |s AS (SELECT COUNT(*) AS n_keys, MAX(n_rows) AS max_rows,
        |        CAST(CAST(SUM(n_rows) AS BIGINT) AS DOUBLE) / COUNT(*)
        |          AS mean_rows
        |      FROM c)
        |SELECT user_id, n_rows, n_keys, max_rows, mean_rows,
        |  max_rows / mean_rows AS skew_ratio
        |FROM (SELECT * FROM c ORDER BY n_rows DESC, user_id LIMIT 5), s"""
        .stripMargin,

    "q_gapfill" ->
      """WITH hourly AS (SELECT user_id, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
        |    date_trunc('hour', MAX(ts)) AS h1
        |  FROM events GROUP BY 1),
        |spine AS (SELECT user_id,
        |    UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds),
        |j AS (SELECT s.user_id, s.h, n,
        |    (epoch_us(s.h) // 1000000) // 3600 AS hidx,
        |    n IS NULL AS is_empty
        |  FROM spine s LEFT JOIN hourly USING (user_id, h)),
        |runs AS (SELECT user_id, MAX(run) AS max_empty_run FROM (
        |    SELECT user_id, grp, COUNT(*) AS run FROM (
        |      SELECT user_id, hidx,
        |        hidx - ROW_NUMBER() OVER (PARTITION BY user_id
        |                                  ORDER BY hidx) AS grp
        |      FROM j WHERE is_empty)
        |    GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT j.user_id, COUNT(*) AS n_hours,
        |  COUNT(CASE WHEN NOT is_empty THEN 1 END) AS n_active_hours,
        |  COUNT(CASE WHEN is_empty THEN 1 END) AS n_empty_hours,
        |  COALESCE(MAX(max_empty_run), CAST(0 AS BIGINT)) AS max_empty_run
        |FROM j LEFT JOIN runs USING (user_id)
        |GROUP BY 1""".stripMargin,

    "q_cust_distribution" ->
      """WITH pc AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM pc GROUP BY 1""".stripMargin,

    "q_returned_items" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,

    "q_volume_shipping" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
         |   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
         |GROUP BY 1, 2, 3""".stripMargin,

    "q_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  ${dsum("CASE WHEN n1.n_name = 'NATION_19' " +
             "THEN l_extendedprice * (1.0 - l_discount) " +
             "ELSE 0.0 END")}
         |    / ${dsum("l_extendedprice * (1.0 - l_discount)")} AS mkt_share,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |JOIN region   ON n2.n_regionkey = r_regionkey
         |WHERE r_name = 'AMERICA'
         |GROUP BY 1""".stripMargin,

    "q_product_profit" ->
      s"""SELECT n_name AS nation,
         |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  ${dsum("l_extendedprice * (1.0 - l_discount) " +
             "- p_retailprice * 0.1 * l_quantity")} AS sum_profit
         |FROM lineitem
         |JOIN part     ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2""".stripMargin,

    "q_important_parts" ->
      s"""WITH pp AS (SELECT l_partkey,
         |    ${dsum("l_extendedprice * (1.0 - l_discount)")} AS part_value
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT ${dsum("l_extendedprice * (1.0 - l_discount)")}
         |    AS total_value,
         |    COUNT(DISTINCT l_partkey) AS n_parts FROM lineitem)
         |SELECT l_partkey, part_value
         |FROM pp, t
         |WHERE part_value > total_value * 1.5 / n_parts""".stripMargin,

    "q_part_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |  AND p_brand <> 'Brand#1'
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_drift_psi" ->
      """WITH b AS (SELECT
        |    LEAST(GREATEST(CAST(FLOOR(value / CAST(40.0 AS DOUBLE))
        |      AS INTEGER), 0), 9) AS bin,
        |    ts < TIMESTAMP '2024-01-16 00:00:00' AS is_ref
        |  FROM events),
        |c AS (SELECT bin,
        |    COUNT(CASE WHEN is_ref THEN 1 END) AS n_ref,
        |    COUNT(CASE WHEN NOT is_ref THEN 1 END) AS n_cur
        |  FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
        |    CAST(SUM(n_cur) AS BIGINT) AS t_cur,
        |    COUNT(*) AS k_bins FROM c),
        |j AS (SELECT bin,
        |    CAST(n_ref + 1 AS DOUBLE) / (t_ref + k_bins) AS p,
        |    CAST(n_cur + 1 AS DOUBLE) / (t_cur + k_bins) AS q,
        |    CAST(CAST(SUM(n_ref) OVER w AS BIGINT) AS DOUBLE) / t_ref AS cp,
        |    CAST(CAST(SUM(n_cur) OVER w AS BIGINT) AS DOUBLE) / t_cur AS cq
        |  FROM c, t
        |  WINDOW w AS (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT
        |  CAST(CAST(SUM(CAST(ROUND((p - q) * ROUND(LN(p / q), 6) * 1.0e9,
        |    0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1.0e9 AS psi,
        |  MAX(ABS(cp - cq)) AS ks,
        |  COUNT(*) AS n_bins
        |FROM j""".stripMargin,

    "q_feature_select" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS conv,
        |    COUNT(*) AS n_ab
        |  FROM events GROUP BY 1, 2),
        |rm AS (SELECT event_type, CAST(SUM(n_ab) AS BIGINT) AS n_a
        |       FROM cells GROUP BY 1),
        |cm AS (SELECT conv, CAST(SUM(n_ab) AS BIGINT) AS n_b
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM cells),
        |grid AS (SELECT event_type, conv, n_a, n_b,
        |           COALESCE(n_ab, CAST(0 AS BIGINT)) AS n_ab
        |         FROM (SELECT * FROM rm, cm)
        |         LEFT JOIN cells USING (event_type, conv)),
        |t AS (SELECT
        |    CASE WHEN n_ab > 0 THEN
        |      (CAST(n_ab AS DOUBLE) / n)
        |        * ROUND(LN(CAST(n_ab * n AS DOUBLE)
        |                   / CAST(n_a * n_b AS DOUBLE)), 6)
        |    ELSE CAST(0.0 AS DOUBLE) END AS mi_term,
        |    (CAST(n_ab AS DOUBLE) - CAST(n_a * n_b AS DOUBLE) / n)
        |      * (CAST(n_ab AS DOUBLE) - CAST(n_a * n_b AS DOUBLE) / n)
        |      / (CAST(n_a * n_b AS DOUBLE) / n) AS chi_term
        |  FROM grid, tot)
        |SELECT
        |  CAST(SUM(CAST(ROUND(mi_term * 1.0e9, 0) AS BIGINT)) AS DOUBLE)
        |    / 1.0e9 AS mi,
        |  CAST(SUM(CAST(ROUND(chi_term * 1.0e6, 0) AS BIGINT)) AS DOUBLE)
        |    / 1.0e6 AS chi2,
        |  COUNT(*) AS n_cells
        |FROM t""".stripMargin,

    "q_pagerank" -> {
      def iter(prev: String, i: Int): String =
        s"""c$i AS (SELECT s.b AS dst,
           |  CAST(FLOOR(CAST(pr * 85 AS DOUBLE) / (deg * 100)) AS BIGINT) AS c
           |  FROM sym s JOIN $prev ON s.a = $prev.node),
           |s$i AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS in_sum
           |        FROM c$i GROUP BY 1),
           |p$i AS (SELECT node, 150000 + COALESCE(in_sum, CAST(0 AS BIGINT))
           |          AS pr, deg
           |        FROM $prev LEFT JOIN s$i ON node = dst)""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT
         |    'u:' || CAST(user_id AS STRING) AS a,
         |    'm:' || CAST((event_id * 7) % 97 AS STRING) AS b
         |  FROM events),
         |sym AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
         |deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
         |p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr, deg FROM deg),
         |${iter("p0", 1)},
         |${iter("p1", 2)},
         |${iter("p2", 3)}
         |SELECT node, pr FROM p3""".stripMargin
    },

    "q_user_velocity" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  ${dsum("value")} AS total_value,
         |  COUNT(DISTINCT event_type) AS n_types,
         |  MIN(ts) AS first_ts, MAX(ts) AS last_ts
         |FROM events GROUP BY user_id""".stripMargin,

    "q_supplier_stats" ->
      s"""SELECT l_suppkey, COUNT(*) AS n_items,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${davg("l_extendedprice")} AS avg_price,
         |  ${dstd("l_extendedprice")} AS std_price,
         |  COUNT(DISTINCT l_partkey) AS n_parts
         |FROM lineitem GROUP BY l_suppkey""".stripMargin,

    "q_hourly_rollup" ->
      s"""SELECT date_trunc('hour', ts) AS bucket_hour,
         |  COUNT(*) AS n_events,
         |  ${dsum("value")} AS total_value,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1""".stripMargin,

    "q_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate,
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders   ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,

    "q_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${davg("l_quantity")} AS avg_qty,
         |  ${davg("l_discount", 6)} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_forecast_revenue" ->
      s"""SELECT ${dsum("l_extendedprice * l_discount")} AS revenue,
         |  COUNT(*) AS n
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24.0""".stripMargin,

    "q_churn_sets" ->
      """WITH early AS (SELECT user_id FROM events
        |               WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
        |late AS (SELECT user_id FROM events
        |         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
        |tagged AS (
        |  SELECT user_id, 'retained' AS cohort
        |  FROM (SELECT * FROM early INTERSECT SELECT * FROM late)
        |  UNION ALL
        |  SELECT user_id, 'churned'
        |  FROM (SELECT * FROM early EXCEPT SELECT * FROM late)
        |  UNION ALL
        |  SELECT user_id, 'new'
        |  FROM (SELECT * FROM late EXCEPT SELECT * FROM early))
        |SELECT cohort, COUNT(*) AS n_users FROM tagged GROUP BY cohort""".stripMargin,

    "q_daily_rollup" ->
      s"""SELECT date_trunc('day', ts) AS bucket_day,
         |  COUNT(*) AS n_events,
         |  ${dsum("value")} AS total_value,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
         |FROM events GROUP BY 1""".stripMargin,

    "q_sliding_window" ->
      s"""SELECT pane_start, COUNT(*) AS n_events,
         |  ${dsum("value")} AS total_value
         |FROM (
         |  SELECT date_trunc('minute', ts) - k * INTERVAL '1 minute'
         |           AS pane_start,
         |         value
         |  FROM events, (SELECT UNNEST([0,1,2,3,4]) AS k) panes
         |) GROUP BY pane_start""".stripMargin,

    "q_session_window" ->
      s"""WITH d AS (
         |  SELECT user_id, ts, event_id, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |          OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
         |         THEN 1 ELSE 0 END AS brk
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), s AS (
         |  SELECT user_id, ts, value,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM d
         |)
         |SELECT user_id, COUNT(*) AS n_events,
         |  ${dsum("value")} AS total_value,
         |  MIN(ts) AS session_start
         |FROM s GROUP BY user_id, sid""".stripMargin,

    "q_enrich_orders" ->
      s"""SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
         |  COUNT(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS total_amount,
         |  ${davg("COALESCE(c_acctbal, 5000.0) / 10000.0", 6)} AS avg_cust_risk
         |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1""".stripMargin,

    "q_star_revenue" ->
      s"""SELECT r_name, n_name,
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey  = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin,

    "q_cube_stats" ->
      s"""SELECT event_type, dayofweek(ts) IN (0, 6) AS on_weekend,
         |  COUNT(*) AS n, ${dsum("value")} AS total_value
         |FROM events
         |GROUP BY CUBE (event_type, on_weekend)""".stripMargin,

    "q_pivot_usage" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "q_rollup_revenue" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_items,
         |  ${dsum("l_extendedprice")} AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey  = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q_topn_recent" ->
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id) AS rn
        |  FROM events
        |) WHERE rn <= 3""".stripMargin,

    "q_topn_native" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id) AS rn
        |  FROM events
        |) WHERE rn <= 3""".stripMargin,

    "q_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,

    "q_local_supplier" ->
      s"""SELECT n_name,
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |              AND c_nationkey = s_nationkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |              AND r_name = 'AMERICA'
         |GROUP BY n_name""".stripMargin,

    "q_promo_revenue" ->
      s"""SELECT
         |  100.0 * ${dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
         |    / ${dsum("l_extendedprice * (1.0 - l_discount)")}
         |    AS promo_share_pct,
         |  COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
         |  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,

    "q_priority_counts" ->
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |    AS n_high,
        |  COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
        |    AS n_low
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin,

    "q_unordered_parts" ->
      s"""SELECT p_brand, COUNT(*) AS n_parts,
         |  ${davg("p_retailprice")} AS avg_price
         |FROM part
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM lineitem
         |  WHERE l_partkey = p_partkey
         |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00')
         |GROUP BY p_brand""".stripMargin,

    "q_disjunctive_rev" ->
      s"""SELECT
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1.0 AND 20.0)
         |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10.0 AND 30.0)""".stripMargin,

    "q_data_quality" ->
      """WITH c AS (SELECT COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE NOT (value > 0.0)) AS v_value_positive,
        |  COUNT(*) FILTER (WHERE NOT (
        |    ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-02-01 00:00:00')) AS v_ts_in_window,
        |  COUNT(*) FILTER (WHERE NOT (event_type IN
        |    ('click', 'signup', 'error', 'view', 'purchase')))
        |    AS v_known_event_type,
        |  COUNT(*) FILTER (WHERE user_id IS NULL) AS v_user_id_present,
        |  COUNT(*) FILTER (WHERE NOT (value <= 100000.0))
        |    AS v_value_below_cap
        | FROM events),
        |fk AS (SELECT COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE NOT EXISTS (
        |    SELECT 1 FROM customer WHERE c_custkey = o_custkey)) AS v
        | FROM orders),
        |s AS (
        |  SELECT 'value_positive' AS rule_name, n AS n_rows,
        |         v_value_positive AS n_violations FROM c
        |  UNION ALL SELECT 'ts_in_window', n, v_ts_in_window FROM c
        |  UNION ALL SELECT 'known_event_type', n, v_known_event_type FROM c
        |  UNION ALL SELECT 'user_id_present', n, v_user_id_present FROM c
        |  UNION ALL SELECT 'value_below_cap', n, v_value_below_cap FROM c
        |  UNION ALL SELECT 'fk_orders_customer', n, v FROM fk)
        |SELECT rule_name, n_rows, n_violations,
        |  CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |    AS violation_rate,
        |  n_violations = 0 AS passed
        |FROM s""".stripMargin,

    "q_record_linkage" ->
      """WITH u AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000,
        |         substr(c_name, 1, length(c_name) - 1) || 'x',
        |         c_nationkey, c_acctbal + 0.25, c_mktsegment
        |  FROM customer WHERE c_custkey % 20 = 0),
        |p AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    CASE WHEN abs(length(a.c_name) - length(b.c_name)) <= 2
        |          AND levenshtein(a.c_name, b.c_name) <= 2
        |         THEN 4 ELSE -2 END AS name_score,
        |    CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 1.0
        |         THEN 2 ELSE -1 END AS num_score
        |  FROM u a JOIN u b
        |    ON a.c_nationkey = b.c_nationkey
        |   AND a.c_mktsegment = b.c_mktsegment
        |   AND a.c_custkey < b.c_custkey)
        |SELECT id_a, id_b, name_score, num_score,
        |  name_score + num_score AS score,
        |  CASE WHEN name_score + num_score >= 6 THEN 'match'
        |       ELSE 'possible' END AS verdict
        |FROM p WHERE name_score + num_score >= 3""".stripMargin,

    "q_scd2" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
        |  o_orderdate AS valid_from,
        |  LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  (LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) IS NULL) AS is_current
        |FROM orders""".stripMargin,

    "q_merge_upsert" ->
      """WITH upd AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         c_acctbal + 100.0 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'new_' || c_name, c_nationkey,
        |         c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 100 = 0)
        |SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
        |  COALESCE(u.c_name, b.c_name) AS c_name,
        |  COALESCE(u.c_nationkey, b.c_nationkey) AS c_nationkey,
        |  COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
        |  COALESCE(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment
        |FROM customer b FULL OUTER JOIN upd u
        |  ON b.c_custkey = u.c_custkey""".stripMargin,

    "q_top_supplier" ->
      s"""WITH revenue0 AS (
         |  SELECT l_suppkey AS supplier_no,
         |    ${dsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)"""
        .stripMargin,

    "q_share_supplier" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT ps.l_suppkey
        |  FROM (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty_ps
        |        FROM lineitem GROUP BY 1, 2) ps
        |  WHERE ps.qty_ps > CAST(0.2 AS DOUBLE) * (
        |      SELECT SUM(l_quantity) FROM lineitem l2
        |      WHERE l2.l_partkey = ps.l_partkey)
        |    AND ps.l_partkey IN (SELECT p_partkey FROM part
        |                         WHERE p_name LIKE '%a%'))""".stripMargin,

    "q_dormant_customers" ->
      s"""SELECT c_nationkey AS cntrycode, COUNT(*) AS n_cust,
         |  ${dsum("c_acctbal")} AS total_bal
         |FROM customer c
         |WHERE c_acctbal > (
         |    SELECT ${davg("c_acctbal")} FROM customer
         |    WHERE c_acctbal > 0.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders o
         |                  WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_orderdate <
         |                        TIMESTAMP '1996-01-01 00:00:00')
         |GROUP BY 1""".stripMargin,

    "q_small_qty_rev" ->
      s"""SELECT ${dsum("l_extendedprice")} / 7.0 AS avg_yearly,
         |  COUNT(*) AS n
         |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |WHERE p.p_brand = 'Brand#1'
         |  AND l.l_quantity < CAST(0.2 AS DOUBLE) * (
         |    SELECT SUM(l2.l_quantity) / COUNT(l2.l_quantity)
         |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""
        .stripMargin,

    "q_big_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY 1
        |      HAVING SUM(l_quantity) > 300.0) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q_max_order" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin,

    "q_sole_supplier" ->
      """SELECT l_suppkey, COUNT(*) AS n_lines,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem l1
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY l_suppkey""".stripMargin,

    "q_decision_ladder" ->
      s"""WITH s AS (
         |  SELECT GREATEST(0.0, LEAST(1.0, o_totalprice / 500000.0))
         |           AS score,
         |         o_totalprice
         |  FROM orders
         |)
         |SELECT
         |  CASE WHEN score >= 0.9 THEN 'CRITICAL'
         |       WHEN score >= 0.7 THEN 'HIGH'
         |       WHEN score >= 0.5 THEN 'MEDIUM'
         |       ELSE 'LOW' END AS risk_level,
         |  CASE WHEN score >= 0.9 THEN 'DECLINE'
         |       WHEN score >= 0.7 THEN 'REVIEW'
         |       ELSE 'APPROVE' END AS decision,
         |  COUNT(*) AS n,
         |  ${dsum("o_totalprice")} AS total_amount
         |FROM s GROUP BY 1, 2""".stripMargin,
  )
}
