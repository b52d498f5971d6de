package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Tables

/** Physical-plan assertions: the plan shapes that matter at 100 TB,
  * pinned as tests so a refactor that silently degrades them fails.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def explainStr(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def t(name: String) = Tables(spark, sf, name)

  test("star join broadcasts every dimension (no shuffle join on facts)") {
    val plan = explainStr(StarJoin.revenueByNation(
      t("region"), t("nation"), t("customer"), t("orders"), t("lineitem")))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      s"fact-side shuffle join appeared:\n$plan")
  }

  test("enrichment join is broadcast with no exchange on the fact side") {
    val plan = explainStr(
      Enrichment.ordersBySegment(t("orders"), t("customer")))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("parquet filter pushdown reaches the scan") {
    val df = t("lineitem").filter(col("l_suppkey") === 3)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_suppkey), EqualTo(l_suppkey,3)]"),
      s"no pushdown in scan:\n$scan")
    // column pruning: scan reads only the 3 needed columns
    assert(scan.contains("ReadSchema") &&
      scan.contains("l_orderkey") && !scan.contains("l_extendedprice"),
      s"column pruning failed:\n$scan")
  }

  test("aggregations are partial+final (map-side combine before shuffle)") {
    val plan = explainStr(WindowedAggs.keyVelocity(t("events")))
    val hashAggs = "HashAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$plan")
  }

  test("feature extraction stays in one whole-stage-codegen span") {
    // AQE defers codegen wrapping until execution — disable for the check
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = FraudQueries.eventFeatures(t("events"))
      val codegen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(codegen.contains("WholeStageCodegen subtrees") &&
        !codegen.startsWith("Found 0"), "feature pipeline fell out of codegen")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("interval join plans as an equi-join with range residual, not NLJ") {
    val plan = explainStr(Joins.intervalJoin(t("events"), "user_id", "ts"))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"interval join degenerated to nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("partition pruning: hive-partitioned layout prunes at the scan") {
    val root = java.nio.file.Files.createTempDirectory("graft_part")
      .toFile.getAbsolutePath
    t("events").write.partitionBy("event_type").parquet(s"$root/ev")
    val df = spark.read.parquet(s"$root/ev")
      .filter(col("event_type") === "error")
      .select("event_id", "value")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("event_type"), s"no partition pruning:\n$scan")
    // pruned read returns exactly the partition's rows
    assert(df.count() ==
      t("events").filter(col("event_type") === "error").count())
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    // the pre-partitioning story for 100 TB fact-fact joins: bucketBy
    // the join key once at write time, then every equi-join on it runs
    // shuffle-free (scan partitioning == join requirement)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_events_a")
      spark.sql("DROP TABLE IF EXISTS b_events_b")
      val events = t("events").select("event_id", "user_id", "value")
      events.write.bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("b_events_a")
      events.write.bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("b_events_b")
      val joined = spark.table("b_events_a")
        .join(spark.table("b_events_b"), "user_id")
      val plan = explainStr(joined)
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_events_a")
      spark.sql("DROP TABLE IF EXISTS b_events_b")
    }
  }

  test("semi and anti joins stay keyed, never nested-loop") {
    val semi = explainStr(OlapQueries.orderPriority(t("orders"), t("lineitem")))
    assert(semi.contains("LeftSemi"), s"expected semi join:\n$semi")
    assert(!semi.contains("CartesianProduct") &&
           !semi.contains("BroadcastNestedLoopJoin"))
    val anti = explainStr(OlapQueries.unorderedParts(t("part"), t("lineitem")))
    assert(anti.contains("LeftAnti"), s"expected anti join:\n$anti")
    assert(!anti.contains("CartesianProduct") &&
           !anti.contains("BroadcastNestedLoopJoin"))
  }

  test("embedding near-dup is band-keyed, never a cross product") {
    // the benchmarked configuration: perturbed corpus, t=0.9, 8x8
    val plan = explainStr(
      Similarity.nearDupPairs(
        Similarity.perturbedCopies(t("embeddings")), threshold = 0.9,
        bitsPerBand = 8, bands = 8))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup degenerated to all-pairs:\n$plan")
  }

  test("bm25 top-k is TakeOrderedAndProject — no single-partition sort") {
    val plan = explainStr(Retrieval.bm25TopK(t("documents"),
      Seq("spark", "join", "window")))
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("inverted-index build has no KEYED shuffle: the term filter " +
       "dies row-locally after the explode") {
    // the only exchange allowed is Par.fan's round-robin spread of
    // the single input file — data-volume-neutral; a hash or
    // single-partition exchange would mean postings shuffled
    val plan = explainStr(Retrieval.invertedIndex(t("documents"),
      Seq("spark", "join", "window")))
    assert(!plan.contains("Exchange hashpartitioning") &&
           !plan.contains("Exchange SinglePartition"),
      s"postings build shuffled:\n$plan")
  }

  test("budget select runs two-phase — no domain-keyed window anywhere") {
    // a running sum over partitionBy(lang) would put an entire domain
    // in ONE task; the selection must run via Layout.keyedPrefixSum's
    // range-partitioned two-phase form (same standard as qualityPrune)
    val plan = explainStr(TextAnalysis.budgetSelect(t("documents")))
    assert(!plan.contains("Window"),
      s"budgetSelect regressed to a keyed window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"budgetSelect collapsed to one task:\n$plan")
  }

  test("negative sampling plan never enumerates users x vocabulary") {
    // generation is users·draws via explode(sequence); the only
    // nested-loop join allowed is the broadcast of the 1-row
    // |vocab| count frame — assert no join carries the item catalog
    // as a cross product against users
    val inter = t("orders").join(t("lineitem"),
      org.apache.spark.sql.functions.col("o_orderkey") ===
        org.apache.spark.sql.functions.col("l_orderkey"))
    val plan = explainStr(graft.operators.FeatureEng
      .negativeSamples(inter, "o_custkey", "l_suppkey"))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("Generate explode") || plan.contains("explode"),
      s"expected sequence-explode generation:\n$plan")
  }

  test("dedup shingle join is a keyed join, never a cross product") {
    val plan = explainStr(
      Dedup.jaccardPairs(t("documents"), threshold = 0.5))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("4-family ensemble scoring is per-row: ZERO exchanges in the plan") {
    // every member (lr-columnar, tree, rules, isolation) is pure column
    // algebra — the whole heterogeneous ensemble scores in the scan's
    // codegen stage with no KEYED shuffle at any data size (the only
    // exchange is Par.fan's round-robin fan-out of the single-row-group
    // test parquet, a no-op at scale)
    val plan = explainStr(FraudQueries.ensembleMulti(t("events")))
    assert(!plan.contains("Exchange hashpartitioning") &&
           !plan.contains("Exchange rangepartitioning"),
      s"per-row ensemble scoring should not shuffle:\n$plan")
  }

  test("sequence model costs exactly one exchange (the keyed window)") {
    val plan = explainStr(graft.ml.DeterministicModels.sequenceScore(
      t("events"), col("value"), col("ts")))
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected a single keyed shuffle, found $n:\n$plan")
  }

  test("tfidf top-terms plans the native TopK operator") {
    val plan = explainStr(TextAnalysis.tfidfTopTerms(t("documents")))
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      s"tfidf should rank through the custom TopK operator:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("z-score normalization broadcasts stats, never shuffle-joins facts") {
    val plan = explainStr(FeatureEng.zscoreNormalize(t("events")))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("ShuffledHashJoin"),
      s"per-group stats must reach the fact side as a broadcast:\n$plan")
  }

  test("ewma costs exactly one keyed exchange (the user window)") {
    val plan = explainStr(FeatureEng.ewmaAmounts(t("events")))
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected a single keyed shuffle, found $n:\n$plan")
  }

  test("quality prune ranks two-phase — no source-keyed window anywhere") {
    // row_number over partitionBy(source) would put an entire source
    // in ONE task (the straggler shape at 100 TB with few sources);
    // the prune must rank via Layout.keyedRank's range-partitioned
    // two-phase form, so NO window operator and NO single-partition
    // exchange may appear in the executed plan
    val plan = explainStr(TextAnalysis.qualityPrune(t("documents")))
    assert(!plan.contains("Window"),
      s"qualityPrune regressed to a keyed window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"qualityPrune collapsed to one task:\n$plan")
  }

  test("quantile bins use a KEYED window — no single-partition sort") {
    val plan = explainStr(FeatureEng.quantileBins(t("events")))
    assert(!plan.contains("Exchange SinglePartition"),
      s"NTILE degenerated to a global sort:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"))
  }

  test("incremental dedup plans semi-joins, never a cross product") {
    val plan = explainStr(Dedup.incrementalDedup(t("documents"),
      col("doc_id") % 10 === 0))
    assert(plan.contains("LeftSemi"), s"expected semi-join probes:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("dense co-occurrence: two keyed exchanges, zero joins") {
    val plan = explainStr(Joins.coOccurrenceDense(
      t("lineitem"), "l_suppkey", "l_partkey"))
    assert(!plan.contains("Join"), s"dense strategy must not join:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 2, s"expected groupBy(via) + groupBy(pair) only, got $n:\n$plan")
  }

  test("decontamination broadcasts the eval grams; corpus side never cross-joins") {
    val plan = explainStr(Dedup.decontaminate(t("documents"),
      org.apache.spark.sql.functions.col("doc_id") % 20 === 1))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval-gram set should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("semDedup pair search is keyed on the cluster, not all-pairs") {
    val plan = explainStr(Similarity.semDedup(t("embeddings"), 0.4))
    // the only nested-loop is the 1-row codebook broadcast; the pair
    // join itself must be an equi-join on list_id
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"),
      s"within-cluster pair join must be keyed:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"semDedup degenerated to a cartesian:\n$plan")
  }

  test("dsir weights broadcast the bucket stats, one explode pass") {
    val plan = explainStr(TextAnalysis.dsirWeights(t("documents"),
      org.apache.spark.sql.functions.col("lang") === "en"))
    assert(plan.contains("BroadcastHashJoin"),
      s"log-ratio table should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("substring dedup: window-hash groupBy + keyed join back, no pairs") {
    val plan = explainStr(Dedup.repeatedSubstrings(t("documents")))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"substring dedup must never enumerate doc pairs:\n$plan")
  }

  test("kNN label propagation: candidates keyed on the inverted list, no all-pairs") {
    val plan = explainStr(ModelEval.knnLabel(t("embeddings"),
      org.apache.spark.sql.functions.col("vec_id") % 20 === 0))
    assert(!plan.contains("CartesianProduct"),
      s"kNN degenerated to all-pairs:\n$plan")
    // nested loops may appear ONLY as broadcast ride-alongs of the
    // 1-row pivot-codebook aggregate (their count varies with cache
    // state); the candidate join itself must be keyed
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"),
      s"probe-to-inverted-list join must be an equi-join:\n$plan")
  }

  test("negative sampling: vocabulary broadcasts; anti-join stays keyed") {
    val inter = t("orders").join(t("lineitem"),
      org.apache.spark.sql.functions.col("o_orderkey") ===
        org.apache.spark.sql.functions.col("l_orderkey"))
    val plan = explainStr(FeatureEng.negativeSamples(
      inter, "o_custkey", "l_suppkey"))
    assert(!plan.contains("CartesianProduct"),
      s"candidate expansion must be a broadcast, not a cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"vocab expansion should ride a broadcast:\n$plan")
  }

  test("zorder key + calibration stay per-row/partial-agg: no joins at all") {
    val p1 = explainStr(Layout.eventZorder(t("events")))
    // Par.fan's round-robin repartition is the only exchange allowed —
    // the key itself must not induce a hash exchange or a join
    assert(!p1.contains("Join") && !p1.contains("hashpartitioning"),
      s"zorder key must be pure row-local column math:\n$p1")
    val p2 = explainStr(ModelEval.calibrationBins(t("embeddings")))
    assert(!p2.contains("Join"), s"calibration needs no join:\n$p2")
    assert(p2.contains("partial"),
      s"calibration should partial-aggregate map-side:\n$p2")
  }

  test("vocab build is TakeOrderedAndProject — the full vocabulary never funnels to one task") {
    val plan = explainStr(TextAnalysis.vocabEncode(t("documents")))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-vocab selection must be a distributed take-ordered:\n$plan")
  }

  test("vocab coverage rides the distributed prefix sum — no whole-vocab window") {
    val plan = explainStr(TextAnalysis.vocabCoverage(t("documents")))
    // the running mass must come from prefixSum's two-phase rank, not a
    // Window over the whole vocabulary sorted into one task
    assert(!plan.contains("Window"),
      s"running token mass must never be a whole-vocab window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    // the only SinglePartition exchange allowed is the 1-row global
    // total, fed by a map-side partial sum
    if (plan.contains("Exchange SinglePartition"))
      assert(plan.contains("partial_sum"),
        s"SinglePartition without a partial agg means data funneled:\n$plan")
  }

  test("funnel: stage frames join keyed, counts partial-aggregate") {
    val plan = explainStr(FraudQueries.funnel(t("events")))
    assert(!plan.contains("CartesianProduct"),
      s"only broadcast 1-row count frames may cross:\n$plan")
    assert(plan.contains("partial"),
      s"stage mins must partial-aggregate map-side:\n$plan")
  }

  test("cohortRetention: cohort sizes broadcast; no cartesian anywhere") {
    val plan = explainStr(Behavior.cohortRetention(t("events")))
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("transitions + attribution windows stay user-keyed (no global sort)") {
    val p1 = explainStr(Behavior.eventTransitions(t("events")))
    val p2 = explainStr(Behavior.attribution(t("events")))
    Seq(p1, p2).foreach { p =>
      assert(!p.contains("Exchange SinglePartition") || p.contains("partial"),
        s"per-user window funneled to one task:\n$p")
      assert(p.contains("hashpartitioning(user_id"),
        s"window must partition by user:\n$p")
    }
  }

  test("triangleCount: every join is keyed (degree/apex/closing equi-joins)") {
    val plan = explainStr(Joins.triangleCount(Joins.coOccurrenceDense(
      t("lineitem"), "l_suppkey", "l_partkey", minShared = 2L)))
    assert(!plan.contains("CartesianProduct"),
      s"only the final 1-row audit frames may cross:\n$plan")
  }

  test("rebalance: class counts broadcast back; the filter is row-local") {
    val plan = explainStr(FeatureEng.rebalanceProfile(t("events")))
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the |classes|-row frames must broadcast, never shuffle the rows:\n$plan")
  }

  test("bigram surprisal: bigrams form row-locally, joins stay keyed") {
    val plan = explainStr(TextAnalysis.bigramSurprisal(t("documents")))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    // the V scalar rides a broadcast, not a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"plan:\n$plan")
  }

  test("sessionPaths: top-k is TakeOrdered, window stays user-keyed") {
    val plan = explainStr(Behavior.sessionPaths(t("events")))
    assert(plan.contains("TakeOrderedAndProject"),
      s"path top-k must not globally sort:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"), s"plan:\n$plan")
  }

  test("snapshotDiff: one co-partitioned full-outer join, no broadcast NLJ") {
    val ev = t("events")
    val plan = explainStr(Quality.snapshotDiff(
      ev, ev.withColumnRenamed("value", "v").withColumnRenamed("v", "value"),
      "event_id", "value"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(plan.contains("FullOuter"), s"plan:\n$plan")
  }

  test("preferencePairs: both windows share one user-keyed exchange") {
    val plan = explainStr(ModelEval.preferencePairs(t("events")))
    val exchanges = "Exchange hashpartitioning\\(user_id"
      .r.findAllIn(plan).length
    assert(exchanges <= 2, // best/worst branches of the self-join
      s"opposing windows must not multiply exchanges:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"), s"plan:\n$plan")
  }

  test("burstDetect: window runs on hourly rollup rows, not events") {
    val plan = explainStr(WindowedAggs.burstDetect(t("events")))
    assert(plan.contains("partial_count"),
      s"hourly counts must partial-aggregate before the window:\n$plan")
    // plans print top-down: the Window line must precede (sit above)
    // the rollup's HashAggregate
    assert(plan.indexOf("Window") < plan.indexOf("HashAggregate"),
      s"the window must sit above the rollup:\n$plan")
  }

  test("seasonalAnomaly: single partial+final pass, no join") {
    val plan = explainStr(Quality.seasonalAnomaly(t("events")))
    assert(!plan.contains("Join"), s"both periods must aggregate in one pass:\n$plan")
    assert(plan.contains("partial"), s"plan:\n$plan")
  }

  test("madOutliers: median frames broadcast back; rows shuffle once per pass") {
    val plan = explainStr(Quality.madOutliers(t("events")))
    assert(plan.contains("BroadcastHashJoin"),
      s"the |keys|-row medians frame must broadcast, not shuffle the rows:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no row-side shuffle join:\n$plan")
  }

  test("native as-of join: merge exec over keyed exchanges, no Window") {
    val ev = t("events")
    val updates = ev.filter(org.apache.spark.sql.functions
        .col("event_type") === "signup")
      .groupBy("user_id", "ts")
      .agg(org.apache.spark.sql.functions.max("value").as("pv"))
    val plan = explainStr(Joins.asOfJoinNative(
      ev.select("event_id", "user_id", "ts", "value"),
      updates, "user_id", "ts", "pv"))
    assert(plan.contains("AsOfJoin"), s"plan:\n$plan")
    assert(!plan.contains("Window"),
      s"the native form must not fall back to the union+window:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"),
      s"both sides must co-partition on the key:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the runtime half of the skew story (the authored half is the
    // salted co-occurrence path): one hot key dominating a shuffle
    // partition must be split by OptimizeSkewedJoin, not ride one
    // task. Thresholds shrunk to fixture scale; broadcast disabled so
    // the join actually shuffles.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) =>
      k -> util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = (1 to 30000).map(i => (0L, s"payload_left_$i")) ++
        (1 to 300).map(i => (i.toLong, "cold"))
      val dim = (0 to 300).map(i => (i.toLong, s"right_$i"))
      val joined = hot.toDF("k", "l").join(dim.toDF("k", "r"), "k")
      // collect() on the SAME frame so ITS QueryExecution runs and the
      // adaptive plan finalizes (count() would execute a sibling plan)
      assert(joined.collect().length == 30300)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"hot key must trigger OptimizeSkewedJoin:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter injects a might_contain prune on the fact side") {
    // the runtime-filter lever that matters at 100 TB: a selective
    // dimension filter becomes a bloom filter applied at the fact scan,
    // cutting shuffle input before the join. Thresholds are tuned for
    // production sizes, so pin them down for the sf0.001 fixture; SMJ
    // forced because injection targets shuffle joins (broadcast joins
    // already prune via the broadcast itself).
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) =>
      k -> util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = t("orders")
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
      val plan = explainStr(t("lineitem").join(dim,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey")))
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("top-cost dedup family: keyed joins only, nothing funnels to one task") {
    // the four most expensive bench queries (r6 verdict item 7): a
    // "first plan that works" regression here costs whole-run seconds
    // at sf0.1 and hours at 100 TB — pin the shapes that keep them
    // scale-safe: every candidate/intersection join keyed, no
    // cartesian or nested-loop fallback, no single-partition funnel.
    val docs = t("documents")
    val plans = Map(
      "q_dedup_jaccard" ->
        explainStr(Dedup.jaccardPairsBanded(docs, threshold = 0.5)),
      // prefix form forced: the size gate picks the direct join at
      // fixture scale, but the 100-TB shape is the prefix-filtered one
      "q_dedup_containment" ->
        explainStr(Dedup.containmentPairs(docs, threshold = 0.8,
          prefixFilter = Some(true))),
      "q_dedup_containment_direct" ->
        explainStr(Dedup.containmentPairs(docs, threshold = 0.8,
          prefixFilter = Some(false))),
      "q_dedup_clusters" -> explainStr(Dedup.simhashClusters(docs)),
      "q_split_leakage" -> explainStr(TextAnalysis.splitLeakage(docs)),
      "q_cluster_split" -> explainStr(TextAnalysis.clusterAwareSplit(docs)),
      "q_source_overlap" -> explainStr(Dedup.sourceOverlap(docs)))
    plans.foreach { case (name, plan) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to a nested loop:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name funnels data to one task:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
          || plan.contains("BroadcastHashJoin"),
        s"$name lost its keyed candidate join:\n$plan")
    }
    // containment's per-doc window must stay keyed on doc_id (the
    // prefix-rank), never a global sort
    assert(plans("q_dedup_containment").contains("hashpartitioning(doc_id"),
      s"prefix rank must partition by doc:\n${plans("q_dedup_containment")}")
  }

  test("new doc operators keep their scale shapes: PII row-local, classifier join-free, family shares the cached view") {
    val docs = t("documents")
    // piiScan is pure row-local column algebra: no keyed shuffle, no
    // funnel — the only permitted exchange is Par.fan's deliberate
    // round-robin spread of small files across cores, which carries
    // no keying and disappears when input splits are already wide
    val pii = explainStr(TextAnalysis.piiScan(docs))
    assert(!pii.contains("hashpartitioning") &&
      !pii.contains("Exchange SinglePartition") &&
      !pii.contains("rangepartitioning"),
      s"piiScan must stay row-local:\n$pii")
    // qualityClassifier folds the margin row-locally over the token
    // array — zero keyed shuffle, zero join (the groupBy spelling was
    // the dominant cost of the curation throughput gauntlet)
    val qc = explainStr(FeatureEng.qualityClassifier(docs))
    assert(!qc.toLowerCase.contains("join"),
      s"classifier weight derivation must stay join-free:\n$qc")
    assert(!qc.contains("hashpartitioning") &&
      !qc.contains("Exchange SinglePartition"),
      s"classifier must stay row-local:\n$qc")
    // the family summary reads the ONE cached label view from all
    // three member branches — that sharing is the whole point
    val fam = TextAnalysis.clusterFamilySummary(docs)
    val famPlan = explainStr(fam)
    val scans = "InMemoryTableScan".r.findAllIn(famPlan).size
    assert(scans >= 3,
      s"family members must read the shared cached labels ($scans scans):\n$famPlan")
    assert(!famPlan.contains("CartesianProduct") &&
      !famPlan.contains("BroadcastNestedLoopJoin"))
    graft.operators.OperatorCaches.releaseAll()
  }

  test("IVF-PQ: keyed candidate join, no corpus cartesian, codes row-local") {
    val plan = explainStr(Similarity.ivfPqTopK(t("embeddings"),
      org.apache.spark.sql.functions.col("vec_id") < 8, 3))
    assert(!plan.contains("CartesianProduct"),
      s"IVF-PQ degenerated to all-pairs:\n$plan")
    // nested loops appear ONLY as the 1-row pivot/codebook broadcasts;
    // the probe→inverted-list and ADC-table joins must be equi-joins
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"),
      s"candidate join must be keyed:\n$plan")
    graft.operators.OperatorCaches.releaseAll()
  }

  test("residual IVF-PQ: keyed candidate join, per-probe ADC tables broadcast, no cartesian") {
    val plan = explainStr(Similarity.ivfPqResidualTopK(t("embeddings"),
      org.apache.spark.sql.functions.col("vec_id") < 8, 3))
    assert(!plan.contains("CartesianProduct"),
      s"residual IVF-PQ degenerated to all-pairs:\n$plan")
    // the (query_id, plist)-keyed ADC-table join and the probe→list
    // candidate join must be equi-joins; nested loops appear only as
    // the 1-row pivot/book broadcasts
    assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"candidate/ADC joins must be keyed:\n$plan")
    graft.operators.OperatorCaches.releaseAll()
  }

  test("graftlog scan: reader parallelism equals the log's partition count") {
    val dir = java.nio.file.Files.createTempDirectory("glog_plan")
      .toFile.getAbsolutePath + "/log"
    import spark.implicits._
    (1 to 200).map(i => (s"k$i", s"v$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "4").mode("append").save()
    val df = spark.read.format("graftlog").option("path", dir).load()
    val plan = explainStr(df)
    assert(plan.contains("BatchScan"), s"graftlog must plan as a DSv2 scan:\n$plan")
    // one InputPartition per log partition — the Kafka source's
    // parallelism contract (readers scale with the topic, not the file
    // count or a global constant)
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 reader partitions, got ${df.rdd.getNumPartitions}")
  }

  test("trained-codebook IVF: candidate join stays keyed; training adds no corpus shuffle") {
    val emb = t("embeddings")
    val plan = explainStr(Similarity.ivfTopK(emb,
      org.apache.spark.sql.functions.col("vec_id") < 8, 3,
      pivotsOpt = Some(Similarity.kmeansPivotArr(emb, k = 16, iters = 1))))
    assert(!plan.contains("CartesianProduct"),
      s"trained IVF degenerated to all-pairs:\n$plan")
    // nested loops only as the 1-row trained-book broadcasts; the
    // probe→inverted-list join must be an equi-join
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"),
      s"candidate join must be keyed:\n$plan")
    graft.operators.OperatorCaches.releaseAll()
  }

  test("compacted graftlog: scan stays partition-parallel; changelog read shape unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("glog_cplan")
      .toFile.getAbsolutePath + "/log"
    import spark.implicits._
    (1 to 200).map(i => (s"k${i % 20}", s"v$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "4").mode("append").save()
    graft.sources.log.GraftLog.compact(dir)
    val df = spark.read.format("graftlog").option("path", dir).load()
    assert(df.rdd.getNumPartitions == 4,
      s"compaction must not collapse reader parallelism: ${df.rdd.getNumPartitions}")
    // latestByKey over the compacted log: ONE keyed exchange (the
    // materialization shuffle), nothing quadratic
    val plan = explainStr(graft.sources.log.GraftLog.latestByKey(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"changelog materialization must stay keyed:\n$plan")
  }

  test("containmentPairs plan choice launches no job (no eager count)") {
    // round-7 verdict item 4: the operator used to run docs.count() as
    // a side effect of PLANNING — a full upstream pass, paid again when
    // the result is consumed. The size now comes from a caller hint or
    // plan statistics; constructing the frame must start zero jobs.
    // Counted via a job-group-scoped listener (this thread's jobs
    // only, so parallel suites can't pollute the count), with one
    // deliberate marker job after construction: the listener bus is
    // FIFO, so once the marker arrives any job the operator had
    // started would already have been counted.
    val group = "containment-plan-check"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    // source read hoisted OUT of the audited window: parquet file
    // listing/footer reads are the source's jobs, not the operator's
    val docs = t("documents")
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "containment plan-choice audit")
    try {
      val planned = Dedup.containmentPairs(docs, threshold = 0.8)
      // marker: a raw RDD action is exactly ONE job (an SQL count
      // under AQE materializes in two), still tagged with the group
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1,
        s"constructing containmentPairs launched ${jobs.get() - 1} job(s)")
      assert(planned.columns.contains("cont_ab")) // frame is real, unexecuted
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("Q9 profit star: every dimension side broadcasts") {
    val plan = explainStr(OlapQueries.productProfit(t("part"),
      t("supplier"), t("lineitem"), t("orders"), t("nation")))
    assert(!plan.contains("SortMergeJoin"),
      s"dimension joins should broadcast at this scale:\n$plan")
    assert(plan.contains("PushedFilters"),
      s"part name filter should reach the scan:\n$plan")
  }

  test("round-13 operators keep their scale shapes: mask shuffle-free, winnow reuses the window exchange, scrub probe broadcasts") {
    val docs = t("documents")
    // maskTokens is a pure map over the scan: the ONLY permitted
    // exchange is Par.fan's unkeyed spread — zero keyed shuffles
    val mask = explainStr(TextAnalysis.maskTokens(docs))
    assert(!mask.contains("hashpartitioning") &&
      !mask.contains("rangepartitioning") &&
      !mask.contains("Exchange SinglePartition"),
      s"maskTokens must stay row-local:\n$mask")
    // winnowFingerprints: the final DISTINCT must ride the window's
    // doc_id exchange (partial+final HashAggregate, no extra shuffle)
    // — exactly ONE keyed exchange in the whole plan
    val winnow = explainStr(TextAnalysis.winnowFingerprints(docs))
    val keyed = "hashpartitioning".r.findAllIn(winnow).size
    assert(keyed == 1,
      s"winnow should have exactly one keyed exchange, got $keyed:\n$winnow")
    // decontaminateScrub: the eval-gram probe is a broadcast join —
    // the corpus side must NOT shuffle to meet the eval set
    val scrub = explainStr(Dedup.decontaminateScrub(docs,
      col("doc_id") % 20 === 1))
    assert(scrub.contains("BroadcastHashJoin"),
      s"eval gram probe must broadcast:\n$scrub")
    assert(!scrub.contains("CartesianProduct") &&
      !scrub.contains("BroadcastNestedLoopJoin"))
    graft.operators.OperatorCaches.releaseAll()
  }

  test("round-13b operators keep their scale shapes: overlap join keyed, sketch sigs one aggregate, dim profile one exchange") {
    val docs = t("documents")
    // winnowOverlap: the pair join is fp-KEYED — a cartesian over the
    // fingerprint frame would be the corpus^2 failure mode
    val overlap = explainStr(TextAnalysis.winnowOverlap(docs))
    assert(!overlap.contains("CartesianProduct") &&
      !overlap.contains("BroadcastNestedLoopJoin"),
      s"winnow pair join must stay fp-keyed:\n$overlap")
    graft.operators.OperatorCaches.releaseAll()
    // sourceMinhashSim: the ONLY permitted nested-loop join is the
    // deliberate #sources x #sources signature pairing — the gram
    // side must reach the signature aggregate without a join
    val sim = Dedup.sourceMinhashSim(docs)
    val simPlan = explainStr(sim)
    assert(!simPlan.contains("CartesianProduct"))
    // min(string) buffers are immutable -> Spark plans SortAggregate
    val aggs = "(Hash|Sort)Aggregate".r.findAllIn(simPlan).size
    assert(aggs >= 2, // partial+final of the ONE signature agg
      s"signature aggregate missing:\n$simPlan")
    // embDimProfile: one keyed exchange (the dim aggregate), nothing
    // else — the explode and quantization are map-side
    val prof = explainStr(Similarity.embDimProfile(t("embeddings")))
    val keyedProf = "hashpartitioning".r.findAllIn(prof).size
    assert(keyedProf == 1,
      s"dim profile should have exactly one keyed exchange, got $keyedProf:\n$prof")
  }

  test("decontaminateBloom probes with the native bloom kernel, not a ScalaUDF (r13 carried item)") {
    val plan = explainStr(Dedup.decontaminateBloom(
      t("documents"), col("doc_id") % 20 === 1))
    graft.operators.OperatorCaches.releaseAll()
    assert(plan.contains("might_contain"),
      s"native BloomFilterMightContain missing from the probe:\n$plan")
    assert(!plan.contains("UDF"),
      s"the bloom probe fell back to a ScalaUDF:\n$plan")
  }

  test("sharded packSequences has no unpartitioned WindowExec (r13 verdict #3)") {
    // the global (oracle-gate) spelling funnels the corpus through one
    // task by design; the production sharded spelling must NOT — every
    // WindowExec in its plan carries the shard in partitionSpec
    val docs = t("documents").withColumn("shard", col("lang"))
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    val global = windows(TextAnalysis.packSequences(t("documents")))
    assert(global.nonEmpty && global.exists(_.partitionSpec.isEmpty))
    val sharded = windows(
      TextAnalysis.packSequences(docs, shardCol = Some("shard")))
    assert(sharded.nonEmpty, "sharded plan lost its window")
    assert(sharded.forall(_.partitionSpec.nonEmpty),
      "sharded packSequences still has an unpartitioned WindowExec")
  }

  test("the shipping pipeline scores in codegen: no ScalaUDF, margin/p_fraud inside a WholeStageCodegenExec") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, ScalaUDF}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    // read from files: over a local relation the optimizer would fold
    // the whole projection away and leave no codegen stage to inspect
    val dir = java.nio.file.Files.createTempDirectory("graft_pipeline_plan").toFile
    (1 to 40).map { i =>
      s"""{"transaction_id":"t$i","user_id":"u${i % 3}","merchant_id":"m${i % 2}",""" +
        s""""amount":${i * 37.5},"timestamp":"2024-01-0${1 + i % 7}T0${i % 10}:00:00Z",""" +
        """"geolocation":{"lat":40.0,"lon":-74.0},"merchant_location":{"lat":40.1,"lon":-74.1}}"""
    }.toDF("value").coalesce(1).write.text(s"${dir.getAbsolutePath}/in")
    val users = Seq(("u1", 0.9, "verified", 100.0))
      .toDF("user_id", "risk_score", "kyc_status", "avg_transaction_amount")
    val merchants = Seq(("m1", 0.2, "high", false))
      .toDF("merchant_id", "fraud_rate", "risk_level", "is_blacklisted")
    val df = graft.streaming.TransactionPipeline.pipeline(
      spark.read.text(s"${dir.getAbsolutePath}/in").withColumnRenamed("value", "json"),
      users, merchants)
    assert(df.filter(col("decision").isNotNull && col("p_fraud") > 0.0).count() == 40L)

    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: all(a.executedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(all)
    }
    val plan = df.queryExecution.executedPlan
    val nodes = all(plan)
    val udfs = nodes.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(udfs.isEmpty, s"ScalaUDF in the pipeline plan: ${udfs.map(_.udfName)}\n$plan")
    // the nodes a codegen stage fuses: its subtree down to the InputAdapters
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(fused)
    }
    def defines(p: SparkPlan, name: String) =
      p.expressions.exists(_.exists { case a: Alias => a.name == name; case _ => false })
    val stages = nodes.collect { case w: WholeStageCodegenExec => w }
    Seq("margin", "p_fraud").foreach { name =>
      val in = stages.filter(w => fused(w.child).exists(defines(_, name)))
      assert(in.nonEmpty, s"$name is not computed inside a whole-stage codegen stage:\n$plan")
      in.foreach(w => CodeGenerator.compile(w.doCodeGen()._2))
    }
  }

  test("unpartitioned ranking windows run over bounded frames only (RRF, vocab)") {
    // Spark warns "No Partition Defined for Window operation" for each
    // of these; the warning is not actionable because every such
    // window's input is a post-limit frame. Pin the bound.
    def globalWindowInputs(df: org.apache.spark.sql.DataFrame): Seq[Option[Long]] =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w.child.maxRows
      }
    val rrf = globalWindowInputs(Retrieval.hybridRrf(t("documents"),
      t("embeddings"), Seq("spark", "join"), queryVecId = 0L, k = 10, kLex = 20))
    assert(rrf.sorted == Seq(Some(10L), Some(20L)), s"RRF window inputs: $rrf")
    val vocab = globalWindowInputs(TextAnalysis.vocabEncode(t("documents"), vocabSize = 64))
    assert(vocab == Seq(Some(64L)), s"vocab window inputs: $vocab")
  }
}
