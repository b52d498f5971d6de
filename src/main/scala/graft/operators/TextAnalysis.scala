package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting.
  * Everything is per-row column algebra (whole-stage codegen, no
  * UDFs) or a single explode+groupBy, so each operator is one scan
  * with at most one shuffle on doc_id.
  */
object TextAnalysis {

  /** Per-language stopword marker sets for the n-gram/stopword
    * language heuristic. Deterministic tie-break: list order.
    */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "de", "para"),
    "fr" -> Seq("le", "les", "et", "est", "un", "une", "du", "pour"))

  private def toks: Column = split(col("text"), " ")

  private def fan(df: DataFrame): DataFrame = graft.sources.Par.fan(df)

  private def countIn(words: Seq[String]): Column = {
    val list = words.map(w => s"'$w'").mkString(", ")
    size(expr(s"filter(split(text, ' '), t -> t IN ($list))"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (alpha runs / digit runs / single other chars).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    fan(docs).select(col("doc_id"),
      size(toks).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_re_tokens"),
      length(col("text")).cast("long").as("n_chars_obs"))

  /** Quality scoring: token count, stopword ratio, mean token length,
    * composite score in [0,1]. All ratios are int/int or int/double
    * divisions — bit-identical across engines.
    */
  /** `carry` appends passthrough input columns to the output — the
    * single-scan hook for consumers that need the score NEXT TO
    * another column (qualityPrune carries `source`) without a second
    * scan + doc_id join to recover it.
    */
  def qualityScore(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val nTok = size(toks).cast(DoubleType)
    val nStop = countIn(StopWords.head._2).cast(DoubleType)
    val meanLen =
      length(regexp_replace(col("text"), " ", "")).cast(DoubleType) / nTok
    val stopRatio = nStop / nTok
    val score =
      lit(0.3) * least(lit(1.0), nTok / lit(100.0)) +
      lit(0.4) * (lit(1.0) - stopRatio) +
      lit(0.3) * least(lit(1.0), meanLen / lit(8.0))
    fan(docs).select(col("doc_id") +: nTok.as("n_tokens") +:
      stopRatio.as("stopword_ratio") +: meanLen.as("mean_token_len") +:
      score.as("quality") +: carry.map(col): _*)
  }

  /** Per-source quality pruning — the curation cut that keeps the
    * top `keepPct`% of EACH source by quality score (a global cut
    * would let one high-quality source crowd out every other
    * domain). Rank-based, not threshold-based: kept ⟺
    * 100·rank ≤ n·keepPct + 99 (⟺ rank ≤ ⌈n·keepPct/100⌉), all
    * integer math, so the cut is exact cross-engine; quality ties
    * break to the smaller doc_id. One exchange keyed on source pays
    * for rank and count together (two window functions, same
    * partitioning); the quality score itself is row-local.
    */
  def qualityPrune(docs: DataFrame, keepPct: Int = 50): DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, s"keepPct=$keepPct out of range")
    // source carried through the ONE quality scan — no second scan,
    // no doc_id join. The rank is Layout.keyedRank's two-phase form,
    // NOT a source-keyed window: a window partitioned by source puts
    // an entire source in one task — at 100 TB with a handful of
    // sources that is a single-task sort per source. keyedRank
    // range-partitions on (source, quality desc, doc_id) so a heavy
    // source spans many partitions, and delivers rank + src_n from
    // the same exchange.
    val joined = qualityScore(docs, carry = Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"))
    graft.operators.Layout
      .keyedRank(joined, "source", Seq(col("quality").desc, col("doc_id")),
        rankCol = "q_rank", countCol = "src_n")
      .select(col("doc_id"), col("source"), col("quality"),
        col("q_rank"),
        (col("q_rank") * 100L <= col("src_n") * keepPct + 99L).as("kept"))
  }

  /** Stopword-count language heuristic: argmax over per-language
    * marker hits, ties resolved by StopWords order.
    */
  def langId(docs: DataFrame): DataFrame = {
    val counted = StopWords.foldLeft(fan(docs)) { case (df, (lang, words)) =>
      df.withColumn(s"c_$lang", countIn(words))
    }
    val langs = StopWords.map(_._1)
    // lang i wins if its count >= every later lang's count (scan in order)
    val pred = langs.init.zipWithIndex.foldRight(
      lit(langs.last): Column) { case ((lang, i), onElse) =>
      val beats = langs.drop(i + 1)
        .map(o => col(s"c_$lang") >= col(s"c_$o")).reduce(_ && _)
      when(beats, lang).otherwise(onElse)
    }
    counted.select(col("doc_id"), pred.as("predicted_lang"),
      col("lang").as("labeled_lang"))
  }

  /** Deterministic train/val/test assignment (the split every
    * training-data pipeline needs): md5 over a salted doc key, first
    * two hex digits partition the 256-bucket space 204/26/26
    * (≈ 80/10/10) — hex-string comparison, engine-independent, stable
    * under reprocessing and insensitive to row order or partitioning.
    * Output: per-split document count, token volume, mean quality.
    */
  /** Deterministic salted-hash split assignment (~80/10/10) — shared
    * by [[datasetSplit]] and [[splitLeakage]].
    */
  private def splitHash(key: Column): Column = {
    val h = md5(concat(lit("split:"), key.cast("string")))
    when(substring(h, 1, 2) < "cc", "train")
      .when(substring(h, 1, 2) < "e6", "val")
      .otherwise("test")
  }

  private def splitOf: Column = splitHash(col("doc_id"))

  def datasetSplit(docs: DataFrame): DataFrame = {
    import graft.functions.ExactAgg.davg
    val split = splitOf
    qualityScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .withColumn("split", split)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        davg(col("quality")).as("avg_quality"))
  }

  /** Cross-split LEAKAGE audit — the check a train/test split must
    * pass before the split is trusted: a near-dup cluster
    * ([[Dedup.simhashClusters]]) whose members land in different
    * splits leaks training content into evaluation (the reason
    * dedup-then-split is the published order; this operator catches
    * the split-then-dedup mistake). Output: every multi-document
    * cluster with its split spread and the `leaky` verdict.
    *
    * Scale: one extra keyed aggregate over the cluster labels — the
    * cluster pass dominates; the audit itself is O(clusters). Pass a
    * precomputed [[Dedup.clusterLabels]] frame to share that dominant
    * pass with the other cluster-family consumers.
    */
  def splitLeakage(docs: DataFrame,
                   labels: Option[DataFrame] = None): DataFrame =
    labels.getOrElse(Dedup.simhashClusters(docs))
      .withColumn("split", splitOf)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        array_join(sort_array(collect_set(col("split"))), ",").as("splits"))
      .filter(col("n_docs") >= 2)
      .withColumn("leaky", col("n_splits") >= 2)

  /** Cluster-aware split assignment — the REMEDIATION for the leakage
    * [[splitLeakage]] audits: the salted split hash is applied to the
    * near-dup CLUSTER id instead of the doc id, so every cluster
    * lands wholly in one split and cross-split leakage is impossible
    * BY CONSTRUCTION (the published dedup-then-split order, expressed
    * as an assignment rule). A singleton's cluster id is its own doc
    * id, so the unclustered bulk of the corpus keeps the plain
    * per-doc assignment and the ~80/10/10 proportions hold.
    *
    * Scale: the cluster pass dominates; the assignment itself is
    * row-local on the O(corpus) label frame. Pass a precomputed
    * [[Dedup.clusterLabels]] frame to share the cluster pass with the
    * other cluster-family consumers.
    */
  def clusterAwareSplit(docs: DataFrame,
                        labels: Option[DataFrame] = None): DataFrame =
    labels.getOrElse(Dedup.simhashClusters(docs))
      .select(col("doc_id"), col("cluster_id"),
        splitHash(col("cluster_id")).as("split"))

  /** PII patterns for [[piiScan]] — the scrub pass every published
    * corpus pipeline runs before training (emails, phone numbers,
    * IPv4 addresses). Expressed in the regex subset Java (Spark) and
    * RE2 (DuckDB/Go-style engines) evaluate identically — character
    * classes and counted repetition only, no lookaround, no
    * backreferences — so the oracle twin is bit-identical and the
    * patterns stay linear-time-safe on adversarial documents (RE2
    * guarantees it; Java avoids the exponential-backtracking shapes).
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhonePattern = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII scan + redaction audit: per document, how many spans each
    * pattern family matches, the length of the text after all
    * families are redacted to fixed tokens (email → phone → IPv4,
    * counts taken on the ORIGINAL text), and the `is_clean` verdict.
    * Row-local column algebra inside whole-stage codegen — one scan,
    * no shuffle, the same single-pass shape at any corpus size; a
    * removal pass keeps the redacted text instead of its length.
    */
  def piiScan(docs: DataFrame): DataFrame = {
    val nEmails = regexp_count(col("text"), lit(EmailPattern))
    val nPhones = regexp_count(col("text"), lit(PhonePattern))
    val nIps = regexp_count(col("text"), lit(Ipv4Pattern))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), lit(EmailPattern), lit("<EMAIL>")),
        lit(PhonePattern), lit("<PHONE>")),
      lit(Ipv4Pattern), lit("<IP>"))
    fan(docs).select(col("doc_id"),
      nEmails.cast("long").as("n_emails"),
      nPhones.cast("long").as("n_phones"),
      nIps.cast("long").as("n_ips"),
      length(redacted).cast("long").as("redacted_len"),
      (nEmails + nPhones + nIps === 0).as("is_clean"))
  }

  /** The cluster FAMILY off one shared materialized label view — the
    * three consumers of [[Dedup.clusterLabels]] (the labels
    * themselves, [[clusterAwareSplit]], [[splitLeakage]]) computed
    * against a single cached label frame and each collapsed to a
    * (member, n_rows, checksum) row. The point is the plan shape, not
    * the summary numbers: the simhash→contraction→CC fixpoint — the
    * dominant cost of all three — runs ONCE and the later consumers
    * read the cache, so the family costs ≈ its most expensive member
    * instead of 3× (bench entry `q_cluster_family_shared` measures
    * exactly that against the three standalone queries; DocOpsSpec
    * pins per-member equivalence with the standalone operators).
    */
  def clusterFamilySummary(docs: DataFrame): DataFrame = {
    val labels = Dedup.clusterLabels(docs)
    val cl = labels.groupBy().agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id") * 31L + col("cluster_id")).as("checksum"))
      .select(lit("clusters").as("member"), col("n_rows"), col("checksum"))
    val cs = clusterAwareSplit(docs, Some(labels)).groupBy().agg(
        count(lit(1)).as("n_rows"),
        sum(col("cluster_id") *
          when(col("split") === "train", 1L)
            .when(col("split") === "val", 2L)
            .otherwise(3L)).as("checksum"))
      .select(lit("cluster_split").as("member"), col("n_rows"),
        col("checksum"))
    val lk = splitLeakage(docs, Some(labels)).groupBy().agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_docs") * col("n_splits")).as("checksum"))
      .select(lit("split_leakage").as("member"), col("n_rows"),
        col("checksum"))
    cl.unionAll(cs).unionAll(lk)
  }

  /** End-to-end corpus curation — the composed cleaning pipeline a
    * pretraining corpus goes through: keep a document iff it is the
    * canonical copy of its exact-dup group (min doc_id), its
    * stopword-heuristic language agrees with its label, and its
    * quality score clears the bar; report per-language volume. One
    * scan each for quality/langid (fused column algebra), one
    * hash-groupBy for dedup, one semi join, one final rollup.
    */
  def curateCorpus(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    import graft.functions.ExactAgg.davg
    val q = qualityScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val l = langId(docs)
    val keepers = Dedup.exactGroups(docs).select(col("keep_id"))
    q.join(l, "doc_id")
      .join(keepers, col("doc_id") === col("keep_id"), "left_semi")
      .filter(col("quality") >= minQuality &&
        col("predicted_lang") === col("labeled_lang"))
      .groupBy(col("labeled_lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        davg(col("quality")).as("avg_quality"))
  }

  /** TF-IDF keyword extraction: top-k terms per document by
    * tf·round(ln((N+1)/(df+1)), 6) — the idf is the only libm
    * crossing and is rounded BEFORE the product, so every tfidf
    * double (and therefore the ranking) is exact across engines. The
    * per-doc top-k runs through the native TopK operator: shuffle
    * volume is k terms per doc per partition, not the full
    * (doc, term) frame.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tok = fan(docs).select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    // document frequency = row count per term of the tf frame itself —
    // one explode+agg pass feeds both, instead of a second
    // explode+distinct over the token stream
    val tf = OperatorCaches.track(
      tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs_total"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf").cast(DoubleType) *
        round(log((col("n_docs_total") + lit(1.0)) / (col("df") + lit(1.0))), 6))
    TopN.topPerKeyNative(scored, "doc_id", "tfidf", "term", k)
      .select("doc_id", "term", "tfidf")
  }

  /** Collocation extraction — the phrase-mining step of an LM corpus
    * pipeline (word2vec-style): adjacent-token bigrams scored by PMI
    * against corpus unigram counts, thresholded on support, global
    * top-k. PMI's ln is the only libm call and is applied to an exact
    * integer ratio then rounded at 6dp, so the ranking is
    * engine-exact. One explode pass each for unigrams and bigrams,
    * partial+final aggs, a global TakeOrdered for the top-k.
    */
  def collocations(docs: DataFrame, minCount: Long = 5L,
                   k: Int = 20): DataFrame = {
    val toked = fan(docs).select(split(col("text"), " ").as("ts"))
    val uni = toked.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // guard size>=2 BEFORE sequencing: Spark's sequence(1, 0) DESCENDS
    // to [1, 0] and element_at(ts, 0) throws — a single-token doc must
    // yield no bigrams (the oracle's generate_series(1, 0) is empty)
    val bg = toked.filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val nb = bg.agg(count(lit(1)).as("nbig"))
    val ua = uni.select(col("w").as("wa"), col("c").as("ca"))
    val ub = uni.select(col("w").as("wb"), col("c").as("cb"))
    bc.crossJoin(broadcast(nb))
      .join(ua, col("w1") === col("wa"))
      .join(ub, col("w2") === col("wb"))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log((col("c_ab") * col("nbig")).cast(DoubleType) /
                  (col("ca") * col("cb")).cast(DoubleType)), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Gopher-style repetition metrics per document (Rae et al., 2021
    * §A1.1 repetition filters; C4's boilerplate screens): distinct-
    * token ratio, most-frequent-token share, most-frequent-bigram
    * share, and the composite repetitive flag. All ratios are exact
    * integer divisions, so the floats — and the flag — are
    * bit-identical across engines. One explode + keyed aggs; no
    * self-joins.
    */
  def repetitionMetrics(docs: DataFrame,
                        maxTopTokenShare: Double = 0.2,
                        minDistinctRatio: Double = 0.3): DataFrame = {
    val toked = fan(docs).select(col("doc_id"), split(col("text"), " ").as("ts"))
    val tc = toked.select(col("doc_id"), explode(col("ts")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val uni = tc.groupBy("doc_id").agg(
      sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
      max(col("c")).as("top_c"))
    // same size>=2 guard as collocations: sequence(1, 0) DESCENDS
    val bc = toked.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"))
        .as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val big = bc.groupBy("doc_id").agg(
      max(col("c")).as("top_bc"), sum(col("c")).as("n_bigrams"))
    val distinctRatio = col("n_distinct").cast(DoubleType) / col("n_tokens")
    val topShare = col("top_c").cast(DoubleType) / col("n_tokens")
    val topBigramShare = when(col("n_bigrams") > 0,
      col("top_bc").cast(DoubleType) / col("n_bigrams"))
    uni.join(big, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        distinctRatio.as("distinct_ratio"),
        topShare.as("top_token_share"),
        topBigramShare.as("top_bigram_share"),
        (distinctRatio < minDistinctRatio || topShare > maxTopTokenShare)
          .as("is_repetitive"))
  }

  /** Overlapping-window document chunking (RAG/embedding-index
    * layout): fixed `size`-token chunks advancing by stride
    * size − overlap. Per document: chunk count and the final chunk's
    * fill — n_chunks = 1 + ⌈(n − size)/stride⌉ for n > size, else 1.
    * Pure per-row integer arithmetic (the ceil is
    * floor((n − size + stride − 1)/stride) in exact double division
    * of small ints).
    */
  def chunkPlan(docs: DataFrame, size: Int = 128,
                overlap: Int = 16): DataFrame = {
    require(overlap < size, "overlap must be smaller than the chunk size")
    val stride = size - overlap
    val n = org.apache.spark.sql.functions.size(split(col("text"), " "))
      .cast("long")
    val extraChunks = floor(
      (col("n_tokens") - size + (stride - 1)) / lit(stride.toDouble))
      .cast("long")
    docs.select(col("doc_id"), n.as("n_tokens"))
      .withColumn("n_chunks",
        when(col("n_tokens") <= size, 1L)
          .otherwise(lit(1L) + extraChunks))
      .withColumn("last_chunk_tokens",
        col("n_tokens") - (col("n_chunks") - 1) * stride)
  }

  /** Unigram-LM surprisal per document — the deterministic analog of
    * the KenLM-perplexity quality filter real pretraining pipelines
    * run (CCNet/RefinedWeb): score(doc) = mean over tokens of
    * −ln p(w) with p(w) the corpus unigram frequency. High average
    * surprisal = rare-token-heavy (gibberish or exotic) documents;
    * low = boilerplate. Cross-engine exactness: each token's
    * surprisal is ln of an exact integer ratio rounded at 6dp, and
    * the per-doc sum quantizes terms to BIGINT so the unordered sum
    * is order-independent. One explode, one vocabulary join, one
    * keyed agg.
    */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = fan(docs).select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val counts = tok.groupBy("w").agg(count(lit(1)).as("cw"))
    val total = tok.agg(count(lit(1)).as("n_corpus"))
    val term = round(log(col("n_corpus").cast(DoubleType) /
      col("cw").cast(DoubleType)), 6)
    val scaledSum = sum(round(term * lit(1.0e6)).cast("long"))
      .cast(DoubleType) / lit(1.0e6)
    tok.join(counts, "w").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), scaledSum.as("surprisal_sum"))
      .withColumn("avg_surprisal",
        col("surprisal_sum") / col("n_tokens"))
  }

  /** Bigram-LM surprisal per document — the second-order upgrade of
    * [[unigramSurprisal]] (a KenLM-style filter conditions on
    * context; a unigram model can't tell shuffled text from prose):
    * score(doc) = mean over bigrams of −ln p(w2|w1) with add-one
    * smoothing, p = (c12+1)/(c1+V). Bigrams form ROW-LOCALLY by
    * zipping the token array with its own tail — no shuffle until
    * the count aggregations. Cross-engine exactness: the ln of an
    * exact integer ratio is rounded at 6dp before the quantized
    * order-independent per-doc sum — the [[unigramSurprisal]]
    * contract. Shuffles: bigram counts, predecessor counts, the two
    * keyed count joins, final doc agg; V is a broadcast scalar.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val ts = split(col("text"), " ")
    val big = fan(docs).select(col("doc_id"),
      explode(zip_with(
        slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val un = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vsz = un.agg(count(lit(1)).as("v"))
    val term = round(log((col("c1") + col("v")).cast(DoubleType) /
      (col("c12") + lit(1L)).cast(DoubleType)), 6)
    val scaledSum = sum(round(term * lit(1.0e6)).cast("long"))
      .cast(DoubleType) / lit(1.0e6)
    big.join(bi, Seq("w1", "w2")).join(un, "w1")
      .crossJoin(broadcast(vsz))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), scaledSum.as("surprisal_sum"))
      .withColumn("avg_surprisal",
        col("surprisal_sum") / col("n_bigrams"))
  }

  /** Static domain-mixture reweighting (the Pile / DoReMi-style
    * mixture step): given the labeled domain (language here) shares
    * of the corpus, the per-domain sampling weight that hits a
    * UNIFORM target mixture is w_d = (N/k)/n_d — documents from
    * under-represented domains are up-sampled by that factor.
    * Exact integer ratios throughout; expected post-mix token mass
    * per domain is the exact product of the weight and the domain's
    * token count.
    */
  def domainMixture(docs: DataFrame): DataFrame = {
    val perDomain = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val totals = perDomain.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("k_domains"))
    perDomain.crossJoin(broadcast(totals))
      .withColumn("share",
        col("n_docs").cast(DoubleType) / col("n_total"))
      .withColumn("weight",
        (col("n_total").cast(DoubleType) / col("k_domains")) / col("n_docs"))
      .withColumn("expected_tokens",
        col("weight") * col("n_tokens"))
  }

  /** Temperature-scaled source sampling (the multilingual-corpus
    * mixing rule, α = 1/2): each source's sampling probability is
    * proportional to its token mass raised to a temperature
    * exponent — α < 1 flattens the mixture so long-tail sources are
    * seen more than their raw share, without going fully uniform
    * (the [[domainMixture]] limit α = 0). α is pinned at 1/2 so the
    * power is `sqrt` — IEEE-correctly-rounded in every engine,
    * unlike a general `pow` which may differ by an ulp across libm
    * implementations. Each √mass is quantized to a scaled BIGINT
    * before the cross-source total (the [[dsirWeights]] discipline),
    * so the normalizing sum is integer-exact regardless of
    * association order, and the final weight / effective-epochs
    * divisions act on identical operands in both engines.
    *
    * Output per source: raw counts, the temperature weight, and the
    * effective epoch count — how many times the source would be
    * cycled if `budgetTokens` were drawn at the mixed rates (>1
    * means the source repeats; the signal the mixing literature caps).
    *
    * Scale shape: one groupBy(source) over a single corpus scan and
    * a broadcast one-row total — no other shuffle at any corpus size.
    */
  def temperatureMix(docs: DataFrame, budgetTokens: Long = 100000L)
      : DataFrame = {
    val per = fan(docs).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("n_tokens"))
      .withColumn("q_sqrt",
        round(sqrt(col("n_tokens").cast(DoubleType)) * lit(1000000.0), 0)
          .cast("long"))
    val tot = per.agg(sum(col("q_sqrt")).as("q_total"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("q_sqrt").cast(DoubleType) / col("q_total").cast(DoubleType))
          .as("weight"),
        (lit(budgetTokens.toDouble)
          * (col("q_sqrt").cast(DoubleType) / col("q_total").cast(DoubleType))
          / col("n_tokens").cast(DoubleType)).as("epochs"))
  }

  /** Per-source EXACT length-quantile profile — the curation
    * statistic that drives per-source length filters and packing
    * budgets: for every source, the exact p50/p90 token lengths
    * (rank-selection convention: the value at rank ⌈q·n⌉ of the
    * (n_tok, doc_id)-ordered source), plus min/max and the doc
    * count. Pure integers end to end — the quantile is a SELECTED
    * row value, never an interpolation — so any engine agrees
    * bit-for-bit.
    *
    * Scale shape: the per-source rank is [[graft.operators.Layout
    * .keyedRank]] (range-partition + map-side offsets) — NEVER a
    * per-source window, which would put an entire source in one
    * task (the qualityPrune straggler shape). The rank pass also
    * carries the per-source count, so the whole profile is ONE
    * range exchange + one tiny counts job + broadcast-sized joins
    * of the two selected-rank rows per source.
    */
  def sourceLengthProfile(docs: DataFrame): DataFrame = {
    val base = fan(docs).select(col("source"), col("doc_id"),
      size(toks).cast("long").as("n_tok"))
    // tracked cache: the ranked view feeds the aggregate + two picks
    val ranked = OperatorCaches.track(graft.operators.Layout.keyedRank(
      base, "source", Seq(col("n_tok"), col("doc_id")), "rnk", "n"))
    val agg = ranked.groupBy("source").agg(
      max(col("n")).as("n_docs"),
      min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
    val p50 = ranked.filter(col("rnk") === expr("(n + 1) div 2"))
      .select(col("source"), col("n_tok").as("p50_tok"))
    val p90 = ranked.filter(col("rnk") === expr("(n * 9 + 9) div 10"))
      .select(col("source"), col("n_tok").as("p90_tok"))
    agg.join(p50, "source").join(p90, "source")
      .select(col("source"), col("n_docs"), col("min_tok"),
        col("p50_tok"), col("p90_tok"), col("max_tok"))
  }

  /** Budget-capped per-domain selection — the mixture-curation step
    * that turns a target mix into a concrete document list: within
    * each domain (lang), documents are taken greedily in a
    * deterministic preference order (longest first, doc_id tiebreak)
    * until the domain's token budget is exhausted; a document that
    * would overflow the budget is dropped, as are all after it.
    * The running token sum is [[Layout.keyedPrefixSum]]'s two-phase
    * form, NOT a domain-keyed window: the window spelling puts an
    * entire domain in one task — at 100 TB with a handful of
    * domains that is a single-task sort per domain (the same
    * straggler shape qualityPrune refused). Integer-only arithmetic
    * throughout — exact in any engine.
    */
  def budgetSelect(docs: DataFrame, budgetTokens: Long = 2000L)
      : DataFrame = {
    val base = fan(docs)
      .select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tok"))
    graft.operators.Layout
      .keyedPrefixSum(base, "lang",
        Seq(col("n_tok").desc, col("doc_id")), "n_tok", "cum_tok")
      .filter(col("cum_tok") <= budgetTokens)
  }

  /** DSIR-weighted selection with per-source floors — the step that
    * turns [[dsirWeights]] scores into a concrete training list the
    * way production mixtures do: every source is guaranteed its
    * `floorPerSource` best documents (by weight desc, doc_id
    * tiebreak — a floor keeps minority domains from being starved by
    * a target-heavy head), then the remaining global `budget` is
    * filled with the best-scoring documents regardless of source.
    * Floors are honored even when they alone exceed `budget` (the
    * caller set contradictory knobs; starving a source silently
    * would be worse). Output: the selected docs with their weight
    * and which rule admitted them (`picked_via` = floor | fill).
    *
    * Scale shape: per-source rank is [[Layout.keyedRank]] and the
    * global fill rank is [[Layout.prefixSum]] — both two-phase
    * range-partitioned ranks, never a source-keyed or global window
    * (the qualityPrune/packSequences straggler shapes). The floor
    * count crossing into the fill filter is ONE broadcast scalar.
    * Weight ordering is deterministic cross-engine: the doubles are
    * the bit-exact scaled-BIGINT sums dsirWeights already
    * guarantees, ties broken by doc_id.
    */
  def dsirSelect(docs: DataFrame, targetPred: Column,
                 budget: Long = 300L, floorPerSource: Long = 10L,
                 buckets: Int = 64): DataFrame = {
    val w = OperatorCaches.track(
      dsirWeights(docs, targetPred, buckets)
        .join(fan(docs).select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"), col("log_weight")))
    val ranked = OperatorCaches.track(graft.operators.Layout.keyedRank(
      w, "source", Seq(col("log_weight").desc, col("doc_id")),
      "rnk", "n_src"))
    val floor = ranked.filter(col("rnk") <= floorPerSource)
    val nFloor = floor.agg(count(lit(1)).as("n_floor"))
    val rest = ranked.filter(col("rnk") > floorPerSource)
      .withColumn("neg_w", -col("log_weight"))
      .withColumn("one", lit(1L))
    val fill = graft.operators.Layout
      .prefixSum(rest, Seq("neg_w", "doc_id"), "one", "grk")
      .crossJoin(broadcast(nFloor))
      .filter(col("grk") + col("n_floor") <= budget)
    floor.select(col("doc_id"), col("source"), col("log_weight"),
        lit("floor").as("picked_via"))
      .unionAll(fill.select(col("doc_id"), col("source"),
        col("log_weight"), lit("fill").as("picked_via")))
  }

  /** Vocabulary coverage truncation — the BPE-style "smallest vocab
    * covering p of the token mass" cut: tokens in frequency order
    * (ties by token) are kept while the RUNNING mass stays within
    * `coverNum/coverDen` of the total (95% default). The running
    * total is [[Layout.prefixSum]] — the distributed two-phase rank,
    * NEVER a single-partition window over the whole vocabulary (a
    * 10⁷-type vocab would funnel to one task under the window
    * spelling; same trap the tokenizer vocab build avoids). The
    * coverage test is pure integer cross-multiplication
    * (den·cum ≤ num·total) — exact in any engine; the reported share
    * is the long/long double division, also exact.
    */
  def vocabCoverage(docs: DataFrame, coverNum: Long = 19L,
                    coverDen: Long = 20L): DataFrame = {
    val counts = fan(docs)
      .select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      // ascending sort key = descending frequency (prefixSum sorts asc)
      .withColumn("neg_n", -col("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    graft.operators.Layout
      .prefixSum(counts, Seq("neg_n", "tok"), "n", outCol = "cum_n")
      .crossJoin(broadcast(total))
      .filter(col("cum_n") * lit(coverDen) <= col("total") * lit(coverNum))
      .select(col("tok"), col("n"), col("cum_n"),
        (col("cum_n").cast(DoubleType) / col("total").cast(DoubleType))
          .as("cum_share"))
  }

  /** Sequence packing (concat-then-chunk): documents are concatenated
    * in id order into one token stream that is cut into fixed
    * `budget`-token context windows — the standard LLM-pretraining
    * packing layout. Per document: its token count, the window its
    * first token lands in, the window its last token lands in, and
    * how many windows it spans. All integer arithmetic over one
    * running-sum window — exact in any engine.
    *
    * == Scale: shard the window (r13 verdict #3) ==
    * With `shardCol = None` the running sum is a single global
    * ORDER BY doc_id — an unpartitioned WindowExec that funnels the
    * corpus through ONE task. That spelling exists ONLY as the
    * oracle-comparable gate configuration at test SFs. Production
    * packing passes `shardCol = Some(col)`: the column lands in the
    * window's partitionBy, window ids restart at 0 WITHIN each shard
    * (windows never cross shards in real pipelines — each shard is an
    * independent token stream), and the shard column is kept in the
    * output. Per-shard output is IDENTICAL to running the global form
    * on that shard's documents alone (PlanSpec pins both the parity
    * and the absence of an unpartitioned WindowExec in the sharded
    * plan).
    */
  def packSequences(docs: DataFrame, budget: Int = 512,
                    shardCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = shardCol match {
      case Some(s) => Window.partitionBy(col(s)).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      case None => Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    }
    val n = size(split(col("text"), " ")).cast("long")
    val b = lit(budget.toDouble)
    val keep = shardCol.map(col).toSeq
    docs.select(keep ++ Seq(col("doc_id"), n.as("n_tokens")): _*)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(keep ++ Seq(col("doc_id"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / b).cast("long")
          .as("start_window"),
        floor((col("cum") - 1) / b).cast("long").as("end_window")): _*)
      .withColumn("n_windows",
        col("end_window") - col("start_window") + 1)
  }

  /** VOCABULARY ENCODE — the tokenize-to-ids pass every training run
    * ends with: build a frequency vocabulary (top `vocabSize` tokens,
    * count desc / token asc — deterministic), broadcast it, and map
    * each document's token stream to ids (OOV → 0). The corpus never
    * shuffles: one explode for the vocab count (partial-agg'd), one
    * posexplode + broadcast hash join for the encode. Output is long
    * form (doc_id, pos, token_id) — scalar rows, resumable, and the
    * shape a sequence-packing pass consumes.
    */
  def vocabEncode(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = fan(docs).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    // orderBy+limit BEFORE ranking: Spark plans it as
    // TakeOrderedAndProject — every partition keeps its local
    // top-vocabSize and only those merge — where a bare
    // row_number window would shuffle EVERY distinct token of a
    // 100 TB corpus into one partition just to discard all but
    // `vocabSize`. The window then ranks only the kept rows: it is
    // unpartitioned by design over at most `vocabSize` rows, so Spark's
    // single-partition window warning here is not actionable (PlanSpec
    // pins the bound).
    val top = tok.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabSize)
    val vocab = top.withColumn("token_id", row_number().over(
        Window.orderBy(col("n").desc, col("tok"))))
      .select(col("tok"), col("token_id"))
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(0)).as("token_id"))
  }

  /** LENGTH-BUCKETED BATCHING PLAN — the dynamic-batching prep step:
    * bucket documents by token-length power of two, and per bucket
    * report the document count, token mass, and how many fixed-size
    * batches the bucket fills. Buckets are exact integer log2 via
    * bit length (never floor(log2) — libm), one groupBy, output
    * bounded by the bucket count.
    */
  def lengthBuckets(docs: DataFrame, batchSize: Int = 32): DataFrame = {
    val n = size(split(col("text"), " ")).cast("long")
    // power-of-two bucket = biggest j ≤ 20 with 2^j <= n — an exact
    // integer when-chain (never floor(log2): libm). Ascending fold so
    // the OUTERMOST branch tests the largest power first.
    val bucket = (0 to 20).foldLeft(lit(-1)) { (acc, j) =>
      when(n >= lit(1L << j), lit(j)).otherwise(acc)
    }
    fan(docs).select(bucket.as("len_bucket"), n.as("n_tokens"))
      .groupBy("len_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        ceil(count(lit(1)).cast("double") / batchSize).as("n_batches"))
  }

  /** SHARD PACKING PLAN — assign documents, in deterministic doc_id
    * order, to fixed-token-budget output shards: shard_id = exclusive
    * running token total DIV budget. Semantically the shard half of
    * [[packSequences]], but spelled scale-safe: the running total
    * comes from [[Layout.prefixSum]] (range-partitioned two-phase
    * rank), not a single-task global window — this is the form that
    * plans a 100 TB corpus into shards.
    */
  def shardPlan(docs: DataFrame, budget: Long = 2048): DataFrame = {
    val withTok = fan(docs).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    Layout.prefixSum(withTok, Seq("doc_id"), "n_tokens", "running_tokens")
      .select(col("doc_id"), col("n_tokens"), col("running_tokens"),
        ((col("running_tokens") - col("n_tokens")) / lit(budget))
          .cast("long").as("shard_id"))
  }

  /** DSIR-style data-selection weights (Xie et al., 2023): score every
    * document by how much more likely its hashed-unigram bag is under
    * the TARGET distribution (rows matching `targetPred`) than under
    * the RAW corpus distribution. log w(x) = Σ_b c_b(x)·ln(p_t(b)/p_r(b))
    * with Laplace-smoothed bucket probabilities over `buckets`
    * md5-hashed token slots (the same hashing trick as
    * [[FeatureEng.hashedFeatures]]).
    *
    * Cross-engine exactness: each bucket's log-ratio is quantized ONCE
    * to a scaled BIGINT (round(ln·10⁶) — the established libm
    * playbook), so the per-document weighted sum is pure int64
    * arithmetic: order-independent, bit-identical in any engine, and
    * `target_like` is an integer-sign test. The bucket-stats side is
    * tiny (≤`buckets` rows) and broadcasts; the corpus side is one
    * explode + two keyed aggregations — no self-join, no collect.
    * Production DSIR resamples with probability ∝ w(x); emitting the
    * log-weight keeps the operator deterministic and lets the sampler
    * downstream draw with any temperature.
    *
    * `buckets` ≤ 256: the native [[graft.plans.Md5Bucket]] kernel
    * buckets on the digest's FIRST BYTE, a hard 256-value ceiling it
    * rejects at analysis time (the pre-r13 hex-nibble spelling
    * computed a degenerate-but-defined result above 256 — that was a
    * trap, not a feature). Checked eagerly here so the caller gets
    * the limit by name, not a deep analysis error (r13 ADVICE).
    */
  def dsirWeights(docs: DataFrame, targetPred: Column,
                  buckets: Int = 64): DataFrame = {
    require(buckets >= 1 && buckets <= 256,
      s"dsirWeights buckets must be in [1, 256] (Md5Bucket hashes on " +
        s"the first digest byte), got $buckets")
    // native one-digest bucket kernel — value-identical to the
    // md5-hex + two-nibble-parse spelling the oracle keeps (the first
    // digest byte IS nibble(hex[0])·16 + nibble(hex[1]))
    val tok = fan(docs)
      .select(col("doc_id"), targetPred.as("is_target"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("bucket", graft.plans.Md5Bucket(col("tok"), buckets))
      .select(col("doc_id"), col("is_target"), col("bucket"))
    val withB = OperatorCaches.track(tok)
    val stats = withB.groupBy("bucket").agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("n_tgt"))
    val tot = stats.agg(sum(col("n_raw")).as("t_raw"),
      sum(col("n_tgt")).as("t_tgt"), count(lit(1)).as("k"))
    val pT = (col("n_tgt") + 1).cast(DoubleType) / (col("t_tgt") + col("k"))
    val pR = (col("n_raw") + 1).cast(DoubleType) / (col("t_raw") + col("k"))
    val ratio = stats.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log(pT / pR) * lit(1000000.0), 0).cast("long").as("lri"))
    val perDoc = withB.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    perDoc.join(broadcast(ratio), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        (sum(col("c") * col("lri")).cast(DoubleType) / lit(1000000.0))
          .as("log_weight"),
        (sum(col("c") * col("lri")) > 0L).as("target_like"))
  }

  /** Document fingerprint: min md5 over all 8-char rolling windows
    * (winnowing-style content fingerprint, rolling-hash analog).
    */
  def fingerprint(docs: DataFrame, k: Int = 8): DataFrame =
    fan(docs)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - (k - 1), lit(1)))).as("i"))
      .select(col("doc_id"),
        md5(expr(s"substr(text, i, $k)")).as("h"))
      .groupBy("doc_id").agg(min(col("h")).as("fingerprint"))

  /** WINNOWING fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
    * algorithm): hash every `k`-char window of the document, slide a
    * `w`-hash window over those positions, and select each window's
    * MINIMUM hash; the distinct selected hashes are the document's
    * fingerprint set. Guarantee: any shared substring of length
    * ≥ k + w − 1 between two documents yields at least one shared
    * fingerprint — the set form of [[fingerprint]] (which keeps only
    * the single global min and so can only attest whole-doc
    * similarity). Expected density 2/(w+1) of positions selected, so
    * the output is ~|text|·2/(w+1) rows per doc regardless of corpus
    * size. Classic winnowing breaks ties toward the rightmost
    * position; selecting DISTINCT min hashes makes the tie rule
    * immaterial (both engines keep one row per hash value).
    *
    * Scale shape: one position explode, one doc-bounded window min
    * (partition key doc_id — bounded by a single document's length,
    * never the corpus), one distinct. Documents shorter than
    * k + w − 1 chars have no full hash window and emit nothing.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 10)
      : DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(0, w - 1)
    fan(docs)
      .select(col("doc_id"), col("text"),
        (length(col("text")) - (k - 1)).as("npos"))
      .filter(col("npos") >= w)
      .select(col("doc_id"), col("npos"),
        explode(sequence(lit(1), col("npos"))).as("i"), col("text"))
      .select(col("doc_id"), col("npos"), col("i"),
        md5(expr(s"substr(text, i, $k)")).as("h"))
      .select(col("doc_id"), col("npos"), col("i"),
        min(col("h")).over(win).as("fp"))
      // full windows only: the trailing < w positions are covered by
      // earlier windows (every position belongs to w windows)
      .filter(col("i") <= col("npos") - (w - 1))
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** Winnowing OVERLAP pairs — the MOSS use case on top of
    * [[winnowFingerprints]]: two documents sharing ≥ `minShared`
    * selected fingerprints share (with the winnowing guarantee)
    * substrings of length ≥ k+w−1 — the plagiarism/boilerplate-pair
    * detector that works on raw character overlap where the shingle
    * family needs token alignment. Fingerprints seen in more than
    * `maxDocFreq` documents are dropped before pairing (ubiquitous
    * boilerplate would otherwise quadratically pair everything — the
    * same df cap as [[Dedup.shingles]]), so the self-join volume is
    * Σ_rare-fp df² with df ≤ cap, never corpus².
    *
    * Sensitivity note (r13 ADVICE): the winnowing guarantee promises
    * ≥ 1 shared fingerprint for a shared substring of length exactly
    * k+w−1, so at the default `minShared = 2` a MINIMAL-length
    * overlap can be missed — the effective guarantee at the default
    * is roughly two windows' worth of shared text (length ≳
    * k + 3w/2, since selected fingerprints land every ~(w+1)/2
    * positions in expectation). Pass `minShared = 1` when
    * minimal-overlap detection matters more than pair noise.
    */
  def winnowOverlap(docs: DataFrame, k: Int = 8, w: Int = 10,
                    minShared: Long = 2, maxDocFreq: Long = 100)
      : DataFrame = {
    val fps = OperatorCaches.track(winnowFingerprints(docs, k, w))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
    val pruned = OperatorCaches.track(
      fps.join(rare, "fp").select("doc_id", "fp"))
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** EVAL-SPLIT CONTAMINATION LIST — the actionable form of the
    * split-integrity audits: every val/test document that shares
    * ≥ `minShared` winnowing fingerprints (character-level overlap,
    * the MOSS guarantee — see [[winnowOverlap]]) with ANY train
    * document, with how many train partners and how much shared
    * fingerprint mass. [[splitLeakage]] flags leaky near-dup
    * CLUSTERS; this lists the eval DOCS to scrub or re-split, which
    * is what a pipeline actually consumes. Pairing is
    * [[winnowOverlap]] verbatim (shared tail, so the df cap and
    * guarantee carry over); splits are the house salted-hash
    * assignment ([[datasetSplit]]'s exact rule).
    *
    * Scale shape: the overlap pass dominates (df-capped pair volume,
    * never corpus²); the split tagging is row-local hash arithmetic
    * on the pair list and the final aggregate is keyed by the
    * (small) contaminated-doc set.
    */
  def evalContamination(docs: DataFrame, k: Int = 8, w: Int = 10,
                        minShared: Long = 2, maxDocFreq: Long = 100)
      : DataFrame = {
    val pairs = winnowOverlap(docs, k, w, minShared, maxDocFreq)
      .withColumn("split_a", splitHash(col("doc_a")))
      .withColumn("split_b", splitHash(col("doc_b")))
    val evalA = pairs
      .filter(col("split_a") =!= "train" && col("split_b") === "train")
      .select(col("doc_a").as("doc_id"), col("split_a").as("split"),
        col("n_shared"))
    val evalB = pairs
      .filter(col("split_b") =!= "train" && col("split_a") === "train")
      .select(col("doc_b").as("doc_id"), col("split_b").as("split"),
        col("n_shared"))
    evalA.unionAll(evalB).groupBy("doc_id", "split")
      .agg(count(lit(1)).as("n_train_partners"),
        sum(col("n_shared")).as("total_shared"))
  }

  /** Corpus-wide frequent n-grams per source — the heavy-hitter scan
    * a curation pass runs to find boilerplate and template text:
    * count EVERY occurrence (not the dedup family's per-doc distinct
    * sets) of each word `n`-gram within each source, and keep the
    * top `k` by (count desc, gram asc — a total order, so ranks are
    * deterministic). The per-source rank is [[Layout.keyedRank]]'s
    * two-phase range-partitioned form, NOT a source-keyed window: a
    * handful of sources at 100 TB would otherwise each sort in one
    * task.
    */
  def topNgramsBySource(docs: DataFrame, n: Int = 2, k: Int = 5)
      : DataFrame = {
    val grams = fan(docs)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(when(size(col("toks")) >= n,
        expr(s"""transform(sequence(1, size(toks) - ${n - 1}),
                |  i -> concat_ws(' ', slice(toks, i, $n)))""".stripMargin))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy("source", "gram").agg(count(lit(1)).as("cnt"))
    graft.operators.Layout.keyedRank(grams, "source",
        Seq(col("cnt").desc, col("gram")), "rnk", "src_n")
      .filter(col("rnk") <= k)
      .select(col("source"), col("gram"), col("cnt"),
        col("rnk").as("rank"))
  }

  /** BPE TOKENIZER TRAINING (Sennrich et al., ACL 2016) — learn the
    * top `rounds` byte-pair merges from the corpus: start from
    * characters, repeatedly find the most frequent adjacent token
    * pair (weighted by word frequency) and merge it greedily
    * left-to-right everywhere. Output: one row per learned merge
    * (round, lft, rgt, cnt) — the merge table IS the tokenizer.
    *
    * Determinism: the argmax breaks ties (count desc, lft asc,
    * rgt asc); the greedy left-to-right merge is computed by a CLOSED
    * FORM instead of a sequential fold — a position is a merge site
    * iff it matches the pair AND, when lft = rgt (the only case where
    * matches can overlap), its position within the run of consecutive
    * `lft` tokens is odd. Run-parity is one window expression, so the
    * merge pass is identical SQL in any engine (the fold spelling is
    * not portable). DocOpsSpec pins the closed form against hand
    * merges including odd/even same-char runs.
    *
    * Scale shape — the classic BPE-on-frequency-table optimization:
    * ONE corpus scan builds the (word, count) vocabulary; every round
    * then runs on the VOCAB (pair count + argmax + merge rewrite),
    * whose size is corpus-independent past saturation. Per round: one
    * word-keyed window pass (partitions bounded by word length) and
    * one SINGLE-ROW argmax collect (the k-center discipline — never a
    * corpus collect). At 100 TB the corpus is touched once.
    */
  def bpeTrain(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeCore(docs, rounds)._1.toDF("round", "lft", "rgt", "cnt")
  }

  /** BPE ENCODE — apply the corpus-trained merges back to the corpus
    * (the standard self-tokenization loop): per document, the
    * whitespace word count, the BPE token count after `rounds`
    * learned merges, total characters, and the chars-per-token
    * compression ratio — the fertility metric a tokenizer drop is
    * judged by. Pure integer counts; the ratio is one int/int
    * division (bit-identical anywhere).
    *
    * Scale shape: training is [[bpeTrain]]'s (corpus scanned once);
    * encoding joins the corpus's word explode against the
    * VOCAB-sized (word → token count) table — broadcastable at any
    * corpus size — and aggregates per doc. Words under 2 chars are
    * not in the vocab (no pair to merge): they count as one token
    * per character, i.e. 1 for a 1-char word, 0 for the empty word
    * a double space produces.
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val wordTok = bpeCore(docs, rounds)._2
      .groupBy("word").agg(count(lit(1)).as("n_tok"))
    fan(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(wordTok), Seq("word"), "left")
      .groupBy("doc_id").agg(
        sum(when(length(col("word")) >= 1, 1L).otherwise(0L))
          .as("n_words"),
        sum(coalesce(col("n_tok"), length(col("word")).cast("long")))
          .as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        col("n_chars"),
        when(col("n_bpe_tokens") > 0, col("n_chars").cast(DoubleType) /
          col("n_bpe_tokens")).as("chars_per_token"))
  }

  /** Shared BPE trainer core: (learned merges, final merged vocab
    * sequence frame (word, wcnt, pos, tok)).
    */
  private def bpeCore(docs: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy("word").orderBy("pos")
    val runWin = wWin.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val words = fan(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
    var seq = OperatorCaches.track(words
      .select(col("word"), col("wcnt"), posexplode(expr(
        "transform(sequence(1, length(word)), i -> substr(word, i, 1))")))
      .select(col("word"), col("wcnt"),
        (col("pos") + 1).as("pos"), col("col").as("tok")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = seq
        .withColumn("nxt", lead(col("tok"), 1).over(wWin))
        .filter(col("nxt").isNotNull)
        .groupBy(col("tok").as("lft"), col("nxt").as("rgt"))
        .agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("lft"), col("rgt"))
        .limit(1).collect() // single-row argmax, never a corpus collect
      if (best.isEmpty) exhausted = true
      else {
        val (l, g, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, l, g, c))
        val runpos = col("pos") - coalesce(
          max(when(col("tok") =!= l, col("pos"))).over(runWin), lit(0))
        val nxt = lead(col("tok"), 1).over(wWin)
        val site = coalesce(
          if (l == g) col("tok") === l && nxt === l && runpos % 2 === 1
          else col("tok") === l && nxt === g, lit(false))
        seq = OperatorCaches.track(seq
          .withColumn("site", site)
          .withColumn("consumed",
            coalesce(lag(col("site"), 1).over(wWin), lit(false)))
          .filter(!col("consumed"))
          .withColumn("tok",
            when(col("site"), lit(l + g)).otherwise(col("tok")))
          .withColumn("pos", row_number().over(wWin))
          .select("word", "wcnt", "pos", "tok"))
      }
      r += 1
    }
    (merges.toSeq, seq)
  }

  /** Deterministic MLM masking prep — the corpus-to-training-example
    * transform: token at position `i` of document `d` is replaced by
    * `[MASK]` when the md5 of "d:i:token" lands under `pct` in its
    * first-byte bucket (hash-coin, not RNG: re-runs, retries, and
    * any engine reproduce the identical masking — the determinism
    * discipline of [[dataSplit]]'s salted-hash assignment applied at
    * token granularity). Entirely row-local column algebra: ZERO
    * shuffles, whole-stage codegen end to end — at 100 TB this is a
    * pure map over the scan.
    */
  def maskTokens(docs: DataFrame, pct: Int = 15): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be 0..100, got $pct")
    // first md5 byte mod 100 — the established cross-engine
    // hash-bucket value (hashedFeatures, dsirWeights), computed by
    // the native one-digest kernel; the oracle keeps the equivalent
    // md5-hex + nibble-parse spelling
    fan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("toks"))), i =>
          when(graft.plans.Md5Bucket(
            concat(col("doc_id"), lit(":"), i, lit(":"),
              element_at(col("toks"), i)), 100) < pct, lit("[MASK]"))
            .otherwise(element_at(col("toks"), i))).as("mtoks"),
        size(col("toks")).cast("long").as("n_tokens"))
      .select(col("doc_id"),
        concat_ws(" ", col("mtoks")).as("masked_text"),
        col("n_tokens"),
        size(filter(col("mtoks"), t => t === "[MASK]")).cast("long")
          .as("n_masked"))
  }
}
