package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — the similarity-search leg of the
  * training-data-pipeline operators.
  *
  * The dot product is built as a fixed left-associated 64-term double
  * expression (floats upcast first), so the cosine doubles — and
  * therefore rankings — are bit-identical to the DuckDB oracle's
  * identically-shaped SQL. No UDF: the whole kernel stays inside
  * whole-stage codegen.
  *
  * Scale path: brute force is O(Q·N·dim) and fine when Q is small or
  * N fits a broadcast; the LSH variant buckets by sign bits so each
  * query only scans N/2^bits candidates — the standard
  * recall-for-throughput trade, with buckets as a plain equi-join key
  * (no shuffle beyond the join).
  */
object Similarity {
  val Dim = 64

  /** Shipped IVF-family defaults, shared by every entry point AND by
    * the ladder/curve hoists (r16 ADVICE): the hoisted pivot/book/
    * encode frames must always be built at the same parameters the
    * standalone rung queries default to — referencing one constant
    * makes a future default change land in both places or neither.
    */
  val DefaultNlist = 16
  val DefaultKsub = 16
  val DefaultMsub = 8

  /** Upcast array<float> → array<double> (exact). */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Left-associated Σ a[i]·b[i] — a NATIVE codegen loop
    * ([[graft.plans.DotProduct]]).
    *
    * History of this kernel: an unrolled 64-term expression generates
    * a ~40 KB Java method — past HotSpot's 8 KB JIT limit, so the
    * pair kernel ran INTERPRETED (~88 µs/pair measured). The
    * zip_with+aggregate fold fixed that (~6× faster end-to-end) but
    * still allocates an intermediate 64-element array per pair and
    * dispatches HOF lambdas. The native expression emits one fused
    * JIT-compilable loop: no allocation, no dispatch. All three
    * spellings are bit-identical to the oracle's explicit
    * `a[1]*b[1] + … + a[64]*b[64]` chain: same left association, and
    * the 0.0 seed is exact (0.0 + x == x) except when every product
    * is literally -0.0 — impossible for real embeddings.
    * [[dotFold]] keeps the HOF form as the parity baseline.
    */
  def dot(a: Column, b: Column, dim: Int = Dim): Column =
    graft.plans.DotProduct(a, b)

  /** The higher-order-function spelling of [[dot]], kept as the
    * cross-checked baseline (CatalystSpec pins dot ≡ dotFold).
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column, dim: Int = Dim): Column = sqrt(dot(a, a, dim))

  def cosine(a: Column, b: Column, dim: Int = Dim): Column =
    dot(a, b, dim) / (norm(a, dim) * norm(b, dim))

  /** Per-vector projection with the norm computed once — factoring
    * sqrt(Σv²) out of the pair loop is IEEE-value-identical to
    * recomputing it per pair (same ops on the same operands), so the
    * oracle stays bit-exact while the pair kernel drops from 3 dot
    * products to 1.
    */
  private[graft] def prepared(embeddings: DataFrame, dim: Int): DataFrame =
    graft.sources.Par.fan(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v"), dim))

  private[graft] def pairCos(qv: Column, qn: Column, v: Column, n: Column,
                      dim: Int): Column =
    dot(qv, v, dim) / (qn * n)

  /** Brute-force cosine top-k for a query subset (the correctness
    * baseline): rank by raw cosine (bit-exact), tie-break on id.
    */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column,
                     k: Int, dim: Int = Dim): DataFrame =
    // cached: consumed twice (query side + candidate side);
    // registered with OperatorCaches for caller-side release
    bruteForceOn(OperatorCaches.track(prepared(embeddings, dim)),
      queryPred, k, dim)

  /** [[bruteForceTopK]] over an already-[[prepared]] corpus. */
  private def bruteForceOn(all: DataFrame, queryPred: Column, k: Int,
                           dim: Int): DataFrame =
    exactRerank(notSelf(queriesOf(all, queryPred).crossJoin(all)), k, dim)

  /** (query_id, qv, qnrm): the query side of every cosine search. */
  private def queriesOf(all: DataFrame, queryPred: Column): DataFrame =
    all.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("nrm").as("qnrm"))

  /** Drop self matches; name the corpus side `neighbor_id`. */
  private def notSelf(pairs: DataFrame): DataFrame =
    pairs.filter(col("vec_id") =!= col("query_id"))
      .withColumnRenamed("vec_id", "neighbor_id")

  /** Sign-bit LSH bucket over the first `bits` dimensions. */
  def signBucket(v: Column, bits: Int = 8): Column =
    (1 to bits).map(i =>
      when(element_at(v, i) > 0, 1L << (i - 1)).otherwise(0L)).reduce(_ + _)

  /** LSH-bucketed ANN: candidates restricted to the query's sign
    * bucket. Same output shape as [[bruteForceTopK]]; recall < 1 by
    * design (documented scale path).
    */
  def lshTopK(embeddings: DataFrame, queryPred: Column, k: Int,
              bits: Int = 8, dim: Int = Dim): DataFrame =
    lshOn(prepared(embeddings, dim), queryPred, k, bits, dim)

  /** [[lshTopK]] over a [[prepared]] corpus (bucketed view cached). */
  private def lshOn(prepared: DataFrame, queryPred: Column, k: Int,
                    bits: Int, dim: Int): DataFrame = {
    val all = OperatorCaches.track(
      prepared.withColumn("bkt", signBucket(col("v"), bits)))
    val q = all.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("nrm").as("qnrm"), col("bkt").as("qbkt"))
    exactRerank(notSelf(q.join(all, col("bkt") === col("qbkt"))), k, dim)
  }

  /** Codebook sizing for the within-cluster self-join operators
    * ([[semDedup]], [[knnGraph]]): nlist = max(16, ⌈√N⌉). With a FIXED
    * codebook, cluster mass grows linearly with the corpus and the
    * within-cluster pair volume Σ|cluster|² grows QUADRATICALLY — the
    * one scale trap the round-12 audit flagged. √N keeps expected
    * cluster size at √N, so pair volume stays ~N·√N/nlist ≈ N:
    * sub-quadratic by construction at any corpus size (the published
    * SemDeDup sizing — 10k–100k clusters at web scale — is exactly
    * this rule). Callers needing a reproducible oracle at a pinned SF
    * pass an explicit nlist instead (the gate queries pin 16).
    */
  def ivfAutoNlist(n: Long): Int =
    math.max(16L, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toLong)
      .min(Int.MaxValue.toLong).toInt

  /** Resolve an nlist argument: ≤0 means auto-size from ONE cheap
    * count of the corpus (a column-pruned scan — at 100 TB this is a
    * metadata-cheap parquet count, never a shuffle).
    */
  private def resolveNlist(all: DataFrame, nlist: Int): Int =
    if (nlist > 0) nlist else ivfAutoNlist(all.count())

  /** The codebook as ONE broadcast-able array row — the first `nlist`
    * corpus vectors as pivots (a trained k-means codebook plugs into
    * the same single-row shape). Exposed to [[graft.streaming.StreamAnn]],
    * which freezes this frame at build time and assigns every later
    * batch against it.
    */
  private[graft] def pivotArr(all: DataFrame, nlist: Int): DataFrame =
    all.filter(col("vec_id") < nlist)
      .agg(collect_list(struct(col("vec_id").as("pid"), col("v").as("pv"),
        col("nrm").as("pn"))).as("parr"))

  /** The caller's pivots, or the default ones as a tracked cache (r16
    * verdict #6): uncached, each pivot broadcast re-runs the agg.
    */
  private def pivotsOr(pivotsOpt: Option[DataFrame], all: DataFrame,
                       nlist: Int): DataFrame =
    pivotsOpt.getOrElse(OperatorCaches.track(pivotArr(all, nlist)))

  /** Row-local pivot scoring against an explicit codebook frame (see
    * [[pivotArr]]); adds a `pcs` array of (pcos, -pid) structs so
    * max/sort-desc tiebreak toward the smallest pid.
    */
  private[graft] def pivotScoredBy(src: DataFrame, pivots: DataFrame,
                                   dim: Int): DataFrame =
    src.crossJoin(broadcast(pivots))
      .withColumn("pcs", transform(col("parr"), p =>
        struct((dot(col("v"), p("pv"), dim) / (col("nrm") * p("pn")))
                 .as("pcos"),
               (lit(0L) - p("pid")).as("npid"))))
      .drop("parr")

  /** Vectors → (vec_id, v, nrm, list_id, best_cos): each assigned to
    * its max-cosine pivot of the given codebook, all row-local.
    * `best_cos` is the assignment quality — the codebook-drift signal
    * a streaming ingest monitors.
    */
  private[graft] def assignBy(src: DataFrame, pivots: DataFrame,
                              dim: Int): DataFrame =
    pivotScoredBy(src, pivots, dim)
      .withColumn("best", array_max(col("pcs")))
      .select(col("vec_id"), col("v"), col("nrm"),
        (lit(0L) - col("best")("npid")).as("list_id"),
        col("best")("pcos").as("best_cos"))

  /** Corpus → (vec_id, v, nrm, list_id): every vector assigned to its
    * max-cosine pivot, all row-local (see [[pivotScoredBy]]).
    */
  private def ivfAssigned(all: DataFrame, nlist: Int, dim: Int): DataFrame =
    assignBy(all, pivotArr(all, nlist), dim)
      .select(col("vec_id"), col("v"), col("nrm"), col("list_id"))

  /** IVF-style ANN: coarse quantizer + inverted lists + bounded probe.
    *
    * The codebook here is the degenerate-but-deterministic choice —
    * the first `nlist` vectors act as pivots (a trained k-means
    * codebook plugs into the same plan; the oracle needs a
    * reproducible one). Every vector is assigned to its max-cosine
    * pivot (one broadcast of `nlist` pivots, N×nlist scoring — linear
    * scan, no shuffle of the corpus), queries probe their `nprobe`
    * closest lists, and only those lists are scored exactly. Candidate
    * count ≈ N·nprobe/nlist per query — the classic recall/throughput
    * dial. Recall < 1 by design; the assignment and probe order are
    * exact-cosine with id tiebreaks, so the result is reproducible in
    * any engine (q_ann_ivf mirrors it in SQL).
    */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int,
              nlist: Int = DefaultNlist, nprobe: Int = 4, dim: Int = Dim,
              pivotsOpt: Option[DataFrame] = None): DataFrame =
    // cached: scored against pivots twice (assignment + query probes)
    ivfOn(OperatorCaches.track(prepared(embeddings, dim)), queryPred, k,
      nlist, nprobe, dim, pivotsOpt)

  /** [[ivfTopK]] over an already-[[prepared]] corpus. */
  private def ivfOn(all: DataFrame, queryPred: Column, k: Int, nlist: Int,
                    nprobe: Int, dim: Int,
                    pivotsOpt: Option[DataFrame]): DataFrame = {
    val pv = pivotsOr(pivotsOpt, all, nlist)
    ivfSearch(all.filter(queryPred), pv, assignBy(all, pv, dim), k,
      nprobe, dim)
  }

  /** The IVF search kernel over explicit index frames (shared by
    * [[ivfTopK]], the recall ladder/curve and `StreamAnn.query`):
    * [[prepared]] queries probe their `nprobe` closest lists of an
    * [[assignBy]] frame, scored exactly by [[exactRerank]].
    */
  private[graft] def ivfSearch(queries: DataFrame, pivots: DataFrame,
                               lists: DataFrame, k: Int, nprobe: Int,
                               dim: Int): DataFrame = {
    val probes = probed(queries, pivots, nprobe, dim)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("nrm").as("qnrm"), col("plist"))
    exactRerank(notSelf(probes.join(
        lists.select(col("vec_id"), col("v"), col("nrm"), col("list_id")),
        col("plist") === col("list_id"))), k, dim)
  }

  /** PQ codebook: first `ksub` corpus vectors as sub-space centroids,
    * sorted by cid into ONE broadcast-able array row (so
    * `element_at(dt, code+1)` indexing is positional — carr[i].cid ==
    * i−1). A trained per-subspace k-means book plugs into the same
    * shape; the oracle needs a reproducible one, exactly like
    * [[pivotArr]].
    */
  private[graft] def pqBook(all: DataFrame, ksub: Int): DataFrame =
    all.filter(col("vec_id") < ksub)
      .agg(sort_array(collect_list(
        struct(col("vec_id").as("cid"), col("v").as("cv")))).as("carr"))

  /** Fixed left-associated squared-L2 between the `mIdx`-th dsub-dim
    * slices of `a` and `b` — same IEEE op order as the oracle's
    * explicit chain, so sub-distances are bit-identical cross-engine.
    */
  private def subDist(a: Column, b: Column, mIdx: Int, dsub: Int): Column =
    (1 to dsub).map { j =>
      val d = element_at(a, mIdx * dsub + j) - element_at(b, mIdx * dsub + j)
      d * d
    }.reduceLeft(_ + _)

  /** `vec`'s per-sub-space nearest-centroid cids in the `carr` book. */
  private def pqCodes(vec: Column, msub: Int, dim: Int): Column =
    array((0 until msub).map { mi =>
      array_min(transform(col("carr"), c =>
        struct(subDist(vec, c("cv"), mi, dim / msub).as("d"),
               c("cid").as("cid"))))("cid")
    }: _*)

  /** `vec`'s ADC table against the `carr` book: ||vec_m − c_mc||². */
  private def adcTable(vec: Column, msub: Int, dim: Int): Column =
    array((0 until msub).map { mi =>
      transform(col("carr"), c => subDist(vec, c("cv"), mi, dim / msub))
    }: _*)

  /** (vec_id, list_id, codes): IVF assignment + PQ encoding fused in
    * one row-local pass against the two broadcast one-row frames; the
    * full vector is DROPPED on the way out. Shared with
    * [[graft.streaming.StreamAnn]], which freezes pivots+book and
    * encodes every later batch with this exact plan.
    */
  private[graft] def pqEncode(src: DataFrame, pivots: DataFrame,
                              book: DataFrame, msub: Int,
                              dim: Int): DataFrame =
    encodeBy(assignBy(src, pivots, dim), book, col("v"), msub, dim)

  /** (vec_id, list_id, codes): an assigned frame's `vec` encoded. */
  private def encodeBy(assigned: DataFrame, book: DataFrame, vec: Column,
                       msub: Int, dim: Int): DataFrame =
    assigned.crossJoin(broadcast(book))
      .select(col("vec_id"), col("list_id"), pqCodes(vec, msub, dim).as("codes"))

  /** Each `qsrc` row once per probed list `plist`: its `nprobe`
    * closest lists by exact pivot cosine, ids tie-broken — the probe
    * planner shared by every IVF flavor.
    */
  private def probed(qsrc: DataFrame, pivots: DataFrame, nprobe: Int,
                     dim: Int): DataFrame =
    pivotScoredBy(qsrc, pivots, dim)
      .withColumn("pp",
        explode(slice(sort_array(col("pcs"), asc = false), 1, nprobe)))
      .withColumn("plist", lit(0L) - col("pp")("npid"))

  /** ADC approximate distance: fixed left-associated Σ_m dts[m][code_m]
    * (the oracle mirrors the chain; SUM() would be order-dependent).
    */
  private def adcDist(msub: Int): Column =
    (0 until msub).map { mi =>
      element_at(element_at(col("dts"), mi + 1),
        (element_at(col("codes"), mi + 1) + 1).cast("int"))
    }.reduceLeft(_ + _)

  /** The ADC ranking tail of both PQ kernels: candidates (`keys`,
    * neighbor_id, codes) join their broadcast ADC tables (`keys`,
    * dts); top `k` per query by [[adcDist]], ties to the smaller id.
    */
  private def adcRank(cand: DataFrame, qadc: DataFrame, k: Int, msub: Int,
                      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = cand.join(broadcast(qadc), keys)
      .select(col("query_id"), col("neighbor_id"), adcDist(msub).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "adist", "rn")
  }

  /** IVF-PQ with asymmetric-distance (ADC) ranking — the published
    * billion-scale ANN layout (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search"): vectors live in IVF inverted
    * lists as `msub` sub-space code bytes instead of `dim` floats
    * (64-dim fp32 → 8 codes = 64× smaller: a 100 TB embedding corpus
    * becomes a ~1.6 TB code table that fits cluster memory), and a
    * query scores a candidate with `msub` table lookups instead of a
    * `dim`-term dot product.
    *
    * Plan shape: both the codebook and the coarse pivots are single
    * broadcast rows; corpus assignment + encoding are one row-local
    * pass (no corpus shuffle); each query computes its 16×`msub` ADC
    * table once, then candidates from its `nprobe` probed lists cost
    * array lookups. Ranking is approx-distance ascending with id
    * tie-break — deterministic, mirrored exactly by q_ann_ivfpq's
    * SQL. Production refine step (exact-cosine rerank of the ADC
    * top-R) composes as `bruteForceTopK` over the survivors.
    */
  def ivfPqTopK(embeddings: DataFrame, queryPred: Column, k: Int,
                nlist: Int = DefaultNlist, nprobe: Int = 4, msub: Int = DefaultMsub,
                ksub: Int = DefaultKsub, dim: Int = Dim,
                pivotsOpt: Option[DataFrame] = None,
                bookOpt: Option[DataFrame] = None): DataFrame =
    ivfPqOn(OperatorCaches.track(prepared(embeddings, dim)), queryPred, k,
      nlist, nprobe, msub, ksub, dim, pivotsOpt, bookOpt)

  /** [[ivfPqTopK]] over an already-[[prepared]] corpus. */
  private def ivfPqOn(all: DataFrame, queryPred: Column, k: Int, nlist: Int,
                      nprobe: Int, msub: Int, ksub: Int, dim: Int,
                      pivotsOpt: Option[DataFrame],
                      bookOpt: Option[DataFrame]): DataFrame = {
    val pivots = pivotsOr(pivotsOpt, all, nlist)
    val book = bookOpt.getOrElse(OperatorCaches.track(pqBook(all, ksub)))
    ivfPqSearch(all.filter(queryPred), pivots, book,
      pqEncode(all, pivots, book, msub, dim), k, nprobe, msub, dim)
  }

  /** The PQ search kernel over explicit index frames (shared by
    * [[ivfPqTopK]], the recall ladder and `StreamAnn.queryPq`):
    * [[prepared]] queries probe a [[pqEncode]] code index and rank
    * the probed codes by ADC distance ([[adcRank]]).
    */
  private[graft] def ivfPqSearch(queries: DataFrame, pivots: DataFrame,
                                 book: DataFrame, codes: DataFrame, k: Int,
                                 nprobe: Int, msub: Int,
                                 dim: Int): DataFrame = {
    require(dim % msub == 0, s"dim $dim must divide into $msub sub-spaces")
    val cand = notSelf(probed(queries, pivots, nprobe, dim)
        .select(col("vec_id").as("query_id"), col("plist"))
        .join(codes, col("plist") === col("list_id")))
      .select(col("query_id"), col("neighbor_id"), col("codes"))
    val qadc = queries.crossJoin(broadcast(book))
      .select(col("vec_id").as("query_id"),
        adcTable(col("v"), msub, dim).as("dts"))
    adcRank(cand, qadc, k, msub, Seq("query_id"))
  }

  /** IVF-PQ with the production REFINE step: ADC ranks the probed
    * candidates (compressed codes only — the cheap pass), the top
    * `rerank` survivors per query are re-scored by EXACT cosine
    * against their full vectors, and the final top-k ranks on that —
    * the standard two-stage billion-scale serving layout (coarse
    * probe → ADC shortlist → exact rerank), which buys back the
    * recall the 8-byte quantization gives up at the cost of `rerank`
    * full-vector reads per query (measured in COVERAGE.md's recall
    * table). Plan shape: everything in [[ivfPqTopK]] plus one keyed
    * join of the |Q|·rerank shortlist back to the corpus vectors —
    * bounded, never a scan.
    */
  def ivfPqRerankTopK(embeddings: DataFrame, queryPred: Column, k: Int,
                      rerank: Int = 20, nlist: Int = DefaultNlist, nprobe: Int = 4,
                      msub: Int = DefaultMsub, ksub: Int = DefaultKsub, dim: Int = Dim,
                      pivotsOpt: Option[DataFrame] = None,
                      bookOpt: Option[DataFrame] = None): DataFrame = {
    val all = OperatorCaches.track(prepared(embeddings, dim))
    rerankShortlist(all, queryPred,
      ivfPqOn(all, queryPred, rerank, nlist, nprobe, msub, ksub, dim,
        pivotsOpt, bookOpt), k, dim)
  }

  /** The rerank scaffold shared by every batch two-stage operator
    * (raw-PQ, residual-PQ and projected-cosine shortlists): project
    * the queries off the caller's [[prepared]] corpus `all`, join the
    * shortlist back to the full vectors, and rank through
    * [[exactRerank]] — one definition so a join-shape change cannot
    * land in one rerank operator and not the other.
    */
  private def rerankShortlist(all: DataFrame, queryPred: Column,
                              shortlist: DataFrame, k: Int,
                              dim: Int): DataFrame =
    exactRerank(shortlist.select(col("query_id"), col("neighbor_id"))
      .join(queriesOf(all, queryPred), "query_id")
      .join(all.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        "neighbor_id"), k, dim)

  /** The exact-cosine ranking tail of every cosine search, batch and
    * streaming: score (query_id, neighbor_id, qv, qnrm, v, nrm) pairs
    * and keep the top `k` per query, ties to the smaller neighbor id.
    * ONE definition so batch≡stream bit-equality holds by construction.
    */
  private[graft] def exactRerank(pairs: DataFrame, k: Int,
                                 dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = pairs.select(col("query_id"), col("neighbor_id"),
      pairCos(col("qv"), col("qnrm"), col("v"), col("nrm"), dim).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cos", "rn")
  }

  /** The pivot vector of the list keyed by `key`, looked up in a
    * broadcast (pid, pv, pn) parr column.
    */
  private def centroidOf(key: Column, parr: Column): Column =
    element_at(filter(parr, p => p("pid") === key), 1)("pv")

  /** (vec_id, list_id, r): subtract each row's assigned centroid
    * element-wise from an [[assignBy]] frame — the residual projection
    * of the IVFADC layout, all row-local.
    */
  private def residualOf(assigned: DataFrame, pivots: DataFrame): DataFrame =
    assigned.crossJoin(broadcast(pivots))
      .withColumn("cvec", centroidOf(col("list_id"), col("parr")))
      .select(col("vec_id"), col("list_id"),
        zip_with(col("v"), col("cvec"), (a, b) => a - b).as("r"))

  /** Default residual book: vectors `nlist..nlist+ksub`'s residuals. */
  private def residualBook(resid: DataFrame, nlist: Int,
                           ksub: Int): DataFrame =
    resid.filter(col("vec_id") >= nlist && col("vec_id") < nlist + ksub)
      .agg(sort_array(collect_list(
        struct((col("vec_id") - nlist).as("cid"),
          col("r").as("cv")))).as("carr"))

  /** The residual projection over a raw embeddings frame — exposed so
    * a trainer can fit a residual book (k-means over the residuals,
    * the production IVFADC shape) that then feeds
    * [[ivfPqResidualTopK]]'s `bookOpt`.
    */
  def residualFrame(embeddings: DataFrame, nlist: Int = DefaultNlist,
                    dim: Int = Dim,
                    pivotsOpt: Option[DataFrame] = None): DataFrame = {
    val all = OperatorCaches.track(prepared(embeddings, dim))
    val pivots = pivotsOr(pivotsOpt, all, nlist)
    residualOf(assignBy(all, pivots, dim), pivots)
  }

  /** IVF-PQ over RESIDUALS — the published IVFADC layout (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", §V):
    * the PQ book quantizes r = v − c(list) instead of the raw vector,
    * so the code bytes describe the vector's offset WITHIN its coarse
    * cell rather than re-describing the cell itself — at equal code
    * budget the quantization error drops and recall rises (measured
    * against the raw-PQ rung in COVERAGE.md's recall table). The
    * price: ADC tables become per-(query, probed list) —
    * ||(q − c_list)_m − r_cm||² — i.e. |Q|·nprobe tables of
    * msub×ksub entries instead of |Q|; still a broadcast-sized frame
    * for any real query batch.
    *
    * Book convention (oracle reproducibility, like [[pqBook]] — but
    * shifted): the residuals of corpus vectors `nlist..nlist+ksub`,
    * cid = vec_id − nlist. NOT the first `ksub`: vectors 0..nlist−1
    * ARE the coarse pivots, so their residuals are identically zero —
    * a book of 16 zero vectors makes every ADC distance
    * candidate-independent and the ranking degenerate (measured:
    * recall@10 0.03, nprobe-invariant). A trained residual book plugs
    * into `bookOpt` in the same one-row carr shape (cids dense
    * 0..ksub−1). Determinism: the residual subtraction is
    * element-wise IEEE (zip_with a−b ≡ the SQL mirror's v[i]−pv[i]),
    * sub-distances and the ADC sum are the shared fixed
    * left-associated chains, ranking ties to the smaller neighbor
    * id — q_ann_ivfpq_residual mirrors every step.
    *
    * Plan shape: identical to [[ivfPqTopK]] — coarse assignment,
    * residual projection, and encoding are ONE row-local pass against
    * two broadcast one-row frames (no corpus shuffle; the residual
    * exists only as a projected column), the candidate join is keyed
    * on the probed list, and the per-(query, probe) ADC tables
    * broadcast.
    */
  def ivfPqResidualTopK(embeddings: DataFrame, queryPred: Column, k: Int,
                        nlist: Int = DefaultNlist, nprobe: Int = 4, msub: Int = DefaultMsub,
                        ksub: Int = DefaultKsub, dim: Int = Dim,
                        pivotsOpt: Option[DataFrame] = None,
                        bookOpt: Option[DataFrame] = None): DataFrame =
    ivfPqResidualOn(OperatorCaches.track(prepared(embeddings, dim)), queryPred,
      k, nlist, nprobe, msub, ksub, dim, pivotsOpt, bookOpt)

  /** [[ivfPqResidualTopK]] over an already-[[prepared]] corpus. */
  private def ivfPqResidualOn(all: DataFrame, queryPred: Column, k: Int,
                              nlist: Int, nprobe: Int, msub: Int, ksub: Int,
                              dim: Int, pivotsOpt: Option[DataFrame],
                              bookOpt: Option[DataFrame]): DataFrame = {
    val pivots = pivotsOr(pivotsOpt, all, nlist)
    // cached: feeds the residual-book derivation and the encode pass
    val resid = OperatorCaches.track(
      residualOf(assignBy(all, pivots, dim), pivots))
    val book = bookOpt.getOrElse(
      OperatorCaches.track(residualBook(resid, nlist, ksub)))
    ivfPqResidualSearch(all.filter(queryPred), pivots, book,
      encodeBy(resid, book, col("r"), msub, dim), k, nprobe, msub, dim)
  }

  /** The residual-PQ search kernel over explicit index frames (shared
    * by [[ivfPqResidualTopK]] and the recall ladder): each (query,
    * probed list) gets an ADC table over q − c(list) ([[adcRank]]).
    */
  private def ivfPqResidualSearch(queries: DataFrame, pivots: DataFrame,
                                  book: DataFrame, codes: DataFrame, k: Int,
                                  nprobe: Int, msub: Int,
                                  dim: Int): DataFrame = {
    require(dim % msub == 0, s"dim $dim must divide into $msub sub-spaces")
    // cached: feeds the per-(query, list) ADC tables and the candidates
    val probes = OperatorCaches.track(probed(queries, pivots, nprobe, dim)
      .select(col("vec_id").as("query_id"), col("plist")))
    val qadc = probes
      .join(queries.select(col("vec_id").as("query_id"), col("v")),
        "query_id")
      .crossJoin(broadcast(pivots))
      .withColumn("cvec", centroidOf(col("plist"), col("parr")))
      .withColumn("qr", zip_with(col("v"), col("cvec"), (a, b) => a - b))
      .drop("parr")
      .crossJoin(broadcast(book))
      .select(col("query_id"), col("plist"),
        adcTable(col("qr"), msub, dim).as("dts"))
    val cand = notSelf(probes.join(codes, col("plist") === col("list_id")))
      .select(col("query_id"), col("plist"), col("neighbor_id"), col("codes"))
    adcRank(cand, qadc, k, msub, Seq("query_id", "plist"))
  }

  /** The full IVFADC serving stack: coarse probe → residual-ADC
    * shortlist ([[ivfPqResidualTopK]], top `rerank`) → exact-cosine
    * rerank of the survivors ([[exactRerank]], one bounded keyed join
    * back to the full vectors) → top-k on the exact score. The same
    * two-stage composition as [[ivfPqRerankTopK]] with the residual
    * codes underneath; q_ann_residual_rerank mirrors it via the
    * shared rerank-tail SQL.
    */
  def ivfPqResidualRerankTopK(embeddings: DataFrame, queryPred: Column,
                              k: Int, rerank: Int = 20, nlist: Int = DefaultNlist,
                              nprobe: Int = 4, msub: Int = DefaultMsub,
                              ksub: Int = DefaultKsub, dim: Int = Dim,
                              pivotsOpt: Option[DataFrame] = None,
                              bookOpt: Option[DataFrame] = None): DataFrame = {
    val all = OperatorCaches.track(prepared(embeddings, dim))
    rerankShortlist(all, queryPred,
      ivfPqResidualOn(all, queryPred, rerank, nlist, nprobe, msub, ksub, dim,
        pivotsOpt, bookOpt), k, dim)
  }

  /** MMR (maximal-marginal-relevance) diversification over an ANN
    * shortlist — the standard RAG serving pass that trades raw
    * relevance for coverage (Carbonell & Goldstein, SIGIR'98): pick
    * greedily, each round scoring every unselected candidate as
    * λ·rel − (1−λ)·max-cosine-to-already-selected, so near-duplicate
    * results stop crowding the context window.
    *
    * Plan shape: the shortlist is [[ivfTopK]]'s bounded top-`pool`
    * per query; pairwise similarities are a self-join of that
    * bounded list (pool² rows per query — driver-trivial) with the
    * full vectors read through one keyed join; the k−1 greedy rounds
    * unroll as DataFrame ops over those bounded frames (the same
    * unrolled-fixpoint discipline as the CC oracle). Nothing
    * corpus-sized is touched beyond the IVF probe itself.
    *
    * Determinism: rel and pairwise cosines are the shared exact
    * chains; MAX over doubles is order-independent; the score's λ
    * literals are emitted from the same Scala doubles the SQL mirror
    * interpolates; ties to the smaller neighbor id. Round 1 scores
    * λ·rel (empty selected set ⇒ maxsim 0).
    */
  def mmrTopK(embeddings: DataFrame, queryPred: Column, k: Int = 5,
              pool: Int = 20, lam: Double = 0.7, nlist: Int = DefaultNlist,
              nprobe: Int = 4, dim: Int = Dim): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1, got k=$k pool=$pool")
    val all = OperatorCaches.track(prepared(embeddings, dim))
    mmrTail(
      OperatorCaches.track(
        ivfOn(all, queryPred, pool, nlist, nprobe, dim, None)
          .select(col("query_id"), col("neighbor_id"), col("cos").as("rel"))),
      all.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
      k, lam, dim)
  }

  /** Greedy MMR selection tail shared verbatim by the batch operator
    * and [[graft.streaming.StreamServe.mmrTopK]] (the shared-tail
    * pattern: batch ≡ stream by construction). `short` =
    * (query_id, neighbor_id, rel) bounded at |Q|·pool; `vecs` =
    * (neighbor_id, v, nrm) for at least every shortlist member.
    */
  private[graft] def mmrTail(short: DataFrame, vecs: DataFrame, k: Int,
                             lam: Double, dim: Int): DataFrame = {
    val withVec = short.join(vecs, "neighbor_id")
    val aSide = withVec.select(col("query_id"),
      col("neighbor_id").as("na"), col("v").as("va"), col("nrm").as("nna"))
    val bSide = withVec.select(col("query_id"),
      col("neighbor_id").as("nb"), col("v").as("vb"), col("nrm").as("nnb"))
    val sims = aSide.join(bSide, Seq("query_id"))
      .filter(col("na") =!= col("nb"))
      .select(col("query_id"), col("na"), col("nb"),
        pairCos(col("va"), col("nna"), col("vb"), col("nnb"), dim)
          .as("sim"))
    // == group-local greedy (r16) ==
    // The former spelling unrolled the k−1 greedy rounds as DataFrame
    // ops — per round an anti join, a max-sim join, a window pick and
    // an eager localCheckpoint: ~45 driver-coordinated stages of
    // KB-sized frames for k = 5 (measured: q_mmr_rerank ran 51 jobs).
    // But the greedy recurrence is INDEPENDENT PER QUERY over frames
    // bounded by `pool` (the operator contract), so it belongs in one
    // row-local pass: collect each query's (candidate, rel) list and
    // its pool² sim list, then run the selection loop inside the row.
    // EVERY float the loop consumes (rel, sim) is still computed by
    // the shared Catalyst kernels above — the closure only compares
    // them and forms lam·rel − (1−lam)·maxsim, the same two JVM-double
    // ops the old Catalyst projection performed on the same operands,
    // so picks and scores stay bit-identical (DocOpsSpec + the
    // StreamServe parity pin + the DuckDB oracle all re-attest).
    // Scale: one groupBy on query_id replaces 3(k−1) joins; per-group
    // state is O(pool²) ≈ driver-trivial, groups stay fully parallel.
    val candArr = short.groupBy(col("query_id"))
      .agg(collect_list(struct(col("neighbor_id"), col("rel"))).as("cands"))
    val simArr = sims.groupBy(col("query_id"))
      .agg(collect_list(struct(col("na"), col("nb"), col("sim"))).as("sims"))
    val joined = candArr.join(simArr, Seq("query_id"), "left")
    val enc = org.apache.spark.sql.Encoders.product[(Long, Long, Double, Int)]
    joined.flatMap { row =>
      val qid = row.getLong(0)
      val cands = row.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(_._1)
      val simRows = if (row.isNullAt(2)) Seq.empty[org.apache.spark.sql.Row]
        else row.getSeq[org.apache.spark.sql.Row](2)
      val sim = new java.util.HashMap[(Long, Long), java.lang.Double]()
      simRows.foreach(r => sim.put((r.getLong(0), r.getLong(1)),
        java.lang.Double.valueOf(r.getDouble(2))))
      val selected = scala.collection.mutable.ArrayBuffer[Long]()
      val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Int)]()
      var round = 1
      while (round <= k && selected.size < cands.size) {
        var bestId = -1L
        var bestScore = Double.NaN
        cands.foreach { case (nid, rel) =>
          if (!selected.contains(nid)) {
            val score =
              if (round == 1) lam * rel
              else {
                var maxsim = Double.NegativeInfinity
                var sawSim = false
                selected.foreach { s =>
                  val v = sim.get((nid, s))
                  if (v != null) {
                    sawSim = true
                    if (v.doubleValue > maxsim) maxsim = v.doubleValue
                  }
                }
                // mirror of the old INNER max-sim join: a candidate
                // with no sim row to any selected pick is not scored
                if (!sawSim) Double.NaN
                else lam * rel - (1.0 - lam) * maxsim
              }
            // ties to the smaller neighbor id: cands is id-sorted and
            // the comparison is strict, so the first max wins
            if (!score.isNaN && (bestScore.isNaN || score > bestScore))
            { bestId = nid; bestScore = score }
          }
        }
        if (bestId < 0) round = k + 1 // no scorable candidate left
        else {
          selected += bestId
          picks += ((qid, bestId, bestScore, round))
          round += 1
        }
      }
      picks
    }(enc).toDF("query_id", "neighbor_id", "mmr", "pick")
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix: sign(j, i)
    * is +1 iff md5("rp:<j>:<i>") has its top bit set — the engine's
    * established reproducible-hash trick, computed DRIVER-side once
    * at plan build and embedded as literals in both the Catalyst
    * plan and the SQL mirror. ±1 products are IEEE-exact (sign
    * flips), so cross-engine parity needs only the shared
    * left-associated sum order every dot in this file already uses.
    */
  private[graft] def rpSigns(pdim: Int, dim: Int): IndexedSeq[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until pdim).map { j =>
      Array.tabulate(dim) { i =>
        val h = md.digest(s"rp:$j:$i".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1.0 else -1.0
      }
    }
  }

  /** Random-projection (JL) compressed prefilter + exact rerank —
    * the dimensionality-reduction rung of the ANN ladder: project
    * 64-dim vectors to `pdim` (default 16) with a deterministic ±1
    * sign matrix, take the top-`pool` shortlist by PROJECTED cosine,
    * then re-rank the shortlist by exact full-dim cosine.
    *
    * Scale story: the projection is row-local (no shuffle — the sign
    * matrix rides in the plan as literals), shrinks every candidate
    * scan's FLOPs and candidate bytes 4×, and composes with the
    * other rungs (the rp view can feed [[signBucket]] LSH or an IVF
    * build unchanged). JL distortion is the recall dial: RecallAudit
    * measures shortlist recall vs the exact baseline.
    *
    * == Regime contract (measured, RecallAudit at sf0.1) ==
    * `pool` is the recall dial, and it only works when cosine gaps
    * are real. Clustered corpus (true neighbors separated from the
    * bulk): recall@10 = 0.50 / 0.79 / 1.00 at pool 10 / 20 / 40 —
    * full recall at 4× compression by pool=40. Near-uniform corpus
    * (pairwise cosines inside the JL distortion band): recall@10
    * reads 0.08–0.30 at every pool ≤ 80 — the compression limit
    * itself, not a tuning problem; no pool escalation recovers it.
    * In that regime use [[ivfTopK]] (uncompressed, probe-bounded)
    * directly. Auto-escalation is deliberately not built in: regime
    * detection needs corpus-level cosine statistics this operator
    * would otherwise have to scan for on every call.
    */
  def rpRerankTopK(embeddings: DataFrame, queryPred: Column, k: Int = 3,
                   pool: Int = 20, pdim: Int = 16,
                   dim: Int = Dim): DataFrame =
    rpRerankOn(OperatorCaches.track(prepared(embeddings, dim)), queryPred, k,
      pool, pdim, dim)

  /** [[rpRerankTopK]] over a [[prepared]] corpus: [[exactRerank]]
    * in the projection, then [[rerankShortlist]] in full dimension.
    */
  private def rpRerankOn(all: DataFrame, queryPred: Column, k: Int,
                         pool: Int, pdim: Int, dim: Int): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1, got k=$k pool=$pool")
    val signs = rpSigns(pdim, dim)
    val rp = OperatorCaches.track(all.select(col("vec_id"),
        array(signs.map(s => dot(col("v"), lit(s), dim)): _*).as("v"))
      .withColumn("nrm", norm(col("v"), pdim)))
    val shortlist = exactRerank(
      notSelf(queriesOf(rp, queryPred).crossJoin(rp)), pool, pdim)
    rerankShortlist(all, queryPred, shortlist, k, dim)
  }

  /** Hard-negative mining over the ANN shortlist — the contrastive-
    * training feed (retrieval/embedding fine-tuning): for each query
    * vector, the highest-cosine candidates that carry a DIFFERENT
    * label are its hard negatives (near in embedding space, wrong by
    * supervision), the pairs that sharpen a contrastive loss far more
    * than random negatives. Same-label shortlist members are
    * positives and are excluded, not sampled around.
    *
    * Scale shape: candidates come from the bounded IVF probe
    * ([[ivfTopK]] at `pool`), never a corpus scan per query; the
    * |Q|·pool shortlist then BROADCASTS against the (vec_id, label)
    * projection — a 100-TB corpus contributes one pruned 2-column
    * scan per label lookup, with the bounded side always the build
    * side. Output is deterministic: cos desc, ties to the smaller
    * neg_id, top `k` per query.
    */
  def hardNegatives(embeddings: DataFrame, queryPred: Column, k: Int = 5,
                    pool: Int = 20, nlist: Int = DefaultNlist, nprobe: Int = 4,
                    dim: Int = Dim): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1, got k=$k pool=$pool")
    hardNegativesTail(
      ivfTopK(embeddings, queryPred, pool, nlist, nprobe, dim)
        .select(col("query_id"), col("neighbor_id"), col("cos")),
      embeddings.select(col("vec_id"), col("label")), k)
  }

  /** Label-filter + re-rank tail shared verbatim by the batch
    * operator and [[graft.streaming.StreamServe.hardNegatives]] (the
    * shared-tail pattern of exactRerank/bm25Score: batch ≡ stream by
    * construction). `shortlist` = (query_id, neighbor_id, cos),
    * bounded at |Q|·pool, so it is always the broadcast build side
    * against the (vec_id, label) projection.
    */
  private[graft] def hardNegativesTail(shortlist: DataFrame,
                                       labels0: DataFrame,
                                       k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = labels0.select(col("vec_id"), col("label"))
    val withQ = labels
      .join(broadcast(shortlist), col("vec_id") === col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("label").as("q_label"))
    val negs = labels
      .join(broadcast(withQ), col("vec_id") === col("neighbor_id"))
      .filter(col("label") =!= col("q_label"))
      .select(col("query_id"), col("neighbor_id").as("neg_id"),
        col("label").as("neg_label"), col("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neg_id"))
    negs.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select("query_id", "neg_id", "neg_label", "cos", "neg_rank")
  }

  /** Deterministic distributed k-means (Lloyd) over the embedding
    * corpus — the clustering primitive behind mixture balancing,
    * SemDeDup partitioning, and TRAINED IVF/PQ codebooks (the
    * upgrade over the first-`n` degenerate books used by default for
    * oracle reproducibility).
    *
    * Everything is engineered to be bit-reproducible cross-engine so
    * the assignment is oracle-checkable:
    *   - seeds = the first `k` vectors (no RNG);
    *   - assignment score = −2·(v·c) + (c·c) (argmin ≡ L2 argmin —
    *     v·v is constant per vector), both dots the fixed
    *     left-associated chain shared with every other embedding
    *     oracle, ties to the smaller cid;
    *   - centroid means = ExactAgg.dsum / count per coordinate —
    *     shuffle-order-independent int64 sums, so the trained book is
    *     the same bits in Spark and DuckDB;
    *   - empty clusters keep their seed coordinates.
    *
    * Plan shape per Lloyd round: one row-local scoring pass against
    * the broadcast k-centroid book (no corpus shuffle) + one
    * positional-explode aggregation (N·dim rows → k·dim groups,
    * map-side partial) for the means. That is the standard
    * distributed k-means iteration; production trains on a sample
    * and `iters` stays small — the operator is the TRAINER, the
    * trained book then plugs into [[ivfTopK]]/[[ivfPqTopK]] via
    * their codebook parameters.
    */
  /** One row-local assignment pass: (vec_id, v, cluster_id) against a
    * one-row (cid, cv) book. The score −2·(v·c) + (c·c) yields
    * identical doubles to the SQL mirror's chain, so the argmin — and
    * any tie — agrees bit-exactly.
    */
  private def kmeansAssignBy(all: DataFrame, book: DataFrame,
                             dim: Int): DataFrame =
    all.crossJoin(broadcast(book))
      .withColumn("best", array_min(transform(col("carr"), c =>
        struct((lit(-2.0) * dot(col("v"), c("cv"), dim) +
          dot(c("cv"), c("cv"), dim)).as("score"), c("cid").as("cid")))))
      .select(col("vec_id"), col("v"), col("best")("cid").as("cluster_id"))

  /** The one-row seed book: the `k` SMALLEST-vec_id vectors of the
    * training frame as centroids. On the full corpus (dense ids) this
    * is exactly "vec_id < k"; on a sampled training set (the
    * production shape — train on a sample, quantize the corpus) it
    * still yields k seeds, which a raw `vec_id < k` filter would not.
    *
    * Cids are DENSIFIED to the seed's rank (0..k−1), not the raw
    * vec_id: [[pqBook]]'s positional contract (carr[i].cid == i−1) is
    * what [[adcDist]]'s `element_at(dts[m], code+1)` lookup assumes,
    * and a sample-trained book with sparse raw ids (0, 4, 8, …) would
    * index past the 16-entry ADC table. On dense corpora the rank IS
    * the vec_id, so full-corpus callers (q_kmeans, q_ann_ivf_trained)
    * are bit-unchanged; rank order = vec_id order, so id tie-breaks
    * agree with the oracle either way.
    */
  private def kmeansSeed(all: DataFrame, k: Int): DataFrame =
    all.orderBy(col("vec_id")).limit(k)
      .agg(sort_array(collect_list(
        struct(col("vec_id").as("cid"), col("v").as("cv")))).as("carr0"))
      .select(transform(col("carr0"), (c, i) =>
        struct(i.cast("long").as("cid"), c("cv").as("cv"))).as("carr"))

  /** One Lloyd update: assign against `book`, then per-coordinate
    * ExactAgg means per cluster; empty clusters keep the seed's
    * coordinates. Returns the refreshed one-row book.
    */
  private def kmeansUpdate(all: DataFrame, book: DataFrame, seed: DataFrame,
                           dim: Int): DataFrame = {
    val means = kmeansAssignBy(all, book, dim)
      .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos0", "x")))
      .groupBy(col("cluster_id"), (col("pos0") + 1).as("pos"))
      .agg((graft.functions.ExactAgg.dsum(col("x")) / count(col("x")))
        .as("mu"))
    val seedCoords = seed
      .select(explode(col("carr")).as("c"))
      .select(col("c")("cid").as("cid"), posexplode(col("c")("cv"))
        .as(Seq("pos0", "sx")))
      .select(col("cid"), (col("pos0") + 1).as("pos"), col("sx"))
    seedCoords.join(means,
        seedCoords("cid") === means("cluster_id") &&
          seedCoords("pos") === means("pos"), "left")
      .select(col("cid"), seedCoords("pos").as("pos"),
        coalesce(col("mu"), col("sx")).as("c"))
      .groupBy(col("cid"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        p => p("c")).as("cv"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("carr"))
  }

  /** k-means assignment after `iters` Lloyd refinements of the seed
    * book (default 1 → the q_kmeans shape: seed-assign → means →
    * final assign). Output: (vec_id, cluster_id).
    */
  def kmeansAssign(embeddings: DataFrame, k: Int = 8, iters: Int = 1,
                   dim: Int = Dim): DataFrame = {
    val all = OperatorCaches.track(prepared(embeddings, dim))
    val seed = kmeansSeed(all, k)
    val trained = (1 to iters).foldLeft(seed)((b, _) =>
      kmeansUpdate(all, b, seed, dim))
    kmeansAssignBy(all, trained, dim).select("vec_id", "cluster_id")
  }

  /** Trained one-row (cid, cv) book after `iters` Lloyd rounds — the
    * carr shape [[pqBook]] produces, so it drops into
    * [[ivfPqTopK]]'s `bookOpt` as a trained PQ book (per-subspace
    * argmin then reads the trained centroid's slices).
    */
  def kmeansCarr(embeddings: DataFrame, k: Int, iters: Int = 1,
                 dim: Int = Dim): DataFrame = {
    // tracked like kmeansAssign: the training frame is re-scored every
    // Lloyd round, and composed callers (trained coarse book + trained
    // PQ book over one sample) reuse the same cached prep. The trained
    // one-row book is cached too, so a caller feeding it to BOTH
    // bookOpt and [[carrToPivotArr]] pays the Lloyd rounds once.
    val all = OperatorCaches.track(prepared(embeddings, dim))
    val seed = kmeansSeed(all, k)
    OperatorCaches.track(
      (1 to iters).foldLeft(seed)((b, _) => kmeansUpdate(all, b, seed, dim)))
  }

  /** Adapt a one-row (cid, cv) carr book to the (pid, pv, pn) pivot
    * shape [[ivfTopK]]/[[ivfPqTopK]]/[[graft.streaming.StreamAnn]]
    * consume — lets one trained book serve as BOTH the coarse
    * quantizer and the PQ codebook without training twice.
    */
  def carrToPivotArr(book: DataFrame): DataFrame =
    book.select(transform(col("carr"), c =>
      struct(c("cid").as("pid"), c("cv").as("pv"),
        sqrt(graft.plans.DotProduct(c("cv"), c("cv"))).as("pn"))).as("parr"))

  /** Trained book adapted to the pivot shape — k-means upgrading the
    * coarse quantizer.
    */
  def kmeansPivotArr(embeddings: DataFrame, k: Int, iters: Int = 1,
                     dim: Int = Dim): DataFrame =
    carrToPivotArr(kmeansCarr(embeddings, k, iters, dim))

  /** Sign-bit band key: `bits` consecutive coordinate signs starting at
    * dimension `band*bits` packed into a BIGINT — the random-hyperplane
    * LSH family with the coordinate axes as (data-independent)
    * hyperplanes.
    */
  def bandKey(v: Column, band: Int, bits: Int): Column =
    (0 until bits).map { r =>
      when(element_at(v, band * bits + r + 1) > 0, lit(1L << r))
        .otherwise(0L)
    }.reduce(_ + _)

  /** Coordinate `j`'s noise (nibble − 7.5)/128, the nibble read from
    * the md5 hex digest `da` (j ≤ 32) or `db`. Nibble via ascii
    * arithmetic, not the 16-branch hexNibble CASE: 64 fused CASEs were
    * the second half of the 64 KB codegen blowout (exact-integer
    * equivalent: '0'-'9' → 48..57, 'a'-'f' → 97..102).
    */
  private def nibbleEps(j: Int): Column = {
    val a = ascii(substring(if (j <= 32) col("da") else col("db"),
      (j - 1) % 32 + 1, 1))
    (when(a >= 97, a - 87).otherwise(a - 48).cast("double") - lit(7.5)) /
      lit(128.0)
  }

  /** Corpus ∪ deterministically perturbed copy of every vector — the
    * near-dup benchmark substrate. The driver's synthetic embeddings
    * are unit-norm with a continuous cosine tail and NO pair above
    * 0.7 (measured at sf0.01 and sf0.1), so a high-threshold near-dup
    * query over the raw corpus is vacuously empty; this derivation
    * plants one known near-duplicate per vector, entirely from the
    * given inputs and mirrored bit-exactly by the oracle.
    *
    * Copy i of vector v adds per-coordinate noise drawn from TWO md5
    * digests per vector — `da = md5("pert:a:" + vec_id)`,
    * `db = md5("pert:b:" + vec_id)` — with coordinate j taking
    * `eps_j = (nibble_((j−1) mod 32 + 1)(j ≤ 32 ? da : db) − 7.5) / 128`
    * (exact arithmetic: the subtraction is exact on small integers and
    * /128 is a power of two, so the only rounding is the final add —
    * identical in both engines). The first spelling hashed
    * `"pert:" + vec_id + ":" + j` per COORDINATE: 64 md5 calls per row
    * whose fused codegen blew the JVM's 64 KB method limit, silently
    * dropping the whole perturb→norm→band stage to interpreted
    * execution (ERROR CodeGenerator in the logs). Two digests per row
    * keep the same per-nibble uniform(0..15) noise law — hex chars of
    * an md5 digest are the independent-nibble source either way — at
    * 1/32 the hash cost, and the projection compiles again. The
    * digests are materialized in a SEPARATE select so CollapseProject
    * (which refuses to duplicate non-cheap expressions) keeps them
    * single-evaluation instead of re-inlining md5 32× into the array.
    * With unit-norm 64-dim vectors (coordinate std ≈ 1/8) this yields
    * pair cosine ≈ 0.96 and a per-coordinate sign-flip probability
    * ≈ 5%, so the selective 8-bit × 8-band LSH retains ≥ 99.9% recall
    * at threshold 0.9 — the regime where selectivity (≈3% of pairs as
    * candidates) and recall finally coexist; SimilaritySpec asserts
    * the measured recall against the exact-crossJoin baseline.
    */
  def perturbedCopies(embeddings: DataFrame, idOffset: Long = 1000000L,
                      dim: Int = Dim): DataFrame = {
    require(dim <= 64, s"perturbedCopies draws nibbles from two md5 " +
      s"digests (64 nibbles); dim=$dim > 64 would reuse noise")
    val orig = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("embedding"))
    val withDigests = embeddings.select(col("vec_id"), col("embedding"),
      md5(concat(lit("pert:a:"), col("vec_id").cast("string"))).as("da"),
      md5(concat(lit("pert:b:"), col("vec_id").cast("string"))).as("db"))
    val perturbed = withDigests.select(
      (col("vec_id") + lit(idOffset)).as("vec_id"),
      array((1 to dim).map(j =>
        element_at(col("embedding"), j).cast("double") + nibbleEps(j)): _*)
        .as("embedding"))
    orig.unionByName(perturbed)
  }

  /** A vector's `bands` sign-band keys as one array: the signature the
    * batch, stream and store faces carry, so their buckets agree.
    */
  private[graft] def signBandKeys(v: Column, bitsPerBand: Int,
                                  bands: Int): Column =
    array((0 until bands).map(b => bandKey(v, b, bitsPerBand)): _*)

  /** Embedding-cosine near-duplicate pairs above a threshold, banded.
    *
    * Candidates are generated by a sign-bit LSH band equi-join — a pair
    * is considered iff it shares at least one of `bands` blocks of
    * `bitsPerBand` identical coordinate signs — then verified by exact
    * cosine. The plan is: narrow (id, keys, band, key) projection →
    * keyed self-join, each pair kept at its first shared band
    * ([[BandedPairs]]) → two id-joins back to the vectors.
    * No cross product anywhere, so the operator survives a cluster-size
    * corpus; the crossJoin form lives on only as [[nearDupPairsExact]],
    * the small-data oracle baseline.
    *
    * The 8-bit × 8-band banding is the scale-selective regime:
    * background (cos≈0) pairs match a band with probability 2^-8, so
    * candidates ≈ bands/2^bits ≈ 3.1% of all pairs — measured exactly
    * 3.109% at sf0.01 and 3.084% at sf0.1. That is the 100 TB shape:
    * candidate volume grows ~0.03·N², not N². Selectivity and recall
    * only coexist at a genuinely high threshold: at t = 0.9
    * (sign-flip probability acos(t)/π ≈ 0.10/coordinate) the same
    * bands retain ≥ 99% recall, and the benchmarked q_emb_neardup
    * runs there over [[perturbedCopies]] (the raw corpus has no pair
    * above cos 0.7, so the benchmark substrate plants one
    * deterministic near-dup per vector; SimilaritySpec asserts the
    * measured recall ≥ 95% against the exact-crossJoin baseline).
    * Low thresholds are NOT LSH-selective territory for any banding —
    * recall at t=0.4 is ~27% with this scheme, and the wide-recall
    * alternative (4-bit × 16 bands: 96.6% recall at t=0.4 but 64.6%
    * of pairs as candidates — Θ(N²), NOT scale-safe) survives only as
    * the explicitly-parameterized recall stress test in
    * SimilaritySpec/DocOpsSpec.
    *
    * `bitsPerBand`/`bands` have NO defaults on purpose: the banding
    * regime decides the recall-vs-candidate-volume trade (8×8 =
    * selective/partial-recall, 4×16 = wide-recall/Θ(N²) candidates),
    * and that choice is semantic — callers must pick it consciously
    * at the query site rather than inherit a hidden default.
    */
  def nearDupPairs(embeddings: DataFrame, threshold: Double,
                   bitsPerBand: Int, bands: Int,
                   dim: Int = Dim): DataFrame = {
    // cached: consumed three times (band projection + both verify sides)
    val all = OperatorCaches.track(prepared(embeddings, dim))
    val keys = BandedPairs.arrayKeys(bands)
    val bd = all.select(col("vec_id"),
        signBandKeys(col("v"), bitsPerBand, bands).as("bkeys"))
      .select(col("vec_id"), col("bkeys"),
        BandedPairs.explode(keys(col("bkeys"))))
    val cand = BandedPairs.pairs(bd, bd, keys, "bkeys", "bkeys",
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val va = all.select(col("vec_id").as("vec_a"), col("v").as("va"),
                        col("nrm").as("na"))
    val vb = all.select(col("vec_id").as("vec_b"), col("v").as("vb"),
                        col("nrm").as("nb"))
    cand.join(va, "vec_a").join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
              pairCos(col("va"), col("na"), col("vb"), col("nb"), dim).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** Symmetric int8 quantization audit — the storage-compression leg
    * of an embedding store (4× smaller vectors; a 100 TB fp32
    * embedding corpus becomes 25 TB): per vector, the absmax scale
    * s = max|x_i|, codes q_i = clamp(round(x_i/s·127), ±127), and the
    * reconstruction error mse = Σ(x_i − q_i/127·s)²/dim. Entirely
    * row-local column algebra — no shuffle at all — and every float
    * is exact-shape IEEE (divisions/products on identical operands,
    * HALF_UP rounds, a fixed left-associated error sum mirroring the
    * oracle's explicit chain), so scale, clip counts, and mse are
    * bit-identical across engines. Output is scalar per vector (the
    * codes themselves stay an internal transform).
    */
  def quantizeInt8(embeddings: DataFrame, dim: Int = Dim): DataFrame = {
    val v = asDouble(col("embedding"))
    val withS = graft.sources.Par.fan(embeddings)
      .select(col("vec_id"), v.as("v"))
      .withColumn("s", array_max(transform(col("v"), x => abs(x))))
    def qOf(x: Column): Column =
      greatest(lit(-127.0), least(lit(127.0),
        round(x / col("s") * lit(127))))
    val errSq = aggregate(
      transform(col("v"), x => {
        val e = x - qOf(x) / lit(127.0) * col("s")
        e * e
      }),
      lit(0.0), (acc, x) => acc + x)
    val maxAbsErr = array_max(transform(col("v"), x =>
      abs(x - qOf(x) / lit(127.0) * col("s"))))
    withS.select(col("vec_id"), col("s").as("scale"),
      when(col("s") > 0.0, errSq / lit(dim.toDouble)).otherwise(0.0)
        .as("mse"),
      when(col("s") > 0.0, maxAbsErr).otherwise(0.0).as("max_abs_err"))
  }

  /** SemDeDup-style semantic deduplication (cluster-then-dedup): the
    * corpus is partitioned by the deterministic IVF codebook
    * ([[ivfAssigned]] — broadcast pivot scan, zero corpus shuffle),
    * and near-duplicate candidates are searched ONLY within a
    * cluster — pair volume is Σ|cluster|² instead of N², the entire
    * point of the published design (SemDeDup: clustering makes
    * semantic dedup tractable at web scale by never comparing across
    * clusters). A vector is a duplicate when some LOWER-ID cluster-mate
    * has cosine ≥ `threshold`; min-id-wins makes the kept
    * representative deterministic, so the DuckDB oracle reproduces the
    * output exactly (the paper keeps the cluster-centroid-farthest
    * member — any fixed rule works; ours needs no extra pass).
    *
    * Output: every vector with its cluster, its canonical `dup_of`
    * (null when kept), and the `is_dup` drop flag.
    *
    * Scale note: cluster sizes are bounded by codebook granularity.
    * The DEFAULT (`nlist = 0`) auto-sizes to max(16, ⌈√N⌉) from one
    * cheap count ([[ivfAutoNlist]]) — expected cluster size √N, pair
    * volume ~N·√N/nlist ≈ N, sub-quadratic at any corpus size (the
    * published SemDeDup sizing: 10k–100k clusters at web scale). Pass
    * an explicit nlist only when a pinned codebook is required (the
    * oracle gate queries pin 16 for SF-independent reproducibility).
    * Known-miss: cross-cluster duplicates are invisible by design
    * (measured by the paper at <1% for reasonable nlist).
    */
  def semDedup(embeddings: DataFrame, threshold: Double,
               nlist: Int = 0, dim: Int = Dim): DataFrame = {
    val prep = prepared(embeddings, dim)
    // cached: the assigned view feeds both pair-join sides + the output
    val assigned = OperatorCaches.track(
      ivfAssigned(prep, resolveNlist(prep, nlist), dim))
    val a = assigned.select(col("list_id"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("list_id"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(pairCos(col("va"), col("na"), col("vb"), col("nb"), dim)
        >= threshold)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    assigned.select(col("vec_id"), col("list_id").as("cluster_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Cluster-bounded symmetric k-NN graph — the adjacency structure
    * the graph-based curation methods (SemDeDup-family pruning,
    * density estimation, graph coresets) are built on. Candidates
    * come from the SAME deterministic IVF codebook as [[semDedup]]
    * (broadcast pivot scan, zero corpus shuffle): each vector ranks
    * only its cluster-mates, so edge-candidate volume is Σ|cluster|²
    * — never N². The top-k edges per node (cosine desc, dst-id
    * tie-break) are then self-joined once on the REVERSED key to
    * flag mutual edges: mutual-kNN is the standard symmetrization
    * for clustering on the graph, and the self-join runs on the
    * already-k-bounded edge set (N·k rows), not on candidates.
    *
    * Output: (src, dst, cos, rn, is_mutual) — rn the per-src rank.
    *
    * Scale shape: one row-local assignment scan, one within-cluster
    * join keyed on list_id, a per-src window whose partition is
    * bounded by cluster size, and one N·k self-join. The DEFAULT
    * (`nlist = 0`) auto-sizes the codebook to max(16, ⌈√N⌉)
    * ([[ivfAutoNlist]]) so candidate volume stays ~linear in N at any
    * corpus size; explicit nlist pins the codebook for oracle
    * reproducibility. Cross-cluster edges are invisible by design
    * (the same published trade as [[semDedup]]).
    */
  def knnGraph(embeddings: DataFrame, k: Int = 5, nlist: Int = 0,
               dim: Int = Dim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prep = prepared(embeddings, dim)
    // cached: the assigned view feeds both sides of the pair join
    val assigned = OperatorCaches.track(
      ivfAssigned(prep, resolveNlist(prep, nlist), dim))
    val a = assigned.select(col("list_id"), col("vec_id").as("src"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("dst"),
      col("v").as("vb"), col("nrm").as("nb"))
    val scored = a.join(b, Seq("list_id"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        pairCos(col("va"), col("na"), col("vb"), col("nb"), dim).as("cos"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    // cached: the k-bounded edge set is consumed twice (edges + reverse)
    val edges = OperatorCaches.track(
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("m"))
    edges.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("cos"), col("rn"),
        coalesce(col("m"), lit(false)).as("is_mutual"))
  }

  /** Greedy k-center coreset — farthest-point data selection (the
    * classic 2-approximation; the shape behind coverage-driven data
    * pruning): starting from the min-id seed, each round selects the
    * vector FARTHEST (cosine distance) from everything selected so
    * far. The selected set is tiny (k rows, collected one row per
    * round through a distributed TakeOrdered — never a corpus
    * collect), and each round is ONE corpus scan computing
    * min-distance-to-selected as a `least` over literal-embedded
    * selected vectors, so the whole operator is k scans + k
    * single-row reduces. The emitted radius sequence (each pick's
    * distance to the prior set) is the non-increasing k-center
    * coverage profile — the stopping diagnostic for "how many
    * centers does this corpus need".
    *
    * Determinism: min-vec_id seed, max-distance pick with vec_id
    * tie-break, min as the distance fold (associative — Spark's
    * one-shot `least` over all selected equals the oracle's
    * incremental LEAST chain exactly). All arithmetic is the shared
    * dot/norm kernel, so the oracle's unrolled per-round CTEs
    * reproduce every double bit-for-bit.
    */
  def kCenterCoreset(embeddings: DataFrame, k: Int = 8,
                     dim: Int = Dim): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (_, rounds) = kCenterSelect(
      OperatorCaches.track(prepared(embeddings, dim)), k, dim)
    rounds.toDF("sel_round", "vec_id", "radius")
      .select(col("sel_round"), col("vec_id"),
        col("radius").cast("double").as("radius"))
  }

  /** The greedy farthest-point loop shared by [[kCenterCoreset]] and
    * [[kCenterAssign]]: returns the selected (id, vector, norm)
    * sequence in pick order plus the per-round output rows.
    */
  private def kCenterSelect(allRaw: DataFrame, k: Int, dim: Int)
      : (Vector[(Long, Array[Double], Double)],
         Seq[(Int, Long, Option[Double])]) = {
    // zero-norm vectors have no direction: pairCos divides by zero and
    // the NaN distance sorts GREATEST under desc, so such a vector
    // would be greedily picked every round with a NaN radius — exclude
    // them from selection entirely (they can still be covered by
    // [[kCenterAssign]]'s scan, just never chosen as a center)
    val all = allRaw.filter(col("nrm") > 0.0)
    def vecOf(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    // corpora smaller than k select everything and stop — never an
    // index-out-of-bounds on the exhausted pick (or empty seed)
    val seed = all.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
    if (seed.isEmpty) return (Vector.empty, Seq.empty)
    var selected = Vector(vecOf(seed(0)))
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, selected.head._1, None))
    var round = 2
    var exhausted = false
    while (round <= k && !exhausted) {
      val dists = selected.map { case (_, sv, sn) =>
        lit(1.0) - pairCos(col("v"), col("nrm"), lit(sv), lit(sn), dim) }
      val dmin = if (dists.size == 1) dists.head else least(dists: _*)
      val pick = all
        .filter(!col("vec_id").isInCollection(selected.map(_._1)))
        .select(col("vec_id"), col("v"), col("nrm"), dmin.as("dm"))
        .orderBy(col("dm").desc, col("vec_id")).limit(1)
        .collect()
      if (pick.isEmpty) exhausted = true
      else {
        selected :+= vecOf(pick(0))
        out += ((round, pick(0).getLong(0), Some(pick(0).getDouble(3))))
        round += 1
      }
    }
    (selected, out.toSeq)
  }

  /** Coverage assignment for the [[kCenterCoreset]] picks: every
    * corpus vector mapped to its NEAREST selected center (cosine
    * distance; ties to the earlier pick) — the per-center mass /
    * coverage map a coreset-driven pruning or stratified-sampling
    * pass consumes. One extra corpus scan after the selection loop:
    * the k centers ride in the plan as literals (a k-element struct
    * array whose lexicographic `array_min` is the argmin), so the
    * assignment is row-local — no join, no shuffle.
    */
  def kCenterAssign(embeddings: DataFrame, k: Int = 8,
                    dim: Int = Dim): DataFrame = {
    val all = OperatorCaches.track(prepared(embeddings, dim))
    val (selected, _) = kCenterSelect(all, k, dim)
    // empty corpus → no centers: an empty array() literal would make
    // `best` NullType and fail ANALYSIS — emit the typed empty frame
    if (selected.isEmpty)
      return all.select(col("vec_id"), col("vec_id").as("center_id"),
        lit(0.0).as("dist")).limit(0)
    val scored = selected.zipWithIndex.map { case ((id, sv, sn), i) =>
      struct(
        (lit(1.0) - pairCos(col("v"), col("nrm"), lit(sv), lit(sn), dim))
          .as("dist"),
        lit(i + 1).as("sel_round"), lit(id).as("center_id")) }
    all.select(col("vec_id"), array_min(array(scored: _*)).as("best"))
      .select(col("vec_id"), col("best")("center_id").as("center_id"),
        col("best")("dist").as("dist"))
  }

  /** All-pairs exact near-dup — O(N²) oracle/test baseline ONLY (the
    * recall yardstick for [[nearDupPairs]] in SimilaritySpec). Never
    * the scale path.
    */
  def nearDupPairsExact(embeddings: DataFrame, threshold: Double,
                        dim: Int = Dim): DataFrame = {
    val all = prepared(embeddings, dim)
    val a = all.select(col("vec_id").as("vec_a"), col("v").as("va"),
                       col("nrm").as("na"))
    val b = all.select(col("vec_id").as("vec_b"), col("v").as("vb"),
                       col("nrm").as("nb"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
              pairCos(col("va"), col("na"), col("vb"), col("nb"), dim).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** Per-DIMENSION embedding health profile — the corpus-level check
    * an embedding pipeline runs before trusting a new encoder drop:
    * value range, mean, and dead-slot count for every coordinate
    * (a dimension that never moves, or one vector's exploded range,
    * is an encoder bug visible only in this projection).
    *
    * Cross-engine exactness: min/max involve NO arithmetic (selected
    * float values are bit-identical in any engine); the mean rides
    * the established scaled-BIGINT playbook — each value quantized
    * ONCE to round(v·10⁶) int64, summed in exact integer arithmetic,
    * divided back out in one fixed order. `n_zero` counts exact 0.0f.
    *
    * Scale shape: one posexplode (N·dim rows) into ONE groupBy on the
    * dimension index — `dim` groups regardless of corpus size, fully
    * map-side combinable. At 100 TB this is a scan plus a dim-row
    * aggregate.
    */
  def embDimProfile(embeddings: DataFrame): DataFrame =
    graft.sources.Par.fan(embeddings)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("pos").as("dim"), col("col").cast("double").as("x"))
      .withColumn("q", round(col("x") * lit(1000000.0), 0).cast("long"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_v"), max(col("x")).as("max_v"),
        (sum(col("q")).cast("double") / count(lit(1)) / lit(1000000.0))
          .as("mean_v"),
        sum(when(col("x") === 0.0, 1L).otherwise(0L)).as("n_zero"))

  /** ANN RECALL EVAL — the measurement every approximate index owes
    * its caller: per query, how many of the exact top-`k` neighbors
    * ([[bruteForceTopK]] ground truth) the approximate method
    * returned. `method` selects the production path under test —
    * "ivf" ([[ivfTopK]], default codebook/probes so the number grades
    * exactly what the gate queries ship) or "lsh" ([[lshTopK]]).
    * recall = n_hits / k, an exact small-integer IEEE division, so
    * the output is bit-reproducible cross-engine.
    *
    * Scale shape: this is an EVAL operator — the ground-truth leg is
    * the brute-force scorer, linear in corpus PER QUERY by contract,
    * so production runs it over a small sampled query set (the
    * `queryPred` dial, exactly how the rerank family bounds its query
    * side); the approximate leg is the scale path being graded. The
    * hit join and per-query aggregate are k-bounded.
    */
  /** The shared recall-eval scaffold (ONE definition so a change to
    * the recall contract lands in annRecall, annRecallCurve and
    * annRecallLadder together or not at all): left-join the
    * brute-force truth against an approximate top-k leg, marking
    * hits. The dropDuplicates is robustness over correctness-by-
    * coincidence: today every approximate path dedupes via
    * row_number, but a future method emitting a duplicate (query,
    * neighbor) row would fan out the truth join and inflate BOTH the
    * hit count and the denominator (r14 ADVICE). k-bounded input, so
    * the distinct is ~free.
    */
  private def truthHits(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.join(
      approx.select(col("query_id"), col("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id")
        .withColumn("hit", lit(1L)),
      Seq("query_id", "neighbor_id"), "left")

  /** The recall aggregate columns over a [[truthHits]] frame —
    * n_hits / `denom` / recall, the exact small-integer IEEE division
    * every recall eval shares bit-for-bit with its oracle.
    */
  private def recallAggs(denom: String): Seq[Column] = Seq(
    count(col("hit")).as("n_hits"), count(lit(1)).as(denom),
    (count(col("hit")).cast("double") / count(lit(1)).cast("double"))
      .as("recall"))

  def annRecall(embeddings: DataFrame, queryPred: Column, k: Int,
                method: String = "ivf", dim: Int = Dim): DataFrame = {
    val approx = method match {
      case "ivf" => ivfTopK(embeddings, queryPred, k, dim = dim)
      case "lsh" => lshTopK(embeddings, queryPred, k, dim = dim)
      case other => throw new IllegalArgumentException(
        s"annRecall method must be ivf or lsh, got $other")
    }
    val aggs = recallAggs("k")
    truthHits(
        bruteForceTopK(embeddings, queryPred, k, dim)
          .select("query_id", "neighbor_id"), approx)
      .groupBy("query_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** IVF TUNING CURVE — recall@k vs `nprobe`, the dial every IVF
    * deployment sets by measurement: for each probe width, how much
    * of the exact top-`k` the probe chain recovers, micro-averaged
    * over the query panel. This is [[annRecall]] swept across probe
    * widths with ONE shared ground-truth leg (the brute-force scan
    * runs once; each curve point adds only the bounded probe chain
    * and a k-bounded hit join). Output: one row per nprobe —
    * (nprobe, n_hits, n_truth, recall), recall the exact
    * small-integer IEEE division.
    */
  def annRecallCurve(embeddings: DataFrame, queryPred: Column,
                     k: Int = 3, nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                     dim: Int = Dim): DataFrame = {
    // the frames every nprobe rung shares (corpus, pivots, and the
    // nprobe-independent assignment) are cached once and passed to the
    // IVF kernel (r16/r17); values equal per-rung ivfTopK calls
    val all = OperatorCaches.track(prepared(embeddings, dim))
    val truth = OperatorCaches.track(
      bruteForceOn(all, queryPred, k, dim).select("query_id", "neighbor_id"))
    val pivots = OperatorCaches.track(pivotArr(all, DefaultNlist))
    val assigned = OperatorCaches.track(assignBy(all, pivots, dim))
    val queries = all.filter(queryPred)
    val aggs = recallAggs("n_truth")
    nprobes.map { np =>
      truthHits(truth, ivfSearch(queries, pivots, assigned, k, np, dim))
        .agg(aggs.head, aggs.tail: _*)
        .select(lit(np).as("nprobe"), col("n_hits"), col("n_truth"),
          col("recall"))
    }.reduce(_ unionAll _)
  }

  /** ANN RECALL LADDER — one measured recall@k row for EVERY index
    * variant the library ships (r14 verdict Next #3): the two gate
    * paths ("ivf", "lsh") plus the six that previously graded only
    * via rerank-parity oracles — raw PQ-ADC ("ivfpq"), its two-stage
    * exact-rerank form ("ivfpq_rerank"), residual-encoded IVFADC
    * ("ivfpq_residual") and its serving stack ("residual_rerank"),
    * the JL random-projection prefilter ("rp_rerank"), and the fully
    * trained production shape ("trained_rerank", coarse quantizer AND
    * PQ book from one Lloyd round over the deterministic 25% sample —
    * the exact shape q_ann_trained_rerank ships). Each method runs at
    * the same defaults its gate query uses, so the number grades the
    * shipped configuration, not a tuned one.
    *
    * Scale shape: ONE shared brute-force ground-truth leg (cached;
    * linear-in-corpus per query by contract over the bounded
    * `queryPred` panel — the documented eval contract of
    * [[annRecall]]); each ladder rung adds only that method's own
    * sub-linear probe chain plus a k-bounded hit join and a
    * micro-averaged per-method aggregate. Output: one row per method
    * (method, n_hits, n_truth, recall), recall the exact
    * small-integer IEEE division shared bit-for-bit with the oracle.
    */
  /** The ladder's full method inventory, in published order. */
  val LadderMethods: Seq[String] = Seq("ivf", "lsh", "ivfpq",
    "ivfpq_rerank", "ivfpq_residual", "residual_rerank", "rp_rerank",
    "trained_rerank")

  def annRecallLadder(embeddings: DataFrame, queryPred: Column,
                      k: Int = 3, dim: Int = Dim,
                      methods: Seq[String] = LadderMethods): DataFrame = {
    // == shared index structures, built ONCE and passed by argument ==
    // pivots + assignment (untrained IVF rungs), book + 8-byte encoding
    // (raw-PQ rungs), residual frame + book (residual rungs); per-rung
    // rebuilds ran the ladder at 135 driver jobs (r16). They ARE the
    // rungs' default plans, so recalls are bit-identical. Lazy: a
    // `methods` subset builds only what its rungs reference.
    val msub = DefaultMsub
    val all = OperatorCaches.track(prepared(embeddings, dim))
    val truth = OperatorCaches.track(
      bruteForceOn(all, queryPred, k, dim).select("query_id", "neighbor_id"))
    val queries = all.filter(queryPred)
    lazy val pivots = OperatorCaches.track(pivotArr(all, DefaultNlist))
    lazy val assigned = assignBy(all, pivots, dim)
    lazy val rawBook = OperatorCaches.track(pqBook(all, DefaultKsub))
    lazy val rawCodes = OperatorCaches.track(
      encodeBy(assigned, rawBook, col("v"), msub, dim))
    lazy val resid = OperatorCaches.track(residualOf(assigned, pivots))
    lazy val residBook = OperatorCaches.track(
      residualBook(resid, DefaultNlist, DefaultKsub))
    lazy val residCodes = encodeBy(resid, residBook, col("r"), msub, dim)
    def rawPq(n: Int): DataFrame =
      ivfPqSearch(queries, pivots, rawBook, rawCodes, n, 4, msub, dim)
    def residualPq(n: Int): DataFrame =
      ivfPqResidualSearch(queries, pivots, residBook, residCodes, n, 4,
        msub, dim)
    // ONE Lloyd round over the 25% sample, the book in both roles
    // (mirrors q_ann_trained_rerank)
    def trainedPq(n: Int): DataFrame = {
      val book = kmeansCarr(
        embeddings.filter(pmod(col("vec_id"), lit(4L)) === 0),
        k = 16, iters = 1)
      val tp = carrToPivotArr(book)
      ivfPqSearch(queries, tp, book, pqEncode(all, tp, book, msub, dim), n,
        4, msub, dim)
    }
    val byName: Map[String, () => DataFrame] = Map(
      "ivf" -> (() => ivfSearch(queries, pivots, assigned, k, 4, dim)),
      "lsh" -> (() => lshOn(all, queryPred, k, 8, dim)),
      "ivfpq" -> (() => rawPq(k)),
      "ivfpq_rerank" -> (() => rerankShortlist(all, queryPred, rawPq(20), k, dim)),
      "ivfpq_residual" -> (() => residualPq(k)),
      "residual_rerank" -> (() =>
        rerankShortlist(all, queryPred, residualPq(40), k, dim)),
      "rp_rerank" -> (() => rpRerankOn(all, queryPred, k, 20, 16, dim)),
      "trained_rerank" -> (() =>
        rerankShortlist(all, queryPred, trainedPq(40), k, dim)))
    val chosen = methods.map { m =>
      m -> byName.getOrElse(m, throw new IllegalArgumentException(
        s"annRecallLadder: unknown method $m (have ${LadderMethods})"))
    }
    val aggs = recallAggs("n_truth")
    chosen.map { case (name, mk) =>
      truthHits(truth, mk())
        .agg(aggs.head, aggs.tail: _*)
        .select(lit(name).as("method"), col("n_hits"), col("n_truth"),
          col("recall"))
    }.reduce(_ unionAll _)
  }

  /** Deterministic CLUSTERED corpus derived from the embedding
    * table's first `nCenters` vectors: each center plus `copies`
    * md5-nibble-perturbed points around it (the RecallAudit
    * two-regime generator, promoted to an oracle-replayable operator
    * input). This is the IVFADC premise made concrete — the corpus
    * CONCENTRATES around the coarse cells, so residuals are pure
    * within-cell offsets and residual PQ has something to win on,
    * unlike the near-uniform gate corpus where residual ≈ raw PQ by
    * construction (r15 verdict, What's missing #3). Copy `c` of
    * center `i` gets vec_id `i + nCenters·c`, noise
    * (nibble − 7.5)/128 per coordinate from md5("clu:c:a|b:i") — the
    * same exact-dyadic noise shape as [[perturbedCopies]], so a SQL
    * oracle replays the corpus bit-for-bit. Size is FIXED
    * (nCenters·(copies+1)) by design: this is a regime probe, not a
    * corpus-scaling query.
    */
  def clusteredCopies(embeddings: DataFrame, nCenters: Int = 16,
                      copies: Int = 40, dim: Int = Dim): DataFrame = {
    require(dim <= 64, s"clusteredCopies draws nibbles from two md5 " +
      s"digests (64 nibbles); dim=$dim > 64 would reuse noise")
    val centers = embeddings.filter(col("vec_id") < nCenters)
      .select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
    // ONE explode branch, not a `copies`-branch union: the md5 seed
    // strings are built from the exploded copy index column, so the
    // values are identical to the per-copy spelling while the plan
    // stays a single projection (41 union branches × 64 nibble
    // expressions each took longer to Janino-compile than to run)
    val withD = centers
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(1), lit(copies))).as("c"))
      .select(col("vec_id"), col("embedding"), col("c"),
        md5(concat(lit("clu:"), col("c").cast("string"), lit(":a:"),
          col("vec_id").cast("string"))).as("da"),
        md5(concat(lit("clu:"), col("c").cast("string"), lit(":b:"),
          col("vec_id").cast("string"))).as("db"))
    val noisy = withD.select(
      (col("vec_id") + lit(nCenters.toLong) * col("c")).as("vec_id"),
      array((1 to dim).map(j =>
        element_at(col("embedding"), j) + nibbleEps(j)): _*).as("embedding"))
    // lineage CUT, not just cached: the corpus is a FIXED-SIZE
    // nCenters·(copies+1) frame behind a `copies`-branch union of
    // md5-heavy projections, and every ladder rung re-consumes it
    // several times (truth leg, pivot scan, PQ encode, ADC, rerank).
    // Uncached, each consumer re-evaluates all branches (198 s for
    // the 3-rung clustered panel at sf0.1); cache() alone still
    // serializes the whole union lineage into every task binary
    // (13.5 MiB broadcasts, 137 s); localCheckpoint materializes the
    // 656 rows once and hands consumers a leaf (7 s) — the same cut
    // the CC label fixpoint uses. coalesce(1) first (r17): the cut
    // otherwise keeps the SCAN's partitioning, so every map-side
    // stage of the 3-rung panel paid 32 tasks for ~20 rows each
    // (measured: 927 tasks / 57 jobs over a 656-row corpus); the
    // frame is fixed-size by contract, so one partition is its right
    // layout at any scale.
    centers.unionByName(noisy).coalesce(1).localCheckpoint(true)
  }
}
