package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Streaming ANN index maintenance — the continuous-ingest face of
  * [[graft.operators.Similarity.ivfTopK]], completing the streaming
  * family (dedup → clusters → curation → similarity): new embeddings
  * arrive in micro-batches and become searchable without ever
  * re-indexing the corpus.
  *
  * The published IVF production shape: the codebook is TRAINED ONCE
  * (here: [[Similarity.pivotArr]]'s deterministic first-`nlist`
  * pivots, frozen at [[build]] time — a k-means codebook drops into
  * the same one-row frame) and every later batch is assigned against
  * that frozen codebook ROW-LOCALLY (one broadcast of `nlist` pivots,
  * |batch|×nlist scoring, no shuffle of batch or corpus). The index
  * is an append-only union of checkpointed per-batch segments —
  * per-batch maintenance is O(|batch|) scoring plus a metadata-only
  * union, the same log-structured shape as [[CurationLoop]]'s
  * indexes, with [[consolidate]] as the scheduled segment compaction.
  *
  * Because assignment is per-vector against the same frozen codebook,
  * the maintained index is ROW-IDENTICAL to the batch operator's
  * assignment of the full corpus (StreamAnnSpec pins build+ingest ≡
  * `ivfTopK` over the final corpus, provided the pivot vectors are in
  * the seed — the batch twin derives its codebook from the full
  * corpus by the same `vec_id < nlist` rule). The divergence to know:
  * a batch recompute could RETRAIN the codebook on the grown corpus;
  * the INGEST path deliberately does not. [[IngestAudit.meanBestCos]]
  * is the drift signal that decides when a retrain + reindex is due —
  * falling assignment quality means the frozen pivots no longer cover
  * the distribution — and [[retrainPq]] is that maintenance op,
  * executable in-engine.
  */
object StreamAnn {

  /** Frozen codebook (one-row pivot array) + append-only assigned
    * index (vec_id, v, nrm, list_id, best_cos).
    */
  final case class AnnState(pivots: DataFrame, index: DataFrame,
                            nlist: Int, dim: Int)

  /** Per-ingest observability: batch size and mean assignment cosine
    * (the codebook-drift signal).
    */
  final class IngestAudit {
    @volatile var assigned: Long = -1L
    @volatile var meanBestCos: Double = Double.NaN
  }

  /** Index the seed corpus: materialize the codebook and the initial
    * inverted-list assignment.
    */
  def build(corpus: DataFrame, nlist: Int = 16,
            dim: Int = Similarity.Dim): AnnState = {
    val all = Similarity.prepared(corpus, dim)
    val pivots = Similarity.pivotArr(all, nlist).localCheckpoint(true)
    val index = Similarity.assignBy(all, pivots, dim).localCheckpoint(true)
    AnnState(pivots, index, nlist, dim)
  }

  /** Fold one micro-batch of (vec_id, embedding) rows into the index:
    * row-local assignment against the frozen codebook, metadata-only
    * append.
    */
  def ingest(state: AnnState, batch: DataFrame,
             audit: Option[IngestAudit] = None): AnnState = {
    val assigned = Similarity.assignBy(
        Similarity.prepared(batch, state.dim), state.pivots, state.dim)
      .localCheckpoint(true)
    audit.foreach { a =>
      val r = assigned.agg(count(lit(1)).as("n"),
        avg(col("best_cos")).as("m")).head()
      a.assigned = r.getLong(0)
      a.meanBestCos = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
    }
    state.copy(index = state.index.unionAll(assigned))
  }

  /** Top-k search over the maintained index — the batch operator's
    * own kernel ([[Similarity.ivfSearch]]) run on the frozen pivots
    * and the maintained inverted lists: queries rank the pivots
    * row-locally, probe their `nprobe` closest lists, and only those
    * lists are scored exactly.
    */
  def query(state: AnnState, queries: DataFrame, k: Int,
            nprobe: Int = 4): DataFrame =
    Similarity.ivfSearch(Similarity.prepared(queries, state.dim),
      state.pivots, state.index, k, nprobe, state.dim)

  /** Collapse the index's append-only union to one checkpointed
    * segment — scheduled compaction, amortized like the other
    * streaming stores' housekeeping.
    */
  def consolidate(state: AnnState): AnnState =
    state.copy(index = state.index.localCheckpoint(true))

  /** Persist the maintained store as parquet — codebook, inverted
    * lists, and the (nlist, dim) config as a one-row meta table — so
    * a restart (or a different cluster) serves and keeps ingesting
    * WITHOUT re-deriving the index from the corpus: at 100 TB the
    * inverted lists are the expensive artifact, and the codebook
    * must ride along bit-for-bit or every stored assignment silently
    * disagrees with later probes. Round-trip is exact: vectors are
    * array<double> in parquet, so [[load]] restores bit-identical
    * state (StreamAnnSpec pins query equality and post-load ingest).
    */
  def save(state: AnnState, dir: String): Unit = {
    state.pivots.write.mode("overwrite").parquet(s"$dir/pivots")
    state.index.write.mode("overwrite").parquet(s"$dir/index")
    val spark = state.index.sparkSession
    import spark.implicits._
    Seq((state.nlist, state.dim)).toDF("nlist", "dim")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Reload a [[save]]d store. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): AnnState = {
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    AnnState(
      pivots = spark.read.parquet(s"$dir/pivots"),
      index = spark.read.parquet(s"$dir/index"),
      nlist = meta.getAs[Int]("nlist"), dim = meta.getAs[Int]("dim"))
  }

  // ---- PQ leg: the compressed production layout, maintained online --

  /** Frozen pivots + frozen PQ book + append-only CODE index
    * (vec_id, list_id, codes) — the [[graft.operators.Similarity.ivfPqTopK]]
    * layout maintained online. Unlike [[AnnState]], the stored rows
    * carry `msub` small ints instead of `dim` doubles (the 64×
    * memory cut that lets 100 TB of fp32 embeddings live in cluster
    * RAM as codes), so the streaming store and the search cost are
    * both compressed.
    */
  final case class PqAnnState(pivots: DataFrame, book: DataFrame,
                              codes: DataFrame, nlist: Int, msub: Int,
                              dim: Int)

  /** Index the seed corpus: freeze pivots + PQ book, encode the seed.
    * Both codebooks derive from the seed by the deterministic
    * first-`n` rule, exactly as the batch operator derives them from
    * its corpus — so as long as those vectors are in the seed, the
    * maintained index is row-identical to a batch re-encode
    * (StreamAnnSpec pins it).
    */
  def buildPq(corpus: DataFrame, nlist: Int = 16, msub: Int = 8,
              ksub: Int = 16, dim: Int = Similarity.Dim): PqAnnState = {
    require(dim % msub == 0, s"dim $dim must divide into $msub sub-spaces")
    val all = Similarity.prepared(corpus, dim)
    val pivots = Similarity.pivotArr(all, nlist).localCheckpoint(true)
    val book = Similarity.pqBook(all, ksub).localCheckpoint(true)
    val codes = Similarity.pqEncode(all, pivots, book, msub, dim)
      .localCheckpoint(true)
    PqAnnState(pivots, book, codes, nlist, msub, dim)
  }

  /** Fold one micro-batch into the code index: row-local
    * assign+encode against the two frozen one-row frames, then a
    * metadata-only append — O(|batch|) per ingest, nothing rescans
    * the corpus.
    */
  def ingestPq(state: PqAnnState, batch: DataFrame): PqAnnState =
    state.copy(codes = state.codes.unionAll(
      Similarity.pqEncode(Similarity.prepared(batch, state.dim),
        state.pivots, state.book, state.msub, state.dim)
        .localCheckpoint(true)))

  /** ADC top-k over the maintained code index — the batch operator's
    * own kernel ([[Similarity.ivfPqSearch]]) run on the frozen books
    * and the maintained codes: queries stay exact (their ADC tables
    * are built from raw vectors), candidates cost `msub` lookups.
    */
  def queryPq(state: PqAnnState, queries: DataFrame, k: Int,
              nprobe: Int = 4): DataFrame =
    Similarity.ivfPqSearch(Similarity.prepared(queries, state.dim),
      state.pivots, state.book, state.codes, k, nprobe, state.msub,
      state.dim)

  /** The production two-stage serving layout over the maintained code
    * index: [[queryPq]] ranks the probed candidates on compressed
    * codes, then the top-`rerank` survivors per query are re-scored by
    * exact cosine against their FULL vectors read from
    * `corpusVectors` — the raw-vector store the codes were encoded
    * from (at scale a parquet/bucketed table). The shortlist joins to
    * the RAW store before any per-vector math, so only the
    * |Q|·rerank joined rows are cast and normed — the corpus-sized
    * thing in memory stays the code index, and the full-vector store
    * is touched only through the bounded keyed join (bucket/partition
    * pruning on `vec_id` applies when the store is laid out for it).
    * The two stores are maintained independently at scale, so a
    * shortlist id MISSING from the raw store is an out-of-sync bug,
    * not a degraded result: the join is left-outer and a missing
    * vector raises with the offending id rather than silently
    * promoting worse neighbors. Ranking and result shape are
    * identical to [[graft.operators.Similarity.ivfPqRerankTopK]] —
    * both operators share [[Similarity.exactRerank]], and
    * StreamAnnSpec pins equality against the batch operator across a
    * build + two ingests.
    */
  def queryPqRerank(state: PqAnnState, queries: DataFrame,
                    corpusVectors: DataFrame, k: Int, rerank: Int = 20,
                    nprobe: Int = 4): DataFrame = {
    val qsrc = graft.operators.OperatorCaches.track(
      Similarity.prepared(queries, state.dim))
    val shortlist = Similarity.ivfPqSearch(qsrc, state.pivots, state.book,
        state.codes, rerank, nprobe, state.msub, state.dim)
      .select(col("query_id"), col("neighbor_id"))
    val q = qsrc.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qnrm"))
    val raw = corpusVectors.select(col("vec_id").as("neighbor_id"),
      col("embedding"))
    val withVec = shortlist.join(q, "query_id")
      .join(raw, Seq("neighbor_id"), "left")
      .withColumn("v", when(col("embedding").isNull,
          raise_error(concat(
            lit("queryPqRerank: vec_id "), col("neighbor_id"),
            lit(" is in the code index but missing from the raw-vector " +
              "store — stores out of sync"))))
        .otherwise(Similarity.asDouble(col("embedding"))))
      .withColumn("nrm", Similarity.norm(col("v"), state.dim))
    Similarity.exactRerank(withVec, k, state.dim)
  }

  /** The RETRAIN + REINDEX the drift signal decides — the maintenance
    * op [[IngestAudit.meanBestCos]]'s scaladoc defers to "offline":
    * when assignment quality against the frozen books has fallen
    * (the ingested distribution moved away from the build-time
    * corpus), train ONE fresh book on the grown corpus
    * ([[Similarity.kmeansCarr]], `iters` Lloyd rounds over the
    * `samplePred` training sample — the production shape: train on a
    * sample, quantize everything) and re-encode every vector against
    * it, the book serving both the coarse and PQ roles exactly as the
    * batch trained stack (q_ann_trained_rerank) composes it.
    *
    * Cost is O(corpus) — one row-local encode pass over the raw-vector
    * store (the ONE op that re-reads it; ingest/query never do) plus
    * the Lloyd rounds on the sample — paid only when the drift signal
    * fires, amortized like consolidation. The returned state is fully
    * consolidated (one codes segment) and serves [[queryPq]] /
    * [[queryPqRerank]] unchanged; StreamAnnSpec pins it bit-equal to
    * the batch operator under the same trained books.
    */
  def retrainPq(state: PqAnnState, corpusVectors: DataFrame,
                ksub: Int = 16, iters: Int = 1,
                samplePred: Column = lit(true)): PqAnnState = {
    val book = Similarity.kmeansCarr(corpusVectors.filter(samplePred),
      ksub, iters, state.dim).localCheckpoint(true)
    val pivots = Similarity.carrToPivotArr(book).localCheckpoint(true)
    val codes = Similarity.pqEncode(
        Similarity.prepared(corpusVectors, state.dim),
        pivots, book, state.msub, state.dim)
      .localCheckpoint(true)
    PqAnnState(pivots, book, codes, nlist = ksub, state.msub, state.dim)
  }
}
