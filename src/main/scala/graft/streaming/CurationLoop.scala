package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Continuous corpus curation — the full production ingest loop the
  * streaming dedup pieces compose into, one micro-batch at a time:
  *
  *   1. CLASSIFY the batch against the standing corpus (exact-hash +
  *      MinHash band-key probes — [[graft.operators.Dedup.incrementalDedup]]
  *      semantics);
  *   2. EXTRACT the batch's near-dup edges: batch×corpus band
  *      collisions (the same probe scan), plus batch-internal ones;
  *   3. MAINTAIN cluster labels incrementally ([[StreamClusters]] —
  *      only components the new edges touch are rebuilt);
  *   4. GROW the indexes (exact hashes + band keys) by the batch.
  *
  * Invariant (pinned in StreamingSpec): since every unordered pair of
  * docs shares its band buckets exactly once across the ingest
  * history — at the later doc's batch — the CUMULATIVE edge set
  * equals `minhashCandidates` over the whole corpus, so the
  * maintained labels equal the batch `connectedComponents` over the
  * full-corpus candidate graph after every batch.
  *
  * == Per-batch cost contract ==
  * Nothing corpus-sized is materialized or shuffled per batch:
  *
  *   - PROBES (classify + cross edges): ONE scan of each standing
  *     index with the batch side BROADCAST — the index never moves
  *     through a shuffle and is never rewritten. The exact and band
  *     probes share their scans (the band scan yields both the
  *     `dup_near` ids and the batch×corpus edges). At table scale the
  *     indexes are hash-bucketed tables keyed on `eh` / `(band, bkey)`
  *     and the same probes are bucket-pruned point lookups that read
  *     only the batch's buckets — [[BucketedCuration]] IS that layout,
  *     executable (BucketedCurationSpec pins batch-by-batch parity
  *     with this loop plus the pruned-scan plan shape); the in-memory
  *     frames here are the low-latency face with identical join
  *     shapes.
  *   - MAINTENANCE is O(|batch|) appends: the exact index appends only
  *     the batch's not-already-present hashes (an anti-join of two
  *     batch-sized frames), the band index appends the batch's
  *     checkpointed keys as a metadata-only union, and the cluster
  *     state appends changelog segments ([[StreamClusters]] — the
  *     label store is base + delta, never rewritten per batch).
  *     StreamingSpec pins the bound with a stage-metrics audit: the
  *     records read by the maintenance job group stay flat while the
  *     corpus grows.
  *
  * The append-only unions' leaf counts grow with batches;
  * [[consolidate]] collapses both indexes to one checkpointed
  * segment each and compacts the cluster store — scheduled
  * housekeeping ([[Runner]] wires it on a batch-count trigger),
  * amortized O(corpus / interval) per batch, exactly a
  * log-structured table's compaction. At table scale the appends are
  * storage-level and this loop body is what a foreachBatch sink runs.
  *
  * Same documented df-cap divergence as [[StreamDedup]]: batch-side
  * signatures cap document frequency within the batch, the corpus
  * index capped at its own build time; identical results whenever no
  * shingle crosses the cap.
  */
object CurationLoop {

  final case class CurationState(exactIdx: DataFrame, bandIdx: DataFrame,
                                 clusters: StreamClusters.ClusterState)

  /** Job group tagged onto the index-maintenance actions of each
    * [[ingest]] — the hook StreamingSpec's cost audit hangs its
    * stage-metrics listener on.
    */
  val MaintainJobGroup = "graft-curation-maintain"

  /** Per-ingest observability (set when passed to [[ingest]]):
    * rows APPENDED to each index this batch — both O(|batch|) by
    * construction — and the batch's distinct near-dup edge count
    * (what the cluster state absorbed, the number a size-triggered
    * compaction policy accumulates).
    */
  final class CurationAudit {
    @volatile var exactAppended: Long = -1L
    @volatile var bandAppended: Long = -1L
    @volatile var edgesAppended: Long = -1L
  }

  /** Wall-clock per ingest phase, in milliseconds — each phase is
    * closed by the eager checkpoint(s) that run its jobs, so the
    * split is honest about where the batch's time goes. `SoakAudit`
    * records the per-batch series and asserts flatness per phase.
    */
  final class PhaseTimes {
    /** Batch-derived frames (docs/hashes/keys) checkpointed — O(batch). */
    @volatile var prepMs: Double = 0.0
    /** Index probe scans (exact + band, batch side broadcast). */
    @volatile var classifyMs: Double = 0.0
    /** Status assembly + batch-internal edges — batch-local joins. */
    @volatile var edgesMs: Double = 0.0
    /** Incremental cluster maintenance — O(batch + touched). */
    @volatile var clustersMs: Double = 0.0
    /** Index appends — O(batch). */
    @volatile var maintainMs: Double = 0.0
    /** Scheduled consolidation, when it fired this batch (else 0) —
      * amortized O(corpus), reported separately from the flat phases.
      */
    @volatile var consolidateMs: Double = 0.0
    def ingestTotalMs: Double =
      prepMs + classifyMs + edgesMs + clustersMs + maintainMs
  }

  def emptyState(spark: org.apache.spark.sql.SparkSession): CurationState = {
    import spark.implicits._
    CurationState(
      Seq.empty[String].toDF("eh"),
      Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bkey"),
      StreamClusters.emptyState(spark))
  }

  /** One ingest step: returns (per-doc statuses, updated state).
    * Statuses: `dup_exact` | `dup_near` | `new`, vs the PRE-batch
    * corpus (the incrementalDedup contract).
    */
  def ingest(state: CurationState, batch: DataFrame,
             audit: Option[CurationAudit] = None,
             phases: Option[PhaseTimes] = None): (DataFrame, CurationState) = {
    def timed[A](set: (PhaseTimes, Double) => Unit)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      phases.foreach(p => set(p, (System.nanoTime() - t0) / 1e6))
      r
    }
    val (docs, hashes, keys) = timed((p, v) => p.prepMs = v) {
      val d = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
      val h = d.select(col("doc_id"), md5(col("text")).as("eh"))
        .localCheckpoint(true)
      val k = Dedup.bandKeys(Dedup.minhashSignatures(d), 8, 2)
        .localCheckpoint(true)
      (d, h, k)
    }
    // 1. classify vs the pre-batch corpus: one broadcast-probed scan
    // of each standing index. The batch side is broadcast explicitly —
    // the corpus-side index must never be the build side (it grows
    // without bound) and must never shuffle. The band scan also yields
    // the batch×corpus collision pairs, so edge extraction reuses it.
    val (exactIds, bandHits) = timed((p, v) => p.classifyMs = v) {
      val e = state.exactIdx
        .join(broadcast(hashes), Seq("eh")).select("doc_id")
        .localCheckpoint(true)
      val b = state.bandIdx.as("c")
        .join(broadcast(keys.as("b")),
          col("b.band") === col("c.band") && col("b.bkey") === col("c.bkey"))
        .select(col("b.doc_id").as("probe_id"), col("c.doc_id").as("corpus_id"))
        .localCheckpoint(true)
      (e, b)
    }
    // 2. statuses + near-dup edges — batch-local work over the probe
    // results (the shared band scan plus a batch self-join)
    val (statuses, edges) = timed((p, v) => p.edgesMs = v) {
      val s = Dedup.curationStatus(docs, exactIds,
          bandHits.select(col("probe_id").as("doc_id")))
        .localCheckpoint(true)
      val ed = Dedup.batchEdges(bandHits, keys).localCheckpoint(true)
      (s, ed)
    }
    // 3. incremental cluster maintenance on the new edges only
    val clusters = timed((p, v) => p.clustersMs = v) {
      StreamClusters.ingest(state.clusters, edges)
    }
    // 4. indexes grow by the batch — O(|batch|) appends, tagged with
    // the maintenance job group so the cost is independently auditable.
    // Exact: the classify step already named the hashes the index has
    // (`dup_exact`), so append the rest after a BATCH-local distinct
    // (two batch docs may share a new text) — disjoint from the
    // standing index by construction, so the index stays a set with
    // no corpus-wide pass. Band: doc_ids are unique per batch, so the
    // checkpointed key frame appends as a metadata-only union.
    val sc = docs.sparkSession.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(MaintainJobGroup, "curation index maintenance")
    val newExact = timed((p, v) => p.maintainMs = v) {
      try {
        val ne = hashes
          .join(statuses.filter(col("status") === "dup_exact"),
            Seq("doc_id"), "left_anti")
          .select("eh").distinct().localCheckpoint(true)
        audit.foreach { a =>
          a.exactAppended = ne.count()
          a.bandAppended = keys.count()
          a.edgesAppended = edges.count()
        }
        ne
      } finally {
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
      }
    }
    val nextState = CurationState(
      state.exactIdx.unionAll(newExact),
      state.bandIdx.unionAll(keys),
      clusters)
    (statuses, nextState)
  }

  /** Admission decision — the gate a production ingest loop applies
    * after [[ingest]] classifies a batch: a document is ADMITTED iff
    * it is novel against the standing corpus (`status == "new"`),
    * clears the heuristic quality bar
    * ([[graft.operators.TextAnalysis.qualityScore]]), is PII-clean
    * ([[graft.operators.TextAnalysis.piiScan]]), and — when an eval
    * benchmark's gram set is supplied
    * ([[graft.operators.Dedup.evalGramSet]], the standing broadcast
    * state) — shares no n-gram with the benchmark
    * ([[graft.operators.Dedup.decontaminateAgainst]]). Every gate
    * works on the BATCH only (row-local column algebra or a
    * broadcast-probe), joined back on doc_id — per-batch cost stays
    * O(|batch|), the ingest contract. Returns one row per batch doc
    * with the per-gate evidence (status, quality, pii_clean,
    * contaminated) plus the composed verdict, so a rejected doc is
    * auditable.
    */
  def admissions(batch: DataFrame, statuses: DataFrame,
                 minQuality: Double = 0.5,
                 evalGrams: Option[DataFrame] = None): DataFrame = {
    val q = graft.operators.TextAnalysis.qualityScore(batch)
      .select(col("doc_id"), col("quality"))
    val pii = graft.operators.TextAnalysis.piiScan(batch)
      .select(col("doc_id"), col("is_clean").as("pii_clean"))
    val decon = evalGrams match {
      case Some(g) => graft.operators.Dedup.decontaminateAgainst(batch, g)
        .select(col("doc_id"), col("contaminated"))
      case None => batch.select(col("doc_id"), lit(false).as("contaminated"))
    }
    statuses.join(q, "doc_id").join(pii, "doc_id").join(decon, "doc_id")
      .select(col("doc_id"), col("status"), col("quality"),
        col("pii_clean"), col("contaminated"),
        (col("status") === "new" && col("quality") >= minQuality &&
          col("pii_clean") && !col("contaminated")).as("admit"))
  }

  /** Collapse both append-only indexes to one checkpointed segment
    * each and compact the cluster store (changelog → fresh base +
    * star forest) — the scheduled compaction that bounds plan depth
    * (union leaves) and store size. O(corpus) when it runs; amortized
    * by the trigger interval, never paid per batch.
    */
  def consolidate(state: CurationState): CurationState =
    CurationState(
      state.exactIdx.localCheckpoint(true),
      state.bandIdx.localCheckpoint(true),
      StreamClusters.compact(state.clusters))

  /** foreachBatch wiring: folds batches through [[ingest]], hands
    * each batch's statuses to `onStatuses` (the downstream sink —
    * default discards), and runs [[consolidate]] every
    * `consolidateEvery` batches so a long-lived stream keeps bounded
    * plan depth and a compacted cluster store without the caller
    * remembering to do housekeeping. Consolidation also releases the
    * operator-internal caches accumulated by the per-batch cluster
    * fixpoints ([[graft.operators.OperatorCaches]]) — safe because
    * every state frame is eagerly checkpointed, so nothing in the
    * carried state references them.
    */
  final class Runner(spark: org.apache.spark.sql.SparkSession,
                     consolidateEvery: Int = 32,
                     onStatuses: (DataFrame, Long) => Unit = (_, _) => ()) {
    @volatile private var st: CurationState = emptyState(spark)
    @volatile private var batches: Long = 0L
    @volatile private var nConsolidations: Long = 0L
    @volatile private var phases: PhaseTimes = new PhaseTimes
    def state(): CurationState = st
    def consolidationCount: Long = nConsolidations
    /** Phase wall-times of the most recent [[sink]] call. */
    def lastPhases: PhaseTimes = phases
    def sink(batch: DataFrame, batchId: Long): Unit = {
      val ph = new PhaseTimes
      val (statuses, next) = ingest(st, batch, phases = Some(ph))
      st = next
      batches += 1
      if (batches % consolidateEvery == 0) {
        val t0 = System.nanoTime()
        st = consolidate(st)
        graft.operators.OperatorCaches.releaseAll()
        ph.consolidateMs = (System.nanoTime() - t0) / 1e6
        nConsolidations += 1
      }
      phases = ph
      onStatuses(statuses, batchId)
    }
  }
}
