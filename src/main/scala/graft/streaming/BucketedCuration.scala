package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The curation loop's standing indexes as BUCKETED CATALOG TABLES —
  * the at-scale layout [[CurationLoop]]'s scaladoc promises ("at table
  * scale the indexes are hash-bucketed tables keyed on `eh` /
  * `(band, bkey)` and the same probes are bucket-pruned point
  * lookups"). This face makes that executable and pinned instead of
  * prose:
  *
  *   - The exact-hash index is a parquet table bucketed on `eh`; the
  *     band index a parquet table bucketed on `bkey`. One bucket
  *     column each — Spark's bucket-filter pruning
  *     (`FileSourceScanExec.optionalBucketSet`) prunes on equality/IN
  *     over the single bucket column.
  *   - A probe collects the BATCH's distinct key values (O(|batch|),
  *     bounded by admission control — the same driver-side key set a
  *     point-lookup serving layer would form) and scans the table
  *     under an `isin` filter on the bucket column: the scan reads
  *     ONLY the batch's buckets (`SelectedBucketsCount m out of n` in
  *     the plan — BucketedCurationSpec asserts m < n), then the
  *     broadcast batch-side join reproduces [[CurationLoop.ingest]]'s
  *     probe shape exactly. Catalyst's
  *     `DisableUnnecessaryBucketedScan` keeps a scan bucketed exactly
  *     when it carries a bucket filter, so the pruning survives AQE.
  *   - MAINTENANCE appends the batch's rows with the table's own
  *     bucket spec (append-mode `saveAsTable` validates it) —
  *     O(|batch|) rows written into the batch's buckets; the standing
  *     table is never rewritten per batch. Appends accrete one file
  *     per touched bucket per batch (the log-structured small-file
  *     regime), so [[consolidate]] compacts the table on the same
  *     amortized schedule [[CurationLoop.consolidate]] uses.
  *
  * At 100 TB the probe reads ≤ |batch's distinct keys| buckets of
  * ~corpus/nBuckets rows each — corpus-independent once nBuckets is
  * sized so buckets stay bounded (the standard bucket-count rule;
  * locally 16, at scale O(corpus/target-bucket-size)) — and the
  * within-bucket read is further cut by parquet row-group stats (the
  * writes sort within buckets, and the probe's IN filter is pushed to
  * the scan). The in-memory face's probe is a full index scan per
  * batch — cheap locally, linear at scale. The
  * statuses/edges produced are IDENTICAL to [[CurationLoop.ingest]]'s
  * (BucketedCurationSpec pins parity batch-by-batch over a random
  * ingest, plus the pruned-scan and no-corpus-shuffle plan shape).
  */
final class BucketedCurationStore(spark: SparkSession, prefix: String,
                                  buckets: Int = 16) {
  import spark.implicits._

  val exactTable: String = s"${prefix}_exact"
  val bandTable: String = s"${prefix}_band"

  /** (Re)create both index tables empty with their bucket specs.
    *
    * Also pins `spark.sql.sources.bucketing.autoBucketedScan.enabled`
    * to false while the store lives ([[drop]] restores the prior
    * value): Spark's `DisableUnnecessaryBucketedScan`
    * un-buckets a scan whenever no upstream operator requires the
    * hash distribution — which is ALWAYS true for a broadcast-probed
    * point lookup — and an un-bucketed scan forfeits bucket-filter
    * pruning (the whole point of this layout). The probes here want
    * the pruning, not the distribution.
    */
  private var priorAutoBucketedScan: Option[String] = None

  def init(): Unit = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    priorAutoBucketedScan = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    spark.sql(s"DROP TABLE IF EXISTS $exactTable")
    spark.sql(s"DROP TABLE IF EXISTS $bandTable")
    writeBucketed(Seq.empty[String].toDF("eh"), exactTable, "eh")
    writeBucketed(Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bkey"),
      bandTable, "bkey")
  }

  /** Bucketed writes emit one file per (write task × bucket); the
    * repartition on the bucket key (same murmur3-pmod hash Spark's
    * bucketing uses) aligns tasks WITH buckets, so an append writes at
    * most one file per TOUCHED bucket and a consolidation lands at
    * exactly one file per non-empty bucket.
    */
  private def writeBucketed(df: DataFrame, table: String, key: String,
                            mode: String = "overwrite"): Unit =
    df.repartition(buckets, col(key))
      .write.mode(mode).format("parquet").bucketBy(buckets, key)
      .sortBy(key) // row-group stats serve the pushed IN filter
      .saveAsTable(table)

  /** Distinct key values of a one-column batch frame — the bounded
    * O(|batch|) driver-side point-lookup key set. NOT a corpus-sized
    * collect: the batch is admission-paced, and these literals are
    * what drives the bucket pruning.
    */
  private def batchKeys(df: DataFrame, col0: String): Seq[String] =
    df.select(col0).distinct().collect().map(_.getString(0)).toSeq

  /** Batch hashes (doc_id, eh) → doc_ids already present in the
    * standing exact index. Bucket-pruned scan + broadcast probe.
    */
  def probeExact(hashes: DataFrame): DataFrame =
    spark.table(exactTable)
      .filter(col("eh").isin(batchKeys(hashes, "eh"): _*))
      .join(broadcast(hashes), Seq("eh")).select("doc_id")

  /** Batch band keys (doc_id, band, bkey) → (probe_id, corpus_id)
    * collision pairs vs the standing band index — the shared scan that
    * yields both the `dup_near` ids and the batch×corpus edges,
    * exactly like the in-memory face.
    */
  def probeBand(keys: DataFrame): DataFrame =
    spark.table(bandTable).as("c")
      .filter(col("c.bkey").isin(batchKeys(keys, "bkey"): _*))
      .join(broadcast(keys.as("b")),
        col("b.band") === col("c.band") && col("b.bkey") === col("c.bkey"))
      .select(col("b.doc_id").as("probe_id"), col("c.doc_id").as("corpus_id"))

  /** O(|batch|) appends into the batch's buckets. */
  def appendExact(newHashes: DataFrame): Unit =
    writeBucketed(newHashes.select("eh"), exactTable, "eh", mode = "append")
  def appendBand(keys: DataFrame): Unit =
    writeBucketed(keys.select("doc_id", "band", "bkey"), bandTable, "bkey",
      mode = "append")

  /** Compact each table's append-files (one file per touched bucket
    * per batch) back to `buckets` files — amortized O(corpus), run on
    * the consolidation schedule, never per batch. The read is
    * materialized (localCheckpoint) before the overwrite so the
    * rewrite does not read the files it replaces.
    */
  def consolidate(): Unit = {
    val e = spark.table(exactTable).localCheckpoint(true)
    writeBucketed(e, exactTable, "eh")
    val b = spark.table(bandTable).localCheckpoint(true)
    writeBucketed(b, bandTable, "bkey")
  }

  /** Drops the tables and restores the session's prior
    * autoBucketedScan setting (the probes needed it off; other users
    * of the session should not inherit that).
    */
  def drop(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $exactTable")
    spark.sql(s"DROP TABLE IF EXISTS $bandTable")
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    priorAutoBucketedScan match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object BucketedCuration {

  /** One ingest step against a [[BucketedCurationStore]]: returns the
    * same (statuses, edges) contract as [[CurationLoop.ingest]]'s
    * steps 1–2 — `dup_exact` | `dup_near` | `new` vs the PRE-batch
    * corpus, canonical batch×corpus + batch-internal near-dup edges —
    * and grows the indexes by the batch (step 4). Cluster maintenance
    * (step 3) composes outside exactly as in [[CurationLoop]]:
    * `StreamClusters.ingest(state, edges)`.
    */
  def ingest(store: BucketedCurationStore,
             batch: DataFrame): (DataFrame, DataFrame) = {
    val docs = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
    val hashes = docs.select(col("doc_id"), md5(col("text")).as("eh"))
      .localCheckpoint(true)
    val keys = Dedup.bandKeys(Dedup.minhashSignatures(docs), 8, 2)
      .localCheckpoint(true)

    val exactIds = store.probeExact(hashes).localCheckpoint(true)
    val bandHits = store.probeBand(keys).localCheckpoint(true)

    val statuses = Dedup.curationStatus(docs, exactIds,
        bandHits.select(col("probe_id").as("doc_id")))
      .localCheckpoint(true)
    val edges = Dedup.batchEdges(bandHits, keys).localCheckpoint(true)

    // maintenance: same disjointness argument as the in-memory face —
    // dup_exact hashes are already present, the rest are new to the
    // standing index after a batch-local distinct
    store.appendExact(
      hashes.join(statuses.filter(col("status") === "dup_exact"),
          Seq("doc_id"), "left_anti")
        .select("eh").distinct())
    store.appendBand(keys)
    (statuses, edges)
  }
}
