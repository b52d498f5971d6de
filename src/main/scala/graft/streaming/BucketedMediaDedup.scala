package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow
import graft.operators.{BandedPairs, Similarity}

/** The media dedup family's standing index as a BUCKETED CATALOG
  * TABLE — the decode-once layout the r15 audit asked for: image and
  * video-frame fingerprints cost a REAL codec decode to produce, and
  * [[StreamImageDedup]]/[[StreamVideoDedup]]'s in-memory band indexes
  * re-decode the whole standing corpus on every (re)start. This store
  * is the text family's [[BucketedCurationStore]] pattern applied to
  * perceptual hashes:
  *
  *   - ONE parquet table holds image dHashes AND video per-frame
  *     dHashes (they share a hamming space by construction —
  *     [[Multimodal.dhashOfImage]] is the single kernel), exploded to
  *     one row per composite band: (media_id, kind, frame_idx, fhash,
  *     band, bkey), BUCKETED on `bkey` — the same single-bucket-column
  *     layout whose `isin` probes Spark prunes via
  *     `FileSourceScanExec.optionalBucketSet`
  *     (`SelectedBucketsCount m out of n` in the plan; the spec
  *     asserts m < n).
  *   - APPENDS pay the decode exactly once per arriving row —
  *     O(|batch| frames), written into the batch's buckets with the
  *     table's own bucket spec; the standing corpus is NEVER
  *     re-decoded and never rewritten per batch.
  *   - PROBES dHash only the incoming batch (the one decode it must
  *     pay), collect the batch's bounded distinct band keys
  *     (≤ 28·|batch frames|, admission-paced), and scan the table
  *     under an `isin` filter on the bucket column — reading ONLY the
  *     batch's buckets — then broadcast the batch side. Emitted
  *     matches use the SAME first-clean-band + exact-hamming verify
  *     as the in-memory faces, so parity is row-exact
  *     (MultimodalSpec pins both modalities).
  *
  * At 100 TB of media the fingerprints are the ONLY thing this table
  * stores (a few hundred bytes per item vs MBs of pixels), so the
  * index is ~5 orders of magnitude smaller than the corpus; a probe
  * reads ≤ |batch keys| buckets of ~index/nBuckets rows each, and the
  * within-bucket read is cut further by parquet row-group stats (the
  * writes sort on `bkey`, and the IN filter is pushed to the scan).
  * Re-deduplicating or re-starting ingestion costs zero decodes of
  * the standing corpus — the r15 scale row showed the decode
  * dominating `q_image_neardup` at 100×; with this layout that cost
  * is paid once at append time, amortized over every later probe.
  */
final class BucketedMediaStore(spark: SparkSession, prefix: String,
                               buckets: Int = 16) {
  import spark.implicits._

  val table: String = s"${prefix}_media_bands"

  /** The audio face's own table: sign-band envelope rows, not hamming
    * hash rows — envelopes must travel with the fingerprint for the
    * exact-cosine verify, and the key space (2^8 sign patterns per
    * band vs 2^16 hamming band keys) is coarse enough that mixing the
    * modalities in one table would ruin the hash faces' bucket
    * selectivity.
    */
  val audioTable: String = s"${prefix}_audio_bands"

  /** (Re)create the fingerprint table empty with its bucket spec;
    * pins autoBucketedScan off while the store lives (same rationale
    * as [[BucketedCurationStore.init]]: broadcast-probed point
    * lookups never demand the hash distribution, and an un-bucketed
    * scan forfeits bucket-filter pruning).
    */
  private var priorAutoBucketedScan: Option[String] = None

  def init(): Unit = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    priorAutoBucketedScan = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    writeBucketed(Seq.empty[(Long, String, Int, Long, Int, Long)]
      .toDF("media_id", "kind", "frame_idx", "fhash", "band", "bkey"))
    spark.sql(s"DROP TABLE IF EXISTS $audioTable")
    writeBucketed(Seq.empty[(Long, Seq[Long], Seq[Double], Double, Int, Long)]
      .toDF("media_id", "bkeys", "v", "nrm", "band", "bkey"),
      into = audioTable)
  }

  private def writeBucketed(df: DataFrame,
                            mode: String = "overwrite",
                            into: String = table): Unit =
    df.repartition(buckets, col("bkey"))
      .write.mode(mode).format("parquet").bucketBy(buckets, "bkey")
      .sortBy("bkey")
      .saveAsTable(into)

  /** One fingerprint row per (item, band): images contribute their
    * whole-image dHash at frame_idx = -1; videos one row per decoded
    * frame. The single decode each medium ever pays.
    */
  private def fingerprints(media: Dataset[MediaRow]): DataFrame = {
    val img = Multimodal.imageDHashes(
        media.filter(_.kind == "image")).toDF()
      .filter(col("decoded"))
      .select(col("media_id"), lit("image").as("kind"),
        lit(-1).as("frame_idx"), col("dhash").as("fhash"))
    val vid = Multimodal.videoFrameHashes(
        media.filter(_.kind == "video")).toDF()
      .select(col("media_id"), lit("video").as("kind"),
        col("frame_idx"), col("fhash"))
    img.unionByName(vid)
      .select(col("media_id"), col("kind"), col("frame_idx"), col("fhash"),
        Multimodal.bandExplode(col("fhash")))
  }

  /** Decode the batch once and append its fingerprint rows into the
    * batch's buckets — O(|batch| frames) rows, standing table
    * untouched.
    */
  def append(media: Dataset[MediaRow]): Unit =
    writeBucketed(fingerprints(media), mode = "append")

  /** Decode the batch's WAVs once and append their centered-envelope
    * sign-band rows — the audio face of the same decode-once
    * contract. Kernel and banding are [[StreamAudioDedup.signBands]]
    * verbatim, so the persisted layout is bit-identical to the
    * in-memory index's.
    */
  def appendAudio(media: Dataset[MediaRow], envelopeDim: Int = 16): Unit =
    writeBucketed(
      StreamAudioDedup.signBands(media.filter(_.kind == "audio"),
          envelopeDim)
        .select(col("vec_id").as("media_id"), col("bkeys"),
          col("v"), col("nrm"), col("band"), col("bkey")),
      mode = "append", into = audioTable)

  /** Batch of arriving audio → verified (media_id, corpus_id, cos)
    * near-dup matches vs the persisted envelope fingerprints —
    * row-identical to [[StreamAudioDedup.audioDedupStream]] against
    * an in-memory index of the same corpus, but the corpus side here
    * is a bucket-pruned table scan, not a re-decode. The audio key
    * space is only 2^8 patterns per band, so the `isin` prune earns
    * its keep on SMALL batches (a handful of arrivals touch a
    * handful of buckets); large batches degrade gracefully to a full
    * index scan — still zero decodes of the standing corpus, which
    * is the dominant cost this store exists to amortize.
    */
  def probeAudio(media: Dataset[MediaRow], threshold: Double = 0.98,
                 envelopeDim: Int = 16): DataFrame = {
    val batch = StreamAudioDedup.signBands(
      media.filter(_.kind == "audio"), envelopeDim)
    BandedPairs.pairs(
        spark.table(audioTable).filter(col("bkey").isin(batchKeys(batch): _*)),
        broadcast(batch), BandedPairs.arrayKeys(StreamAudioDedup.Bands),
        "bkeys", "bkeys", col("b.vec_id") =!= col("a.media_id"))
      .select(col("b.vec_id").as("media_id"),
        col("a.media_id").as("corpus_id"),
        Similarity.pairCos(col("b.v"), col("b.nrm"),
          col("a.v"), col("a.nrm"), envelopeDim).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** The batch's bounded distinct band-key set (≤ 28 · |batch
    * frames| longs, admission-paced) — the driver-side literals that
    * drive the bucket pruning; NOT a corpus-sized collect.
    */
  private def batchKeys(df: DataFrame): Seq[Long] =
    df.select("bkey").distinct().collect().map(_.getLong(0)).toSeq

  /** Candidate (corpus `a`, batch `b`) matches of the batch's band
    * rows against the stored fingerprints of one kind: bucket-pruned
    * scan, broadcast batch side, each pair at its first shared band.
    */
  private def probe(batchBands: DataFrame, corpusKind: String): DataFrame =
    BandedPairs.pairs(
      spark.table(table).filter(col("kind") === corpusKind)
        .filter(col("bkey").isin(batchKeys(batchBands): _*)),
      broadcast(batchBands), Multimodal.hammingKeys(2), "fhash", "fhash",
      col("b.media_id") =!= col("a.media_id"))

  /** Batch of arriving images → verified (media_id, corpus_id,
    * hamming) near-dup matches vs the persisted image fingerprints —
    * row-identical to [[StreamImageDedup.imageDedupStream]] against
    * an in-memory index of the same corpus, but the corpus side here
    * is a bucket-pruned table scan, not a re-decode.
    */
  def probeImages(media: Dataset[MediaRow],
                  maxHamming: Int = 6): DataFrame = {
    Multimodal.requireFullRecall("probeImages", maxHamming, 2)
    val batch = Multimodal.imageDHashes(media).toDF()
      .select(col("media_id"), col("dhash").as("fhash"),
        Multimodal.bandExplode(col("dhash")))
    probe(batch, "image")
      .select(col("b.media_id").as("media_id"),
        col("a.media_id").as("corpus_id"),
        bit_count(col("b.fhash").bitwiseXOR(col("a.fhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Batch of arriving videos → verified frame-level matches vs the
    * persisted video-frame fingerprints — row-identical to
    * [[StreamVideoDedup.videoFrameMatches]]; roll up per video pair
    * with [[StreamVideoDedup.rollupArrivals]] (the shared batch tail).
    */
  def probeVideoFrames(media: Dataset[MediaRow],
                       maxHamming: Int = 6): DataFrame = {
    Multimodal.requireFullRecall("probeVideoFrames", maxHamming, 2)
    val batch = Multimodal.videoFrameHashes(media).toDF()
      .select(col("media_id"), col("frame_idx"), col("fhash"),
        Multimodal.bandExplode(col("fhash")))
    probe(batch, "video")
      .select(col("b.media_id").as("media_id"),
        col("b.frame_idx").as("frame_idx"),
        col("a.media_id").as("corpus_id"),
        col("a.frame_idx").as("corpus_frame"),
        bit_count(col("b.fhash").bitwiseXOR(col("a.fhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Compact append-files (one per touched bucket per batch) back to
    * `buckets` files — amortized, never per batch; the read is
    * materialized before the overwrite (the rewrite must not read the
    * files it replaces).
    */
  def consolidate(): Unit = {
    val all = spark.table(table).localCheckpoint(true)
    writeBucketed(all)
    val audio = spark.table(audioTable).localCheckpoint(true)
    writeBucketed(audio, into = audioTable)
  }

  /** Drops the table and restores the session's prior
    * autoBucketedScan setting.
    */
  def drop(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS $audioTable")
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    priorAutoBucketedScan match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
