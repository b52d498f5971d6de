package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow
import graft.operators.BandedPairs

/** Streaming incremental VIDEO dedup — the continuous-ingest face of
  * [[graft.multimodal.Multimodal.videoNearDup]], completing the
  * multimodal streaming story: [[StreamDedup]] covers text,
  * [[StreamImageDedup]] images, this covers video. A standing video
  * corpus is distilled ONCE into a banded per-FRAME fingerprint
  * index; each micro-batch of arriving videos is container-walked,
  * per-frame dHashed by the same kernel, and probed with
  * stream-static equi-joins only.
  *
  * == Shape ==
  *   - frame fingerprints come from the SAME
  *     [[Multimodal.videoFrameHashes]] kernel as the batch operator
  *     (RIFF walk + ImageIO frame decode + the shared image dHash —
  *     one hamming space with images, so a video arrival can also be
  *     probed against an IMAGE index and vice versa);
  *   - the banded candidate join uses the SAME composite 2-block
  *     band enumeration ([[Multimodal.hammingKeys]]) and the same
  *     [[BandedPairs]] join — stream and batch bucket layouts agree
  *     bit-for-bit by construction;
  *   - the frame-match emission is STATELESS (append mode, no
  *     watermark): per-batch cost is O(|batch frames| · 28) index
  *     probes plus the per-video decode, nothing lingers across
  *     batches. The per-video-pair roll-up (which needs an
  *     aggregation) happens per batch through the BATCH operator's
  *     own [[Multimodal.rollupFramePairs]] — one definition, so the
  *     distinct-frames criterion cannot diverge between faces; run it
  *     in `foreachBatch` over [[videoFrameMatches]] output, exactly
  *     like [[rollupArrivals]] does for a static micro-batch frame.
  *
  * == Parity contract ==
  * For a batch B probed against corpus C, [[rollupArrivals]] ∘
  * [[videoFrameMatches]] equals the batch operator videoNearDup(C ∪ B)
  * restricted to cross pairs (one side in each set) — orientation
  * included: matches are re-keyed to (lower id, higher id) before the
  * roll-up, so n_shared counts the SAME side's distinct frames as the
  * batch operator. MultimodalSpec pins row-exact equality (n_shared
  * and min_hamming included) plus an end-to-end MemoryStream leg.
  */
object StreamVideoDedup {

  /** Static banded probe index over the standing corpus's FRAME
    * fingerprints: one row per (band, bkey) per corpus frame, built
    * through the real container-walk + decode kernel. Carries the
    * full hash for the exact-hamming verify at probe time.
    */
  def bandIndex(corpus: Dataset[MediaRow]): DataFrame = {
    val fh = Multimodal.videoFrameHashes(corpus).toDF()
    fh.select(col("media_id").as("corpus_id"),
        col("frame_idx").as("corpus_frame"),
        col("fhash").as("corpus_hash"),
        Multimodal.bandExplode(col("fhash")))
  }

  /** Classify a stream of video rows against the standing corpus:
    * one row per verified (arriving frame, corpus frame) match within
    * `maxHamming`, append mode, stateless. Pair volume per batch is
    * Σ per-(band, bkey) probe hits — the banded-join bound, never
    * |batch frames| × |corpus frames|.
    */
  def videoFrameMatches(stream: Dataset[MediaRow], bandIdx: DataFrame,
                        maxHamming: Int = 6): DataFrame = {
    Multimodal.requireFullRecall("videoFrameMatches", maxHamming, 2)
    val probes = Multimodal.videoFrameHashes(stream).toDF()
      .select(col("media_id"), col("frame_idx"), col("fhash"),
        Multimodal.bandExplode(col("fhash")))
    BandedPairs.pairs(probes, bandIdx, Multimodal.hammingKeys(2), "fhash",
        "corpus_hash", col("a.media_id") =!= col("b.corpus_id"))
      .select(col("media_id"), col("frame_idx"),
        col("corpus_id"), col("corpus_frame"),
        bit_count(col("fhash").bitwiseXOR(col("corpus_hash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-batch video-pair roll-up of [[videoFrameMatches]] output —
    * re-keys each frame match to the batch operator's (lower id,
    * higher id) orientation and applies the SHARED
    * [[Multimodal.rollupFramePairs]], so a micro-batch's emitted
    * near-dup videos are row-identical to videoNearDup's cross pairs.
    * An aggregation, so it runs per batch (foreachBatch) rather than
    * inside the append-mode stream — the stateless frame matches are
    * the streaming surface; this is the batch tail applied to them.
    */
  def rollupArrivals(frameMatches: DataFrame,
                     minSharedFrames: Int = 2): DataFrame = {
    def pick(lo: Column, hi: Column): Column =
      when(col("media_id") < col("corpus_id"), lo).otherwise(hi)
    Multimodal.rollupFramePairs(
      frameMatches.select(
        pick(col("media_id"), col("corpus_id")).as("vid_a"),
        pick(col("frame_idx"), col("corpus_frame")).as("frame_a"),
        pick(col("corpus_id"), col("media_id")).as("vid_b"),
        pick(col("corpus_frame"), col("frame_idx")).as("frame_b"),
        col("hamming")),
      minSharedFrames)
  }
}
