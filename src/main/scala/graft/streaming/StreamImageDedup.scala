package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow
import graft.operators.BandedPairs

/** Streaming incremental IMAGE dedup — the continuous-ingest face of
  * [[graft.multimodal.Multimodal.imageNearDup]], completing the
  * multimodal curation story the same way [[StreamDedup]] completes
  * the text one: a standing image corpus is distilled ONCE into a
  * banded perceptual-hash index; each micro-batch of incoming media is
  * dHashed through the REAL ImageIO decode kernel and probed against
  * that index with stream-static equi-joins only.
  *
  * == Shape ==
  *   - the per-image work (decode → block-averaged luma → 64
  *     gradient bits) is the SAME [[Multimodal.imageDHashes]]
  *     mapPartitions kernel the batch operator uses — bytes never
  *     leave the partition, and mapPartitions is streaming-legal;
  *   - the banded candidate join uses the SAME composite 2-block
  *     16-bit band enumeration ([[Multimodal.hammingKeys]]) and the
  *     same [[BandedPairs]] join — one definition, so stream
  *     and batch bucket layouts agree bit-for-bit by construction);
  *   - the query is STATELESS: append output mode, no watermark, no
  *     aggregation — per-batch cost is O(|batch| · 28) index probes
  *     plus the per-image decode, and nothing lingers across batches.
  *
  * At scale the index is the big side: partition/bucket it by
  * (band, bkey) so each probe prunes to one partition family, and let
  * AQE broadcast the (small) exploded micro-batch side.
  *
  * == Parity contract ==
  * For a batch B probed against corpus C, the emitted pairs are
  * EXACTLY the batch operator's C×B cross pairs: imageNearDup over
  * C ∪ B, restricted to pairs with one side in each set (the
  * streaming face classifies arrivals against the standing corpus;
  * B×B self-pairs land when B itself is folded into the corpus, same
  * as StreamDedup). MultimodalSpec pins row-exact equality, hamming
  * included, plus an end-to-end MemoryStream leg.
  */
object StreamImageDedup {

  /** Static banded probe index over the standing image corpus: one
    * row per (band, bkey) per corpus image, built through the real
    * decode kernel. Carries the full hash for the exact-hamming
    * verify at probe time.
    */
  def bandIndex(corpus: Dataset[MediaRow]): DataFrame = {
    val h = Multimodal.imageDHashes(corpus).toDF()
    h.select(col("media_id").as("corpus_id"),
        col("dhash").as("corpus_hash"),
        Multimodal.bandExplode(col("dhash")))
  }

  /** Classify a stream of media rows against the standing corpus:
    * one row per (arriving image, corpus near-duplicate) pair within
    * `maxHamming`, append mode, stateless. Pair volume per batch is
    * Σ per-(band, bkey) probe hits — the banded-join bound, never
    * |batch| × |corpus|.
    */
  def imageDedupStream(stream: Dataset[MediaRow], bandIdx: DataFrame,
                       maxHamming: Int = 6): DataFrame = {
    Multimodal.requireFullRecall("imageDedupStream", maxHamming, 2)
    val probes = Multimodal.imageDHashes(stream).toDF()
      .select(col("media_id"), col("dhash"),
        Multimodal.bandExplode(col("dhash")))
    BandedPairs.pairs(probes, bandIdx, Multimodal.hammingKeys(2), "dhash",
        "corpus_hash", col("a.media_id") =!= col("b.corpus_id"))
      .select(col("media_id"), col("corpus_id"),
        bit_count(col("dhash").bitwiseXOR(col("corpus_hash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
