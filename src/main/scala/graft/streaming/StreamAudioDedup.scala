package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow
import graft.operators.{BandedPairs, Similarity}

/** Streaming incremental AUDIO dedup — the continuous-ingest face of
  * [[graft.multimodal.Multimodal.audioNearDup]], completing the
  * three-modality streaming dedup set ([[StreamDedup]] text,
  * [[StreamImageDedup]] images, [[StreamVideoDedup]] video): a
  * standing audio corpus is distilled ONCE into a sign-banded
  * envelope index; each micro-batch of arriving media is decoded
  * through the REAL WAV kernel and probed with stream-static
  * equi-joins only.
  *
  * == Shape ==
  *   - the per-file work (PCM decode → centered RMS energy envelope)
  *     is [[Multimodal.centeredEnvelopes]] — the SAME mapPartitions
  *     kernel the batch operator uses (bytes never leave the
  *     partition; mapPartitions is streaming-legal);
  *   - the banded candidate join uses the SAME sign-band machinery as
  *     `Similarity.nearDupPairs` ([[Similarity.signBandKeys]] keys, the
  *     [[BandedPairs]] join and its first-shared-band rule — one
  *     definition each, so stream and batch sign-bucket layouts agree
  *     bit-for-bit by construction), at audioNearDup's own
  *     8-bit × 2-band regime over the 16-window envelope;
  *   - the query is STATELESS: append output mode, no watermark, no
  *     aggregation — per-batch cost is O(|batch| · bands) index
  *     probes plus the per-file decode, nothing lingers across
  *     batches.
  *
  * At scale the index is the big side: an envelope row is ~150 B
  * (16 doubles + keys), so a billion-file corpus indexes in ~150 GB —
  * partition it by (band, bkey) and let AQE broadcast the small
  * exploded micro-batch side. NOTE the audio key space is only
  * 2^bitsPerBand per band (256 sign patterns for 8-bit keys), far
  * coarser than the 64-bit hamming bands of the image/video faces:
  * candidate volume per probe is |corpus|/2^bits-ish per band, which
  * is why the exact-cosine verify rides immediately behind the join
  * and why `bitsPerBand` widens (via `envelopeDim`) before a larger
  * corpus, exactly as the batch operator's scaladoc prescribes.
  *
  * == Parity contract ==
  * For a batch B probed against corpus C, the emitted pairs are
  * EXACTLY the batch operator's C×B cross pairs: audioNearDup over
  * C ∪ B restricted to pairs with one side in each set, cosine
  * bit-identical (dot/norm evaluate the same operand chains; operand
  * ORDER differs only across the commutative-exact final multiply).
  * MultimodalSpec pins row-exact equality plus a MemoryStream leg.
  */
object StreamAudioDedup {

  /** audioNearDup's banding regime — one definition with the batch
    * call site so the parity contract can't drift.
    */
  val BitsPerBand = 8
  val Bands = 2

  private[streaming] def signBands(media: Dataset[MediaRow],
                                   envelopeDim: Int): DataFrame = {
    val emb = Multimodal.asEmbeddings(
      Multimodal.centeredEnvelopes(media, envelopeDim))
    // inline `prepared` (v + norm) rather than calling it: the batch
    // helper routes through Par.fan, whose toRdd partition probe is
    // not legal on an unstarted streaming Dataset. The envelope and
    // norm are CARRIED through the band explode instead of joined
    // back by vec_id the way the batch operator does — a self-join of
    // a streaming Dataset would plan as a stateful stream-stream
    // join (unbounded state), while the carry costs ~8·dim B per
    // band row and keeps the query stateless. The band KEY definition
    // ([[Similarity.signBandKeys]]) is the shared piece that makes stream
    // and batch bucket layouts agree.
    emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v"), envelopeDim))
      .withColumn("bkeys", Similarity.signBandKeys(col("v"), BitsPerBand, Bands))
      .select(col("vec_id"), col("v"), col("nrm"), col("bkeys"),
        BandedPairs.explode(BandedPairs.arrayKeys(Bands)(col("bkeys"))))
  }

  /** Static sign-banded probe index over the standing audio corpus:
    * one row per (band, bkey) per corpus file, built through the real
    * decode kernel. Carries the centered envelope + its norm for the
    * exact-cosine verify at probe time.
    */
  def bandIndex(corpus: Dataset[MediaRow],
                envelopeDim: Int = 16): DataFrame =
    signBands(corpus, envelopeDim)
      .select(col("vec_id").as("corpus_id"), col("bkeys").as("corpus_bkeys"),
        col("v").as("corpus_v"), col("nrm").as("corpus_nrm"),
        col("band"), col("bkey"))

  /** Classify a stream of media rows against the standing corpus: one
    * row per (arriving file, corpus near-duplicate) pair with cosine
    * above `threshold`, append mode, stateless.
    */
  def audioDedupStream(stream: Dataset[MediaRow], bandIdx: DataFrame,
                       threshold: Double = 0.98,
                       envelopeDim: Int = 16): DataFrame =
    BandedPairs.pairs(signBands(stream, envelopeDim), bandIdx,
        BandedPairs.arrayKeys(Bands), "bkeys", "corpus_bkeys",
        col("a.vec_id") =!= col("b.corpus_id"))
      .select(col("vec_id").as("media_id"), col("corpus_id"),
        Similarity.pairCos(col("v"), col("nrm"),
          col("corpus_v"), col("corpus_nrm"), envelopeDim).as("cos"))
      .filter(col("cos") > threshold)
}
