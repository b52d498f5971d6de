package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded near-duplicate join of every dedup family (MinHash/OPH,
  * SimHash, embedding sign bands, image/video/audio hashes; batch,
  * stream and store faces). A family is its band keys: one expression
  * per band over a carried signature — the hash itself, or an array of
  * precomputed keys where a key costs an md5 or a sign pattern. Band
  * rows join on (band, bkey); a pair sharing k bands would join k
  * times, so it is kept only at its FIRST shared band, a when-chain
  * over the two signatures that whole-stage codegen compiles, with no
  * distinct shuffle. The family's exact verify runs on the result.
  */
private[graft] object BandedPairs {

  /** Band-key expressions of one signature, in band order. */
  type Keys = Column => Seq[Column]

  /** (band, bkey) generator: one output row per band key. */
  def explode(keys: Seq[Column]): Column =
    posexplode(array(keys: _*)).as(Seq("band", "bkey"))

  /** Keys carried precomputed as an array column (`bands` long). */
  def arrayKeys(bands: Int): Keys = s => (0 until bands).map(s.getItem(_))

  /** Composite key over byte blocks `idxs` of a long (0 = lowest). */
  def byteBlocks(h: Column, idxs: Seq[Int]): Column =
    idxs.map(b => shiftrightunsigned(h, b * 8).bitwiseAND(lit(255L)))
      .reduceLeft((acc, blk) => acc * lit(256L) + blk)

  /** Index of the first band on which two signatures' keys agree. */
  private def firstShared(a: Seq[Column], b: Seq[Column]): Column =
    a.indices.tail.foldLeft(when(a.head === b.head, 0)) {
      (acc, i) => acc.when(a(i) === b(i), i)
    }

  /** Band rows `a` × `b` sharing a band, under `pair` (an id order for
    * a self-join, id inequality for a probe), each pair once. `sigA` /
    * `sigB` name each side's signature; read results as `a.x` / `b.x`.
    */
  def pairs(a: DataFrame, b: DataFrame, keys: Keys, sigA: String,
            sigB: String, pair: Column): DataFrame =
    a.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          pair)
      .filter(col("a.band") ===
        firstShared(keys(col(s"a.$sigA")), keys(col(s"b.$sigB"))))
}
