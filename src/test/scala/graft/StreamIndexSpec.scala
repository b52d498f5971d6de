package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Retrieval
import graft.streaming.StreamIndex

class StreamIndexSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private lazy val docs = graft.sources.Tables(spark, sf, "documents")
  private val terms = Seq("data", "table", "scan")

  private def key(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("streamed BM25 index equals the batch operator after every batch") {
    var st = StreamIndex.emptyState(spark)
    (0 to 2).foreach { i =>
      st = StreamIndex.ingest(st,
        docs.filter(pmod(col("doc_id"), lit(3)) === i))
      if (i == 1) st = StreamIndex.consolidate(st) // mid-sequence compaction
      val corpusSoFar = docs.filter(pmod(col("doc_id"), lit(3)) <= i)
      // bit-identical scores, not just the same ranking: the stream
      // derives (tf, df, stats) that equal the batch derivation
      // exactly, and both run the same bm25Score expressions
      assert(key(StreamIndex.query(st, terms, k = 20)) ==
        key(Retrieval.bm25TopK(corpusSoFar, terms, k = 20)),
        s"divergence after batch $i")
    }
  }

  test("save/load round-trips the lexical store: queries equal, ingest continues") {
    var st = StreamIndex.emptyState(spark)
    (0 to 1).foreach { i =>
      st = StreamIndex.ingest(st,
        docs.filter(pmod(col("doc_id"), lit(3)) === i))
    }
    val dir = tempDir("graft_idxstore")
    StreamIndex.save(st, dir)
    val loaded = StreamIndex.load(spark, dir)
    assert(key(StreamIndex.query(loaded, terms, k = 20)) ==
      key(StreamIndex.query(st, terms, k = 20)))
    val grown = StreamIndex.ingest(loaded,
      docs.filter(pmod(col("doc_id"), lit(3)) === 2))
    assert(key(StreamIndex.query(grown, terms, k = 20)) ==
      key(Retrieval.bm25TopK(docs, terms, k = 20)))
  }

  test("df segments sum to the corpus document frequency") {
    var st = StreamIndex.emptyState(spark)
    (0 to 2).foreach { i =>
      st = StreamIndex.ingest(st,
        docs.filter(pmod(col("doc_id"), lit(3)) === i))
    }
    val got = st.termDf.filter(col("term") === "data")
      .agg(sum(col("df"))).head().getLong(0)
    val want = docs
      .filter(array_contains(split(col("text"), " "), "data")).count()
    assert(got == want)
  }
}
