package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.streaming.StreamAnn

class StreamAnnSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private lazy val emb = graft.sources.Tables(spark, sf, "embeddings")

  test("streamed index + query equals the batch IVF operator over the final corpus") {
    // seed holds the pivot vectors (vec_id < nlist) so the frozen
    // codebook equals the batch twin's full-corpus derivation; the
    // rest arrives in two batches
    val seed = emb.filter(col("vec_id") % 3 =!= 2 || col("vec_id") < 16)
    val b1 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") >= 16 &&
      col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") >= 16 &&
      col("vec_id") % 2 === 1)
    var st = StreamAnn.build(seed)
    val audit = new StreamAnn.IngestAudit
    st = StreamAnn.ingest(st, b1, Some(audit))
    assert(audit.assigned == b1.count())
    assert(!audit.meanBestCos.isNaN && audit.meanBestCos <= 1.0)
    st = StreamAnn.ingest(st, b2)
    st = StreamAnn.consolidate(st)
    val queryPred = col("vec_id") % 50 === 0
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val got = key(StreamAnn.query(st, emb.filter(queryPred), k = 5))
    val want = key(Similarity.ivfTopK(emb, queryPred, k = 5))
    assert(got == want)
    graft.operators.OperatorCaches.releaseAll()
  }

  test("streamed PQ code index + ADC query equals the batch IVF-PQ operator") {
    val seed = emb.filter(col("vec_id") % 3 =!= 2 || col("vec_id") < 16)
    val b1 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") >= 16 &&
      col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") >= 16 &&
      col("vec_id") % 2 === 1)
    var st = StreamAnn.buildPq(seed)
    st = StreamAnn.ingestPq(st, b1)
    st = StreamAnn.ingestPq(st, b2)
    // the maintained store holds codes only — msub ints per vector,
    // never the raw floats (the compressed-layout contract)
    assert(st.codes.schema.fieldNames.toSeq == Seq("vec_id", "list_id", "codes"))
    val queryPred = col("vec_id") % 50 === 0
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val got = key(StreamAnn.queryPq(st, emb.filter(queryPred), k = 5))
    val want = key(Similarity.ivfPqTopK(emb, queryPred, k = 5))
    assert(got == want)
    // the exact-rerank refine stage over the SAME maintained store:
    // ADC shortlist from the code index, full vectors read from the
    // raw-vector store only for the shortlist — must equal the batch
    // two-stage operator bit-for-bit (same frozen first-16 books)
    val gotRr = key(StreamAnn.queryPqRerank(st, emb.filter(queryPred), emb,
      k = 3, rerank = 10))
    val wantRr = key(Similarity.ivfPqRerankTopK(emb, queryPred, k = 3,
      rerank = 10))
    assert(gotRr == wantRr)
    // out-of-sync stores are an ERROR, not a degraded result: a
    // shortlist id whose raw vector is missing from the vector store
    // raises with the offending id instead of silently promoting a
    // worse neighbor into the top-k
    val holed = emb.filter(col("vec_id") =!= lit(wantRr.head._2))
    val ex = intercept[Exception] {
      StreamAnn.queryPqRerank(st, emb.filter(queryPred), holed,
        k = 3, rerank = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    assert(messages(ex).exists(_.contains("missing from the raw-vector")))
    graft.operators.OperatorCaches.releaseAll()
  }

  test("drift-triggered retrain + reindex equals the batch trained-book stack") {
    // grow the store from a seed that misses most of the corpus, then
    // retrain on the full grown corpus: the refreshed state must serve
    // queries bit-identically to the batch operator composed with the
    // SAME trained books (one kmeansCarr book in both roles — the
    // q_ann_trained_rerank composition)
    val seed = emb.filter(col("vec_id") < 40)
    val rest = emb.filter(col("vec_id") >= 40)
    var st = StreamAnn.buildPq(seed)
    st = StreamAnn.ingestPq(st, rest)
    val trainPred = col("vec_id") % 4 === 0
    val st2 = StreamAnn.retrainPq(st, emb, ksub = 16, iters = 1,
      samplePred = trainPred)
    // retrain re-encoded every vector: same count, codes only
    assert(st2.codes.count() == emb.count())
    assert(st2.codes.schema.fieldNames.toSeq ==
      Seq("vec_id", "list_id", "codes"))
    val queryPred = col("vec_id") < 8
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val book = Similarity.kmeansCarr(emb.filter(trainPred), k = 16,
      iters = 1)
    val wantPq = key(Similarity.ivfPqTopK(emb, queryPred, k = 5,
      pivotsOpt = Some(Similarity.carrToPivotArr(book)),
      bookOpt = Some(book)))
    assert(key(StreamAnn.queryPq(st2, emb.filter(queryPred), k = 5)) ==
      wantPq)
    val wantRr = key(Similarity.ivfPqRerankTopK(emb, queryPred, k = 3,
      rerank = 10, pivotsOpt = Some(Similarity.carrToPivotArr(book)),
      bookOpt = Some(book)))
    assert(key(StreamAnn.queryPqRerank(st2, emb.filter(queryPred), emb,
      k = 3, rerank = 10)) == wantRr)
    graft.operators.OperatorCaches.releaseAll()
  }

  test("index grows by exactly the batch; assignment is against the frozen codebook") {
    val seed = emb.filter(col("vec_id") < 100)
    val batch = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
    val st0 = StreamAnn.build(seed)
    val n0 = st0.index.count()
    assert(n0 == seed.count())
    val st1 = StreamAnn.ingest(st0, batch)
    assert(st1.index.count() == n0 + batch.count())
    // frozen codebook: the batch rows' assignments match what the
    // batch operator's codebook (same pivots, untouched by ingest)
    // would give them
    val all = Similarity.prepared(emb.filter(col("vec_id") < 130),
      Similarity.Dim)
    val expect = Similarity.assignBy(
        Similarity.prepared(batch, Similarity.Dim),
        Similarity.pivotArr(all, 16), Similarity.Dim)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = st1.index.join(batch.select("vec_id"), "vec_id")
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    graft.operators.OperatorCaches.releaseAll()
  }

  test("save/load round-trips the store: queries equal, ingest continues") {
    def vecPart(m: Long) = col("vec_id") % 3 === m
    var ann = StreamAnn.build(emb.filter(vecPart(0) || col("vec_id") < 16))
    ann = StreamAnn.ingest(ann, emb.filter(vecPart(1) && col("vec_id") >= 16))
    val dir = tempDir("graft_annstore")
    StreamAnn.save(ann, dir)
    val loaded = StreamAnn.load(spark, dir)
    assert(loaded.nlist == ann.nlist && loaded.dim == ann.dim)
    val queries = emb.filter(col("vec_id") < 4)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    }.toSet
    assert(key(StreamAnn.query(loaded, queries, k = 5)) ==
      key(StreamAnn.query(ann, queries, k = 5)))
    // ingest keeps working against the reloaded (frozen) codebook and
    // lands the final corpus in the same state as never having saved
    val grown = StreamAnn.ingest(loaded,
      emb.filter(vecPart(2) && col("vec_id") >= 16))
    val never = StreamAnn.ingest(ann,
      emb.filter(vecPart(2) && col("vec_id") >= 16))
    assert(key(StreamAnn.query(grown, queries, k = 5)) ==
      key(StreamAnn.query(never, queries, k = 5)))
    graft.operators.OperatorCaches.releaseAll()
  }
}
