package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.streaming.{CurationLoop, StreamClusters}

/** The curation soak wiring in miniature (SoakAudit runs the same
  * loop at sf0.1 and commits the per-batch timing artifact): the
  * corpus flows wire → graftlog → admission-paced micro-batches →
  * [[CurationLoop.Runner]], and the spec pins the three soak
  * invariants deterministically —
  *
  *   1. the tagged index-maintenance jobs' records-read stays flat
  *      while the corpus grows ~30× (no corpus-sized pass per batch);
  *   2. scheduled consolidation fires every `consolidateEvery`
  *      batches;
  *   3. the maintained labels equal the batch connected-components
  *      fixpoint over the full corpus at the end.
  */
class SoakSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  test("graftlog-fed curation loop: flat maintenance, scheduled consolidation, final label parity") {
    val root = tempDir("graft_soakspec")
    val logDir = s"$root/log"
    // 300 docs: unique base text + every 10th a near-dup family pair
    val docs = (0 until 300).map { i =>
      val base = s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e tok${i}f"
      val text = if (i % 10 == 9) // near-dup of the previous doc
        s"tok${i - 1}a tok${i - 1}b tok${i - 1}c tok${i - 1}d tok${i - 1}e EXTRA$i"
      else base
      (i.toLong, text)
    }
    graft.sources.log.GraftLog.write(
      docs.toDF("doc_id", "text")
        .select(col("doc_id").cast("string").as("key"),
          to_json(struct(col("doc_id"), col("text"))).as("value")),
      logDir, partitions = 4)

    val maintReads = graft.functions.Observability.GroupReads(
      spark.sparkContext, CurationLoop.MaintainJobGroup)
    val wireSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val runner = new CurationLoop.Runner(spark, consolidateEvery = 8)
    val reads = scala.collection.mutable.ArrayBuffer.empty[Long]
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0)
    try {
      val q = spark.readStream.format("graftlog").option("path", logDir)
        .option("startingOffsets", "earliest")
        .option("maxRecordsPerTrigger", "10").load()
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val db = batch
            .select(from_json(col("value").cast("string"), wireSchema).as("r"))
            .select("r.doc_id", "r.text")
          val before = maintReads.read()
          runner.sink(db, batchId)
          reads += (maintReads.read() - before)
          nBatches.incrementAndGet()
          (): Unit
        }
        .start()
      q.processAllAvailable(); q.stop()
    } finally maintReads.close()

    val n = nBatches.get().toInt
    assert(n >= 25, s"admission pacing should yield ~30 batches, got $n")
    // 2. consolidation on schedule
    assert(runner.consolidationCount == n / 8,
      s"consolidations: ${runner.consolidationCount} of expected ${n / 8}")
    // 1. maintenance reads flat: last-quarter mean within 3x of the
    // second-quarter mean (quarter 1 pays warmup)
    val qn = math.max(1, n / 4)
    def qmean(qi: Int): Double = {
      val s = reads.slice(qi * qn, math.min(n, (qi + 1) * qn)); s.sum.toDouble / s.size
    }
    assert(reads.exists(_ > 0L), s"maintenance jobs untagged? $reads")
    assert(qmean(3) <= 3 * qmean(1) + 10,
      s"maintenance reads trended up with the corpus: $reads")
    // 3. final labels == batch CC fixpoint over the whole corpus
    val corpus = docs.toDF("doc_id", "text")
    val expect = Dedup.connectedComponents(
        Dedup.minhashCandidates(corpus), corpus.select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.operators.OperatorCaches.releaseAll()
    val got = StreamClusters.labelsFor(runner.state().clusters, corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, "label parity with the batch fixpoint")
    assert(expect.values.toSet.size < 300, "the near-dup families merged")
  }

  test("a one-batch soak writes a valid JSON artifact, its undefined trends null") {
    val s = new SoakAudit.Series
    s.phaseSeries.values.foreach(_ += 5.0)
    s.ingestWall += 25.0; s.consolidateWall += 0.0
    s.reads += 10L; s.sizes += 100L
    s.novWall += 3.0; s.novStoreRows += 50L; s.novBatchGrams += 60L
    s.winWall += 4.0; s.winConsolidateWall += 0.0
    s.winStoreRows += 20L; s.winBatchFps += 20L; s.winBatchPairs += 0L
    val path = tempDir("graft_soaksummary") + "/SOAK.json"
    Bench.writeJson(path, SoakAudit.summary("sf", docs = 100L,
      perTrigger = 100L, consolidations = 0L, s, labelParity = true,
      novParity = true, winSuperset = true, winStoreExact = true,
      winCompacted = false))
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    assert(!text.contains("NaN"), text)
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(text) // strict: a bare NaN token does not parse
    assert(root.get("batches").asInt == 1)
    assert(root.get("ingest_wall_ms").get(0).asDouble == 25.0)
    val total = root.get("trends_q4_over_q2").get("ingest_total")
    assert(total.get("q2_ms").isNull && total.get("ratio").isNull)
    assert(total.get("q4_ms").asDouble == 25.0)
    assert(SoakAudit.Verdicts.forall(k => root.get(k).isBoolean))
    assert(!root.get("flat").asBoolean, "one batch cannot show a flat trend")
  }
}
