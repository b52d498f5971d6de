package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{DoubleNode, NullNode, ObjectNode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, TextAnalysis}
import graft.streaming.{CurationLoop, StreamClusters}

/** End-to-end curation-loop soak at bench scale: the documents corpus
  * is produced into a graftlog, streamed back through the DSv2 source
  * in ~`SOAK_BATCHES` admission-paced micro-batches, and folded
  * through [[CurationLoop.Runner]] (classify → edges → incremental
  * clusters → index growth, consolidation on schedule). Per batch it
  * records the wall time of EACH ingest phase (prep / classify /
  * edges / clusters / maintain — [[CurationLoop.PhaseTimes]]), the
  * scheduled consolidation's wall separately, and the records actually
  * read by the tagged index-maintenance jobs; at the end it checks the
  * maintained labels against the full batch connected-components
  * fixpoint.
  *
  * == What must be flat, and what is allowed to grow ==
  * Every ingest phase is contractually O(|batch| + touched): probes
  * are broadcast-probed scans, maintenance is append-only, and the
  * cluster store is a base+delta changelog (no per-batch corpus
  * rewrite — the r9 soak's wall rose ~2.9× because the label store
  * was localCheckpoint-rewritten every ingest). The TOTAL-ingest wall
  * series is asserted FLAT at ≤1.2 (mean of the LAST quarter — tail
  * included, r9 ADVICE — over the second quarter; the first quarter
  * pays JIT/codegen warmup). PER-PHASE series are asserted on
  * cycle-aligned MEDIANS instead (second full consolidation cycle vs
  * the last): delta-probing phases are a stationary sawtooth over the
  * consolidation cycle by design, so a quarter window landing
  * mid-cycle compares different sawtooth phases and reads a fake
  * trend. Phases whose reference statistic is under 50 ms are
  * asserted by an absolute bound instead (≤ ref + 100 ms): a ratio
  * over scheduler-jitter-sized walls measures noise, not scaling.
  * The ONE thing allowed to grow is the scheduled consolidation — an
  * O(corpus) log compaction by design, amortized by its trigger
  * interval and reported as its own series, never folded into the
  * flat assertion.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.SoakAudit"   # writes SOAK.json
  */
object SoakAudit {

  private val PhaseNames = Seq("prep", "classify", "edges", "clusters", "maintain")
  private val ConsolidateEvery = 10

  /** The per-batch series one soak records, in batch order. */
  private[graft] final class Series {
    val phaseSeries: Map[String, ArrayBuffer[Double]] =
      PhaseNames.map(_ -> ArrayBuffer.empty[Double]).toMap
    // each name is its own buffer
    val ingestWall, consolidateWall, novWall, winWall, winConsolidateWall =
      ArrayBuffer.empty[Double]
    val reads, sizes, novStoreRows, novBatchGrams, winStoreRows, winBatchFps,
      winBatchPairs = ArrayBuffer.empty[Long]
  }

  /** The keys whose `false` fails the soak. */
  private[graft] val Verdicts = Seq("label_parity", "novelty_parity",
    "novelty_store_sublinear", "winnow_parity", "winnow_cost_bounded", "flat")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK.json")
    val targetBatches = sys.env.getOrElse("SPARK_GRAFT_SOAK_BATCHES", "50").toInt
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val total = docs.count()
    val perTrigger = math.max(1L, (total + targetBatches - 1) / targetBatches)

    // produce the corpus into a fresh graftlog (keyed by doc_id)
    val root = Files.createTempDirectory("graft_soak").toFile.getAbsolutePath
    val logDir = s"$root/log"
    graft.sources.log.GraftLog.write(
      docs.select(col("doc_id").cast("string").as("key"),
        to_json(struct(col("doc_id"), col("text"))).as("value")),
      logDir, partitions = 8)

    // tagged-maintenance read counter (same audit surface as
    // StreamingSpec's O(batch) pin)
    val maintReads = graft.functions.Observability.GroupReads(
      spark.sparkContext, CurationLoop.MaintainJobGroup)

    val wireSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val runner = new CurationLoop.Runner(spark,
      consolidateEvery = ConsolidateEvery)
    val series = new Series
    import series._
    // StreamNovelty leg (r12 verdict #5): the maintained gram store
    // rides the same ingest; per-batch we record its ingest wall, the
    // standing store size, and the batch's gram occurrences, to prove
    // (a) the per-batch wall stays flat and (b) store growth is
    // sub-linear in ingested grams (the store dedups — later batches
    // re-see earlier vocabulary).
    var novState = graft.streaming.StreamNovelty.emptyState(spark)
    val novOut = ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    // StreamWinnow leg (r13 verdict #4 + ADVICE): the maintained
    // fingerprint store rides the same ingest. Contract: (a) each
    // batch grows the store by EXACTLY its own fingerprint rows (the
    // base+delta changelog appends O(batch), never rewrites the store
    // — the pre-r14 union-rewrite was the r9 label-store pattern);
    // (b) per-batch wall is flat PER UNIT OF WORK, where work =
    // emitted pairs + batch fingerprints + STORE ROWS AT PROBE TIME.
    // The store term is there because the probe is a hash join
    // against the in-memory store — an O(store) scan per batch BY
    // DESIGN in this spelling (the batch side builds, the store side
    // streams); at table scale the store lives as a bucketed catalog
    // index with pruned point probes (the BucketedCuration pattern).
    // The RAW wall is reported but not bounded: both the emitted
    // pair volume (batch k pairs against k−1 batches until df caps
    // bite — Σdf² output) and the scanned store grow with history by
    // the operator's semantics, so a flat raw bound would reject
    // correct behavior. The normalized bound still has teeth: it
    // rejects anything super-linear in (batch + store + output) —
    // e.g. an accidental store×store re-pairing — while accepting
    // the designed scan (the 10× first run proved matched-rows alone
    // undercounts: the scan dominates there and read 1.54). (c) the
    // scheduled O(store) consolidation is its own amortized series;
    // (d) pair parity with the batch operator holds at the end.
    // compact() is exercised mid-soak with a keep-all predicate
    // (semantically no-op, so parity stands; mechanically a full
    // store fold).
    var winState = graft.streaming.StreamWinnow.emptyState(spark)
    val winPairs = scala.collection.mutable.Map[(Long, Long), Long]()
    var winCompacted = false
    val winBatchCount = new java.util.concurrent.atomic.AtomicInteger(0)

    val q = spark.readStream.format("graftlog").option("path", logDir)
      .option("startingOffsets", "earliest")
      .option("maxRecordsPerTrigger", perTrigger.toString).load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val db = batch
          .select(from_json(col("value").cast("string"), wireSchema).as("r"))
          .select("r.doc_id", "r.text")
        val before = maintReads.read()
        runner.sink(db, batchId)
        val after = maintReads.read()
        val ph = runner.lastPhases
        phaseSeries("prep") += ph.prepMs
        phaseSeries("classify") += ph.classifyMs
        phaseSeries("edges") += ph.edgesMs
        phaseSeries("clusters") += ph.clustersMs
        phaseSeries("maintain") += ph.maintainMs
        ingestWall += ph.ingestTotalMs
        consolidateWall += ph.consolidateMs
        reads += (after - before)
        sizes += db.count()
        val tn0 = System.nanoTime()
        val (nv, ns) = graft.streaming.StreamNovelty.ingest(novState, db)
        novOut += nv.collect()
        novWall += (System.nanoTime() - tn0) / 1e6
        novState = ns
        // store/occurrence sizes are measured OUTSIDE the timed leg:
        // they are audit instrumentation, not ingest work
        novStoreRows += ns.gramRows
        novBatchGrams += Dedup.ngrams(db, 3).count()
        // winnow leg: timed ingest (O(batch) append), scheduled
        // consolidation timed SEPARATELY (amortized O(store) by
        // design, like the cluster store's)
        val tw0 = System.nanoTime()
        val (wp, ws) = graft.streaming.StreamWinnow.ingest(
          winState, db, maxDeltas = Int.MaxValue)
        val wpRows = wp.collect()
        winWall += (System.nanoTime() - tw0) / 1e6
        winState = ws
        winBatchPairs += wpRows.length.toLong
        wpRows.foreach { r =>
          winPairs((r.getLong(0), r.getLong(1))) = r.getLong(2)
        }
        val wb = winBatchCount.incrementAndGet()
        if (wb % ConsolidateEvery == 0 || wb == targetBatches / 2) {
          val tc0 = System.nanoTime()
          winState = if (!winCompacted && wb >= targetBatches / 2) {
            winCompacted = true // mid-soak compact: keep-all fold
            graft.streaming.StreamWinnow.compact(winState, lit(true))
          } else graft.streaming.StreamWinnow.consolidate(winState)
          winConsolidateWall += (System.nanoTime() - tc0) / 1e6
        } else winConsolidateWall += 0.0
        // batch fingerprint rows, untimed (audit instrumentation;
        // ONE pass, nothing cached — the r14 first 10× run showed an
        // extra untimed store probe here perturbs the timed legs)
        winBatchFps += graft.operators.TextAnalysis
          .winnowFingerprints(db).count()
        // store size tracked ARITHMETICALLY (previous + this batch's
        // fingerprints): ingest is append-only and consolidate/compact
        // (keep-all) preserve rows, so the series equals the counted
        // one — and the per-batch O(store) count() this replaces was
        // itself the class of extra store probe the comment above
        // bans (r14 ADVICE). The ONE real count() happens after the
        // soak (winStoreExact), which certifies the whole arithmetic
        // series against the corpus's exact fingerprint rows.
        winStoreRows += (winStoreRows.lastOption.getOrElse(0L) +
          winBatchFps.last)
        (): Unit
      }
      .start()
    q.processAllAvailable(); q.stop()
    maintReads.close()

    // final-label parity vs the batch fixpoint over the full corpus
    val expect = Dedup.connectedComponents(
        Dedup.minhashCandidates(docs), docs.select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.operators.OperatorCaches.releaseAll()
    val got = StreamClusters.labelsFor(runner.state().clusters, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parity = got == expect

    // novelty parity — the ORDER-INVARIANT contract: the graftlog
    // interleaves its 8 partitions, so batches are NOT doc_id-ordered
    // and first-batch attribution legitimately diverges from the
    // batch operator's min-doc_id rule (the operator's documented
    // out-of-order semantics; DocOpsSpec pins row-exact equality for
    // the ordered fold). What any ingest order must preserve: every
    // doc scored exactly once, per-doc gram counts identical to the
    // batch operator, each distinct gram credited as novel EXACTLY
    // once corpus-wide, and the store holding exactly the distinct
    // gram vocabulary.
    val novExpect = Dedup.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // doc_id -> n_grams
    val distinctGrams = Dedup.ngrams(docs, 3).select("sh")
      .distinct().count()
    graft.operators.OperatorCaches.releaseAll()
    val novRows = novOut.toArray.flatten
    val novGot = novRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val novNovelSum = novRows.map(_.getLong(2)).sum
    val novParity = novRows.length == novExpect.size &&
      novGot == novExpect &&
      novNovelSum == distinctGrams &&
      novStoreRows.lastOption.contains(distinctGrams)

    // winnow parity — the CAP-ROBUST superset contract (StreamWinnow's
    // documented divergence makes row-exact parity hold only cap-free,
    // which DocOpsSpec pins at test scale; at soak scale assert the
    // direction that holds at ANY cap): every pair the batch operator
    // emits at the same default cap must have been streamed, with
    // streamed n_shared >= the batch count (the stream sees df-so-far
    // <= final df, so it never drops a fingerprint the batch kept).
    // Plus the store contracts: final store == the corpus's exact
    // fingerprint rows, and EVERY batch grew it by exactly its own
    // fingerprint rows (append-only O(batch) — the base+delta claim).
    val winExpect = TextAnalysis.winnowOverlap(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.operators.OperatorCaches.releaseAll()
    val winSuperset = winExpect.forall { case (k, n0) =>
      winPairs.get(k).exists(_ >= n0) }
    // the soak's ONE real store count: the arithmetically-tracked
    // series must land exactly on the corpus's fingerprint rows —
    // this certifies both the final store contents AND that every
    // append was exactly its batch's fingerprints in aggregate
    // (Σ batch fps == final store rows); the per-batch delta==fps
    // check the arithmetic series replaced is tautological now and
    // was dropped with it (r14 ADVICE)
    val winStoreFinal = winState.fpRows // the ONE store-wide count
    val winStoreExact = winStoreFinal ==
      TextAnalysis.winnowFingerprints(docs).count() &&
      winStoreRows.lastOption.contains(winStoreFinal)

    val json = summary(sfDir, total, perTrigger, runner.consolidationCount, series,
      labelParity = parity, novParity = novParity, winSuperset = winSuperset,
      winStoreExact = winStoreExact, winCompacted = winCompacted)
    Bench.writeJson(outPath, json)
    println(json)
    spark.stop()
    if (!Verdicts.forall(k => json.get(k).asBoolean)) sys.exit(1)
  }

  /** The soak artifact: the per-batch series, their trend statistics
    * and the verdicts ([[Verdicts]]), from the series and the parity
    * checks `main` ran against the batch operators.
    */
  private[graft] def summary(sfDir: String, docs: Long, perTrigger: Long,
      consolidations: Long, series: Series, labelParity: Boolean,
      novParity: Boolean, winSuperset: Boolean, winStoreExact: Boolean,
      winCompacted: Boolean): ObjectNode = {
    import series._
    val n = ingestWall.size
    val qn = math.max(1, n / 4)
    // quarter means; the LAST quarter is takeRight(qn) so the newest
    // (slowest-if-anything-scales) batches are always in the statistic
    // — r9 ADVICE: the old slice dropped the final n%4 batches
    def qMean(xs: Seq[Double], qi: Int): Double = {
      val s = if (qi == 3) xs.takeRight(qn)
              else xs.slice(qi * qn, math.min(xs.size, (qi + 1) * qn))
      s.sum / s.size
    }
    // flat verdict per series: ratio ≤ 1.2 once the phase is big
    // enough for a ratio to mean anything; absolute jitter bound below
    final case class Trend(q2: Double, q4: Double) {
      def ratio: Double = q4 / math.max(q2, 1e-9)
      def flat: Boolean =
        if (q2 < 50.0) q4 <= q2 + 100.0 else ratio <= 1.2
    }
    def trendOf(xs: Seq[Double]) = Trend(qMean(xs, 1), qMean(xs, 3))

    // PER-PHASE trend statistic: cycle-aligned medians, not quarter
    // means. The base+delta stores make delta-probing phases a
    // stationary SAWTOOTH over the consolidation cycle (classify
    // climbs ~each batch as delta segments accumulate, resets at
    // every consolidation — bounded by the interval, by design, not
    // growth). A quarter window that lands mid-cycle compares
    // different sawtooth phases and reads a fake trend (observed:
    // classify 1.35 at 10× from window alignment plus ONE 689 ms
    // scheduler outlier, while every cycle-aligned comparison reads
    // ≤1.2). So: compare the SECOND full cycle (first is JIT warmup)
    // against the LAST full cycle, median within each (a 50-batch
    // series will contain scheduler outliers). Totals keep the
    // stricter quarter means — they passed flat at both scales.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val cycle = ConsolidateEvery
    // require >= 3 full cycles before cycle-aligned medians: at
    // exactly 2 cycles, `last` = 1 and the second cycle would be
    // compared AGAINST ITSELF (ratio 1.0, vacuously flat — r13
    // ADVICE). Shorter series fall back to quarter means.
    def phaseTrendOf(xs: Seq[Double]): Trend =
      if (xs.size < 3 * cycle) trendOf(xs)
      else {
        val last = xs.size / cycle - 1
        Trend(median(xs.slice(cycle, 2 * cycle)),
          median(xs.slice(last * cycle, (last + 1) * cycle)))
      }

    val phaseTrends = PhaseNames.map(p =>
      p -> phaseTrendOf(phaseSeries(p).toSeq))
    val wallTrend = trendOf(ingestWall.toSeq)
    val readTrend = trendOf(reads.map(_.toDouble).toSeq)
    // novelty-store legs: per-batch ingest wall flat (same bound as
    // every other phase), and store growth sub-linear in ingested
    // grams — the store's marginal absorption rate (new grams per
    // probed gram) must DECLINE as vocabulary accumulates
    val novWallTrend = trendOf(novWall.toSeq)
    // raw winnow wall: reported, not bounded (see the leg's contract
    // comment — per-batch output volume grows with history by the
    // operator's semantics). The bounded statistic is cost per unit
    // of work in µs/row (µs so the ratio rule, not the sub-50 jitter
    // bound, applies).
    val winWallTrend = trendOf(winWall.toSeq)
    // store rows at probe time = the PREVIOUS batch's store size
    // (batch 0 probes an empty store)
    val winWork = winWall.indices.map(i =>
      math.max(1L, winBatchPairs(i) + winBatchFps(i) +
        (if (i == 0) 0L else winStoreRows(i - 1))))
    val winCostPerRow = winWall.indices
      .map(i => winWall(i) * 1000.0 / winWork(i))
    val winCostTrend = trendOf(winCostPerRow)
    // the winnow leg's END-TO-END bounded invariant (r14 verdict Next
    // #6): µs per unit of work must hold the STRICT ratio bound at
    // every scale. Trend.flat's sub-50 jitter escape is for small
    // MILLISECOND phases; per-row costs are a few µs, so flat() would
    // be vacuously true on them (q4 <= q2 + 100) and a future
    // O(store) regression in the probe path could hide behind
    // "output grew". Measured 0.55/0.60 at 1×/10× — 2× headroom.
    val winCostBounded = winCostTrend.ratio <= 1.2
    val novNew = novStoreRows.toSeq.zip(0L +: novStoreRows.toSeq)
      .map { case (a, b) => (a - b).toDouble }
    val novRate = novNew.zip(novBatchGrams.toSeq)
      .map { case (nw, g) => if (g == 0) 0.0 else nw / g }
    val novRateQ1 = qMean(novRate, 0)
    val novRateQ4 = qMean(novRate, 3)
    val novSubLinear = novRateQ4 < novRateQ1
    val flat = wallTrend.flat && readTrend.flat && novWallTrend.flat &&
      winCostTrend.flat && phaseTrends.forall(_._2.flat)

    // each number keeps a fixed count of decimals; a statistic a short
    // series cannot define (a quarter past its end) is null, since
    // strict JSON has no NaN
    def num(x: Double, digits: Int): JsonNode =
      if (x.isNaN || x.isInfinite) NullNode.instance
      else DoubleNode.valueOf(BigDecimal(x)
        .setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def arr(xs: Seq[Double]): Seq[JsonNode] = xs.map(num(_, 1))
    def trendJson(t: Trend) = Bench.jsonObject("q2_ms" -> num(t.q2, 1),
      "q4_ms" -> num(t.q4, 1), "ratio" -> num(t.ratio, 3), "flat" -> t.flat)
    Bench.jsonObject("metric" -> "curation_soak", "sf" -> sfDir,
      "docs" -> docs, "batches" -> n, "per_trigger" -> perTrigger,
      "consolidations" -> consolidations, "phase_ms" -> Bench.jsonObject(
        PhaseNames.map(p => p -> arr(phaseSeries(p).toSeq)): _*),
      "ingest_wall_ms" -> arr(ingestWall.toSeq),
      "consolidate_ms" -> arr(consolidateWall.toSeq),
      "maint_reads" -> reads.toSeq, "batch_sizes" -> sizes.toSeq,
      "trends_q4_over_q2" -> Bench.jsonObject(
        (phaseTrends :+ ("ingest_total" -> wallTrend))
          .map { case (p, t) => p -> trendJson(t) }: _*),
      "ingest_wall_trend_q4_over_q2" -> num(wallTrend.ratio, 3),
      "read_trend_q4_over_q2" -> num(readTrend.ratio, 3),
      "consolidate_total_ms" -> num(consolidateWall.sum, 1),
      "scaling_phases" -> Bench.jsonObject("consolidate" ->
        ("amortized O(corpus) log compaction by design; fires every " +
          s"$cycle batches, reported above, excluded from the flat assertion")),
      "novelty_wall_ms" -> arr(novWall.toSeq),
      "novelty_store_rows" -> novStoreRows.toSeq, "novelty_batch_grams" -> novBatchGrams.toSeq,
      "novelty_wall_trend_q4_over_q2" -> num(novWallTrend.ratio, 3),
      "novelty_absorb_rate_q1" -> num(novRateQ1, 4),
      "novelty_absorb_rate_q4" -> num(novRateQ4, 4),
      "novelty_store_sublinear" -> novSubLinear, "novelty_parity" -> novParity,
      "winnow_wall_ms" -> arr(winWall.toSeq),
      "winnow_store_rows" -> winStoreRows.toSeq, "winnow_batch_fps" -> winBatchFps.toSeq,
      "winnow_consolidate_ms" -> arr(winConsolidateWall.toSeq),
      "winnow_batch_pairs" -> winBatchPairs.toSeq,
      "winnow_cost_us_per_row" -> arr(winCostPerRow),
      "winnow_cost_trend_q4_over_q2" -> num(winCostTrend.ratio, 3),
      "winnow_wall_trend_q4_over_q2" -> num(winWallTrend.ratio, 3),
      "winnow_compacted_mid_soak" -> winCompacted,
      "winnow_cost_bounded" -> winCostBounded, "winnow_store_exact" -> winStoreExact,
      "winnow_pair_superset" -> winSuperset,
      "winnow_parity" -> (winSuperset && winStoreExact),
      "label_parity" -> labelParity, "flat" -> flat)
  }
}
