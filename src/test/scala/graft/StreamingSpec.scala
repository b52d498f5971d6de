package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StatefulOps, TransactionPipeline, WindowedStreams}
import graft.streaming.StatefulOps.KeyedEvent

class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def t(min: Int, sec: Int = 0) =
    new Timestamp(min * 60000L + sec * 1000L)

  private var qn = 0
  private def runToMemory(df: org.apache.spark.sql.DataFrame,
                          mode: String = "append") = {
    qn += 1
    val name = s"out$qn"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("A6 count-trigger: alert fires per N events inside the window") {
    val in = MemoryStream[KeyedEvent](spark)
    in.addData((1 to 25).map(i => KeyedEvent("u1", t(0, i), 1.0)): _*)
    val out = runToMemory(
      StatefulOps.highFrequencyAlerts(in.toDS(), threshold = 10).toDF())
    val counts = out.collect().map(_.getAs[Long]("count")).sorted
    assert(counts.toSeq == Seq(10L, 20L)) // fired at the 10th and 20th
  }

  test("A8 streaming velocity matches batch multiHorizon on same data") {
    val events = Seq(
      KeyedEvent("u1", t(0), 100.0), KeyedEvent("u1", t(2), 50.0),
      KeyedEvent("u1", t(70), 25.0), KeyedEvent("u2", t(1), 10.0))
    val in = MemoryStream[KeyedEvent](spark)
    in.addData(events: _*)
    val streamed = runToMemory(StatefulOps.velocity(in.toDS()).toDF())
      .select($"key", $"ts", $"n5min", $"n1h")
      .as[(String, Timestamp, Long, Long)].collect().toSet
    val batch = graft.operators.Velocity.multiHorizon(
        events.toDF("user_id", "ts", "value")
          .withColumnRenamed("user_id", "key")
          .select($"key".as("user_id"), $"ts", $"value"))
      .select($"user_id", $"ts", $"n_5min", $"n_1h")
      .as[(String, Timestamp, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming sequence score matches the batch window bit-for-bit") {
    val events = Seq(
      KeyedEvent("u1", t(0), 100.17), KeyedEvent("u1", t(2), 50.55),
      KeyedEvent("u1", t(4), 25.0), KeyedEvent("u1", t(6), 999.99),
      KeyedEvent("u1", t(8), 1200.5), KeyedEvent("u1", t(10), 3.33),
      KeyedEvent("u2", t(1), 10.01))
    val in = MemoryStream[KeyedEvent](spark)
    in.addData(events: _*)
    val streamed = runToMemory(StatefulOps.sequenceScore(in.toDS()).toDF())
      .select($"key", $"ts", $"nRecent", $"avgRecent", $"pFraud")
      .as[(String, Timestamp, Long, Double, Double)].collect().toSet
    val batchIn = events.zipWithIndex
      .map { case (e, i) => (e.key, i.toLong, e.ts, e.value) }
      .toDF("user_id", "event_id", "ts", "value")
    val batch = graft.ml.DeterministicModels
      .sequenceScore(batchIn, $"value", $"ts")
      .select($"user_id", $"ts", $"n_recent".cast("long"), $"avg_recent",
        $"p_fraud")
      .as[(String, Timestamp, Long, Double, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("sequence score folds cross-batch late events in ARRIVAL order") {
    // A late event (earlier ts, later micro-batch) scores against the
    // 5 most-recently-ARRIVED amounts, not event-time order — the
    // documented semantics (see StatefulOps.sequenceScore). Batch 1:
    // ts=0min/100.0 then ts=4min/200.0; batch 2 delivers ts=2min/50.0
    // late. Its row must average {100,200,50} (all arrivals), not the
    // event-time-window {100,50}.
    val in = MemoryStream[KeyedEvent](spark)
    qn += 1
    val name = s"out$qn"
    val q = StatefulOps.sequenceScore(in.toDS()).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // two genuine micro-batches: the query must be running between adds
    // (addData before start() folds everything into batch 0)
    in.addData(KeyedEvent("u1", t(0), 100.0), KeyedEvent("u1", t(4), 200.0))
    q.processAllAvailable()
    in.addData(KeyedEvent("u1", t(2), 50.0)) // late arrival
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select($"ts", $"nRecent", $"avgRecent")
      .as[(Timestamp, Long, Double)].collect().toMap2
    assert(rows(t(0)) == ((1L, 100.0)))
    assert(rows(t(4)) == ((2L, 150.0)))
    assert(rows(t(2)) == ((3L, 350.0 / 3))) // includes the NEWER t(4) event
  }

  private implicit class Tup3Ops[A, B, C](xs: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = xs.map { case (a, b, c) => a -> (b, c) }.toMap
  }

  test("streaming transitions match batch eventTransitions on one batch") {
    import graft.streaming.StatefulOps.SeqEvent
    val rows = Seq(
      SeqEvent("u1", 1L, "view", t(0)), SeqEvent("u1", 2L, "click", t(1)),
      SeqEvent("u1", 3L, "purchase", t(2)),
      // same-ts pair: the eventId tiebreak must order 4 before 5
      SeqEvent("u2", 4L, "view", t(0)), SeqEvent("u2", 5L, "click", t(0)))
    val in = MemoryStream[SeqEvent](spark)
    in.addData(rows: _*)
    val streamed = runToMemory(StatefulOps.transitions(in.toDS()).toDF())
      .groupBy($"from_type", $"to_type").count()
      .as[(String, String, Long)].collect().toSet
    val batch = graft.operators.Behavior.eventTransitions(
      rows.toDF("user_id", "event_id", "event_type", "ts"))
      .select($"from_type", $"to_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set(("view", "click", 2L), ("click", "purchase", 1L)))
  }

  test("streaming burst detection matches batch burstDetect on one batch") {
    import graft.streaming.StatefulOps.Tick
    def at(hour: Long, i: Int) = new Timestamp(hour * 3600000L + i * 1000L)
    val rows =
      (0 until 24).map(h => Tick("a", at(h.toLong, 0))) ++
        (0 until 10).map(i => Tick("a", at(24, i))) ++
        Seq(Tick("a", at(25, 0))) ++
        (0 until 4).map(i => Tick("b", at(0, i))) ++ Seq(Tick("b", at(20, 0)))
    val in = MemoryStream[Tick](spark)
    in.addData(rows: _*)
    val streamed = runToMemory(StatefulOps.burstStream(in.toDS()).toDF())
      .select($"key", $"hourBucket", $"n", $"trailSum", $"trailCnt", $"burst")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
    val batch = graft.operators.WindowedAggs.burstDetect(
      rows.map(t => (t.key, t.ts)).toDF("event_type", "ts"))
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
    assert(streamed == batch)
    assert(streamed.exists { case (k, b, _, _, _, f) => k == "a" && b == 24 && f })
  }

  test("streaming transitions chain cross-batch; late events in ARRIVAL order") {
    import graft.streaming.StatefulOps.SeqEvent
    val in = MemoryStream[SeqEvent](spark)
    qn += 1
    val name = s"out$qn"
    val q = StatefulOps.transitions(in.toDS()).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(SeqEvent("u1", 1L, "view", t(0)))
    q.processAllAvailable()
    // batch 2: a normal successor plus a LATE event (earlier ts) —
    // the late row chains from the last ARRIVED state, not by event time
    in.addData(SeqEvent("u1", 3L, "purchase", t(5)))
    q.processAllAvailable()
    in.addData(SeqEvent("u1", 2L, "click", t(1)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name)
      .select($"from_type", $"to_type").as[(String, String)].collect().toList
    assert(out == List(("view", "purchase"), ("purchase", "click")))
  }

  test("streaming ingest dedups against a static corpus (anti-join)") {
    // the streaming face of Dedup.incrementalDedup's exact-hash stage:
    // a stream-static LEFT ANTI join on md5(text) — corpus hashes are
    // a broadcast, so per-micro-batch cost is O(batch)
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    val corpusHashes = corpus.select(md5($"text").as("eh"))
    val in = MemoryStream[(Long, String)](spark)
    in.addData((10L, "alpha beta gamma"), (11L, "fresh content here"))
    val deduped = in.toDF().toDF("doc_id", "text")
      .join(corpusHashes, md5($"text") === $"eh", "left_anti")
    val got = runToMemory(deduped)
    assert(got.collect().map(_.getLong(0)).toSet == Set(11L))
  }

  test("streaming band-key dedup matches batch incrementalDedup (single batch)") {
    import graft.streaming.StreamDedup
    // corpus: a 30-word doc and an unrelated one; batch: an exact
    // copy, a near-dup (one word swapped), fresh content, and a
    // too-short-to-shingle doc (exercises the null-band-key guard)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 29).map(i => s"w$i") :+ "zz").mkString(" ")
    val fresh = (100 to 130).map(i => s"v$i").mkString(" ")
    val corpus = Seq((1L, base), (2L, "solo text here")).toDF("doc_id", "text")
    val batchRows = Seq((10L, base), (11L, near), (12L, fresh), (13L, "xy"))
    val exactIdx = StreamDedup.exactIndex(corpus)
    val bandIdx = StreamDedup.bandIndex(corpus)
    val in = MemoryStream[(Long, String)](spark)
    in.addData(batchRows: _*)
    val streamed = runToMemory(StreamDedup.dedupStream(
        in.toDF().toDF("doc_id", "text"), exactIdx, bandIdx))
      .as[(Long, String)].collect().toSet
    // batch twin: same docs through incrementalDedup's one-pass form
    val all = corpus.union(batchRows.toDF("doc_id", "text"))
    val batch = graft.operators.Dedup.incrementalDedup(all, $"doc_id" >= 10L)
      .as[(Long, String)].collect().toSet
    assert(streamed == batch)
    val byId = streamed.toMap
    assert(byId(10L) == "dup_exact" && byId(12L) == "new" && byId(13L) == "new")
  }

  test("streaming band-key dedup agrees with its index at a non-default shingle width") {
    import graft.streaming.StreamDedup
    // round-7 ADVICE regression: bandIndex hardcoded 3-gram shingles
    // while dedupStream accepted any n, so a 5-gram stream probed a
    // 3-gram index and every near-dup came back "new". Both sides now
    // take n explicitly; this pins that an agreed non-default width
    // still classifies the near-dup.
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 29).map(i => s"w$i") :+ "zz").mkString(" ")
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)](spark)
    in.addData((10L, near), (11L, "totally different words entirely"))
    val got = runToMemory(StreamDedup.dedupStream(
        in.toDF().toDF("doc_id", "text"),
        StreamDedup.exactIndex(corpus),
        StreamDedup.bandIndex(corpus, n = 5), n = 5))
      .as[(Long, String)].collect().toMap
    assert(got(10L) == "dup_near", s"5-gram near-dup misclassified: $got")
    assert(got(11L) == "new")
  }

  test("incremental cluster maintenance matches batch CC; untouched components stay out") {
    import graft.streaming.StreamClusters
    import graft.streaming.StreamClusters.IngestAudit
    // batch 1: two separate clusters; batch 2: an unrelated cluster
    // (must NOT drag components 1/3 into the subgraph); batch 3: an
    // edge MERGING the two original clusters across batches
    val batches = Seq(
      Seq((1L, 2L), (3L, 4L)),
      Seq((5L, 6L)),
      Seq((2L, 3L)))
    var st = StreamClusters.emptyState(spark)
    val allEdges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val audits = batches.map { b =>
      val a = new IngestAudit
      st = StreamClusters.ingest(st, b.toDF("doc_a", "doc_b"), Some(a))
      allEdges ++= b
      // parity with the batch fixpoint over everything seen so far
      val nodes = allEdges.flatMap(e => Seq(e._1, e._2)).distinct.toSeq
      val expect = graft.operators.Dedup.connectedComponents(
          allEdges.toSeq.toDF("doc_a", "doc_b"), nodes.toDF("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = StreamClusters.labelsFor(st, nodes.toDF("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"batch parity failed: $got vs $expect")
      a
    }
    // incrementality: batch 2 touches no existing component, so its
    // subgraph is exactly its own single edge
    assert(audits(1).touchedComponents == 0L && audits(1).subgraphEdges == 1L)
    // the merge batch pulls in both touched components' edges + its own
    assert(audits(2).touchedComponents == 2L && audits(2).subgraphEdges == 3L)
    // final labels: {1,2,3,4} merged under 1, {5,6} under 5
    val fin = StreamClusters.labelsFor(st,
        (1L to 6L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("incremental clusters run as a streaming query (foreachBatch)") {
    import graft.streaming.StreamClusters
    val in = MemoryStream[(Long, Long)](spark)
    val m = new StreamClusters.Maintainer(spark)
    val q = in.toDF().toDF("doc_a", "doc_b")
      .writeStream.foreachBatch(m.sink _).start()
    in.addData((10L, 11L), (12L, 13L))
    q.processAllAvailable()
    in.addData((11L, 12L)) // cross-batch merge
    q.processAllAvailable(); q.stop()
    val got = StreamClusters.labelsFor(m.state(),
        Seq(10L, 11L, 12L, 13L, 99L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      99L -> 99L)) // 99 was never paired: identity label
  }

  test("cluster edge-log compaction preserves future merges; store shrinks to star forest") {
    import graft.streaming.StreamClusters
    // build two chains (redundant multi-edge components), compact,
    // then merge them with a later edge — connectivity must survive
    // compaction and the store must be bounded by nodes − components
    var st = StreamClusters.emptyState(spark)
    st = StreamClusters.ingest(st,
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), // cycle: redundant edge
        (10L, 11L), (11L, 12L)).toDF("doc_a", "doc_b"))
    val before = st.edges.count()
    st = StreamClusters.compact(st)
    val after = st.edges.count()
    assert(after < before && after == 5L) // 7 paired nodes − 2 components
    st = StreamClusters.ingest(st, Seq((4L, 10L)).toDF("doc_a", "doc_b"))
    val got = StreamClusters.labelsFor(st,
        Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L), s"merge after compaction broke: $got")
  }

  test("curation loop: statuses match incrementalDedup and labels match full-corpus CC per batch") {
    import graft.streaming.CurationLoop
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 29).map(i => s"w$i") :+ "zz").mkString(" ")
    val other = (100 to 130).map(i => s"v$i").mkString(" ")
    // batch 2 contains a batch-INTERNAL dup pair (21, 22) and a near
    // dup of batch 1's doc; batch 3 is an exact dup of batch 1's doc
    val batches = Seq(
      Seq((1L, base), (2L, other)),
      Seq((21L, near), (22L, near), (23L, "short text")),
      Seq((31L, base)))
    var st = CurationLoop.emptyState(spark)
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    batches.foreach { b =>
      val (statuses, next) = CurationLoop.ingest(st, b.toDF("doc_id", "text"))
      st = next
      val gotStatus = statuses.collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // status parity: one-pass batch operator over corpus ∪ batch
      val batchIds = b.map(_._1).toSet
      val all = (seen ++ b).toSeq.toDF("doc_id", "text")
      val expectStatus = graft.operators.Dedup.incrementalDedup(all,
          col("doc_id").isInCollection(batchIds))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(gotStatus == expectStatus, s"status parity: $gotStatus")
      seen ++= b
      // label parity: cumulative edges == full-corpus band candidates
      val corpus = seen.toSeq.toDF("doc_id", "text")
      val expectLabels = graft.operators.Dedup.connectedComponents(
          graft.operators.Dedup.minhashCandidates(corpus),
          corpus.select("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotLabels = graft.streaming.StreamClusters
        .labelsFor(st.clusters, corpus.select("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotLabels == expectLabels, s"label parity: $gotLabels")
    }
    // spot checks: the batch-internal dups clustered with doc 1's
    // family iff banded together; doc 31 (exact dup) shares 1's label
    val labels = graft.streaming.StreamClusters
      .labelsFor(st.clusters, seen.toSeq.toDF("doc_id", "text").select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(31L) == labels(1L))
    assert(labels(21L) == labels(22L))
  }

  test("curation admissions gate novelty, quality, PII, and decontamination per batch") {
    import graft.streaming.CurationLoop
    val good = (1 to 60).map(i => s"quality$i").mkString(" ")
    val good2 = (100 to 160).map(i => s"other$i").mkString(" ")
    val evalText = "alpha beta gamma delta epsilon zeta eta"
    val evalGrams = graft.operators.Dedup.evalGramSet(
      Seq((900L, evalText)).toDF("doc_id", "text"))
    val (_, st1) = CurationLoop.ingest(
      CurationLoop.emptyState(spark), Seq((1L, good)).toDF("doc_id", "text"))
    // batch 2: exact dup of the corpus (10), novel clean doc (11),
    // junk-quality doc (12), novel doc carrying PII (13), novel doc
    // quoting the eval benchmark (14)
    val batch = Seq(
      (10L, good), (11L, good2), (12L, "x"),
      (13L, good2 + " mail me bob@spam.example.com"),
      (14L, good2 + " " + evalText)).toDF("doc_id", "text")
    val (s1, _) = CurationLoop.ingest(st1, batch)
    val adm = CurationLoop.admissions(batch, s1, minQuality = 0.6,
        evalGrams = Some(evalGrams))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(adm.size == 5)
    assert(adm(10L).getString(1) == "dup_exact" && !adm(10L).getBoolean(5))
    assert(adm(11L).getString(1) == "new" && adm(11L).getBoolean(5))
    assert(adm(12L).getString(1) == "new" && !adm(12L).getBoolean(5) &&
      adm(12L).getDouble(2) < 0.6) // rejected by the quality gate alone
    assert(adm(13L).getString(1) == "new" && !adm(13L).getBoolean(3) &&
      !adm(13L).getBoolean(5)) // rejected by the PII gate alone
    assert(adm(14L).getString(1) == "new" && adm(14L).getBoolean(4) &&
      !adm(14L).getBoolean(5)) // rejected by decontamination alone
  }

  test("curation maintenance cost stays O(batch) as the corpus grows (stage-metrics audit)") {
    import graft.streaming.CurationLoop
    // round-7 verdict item 1: index maintenance used to re-distinct +
    // re-checkpoint the FULL corpus-wide indexes every batch. The
    // maintenance actions are now tagged with a job group; this audit
    // measures the records those jobs actually read (input + shuffle)
    // and pins that the per-batch cost stays flat while the corpus
    // grows 8x — a regression to any corpus-wide pass scales with the
    // corpus and trips the 3x bound by the later batches.
    val records = graft.functions.Observability.GroupReads(
      spark.sparkContext, CurationLoop.MaintainJobGroup)
    try {
      var st = CurationLoop.emptyState(spark)
      val perBatch = (0 until 8).map { b =>
        val docs = (0 until 5).map(i =>
          ((b * 5 + i).toLong, s"uniq${b}x$i alpha$b beta$i gamma${b + i} delta"))
        records.reset()
        val audit = new CurationLoop.CurationAudit
        val (_, next) = CurationLoop.ingest(st,
          docs.toDF("doc_id", "text"), Some(audit))
        st = next
        val r = records.read()
        // every text is new and unique: appends are exactly the batch
        assert(audit.exactAppended == 5L, s"batch $b: ${audit.exactAppended}")
        assert(audit.bandAppended == 10L) // 5 docs x 2 bands
        r
      }
      assert(perBatch.forall(_ > 0L), s"maintenance jobs untagged? $perBatch")
      assert(perBatch.last <= 3 * perBatch.head + 10,
        s"maintenance cost grew with the corpus: $perBatch")
    } finally records.close()
  }

  test("maintainer auto-compacts: edge log bounded by paired nodes over a long random ingest") {
    import graft.streaming.StreamClusters
    // round-7 verdict item 3: compact existed but the production
    // wiring never called it. The Maintainer now triggers it by size;
    // post-batch invariant edgeLogRows <= factor x paired nodes, and
    // label parity with the batch fixpoint must survive compactions.
    val m = new StreamClusters.Maintainer(spark, compactFactor = 2.0)
    val rnd = new scala.util.Random(7)
    val all = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (1 to 25).foreach { i =>
      val edges = Seq.fill(4)(
          ((rnd.nextInt(12) + 1).toLong, (rnd.nextInt(12) + 1).toLong))
        .filter(e => e._1 != e._2)
      m.sink(edges.toDF("doc_a", "doc_b"), i.toLong)
      all ++= edges
      val paired = all.flatMap(e => Seq(e._1, e._2)).distinct.size
      assert(m.edgeLogRows <= 2.0 * paired,
        s"batch $i: log ${m.edgeLogRows} exceeds 2 x $paired paired nodes")
      assert(m.labelDeltaRows <= 2.0 * paired,
        s"batch $i: changelog ${m.labelDeltaRows} exceeds 2 x $paired")
    }
    assert(m.compactionCount >= 1, "size trigger never fired")
    val nodes = all.flatMap(e => Seq(e._1, e._2)).distinct.toSeq
    val expect = graft.operators.Dedup.connectedComponents(
        all.toSeq.toDF("doc_a", "doc_b"), nodes.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = StreamClusters.labelsFor(m.state(), nodes.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"parity after auto-compaction: $got vs $expect")
  }

  test("maintainer compacts on label-changelog growth alone (big component re-touched per batch)") {
    import graft.streaming.StreamClusters
    // adversarial shape for the edge-only trigger: one 30-node
    // component, then each batch adds ONE edge touching it — the edge
    // log grows by 1/batch but every ingest appends ~30 label rows
    // for the re-fixpointed component, so only the changelog arm of
    // the trigger can bound state (ADVICE r10 medium finding).
    val m = new StreamClusters.Maintainer(spark, compactFactor = 3.0)
    m.sink((1L to 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"), 0L)
    (1 to 8).foreach { i =>
      m.sink(Seq((1L, (i % 29 + 1).toLong)).toDF("doc_a", "doc_b"), i.toLong)
      assert(m.labelDeltaRows <= 3.0 * 30,
        s"batch $i: changelog ${m.labelDeltaRows} escaped the corpus bound")
    }
    assert(m.compactionCount >= 1,
      "label-changelog trigger never fired though edge log stayed tiny")
    val got = StreamClusters.labelsFor(m.state(),
        (1L to 30L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L), s"labels broken: $got")
  }

  test("curation runner: scheduled consolidation preserves classification and labels") {
    import graft.streaming.CurationLoop
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 29).map(i => s"w$i") :+ "zz").mkString(" ")
    val near2 = ((1 to 29).map(i => s"w$i") :+ "qq").mkString(" ")
    val statuses = scala.collection.mutable.Map[Long, String]()
    val r = new CurationLoop.Runner(spark, consolidateEvery = 2,
      onStatuses = (df, _) => df.collect().foreach(row =>
        statuses(row.getLong(0)) = row.getString(1)))
    val batches = Seq(
      Seq((1L, base), (2L, "unrelated text one here")),
      Seq((11L, near)),                 // consolidation fires after this
      Seq((21L, base), (22L, "fresh words entirely different")),
      Seq((31L, near2)))                // and after this
    batches.zipWithIndex.foreach { case (b, i) =>
      r.sink(b.toDF("doc_id", "text"), i.toLong) }
    assert(r.consolidationCount == 2L)
    // classification against the POST-consolidation index still works:
    // 21 is an exact dup of 1; 31 a near dup probed via the
    // consolidated band index
    assert(statuses(21L) == "dup_exact" && statuses(31L) == "dup_near")
    // labels survive consolidation: parity vs the full-corpus fixpoint
    val corpus = batches.flatten.toDF("doc_id", "text")
    val expect = graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.minhashCandidates(corpus),
        corpus.select("doc_id"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val got = graft.streaming.StreamClusters
      .labelsFor(r.state().clusters, corpus.select("doc_id"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == expect, s"labels after consolidation: $got vs $expect")
  }

  test("state-API-v2 sequence score (transformWithState) matches v1") {
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Seq(
        KeyedEvent("u1", t(0), 100.17), KeyedEvent("u1", t(2), 50.55),
        KeyedEvent("u1", t(4), 999.99), KeyedEvent("u2", t(1), 10.01))
      val in = MemoryStream[KeyedEvent](spark)
      in.addData(events: _*)
      val v2 = runToMemory(StatefulOps.sequenceScoreV2(in.toDS()).toDF())
        .select($"key", $"ts", $"nRecent", $"avgRecent", $"pFraud")
        .as[(String, Timestamp, Long, Double, Double)].collect().toSet
      val in1 = MemoryStream[KeyedEvent](spark)
      in1.addData(events: _*)
      val v1 = runToMemory(StatefulOps.sequenceScore(in1.toDS()).toDF())
        .select($"key", $"ts", $"nRecent", $"avgRecent", $"pFraud")
        .as[(String, Timestamp, Long, Double, Double)].collect().toSet
      assert(v2 == v1)
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("S8 recent-N ring keeps newest-first bounded list") {
    val in = MemoryStream[KeyedEvent](spark)
    in.addData((1 to 5).map(i => KeyedEvent("u1", t(i), i.toDouble)): _*)
    val out = runToMemory(StatefulOps.recentN(in.toDS(), n = 3).toDF())
    val last = out.orderBy(desc("ts")).head()
      .getAs[scala.collection.Seq[Double]]("recent").toSeq
    assert(last == Seq(5.0, 4.0, 3.0))
  }

  test("watermark drops late rows in sliding velocity (append mode)") {
    val in = MemoryStream[KeyedEvent](spark)
    val agg = WindowedStreams.slidingVelocity(
      in.toDF().withColumnRenamed("key", "user_id")
        .withColumn("event_type", lit("e")),
      watermark = "10 seconds")
    in.addData(KeyedEvent("u1", t(0), 1.0), KeyedEvent("u1", t(1), 1.0))
    in.addData(KeyedEvent("u1", t(60), 1.0)) // advances watermark far ahead
    val q = agg.writeStream.format("memory").queryName("wmq")
      .outputMode("append").start()
    q.processAllAvailable()
    in.addData(KeyedEvent("u1", t(2), 99.0)) // late: behind watermark
    q.processAllAvailable(); q.stop()
    val closed = spark.table("wmq")
      .select(sum($"total_value")).head().getDouble(0)
    assert(closed > 0 && closed < 99.0) // late row never contributed
  }

  test("streaming dedup drops within-watermark repeats of a key") {
    // modern-era timestamps: the initial global watermark is the epoch,
    // and the dedup operator drops rows at-or-behind the watermark
    def m(min: Int) = Timestamp.valueOf(s"2024-01-01 00:0$min:00")
    val in = MemoryStream[StatefulOps.KeyedEvent](spark)
    in.addData(
      StatefulOps.KeyedEvent("a", m(0), 1.0),
      StatefulOps.KeyedEvent("a", m(1), 2.0),
      StatefulOps.KeyedEvent("b", m(0), 3.0))
    val out = runToMemory(StatefulOps.dedupStream(in.toDS()).toDF())
    assert(out.count() == 2)
    assert(out.filter(col("key") === "a").count() == 1)
  }

  test("end-to-end pipeline: parse errors and blacklist drive decisions") {
    val users = Seq(("u1", 0.2, "verified", 100.0))
      .toDF("user_id", "risk_score", "kyc_status", "avg_transaction_amount")
    val merchants = Seq(("m1", 0.01, "low", false))
      .toDF("merchant_id", "fraud_rate", "risk_level", "is_blacklisted")
    def txJson(id: String, amount: Double) =
      s"""{"transaction_id":"$id","user_id":"u1","merchant_id":"m1",
         |"amount":$amount,"timestamp":"2024-01-01T12:00:00Z",
         |"user_agent":"Mozilla/5.0 (X11; Linux x86_64) Gecko",
         |"geolocation":{"lat":40.0,"lon":-74.0},
         |"merchant_location":{"lat":40.1,"lon":-74.1}}""".stripMargin
    val raw = Seq(txJson("t1", 50.0), txJson("t2", 5000.0), "NOT JSON{{{")
      .toDF("json")
    val out = TransactionPipeline.pipeline(raw, users, merchants)
      .select("transaction_id", "fraud_score", "risk_level", "decision")
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3)))
    assert(out.exists(r => r._1 == "t1" && r._3 == "APPROVE"))
    assert(out.exists(r => r._1.startsWith("ERROR_") && r._2 == "ERROR"
      && r._3 == "REVIEW"))
  }

  test("pipeline runs identically as a streaming query") {
    val users = Seq(("u1", 0.2, "verified", 100.0))
      .toDF("user_id", "risk_score", "kyc_status", "avg_transaction_amount")
    val merchants = Seq(("m1", 0.01, "low", false))
      .toDF("merchant_id", "fraud_rate", "risk_level", "is_blacklisted")
    val in = MemoryStream[String](spark)
    in.addData("""{"transaction_id":"s1","user_id":"u1","merchant_id":"m1",
      |"amount":10.0,"timestamp":"2024-01-01T09:00:00Z",
      |"user_agent":"Mozilla/5.0 (X11; Linux) Gecko/20100101 Firefox",
      |"geolocation":{"lat":40.0,"lon":-74.0},
      |"merchant_location":{"lat":40.0,"lon":-74.0}}""".stripMargin)
    val out = runToMemory(TransactionPipeline.pipeline(
      in.toDF().withColumnRenamed("value", "json"), users, merchants)
      .select("transaction_id", "decision"))
    val rows = out.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("s1", "APPROVE")))
  }
}
