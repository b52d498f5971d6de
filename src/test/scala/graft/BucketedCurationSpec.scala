package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BucketedCuration, BucketedCurationStore, CurationLoop}

/** The bucketed-table face of the curation indexes: parity with the
  * in-memory face batch-by-batch, and the at-scale plan shape — the
  * standing-index scan reads ONLY the batch's buckets (bucket-filter
  * pruning) and the batch side is broadcast, so nothing corpus-sized
  * ever shuffles.
  */
class BucketedCurationSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val nBuckets = 16

  test("bucketed ingest: statuses and labels match the in-memory loop per batch") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 29).map(i => s"w$i") :+ "zz").mkString(" ")
    val other = (100 to 130).map(i => s"v$i").mkString(" ")
    val rnd = new scala.util.Random(7)
    def randDoc(id: Long): (Long, String) =
      (id, (1 to 25).map(_ => s"t${rnd.nextInt(40)}").mkString(" "))
    // the deterministic scenario (batch-internal dup pair, cross-batch
    // near + exact dups) plus random batches for breadth
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, base), (2L, other)),
      Seq((21L, near), (22L, near), (23L, "short text")),
      Seq((31L, base))) ++
      (0 until 4).map(b => (0 until 8).map(i => randDoc(1000L + b * 8 + i)))

    val store = new BucketedCurationStore(spark, "bc_parity", nBuckets)
    store.init()
    var mem = CurationLoop.emptyState(spark)
    var bucketClusters = graft.streaming.StreamClusters.emptyState(spark)
    try {
      batches.foreach { b =>
        val batch = b.toDF("doc_id", "text")
        val (memStatuses, next) = CurationLoop.ingest(mem, batch)
        mem = next
        val (bkStatuses, bkEdges) = BucketedCuration.ingest(store, batch)
        bucketClusters =
          graft.streaming.StreamClusters.ingest(bucketClusters, bkEdges)
        val m = memStatuses.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val k = bkStatuses.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(k == m, s"status parity on batch $b")
      }
      // cumulative cluster labels agree too (edges were identical)
      val allIds = batches.flatten.map(_._1).toDF("doc_id")
      val memLabels = graft.streaming.StreamClusters
        .labelsFor(mem.clusters, allIds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bkLabels = graft.streaming.StreamClusters
        .labelsFor(bucketClusters, allIds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bkLabels == memLabels)
    } finally store.drop()
  }

  test("probes are bucket-pruned point lookups; the index never shuffles or broadcasts") {
    val store = new BucketedCurationStore(spark, "bc_plan", nBuckets)
    store.init()
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // seed the standing indexes with a few batches so every bucket
      // has real files, then probe with a SMALL batch
      (0 until 3).foreach { b =>
        val docs = (0 until 20).map(i =>
          (b * 100L + i, (1 to 20).map(j => s"s${b}_${i}_$j").mkString(" ")))
        BucketedCuration.ingest(store, docs.toDF("doc_id", "text"))
      }
      val probeBatch = Seq((9001L, (1 to 20).map(j => s"p$j").mkString(" ")))
        .toDF("doc_id", "text")
      val keys = graft.operators.Dedup.bandKeys(
        graft.operators.Dedup.minhashSignatures(probeBatch), 8, 2)
        .localCheckpoint(true)
      val probe = store.probeBand(keys)
      probe.collect()
      val plan = probe.queryExecution.executedPlan
      val scan = plan.collectLeaves().map(_.toString)
        .find(_.contains(store.bandTable))
        .getOrElse(fail(s"no scan of ${store.bandTable} in:\n$plan"))
      // bucket pruning: the one-doc batch has 8 band keys -> at most 8
      // of 16 buckets selected
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(scan)
        .getOrElse(fail(s"no bucket pruning in scan:\n$scan"))
      assert(sel.group(2).toInt == nBuckets)
      assert(sel.group(1).toInt <= 8,
        s"expected <=8 of $nBuckets buckets read, got ${sel.group(1)}")
      // the batch side is the broadcast build side; the standing index
      // is the streamed probe side and never shuffles
      val p = plan.toString
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"standing index must not shuffle:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      store.drop()
    }
  }

  test("probe I/O is bounded by the batch's buckets, not the corpus (stage-metrics audit)") {
    // SelectedBucketsCount (pinned above) is plan metadata; this test
    // pins the ACTUAL I/O: records read by the probe's jobs equal the
    // rows living in the batch's buckets (bucket id =
    // pmod(murmur3(bkey), n) — the same hash Spark's bucketing uses),
    // never the whole table. With the corpus spread over all 16
    // buckets and a one-doc probe touching <= 8, that is a real skip.
    val store = new BucketedCurationStore(spark, "bc_io", nBuckets)
    store.init()
    val group = "bc-probe-audit"
    val records = graft.functions.Observability.GroupReads(spark.sparkContext, group)
    try {
      (0 until 12).foreach { b =>
        val docs = (0 until 10).map(i =>
          (b * 100L + i, (1 to 20).map(j => s"io${b}_${i}_$j").mkString(" ")))
        BucketedCuration.ingest(store, docs.toDF("doc_id", "text"))
      }
      val probeBatch = Seq((9100L, (1 to 20).map(j => s"pp$j").mkString(" ")))
        .toDF("doc_id", "text")
      val keys = graft.operators.Dedup.bandKeys(
        graft.operators.Dedup.minhashSignatures(probeBatch), 8, 2)
        .localCheckpoint(true)
      val nKeys = keys.count()
      val band = spark.table(store.bandTable)
      val totalRows = band.count()
      // rows living in the batch's buckets — what a bucket-level skip
      // reads at most; row-group stats may read even less
      val batchBuckets = keys
        .select(pmod(hash(col("bkey")), lit(nBuckets)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      assert(batchBuckets.size < nBuckets,
        s"probe keys must not cover every bucket: $batchBuckets")
      val rowsInBatchBuckets = band
        .filter(pmod(hash(col("bkey")), lit(nBuckets))
          .isin(batchBuckets.toSeq: _*)).count()
      records.reset()
      spark.sparkContext.setJobGroup(group, "bucketed probe audit")
      try store.probeBand(keys).count()
      finally spark.sparkContext.clearJobGroup()
      val read = records.read()
      assert(read > 0L, "probe jobs untagged?")
      // batch side (cached keys frame) also counts as input records
      assert(read <= rowsInBatchBuckets + 4 * nKeys,
        s"probe read $read records; the batch's buckets hold only " +
          s"$rowsInBatchBuckets of $totalRows")
      assert(rowsInBatchBuckets < totalRows,
        "corpus must span more buckets than the probe touches")
    } finally {
      records.close()
      store.drop()
    }
  }

  test("appends land in the right buckets and consolidate compacts files") {
    val store = new BucketedCurationStore(spark, "bc_files", nBuckets)
    store.init()
    try {
      (0 until 4).foreach { b =>
        val docs = (0 until 10).map(i =>
          (b * 50L + i, (1 to 15).map(j => s"f${b}_${i}_$j").mkString(" ")))
        BucketedCuration.ingest(store, docs.toDF("doc_id", "text"))
      }
      val before = spark.table(store.bandTable).inputFiles.length
      val rows = spark.table(store.bandTable).count()
      // pruned probe correctness straight after appends: a re-probe of
      // an ALREADY-INGESTED doc's keys must hit its own band rows (the
      // appended files carry correct bucket ids — a mis-bucketed write
      // would make the pruned scan miss them)
      val redoc = Seq((0L, (1 to 15).map(j => s"f0_0_$j").mkString(" ")))
        .toDF("doc_id", "text")
      val rekeys = graft.operators.Dedup.bandKeys(
        graft.operators.Dedup.minhashSignatures(redoc), 8, 2)
      assert(store.probeBand(rekeys).filter(col("corpus_id") === 0L).count() > 0,
        "pruned probe must find the previously appended doc's band rows")
      store.consolidate()
      val after = spark.table(store.bandTable).inputFiles.length
      assert(spark.table(store.bandTable).count() == rows,
        "consolidation must preserve every row")
      assert(after <= nBuckets && after < before,
        s"consolidation should compact $before files to <= $nBuckets, got $after")
      // probe still pruned-correct after the rewrite
      assert(store.probeBand(rekeys).filter(col("corpus_id") === 0L).count() > 0)
    } finally store.drop()
  }
}
