package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.log.{GraftLogCommit, GraftLogFormat}
import graft.streaming.TransactionPipeline

/** S1/S5 executable twin: the graft log DSv2 source/sink carries the
  * Kafka connector's full semantic contract — partitioned dense
  * offsets, key co-partitioning, startingOffsets, checkpoint resume,
  * admission control (maxRecordsPerTrigger), and epoch-idempotent
  * exactly-once streaming commits — all runnable in-sandbox, which a
  * broker-backed Kafka path is not (no kafka jars ship with the
  * image; that absence is pinned elsewhere).
  */
class GraftLogSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private def tmp(prefix: String): String = tempDir(prefix)

  test("batch round-trip: dense per-partition offsets, key co-partitioning, byte-exact values") {
    val dir = tmp("glog_rt") + "/log"
    (1 to 500).map(i => (s"user_${i % 37}", s"payload_$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "4").mode("append").save()

    val back = spark.read.format("graftlog").option("path", dir).load()
    assert(back.schema.fieldNames.toSeq ==
      Seq("key", "value", "partition", "offset", "timestamp"))
    assert(back.count() == 500)
    assert(back.select(col("value").cast("string")).as[String].collect().toSet ==
      (1 to 500).map(i => s"payload_$i").toSet)
    // Kafka contract: a key maps to exactly one partition
    assert(back.select(col("key").cast("string").as("k"), col("partition"))
      .groupBy("k").agg(countDistinct("partition").as("n"))
      .filter(col("n") > 1).count() == 0)
    // offsets are dense 0..n-1 within each partition
    back.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"),
        countDistinct("offset").as("d"))
      .collect().foreach { r =>
        assert(r.getLong(2) == 0L, "offsets start at 0")
        assert(r.getLong(3) == r.getLong(1) - 1, "offsets are dense")
        assert(r.getLong(4) == r.getLong(1), "offsets are unique")
      }
  }

  test("append continues offsets; endingOffsets bounds a batch read like the Kafka batch surface") {
    val dir = tmp("glog_app") + "/log"
    def put(lo: Int, hi: Int) =
      (lo to hi).map(i => (s"k$i", s"v$i")).toDF("key", "value")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "2").mode("append").save()
    put(1, 10)
    val mid = GraftLogFormat.endOffsets(dir)
    put(11, 30)
    val all = spark.read.format("graftlog").option("path", dir).load()
    assert(all.count() == 30)
    // bounded read: exactly the first tranche
    val midJson = mid.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
    val firstTranche = spark.read.format("graftlog").option("path", dir)
      .option("startingOffsets", "earliest").option("endingOffsets", midJson).load()
    assert(firstTranche.select(col("value").cast("string")).as[String].collect().toSet ==
      (1 to 10).map(i => s"v$i").toSet)
    val secondTranche = spark.read.format("graftlog").option("path", dir)
      .option("startingOffsets", midJson).option("endingOffsets", "latest").load()
    assert(secondTranche.select(col("value").cast("string")).as[String].collect().toSet ==
      (11 to 30).map(i => s"v$i").toSet)
  }

  test("streaming read resumes from checkpoint exactly-once across a restart") {
    val root = tmp("glog_resume")
    val (dir, outDir, ckpt) = (s"$root/log", s"$root/out", s"$root/ckpt")
    def put(lo: Int, hi: Int) =
      (lo to hi).map(i => (s"k$i", s"v$i")).toDF("key", "value")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "3").mode("append").save()
    def startQuery() =
      spark.readStream.format("graftlog").option("path", dir)
        .option("startingOffsets", "earliest").load()
        .select(col("value").cast("string").as("v"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()

    put(1, 20)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    put(21, 35)  // records arrive while the consumer is DOWN
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val vs = spark.read.parquet(outDir).as[String].collect().toSeq
    assert(vs.size == 35, "exactly once: no loss, no duplicates")
    assert(vs.toSet == (1 to 35).map(i => s"v$i").toSet)
  }

  test("maxRecordsPerTrigger paces the backlog into bounded micro-batches") {
    val root = tmp("glog_pace")
    val dir = s"$root/log"
    (1 to 50).map(i => (s"k$i", s"v$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "4").mode("append").save()

    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graftlog").option("path", dir)
      .option("startingOffsets", "earliest")
      .option("maxRecordsPerTrigger", "10").load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(df.count()): Unit)
      .start()
    q.processAllAvailable(); q.stop()

    import scala.collection.JavaConverters._
    val s = sizes.asScala.toSeq
    assert(s.sum == 50, "admission control must not lose records")
    assert(s.forall(_ <= 10), s"every micro-batch within the limit, got $s")
    assert(s.count(_ > 0) >= 5, s"backlog split across triggers, got $s")
  }

  test("consumer lag: progress carries Kafka's offsets-behind-latest metrics") {
    val root = tmp("glog_lag")
    val dir = s"$root/log"
    (1 to 60).map(i => (s"k$i", s"v$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "2").mode("append").save()
    val q = spark.readStream.format("graftlog").option("path", dir)
      .option("startingOffsets", "earliest")
      .option("maxRecordsPerTrigger", "20").load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => df.count(): Unit)
      .start()
    q.processAllAvailable(); q.stop()

    val nParts = graft.sources.log.GraftLogFormat.endOffsets(dir).size
    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
    assert(batches.size == 3, s"60 records at 20 per trigger: ${batches.map(_.numInputRows)}")
    var consumed = 0L
    batches.foreach { p =>
      consumed += p.numInputRows
      val m = p.sources.head.metrics
      val (lo, avg, hi) = (m.get("minOffsetsBehindLatest").toLong,
        m.get("avgOffsetsBehindLatest").toDouble, m.get("maxOffsetsBehindLatest").toLong)
      assert(lo <= avg && avg <= hi, s"min <= avg <= max: $m")
      // the lag summed over partitions is the backlog still unread
      assert(math.abs(avg * nParts - (60 - consumed)) < 1e-9, s"after $consumed rows: $m")
    }
    assert(batches.last.sources.head.metrics.get("maxOffsetsBehindLatest") == "0")
    assert(batches.head.sources.head.latestOffset == batches.last.sources.head.endOffset,
      "the reported latest offset is the end offsets latestOffset read")
  }

  test("streaming sink: a real writeStream lands records; epoch replay never duplicates") {
    val root = tmp("glog_sink")
    val dir = s"$root/log"
    val in = MemoryStream[String](spark)
    val q = in.toDF().withColumnRenamed("value", "v")
      .select(col("v").as("key"), col("v").as("value"))
      .writeStream.format("graftlog").option("path", dir)
      .option("log.partitions", "2")
      .option("checkpointLocation", s"$root/ckpt").start()
    in.addData("a", "b", "c")
    q.processAllAvailable()
    in.addData("d", "e")
    q.processAllAvailable()
    q.stop()
    val got = spark.read.format("graftlog").option("path", dir).load()
      .select(col("value").cast("string")).as[String].collect().toSeq
    assert(got.sorted == Seq("a", "b", "c", "d", "e"))

    // driver-level epoch idempotence: a replayed epoch (fresh task
    // attempt, same epochId) must be a no-op — the transactional
    // producer contract.
    def tmpSeg(n: Int): (Int, String, Long, Int) = {
      val f = GraftLogFormat.newTmpFile(dir)
      val w = new GraftLogFormat.SegmentWriter(f)
      (1 to n).foreach(i => w.append(null, s"x$i".getBytes, 1000L * i))
      w.close(); (0, f.getAbsolutePath, w.count, 0)
    }
    val before = GraftLogFormat.endOffsets(dir)
    GraftLogCommit.commitEpoch(dir, "qX", 7L, Seq(tmpSeg(3)))
    val after1 = GraftLogFormat.endOffsets(dir)
    assert(after1(0) == before(0) + 3)
    val replay = tmpSeg(3)
    GraftLogCommit.commitEpoch(dir, "qX", 7L, Seq(replay))
    assert(GraftLogFormat.endOffsets(dir) == after1, "replayed epoch must not append")
    assert(!new File(replay._2).exists(), "replay attempt's tmp segment is cleaned")

    // crash-before-marker: marker lost but manifest + finals present →
    // recommit re-marks without re-appending
    val edir = new File(new File(dir, GraftLogFormat.EpochDir), "qX")
    assert(new File(edir, f"${7L}%020d.commit").delete())
    GraftLogCommit.commitEpoch(dir, "qX", 7L, Seq(tmpSeg(3)))
    assert(GraftLogFormat.endOffsets(dir) == after1,
      "manifest-driven recovery must not double-append")
  }

  test("wire → curation: the continuous ingest loop runs off a graftlog stream") {
    import org.apache.spark.sql.types._
    val root = tmp("glog_cur")
    val dir = s"$root/log"
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 29).map(i => s"w$i") :+ "zz").mkString(" ")
    def put(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .select(col("doc_id").cast("string").as("key"),
          to_json(struct(col("doc_id"), col("text"))).as("value"))
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "2").mode("append").save()

    val statuses = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val r = new graft.streaming.CurationLoop.Runner(spark,
      onStatuses = (df, _) => df.collect().foreach(row =>
        statuses.put(row.getLong(0), row.getString(1)): Unit))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    put(Seq((1L, base), (2L, "unrelated text one here")))
    val q = spark.readStream.format("graftlog").option("path", dir)
      .option("startingOffsets", "earliest").load()
      .select(from_json(col("value").cast("string"), docSchema).as("d"))
      .select("d.*")
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        r.sink(df, id))
      .start()
    q.processAllAvailable()
    put(Seq((21L, base), (11L, near)))   // exact dup of 1 + near dup
    q.processAllAvailable()
    q.stop()

    assert(statuses.get(1L) == "new" && statuses.get(2L) == "new")
    assert(statuses.get(21L) == "dup_exact", s"got ${statuses.get(21L)}")
    assert(statuses.get(11L) == "dup_near", s"got ${statuses.get(11L)}")
  }

  test("changelog → table: latestByKey keeps each key's newest record, tombstones delete") {
    import graft.sources.log.GraftLog
    val dir = tmp("glog_ktable") + "/log"
    def put(rows: (String, String)*): Unit =
      rows.toSeq.toDF("key", "value")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "4").mode("append").save()
    put("u1" -> "v1", "u2" -> "v2", "u3" -> "v3")
    put("u1" -> "v1b")                  // update
    put("u2" -> "")                     // tombstone
    put("u1" -> "v1c", "u4" -> "v4")    // second update + new key

    val snap = GraftLog.latestByKey(spark, dir)
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect().toMap
    assert(snap == Map("u1" -> "v1c", "u3" -> "v3", "u4" -> "v4"))
    val withTombs = GraftLog.latestByKey(spark, dir, dropTombstones = false)
      .select(col("key").cast("string")).as[String].collect().toSet
    assert(withTombs == Set("u1", "u2", "u3", "u4"))

    // the Redis-profile analog: a profile CHANGELOG in the log, the
    // pipeline enriches from its latest snapshot. Updates are
    // sequential appends (same-key racers inside ONE batch order by
    // DataFrame partition, like two producers racing a broker)
    put("u9" -> """{"user_id":"u9","risk_score":0.1}""")
    put("u9" -> """{"user_id":"u9","risk_score":0.8}""")
    val latestRisk = GraftLog.latestByKey(spark, dir)
      .filter(col("key").cast("string") === "u9")
      .select(get_json_object(col("value").cast("string"), "$.risk_score"))
      .as[String].head()
    assert(latestRisk == "0.8", "snapshot must carry the LATEST profile version")
  }

  test("compaction: latest record per key survives at its ORIGINAL offset; reads resume across it") {
    import graft.sources.log.{GraftLog, GraftLogFormat}
    val dir = tmp("glog_compact") + "/log"
    def put(rows: (String, String)*): Unit =
      rows.toSeq.toDF("key", "value")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "2").mode("append").save()
    put((1 to 12).map(i => s"k${i % 6}" -> s"v$i"): _*)  // k0..k5 ×2 versions
    put("k1" -> "v1final", "k2" -> "")                   // update + tombstone
    def readAll() = spark.read.format("graftlog").option("path", dir).load()
      .select(col("key").cast("string").as("k"),
        col("value").cast("string").as("v"),
        col("partition").as("p"), col("offset").as("o"))
      .as[(String, String, Int, Long)].collect().toSet

    val before = readAll()
    val latestBefore = GraftLog.latestByKey(spark, dir)
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect().toMap
    val endsBefore = GraftLogFormat.endOffsets(dir)
    // a mid-log consumer position captured BEFORE compaction
    val resumeAt = endsBefore.map { case (p, e) => p -> e / 2 }

    GraftLog.compact(dir)

    // disk shape: each nonempty partition is now one sparse .cseg
    (0 to 1).foreach { p =>
      val segs = GraftLogFormat.view(dir, p).readable
      assert(segs.forall(_.sparse), s"p=$p still has dense segments: $segs")
      assert(segs.size <= 1)
    }
    assert(GraftLogFormat.endOffsets(dir) == endsBefore, "offsets never renumber")

    // survivors = exactly the highest-offset record per key, original
    // offsets/partitions kept (tombstone retained by default)
    val expectSurvivors = before.groupBy(_._1).map(_._2.maxBy(_._4)).toSet
    assert(readAll() == expectSurvivors)
    // changelog → table over the compacted log ≡ over the full log
    val latestAfter = GraftLog.latestByKey(spark, dir)
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect().toMap
    assert(latestAfter == latestBefore)

    // a consumer resuming from a pre-compaction checkpoint offset
    // reads exactly the surviving records at-or-after its position
    val resumed = spark.read.format("graftlog").option("path", dir)
      .option("startingOffsets",
        resumeAt.toSeq.sortBy(_._1).map { case (p, o) => s""""$p":$o""" }
          .mkString("{", ",", "}"))
      .load()
      .select(col("key").cast("string"), col("value").cast("string"),
        col("partition"), col("offset"))
      .as[(String, String, Int, Long)].collect().toSet
    assert(resumed == expectSurvivors.filter { case (_, _, p, o) => o >= resumeAt(p) })

    // appends continue past the compacted range and read seamlessly
    put("k0" -> "v0new", "k9" -> "v9")
    val again = readAll()
    assert(again.size == expectSurvivors.size + 2)
    assert(GraftLog.latestByKey(spark, dir)
      .filter(col("key").cast("string") === "k0")
      .select(col("value").cast("string")).as[String].head() == "v0new")

    // second compaction folds the tail in; dropTombstones expires deletes
    GraftLog.compact(dir, dropTombstones = true)
    val fin = readAll()
    assert(!fin.exists(_._2.isEmpty), "tombstones expired")
    assert(fin.exists(t => t._1 == "k0" && t._2 == "v0new"))
  }

  test("crashed recompaction: newer equal-range cseg shadows the old; next pass sweeps the orphan") {
    import graft.sources.log.{GraftLog, GraftLogFormat, GraftLogMaintain}
    val dir = tmp("glog_crash") + "/log"
    Seq(("a", "1"), ("b", "2"), ("a", "3"), ("c", "")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "1").mode("append").save()
    GraftLog.compact(dir)                       // gen-1 cseg: a,b,c-tombstone
    val gen1 = GraftLogFormat.view(dir, 0).readable.head
    val backup = java.nio.file.Files.copy(gen1.file.toPath,
      java.nio.file.Paths.get(gen1.file.getAbsolutePath + ".bak")).toFile
    GraftLog.compact(dir, dropTombstones = true) // gen-2 cseg: a,b (smaller)
    // simulate the crash window: gen-1 resurfaces beside gen-2
    java.nio.file.Files.move(backup.toPath,
      new java.io.File(gen1.file.getParentFile, gen1.file.getName).toPath)
    assert(GraftLogFormat.view(dir, 0).all.size == 2, "both files on disk")

    // readers: the smaller-count (newer) generation shadows the older
    val vis = GraftLogFormat.view(dir, 0).readable
    assert(vis.size == 1 && vis.head.count == 2,
      s"equal-range tie-break must pick the newer generation: $vis")
    val rows = spark.read.format("graftlog").option("path", dir).load()
      .select(col("key").cast("string"), col("value").cast("string"), col("offset"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 2 && rows.map(_._3).distinct.length == 2,
      s"no double-reads through the crash window: ${rows.toSeq}")
    assert(!rows.exists(_._2.isEmpty), "dropped tombstone stays dropped")

    // the next maintenance pass reclaims the orphaned input
    GraftLog.compact(dir, dropTombstones = true)
    assert(GraftLogFormat.view(dir, 0).all.size == 1,
      "orphaned shadowed segment swept")
  }

  test("retention: aged segments drop from the front; earliest advances, offsets never renumber") {
    import java.sql.Timestamp
    import graft.sources.log.{GraftLog, GraftLogFormat, GraftLogMaintain}
    val dir = tmp("glog_ret") + "/log"
    val now = System.currentTimeMillis()
    def put(lo: Int, hi: Int, ageMs: Long): Unit =
      (lo to hi).map(i => (s"k$i", s"v$i", new Timestamp(now - ageMs)))
        .toDF("key", "value", "timestamp")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "2").mode("append").save()
    put(1, 10, ageMs = 3600L * 1000)   // one hour old
    put(11, 20, ageMs = 0)             // fresh
    val endsBefore = GraftLogFormat.endOffsets(dir)

    val newStarts = GraftLog.applyRetention(dir, retentionMs = Some(1800L * 1000))
    assert(newStarts.values.sum > 0, "expired prefix must advance the start")
    assert(GraftLogFormat.endOffsets(dir) == endsBefore, "high watermark keeps")
    val vs = spark.read.format("graftlog").option("path", dir)
      .option("startingOffsets", "earliest").load()
      .select(col("value").cast("string")).as[String].collect().toSet
    assert(vs == (11 to 20).map(i => s"v$i").toSet,
      s"only the fresh batch survives, got $vs")

    // size-based (retention.bytes is PER PARTITION, the Kafka
    // contract): cap at the current largest partition, then double
    // every partition — each must drop its oldest segments back under
    val perPartNow = (0 to 1).map(p =>
      GraftLogFormat.view(dir, p).readable.map(_.file.length()).sum).max
    put(21, 30, ageMs = 0)
    GraftLog.applyRetention(dir, retentionBytes = Some(perPartNow))
    val vs2 = spark.read.format("graftlog").option("path", dir)
      .option("startingOffsets", "earliest").load()
      .select(col("value").cast("string")).as[String].collect().toSet
    assert(!vs2.contains("v11") && vs2.contains("v30"),
      s"size cap drops oldest first, got $vs2")
  }

  test("startingTimestamp positions every partition at the first record at-or-after T") {
    import java.sql.Timestamp
    val dir = tmp("glog_ts") + "/log"
    val t0 = 1700000000000L
    def put(lo: Int, hi: Int, tsMs: Long): Unit =
      (lo to hi).map(i => (s"k$i", s"v$i", new Timestamp(tsMs)))
        .toDF("key", "value", "timestamp")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "2").mode("append").save()
    put(1, 10, t0)
    put(11, 20, t0 + 60000)
    put(21, 30, t0 + 120000)

    val vs = spark.read.format("graftlog").option("path", dir)
      .option("startingTimestamp", ((t0 + 60000) * 1000L).toString).load()
      .select(col("value").cast("string")).as[String].collect().toSet
    assert(vs == (11 to 30).map(i => s"v$i").toSet, s"got $vs")

    val boom = intercept[Exception] {
      spark.read.format("graftlog").option("path", dir)
        .option("startingTimestamp", "0").option("startingOffsets", "earliest")
        .load().count()
    }
    assert(boom.getMessage != null)
  }

  test("one start-offset resolver: the batch plan and the stream's initialOffset agree") {
    import java.sql.Timestamp
    import graft.sources.log.{GraftLog, GraftLogInputPartition, GraftLogOffset, GraftLogOptions, GraftLogScan}
    val root = tmp("glog_resolve")
    val dir = s"$root/log"
    val now = System.currentTimeMillis()
    def put(lo: Int, hi: Int, ageMs: Long): Unit =
      (lo to hi).map(i => (s"k$i", s"v$i", new Timestamp(now - ageMs)))
        .toDF("key", "value", "timestamp")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "3").mode("append").save()
    put(1, 12, ageMs = 3 * 3600L * 1000)
    put(13, 24, ageMs = 2 * 3600L * 1000)
    val afterSecond = GraftLogFormat.endOffsets(dir)
    put(25, 40, ageMs = 0)
    // retention drops the oldest tranche, so earliest is not 0
    GraftLog.applyRetention(dir, retentionMs = Some(150L * 60 * 1000))
    val starts = GraftLogFormat.startOffsets(dir)
    val ends = GraftLogFormat.endOffsets(dir)
    assert(starts.values.sum > 0, s"retention should advance the start: $starts")
    val mid = starts.map { case (p, s) => p -> (s + ends(p)) / 2 }
    val midJson = mid.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")

    def opts(kv: (String, String)*) = GraftLogOptions(Map("path" -> dir) ++ kv)
    def batchStarts(o: GraftLogOptions): Map[Int, Long] =
      new GraftLogScan(o).toBatch.planInputPartitions()
        .map(_.asInstanceOf[GraftLogInputPartition])
        .map(ip => ip.partition -> ip.from).toMap
    def streamStarts(o: GraftLogOptions): Map[Int, Long] =
      new GraftLogScan(o).toMicroBatchStream(s"$root/ckpt").initialOffset()
        .asInstanceOf[GraftLogOffset].ends

    Seq(
      ("earliest", opts("startingOffsets" -> "earliest"), starts),
      ("latest", opts("startingOffsets" -> "latest"), ends),
      ("json", opts("startingOffsets" -> midJson), mid),
      ("timestamp", opts("startingTimestamp" -> ((now - 3600L * 1000) * 1000L).toString),
        afterSecond)
    ).foreach { case (name, o, expect) =>
      val stream = streamStarts(o)
      assert(stream == expect, s"$name: stream starts at $stream, expected $expect")
      // the batch plan reads every partition that has records past the
      // same start, from exactly that start
      assert(batchStarts(o) == stream.filter { case (p, s) => s < ends(p) },
        s"$name: batch plan ${batchStarts(o)} disagrees with stream $stream")
    }

    val bad = opts("startingOffsets" -> "yesterday")
    val onBatch = intercept[IllegalArgumentException](batchStarts(bad))
    val onStream = intercept[IllegalArgumentException](streamStarts(bad))
    assert(onBatch.getMessage == onStream.getMessage,
      s"batch: ${onBatch.getMessage}; stream: ${onStream.getMessage}")
    assert(onBatch.getMessage == "bad startingOffsets: yesterday")
  }

  test("Trigger.AvailableNow drains the frozen backlog in paced batches, then stops itself") {
    val root = tmp("glog_avnow")
    val dir = s"$root/log"
    def put(lo: Int, hi: Int): Unit =
      (lo to hi).map(i => (s"k$i", s"v$i")).toDF("key", "value")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "3").mode("append").save()
    put(1, 100)

    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").option("path", dir)
        .option("startingOffsets", "earliest")
        .option("maxRecordsPerTrigger", "20").load()
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
          sizes.add(df.count()): Unit)
        .start()
      // AvailableNow terminates on its own once the frozen ends land
      assert(q.awaitTermination(60000), "query must stop itself")
    }
    drain()
    import scala.collection.JavaConverters._
    val s1 = sizes.asScala.toSeq
    assert(s1.sum == 100, s"full frozen backlog drained: $s1")
    assert(s1.forall(_ <= 20), s"admission pacing holds under AvailableNow: $s1")
    assert(s1.count(_ > 0) >= 5, s"backlog split across triggers: $s1")

    // records produced AFTER the first run wait for the next one,
    // which resumes from the checkpoint exactly-once
    put(101, 130)
    sizes.clear()
    drain()
    assert(sizes.asScala.sum == 30, s"second run picks up exactly the tail")
  }

  test("cleanup.policy on the streaming source: commit() retains/compacts behind the consumer") {
    import graft.sources.log.GraftLogFormat
    val root = tmp("glog_policy")
    val dir = s"$root/log"
    // a keyed changelog with heavy per-key churn
    (1 to 200).map(i => (s"k${i % 10}", s"v$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "2").mode("append").save()

    val q = spark.readStream.format("graftlog").option("path", dir)
      .option("startingOffsets", "earliest")
      .option("maxRecordsPerTrigger", "50")
      .option("cleanup.policy", "compact").load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => (): Unit)
      .start()
    q.processAllAvailable(); q.stop()

    // the broker-tick compaction ran: partitions hold sparse segments
    // with only the 10 live keys (plus nothing lost for a re-reader)
    val segs = (0 to 1).flatMap(GraftLogFormat.view(dir, _).readable)
    assert(segs.forall(_.sparse), s"commit() should have compacted, got $segs")
    val survivors = spark.read.format("graftlog").option("path", dir).load()
      .select(col("key").cast("string")).as[String].collect().toSeq
    assert(survivors.sorted == (0 to 9).map(i => s"k$i").sorted,
      s"one survivor per key, got $survivors")
  }

  test("streaming KTable: latestByKeyStream maintains the snapshot across appends") {
    import graft.sources.log.GraftLog
    val root = tmp("glog_ktstream")
    val dir = s"$root/log"
    def put(rows: (String, String)*): Unit =
      rows.toSeq.toDF("key", "value")
        .write.format("graftlog").option("path", dir)
        .option("log.partitions", "3").mode("append").save()
    put("u1" -> "v1", "u2" -> "v2")

    // update-mode upsert into a local map — the foreachBatch serving-
    // store materialization the scaladoc describes
    val table = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val q = GraftLog.latestByKeyStream(spark, dir)
      .select(col("key").cast("string").as("k"), col("value").cast("string").as("v"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => table.put(r.getString(0), r.getString(1)))
        (): Unit
      }
      .start()
    q.processAllAvailable()
    import scala.collection.JavaConverters._
    assert(table.asScala.toMap == Map("u1" -> "v1", "u2" -> "v2"))

    put("u1" -> "v1b", "u3" -> "v3")   // update + new key while running
    q.processAllAvailable()
    assert(table.asScala.toMap == Map("u1" -> "v1b", "u2" -> "v2", "u3" -> "v3"))

    put("u2" -> "")                     // tombstone surfaces to the reader
    q.processAllAvailable(); q.stop()
    assert(table.asScala.toMap ==
      Map("u1" -> "v1b", "u2" -> "", "u3" -> "v3"))

    // the maintained table == the batch changelog materialization
    val batch = GraftLog.latestByKey(spark, dir, dropTombstones = false)
      .select(col("key").cast("string"), col("value").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(table.asScala.toMap == batch,
      "streaming KTable must equal the batch latestByKey snapshot")
  }

  test("cleanup.policy tokens and retention options are validated, not silently ignored") {
    val dir = tmp("glog_badopt") + "/log"
    (1 to 4).map(i => (s"k$i", s"v$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "1").mode("append").save()
    // a typo'd policy used to yield NO maintenance and NO error
    val e1 = intercept[Exception] {
      spark.read.format("graftlog").option("path", dir)
        .option("cleanup.policy", "compacted").load().count()
    }
    assert(e1.getMessage.contains("cleanup.policy"), e1.getMessage)
    // retention knobs only act under cleanup.policy=delete
    val e2 = intercept[Exception] {
      spark.read.format("graftlog").option("path", dir)
        .option("cleanup.policy", "compact")
        .option("retention.ms", "1000").load().count()
    }
    assert(e2.getMessage.contains("retention"), e2.getMessage)
    // valid combinations still read
    assert(spark.read.format("graftlog").option("path", dir)
      .option("cleanup.policy", "compact,delete")
      .option("retention.ms", "86400000").load().count() == 4)
  }

  test("active producer interleaved with a racing cleaner keeps the log consistent") {
    import graft.sources.log.{GraftLog, GraftLogMaintain}
    // the maintain entry points are synchronized per JVM and the
    // produce path publishes via tmp + atomic rename, so ANY
    // interleave must leave a readable log with last-writer-wins keys.
    // A cleaner thread hammers the commit-hook's work (compaction +
    // a never-expiring retention scan) while the producer appends.
    val dir = tmp("glog_race") + "/log"
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cleanerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val passes = new java.util.concurrent.atomic.AtomicLong(0)
    val cleaner = new Thread(() =>
      try while (!stop.get()) {
        GraftLogMaintain.compact(dir)
        GraftLogMaintain.applyRetention(dir,
          retentionMicros = Some(3600L * 1000 * 1000 * 1000))
        passes.incrementAndGet()
      } catch { case t: Throwable => cleanerErr.set(t) })
    (1 to 10).map(i => (s"k${i % 7}", s"v$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "2").mode("append").save()
    cleaner.start()
    try
      (1 to 8).foreach { b =>
        ((b * 10 + 1) to (b * 10 + 10)).map(i => (s"k${i % 7}", s"v$i"))
          .toDF("key", "value")
          .write.format("graftlog").option("path", dir)
          .option("log.partitions", "2").mode("append").save()
      }
    finally { stop.set(true); cleaner.join() }
    assert(cleanerErr.get() == null,
      s"cleaner crashed mid-interleave: ${cleanerErr.get()}")
    assert(passes.get() > 0, "cleaner never ran — the race was not exercised")
    // one final compaction so the read below covers a quiesced log
    GraftLogMaintain.compact(dir)
    val got = GraftLog.latestByKey(spark, dir)
      .select(col("key").cast("string"), col("value").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = (1 to 90).map(i => s"k${i % 7}" -> s"v$i").toMap
    assert(got == expect, s"last-writer-wins broke under the interleave: $got")
  }

  test("SQL DDL surface: CREATE TABLE USING graftlog reads through the catalog") {
    val dir = tmp("glog_sql") + "/log"
    (1 to 40).map(i => (s"k${i % 5}", s"v$i")).toDF("key", "value")
      .write.format("graftlog").option("path", dir)
      .option("log.partitions", "2").mode("append").save()
    spark.sql(s"CREATE TABLE glog_sql_t USING graftlog OPTIONS (path '$dir')")
    try {
      val n = spark.sql("SELECT COUNT(*) FROM glog_sql_t").head().getLong(0)
      assert(n == 40)
      val perPart = spark.sql(
        """SELECT partition, COUNT(*) AS n FROM glog_sql_t GROUP BY partition""")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(perPart.values.sum == 40 && perPart.keySet.subsetOf(Set(0, 1)))
    } finally spark.sql("DROP TABLE glog_sql_t")
  }

  test("S1→S5 end-to-end: the fraud pipeline over the log matches the batch run") {
    val root = tmp("glog_e2e")
    val (inLog, outLog, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
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
    val msgs = Seq(txJson("t1", 50.0), txJson("t2", 5000.0), "NOT JSON{{{")

    // producer side (the reference's simulator → Kafka leg)
    msgs.map(("u1", _)).toDF("key", "value")
      .write.format("graftlog").option("path", inLog)
      .option("log.partitions", "2").mode("append").save()

    // consumer → score → producer (FraudDetectionJob.java:33-107,162-213)
    val scored = TransactionPipeline.pipeline(
      TransactionPipeline.fromLog(spark, inLog), users, merchants)
      .select("transaction_id", "fraud_score", "risk_level", "decision")
    val q = TransactionPipeline.toLogSink(scored, outLog, ckpt).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.read.format("graftlog").option("path", outLog).load()
      .select(col("value").cast("string").as("json"))
      .select(from_json(col("json"), scored.schema).as("r")).select("r.*")
      .collect().map(r => (r.getString(0), r.getString(3))).toMap

    val batch = TransactionPipeline.pipeline(
      msgs.toDF("json"), users, merchants)
      .select("transaction_id", "decision")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap

    assert(streamed == batch, "log-fed streaming pipeline ≡ batch pipeline")
    assert(batch.size == 3 && batch.keys.exists(_.startsWith("ERROR_")))
  }
}
