package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{FileSystems, Paths, StandardWatchEventKinds, WatchKey}
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.gen.DataGen
import graft.ml.FraudModel
import graft.sources.log.{GraftLog, GraftLogFormat}
import graft.streaming.TransactionPipeline

/** Inputs of the two stream workloads, all derived from the seed. */
object TxnInputs {

  def users(spark: SparkSession, n: Int, seed: Long): DataFrame =
    DataGen.userProfiles(spark, n, seed)

  /** The merchant profiles `graft.ThroughputBench` uses. */
  def merchants(spark: SparkSession, n: Int): DataFrame =
    spark.range(n).select(
      concat(lit("m"), col("id")).as("merchant_id"),
      (pmod(xxhash64(col("id"), lit(7L)), lit(100L)).cast("double") / 1000.0)
        .as("fraud_rate"),
      when(pmod(col("id"), lit(10L)) === 0, "high").otherwise("low").as("risk_level"),
      (pmod(col("id"), lit(97L)) === 0).as("is_blacklisted"))

  /** DataGen transactions as JSON bodies, with the two fields DataGen
    * leaves out that the decision reads set to the constants
    * `graft.ThroughputBench` uses (one browser user agent, one New York
    * merchant location). Each body is a payload after
    * `{"transaction_id":"<id>",`, so the generator stamps fresh ids and
    * one pool serves any number of sends.
    */
  def bodies(spark: SparkSession, n: Int, nUsers: Int, seed: Long): Array[String] = {
    val rows = DataGen.transactions(spark, n, nUsers, seed)
      .withColumn("user_agent",
        lit("Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/115"))
      .withColumn("merchant_location", struct(lit(40.75).as("lat"), lit(-73.99).as("lon")))
    val fields = rows.columns.filterNot(_ == "transaction_id").map(col).toIndexedSeq
    rows.select(to_json(struct(fields: _*)).as("j")).select(expr("substring(j, 2)"))
      .collect().map(_.getString(0))
  }

  def isMalformed(seq: Long, seed: Long): Boolean = {
    var z = seq * 0x9E3779B97F4A7C15L + seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    java.lang.Math.floorMod(z ^ (z >>> 31), 100L) == 0
  }

  /** The id a malformed payload comes out under (parseJson's rule). */
  def errorId(payload: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(payload.getBytes(StandardCharsets.UTF_8))
    "ERROR_" + d.map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Appends records to a graft log the way a producer does: one
  * segment per call, through the log format's writer and atomic publish.
  */
final class LogProducer(val dir: String, val partitions: Int) {
  GraftLogFormat.ensureMeta(dir, partitions)
  private val next = Array.fill(partitions)(0L)

  def append(p: Int, keys: Array[String], values: Array[String], tsMicros: Long): Unit = {
    val tmp = GraftLogFormat.newTmpFile(dir)
    val w = new GraftLogFormat.SegmentWriter(tmp)
    var i = 0
    while (i < keys.length) {
      w.append(keys(i).getBytes(StandardCharsets.UTF_8),
        values(i).getBytes(StandardCharsets.UTF_8), tsMicros)
      i += 1
    }
    w.close()
    GraftLogFormat.publish(dir, tmp, p, next(p), keys.length)
    next(p) += keys.length
  }
}

/** Open-loop generator: every tick, on a fixed schedule that does not
  * wait for the system, publishes the tick's records as one segment
  * (partitions round-robin), each stamped with the tick's due time.
  * Ids are "s<seq>"; ~1% of payloads are malformed.
  */
final class OpenLoopGenerator(producer: LogProducer, bodies: Array[String],
                              val perTick: Int, val tickNs: Long,
                              val ticks: Int, seed: Long) extends Thread("perfbench-generator") {
  setDaemon(true)
  @volatile var t0Ns: Long = 0L
  @volatile var ticksDone: Int = 0
  val lateNs = new Array[Long](ticks)
  val errorSeq = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var malformed = 0L
  def total: Long = ticks.toLong * perTick

  def dueNs(seq: Long): Long = t0Ns + (seq / perTick) * tickNs

  override def run(): Unit = {
    val t0EpochMicros = System.currentTimeMillis() * 1000L
    t0Ns = System.nanoTime()
    val keys = new Array[String](perTick)
    val values = new Array[String](perTick)
    var k = 0
    while (k < ticks) {
      val due = t0Ns + k * tickNs
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      var i = 0
      while (i < perTick) {
        val seq = k.toLong * perTick + i
        val id = "s" + seq
        val body = bodies((seq % bodies.length).toInt)
        val v = "{\"transaction_id\":\"" + id + "\"," + body
        if (TxnInputs.isMalformed(seq, seed)) {
          val bad = v.substring(1)
          values(i) = bad
          errorSeq.put(TxnInputs.errorId(bad), seq)
          malformed += 1
        } else values(i) = v
        keys(i) = id
        i += 1
      }
      producer.append(k % producer.partitions, keys, values,
        t0EpochMicros + k * tickNs / 1000L)
      lateNs(k) = System.nanoTime() - due
      k += 1
      ticksDone = k
    }
  }
}

/** Watches a graft log from outside: subscribes to file-system events
  * on each partition directory and hands every newly published
  * segment, with the time it was first seen, to `onSegment`. A
  * decision counts as readable the moment its segment appears.
  */
final class LogWatcher(dir: String, onSegment: (Long, GraftLogFormat.Segment) => Unit)
    extends Thread("perfbench-watcher") {
  setDaemon(true)
  @volatile private var stopped = false
  private val seen = new java.util.HashSet[String]()
  private val SegName = """(\d{20})_(\d{10})\.seg""".r
  private val events = FileSystems.getDefault.newWatchService()
  private val watched = mutable.Map[WatchKey, Int]()

  private def found(p: Int, name: String, now: Long): Unit =
    if (seen.add(s"$p/$name")) name match {
      case SegName(b, c) =>
        onSegment(now, GraftLogFormat.Segment(new File(dir, s"p=$p/$name"), b.toLong, c.toLong))
      case _ => ()
    }

  /** Full listing: catches segments published before a directory was
    * watched, and anything an event-queue overflow dropped.
    */
  private def scan(): Unit = {
    val now = System.nanoTime()
    for (p <- 0 until GraftLogFormat.readPartitions(dir))
      Option(new File(dir, s"p=$p").list()).foreach(_.sorted.foreach(found(p, _, now)))
  }

  @volatile private var failure: Throwable = null

  override def run(): Unit = try {
    while (!stopped) {
      // the sink creates the partition directories after its meta file
      val parts = GraftLogFormat.readPartitions(dir)
      val before = watched.size
      while (watched.size < parts && new File(dir, s"p=${watched.size}").isDirectory)
        watched(Paths.get(dir, s"p=${watched.size}").register(events,
          StandardWatchEventKinds.ENTRY_CREATE)) = watched.size
      if (watched.size > before) scan()
      val key = events.poll(2, TimeUnit.MILLISECONDS)
      if (key != null) {
        val now = System.nanoTime()
        val p = watched(key)
        key.pollEvents().forEach { e =>
          if (e.kind == StandardWatchEventKinds.OVERFLOW) scan()
          else found(p, e.context.toString, now)
        }
        key.reset()
      }
    }
  } catch { case t: Throwable => failure = t }

  /** Stop, then one last listing so nothing published is missed. */
  def finish(): Unit = {
    stopped = true; join(); events.close()
    if (failure != null) throw new IllegalStateException(s"watcher of $dir failed", failure)
    scan()
  }
}

/** Collects StreamingQueryProgress events (traced runs only). */
final class ProgressLog extends StreamingQueryListener {
  val events = ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.synchronized { events += e.progress }
  def take(): Vector[StreamingQueryProgress] = events.synchronized {
    val v = events.toVector; events.clear(); v
  }
}

/** The stream workload, `txn_steady`, and the catch-up layers its
  * traced run measures over the input log it leaves behind.
  */
final class Streams(spark: SparkSession, ctx: RunContext) {
  import Streams._

  private val tiny = ctx.tiny
  private val nUsers = if (tiny) 1000 else 10000
  private val nMerchants = if (tiny) 500 else 5000
  private var users: DataFrame = _
  private var merchants: DataFrame = _

  private def dir(name: String): String = new File(ctx.work, name).getAbsolutePath

  /** Profiles: the broadcast side of the enrich joins, cached once. */
  def loadProfiles(): Unit = {
    users = TxnInputs.users(spark, nUsers, ctx.seed).cache()
    merchants = TxnInputs.merchants(spark, nMerchants).cache()
    users.count(); merchants.count()
  }

  def start(in: String, out: String, ckpt: String, trigger: Trigger,
            maxRecords: Option[Long] = None): StreamingQuery =
    TransactionPipeline.toLogSink(
      TransactionPipeline.pipeline(
        TransactionPipeline.fromLog(spark, in, "earliest", maxRecords), users, merchants),
      out, ckpt).trigger(trigger).start()

  /** Seconds from starting a fresh query over a small log until all of
    * its decisions are readable — the restart cost of the pipeline.
    */
  def firstDecision(tag: String, bodies: Array[String]): Double = {
    val in = dir(s"warm-$tag-in")
    val out = dir(s"warm-$tag-out")
    val n = if (tiny) 1000 else 2000
    val prod = new LogProducer(in, Partitions)
    val ids = Array.tabulate(n)(i => s"w${tag}_$i")
    prod.append(0, ids, ids.indices.map(i =>
      "{\"transaction_id\":\"" + ids(i) + "\"," + bodies(i % bodies.length)).toArray,
      System.currentTimeMillis() * 1000L)
    val seenRows = new java.util.concurrent.atomic.AtomicLong
    val w = new LogWatcher(out, (_, s) => seenRows.addAndGet(s.count))
    val t0 = System.nanoTime()
    val q = start(in, out, dir(s"warm-$tag-ckpt"), Trigger.ProcessingTime(0L))
    w.start()
    while (seenRows.get < n && q.isActive && w.isAlive && Util.secondsSince(t0) < 60)
      Thread.sleep(2)
    val s = Util.secondsSince(t0)
    w.finish(); q.stop()
    require(seenRows.get == n, s"warm-up produced ${seenRows.get} of $n decisions")
    s
  }

  /** Batch check of a stream's output log against the pipeline applied
    * to the same input log: every id exactly once, same decision and
    * score, malformed records as REVIEW. Returns (attempted, failed).
    */
  def check(in: String, out: String, malformed: Long): (Long, Long) = {
    val expected = TransactionPipeline.pipeline(
        GraftLog.read(spark, in).select(col("value").cast("string").as("json")),
        users, merchants)
      .select(col("transaction_id").as("id"), col("decision").as("e_dec"),
        col("fraud_score").as("e_score"), lit(true).as("e"))
    val got = GraftLog.read(spark, out)
      .select(col("key").cast("string").as("id"),
        from_json(col("value").cast("string"), OutSchema).as("o"))
      .groupBy("id").agg(count(lit(1)).as("n"),
        first(col("o.decision")).as("o_dec"), first(col("o.fraud_score")).as("o_score"))
    val r = expected.join(got, Seq("id"), "full_outer").agg(
      count(col("e")).as("attempted"),
      sum(when(col("e").isNotNull && col("n").isNull, 1).otherwise(0)).as("missing"),
      sum(when(col("n") > 1, col("n") - 1).otherwise(0)).as("dup"),
      sum(when(col("e").isNotNull && col("n").isNotNull &&
        !(col("e_dec") <=> col("o_dec") && col("e_score") <=> col("o_score")), 1)
        .otherwise(0)).as("wrong"),
      sum(when(col("e").isNull, 1).otherwise(0)).as("unexpected"),
      sum(when(col("id").startsWith("ERROR_") && col("n").isNotNull, 1)
        .otherwise(0)).as("err_rows"),
      sum(when(col("id").startsWith("ERROR_") && !(col("o_dec") <=> lit("REVIEW")), 1)
        .otherwise(0)).as("err_not_review"))
      .collect()(0)
    val attempted = r.getLong(0)
    val failed = r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) +
      r.getLong(6) + math.abs(r.getLong(5) - malformed)
    if (failed > 0)
      System.err.println(s"[perfbench] check $out: attempted=$attempted missing=${r.getLong(1)} " +
        s"dup=${r.getLong(2)} wrong=${r.getLong(3)} unexpected=${r.getLong(4)} " +
        s"error_rows=${r.getLong(5)}/$malformed error_not_review=${r.getLong(6)}")
    (attempted, failed)
  }

  // ---- txn_steady ---------------------------------------------------------

  def steady(): Outcome = {
    val rate = if (tiny) 2000 else SteadyRate
    val bodies = ctx.trace.span("setup.payloads") {
      TxnInputs.bodies(spark, if (tiny) 2000 else 20000, nUsers, ctx.seed)
    }
    ctx.trace.span("setup.first_decision") { ctx.setupRepeat(i => firstDecision(s"$i", bodies)) }
    ctx.beginMeasure()
    val settle = if (tiny) 1.0 else SettleS
    val main = steadyRun("main", rate, bodies, settle, ctx.seconds, traced = false)
    if (!ctx.trace.enabled) {
      Util.deleteTree(new File(main.in))
      return main.outcome
    }
    // traced: the same loop with the benchmark's listeners on, then the
    // catch-up layers over the main run's input log
    val traced = ctx.trace.span("steady.traced") {
      steadyRun("traced", rate, bodies, if (tiny) 1.0 else TracedSettleS,
        math.max(1, ctx.seconds / 2), traced = true)
    }
    Util.deleteTree(new File(traced.in))
    val rows = main.outcome.attempted
    val d = ctx.trace.span("catchup.drain") { drain("catchup", main.in, rows) }
    val (ca, cf) = ctx.trace.span("check") { check(main.in, d.out, main.malformed) }
    Util.deleteTree(new File(d.out))
    val stages = ctx.trace.span("stages") { stageSelfTimes(main.in) }
    // the single-core baseline replaces this session, so it runs last
    val oneCore = ctx.trace.span("catchup.local1") { ctx.drainRateOneCore(main.in, rows) }
    val p50 = (o: Outcome) => o.endToEnd("latency_p50_ms").value
    Outcome(main.outcome.attempted + traced.outcome.attempted + ca,
      main.outcome.failed + traced.outcome.failed + cf, main.outcome.endToEnd,
      traced.outcome.layers ++ stages ++ Map(
        "trace.overhead_ratio" -> Metric(p50(traced.outcome) / p50(main.outcome), "ratio"),
        "stage.drain_rows_per_s" -> Metric(rows / d.seconds, "rows/s"),
        "stage.coverage_ratio" -> Metric(
          StageNames.map(n => stages(s"stage.${n}_s").value).sum / d.seconds, "ratio"),
        "stage.scaling_x" -> Metric(rows / d.seconds / oneCore, "ratio")))
  }

  final case class SteadyRun(in: String, malformed: Long, outcome: Outcome)

  /** One open loop: the generator runs `settleS` + `seconds` at `rate`;
    * latency and throughput count only the last `seconds`. The traced
    * loop runs half as long as the measured one. The input log is kept
    * for the caller.
    */
  private def steadyRun(tag: String, rate: Int, bodies: Array[String], settleS: Double,
                        seconds: Int, traced: Boolean): SteadyRun = {
    val in = dir(s"$tag-in"); val out = dir(s"$tag-out")
    val perTick = rate * TickMs / 1000
    val tickNs = TickMs * 1000000L
    val ticks = ((settleS + seconds) * 1000 / TickMs).toInt
    val producer = new LogProducer(in, Partitions)
    val gen = new OpenLoopGenerator(producer, bodies, perTick, tickNs, ticks, ctx.seed)
    val seenNs = new Array[Long](gen.total.toInt)
    val seenCount = new java.util.concurrent.atomic.AtomicLong
    val watcher = new LogWatcher(out, (now, seg) => {
      val it = GraftLogFormat.readSegment(seg)
      while (it.hasNext) {
        val k = new String(it.next().key, StandardCharsets.UTF_8)
        val seq: Long =
          if (k.startsWith("s")) k.substring(1).toLong
          else Option(gen.errorSeq.get(k)).map(_.longValue).getOrElse(-1L)
        if (seq >= 0 && seq < seenNs.length && seenNs(seq.toInt) == 0L) seenNs(seq.toInt) = now
      }
      seenCount.addAndGet(seg.count)
    })
    val progress = new ProgressLog
    if (traced) spark.streams.addListener(progress)
    val counters = if (traced) Some(ctx.counters) else None
    val q = start(in, out, dir(s"$tag-ckpt"), Trigger.ProcessingTime(TriggerMs))
    watcher.start()
    // the query's first batch plans and generates code; let it pass
    // before the open loop starts, so the loop does not begin behind
    val warm = Array.tabulate(perTick * Partitions)(i => s"x$i")
    producer.append(0, warm, warm.indices.map(i =>
      "{\"transaction_id\":\"" + warm(i) + "\"," + bodies(i % bodies.length)).toArray,
      System.currentTimeMillis() * 1000L)
    while (seenCount.get < warm.length && q.isActive && watcher.isAlive) Thread.sleep(2)
    seenCount.set(0L)
    gen.start()
    while (gen.t0Ns == 0L) Thread.sleep(1)
    val winStart = gen.t0Ns + (settleS * 1e9).toLong
    val winEnd = gen.t0Ns + ticks * tickNs
    // lag samples: produced-but-undecided records through the window
    val lag = ArrayBuffer[Double]()
    while (System.nanoTime() < winStart) Thread.sleep(5)
    val c0 = counters.map(_.snap())
    progress.take()
    while (System.nanoTime() < winEnd) {
      lag += (gen.ticksDone.toLong * perTick - seenCount.get).toDouble
      Thread.sleep(100)
    }
    val c1 = counters.map(_.snap())
    val inWindow = progress.take()
    gen.join()
    val drainDeadline = System.nanoTime() + 30000000000L
    while (seenCount.get < gen.total && System.nanoTime() < drainDeadline && q.isActive &&
        watcher.isAlive)
      Thread.sleep(5)
    watcher.finish()
    q.stop()
    if (traced) spark.streams.removeListener(progress)

    // latency from due time, over the records due inside the window, per
    // slice of the window: a percentile is the median of its slices, so
    // one slow stretch of a run moves it little
    val slices = math.max(1, seconds / SliceS)
    val sliceNs = (winEnd - winStart) / slices
    val lat = Array.fill(slices)(ArrayBuffer[Double]())
    var missing = 0L
    for (seq <- seenNs.indices) {
      val due = gen.dueNs(seq)
      if (due >= winStart && due < winEnd) {
        if (seenNs(seq) == 0L) missing += 1
        else lat(math.min(slices - 1, ((due - winStart) / sliceNs).toInt)) +=
          (seenNs(seq) - due) / 1e6
      }
    }
    def pct(q: Double) = Util.median(lat.toSeq.map(l => Util.quantile(l.toSeq, q)))
    val decidedPerS = completionRate(seenNs.filter(t => t >= winStart && t < winEnd))
    val late = gen.lateNs.map(_ / 1e6).toSeq
    val (attempted, failed) = ctx.trace.span("check") { check(in, out, gen.malformed) }
    Seq(out, dir(s"$tag-ckpt")).foreach(d => Util.deleteTree(new File(d)))
    val e2e = Map(
      "latency_p50_ms" -> Metric(pct(0.50), "ms"),
      "latency_p95_ms" -> Metric(pct(0.95), "ms"),
      "throughput_per_s" -> Metric(decidedPerS, "1/s"))
    System.err.println(f"[perfbench] steady $tag: ${lat.map(_.size).sum} samples, " +
      f"p50 ${e2e("latency_p50_ms").value}%.1f ms, p95 ${e2e("latency_p95_ms").value}%.1f ms, " +
      f"$decidedPerS%.0f decided/s, missing $missing, " +
      f"generator late p50 ${Util.median(late)}%.2f ms max ${late.max}%.2f ms; " +
      "triggers (rows:ms) " + q.recentProgress.filter(_.numInputRows > 0)
        .map(p => s"${p.numInputRows}:${p.durationMs.get("triggerExecution")}").mkString(" "))
    val layers = streamLayers(inWindow, c0.zip(c1).map { case (a, b) => b - a }) ++ Map(
      "log.lag_rows" -> Metric(Util.median(lag.toSeq), "rows"),
      "log.gen_late_ms" -> Metric(Util.quantile(late, 0.95), "ms"))
    SteadyRun(in, gen.malformed, Outcome(attempted, failed + missing, e2e, layers))
  }

  /** Decisions per second between the first and the last batch that
    * became readable in the window: `seen` holds the instant each
    * decision was first seen; instants within 50 ms belong to one batch.
    * Counting whole batches keeps the batch size out of the rate.
    */
  private def completionRate(seen: Array[Long]): Double = {
    val batches = ArrayBuffer[(Long, Long)]() // (last instant, decisions)
    for ((t, n) <- seen.groupBy(identity).view.mapValues(_.length.toLong).toSeq.sortBy(_._1)) {
      if (batches.nonEmpty && t - batches.last._1 < 50000000L)
        batches(batches.size - 1) = (t, batches.last._2 + n)
      else batches += ((t, n))
    }
    if (batches.size < 2) Double.NaN
    else batches.tail.map(_._2).sum / ((batches.last._1 - batches.head._1) / 1e9)
  }

  // ---- catch-up over a finished run's input log ---------------------------

  final case class Drain(out: String, seconds: Double)

  /** One catch-up, as after a restart: a fresh query drains the whole
    * log with Trigger.AvailableNow and `maxRecordsPerTrigger`
    * admission control.
    */
  private def drain(tag: String, in: String, rows: Long): Drain = {
    val out = dir(s"drain-$tag-out")
    val t0 = System.nanoTime()
    start(in, out, dir(s"drain-$tag-ckpt"), Trigger.AvailableNow(),
      Some(math.max(1L, rows / TriggersPerDrain))).awaitTermination()
    val d = Drain(out, Util.secondsSince(t0))
    Util.deleteTree(new File(dir(s"drain-$tag-ckpt")))
    d
  }

  /** Self time of each pipeline stage: prefix pipelines over a
    * finished run's input log (source scan + parse; + enrich; + model;
    * + decide; + sink), each forced in full, each stage's time the
    * difference to the prefix before.
    */
  private def stageSelfTimes(in: String): Map[String, Metric] = {
    val raw = GraftLog.read(spark, in).select(col("value").cast("string").as("json"))
    val parsed = TransactionPipeline.parseJson(raw)
    val enriched = TransactionPipeline.enrich(parsed, users, merchants)
    val modeled = FraudModel.score(enriched, coalesce(col("amount"), lit(0.0)),
      coalesce(col("timestamp"), timestamp_seconds(lit(0L))))
    val decided = TransactionPipeline.scoreAndDecide(modeled)
    def force(df: DataFrame): Unit = { df.queryExecution.toRdd.count(); () }
    val sinkDir = dir("stage-sink")
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "parse" -> (() => force(parsed)),
      "enrich" -> (() => force(enriched)),
      "model" -> (() => force(modeled)),
      "decide" -> (() => force(decided)),
      "sink" -> (() => {
        GraftLog.write(decided.select(col("transaction_id").as("key"),
          to_json(struct(decided.columns.toIndexedSeq.map(col): _*)).as("value")), sinkDir)
        Util.deleteTree(new File(sinkDir))
      }))
    val cumulative = prefixes.map { case (n, f) =>
      ctx.trace.span(s"prefix.$n") { Util.time(f())._2 }
    }
    val self = cumulative.zip(0.0 +: cumulative).map { case (c, p) => c - p }
    StageNames.zip(self).map { case (n, s) => s"stage.${n}_s" -> Metric(s, "s") }.toMap
  }

  /** Rows per second of one catch-up drain of `in` in this session. */
  def drainRate(in: String, rows: Long): Double = {
    val d = drain("rate", in, rows)
    Util.deleteTree(new File(d.out))
    rows / d.seconds
  }

  /** Per-trigger phase medians from the progress events plus per-batch
    * scheduler counts.
    */
  private def streamLayers(ps: Seq[StreamingQueryProgress],
                           counts: Option[Snap]): Map[String, Metric] = {
    val batches = ps.filter(_.numInputRows > 0)
    def phase(k: String): Double =
      if (batches.isEmpty) 0.0
      else Util.median(batches.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    batches.foreach { p =>
      val offsetNs = (System.currentTimeMillis() -
        java.time.Instant.parse(p.timestamp).toEpochMilli) * 1000000L
      val startNs = System.nanoTime() - offsetNs
      def ms(k: String): Long = p.durationMs.getOrDefault(k, 0L) * 1000000L
      val trig = ctx.trace.record("stream.trigger", 0, startNs, startNs + ms("triggerExecution"))
      Seq("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
        .foldLeft(startNs) { (at, k) =>
          ctx.trace.record(s"stream.$k", trig, at, at + ms(k)); at + ms(k) }
    }
    val n = batches.size.max(1).toDouble
    Map(
      "stream.trigger_ms" -> Metric(phase("triggerExecution"), "ms"),
      "stream.queryPlanning_ms" -> Metric(phase("queryPlanning"), "ms"),
      "stream.walCommit_ms" -> Metric(phase("walCommit"), "ms"),
      "stream.commitOffsets_ms" -> Metric(phase("commitOffsets"), "ms"),
      "stream.latestOffset_ms" -> Metric(phase("latestOffset"), "ms"),
      "stream.addBatch_ms" -> Metric(phase("addBatch"), "ms"),
      "stream.batches" -> Metric(batches.size.toDouble, "count"),
      "stream.rows_per_batch" -> Metric(
        if (batches.isEmpty) 0.0 else Util.median(batches.map(_.numInputRows.toDouble)), "rows"),
      "stream.jobs_per_batch" -> Metric(counts.map(_.jobs / n).getOrElse(0.0), "count"),
      "stream.tasks_per_batch" -> Metric(counts.map(_.tasks / n).getOrElse(0.0), "count"))
  }
}

object Streams {
  val Partitions = 4
  /** Offered load, txn/s. A third of the reference's claimed 15,000:
    * on four cores 15,000 sits at the knee, where each trigger's rows
    * lengthen the next trigger and run-to-run latency spread exceeds 30%.
    */
  val SteadyRate = 5000
  /** Trigger interval of the measured loop. A back-to-back trigger
    * makes each batch's size depend on the last batch's duration, which
    * feeds host-speed noise back into latency; a fixed interval that a
    * batch finishes well inside (~0.5 s of 1 s) keeps batches the same
    * size, so latency is the wait for the next trigger plus one batch.
    */
  val TriggerMs = 1000L
  val TickMs = 20
  /** Open-loop seconds before the measured window: lets JIT
    * compilation of the per-trigger and per-row paths settle.
    */
  val SettleS = 10.0
  /** The traced loop follows the main one in the same JVM, already warm. */
  val TracedSettleS = 3.0
  /** Latency percentiles are taken per slice of this many seconds. */
  val SliceS = 5
  val TriggersPerDrain = 2L
  val StageNames: Seq[String] = Seq("parse", "enrich", "model", "decide", "sink")

  val LayerUnits: Seq[(String, String)] = Seq(
    "stream.trigger_ms" -> "ms", "stream.queryPlanning_ms" -> "ms",
    "stream.walCommit_ms" -> "ms", "stream.commitOffsets_ms" -> "ms",
    "stream.latestOffset_ms" -> "ms", "stream.addBatch_ms" -> "ms",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "rows",
    "stream.jobs_per_batch" -> "count", "stream.tasks_per_batch" -> "count",
    "log.lag_rows" -> "rows", "log.gen_late_ms" -> "ms") ++
    StageNames.map(n => s"stage.${n}_s" -> "s") ++ Seq(
    "stage.drain_rows_per_s" -> "rows/s", "stage.coverage_ratio" -> "ratio",
    "stage.scaling_x" -> "ratio")

  val OutSchema: StructType = StructType(Seq(
    StructField("decision", StringType), StructField("fraud_score", DoubleType)))
}
