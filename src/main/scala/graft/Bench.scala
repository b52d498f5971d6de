package graft
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.BusDrain

/** Benchmark harness: times every SparkEntry query on the sf dir named
  * by SPARK_GRAFT_SF_DIR and emits ONE JSON line.
  *
  * SPARK_GRAFT_BENCH_ONLY=a,b restricts the run to the named queries;
  * it may also name [[OptProbe]] sub-plan probes, which are timed and
  * profiled by the same rules (the full suite never runs them).
  *
  * The JSON is (a) written to the file named by SPARK_GRAFT_BENCH_OUT
  * (default `BENCH.json` in the working directory) and (b) printed as
  * the final stdout line — the driver may consume either.
  *
  * == Contention resistance ==
  * A shared box can run ambient load for minutes at a time, long enough
  * to contaminate BOTH runs of a min-of-2 measurement (observed: two
  * alphabetically-contiguous windows of a sequential run reading
  * 10-60x slow while every other query matched clean values to within
  * noise). The harness therefore audits itself:
  *
  *  1. every per-run wall time is recorded (`"runs"`), not just the
  *     aggregate, so slow readings are distinguishable from slow code;
  *  2. 1-minute loadavg is sampled before and after every query
  *     (`"load"`) — a spike correlated with a slow reading is ambient
  *     load, not a regression;
  *  3. if the two runs disagree by >3x, a third evidence run is
  *     taken; the value is the min of all runs (one-sided noise);
  *  4. if a committed reference file (`BENCH_REF.json`, overridable via
  *     SPARK_GRAFT_BENCH_REF) knows this query and the reading is still
  *     >5x the reference, up to two spaced retry runs attempt a clean
  *     reading (contamination only ever inflates, so taking the min of
  *     retries is sound); a query that stays >5x after retries is
  *     listed in `"suspect"` with its reference value alongside;
  *  5. a RUN-level gate catches the uniform drift the per-query
  *     threshold cannot see (observed: every query ~1.35x slow under
  *     ambient load, zero suspects): if the suspect-substituted total
  *     exceeds 1.25x the reference total — normalized by the relative
  *     host speed, measured by a built-in md5 calibration carried in
  *     the artifact (`cpu_1t`), because rounds land on
  *     different-speed hosts — one full extra pass
  *     re-measures every query (min is sound — contention only
  *     inflates), and a run still over the gate is stamped
  *     `"run_suspect": true` so no contended artifact can present
  *     itself as clean again.
  *
  * Query failures are NOT folded into the timings: a query that fails
  * every attempt is reported under `"errors"` and excluded from
  * `"queries"`/`"value"`; a query that fails some attempts keeps its
  * surviving timing AND gets a `"flaky"` entry in `"errors"`. Any
  * `"errors"` entry flips the process exit code.
  */
object Bench {
  /** Force FULL materialization of the query's committed physical
    * plan. `df.count()` built a NEW logical plan (Aggregate(count(1))
    * over the query) that Catalyst then optimized: column pruning
    * dropped every deterministic projected expression (a projection-
    * heavy query timed as a bare scan) and unique-key left joins were
    * eliminated outright — measured r15: the stride-1 substring
    * profile "cost" 0.2 s via count() at 100× vs 230.7 s under this
    * forcing (327 s via a sum-forced probe — the first evidence the
    * count() number was fiction). Executing the query's OWN physical plan via toRdd
    * computes every output column of every row — the cost a caller
    * writing the result anywhere would pay — and that is the number
    * the bench claims to measure.
    */
  private[graft] def force(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** A completed stage: seconds, tasks, first line of its call site,
    * and the RDD-scope name of its last scoped RDD (e.g. `Exchange`).
    */
  private[graft] final case class StageRun(sec: Double, tasks: Int,
                                           site: String, scope: String)

  /** One timed run: wall seconds plus what the listener saw meanwhile —
    * driver jobs, submitted tasks, completed stages with the three
    * longest, and executor run/CPU time summed over finished tasks.
    */
  private[graft] final case class RunProfile(secs: Double, jobs: Int,
      tasks: Int, stages: Int, top: Seq[StageRun], execRunMs: Long,
      execCpuNs: Long)

  /** Bench's one passive listener; [[measure]] resets it per run. */
  private[graft] final class Profiler extends SparkListener {
    private val jobs = new AtomicInteger
    private val tasks = new AtomicInteger
    private val runMs = new AtomicLong
    private val cpuNs = new AtomicLong
    private val stages = new ConcurrentLinkedQueue[StageRun]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tasks.addAndGet(e.stageInfo.numTasks)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val sec = (for (a <- i.completionTime; b <- i.submissionTime)
        yield (a - b) / 1000.0).getOrElse(-1.0)
      val scope = i.rddInfos.sortBy(-_.id).flatMap(_.scope).headOption
        .map(_.name).getOrElse("")
      stages.add(StageRun(sec, i.numTasks, i.name.takeWhile(_ != '\n'), scope))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        runMs.addAndGet(e.taskMetrics.executorRunTime)
        cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
      }

    private[Bench] def reset(): Unit = {
      jobs.set(0); tasks.set(0); runMs.set(0); cpuNs.set(0); stages.clear()
    }

    private[Bench] def profile(secs: Double): RunProfile = {
      val ran = stages.asScala.toSeq
      RunProfile(secs, jobs.get, tasks.get, ran.size,
        ran.sortBy(-_.sec).take(3), runMs.get, cpuNs.get)
    }
  }

  /** Time one forced run of `fn` (building the plan is inside the
    * clock), then drain the listener bus and read `profiler`: counts
    * are complete, and the drain stays outside the timed interval.
    */
  private[graft] def measure(spark: SparkSession, profiler: Profiler,
      fn: (SparkSession, String) => DataFrame, sfDir: String): RunProfile = {
    profiler.reset()
    val t0 = System.nanoTime()
    force(fn(spark, sfDir))
    val secs = (System.nanoTime() - t0) / 1e9
    BusDrain(spark.sparkContext)
    profiler.profile(secs)
  }

  /** 1-minute loadavg from /proc/loadavg; -1 where unreadable. */
  private def load1(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.split("\\s+")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  /** (busy, total) jiffies summed over all host CPUs from /proc/stat.
    * busy excludes idle+iowait; steal counts as busy — a hypervisor
    * stealing our cycles IS foreign load.
    */
  private[graft] def readSystemJiffies(): (Long, Long) = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).get
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    val total = f.sum
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    (total - idle, total)
  }

  /** This process's utime+stime jiffies from /proc/self/stat (whole
    * JVM, all threads). The comm field can contain spaces/parens —
    * parse after the LAST ')'.
    */
  private[graft] def readSelfJiffies(): Long = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong  // fields 14 (utime), 15 (stime)
  }

  /** Host CPU count = cpuN lines in /proc/stat (NOT
    * availableProcessors, which can be cgroup-clamped below the host
    * width that /proc/stat jiffies are denominated in).
    */
  private[graft] def hostCpus(): Int =
    scala.io.Source.fromFile("/proc/stat").getLines()
      .count(l => l.startsWith("cpu") && !l.startsWith("cpu "))

  /** Mid-run breach rule for the foreign-load gate: the run is
    * suspect when the MEAN foreign-core occupancy over the suite
    * exceeds the ceiling (a short cron blip shouldn't kill a run; a
    * co-tenant camped on cores for the duration must).
    */
  private[graft] def foreignBreach(samples: Seq[Double],
                                   maxMeanCores: Double): Boolean =
    samples.nonEmpty &&
      samples.sum / samples.size > maxMeanCores

  /** Foreign-CPU sampler (round-12 verdict item 4). The r12 official
    * artifact started at loadavg 1.64 (passing the start gate), ended
    * at 11.53, drifted 1.248 — 0.002 under the retry trigger — and
    * stamped itself clean: the start-only gate is blind to co-tenants
    * arriving MID-run, and raw loadavg cannot police the middle of a
    * run because this bench's own local[32] JVM legitimately drives
    * loadavg past 10 (clean p2 pass: median mid-query loadavg 10.17).
    * What loadavg conflates, CPU accounting separates: every 5s a
    * daemon thread diffs system-wide busy jiffies against THIS
    * process's jiffies — the remainder is, by construction, other
    * tenants (plus kernel threads, ~0 idle). The artifact carries
    * mean/peak foreign cores; a mean above SPARK_GRAFT_FOREIGN_MAX
    * (default 2.0 cores) stamps "midrun_load_breach": true and folds
    * into run_suspect, so a co-tenanted run can never present itself
    * clean again regardless of where in the run the tenant arrived.
    */
  private[graft] final class ForeignLoadSampler(periodMs: Long = 5000L) {
    private val samples = scala.collection.mutable.ArrayBuffer[Double]()
    @volatile private var stopped = false
    private val cpus = hostCpus()
    private val t = new Thread(() => {
      try {
        var (b0, t0) = readSystemJiffies()
        var s0 = readSelfJiffies()
        while (!stopped) {
          Thread.sleep(periodMs)
          val (b1, t1) = readSystemJiffies()
          val s1 = readSelfJiffies()
          val dt = t1 - t0
          if (dt > 0) {
            val foreign =
              math.max(0.0, ((b1 - b0) - (s1 - s0)).toDouble / dt * cpus)
            samples.synchronized { samples += foreign }
          }
          b0 = b1; t0 = t1; s0 = s1
        }
      } catch { case _: Throwable => () }  // sampler must never kill a run
    }, "bench-foreign-load-sampler")
    t.setDaemon(true)
    t.start()

    /** Stop sampling; the foreign-core samples in order. */
    def finish(): Vector[Double] = {
      stopped = true
      t.interrupt()
      samples.synchronized { samples.toVector }
    }
  }

  /** Fixed CPU calibration: seconds for a deterministic md5 chain,
    * single-thread and one-thread-per-core. The rounds of this build
    * land on different hosts: round 7 measured a UNIFORM ~1.6x
    * per-query drift vs the committed reference on a verified-idle
    * box (zero foreign processes, 0.19% steal) — host speed, not
    * contention, and indistinguishable from a code-wide regression
    * without a yardstick that depends on the host alone. These two
    * numbers are that yardstick: they ride in the artifact, and the
    * drift gate normalizes by the single-thread ratio when the
    * reference file carries one.
    */
  private def cpuCalibration(cpus: Int): (Double, Double) = {
    def work(): Unit = {
      val md = java.security.MessageDigest.getInstance("MD5")
      var b = new Array[Byte](64)
      var i = 0
      while (i < 400000) { b = md.digest(b); i += 1 }
    }
    work(); work() // JIT warm-up (two passes: C2 kicks in late)
    // min of 3: single measured readings vary ~20% from JIT/alloc
    // noise, which would leak straight into the gate's host factor
    val single = (1 to 3).map { _ =>
      val t1 = System.nanoTime(); work()
      (System.nanoTime() - t1) / 1e9
    }.min
    val threads = (1 to cpus).map(_ => new Thread(() => work()))
    val t2 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val par = (System.nanoTime() - t2) / 1e9
    (single, par)
  }

  /** Single-thread small-string allocation + hash-grouping probe —
    * the regime the explode-family queries stress (tokenize → many
    * short-lived strings → map-side partial aggregation), which the
    * md5 digest probe above cannot see: the r12 cross-box forensics
    * found five explode-heavy queries reading 1.4–2.0× anchor on a
    * box whose md5 probe read FASTER than the anchor box
    * (BENCH_TREND_r12.txt). Recorded as `cpu_alloc` in the artifact
    * and — since r14, with a reference baseline in BENCH_REF.json —
    * blended into host_factor by [[hostFactorOf]] (r13 verdict #5;
    * the r13 fleet of passes established the probe's idle-window
    * range, 0.088–0.098 at host_factor 1.0, before folding it in).
    */
  private def allocCalibration(): Double = {
    def work(): Long = {
      val m = new java.util.HashMap[String, Long](1 << 16)
      var acc = 0L
      var i = 0
      while (i < 1500000) {
        val s = "tok" + (i % 65536) + "x"
        val prev = m.getOrDefault(s, 0L)
        m.put(s, prev + 1L)
        acc += s.length
        i += 1
      }
      acc + m.size
    }
    work(); work() // JIT warm-up, same discipline as cpuCalibration
    (1 to 3).map { _ =>
      val t = System.nanoTime(); work(); (System.nanoTime() - t) / 1e9
    }.min
  }

  private val mapper = new ObjectMapper()

  /** An insertion-ordered JSON object. Values may be Double, Int,
    * Boolean, String, a JsonNode, or a Seq of Doubles or JsonNodes (an
    * array).
    */
  private[graft] def jsonObject(fields: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (k, v: Double)   => o.put(k, v)
      case (k, v: Int)      => o.put(k, v)
      case (k, v: Boolean)  => o.put(k, v)
      case (k, v: String)   => o.put(k, v)
      case (k, v: JsonNode) => o.set[JsonNode](k, v)
      case (k, vs: Seq[_])  =>
        val a = o.putArray(k); vs.foreach(v => a.add(mapper.valueToTree[JsonNode](v)))
      case (k, v) => throw new IllegalArgumentException(s"$k: $v")
    }
    o
  }

  /** Write `node` as one compact JSON line. */
  private[graft] def writeJson(path: String, node: JsonNode): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (mapper.writeValueAsString(node) + "\n").getBytes("UTF-8"))

  /** A JSON file's root, or None if it is missing or malformed. */
  private def readJson(path: String): Option[JsonNode] =
    try Option(mapper.readTree(new java.io.File(path)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Per-query reference timings from a previously committed clean run:
    * the numeric fields of the top-level `"queries"` object. Empty when
    * the file or the key is missing.
    */
  private[graft] def loadReference(path: String): Map[String, Double] =
    readJson(path).toSeq
      .flatMap(_.path("queries").properties().asScala)
      .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }
      .toMap

  /** Single-thread calibration seconds from the reference file, if it
    * carries one (refreshed references do; see [[cpuCalibration]]).
    */
  private[graft] def loadRefCpu1t(path: String): Option[Double] =
    loadRefField(path, "cpu_1t")

  /** Allocation-probe calibration seconds from the reference file, if
    * it carries one (see [[allocCalibration]]; r14 BENCH_REF does).
    */
  private[graft] def loadRefCpuAlloc(path: String): Option[Double] =
    loadRefField(path, "cpu_alloc")

  /** A numeric TOP-LEVEL field: a key quoted inside a note string or
    * nested in `"queries"` never matches (BenchParseSpec pins both).
    */
  private def loadRefField(path: String, name: String): Option[Double] =
    readJson(path).map(_.path(name)).filter(_.isNumber).map(_.asDouble)

  /** Host normalization factor for the drift gate (r13 verdict #5):
    * the MEAN of the available calibration ratios — md5 digest
    * (compute regime) and small-string alloc + hash-group (the
    * explode-family regime the md5 probe cannot see: r12 forensics
    * found explode queries 1.4–2× slow on a box whose md5 probe read
    * FASTER than the anchor) — floored at 1, so a faster host never
    * excuses a regression. The suite mixes both regimes roughly
    * evenly, hence the unweighted mean; with no reference cpu_alloc
    * the factor degrades to the pre-r14 md5-only ratio.
    */
  private[graft] def hostFactorOf(cpu1t: Double, refCpu1t: Option[Double],
      cpuAlloc: Double, refCpuAlloc: Option[Double]): Double = {
    val ratios = refCpu1t.map(cpu1t / _).toSeq ++
      refCpuAlloc.map(cpuAlloc / _).toSeq
    if (ratios.isEmpty) 1.0
    else math.max(1.0, ratios.sum / ratios.size)
  }

  /** The artifact's `"methodology"` text. */
  private val Methodology =
    "forcing = full materialization of the query plan via toRdd (r15; " +
    ".count() let Catalyst prune projections and eliminate unique-key " +
    "joins, under-measuring projection-heavy queries); min of 2 runs per " +
    "query (run 1 pays one-time codegen/broadcast builds); >3x run " +
    "disagreement -> third evidence run, value = min of all runs (r15: " +
    "the median of [fast, comparable, codegen-heavy] returned the slower " +
    "comparable run and stamped warm-fast queries 2-3x over anchor at " +
    "true idle; wall noise is one-sided so min is sound); readings >5x " +
    "the committed BENCH_REF.json value retried up to 2x spaced 500ms " +
    "then flagged suspect (ambient-load audit: per-run times in runs, " +
    "1-min loadavg before/after each query in load); clean_total " +
    "substitutes reference values for suspect readings; run-level gate: " +
    "if suspect-substituted total exceeds 1.25x the reference total over " +
    "jointly-known queries (normalized by host_factor = mean of this " +
    "host's calibration ratios over the reference's - single-thread md5 " +
    "cpu_1t and small-string alloc/hash-group cpu_alloc, the " +
    "explode-family regime md5 cannot see - floored at 1; rounds land on " +
    "different-speed hosts), one full extra pass re-measures every query " +
    "(min taken), and a run still above the gate is stamped run_suspect; " +
    "load defense: the run waits up to SPARK_GRAFT_LOAD_WAIT_SECS " +
    "(default 600s) for 1-min loadavg <= SPARK_GRAFT_LOAD_MAX (default " +
    "2.0) before measuring and is stamped invalid_load if it must start " +
    "loaded, a daemon thread additionally samples FOREIGN cpu (system " +
    "busy jiffies minus this process, /proc/stat vs /proc/self/stat, " +
    "every 5s) for the whole suite and a mean above " +
    "SPARK_GRAFT_FOREIGN_MAX (default 2.0 cores) stamps " +
    "midrun_load_breach and run_suspect - the start-only loadavg gate is " +
    "blind to co-tenants arriving mid-run and raw loadavg cannot police " +
    "the middle of a run that itself runs local[32], and any query still " +
    ">=2x its reference after in-flight retries gets one end-of-suite " +
    "requeue (min taken); BENCH_REF refresh rule: a new reference " +
    "requires two back-to-back verified-idle runs agreeing within ~1%, a " +
    "committed tools/bench_trend.py comparison vs the outgoing anchor, " +
    "and a stated cause in the commit - serial refreshes without that " +
    "evidence could hide a slow creep; scaling evidence (r16 verdict #2): " +
    "cpus/default_parallelism record the session parallelism " +
    "($SPARK_GRAFT_CPUS is honored - master local[cpus], " +
    "shuffle.partitions=cpus) and jobs/tasks carry per-query driver-job " +
    "and task counts from the min-time run (passive SparkListener, read " +
    "after the listener bus is drained; the drain runs after the timed " +
    "interval ends) - at bench " +
    "SF most queries are near the per-job scheduling floor, so a flat " +
    "wall ratio between cpu counts is attributable to driver-job latency, " +
    "not to ignored cores; the same listener and min-time run give each " +
    "query's stage profile: stages (completed stages), top_stages (the " +
    "three longest: seconds, tasks, first line of the call site, RDD " +
    "scope name of the stage's last scoped RDD) and " +
    "executor_run_s/executor_cpu_s (executor run and CPU time summed over " +
    "the run's tasks)"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
    val reference = loadReference(refPath)
    // first calibration sample before the Spark session exists; a
    // second runs after the queries (see below) — early samples read
    // up to ~20% slow while the JIT compiler storm shares cores
    val (cpu1tStart, cpuMt) = cpuCalibration(cpus)
    val cpuAllocStart = allocCalibration()
    val refCpu1t = loadRefCpu1t(refPath)
    val spark = GraftSession.local(cpus)
    // == Scaling legibility (r16 verdict item 2) ==
    // At sf0.1 the suite is driver-job-latency-bound: 198 queries in
    // ~130 s is ~0.66 s/query, most of it scheduling floor, so the
    // wall-clock 8c/32c ratio reads ≈1 even though the session honors
    // $SPARK_GRAFT_CPUS. The artifact must let a reader attribute that
    // flatness to its real cause, so a passive listener (Profiler)
    // records each query's min-time run: driver jobs, tasks, stages and
    // the three longest of them, and executor run/CPU time; the session
    // records its parallelism. Listener events reach the listener on
    // the bus's own thread, so each run drains the bus (BusDrain) after
    // its clock stops and before it reads the counters (see measure).
    val profiler = new Profiler
    spark.sparkContext.addSparkListener(profiler)
    val qProf = scala.collection.mutable.LinkedHashMap[String, RunProfile]()
    // == Start-of-run load defense (round-12 verdict item 3) ==
    // Two consecutive driver rounds produced official artifacts from a
    // box at loadavg 5.8–7.6 (co-tenant load): per-query retries can
    // rescue individual readings but not a whole contended suite.
    // Refuse to start measuring on a visibly loaded box — poll up to
    // SPARK_GRAFT_LOAD_WAIT_SECS (default 600) for the 1-minute
    // loadavg to fall below SPARK_GRAFT_LOAD_MAX (default 2.0). A run
    // that must start loaded anyway is stamped "invalid_load": true in
    // the artifact, so a contended run can never present itself clean.
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX", "2.0").toDouble
    val loadWaitSecs =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_SECS", "600").toInt
    val waitDeadline = System.nanoTime() + loadWaitSecs * 1000000000L
    while (load1() > loadMax && System.nanoTime() < waitDeadline) {
      System.err.println(
        s"[bench] 1-min loadavg ${load1()} > $loadMax — waiting for idle")
      Thread.sleep(15000)
    }
    val loadStart = load1()
    val invalidLoad = loadStart > loadMax
    // mid-run co-tenancy watch: foreign = system CPU minus own CPU
    val foreignMax =
      sys.env.getOrElse("SPARK_GRAFT_FOREIGN_MAX", "2.0").toDouble
    val foreignSampler = new ForeignLoadSampler()
    // Each query runs at least twice. Run 1 pays one-time Janino
    // codegen + plan analysis + broadcast builds (constant cost,
    // amortized away at scale); run 2 is the steady-state per-query
    // time a cluster run would see. Measured: q_ann_lsh 5.5s cold vs
    // 0.93s steady on identical data.
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = Seq.newBuilder[(String, String)]
    val allRuns = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val loads = Seq.newBuilder[(String, (Double, Double))]
    val suspects = Seq.newBuilder[(String, Double, Double)] // name, value, ref
    // optional comma-separated filter for local iteration on a subset;
    // it may also name OptProbe sub-plan probes
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val benchQueries =
      if (only.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else (SparkEntry.queries ++ OptProbe.probes).toSeq.sortBy(_._1)
        .filter { case (n, _) => only(n) }
    benchQueries
      .foreach { case (name, fn) =>
        val lBefore = load1()
        val ok = ArrayBuffer[Double]()
        val okProf = ArrayBuffer[RunProfile]()
        val bad = ArrayBuffer[String]()
        // one run; the artifact keeps the profile of the MIN-time run
        // (steady state — run 1's extra cache-fill jobs are the warm-up
        // the min already excludes)
        def attempt(): Unit =
          try { val p = measure(spark, profiler, fn, sfDir); ok += p.secs; okProf += p }
          catch {
            case e: Throwable =>
              bad += s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          }
        attempt(); attempt()
        // >3x disagreement between the two runs: one of them is
        // contaminated — take a third sample for evidence. The value
        // is then the MIN of all samples, not the median: r15 idle
        // forensics (BENCH_TREND_r15.txt) showed the >3x trigger fires
        // almost exclusively because run 1 paid codegen/cache builds,
        // and the median of [fast, comparable, codegen-heavy] returns
        // the SLOWER of the two comparable runs — at true idle
        // (foreign_mean 0.003) this alone stamped warm-fast queries
        // 2-3x over anchor. Wall noise is one-sided (contention and
        // cold caches only ever inflate; the work cannot run faster
        // than the code allows), so min is the sound estimator — the
        // same axiom every retry path here already states.
        if (ok.size == 2 && ok.max / math.max(ok.min, 1e-9) > 3.0) attempt()
        var value = if (ok.nonEmpty) ok.min else Double.NaN
        // Reference-guided retry: a reading far above the committed
        // clean value is almost certainly ambient load (code changes
        // land with their own updated reference). Retries are spaced
        // so a short contention burst can pass; min is sound because
        // contention only inflates.
        reference.get(name).foreach { ref =>
          var extra = 0
          while (!value.isNaN && value > 5 * ref && extra < 2) {
            Thread.sleep(500); attempt(); extra += 1
            if (ok.nonEmpty) value = math.min(value, ok.last)
          }
          if (!value.isNaN && value > 5 * ref) suspects += ((name, value, ref))
        }
        val lAfter = load1()
        if (ok.nonEmpty) {
          timings(name) = value
          qProf(name) = okProf(ok.indexOf(value))
          if (bad.nonEmpty) errors += name -> s"flaky (${bad.size} failed attempt(s)): ${bad.head}"
        } else errors += name -> bad.head
        allRuns(name) = ok
        loads += name -> (lBefore, lAfter)
        // operators cache internal views (signatures, prepared vectors);
        // drop them between queries so the ~120x2 runs don't accumulate
        // executor storage until LRU eviction. releaseAll unpersists the
        // registered operator caches; clearCache stays as the catch-all.
        graft.operators.OperatorCaches.releaseAll()
        spark.catalog.clearCache()
      }
    // ONE extra timed run of an already-measured query, shared by the
    // targeted requeue and the run-level drift gate: min-folds into
    // timings (contention only inflates, so min is sound), appends to
    // the per-query run log, releases operator caches; a NON-fatal
    // error keeps the surviving reading (fatal ones — OOM, interrupt
    // — propagate: continuing the suite in a broken JVM would record
    // garbage as truth).
    def remeasure(name: String,
                  fn: (SparkSession, String) => DataFrame): Unit = {
      try {
        val p = measure(spark, profiler, fn, sfDir)
        allRuns(name) += p.secs
        if (p.secs < timings(name)) { timings(name) = p.secs; qProf(name) = p }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] remeasure $name failed, " +
            s"keeping prior reading: $e")
      }
      graft.operators.OperatorCaches.releaseAll()
      spark.catalog.clearCache()
    }
    // == Targeted end-of-suite requeue (round-12 verdict item 3) ==
    // A query still reading ≥2x its committed reference after the
    // in-flight retries gets ONE more run here, after whatever
    // contended with it has had the rest of the suite to pass.
    // Cheaper than the full drift-gate pass and catches localized
    // contention bursts the run-level gate's 1.25x total threshold
    // cannot see.
    benchQueries.foreach { case (name, fn) =>
      if (timings.contains(name) &&
          reference.get(name).exists(r => timings(name) > 2 * r))
        remeasure(name, fn)
    }
    val failed = errors.result()
    // == Run-level drift gate (round-6 verdict item 1) ==
    // The per-query 5x suspect threshold is blind to UNIFORM ambient
    // drift: observed round 6, every query ~1.35x slow under ~6 cores
    // of ambient load, one suspect flagged, artifact presented as
    // clean. Judge the RUN against the committed reference: over
    // queries both sides know, effective-total / reference-total
    // (per-query suspects substituted, same rule as clean_total). If
    // the ratio exceeds 1.25x, ONE full extra pass re-measures every
    // query (contention only inflates, so min is sound); a run still
    // above the gate after that pass is stamped "run_suspect": true —
    // the loadavg evidence is already in "load"/"load_start".
    // end-of-run calibration sample: the JVM is fully warm and idle
    // between queries, so min(start, end) is the host's real speed
    val cpu1t = math.min(cpu1tStart, cpuCalibration(cpus)._1)
    val cpuAlloc = math.min(cpuAllocStart, allocCalibration())
    // a slower host inflates every query by ~the calibration ratio;
    // never scale BELOW 1 (a faster host must not excuse a regression)
    val hostFactor =
      hostFactorOf(cpu1t, refCpu1t, cpuAlloc, loadRefCpuAlloc(refPath))
    val refJoint = timings.keys.filter(reference.contains).toSeq
    val refJointTotal = refJoint.map(reference).sum
    def effective(k: String): Double = {
      val v = timings(k); val r = reference(k)
      if (v > 5 * r) r else v
    }
    def driftNow(): Double =
      if (refJoint.isEmpty || refJointTotal <= 0) 1.0
      else refJoint.map(effective).sum / refJointTotal
    var runRetried = false
    if (driftNow() / hostFactor > 1.25) {
      runRetried = true
      benchQueries.foreach { case (name, fn) =>
        if (timings.contains(name)) remeasure(name, fn)
      }
    }
    val runDrift = driftNow()
    val runDriftNorm = runDrift / hostFactor
    // stop the co-tenancy sampler only after the drift-gate pass and
    // requeues — a tenant arriving during the remedial passes counts
    val foreignSamples = foreignSampler.finish()
    val foreignMean =
      if (foreignSamples.isEmpty) 0.0
      else foreignSamples.sum / foreignSamples.size
    val foreignPeak = if (foreignSamples.isEmpty) 0.0 else foreignSamples.max
    val midrunBreach = foreignBreach(foreignSamples, foreignMax)
    val runSuspect = (runRetried && runDriftNorm > 1.25) || midrunBreach
    // recompute per-query suspects from FINAL values: the drift-gate
    // pass may have produced a clean reading for a flagged query
    val suspectList = suspects.result()
      .map { case (k, _, ref) => (k, timings(k), ref) }
      .filter { case (_, v, ref) => v > 5 * ref }
    val results = timings.toSeq
    val loadEnd = load1()
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def suspectJson(list: Seq[(String, Double, Double)]): ObjectNode =
      jsonObject(list.map { case (k, v, ref) =>
        k -> jsonObject("value" -> r3(v), "ref" -> ref) }: _*)
    val defaultPar = spark.sparkContext.defaultParallelism
    def perQuery(f: RunProfile => Any): ObjectNode =
      jsonObject(qProf.toSeq.map { case (k, p) => k -> f(p) }: _*)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // total with suspect readings replaced by their committed reference
    // values — what this commit measures once ambient load is excluded
    val suspectNames = suspectList.map(_._1).toSet
    val cleanTotal = results.map { case (k, v) =>
      if (suspectNames(k)) reference(k) else v }.sum
    val artifact = jsonObject(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> jsonObject(results: _*),
      "cpus" -> cpus, "default_parallelism" -> defaultPar,
      "jobs" -> perQuery(_.jobs), "tasks" -> perQuery(_.tasks),
      "stages" -> perQuery(_.stages),
      "top_stages" -> perQuery(_.top.map(st => jsonObject("sec" -> st.sec,
        "tasks" -> st.tasks, "site" -> st.site, "scope" -> st.scope))),
      "executor_run_s" -> perQuery(_.execRunMs / 1000.0),
      "executor_cpu_s" -> perQuery(p => r3(p.execCpuNs / 1e9)),
      "runs" -> jsonObject(allRuns.toSeq.map { case (k, rs) =>
        k -> rs.toSeq.map(r3) }: _*),
      "load" -> jsonObject(loads.result().map { case (k, (a, b)) =>
        k -> Seq(a, b) }: _*),
      "load_start" -> loadStart, "load_end" -> loadEnd,
      "suspect" -> suspectJson(suspectList),
      "clean_total" -> r3(cleanTotal), "cpu_1t" -> r3(cpu1t),
      "cpu_mt" -> r3(cpuMt), "cpu_alloc" -> r3(cpuAlloc),
      "host_factor" -> r3(hostFactor), "run_drift" -> r3(runDrift),
      "run_drift_norm" -> r3(runDriftNorm), "run_retried" -> runRetried,
      "run_suspect" -> runSuspect, "invalid_load" -> invalidLoad,
      "foreign_mean" -> r3(foreignMean), "foreign_peak" -> r3(foreignPeak),
      "foreign_n" -> foreignSamples.size,
      "midrun_load_breach" -> midrunBreach,
      "errors" -> jsonObject(failed: _*), "failed" -> failed.size,
      "sf" -> sfDir, "methodology" -> Methodology)
    writeJson(outPath, artifact)
    spark.stop()
    // The driver captures only the last 2000 BYTES of stdout (BENCH_r03
    // "tail" is 2000 chars and starts mid-line, so the full per-query
    // map never parses). Print a COMPACT line — total + the slowest N
    // queries at 3 dp — guaranteed to fit the capture window; the
    // complete map lives in the file written above.
    def compactLine(n: Int): String = mapper.writeValueAsString(jsonObject(
      "metric" -> "total", "value" -> r3(total), "unit" -> "sec",
      "queries" -> jsonObject(results.sortBy(-_._2).take(n)
        .map { case (k, v) => k -> r3(v) }: _*),
      "queries_run" -> results.size, "cpus" -> cpus,
      "default_parallelism" -> defaultPar,
      "suspect" -> suspectJson(suspectList.take(n)),
      "clean_total" -> r3(cleanTotal), "cpu_1t" -> r3(cpu1t),
      "cpu_alloc" -> r3(cpuAlloc), "host_factor" -> r3(hostFactor),
      "run_drift" -> r3(runDrift), "run_drift_norm" -> r3(runDriftNorm),
      "run_suspect" -> runSuspect, "invalid_load" -> invalidLoad,
      "foreign_mean" -> r3(foreignMean), "foreign_peak" -> r3(foreignPeak),
      "midrun_load_breach" -> midrunBreach, "load_start" -> loadStart,
      "load_end" -> loadEnd, "failed" -> failed.size, "sf" -> sfDir,
      "full_results" -> outPath))
    // hard guarantee the line fits the driver's capture window even if
    // query names grow: shrink the slowest-N list until it does
    val compact = (20 to 0 by -5).map(compactLine).find(_.length <= 1800)
      .getOrElse(compactLine(0))
    // last stdout line, bare (build.sbt sets run/outputStrategy :=
    // StdoutOutput so sbt does not prefix it with [info])
    println(compact)
    if (failed.nonEmpty) sys.exit(2)
  }
}
