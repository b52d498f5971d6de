package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.HostLoad

/** Per-run state shared by the workloads: arguments, the session, the
  * tracer, and the set-up clock.
  */
final class RunContext(val seed: Long, val seconds: Int, val tiny: Boolean,
                       val work: String, traced: Boolean) {
  val trace = new Trace(traced)
  var spark: SparkSession = _
  private var counters0: Counters = _
  private var repeatExtraS = 0.0
  private var setupS = Double.NaN

  /** The benchmark's scheduler listener, installed on first use
    * (traced runs only).
    */
  def counters: Counters = {
    if (counters0 == null) counters0 = Counters.install(spark)
    counters0
  }

  /** Run a set-up step several times; set-up time counts its median. */
  def setupRepeat(step: Int => Double): Double = {
    val ts = (0 until (if (tiny) 1 else Main.SetupRepeats)).map(step)
    repeatExtraS += ts.sum - Util.median(ts)
    Util.median(ts)
  }

  /** Set-up ends, timing begins: process start until now. */
  def beginMeasure(): Unit = if (setupS.isNaN) {
    val sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    setupS = sinceStart - repeatExtraS
  }

  def setupSeconds: Double = setupS

  /** The benchmark's directory: `work` is `perfbench/.work/<run>`. */
  def benchDir: File = new File(work).getAbsoluteFile.getParentFile.getParentFile

  def parallelism: Int = Runtime.getRuntime.availableProcessors()

  /** Drain rate of a log on a single core: replaces the session
    * with a local[1] one, so it must be the last step of a run.
    */
  def drainRateOneCore(in: String, rows: Long): Double = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    counters0 = null
    spark = Main.session(1, work)
    val s = new Streams(spark, this)
    s.loadProfiles()
    s.drainRate(in, rows)
  }
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --size full|tiny --work DIR`: runs one workload and prints the
  * result object as the last line of standard output.
  */
object Main {
  val SetupRepeats = 3
  val Workloads = Seq("txn_steady", "query_mix")

  /** Every per-layer metric a traced run prints, with its unit. A layer
    * the workload does not exercise reads 0.
    */
  val LayerUnits: Seq[(String, String)] = Streams.LayerUnits ++ Mix.LayerUnits ++ Seq(
    "trace.overhead_ratio" -> "ratio",
    "host.nproc" -> "count", "host.parallelism" -> "count",
    "host.foreign_mean_cores" -> "cores", "host.foreign_peak_cores" -> "cores")

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "tmp").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val ctx = new RunContext(a("seed").toLong, a("seconds").toInt,
      a.getOrElse("size", "full") == "tiny", a("work"), a.getOrElse("trace", "0") == "1")
    // host record: the CPU other processes take while this run goes
    val host = new HostLoad.Sampler(500L)
    ctx.spark = ctx.trace.span("setup.session") { session(ctx.parallelism, ctx.work) }
    val parallelism = ctx.spark.sparkContext.defaultParallelism
    val outcome = workload match {
      case "query_mix" => new Mix(ctx).run()
      case _ =>
        val s = new Streams(ctx.spark, ctx)
        ctx.trace.span("setup.profiles") { s.loadProfiles() }
        s.steady()
    }
    val (foreignMean, foreignPeak) = host.finish()
    ctx.spark.stop()
    // next to the run's work directory, which run.py deletes
    ctx.trace.write(new File(ctx.benchDir, s".work/trace-$workload-${ctx.seed}.json").getPath)

    val hostRecord = Map(
      "host.nproc" -> Metric(HostLoad.cpus, "count"),
      "host.parallelism" -> Metric(parallelism, "count"),
      "host.foreign_mean_cores" -> Metric(foreignMean, "cores"),
      "host.foreign_peak_cores" -> Metric(foreignPeak, "cores"))
    val unknown = outcome.layers.keySet -- LayerUnits.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: ${unknown.mkString(" ")}")
    val metrics =
      if (ctx.trace.enabled)
        LayerUnits.map { case (n, u) => n -> Metric(0.0, u) }.toMap ++ outcome.layers ++ hostRecord
      else outcome.endToEnd ++ Map(
        "setup_s" -> Metric(ctx.setupSeconds, "s"),
        "peak_rss_mb" -> Metric(Util.peakRssMb(), "MB"))
    // the host record also carries the generator's health, when there is one
    println(json(hostRecord ++ outcome.layers.filter(_._1 == "log.gen_late_ms"), None))
    println(json(metrics, Some(outcome)))
    System.out.flush()
    sys.exit(0)
  }

  private def json(metrics: Map[String, Metric], o: Option[Outcome]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${Util.jsonString(k)}: {\"value\": ${Util.jsonNumber(m.value)}, \"unit\": ${Util.jsonString(m.unit)}}"
    }.mkString("{", ", ", "}")
    o match {
      case Some(out) =>
        s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": $ms}"""
      case None => s"""{"host": $ms}"""
    }
  }
}
