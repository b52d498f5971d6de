package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A metric as printed: value plus unit. */
final case class Metric(value: Double, unit: String)

/** What one workload run hands back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long,
                         endToEnd: Map[String, Metric],
                         layers: Map[String, Metric])

object Util {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Linear-interpolated quantile (q in [0,1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def writeString(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Listener-side counters of the scheduler layer. Every read drains
  * the listener bus first, so the counts are exact for all work that
  * finished before the read.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val shuffleRead, shuffleWrite, spill, runMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.addAndGet(m.executorRunTime)
    }
  }

  def snap(): Snap = {
    Bus.drain(sc)
    Snap(jobs.get, stages.get, tasks.get, shuffleRead.get, shuffleWrite.get,
      spill.get, runMs.get)
  }
}

final case class Snap(jobs: Long, stages: Long, tasks: Long, shuffleRead: Long,
                      shuffleWrite: Long, spill: Long, runMs: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, runMs - o.runMs)
  def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    spill + o.spill, runMs + o.runMs)
}

object Counters {
  def install(spark: SparkSession): Counters = {
    val c = new Counters(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    c
  }
}

/** In-memory span recorder for traced runs: (name, start, end, parent)
  * around the harness's calls into each layer, written out at exit.
  * Disabled, it only runs the body.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil // open spans; opened on one thread
  private val epochNs = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.getOrElse(0)
      val id = record(name, parent, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans.synchronized { spans(id - 1) = spans(id - 1).copy(endNs = t1) }
      }
    }

  /** Record an already-measured interval (e.g. a micro-batch phase). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) 0
    else spans.synchronized {
      val id = spans.size + 1
      spans += Span(id, name, parent, startNs, endNs)
      id
    }

  /** Self seconds per span name: duration minus child-span coverage. */
  def selfSeconds: Map[String, Double] = spans.synchronized {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  /** Writes {"self_s": {name: seconds}, "spans": [...]} to `path`. */
  def write(path: String): Unit = if (enabled) spans.synchronized {
    val self = selfSeconds.toSeq.sortBy(_._1).map { case (n, v) =>
      s"${Util.jsonString(n)}: ${Util.jsonNumber(v)}" }.mkString("{", ", ", "}")
    val list = spans.map { s =>
      s"""{"id":${s.id},"name":${Util.jsonString(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${Util.jsonNumber((s.startNs - epochNs) / 1e6)},""" +
        s""""end_ms":${Util.jsonNumber((s.endNs - epochNs) / 1e6)}}"""
    }.mkString("[\n", ",\n", "\n]")
    Util.writeString(path, s"""{"self_s": $self,\n"spans": $list}\n""")
  }
}
