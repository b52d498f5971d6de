package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OperatorCaches

/** Bench's per-query measurement: one listener gives a run's jobs,
  * tasks, stage count, top-3 stages and executor time, read after the
  * bus is drained, for a declared query and for an OptProbe probe.
  */
class BenchProfileSpec extends AnyFunSuite {
  import TestSpark._

  private val sf01 = sf.stripSuffix("sf0.001") + "sf0.01"

  /** Jobs and tasks of the run, counted by a second listener that
    * only sees work tagged with this spec's job group. */
  private final class GroupCounts(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    private def ours(p: java.util.Properties): Boolean =
      p != null && p.getProperty("spark.jobGroup.id") == group
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (ours(e.properties)) jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) tasks.addAndGet(e.stageInfo.numTasks)
  }

  private def profileOf(name: String): Bench.RunProfile = {
    val fn = SparkEntry.queries.getOrElse(name, OptProbe.probes(name))
    val sc = spark.sparkContext
    val profiler = new Bench.Profiler
    val group = s"bench-profile-$name-${System.nanoTime()}"
    val counts = new GroupCounts(group)
    sc.addSparkListener(profiler)
    sc.addSparkListener(counts)
    sc.setJobGroup(group, "BenchProfileSpec")
    try {
      val p = Bench.measure(spark, profiler, fn, sf01)
      assert(p.jobs == counts.jobs.get, s"$name jobs")
      assert(p.tasks == counts.tasks.get, s"$name tasks")
      p
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counts)
      sc.removeSparkListener(profiler)
      OperatorCaches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  for (name <- Seq("q_star_revenue", "p_cc"))
    test(s"Bench profiles $name: stages, top-3 stages, counts of the run") {
      val p = profileOf(name)
      assert(p.secs > 0)
      assert(p.jobs >= 1 && p.stages >= 1, p)
      assert(p.top.size == math.min(3, p.stages), p)
      assert(p.top.map(_.sec) == p.top.map(_.sec).sorted.reverse, p.top)
      assert(p.top.forall(st => st.tasks >= 1 && st.site.trim.nonEmpty),
        p.top)
      assert(p.top.forall(!_.site.contains('\n')), p.top)
      assert(p.execCpuNs > 0 && p.execRunMs >= 0, p)
    }

  test("Bench names the operator scope of each top stage of an AQE query") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val p = profileOf("q_star_revenue")
    assert(p.top.nonEmpty, p)
    assert(p.top.forall(_.scope.trim.nonEmpty), p.top)
    assert(p.top.forall(st => !st.scope.contains(" at ")), p.top)
  }
}
