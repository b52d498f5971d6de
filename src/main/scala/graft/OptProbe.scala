package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.BusDrain

import graft.operators._
import graft.sources.Tables

/** Sub-plan timing probes for optimization work: names a STAGE of a
  * declared query (the simhash pass alone, the CC fixpoint alone, one
  * ANN rung alone) so a slow query can be attributed to the stage that
  * owns the time instead of guessed at. Any `SparkEntry` query name is
  * a probe too. Same session and forcing as [[Bench]], but operator
  * caches are released after every run, so each run pays its own
  * cache fills.
  *
  * Per probe it prints cold + min-of-3 steady seconds, the steady
  * run's driver jobs, stages and tasks, and that run's three longest
  * stages (duration, tasks, call site). Stage counts are read after
  * draining the listener bus, so they are complete.
  *
  * `runMain graft.OptProbe <probe>[,<probe>...] [sfDir]`, probe `all`
  * runs every named probe. Diagnostic only: not part of the
  * `Verify`/`Bench` surface.
  */
object OptProbe {
  def probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- cluster-family decomposition (q_dedup_clusters et al.) ----
    "p_simhash" -> ((s, d) => Dedup.simhash(T(s, d)("documents"))),
    "p_sig_reps" -> ((s, d) => sigReps(T(s, d)("documents"))),
    "p_rep_pairs" -> ((s, d) =>
      Dedup.simhashPairs(T(s, d)("documents"))),
    // the connected-components fixpoint over the rep pairs
    "p_cc" -> ((s, d) => {
      val docs = T(s, d)("documents")
      Dedup.connectedComponents(
        Dedup.simhashPairs(docs).select("doc_a", "doc_b"),
        sigReps(docs).select("doc_id"), "doc_id")
    }),
    "p_clusters" -> ((s, d) => Dedup.simhashClusters(T(s, d)("documents"))),
    // ---- containment: prefix-filtered vs direct self-join (the
    // numbers behind Dedup.ContainmentPrefixMinDocs) ----
    "p_containment_prefix" -> ((s, d) => Dedup.containmentPairs(
      T(s, d)("documents"), threshold = 0.8, prefixFilter = Some(true))),
    "p_containment_direct" -> ((s, d) => Dedup.containmentPairs(
      T(s, d)("documents"), threshold = 0.8, prefixFilter = Some(false))),
    // ---- ANN ladder decomposition ----
    "p_prepared" -> ((s, d) =>
      T(s, d)("embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))),
    "p_truth" -> ((s, d) =>
      Similarity.bruteForceTopK(T(s, d)("embeddings"), col("vec_id") < 8, 3)),
    "p_ivf" -> ((s, d) =>
      Similarity.ivfTopK(T(s, d)("embeddings"), col("vec_id") < 8, 3)),
    "p_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(T(s, d)("embeddings"), col("vec_id") < 8, 3)),
    "p_lsh" -> ((s, d) =>
      Similarity.lshTopK(T(s, d)("embeddings"), col("vec_id") < 8, 3))
  )

  private def T(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables(s, dir, name)

  private def sigReps(docs: DataFrame): DataFrame =
    Dedup.simhash(docs).groupBy("simhash").agg(min("doc_id").as("doc_id"))

  /** A completed stage: first line of its call site, seconds, tasks. */
  private final case class StageRun(name: String, sec: Double, tasks: Int)

  def main(args: Array[String]): Unit = {
    val names =
      if (args.isEmpty || args(0) == "all") probes.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val stages = new ConcurrentLinkedQueue[StageRun]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val i = ev.stageInfo
        val sec = (for (a <- i.completionTime; b <- i.submissionTime)
          yield (a - b) / 1000.0).getOrElse(-1.0)
        stages.add(StageRun(i.name.takeWhile(_ != '\n').take(70), sec, i.numTasks))
      }
    })
    names.foreach { n =>
      val fn = probes.getOrElse(n, SparkEntry.queries(n))
      // (seconds, driver jobs, completed stages) of one run
      def once(): (Double, Int, Seq[StageRun]) = {
        jobs.set(0); stages.clear()
        val t0 = System.nanoTime()
        Bench.force(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        BusDrain(sc)
        val run = (t, jobs.get, stages.asScala.toSeq)
        OperatorCaches.releaseAll()
        spark.catalog.clearCache()
        run
      }
      val cold = once()._1
      val (steady, nJobs, ran) = (1 to 3).map(_ => once()).minBy(_._1)
      println(f"OPTPROBE $n cold=$cold%.3f steady=$steady%.3f jobs=$nJobs " +
        f"stages=${ran.size} tasks=${ran.map(_.tasks).sum} sf=$sfDir")
      ran.sortBy(-_.sec).take(3).foreach { st =>
        println(f"  STAGE ${st.sec}%6.2fs tasks=${st.tasks}%-4d ${st.name}")
      }
    }
    spark.stop()
  }
}
