package graft.functions

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.BusDrain
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Pipeline observability — the Spark-native replacement for the
  * reference's Prometheus counters
  * (reference: FeatureEnrichmentProcessor.java:27-31,372-388 per-op
  * counters; monitoring/metrics.py). Two mechanisms:
  *
  * - `withPipelineMetrics`: `df.observe` named metrics computed
  *   inline by the running query (no second scan) — row counts,
  *   error rates, score distribution. Works on batch and streaming.
  * - `RateListener`: a StreamingQueryListener capturing per-batch
  *   input rate / processing rate / watermark, the numbers the
  *   reference scraped from Flink's reporter.
  * - `GroupReads`: records read by one job group's stages, the audit
  *   behind the O(batch) maintenance checks.
  */
object Observability {

  def withPipelineMetrics(scored: DataFrame,
                          name: String = "pipeline"): DataFrame =
    scored.observe(name,
      count(lit(1)).as("n_rows"),
      sum(when(col("parse_error"), 1L).otherwise(0L)).as("n_parse_errors"),
      sum(when(col("decision") === "DECLINE", 1L).otherwise(0L))
        .as("n_declined"),
      avg(col("fraud_score")).as("avg_score"),
      max(col("fraud_score")).as("max_score"))

  final case class BatchStats(batchId: Long, numInputRows: Long,
                              inputRowsPerSecond: Double,
                              processedRowsPerSecond: Double)

  /** Collects per-micro-batch throughput stats (bounded queue). */
  final class RateListener(keep: Int = 100) extends StreamingQueryListener {
    private val q = new ConcurrentLinkedQueue[BatchStats]()
    def stats: Seq[BatchStats] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      q.add(BatchStats(p.batchId, p.numInputRows,
        p.inputRowsPerSecond, p.processedRowsPerSecond))
      while (q.size() > keep) q.poll()
    }
  }

  /** Records read (input plus shuffle) by the stages of every job
    * started under job group `group`, summed at stage completion.
    * Listener events arrive on the bus's own thread, so `read` and
    * `reset` drain the bus first: a count read right after an action
    * holds all of that action's stages.
    */
  private[graft] final class GroupReads private (sc: SparkContext, group: String)
      extends SparkListener {
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val records = new AtomicLong(0)
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (js.properties != null &&
          group == js.properties.getProperty("spark.jobGroup.id"))
        js.stageIds.foreach(id => stageIds.add(id))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(e.stageInfo.stageId)) {
        val m = e.stageInfo.taskMetrics
        records.addAndGet(
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
      }
    def read(): Long = { BusDrain(sc); records.get() }
    def reset(): Unit = { BusDrain(sc); records.set(0); stageIds.clear() }
    def close(): Unit = sc.removeSparkListener(this)
  }

  private[graft] object GroupReads {
    /** A counter registered on `sc`; `close` unregisters it. */
    def apply(sc: SparkContext, group: String): GroupReads = {
      val r = new GroupReads(sc, group)
      sc.addSparkListener(r)
      r
    }
  }
}
