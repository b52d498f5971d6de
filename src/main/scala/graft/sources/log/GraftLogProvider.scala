package graft.sources.log

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read/readStream.format("graftlog")` — a DSv2 source with the
  * Kafka source's data model and semantics, executable in-sandbox:
  *
  *   - fixed read schema (key, value, partition, offset, timestamp) —
  *     the Kafka wire projection the reference consumes
  *     (FraudDetectionJob.java:141-157);
  *   - per-partition monotone offsets; `startingOffsets` =
  *     earliest | latest | {"0": 12, ...} exactly as the Kafka option;
  *   - micro-batch planning = one InputPartition per log partition per
  *     offset range — reader parallelism is the log's partition count,
  *     as on a real broker;
  *   - admission control: `maxRecordsPerTrigger` distributes a row
  *     budget across partitions proportionally to their backlog (the
  *     maxOffsetsPerTrigger contract);
  *   - offsets checkpoint/restore through `deserializeOffset`, so
  *     stop/restart resumes exactly where the checkpoint says.
  *
  * The same scan also serves batch reads (`spark.read`), with optional
  * `startingOffsets`/`endingOffsets` bounds, mirroring the Kafka batch
  * read surface.
  */
final class GraftLogProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLogTable.ReadSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new GraftLogTable(GraftLogOptions(properties.asScala.toMap))
}

final case class GraftLogOptions(all: Map[String, String]) {
  private def get(k: String): Option[String] =
    all.collectFirst { case (kk, v) if kk.equalsIgnoreCase(k) => v }
  // `path` straight from reader/writer options; `location` is how the
  // session catalog carries OPTIONS(path ...) of a CREATE TABLE ...
  // USING graftlog through its CatalogTable storage descriptor —
  // which also URI-qualifies the value (file:/x), so strip the local
  // scheme back to a filesystem path
  lazy val dir: String = get("path").orElse(get("location"))
    .map(p => p.stripPrefix("file://").stripPrefix("file:"))
    .getOrElse(throw new IllegalArgumentException(
      "graftlog requires option 'path' (the log root directory)"))
  val partitions: Int = get("log.partitions").map(_.toInt).getOrElse(4)
  val endingOffsets: String = get("endingOffsets").getOrElse("latest")
  val maxRecordsPerTrigger: Option[Long] = get("maxRecordsPerTrigger").map(_.toLong)
  /** First offset with record ts >= this (micros) — the
    * offsetsForTimes start position; mutually exclusive with an
    * explicit startingOffsets.
    */
  val startingTimestamp: Option[Long] = get("startingTimestamp").map(_.toLong)
  if (startingTimestamp.isDefined && get("startingOffsets").isDefined)
    throw new IllegalArgumentException(
      "set either startingOffsets or startingTimestamp, not both")
  /** Kafka cleanup.policy analog: "delete" honors retention.* on
    * streaming commit; "compact" runs key compaction on commit;
    * default none (infinite log, maintenance by explicit call).
    * Tokens are validated like Kafka's config parser — a typo
    * ("compacted", "deletes") is a hard error, not a silent no-op
    * that quietly skips all maintenance.
    */
  val cleanupPolicy: Set[String] = {
    val tokens = get("cleanup.policy")
      .map(_.toLowerCase.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val bad = tokens -- GraftLogOptions.Policies
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"unknown cleanup.policy token(s) ${bad.mkString(", ")}; " +
        s"valid: ${GraftLogOptions.Policies.mkString(", ")}")
    tokens
  }
  val retentionMs: Option[Long] = get("retention.ms").map(_.toLong)
  val retentionBytes: Option[Long] = get("retention.bytes").map(_.toLong)
  // retention knobs only act under cleanup.policy=delete; a policy set
  // WITHOUT "delete" alongside retention.* is the misconfiguration
  // Kafka rejects at validation time (an EMPTY policy stays legal:
  // that is the explicit-call maintenance mode, where applyRetention
  // is invoked directly)
  if (cleanupPolicy.nonEmpty && !cleanupPolicy("delete") &&
      (retentionMs.isDefined || retentionBytes.isDefined))
    throw new IllegalArgumentException(
      "retention.ms/retention.bytes require cleanup.policy to include 'delete'")

  /** The one start-offset resolver, shared by the batch scan and the
    * micro-batch stream: `startingTimestamp` positions each partition
    * at its first record at-or-after T; otherwise `startingOffsets`
    * (earliest | latest | JSON map), where an unset option means
    * earliest for a batch read and latest for a stream — the Kafka
    * source's defaults.
    */
  private[graft] def startOffsets(batch: Boolean): Map[Int, Long] =
    startingTimestamp match {
      case Some(ts) => GraftLogMaintain.offsetsForTimestamp(dir, ts)
      case None => offsets("startingOffsets",
        get("startingOffsets").getOrElse(if (batch) "earliest" else "latest"))
    }

  /** The batch read's `endingOffsets` (earliest | latest | JSON map). */
  private[graft] def endOffsets: Map[Int, Long] = offsets("endingOffsets", endingOffsets)

  private def offsets(option: String, spec: String): Map[Int, Long] =
    spec.trim.toLowerCase match {
      // "earliest" = the log-start watermark, which retention advances
      // past deleted segments (0 on an untruncated log)
      case "earliest" => GraftLogFormat.startOffsets(dir)
      case "latest" => GraftLogFormat.endOffsets(dir)
      case j if j.startsWith("{") => GraftLogOffset.parse(j).ends
      case other => throw new IllegalArgumentException(s"bad $option: $other")
    }
}

object GraftLogOptions {
  private[log] val Policies = Set("compact", "delete")
}

object GraftLogTable {
  /** Kafka-parity projection (minus broker-only topic metadata). */
  val ReadSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))
}

final class GraftLogTable(opts: GraftLogOptions)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graftlog(${opts.dir})"
  override def schema(): StructType = GraftLogTable.ReadSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // table-level properties (catalog DDL) under scan-time options
    val merged = GraftLogOptions(opts.all ++ options.asScala.toMap)
    () => new GraftLogScan(merged)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftLogWriteBuilder(opts, info)
}

/** Offset = per-partition end offsets, JSON `{"0":12,"1":7}` (sorted
  * keys so serialized equality == semantic equality, which Spark's
  * offset log comparison relies on).
  */
final case class GraftLogOffset(ends: Map[Int, Long]) extends Offset {
  override def json(): String =
    ends.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

object GraftLogOffset {
  private val Entry = """"(\d+)"\s*:\s*(\d+)""".r
  def parse(json: String): GraftLogOffset =
    GraftLogOffset(Entry.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

final class GraftLogScan(opts: GraftLogOptions) extends Scan {
  override def readSchema(): StructType = GraftLogTable.ReadSchema
  override def description(): String = s"GraftLogScan ${opts.dir}"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      GraftLogMicroBatchStream.plan(opts.dir,
        opts.startOffsets(batch = true), opts.endOffsets)
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftLogReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftLogMicroBatchStream(opts)
}

final class GraftLogMicroBatchStream(opts: GraftLogOptions)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  // Trigger.AvailableNow contract (the Kafka source's behavior): the
  // end offsets are FROZEN at query start; admission control still
  // paces the backlog into bounded micro-batches, records produced
  // after the freeze wait for the next run, and the query stops on
  // its own when the frozen ends are reached.
  @volatile private var frozenEnds: Option[Map[Int, Long]] = None
  /** The end offsets the last `latestOffset` read; progress reporting
    * and the lag metrics reuse them instead of listing the log again.
    */
  @volatile private var lastEnds: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenEnds = Some(GraftLogFormat.endOffsets(opts.dir))

  /** Live end offsets, capped at the AvailableNow freeze if one is set. */
  private def currentEnds(): Map[Int, Long] = {
    val live = GraftLogFormat.endOffsets(opts.dir)
    frozenEnds match {
      case Some(f) => live.map { case (p, e) => p -> math.min(e, f.getOrElse(p, 0L)) }
      case None => live
    }
  }

  override def initialOffset(): Offset = GraftLogOffset(opts.startOffsets(batch = false))

  override def deserializeOffset(json: String): Offset = GraftLogOffset.parse(json)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def getDefaultReadLimit: ReadLimit =
    opts.maxRecordsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset =
    GraftLogOffset(lastEnds.getOrElse(currentEnds()))

  /** Consumer lag in records, under the Kafka source's metric names:
    * per partition, the latest end minus the offset just consumed.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): JMap[String, String] =
    (lastEnds, Option(latestConsumedOffset.orElse(null))) match {
      case (Some(ends), Some(consumed)) if ends.nonEmpty =>
        val at = consumed.asInstanceOf[GraftLogOffset].ends
        val behind = ends.map { case (p, e) => e - at.getOrElse(p, 0L) }
        Map("minOffsetsBehindLatest" -> behind.min.toString,
          "maxOffsetsBehindLatest" -> behind.max.toString,
          "avgOffsetsBehindLatest" -> (behind.sum.toDouble / behind.size).toString).asJava
      case _ => java.util.Collections.emptyMap()
    }

  /** Cap the batch at the read limit, spreading the row budget across
    * partitions proportionally to backlog (largest-remainder rounding
    * so the budget is used exactly and every nonempty backlog
    * eventually progresses) — the Kafka maxOffsetsPerTrigger behavior.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val ends = currentEnds()
    lastEnds = Some(ends)
    val from = start.asInstanceOf[GraftLogOffset].ends
    limit match {
      case m: ReadMaxRows =>
        val avail = ends.map { case (p, e) => p -> math.max(0L, e - from.getOrElse(p, 0L)) }
        val total = avail.values.sum
        val budget = m.maxRows()
        if (total <= budget) GraftLogOffset(ends)
        else {
          val quota = avail.toSeq.sortBy(_._1).map { case (p, a) =>
            val exact = a.toDouble * budget / total
            (p, a, exact.toLong, exact - exact.toLong)
          }
          var left = budget - quota.map(_._3).sum
          val granted = quota.sortBy(-_._4).map { case (p, a, q, _) =>
            val extra = if (left > 0 && q < a) { left -= 1; 1L } else 0L
            p -> math.min(a, q + extra)
          }.toMap
          GraftLogOffset(ends.map { case (p, _) =>
            p -> (from.getOrElse(p, 0L) + granted.getOrElse(p, 0L))
          })
        }
      case _ => GraftLogOffset(ends)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    GraftLogMicroBatchStream.plan(opts.dir,
      start.asInstanceOf[GraftLogOffset].ends, end.asInstanceOf[GraftLogOffset].ends)

  override def createReaderFactory(): PartitionReaderFactory = new GraftLogReaderFactory

  /** Streaming progress hook → storage maintenance, per
    * cleanup.policy (Kafka runs these broker-side on their own clock;
    * the commit hook is the sandbox's "broker tick"). Retention is
    * capped at the committed offsets so this stream never deletes
    * data it hasn't processed; compaction needs no cap (a resumed
    * read over a compacted range sees the per-key survivors, exactly
    * the Kafka contract).
    */
  override def commit(end: Offset): Unit = {
    val ends = end.asInstanceOf[GraftLogOffset].ends
    if (opts.cleanupPolicy("delete") &&
        (opts.retentionMs.isDefined || opts.retentionBytes.isDefined))
      GraftLogMaintain.applyRetention(opts.dir,
        retentionMicros = opts.retentionMs.map(_ * 1000L),
        retentionBytes = opts.retentionBytes,
        capEnds = ends)
    if (opts.cleanupPolicy("compact"))
      (0 until GraftLogFormat.readPartitions(opts.dir)).foreach(p =>
        GraftLogMaintain.compactPartition(opts.dir, p, dropTombstones = false,
          minDirtyRatio = GraftLogMaintain.MinDirtyRatio))
  }
  override def stop(): Unit = ()
}

object GraftLogMicroBatchStream {
  def plan(dir: String, start: Map[Int, Long], end: Map[Int, Long]): Array[InputPartition] =
    end.toSeq.sortBy(_._1).flatMap { case (p, e) =>
      val s = start.getOrElse(p, 0L)
      if (e > s) Some(GraftLogInputPartition(dir, p, s, e): InputPartition) else None
    }.toArray
}

final case class GraftLogInputPartition(dir: String, partition: Int,
                                        from: Long, until: Long) extends InputPartition

final class GraftLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftLogInputPartition]
    new PartitionReader[InternalRow] {
      private val it = GraftLogFormat.readRange(p.dir, p.partition, p.from, p.until)
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val (off, r) = it.next()
          row = InternalRow(r.key, r.value, p.partition, off, r.tsMicros)
          true
        } else false
      override def get(): InternalRow = row
      // a scan terminated early (LIMIT pushdown) must release the
      // in-flight segment stream, not leave it to GC
      override def close(): Unit = it.close()
    }
  }
}
