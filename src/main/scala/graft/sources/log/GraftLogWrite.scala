package graft.sources.log

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Write side of the graft log — the Kafka *producer* semantics
  * (reference: FraudDetectionJob.java:162-213, the alert/decision
  * producers with exactly-once delivery):
  *
  *   - accepted write schema: required `value` (binary|string), plus
  *     optional `key` (binary|string), `partition` (int, explicit
  *     routing), `timestamp`;
  *   - routing: explicit partition column wins; else hash(key) mod N
  *     (co-partitioning by key, the Kafka default partitioner
  *     contract); else sticky-by-task round robin;
  *   - tasks write uncommitted tmp segments; the DRIVER assigns base
  *     offsets at commit and atomically renames segments into the
  *     log — the single-arbiter role a broker plays;
  *   - streaming commits are idempotent per (queryId, epochId) via a
  *     manifest write-ahead + commit marker: a replayed epoch (Spark
  *     retries after failure before the marker) re-applies the SAME
  *     rename plan or no-ops, never duplicates — the transactional
  *     producer contract that makes end-to-end exactly-once hold.
  */
final class GraftLogWriteBuilder(opts: GraftLogOptions, info: LogicalWriteInfo)
    extends WriteBuilder {

  private def fieldIdx(name: String, ok: DataType => Boolean): Int = {
    val i = info.schema().fieldNames.indexWhere(_.equalsIgnoreCase(name))
    if (i >= 0 && !ok(info.schema()(i).dataType))
      throw new IllegalArgumentException(
        s"graftlog column '$name' has unsupported type ${info.schema()(i).dataType.simpleString}")
    i
  }

  override def build(): Write = {
    val valueIdx = fieldIdx("value", t => t == BinaryType || t == StringType)
    if (valueIdx < 0)
      throw new IllegalArgumentException(
        s"graftlog write requires a 'value' column (binary or string); got ${info.schema().simpleString}")
    val spec = WriterSpec(opts.dir,
      valueIdx, info.schema()(valueIdx).dataType == StringType,
      keyIdx = fieldIdx("key", t => t == BinaryType || t == StringType),
      keyIsString = {
        val i = info.schema().fieldNames.indexWhere(_.equalsIgnoreCase("key"))
        i >= 0 && info.schema()(i).dataType == StringType
      },
      partIdx = fieldIdx("partition", _ == IntegerType),
      tsIdx = fieldIdx("timestamp", _ == TimestampType),
      partitions = GraftLogFormat.ensureMeta(opts.dir, opts.partitions))
    new GraftLogWriteImpl(spec, info.queryId())
  }
}

final case class WriterSpec(dir: String, valueIdx: Int, valueIsString: Boolean,
                            keyIdx: Int, keyIsString: Boolean,
                            partIdx: Int, tsIdx: Int, partitions: Int)

/** (logPartition, tmpPath, recordCount) per touched log partition,
  * plus the producing task's Spark partition id — commit sorts on it
  * so intra-batch offset order is the DataFrame's partition order,
  * deterministically, not tmp-file UUID order.
  */
final case class SegmentMsg(taskPid: Int,
                            entries: Seq[(Int, String, Long)]) extends WriterCommitMessage

final class GraftLogWriteImpl(spec: WriterSpec, queryId: String) extends Write {
  override def description(): String = s"GraftLogWrite ${spec.dir}"

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
      GraftLogWriterFactory(spec)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      GraftLogCommit.publishAll(spec.dir, GraftLogCommit.flatten(messages))
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftLogCommit.dropTmps(GraftLogCommit.flatten(messages))
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(i: PhysicalWriteInfo): StreamingDataWriterFactory =
      GraftLogWriterFactory(spec)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      GraftLogCommit.commitEpoch(spec.dir, queryId, epochId,
        GraftLogCommit.flatten(messages))
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      GraftLogCommit.dropTmps(GraftLogCommit.flatten(messages))
  }
}

/** One task-writer factory for batch and streaming writes: a task's
  * output is the same tmp segments either way; only the driver-side
  * commit differs.
  */
private[graft] final case class GraftLogWriterFactory(spec: WriterSpec)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftLogDataWriter(spec, partitionId)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Task-side writer: one tmp segment per touched log partition. */
final class GraftLogDataWriter(spec: WriterSpec, sparkPartitionId: Int)
    extends DataWriter[InternalRow] {

  private val writers = scala.collection.mutable.Map.empty[Int, (File, GraftLogFormat.SegmentWriter)]

  private def bytes(row: InternalRow, idx: Int, isString: Boolean): Array[Byte] =
    if (row.isNullAt(idx)) null
    else if (isString) row.getUTF8String(idx).getBytes
    else row.getBinary(idx)

  override def write(row: InternalRow): Unit = {
    val key = if (spec.keyIdx >= 0) bytes(row, spec.keyIdx, spec.keyIsString) else null
    val value = bytes(row, spec.valueIdx, spec.valueIsString)
    if (value == null)
      throw new NullPointerException("graftlog 'value' must not be null")
    val p =
      if (spec.partIdx >= 0 && !row.isNullAt(spec.partIdx)) {
        val ep = row.getInt(spec.partIdx)
        if (ep < 0 || ep >= spec.partitions)
          throw new IllegalArgumentException(
            s"explicit partition $ep out of range [0, ${spec.partitions})")
        ep
      } else if (key != null)
        math.floorMod(MurmurHash3.bytesHash(key, 0x9747b28c), spec.partitions)
      else
        math.floorMod(sparkPartitionId, spec.partitions)
    val ts =
      if (spec.tsIdx >= 0 && !row.isNullAt(spec.tsIdx)) row.getLong(spec.tsIdx)
      else System.currentTimeMillis() * 1000L
    val (_, w) = writers.getOrElseUpdate(p, {
      val f = GraftLogFormat.newTmpFile(spec.dir)
      (f, new GraftLogFormat.SegmentWriter(f))
    })
    w.append(key, value, ts)
  }

  override def commit(): WriterCommitMessage = {
    val entries = writers.toSeq.sortBy(_._1).map { case (p, (f, w)) =>
      w.close(); (p, f.getAbsolutePath, w.count)
    }
    writers.clear()
    SegmentMsg(sparkPartitionId, entries)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (f, w) => w.close(); f.delete() }
    writers.clear()
  }

  override def close(): Unit =
    writers.values.foreach { case (_, w) => w.close() }
}

/** Driver-side commit protocol (single arbiter, like the broker). */
object GraftLogCommit {

  def flatten(messages: Array[WriterCommitMessage]): Seq[(Int, String, Long, Int)] =
    messages.toIndexedSeq.collect { case SegmentMsg(pid, es) =>
      es.map(e => (e._1, e._2, e._3, pid)) }.flatten

  def dropTmps(entries: Seq[(Int, String, Long, Int)]): Unit =
    entries.foreach { case (_, tmp, _, _) => new File(tmp).delete() }

  /** Assign base offsets per partition (stable order: tmp path) and
    * atomically rename every tmp segment into the log.
    */
  def publishAll(dir: String, entries: Seq[(Int, String, Long, Int)]): Seq[(String, Int, Long, Long)] =
    synchronized(planAndPublish(dir, entries, _ => ()))

  /** Plan base offsets (each touched partition continues from its
    * end; same-partition segments in producing-task order), hand the
    * plan to `record` before anything moves (the epoch manifest), then
    * rename every nonempty tmp into the log and drop the empty ones.
    */
  private def planAndPublish(dir: String, entries: Seq[(Int, String, Long, Int)],
                             record: Seq[(String, Int, Long, Long)] => Unit)
      : Seq[(String, Int, Long, Long)] = {
    val ends = scala.collection.mutable.Map.empty[Int, Long]
    val plan = entries.filter(_._3 > 0).sortBy(e => (e._1, e._4, e._2))
      .map { case (p, tmp, count, _) =>
        val base = ends.getOrElseUpdate(p, GraftLogFormat.view(dir, p).end)
        ends(p) = base + count
        (tmp, p, base, count)
      }
    record(plan)
    plan.foreach { case (tmp, p, base, count) =>
      GraftLogFormat.publish(dir, new File(tmp), p, base, count)
    }
    dropTmps(entries.filter(_._3 == 0))
    plan
  }

  /** Idempotent epoch commit. Protocol (all driver-side):
    *
    *   1. marker exists → epoch already durably applied (Spark is
    *      replaying): drop this attempt's tmps, no-op.
    *   2. manifest exists → a previous attempt crashed mid-commit:
    *      re-apply ITS rename plan (skip entries whose final segment
    *      already landed), then marker. If the manifest's tmps are all
    *      gone and nothing landed, the old attempt never wrote data —
    *      discard the stale manifest and plan fresh.
    *   3. fresh: plan offsets, write manifest (atomic move), rename,
    *      drop empty tmps, marker.
    *
    * A crash between any two steps retries into a branch that
    * completes the same plan or discards it wholesale — never a
    * partial double-append.
    */
  def commitEpoch(dir: String, queryId: String, epochId: Long,
                  entries: Seq[(Int, String, Long, Int)]): Unit = synchronized {
    val edir = new File(new File(dir, GraftLogFormat.EpochDir), sanitize(queryId))
    edir.mkdirs()
    val marker = new File(edir, f"$epochId%020d.commit")
    val manifest = new File(edir, f"$epochId%020d.manifest")
    if (marker.exists()) { dropTmps(entries); return }

    if (manifest.exists()) {
      val plan = readManifest(manifest)
      val landed = plan.map { case (_, p, base, count) =>
        new File(new File(dir, s"p=$p"), GraftLogFormat.segmentName(base, count)).exists()
      }
      val tmpsAlive = plan.map { case (tmp, _, _, _) => new File(tmp).exists() }
      if (landed.forall(identity)) {
        touch(marker); dropTmps(entries); return
      } else if (!landed.exists(identity) && !tmpsAlive.exists(identity)) {
        manifest.delete()  // stale plan from an attempt that wrote no data
      } else {
        plan.zip(landed).foreach { case ((tmp, p, base, count), done) =>
          if (!done) {
            val t = new File(tmp)
            if (!t.exists()) throw new IllegalStateException(
              s"epoch $epochId unrecoverable: neither tmp $tmp nor final segment exists")
            GraftLogFormat.publish(dir, t, p, base, count)
          }
        }
        touch(marker)
        val planned = plan.map(_._1).toSet
        dropTmps(entries.filterNot(e => planned.contains(e._2)))
        return
      }
    }

    planAndPublish(dir, entries, writeManifest(manifest, _))
    touch(marker)
  }

  private def sanitize(id: String): String = id.replaceAll("[^A-Za-z0-9._-]", "_")

  private def touch(f: File): Unit =
    Files.write(f.toPath, Array.emptyByteArray)

  private def writeManifest(f: File, plan: Seq[(String, Int, Long, Long)]): Unit = {
    val body = plan.map { case (tmp, p, base, count) => s"$p\t$base\t$count\t$tmp" }
      .mkString("", "\n", "\n")
    val t = new File(f.getAbsolutePath + ".tmp")
    Files.write(t.toPath, body.getBytes(StandardCharsets.UTF_8))
    Files.move(t.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private def readManifest(f: File): Seq[(String, Int, Long, Long)] =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").toIndexedSeq.filter(_.nonEmpty).map { line =>
        val Array(p, base, count, tmp) = line.split("\t", 4)
        (tmp, p.toInt, base.toLong, count.toLong)
      }
}
