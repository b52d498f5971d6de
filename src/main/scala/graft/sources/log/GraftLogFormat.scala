package graft.sources.log

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** On-disk layout + record codec for the graft log — a partitioned,
  * offset-addressable, append-only record log with Kafka's data model
  * (reference: the `payment-transactions` / `fraud-alerts` topics,
  * FraudDetectionJob.java:141-157,162-213), built so the S1/S5 path is
  * executable in-sandbox through the same Spark DSv2 API surface the
  * Kafka connector implements.
  *
  * Layout under a log root directory:
  * {{{
  *   _meta.json                          {"partitions": N}
  *   p=0/<base20>_<count10>.seg          segment: records [base, base+count)
  *   p=1/...
  *   _epochs/<queryId>/<epoch>.manifest  streaming-commit WAL (rename plan)
  *   _epochs/<queryId>/<epoch>.commit    epoch durably applied marker
  *   _tmp/<uuid>.seg                     uncommitted task output
  * }}}
  *
  * Offsets are per-partition record indexes, dense from 0 — a segment
  * file's name carries (baseOffset, recordCount), so the log end offset
  * of a partition is a directory listing, never a data scan. Record
  * framing inside a segment: magic "GL1\n", then per record
  * [klen:int][key][vlen:int][value][ts:long micros]; klen == -1 encodes
  * a null key (Kafka's tombstone-capable key lane).
  *
  * Scale notes: the format is local-fs here, but every operation the
  * planner needs is O(#segments) metadata (list + name parse); readers
  * stream one segment at a time (no whole-partition buffering); and all
  * offset arithmetic lives on the driver exactly as the Kafka source's
  * offset bookkeeping does.
  */
object GraftLogFormat {

  val Magic: Array[Byte] = "GL1\n".getBytes(StandardCharsets.UTF_8)
  val CMagic: Array[Byte] = "GLC\n".getBytes(StandardCharsets.UTF_8)
  val MetaFile = "_meta.json"
  val TmpDir = "_tmp"
  val EpochDir = "_epochs"

  final case class Record(key: Array[Byte], value: Array[Byte], tsMicros: Long)

  // ---- meta -------------------------------------------------------------

  /** Create the log root + meta if absent; return partition count. */
  def ensureMeta(dir: String, partitions: Int): Int = synchronized {
    val meta = new File(dir, MetaFile)
    if (meta.exists()) readPartitions(dir)
    else {
      new File(dir).mkdirs()
      new File(dir, TmpDir).mkdirs()
      val tmp = new File(dir, MetaFile + ".tmp")
      Files.write(tmp.toPath,
        s"""{"partitions": $partitions, "version": 1}""".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp.toPath, meta.toPath, StandardCopyOption.ATOMIC_MOVE)
      (0 until partitions).foreach(p => new File(dir, s"p=$p").mkdirs())
      partitions
    }
  }

  /** Partition count, or 0 if the log does not exist yet. */
  def readPartitions(dir: String): Int = {
    val meta = new File(dir, MetaFile)
    if (!meta.exists()) 0
    else {
      val s = new String(Files.readAllBytes(meta.toPath), StandardCharsets.UTF_8)
      val m = """"partitions"\s*:\s*(\d+)""".r
      m.findFirstMatchIn(s) match {
        case Some(g) => g.group(1).toInt
        case None => throw new IllegalStateException(s"malformed $MetaFile in $dir: $s")
      }
    }
  }

  // ---- segments ---------------------------------------------------------

  /** A segment file. Dense segments (`.seg`, the producer's output)
    * cover offsets [base, base+count) positionally; sparse segments
    * (`.cseg`, compaction's output) cover [base, endX) but hold only
    * `count` surviving records, each framed with its ORIGINAL offset —
    * Kafka's compacted-log shape, where offsets gap but never renumber.
    */
  final case class Segment(file: File, base: Long, count: Long,
                           sparse: Boolean = false, endX: Long = -1L) {
    def end: Long = if (sparse) endX else base + count
    /** seg's whole offset range lies inside this segment's range.
      * Two sparse segments over the IDENTICAL range tie-break on
      * record count: compaction only ever removes records, so the
      * SMALLER count is the newer generation and shadows the larger —
      * without this, a crash between a dropTombstones recompaction's
      * publish and its input delete would leave both readable and
      * double-read every surviving key.
      */
    def covers(s: Segment): Boolean =
      (s ne this) && base <= s.base && s.end <= end &&
        (s.base > base || s.end < end || !s.sparse || s.count > count)
  }

  private val SegName = """(\d{20})_(\d{10})\.seg""".r
  private val CSegName = """(\d{20})_(\d{20})_(\d{10})\.cseg""".r

  def segmentName(base: Long, count: Long): String = f"$base%020d_$count%010d.seg"
  def csegName(base: Long, endX: Long, count: Long): String =
    f"$base%020d_$endX%020d_$count%010d.cseg"

  /** One partition's segment metadata, taken from ONE directory
    * listing plus one `_bounds.json` read: every reader of a
    * partition's segments, start or end uses one view, so a caller
    * never lists the directory twice for one decision.
    *
    *   - `all`: every segment file, including ones shadowed by a
    *     covering compacted segment, sorted by (base, dense-first);
    *   - `readable`: the unshadowed ones. Compaction publishes its
    *     merged segment first and deletes the inputs second, so a
    *     crash between the two steps leaves covered-but-undeleted
    *     files; readers must prefer the covering segment or they
    *     would double-read offsets;
    *   - `start`: the log start offset (Kafka's logStartOffset),
    *     advanced past retention-deleted segments by the bounds
    *     marker, 0 on a never-truncated partition;
    *   - `end`: the next offset to be assigned. Retention may delete
    *     every segment; the bounds marker then keeps the high
    *     watermark from regressing to 0.
    */
  private[graft] final class PartitionView(val all: Seq[Segment],
                                           bounds: Option[(Long, Long)]) {
    val readable: Seq[Segment] = {
      val covers = all.filter(_.sparse)
      all.filterNot(s => covers.exists(c => c.covers(s)))
    }
    val start: Long = bounds.map(_._1).getOrElse(0L)
    val end: Long = math.max(readable.lastOption.map(_.end).getOrElse(0L),
      bounds.map(_._2).getOrElse(0L))
  }

  /** List partition `p` once and read its bounds marker once. */
  private[graft] def view(dir: String, p: Int): PartitionView = {
    val d = new File(dir, s"p=$p")
    val files = Option(d.listFiles()).map(_.toIndexedSeq).getOrElse(IndexedSeq.empty)
    val all = files.flatMap { f =>
      f.getName match {
        case SegName(b, c) => Some(Segment(f, b.toLong, c.toLong))
        case CSegName(b, e, c) =>
          Some(Segment(f, b.toLong, c.toLong, sparse = true, endX = e.toLong))
        case _ => None
      }
    }.sortBy(s => (s.base, s.sparse))
    new PartitionView(all, readBounds(dir, p))
  }

  /** End offsets for every partition of the log. */
  def endOffsets(dir: String): Map[Int, Long] =
    (0 until readPartitions(dir)).map(p => p -> view(dir, p).end).toMap

  /** Start offsets for every partition of the log. */
  def startOffsets(dir: String): Map[Int, Long] =
    (0 until readPartitions(dir)).map(p => p -> view(dir, p).start).toMap

  // ---- partition bounds (retention watermarks) --------------------------

  private def boundsFile(dir: String, p: Int) = new File(dir, s"p=$p/_bounds.json")

  /** (logStart, highWatermark) marker, absent on untruncated partitions. */
  def readBounds(dir: String, p: Int): Option[(Long, Long)] = {
    val f = boundsFile(dir, p)
    if (!f.exists()) None
    else {
      val s = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      val m = """"start"\s*:\s*(\d+)\s*,\s*"end"\s*:\s*(\d+)""".r
      m.findFirstMatchIn(s).map(g => (g.group(1).toLong, g.group(2).toLong))
    }
  }

  def writeBounds(dir: String, p: Int, start: Long, end: Long): Unit = {
    val f = boundsFile(dir, p)
    val t = new File(f.getAbsolutePath + ".tmp")
    Files.write(t.toPath,
      s"""{"start": $start, "end": $end}""".getBytes(StandardCharsets.UTF_8))
    Files.move(t.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- record codec -----------------------------------------------------

  /** Streaming writer for one segment file (tmp path; renamed on
    * commit). `sparse = true` writes the compacted framing: each
    * record prefixed with its explicit original offset (CMagic).
    */
  final class SegmentWriter(path: File, sparse: Boolean = false) {
    private val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    out.write(if (sparse) CMagic else Magic)
    private var n = 0L
    def append(key: Array[Byte], value: Array[Byte], tsMicros: Long): Unit = {
      require(!sparse, "sparse segments need explicit offsets (appendAt)")
      writeRec(key, value, tsMicros)
    }
    def appendAt(offset: Long, key: Array[Byte], value: Array[Byte],
                 tsMicros: Long): Unit = {
      require(sparse, "dense segments carry positional offsets only")
      out.writeLong(offset)
      writeRec(key, value, tsMicros)
    }
    private def writeRec(key: Array[Byte], value: Array[Byte], tsMicros: Long): Unit = {
      if (key == null) out.writeInt(-1)
      else { out.writeInt(key.length); out.write(key) }
      out.writeInt(value.length); out.write(value)
      out.writeLong(tsMicros)
      n += 1
    }
    def count: Long = n
    def close(): Unit = { out.flush(); out.close() }
  }

  /** Iterator over one segment's (offset, record) entries. Streams;
    * closes on exhaustion — callers that STOP EARLY must call
    * [[EntryIterator.close]] (try/finally) or they leak the stream.
    * Dense segments get positional offsets base+i; sparse (compacted)
    * segments read each record's explicit stored offset.
    */
  def readEntries(seg: Segment): EntryIterator = new EntryIterator(seg)

  final class EntryIterator(seg: Segment) extends Iterator[(Long, Record)] {
    private val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(seg.file), 1 << 16))
    locally {
      val expect = if (seg.sparse) CMagic else Magic
      val m = new Array[Byte](expect.length)
      in.readFully(m)
      if (!java.util.Arrays.equals(m, expect))
        throw new IllegalStateException(s"bad magic in segment ${seg.file}")
    }
    private var read = 0L
    private var closed = false
    /** Idempotent early close for callers that short-circuit. */
    def close(): Unit = if (!closed) { in.close(); closed = true }
    override def hasNext: Boolean = {
      val h = read < seg.count
      if (!h && !closed) { in.close(); closed = true }
      h
    }
    override def next(): (Long, Record) = {
      if (!hasNext) throw new NoSuchElementException
      try {
        val off = if (seg.sparse) in.readLong() else seg.base + read
        val klen = in.readInt()
        val key = if (klen < 0) null else { val a = new Array[Byte](klen); in.readFully(a); a }
        val vlen = in.readInt()
        val value = { val a = new Array[Byte](vlen); in.readFully(a); a }
        val ts = in.readLong()
        read += 1
        (off, Record(key, value, ts))
      } catch {
        case _: EOFException =>
          in.close(); closed = true
          throw new IllegalStateException(
            s"segment ${seg.file} truncated: name promises ${seg.count} records, hit EOF at $read")
      }
    }
  }

  /** Iterator over one segment's records (offsets dropped). */
  def readSegment(seg: Segment): Iterator[Record] = readEntries(seg).map(_._2)

  /** Records of one partition in [from, until), streamed segment by
    * segment with whole-segment skip via the (base, count) file names.
    * Returns (offset, record) pairs. The iterator holds at most ONE
    * open segment stream; [[RangeIterator.close]] releases it, so a
    * scan terminated early (e.g. a LIMIT pushdown short-circuiting the
    * DSv2 reader) does not leak the `FileInputStream` until GC.
    */
  def readRange(dir: String, partition: Int, from: Long, until: Long): RangeIterator =
    new RangeIterator(
      view(dir, partition).readable.iterator.filter(s => s.end > from && s.base < until),
      from, until)

  final class RangeIterator(segs: Iterator[Segment], from: Long, until: Long)
      extends Iterator[(Long, Record)] {
    private var cur: EntryIterator = null
    private var pending: (Long, Record) = null
    private def advance(): Unit =
      while (pending == null) {
        if (cur == null || !cur.hasNext) {
          if (cur != null) { cur.close(); cur = null }
          if (!segs.hasNext) return
          cur = readEntries(segs.next())
        } else {
          val e = cur.next()
          if (e._1 >= from && e._1 < until) pending = e
        }
      }
    override def hasNext: Boolean = { advance(); pending != null }
    override def next(): (Long, Record) = {
      advance()
      if (pending == null) throw new NoSuchElementException
      val e = pending; pending = null; e
    }
    /** Idempotent: closes the in-flight segment stream, if any. */
    def close(): Unit = if (cur != null) { cur.close(); cur = null }
  }

  // ---- tmp + rename -----------------------------------------------------

  def newTmpFile(dir: String): File = {
    val t = new File(dir, TmpDir)
    t.mkdirs()
    new File(t, java.util.UUID.randomUUID().toString + ".seg")
  }

  /** Atomically publish a tmp segment as partition p's [base, base+count). */
  def publish(dir: String, tmp: File, p: Int, base: Long, count: Long): File = {
    val pd = new File(dir, s"p=$p")
    pd.mkdirs()
    val dst = new File(pd, segmentName(base, count))
    Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    dst
  }
}
