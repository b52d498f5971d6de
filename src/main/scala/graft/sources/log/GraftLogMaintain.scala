package graft.sources.log

import java.io.File

/** Storage-side log maintenance — the Kafka `cleanup.policy` surface
  * the reference's topics depend on (scripts/setup/create-topics.sh:
  * 101,111: `cleanup.policy=compact` for the profile topics,
  * time-based retention on the event topics):
  *
  *   - '''delete''': drop whole segments from the FRONT of a partition
  *     once they age past `retention.ms` (oldest record older than the
  *     horizon... Kafka keys on the segment's largest timestamp — so do
  *     we) or once the partition exceeds `retention.bytes`. Offsets
  *     never renumber; the log-start watermark advances (`_bounds.json`)
  *     and `earliest` resolves past the deleted range.
  *   - '''compact''': rewrite a partition to the latest record per key,
  *     each record keeping its ORIGINAL offset/timestamp in a sparse
  *     `.cseg` segment — the changelog-topic shape behind
  *     [[GraftLog.latestByKey]]. Null-key records are retained as-is
  *     (they have no compaction identity); zero-length values are
  *     Kafka's tombstones and survive compaction by default so readers
  *     can observe deletes (`dropTombstones = true` is the
  *     delete.retention expiry analog).
  *
  * Crash-safety: compaction publishes the merged `.cseg` FIRST (readers
  * shadow covered segments — [[GraftLogFormat.PartitionView]]) and deletes
  * the inputs second; retention deletes oldest-first AFTER advancing
  * the bounds marker, so a crash leaves at worst extra-but-unreadable
  * files, never a hole. Both operations are per-partition and
  * O(partition data) — on a real deployment they run where the data
  * lives (the broker role), exactly like Kafka's log cleaner; nothing
  * here is on any query's hot path.
  */
object GraftLogMaintain {

  /** Delete whole expired/oversized segments from the front of every
    * partition. Returns the new per-partition log-start offsets.
    *
    *   - `retentionMicros`: a segment is expired when its LARGEST
    *     record timestamp is older than `nowMicros - retentionMicros`
    *     (Kafka's `retention.ms` rule).
    *   - `retentionBytes`: delete oldest segments while the partition's
    *     on-disk byte total exceeds the cap (Kafka's `retention.bytes`).
    *   - `capEnds`: never delete a segment reaching past this offset
    *     (the streaming `commit()` passes its committed offsets so
    *     retention lags the consumer group driving it — stricter than
    *     Kafka, which deletes under lagging consumers' feet).
    */
  def applyRetention(dir: String,
                     retentionMicros: Option[Long] = None,
                     retentionBytes: Option[Long] = None,
                     nowMicros: Long = System.currentTimeMillis() * 1000L,
                     capEnds: Map[Int, Long] = Map.empty): Map[Int, Long] = synchronized {
    (0 until GraftLogFormat.readPartitions(dir)).map { p =>
      val v = GraftLogFormat.view(dir, p)
      val segs = v.readable
      val cap = capEnds.getOrElse(p, Long.MaxValue)

      // time rule: expired prefix (stop at the first surviving segment
      // so at most the expired prefix is scanned for max-ts; scans are
      // memoized — segments are immutable once published, so the
      // per-file max timestamp never changes and a streaming commit()
      // that checks retention every micro-batch pays the head scan
      // once, not per batch)
      val horizon = retentionMicros.map(nowMicros - _)
      val timeExpired = horizon match {
        case None => Set.empty[File]
        case Some(h) =>
          segs.takeWhile(s => s.end <= cap && maxTsOf(s) < h).map(_.file).toSet
      }

      // size rule: keep deleting oldest while over the byte cap
      val sizeExpired = retentionBytes match {
        case None => Set.empty[File]
        case Some(capB) =>
          var total = segs.map(_.file.length()).sum
          segs.takeWhile { s =>
            val drop = total > capB && s.end <= cap
            if (drop) total -= s.file.length()
            drop
          }.map(_.file).toSet
      }

      val doomed = segs.takeWhile(s => timeExpired(s.file) || sizeExpired(s.file))
      if (doomed.nonEmpty) {
        val newStart = doomed.last.end
        // watermark first, files second: a crash in between leaves
        // readable-but-ignored files, not offsets that regress
        GraftLogFormat.writeBounds(dir, p, newStart, v.end)
        // shadowed duplicates inside the deleted range go too (the
        // view's listing holds them: a segment published since then
        // starts at or past the end, and the cleaner holds this lock);
        // evict each deleted file's max-ts memo entry so a long-running
        // stream's retention-on-commit never grows the driver-side map
        // past the LIVE segment count
        v.all.filter(_.end <= newStart).foreach(delete)
        p -> newStart
      } else p -> v.start
    }.toMap
  }

  /** Per-file max record timestamp, memoized on absolute path —
    * sound because published segment files are immutable (tmp →
    * atomic rename; never appended). The broker-metadata analog of
    * Kafka's per-segment largestTimestamp.
    */
  private val maxTsMemo = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def maxTsOf(s: GraftLogFormat.Segment): Long =
    maxTsMemo.computeIfAbsent(s.file.getAbsolutePath, _ =>
      GraftLogFormat.readEntries(s)
        .foldLeft(Long.MinValue)((m, e) => math.max(m, e._2.tsMicros)))

  private final class BytesKey(val a: Array[Byte]) {
    override def hashCode(): Int = java.util.Arrays.hashCode(a)
    override def equals(o: Any): Boolean = o match {
      case b: BytesKey => java.util.Arrays.equals(a, b.a)
      case _ => false
    }
  }

  /** Kafka's `min.cleanable.dirty.ratio` default: a commit-hook
    * compaction runs only when at least this fraction of a partition's
    * bytes is uncompacted, which amortizes cleaner work to O(bytes
    * written), never O(live keys) per micro-batch.
    */
  private[graft] val MinDirtyRatio = 0.5

  /** Fraction of a partition's on-disk bytes sitting in segments NOT
    * yet compacted (dense, or sparse-but-shadowed leftovers) — the
    * Kafka dirty-ratio gate, from file metadata only.
    */
  private def dirtyRatio(v: GraftLogFormat.PartitionView): Double = {
    val total = v.all.map(_.file.length()).sum
    if (total == 0L) 0.0
    else {
      val clean = v.readable.filter(_.sparse).map(_.file.length()).sum
      (total - clean).toDouble / total
    }
  }

  private def delete(s: GraftLogFormat.Segment): Unit = {
    s.file.delete()
    maxTsMemo.remove(s.file.getAbsolutePath)
  }

  /** Compact one partition to the latest record per key (original
    * offsets kept, sparse segment), from one listing of it. No-op on
    * an empty partition, on one already fully compacted with nothing
    * new, or when its dirty ratio is under `minDirtyRatio` (0 for an
    * explicit compaction, [[MinDirtyRatio]] on the commit hook).
    */
  private[graft] def compactPartition(dir: String, p: Int,
                                      dropTombstones: Boolean,
                                      minDirtyRatio: Double): Unit = synchronized {
    val v = GraftLogFormat.view(dir, p)
    if (dirtyRatio(v) < minDirtyRatio) return
    val segs = v.readable
    // the sweep after publish deletes every listed file the merged
    // segment shadows: this run's inputs and the leftovers of a
    // previously crashed compaction (segments published since the
    // listing start at or past its end, so none of them is covered)
    def sweep(cover: GraftLogFormat.Segment): Unit =
      v.all.foreach(s => if (cover.covers(s)) delete(s))
    if (segs.isEmpty) return
    if (segs.size == 1 && segs.head.sparse && !dropTombstones) {
      // nothing to merge — but a previous run may have crashed between
      // publish and input delete; reclaim anything this cseg shadows
      sweep(segs.head)
      return
    }
    val base = segs.head.base
    val endX = segs.last.end

    // latest offset per key, one streaming pass in offset order;
    // null-key records pass through untouched. The map is O(live keys
    // in this partition) on the process heap — the broker-role
    // cleaner's working set, same bound as Kafka's log cleaner (its
    // dedup buffer is likewise memory-sized and it compacts in chunks
    // when keys exceed it); a partition whose live-key set outgrows
    // the heap needs more partitions, exactly as on a real broker
    val latest = new java.util.HashMap[BytesKey, (Long, GraftLogFormat.Record)]()
    val nullKeyed = scala.collection.mutable.ArrayBuffer.empty[(Long, GraftLogFormat.Record)]
    segs.iterator.flatMap(GraftLogFormat.readEntries).foreach { case (off, r) =>
      if (r.key == null) nullKeyed += ((off, r))
      else latest.put(new BytesKey(r.key), (off, r))
    }
    import scala.collection.JavaConverters._
    val survivors = (nullKeyed.iterator ++ latest.values.asScala.iterator)
      .filter { case (_, r) => !dropTombstones || r.value.length > 0 }
      .toIndexedSeq.sortBy(_._1)

    val tmp = GraftLogFormat.newTmpFile(dir)
    val w = new GraftLogFormat.SegmentWriter(tmp, sparse = true)
    survivors.foreach { case (off, r) => w.appendAt(off, r.key, r.value, r.tsMicros) }
    w.close()
    val name = GraftLogFormat.csegName(base, endX, survivors.size)
    val dst = new File(new File(dir, s"p=$p"), name)
    // publish first (shadows the inputs), delete the inputs second
    java.nio.file.Files.move(tmp.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    sweep(GraftLogFormat.Segment(dst, base, survivors.size, sparse = true, endX = endX))
  }

  /** Compact every partition of the log. */
  def compact(dir: String, dropTombstones: Boolean = false): Unit =
    (0 until GraftLogFormat.readPartitions(dir))
      .foreach(p => compactPartition(dir, p, dropTombstones, minDirtyRatio = 0.0))

  /** First offset in partition `p` whose record timestamp is >=
    * `tsMicros`, or the end offset if every record is older — the
    * KafkaConsumer.offsetsForTimes contract behind
    * `startingTimestamp`. Linear in the partition here; a broker
    * serves it from its time index, and nothing downstream depends on
    * more than the (partition → offset) answer. Each segment's
    * iterator is explicitly closed when the scan short-circuits
    * mid-segment (exhaustion-only close would leak the stream).
    */
  def offsetForTimestamp(dir: String, p: Int, tsMicros: Long): Long = {
    val v = GraftLogFormat.view(dir, p)
    v.readable.foreach { s =>
      val it = GraftLogFormat.readEntries(s)
      try {
        while (it.hasNext) {
          val (off, r) = it.next()
          if (r.tsMicros >= tsMicros) return off
        }
      } finally it.close()
    }
    v.end
  }

  /** Per-partition [[offsetForTimestamp]] across the log. */
  def offsetsForTimestamp(dir: String, tsMicros: Long): Map[Int, Long] =
    (0 until GraftLogFormat.readPartitions(dir))
      .map(p => p -> offsetForTimestamp(dir, p, tsMicros)).toMap
}
