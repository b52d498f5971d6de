package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed-state operators — the cases Structured Streaming's
  * declarative surface can't express (SURVEY §2.8):
  *
  * - A6: CountTrigger(10) early-firing high-frequency alerts
  *   (WindowProcessor.java:132-147) — SS has no early-fire trigger
  *   API, so the count threshold lives in flatMapGroupsWithState;
  * - A8: multi-horizon velocity with read-your-writes semantics
  *   (RedisTransactionSink.java:87-135) — state holds a pruned
  *   timestamp ring, each event emits counters *including itself*;
  * - S8: recent-N ring buffer (RedisService.java:296-321).
  *
  * State is bounded per key (pruned by horizon / capped at N), so
  * state-store size scales with |keys|, not |events| — the property
  * that keeps these runnable against an unbounded stream.
  */
object StatefulOps {

  final case class KeyedEvent(key: String, ts: Timestamp, value: Double)

  /** Streaming exact dedup with BOUNDED state: drop repeats of `keys`
    * arriving within the watermark window
    * (`dropDuplicatesWithinWatermark` — state for a key is evicted
    * once the watermark passes it, so state size tracks the window's
    * key arrival rate, not stream history; the S2/S6 idempotency
    * guard for at-least-once Kafka delivery).
    */
  def dedupStream(events: Dataset[KeyedEvent],
                  watermarkDelay: String = "10 minutes")
      : Dataset[KeyedEvent] =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("key")

  // ---- A6: count-triggered high-frequency alerts ----

  final case class FreqAlert(key: String, count: Long, windowStart: Timestamp)
  final case class FreqState(count: Long, windowStartMs: Long)

  /** Emits an alert every `threshold` events per key within a
    * `windowMs` tumbling window (count resets when the window rolls).
    */
  def highFrequencyAlerts(events: Dataset[KeyedEvent], threshold: Int = 10,
                          windowMs: Long = 5 * 60 * 1000): Dataset[FreqAlert] = {
    implicit val se = Encoders.product[FreqState]
    implicit val ae = Encoders.product[FreqAlert]
    events.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[KeyedEvent], st: GroupState[FreqState]) => {
          var s = st.getOption.getOrElse(FreqState(0L, -1L))
          val alerts = scala.collection.mutable.ArrayBuffer.empty[FreqAlert]
          it.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val w = e.ts.getTime / windowMs * windowMs
            s = if (w != s.windowStartMs) FreqState(1L, w)
                else s.copy(count = s.count + 1)
            if (s.count % threshold == 0)
              alerts += FreqAlert(key, s.count, new Timestamp(w))
          }
          st.update(s)
          alerts.iterator
        })
  }

  // ---- A8: streaming multi-horizon velocity ----

  final case class VelocityOut(key: String, ts: Timestamp,
                               n5min: Long, n1h: Long, n24h: Long,
                               amt5min: Double, amt1h: Double, amt24h: Double)
  final case class VelState(events: List[(Long, Double)])

  /** Per event: counters over (t−h, t] for h ∈ {5min, 1h, 24h},
    * including the event itself (the reference's INCR-then-read).
    * State keeps only events within the largest horizon.
    */
  def velocity(events: Dataset[KeyedEvent]): Dataset[VelocityOut] = {
    implicit val se = Encoders.product[VelState]
    implicit val oe = Encoders.product[VelocityOut]
    val H5 = 300000L; val H1 = 3600000L; val H24 = 86400000L
    events.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[KeyedEvent], st: GroupState[VelState]) => {
          var kept = st.getOption.map(_.events).getOrElse(Nil)
          val out = it.toSeq.sortBy(_.ts.getTime).map { e =>
            val t = e.ts.getTime
            kept = ((t, e.value) :: kept).filter(_._1 > t - H24)
            def cnt(h: Long) = kept.count(_._1 > t - h).toLong
            def amt(h: Long) = kept.filter(_._1 > t - h).map(_._2).sum
            VelocityOut(key, e.ts, cnt(H5), cnt(H1), cnt(H24),
              amt(H5), amt(H1), amt(H24))
          }
          st.update(VelState(kept))
          out.iterator
        })
  }

  // ---- sequence model (lstm analog) on the stream ----

  final case class SeqScoreOut(key: String, ts: Timestamp, nRecent: Long,
                               avgRecent: Double, pFraud: Double)
  final case class SeqScoreState(recentScaled: List[Long])

  /** Streaming twin of `ml.DeterministicModels.sequenceScore`: per
    * event, the average of the last ≤5 amounts for the key, clamped
    * into a score. State is the bounded 5-long list of SCALED
    * (×10⁴, HALF_UP away-from-zero — [[scaleAmount]] replicates
    * Catalyst `round`, including negative amounts) amounts, so the
    * average — and therefore the score — is bit-identical to the
    * batch window's scaled-BIGINT sum: (Σscaled / 1e4) / n, the same
    * IEEE op order. Equal-timestamp events within a micro-batch are
    * ordered by (ts, value) — deterministic run-to-run; exact batch
    * parity additionally needs unique per-key timestamps (the batch
    * tiebreak is event_id, which the stream schema doesn't carry)
    * AND in-order arrival ACROSS micro-batches: state is a
    * prepend-only list in arrival order, so a late event (earlier ts
    * landing in a later micro-batch) is folded AFTER newer events and
    * scores against the 5 most-recently-ARRIVED amounts, not the 5
    * most-recent event times — this is the deliberate semantics (the
    * reference's LSTM consumer likewise scores in arrival order,
    * ml-models stream loop), and StreamingSpec pins it with a
    * two-batch out-of-order case. Callers needing event-time order
    * must deliver in order (e.g. watermark + sort upstream) or use
    * the batch window form.
    */
  def sequenceScore(events: Dataset[KeyedEvent]): Dataset[SeqScoreOut] = {
    implicit val se = Encoders.product[SeqScoreState]
    implicit val oe = Encoders.product[SeqScoreOut]
    events.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[KeyedEvent],
         st: GroupState[SeqScoreState]) => {
          val (out, recent) = scoreSequence(key, it,
            st.getOption.map(_.recentScaled).getOrElse(Nil))
          st.update(SeqScoreState(recent))
          out.iterator
        })
  }

  /** One key's micro-batch through the sequence scorer, shared by both
    * state APIs: in (ts, value) order, fold each scaled amount into the
    * last ≤5 and score their average. Returns the outputs and the new
    * state list.
    */
  private def scoreSequence(key: String, rows: Iterator[KeyedEvent],
                            prior: List[Long])
      : (Seq[SeqScoreOut], List[Long]) = {
    var recent = prior
    val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.value)).map { e =>
      recent = (scaleAmount(e.value) :: recent).take(5)
      val n = recent.size.toLong
      val avg = (recent.sum.toDouble / 1.0e4) / n
      SeqScoreOut(key, e.ts, n, avg,
        math.min(math.max(avg / 1000.0, 0.0), 1.0))
    }
    (out, recent)
  }

  /** ×10⁴ scaling with Catalyst `round` semantics — HALF_UP away from
    * zero (JVM `math.round` rounds half toward +∞, which differs on
    * negative .5 boundaries).
    */
  private[streaming] def scaleAmount(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 1.0e4)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** The SAME sequence scorer on Spark 4's arbitrary-state API v2
    * (`transformWithState` + `StatefulProcessor` + typed
    * `ValueState`): the forward-looking form — explicit named state,
    * per-state TTL support, RocksDB-backed (the provider the API
    * requires). Output is identical to [[sequenceScore]]
    * (StreamingSpec pins the three-way parity with the batch window).
    */
  class SeqScoreProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, KeyedEvent, SeqScoreOut] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, ValueState}
    @transient private var recent: ValueState[SeqScoreState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getValueState[SeqScoreState]("recent",
        Encoders.product[SeqScoreState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedEvent],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SeqScoreOut] = {
      val (out, kept) = scoreSequence(key, rows,
        if (recent.exists()) recent.get().recentScaled else Nil)
      recent.update(SeqScoreState(kept))
      out.iterator
    }
  }

  def sequenceScoreV2(events: Dataset[KeyedEvent]): Dataset[SeqScoreOut] = {
    implicit val oe = Encoders.product[SeqScoreOut]
    events.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new SeqScoreProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append)
  }

  // ---- J6: multi-stream correlation ----

  final case class TaggedEvent(key: String, stream: String, ts: Timestamp,
                               payload: Double)
  final case class Correlation(key: String, stream_a: String, stream_b: String,
                               ts_a: Timestamp, ts_b: Timestamp,
                               payload_a: Double, payload_b: Double)
  final case class CorrState(recent: List[(String, Long, Double)])

  /** The reference's `keyBy(user).connect(...).process(CoProcess)`
    * multi-stream correlation (StreamJoiner.java:107-127 — its
    * function class is missing from the repo; intent per SURVEY
    * §2.3/J6): union the tagged streams, key by user, and emit a
    * correlation whenever events from two DIFFERENT streams land
    * within `windowMs` of each other. State keeps only events newer
    * than (max-seen − windowMs) per key — bounded.
    */
  def correlate(events: Dataset[TaggedEvent],
                windowMs: Long = 5 * 60 * 1000): Dataset[Correlation] = {
    implicit val se = Encoders.product[CorrState]
    implicit val oe = Encoders.product[Correlation]
    events.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[TaggedEvent], st: GroupState[CorrState]) => {
          var recent = st.getOption.map(_.recent).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[Correlation]
          it.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            recent.foreach { case (s, ts2, p2) =>
              if (s != e.stream && t - ts2 <= windowMs)
                out += Correlation(key, s, e.stream,
                  new Timestamp(ts2), e.ts, p2, e.payload)
            }
            recent = ((e.stream, t, e.payload) :: recent)
              .filter(_._2 > t - windowMs)
          }
          st.update(CorrState(recent))
          out.iterator
        })
  }

  // ---- Markov transition stream (Behavior.eventTransitions twin) ----

  final case class SeqEvent(key: String, eventId: Long, eventType: String,
                            ts: Timestamp)
  final case class TransitionOut(key: String, from_type: String,
                                 to_type: String)
  final case class LastState(tsMs: Long, eventId: Long, eventType: String)

  /** Streaming twin of `Behavior.eventTransitions`: per-key state is
    * ONE (last event) record — O(|keys|) total, the minimal possible
    * state for a first-order chain — and each arriving event emits
    * its (from, to) pair. Within a micro-batch events sort by
    * (ts, eventId), the batch operator's exact tiebreak, so
    * single-batch input reproduces the batch transition multiset
    * row-for-row (StreamingSpec pins it). Cross-batch LATE arrivals
    * chain in ARRIVAL order — the same documented divergence as
    * [[sequenceScore]]: an event-time re-sort would need unbounded
    * state, which is the trade this family refuses by design.
    */
  def transitions(events: Dataset[SeqEvent]): Dataset[TransitionOut] = {
    implicit val se = Encoders.product[LastState]
    implicit val oe = Encoders.product[TransitionOut]
    events.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[SeqEvent], st: GroupState[LastState]) => {
          var last = st.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[TransitionOut]
          it.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
            last.foreach(l => out += TransitionOut(key, l.eventType, e.eventType))
            last = Some(LastState(e.ts.getTime, e.eventId, e.eventType))
          }
          last.foreach(st.update)
          out.iterator
        })
  }

  // ---- burst detection stream (WindowedAggs.burstDetect twin) ----

  final case class Tick(key: String, ts: Timestamp)
  final case class BurstOut(key: String, hourBucket: Long, n: Long,
                            trailSum: Long, trailCnt: Long, burst: Boolean)
  final case class BurstState(buckets: Map[Long, Long])

  /** Streaming twin of `WindowedAggs.burstDetect`: per-key state is
    * the trailing 25 hour-bucket counts (pruned against the max seen
    * bucket — bounded at 25 longs per key, the RANGE-window frame
    * made explicit). Each micro-batch folds its events into the
    * bucket counts and emits one row per TOUCHED bucket with the
    * trailing-24h stats and the same integer n·24 > factor·sum
    * decision. Single-batch input reproduces the batch operator's
    * rows exactly (StreamingSpec pins it); across batches, a
    * bucket's row re-emits with updated counts as late events land
    * (update-style output), and buckets older than the kept frame
    * stop updating — the explicit staleness bound.
    */
  def burstStream(events: Dataset[Tick], factor: Long = 2L)
      : Dataset[BurstOut] = {
    implicit val se = Encoders.product[BurstState]
    implicit val oe = Encoders.product[BurstOut]
    events.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[Tick], st: GroupState[BurstState]) => {
          var buckets = st.getOption.map(_.buckets).getOrElse(Map.empty)
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          it.foreach { e =>
            val b = e.ts.getTime / 3600000L
            buckets = buckets.updated(b, buckets.getOrElse(b, 0L) + 1L)
            touched += b
          }
          if (buckets.nonEmpty) {
            val maxB = buckets.keysIterator.max
            buckets = buckets.filter { case (b, _) => b >= maxB - 25 }
          }
          st.update(BurstState(buckets))
          touched.iterator.flatMap { b =>
            val trail = buckets.filter { case (tb, _) =>
              tb >= b - 24 && tb <= b - 1 }
            val tSum = trail.valuesIterator.sum
            val tCnt = trail.size.toLong
            if (tCnt > 0) {
              val n = buckets(b)
              Some(BurstOut(key, b, n, tSum, tCnt,
                n * 24L > factor * tSum))
            } else None
          }.toSeq.iterator
        })
  }

  // ---- S8: recent-N ring buffer ----

  final case class RecentN(key: String, ts: Timestamp, recent: Seq[Double])
  final case class RingState(items: List[(Long, Double)])

  /** S8 + the reference's Redis TTL semantics (RedisService.java:45-49
    * — per-key-class EXPIREs): recent-N ring whose per-key state is
    * evicted when the event-time watermark passes last-activity+ttl.
    * EventTimeTimeout makes eviction deterministic (driven by data,
    * not wall clock) — the Spark-native replacement for external TTLs.
    */
  def recentNTtl(events: Dataset[KeyedEvent], n: Int = 100,
                 ttlMs: Long = 60 * 60 * 1000): Dataset[RecentN] = {
    implicit val se = Encoders.product[RingState]
    implicit val oe = Encoders.product[RecentN]
    import org.apache.spark.sql.functions.col
    events.withWatermark("ts", "0 seconds")
      .groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (key: String, it: Iterator[KeyedEvent], st: GroupState[RingState]) => {
          if (!it.hasNext && st.hasTimedOut) {
            st.remove() // watermark passed last activity + ttl
            Iterator.empty
          } else {
            var ring = st.getOption.map(_.items).getOrElse(Nil)
            val evs = it.toSeq.sortBy(_.ts.getTime)
            val out = evs.map { e =>
              ring = ((e.ts.getTime, e.value) :: ring).take(n)
              RecentN(key, e.ts, ring.map(_._2))
            }
            st.update(RingState(ring))
            if (evs.nonEmpty)
              st.setTimeoutTimestamp(evs.map(_.ts.getTime).max + ttlMs)
            out.iterator
          }
        })
  }

  /** Emits, per event, the key's latest ≤N values (newest first) —
    * the lpush+ltrim list as bounded operator state.
    */
  def recentN(events: Dataset[KeyedEvent], n: Int = 100): Dataset[RecentN] = {
    implicit val se = Encoders.product[RingState]
    implicit val oe = Encoders.product[RecentN]
    events.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[KeyedEvent], st: GroupState[RingState]) => {
          var ring = st.getOption.map(_.items).getOrElse(Nil)
          val out = it.toSeq.sortBy(_.ts.getTime).map { e =>
            ring = ((e.ts.getTime, e.value) :: ring).take(n)
            RecentN(key, e.ts, ring.map(_._2))
          }
          st.update(RingState(ring))
          out.iterator
        })
  }
}
