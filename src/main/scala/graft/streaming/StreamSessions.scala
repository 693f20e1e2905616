package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming extension (beyond reference parity — the reference is batch-
  * only with periodic shard shipping, doc/docs/index.md:43-48; its
  * incremental story is shard-then-merge). Structured Streaming gives the
  * same trail semantics over an unbounded source:
  *
  *  - `session_window` aggregation = the tutorial's 30-min sessionization
  *    (examples/tutorial_wikipedia_sessions.c) with event-time semantics
  *  - watermarks bound state for late events — at scale, state store size
  *    is O(active sessions), not O(history)
  */
object StreamSessions {

  /** Waits for a stream started with `Trigger.AvailableNow` to finish. A
    * stream still running after `timeoutMs` is stopped and refused with a
    * TimeoutException, and a stream that failed rethrows its error, so a
    * caller never reads a partly written sink as the whole answer. */
  def awaitDrained(q: StreamingQuery, timeoutMs: Long): Unit = {
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"stream ${q.name} did not finish within $timeoutMs ms; it was stopped")
    }
    q.exception.foreach(e => throw e)
  }

  /** Per-(uuid, session) rollup over a streaming trail source.
    * `events` must be a streaming DataFrame with uuid + a timestamp column.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour", uuidCol: String = "uuid",
      tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(uuidCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(uuidCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Per-trail state carried across micro-batches by [[statefulTrailStats]]. */
  final case class TrailState(firstTime: Long, lastTime: Long, nEvents: Long,
      nSessions: Long)
  final case class TrailUpdate(uuid: String, firstTime: Long, lastTime: Long,
      nEvents: Long, nSessions: Long)

  /** Custom streaming state via flatMapGroupsWithState: running per-trail
    * stats (first/last/count/sessions) maintained across micro-batches —
    * the arbitrary-state path for logic session_window can't express.
    * Emits the updated row for every trail touched in a batch. State is
    * O(1) per trail; sessions count gaps > gapSeconds between batches'
    * sorted events (within-batch events are sorted here; cross-batch
    * ordering relies on source ordering, as any state machine must).
    */
  def statefulTrailStats(events: Dataset[(String, Long)], gapSeconds: Long)(
      implicit enc: org.apache.spark.sql.Encoder[TrailUpdate],
      stateEnc: org.apache.spark.sql.Encoder[TrailState]): Dataset[TrailUpdate] = {
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[TrailState, TrailUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long)], state: GroupState[TrailState]) =>
          val times = rows.map(_._2).toArray.sorted
          if (times.isEmpty) Iterator.empty
          else {
            val prev = state.getOption
            var sessions = prev.map(_.nSessions).getOrElse(0L)
            var last = prev.map(_.lastTime).getOrElse(Long.MinValue)
            times.foreach { t =>
              if (last == Long.MinValue || t - last > gapSeconds) sessions += 1
              last = t
            }
            // min/max symmetrically: a late event EARLIER than everything
            // seen must move firstTime exactly like a new latest event
            // moves lastTime (first-batch-wins would freeze it wrong).
            val next = TrailState(
              math.min(prev.map(_.firstTime).getOrElse(Long.MaxValue), times.head),
              math.max(prev.map(_.lastTime).getOrElse(Long.MinValue), times.last),
              prev.map(_.nEvents).getOrElse(0L) + times.length,
              sessions)
            state.update(next)
            Iterator.single(TrailUpdate(uuid, next.firstTime, next.lastTime,
              next.nEvents, next.nSessions))
          }
      }
  }

  /** Per-trail funnel slots carried across micro-batches; -1 = unfilled.
    * bestLevel/bestT0 carry the best CLOSED segment when exclusion types
    * are configured (0/None otherwise — costless). */
  final case class FunnelState(slots: Array[Long], bestLevel: Long = 0L,
      bestT0: Option[Long] = None)
  final case class FunnelUpdate(uuid: String, funnelLevel: Long,
      firstTime: Option[Long])

  /** Streaming twin of [[graft.agg.Funnel.windowFunnel]]: the greedy-
    * earliest step chain maintained across micro-batches with
    * flatMapGroupsWithState — state is k longs per trail, emitted as the
    * trail's current funnel level whenever a batch touches it. Within a
    * batch events are `(time, seq, event_type)`-sorted here — the SAME
    * total order as the batch operator, so a step and an exclusion event
    * at an identical timestamp replay identically in both engines;
    * cross-batch ordering relies on source order (as any streaming state
    * machine must — a late event cannot retro-fill a slot an earlier
    * batch already passed). On in-order delivery this agrees exactly with
    * the batch operator (spec-proven, including a same-timestamp
    * error/step tie). */
  def statefulWindowFunnel(events: Dataset[(String, Long, Long, String)],
      steps: Seq[String], window: Long, exclude: Set[String] = Set.empty)(
      implicit enc: org.apache.spark.sql.Encoder[FunnelUpdate],
      stateEnc: org.apache.spark.sql.Encoder[FunnelState]): Dataset[FunnelUpdate] = {
    require(steps.nonEmpty, "windowFunnel needs at least one step")
    require(window >= 0, s"window must be non-negative, got $window")
    require(exclude.intersect(steps.toSet).isEmpty,
      s"exclusion types overlap steps: ${exclude.intersect(steps.toSet)}")
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val k = steps.length
    def levelOf(slots: Array[Long]): Long = {
      var level = 0L
      while (level < k && slots(level.toInt) != -1L &&
          slots(level.toInt) - slots(0) <= window) level += 1
      level
    }
    events.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long, Long, String)],
         state: GroupState[FunnelState]) =>
          val slots = state.getOption.map(_.slots.clone())
            .getOrElse(Array.fill(k)(-1L))
          var best = state.getOption.map(_.bestLevel).getOrElse(0L)
          var bestT0 = state.getOption.flatMap(_.bestT0)
          // NULL event types coalesce to "" BEFORE sorting and matching —
          // the batch twin's convention (a raw null both NPEs the string
          // sort and never matches a configured "" step)
          rows.toArray.map(r => (r._2, r._3, Option(r._4).getOrElse("")))
            .sortBy(identity).foreach { case (t, _, et) =>
            if (exclude(et)) {
              // segment closes: best keeps the earliest winner (strict >)
              val cur = levelOf(slots)
              if (cur > best) {
                best = cur
                bestT0 = if (slots(0) == -1L) None else Some(slots(0))
              }
              java.util.Arrays.fill(slots, -1L)
            } else {
              var i = 0
              var placed = false
              while (i < k && !placed) {
                if (slots(i) == -1L && steps(i) == et &&
                    (i == 0 || (slots(i - 1) != -1L && t > slots(i - 1)))) {
                  slots(i) = t
                  placed = true
                }
                i += 1
              }
            }
          }
          if (slots.forall(_ == -1L) && best == 0L && state.getOption.isEmpty)
            Iterator.empty
          else {
            state.update(FunnelState(slots, best, bestT0))
            val cur = levelOf(slots)
            val (level, first) =
              if (cur > best)
                (cur, if (slots(0) == -1L) None else Some(slots(0)))
              else (best, bestT0)
            Iterator.single(FunnelUpdate(uuid, level, first))
          }
      }
  }

  /** Last-touch attribution state: the most recent touch's (time, type). */
  final case class TouchState(t: Long, c: String)
  final case class AttributionHit(uuid: String, time: Long, seq: Long,
      channel: String, touchTime: Option[Long])

  /** Streaming twin of [[graft.agg.Attribution.lastTouch]]: one
    * (time, channel) pair of state per trail carried across micro-batches;
    * each conversion is emitted as it arrives, credited to the most recent
    * in-lookback touch seen so far, else `"direct"`. Within a batch events
    * are `(time, seq)`-sorted here and a conversion is scored BEFORE a
    * same-row touch update, so the strictly-before semantics of the batch
    * window hold; cross-batch ordering relies on source order (as any
    * streaming state machine must). On in-order delivery this agrees
    * exactly with the batch operator (spec-proven). State is O(1) per
    * trail — the streaming shape survives an unbounded feed where a
    * window-over-history cannot.
    */
  def statefulLastTouch(events: Dataset[(String, Long, Long, String)],
      touchTypes: Set[String], conversionType: String, lookback: Long)(
      implicit enc: org.apache.spark.sql.Encoder[AttributionHit],
      stateEnc: org.apache.spark.sql.Encoder[TouchState]): Dataset[AttributionHit] = {
    require(touchTypes.nonEmpty, "lastTouch needs at least one touch type")
    require(lookback > 0, s"lookback must be positive, got $lookback")
    require(!touchTypes.contains(conversionType),
      s"conversionType '$conversionType' must not also be a touch type")
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, AttributionHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long, Long, String)],
         state: GroupState[TouchState]) =>
          var last = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributionHit]
          // NULL event types coalesce to "" — the batch twin's convention
          rows.toArray.map(r => (r._2, r._3, Option(r._4).getOrElse("")))
            .sortBy(r => (r._1, r._2)).foreach { case (t, seq, et) =>
            if (et == conversionType) {
              out += (if (last != null && last.t > t - lookback)
                AttributionHit(uuid, t, seq, last.c, Some(last.t))
              else AttributionHit(uuid, t, seq, "direct", None))
            }
            if (touchTypes(et)) last = TouchState(t, et)
          }
          if (last != null) state.update(last)
          out.iterator
      }
  }

  /** Trailing-horizon state: the events still inside the horizon of the
    * newest event seen (the deque of the cursor-walk formulation), as
    * time-sorted parallel arrays. */
  final case class HorizonState(times: Array[Long], values: Array[Long])
  final case class HorizonUpdate(uuid: String, time: Long, seq: Long,
      nWin: Long, sumWin: Long)

  /** Streaming twin of [[graft.agg.Rolling.trailingStats]]: per event, the
    * count/value-sum of same-trail events in the closed horizon
    * `[t − horizon, t]`, maintained across micro-batches with
    * flatMapGroupsWithState. State is the horizon deque itself, kept
    * TIME-SORTED: each arrival inserts in time order, its frame is
    * computed from exactly the deque entries inside `[t − horizon, t]`
    * (never future-timestamped ones — a moderately late event gets its
    * own window, not the newest event's), and entries older than
    * `max_time_seen − horizon` are evicted, so state is O(events per
    * horizon window), the streaming-viable bound (the batch RANGE window
    * needs the whole trail ordered). In-order delivery gives exact
    * agreement with the batch operator on trails with distinct
    * timestamps (spec-proven); on exact time TIES the batch RANGE frame
    * includes later-seq peers a stream cannot have seen yet, so the
    * streaming row reports the frame AS OF ARRIVAL — the only causal
    * answer. An event arriving later than `horizon` behind the trail's
    * max time computes its frame from the surviving entries only (the
    * watermark-style lateness bound any bounded-state stream needs). */
  def statefulTrailingStats(events: Dataset[(String, Long, Long, Long)],
      horizon: Long)(
      implicit enc: org.apache.spark.sql.Encoder[HorizonUpdate],
      stateEnc: org.apache.spark.sql.Encoder[HorizonState]): Dataset[HorizonUpdate] = {
    require(horizon > 0, s"horizon must be positive, got $horizon")
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[HorizonState, HorizonUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long, Long, Long)],
         state: GroupState[HorizonState]) =>
          val prev = state.getOption
          var times = prev.map(_.times.toVector).getOrElse(Vector.empty[Long])
          var values = prev.map(_.values.toVector).getOrElse(Vector.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[HorizonUpdate]
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, t, seq, v) =>
            // sorted insert keeps the deque a time-ordered window even
            // under late arrivals; the common in-order arrival appends
            // without the O(deque) scan + patch copy
            if (times.isEmpty || t >= times.last) {
              times = times :+ t
              values = values :+ v
            } else {
              val at = times.indexWhere(_ > t) match {
                case -1 => times.length
                case i  => i
              }
              times = times.patch(at, Seq(t), 0)
              values = values.patch(at, Seq(v), 0)
            }
            // this event's OWN frame: entries in [t − horizon, t]
            val lo = times.indexWhere(_ >= t - horizon)
            val hi = times.lastIndexWhere(_ <= t)
            out += HorizonUpdate(uuid, t, seq, (hi - lo + 1).toLong,
              values.slice(lo, hi + 1).sum)
            // Evict only below max − 2·horizon: a late event at
            // t ∈ (max − horizon, max] — the documented lateness band —
            // needs its FULL frame [t − horizon, t], whose oldest entry
            // can sit as far back as max − 2·horizon. Evicting at
            // max − horizon (the pre-r8 bound) silently undercut exactly
            // those late frames.
            val cut = times.indexWhere(_ >= times.last - 2 * horizon)
            if (cut > 0) {
              times = times.drop(cut); values = values.drop(cut)
            }
          }
          if (times.nonEmpty)
            state.update(HorizonState(times.toArray, values.toArray))
          out.iterator
      }
  }

  /** Decay-score state: the trail's max time and the score normalized to
    * it (`Σ exp((t_i − maxTime)/τ)` over all events seen). */
  final case class DecayState(maxTime: Long, score: Double, n: Long)
  final case class DecayUpdate(uuid: String, nEvents: Long, lastTime: Long,
      score: Double)

  /** Streaming twin of [[graft.agg.Rolling.decayScore]] with O(1) state
    * per trail: the max-normalized score is incrementally maintainable —
    * an event at `t ≤ M` adds `exp((t − M)/τ)`; an event advancing the
    * max to `t > M` renormalizes the whole sum by `exp((M − t)/τ)` first
    * (every term shrinks by the same factor), so no event history is kept.
    * Emits the running (n, last_time, score) per trail per batch.
    *
    * Agreement with the batch operator is up to float-accumulation order
    * (spec-proven to 1e-9 relative): the batch side sums micro-rounded
    * terms for engine-exact replay, which an O(1) incremental fold cannot
    * reproduce term-for-term — bounded state is the tradeoff, as always
    * on the streaming side. */
  def statefulDecayScore(events: Dataset[(String, Long)], tau: Long)(
      implicit enc: org.apache.spark.sql.Encoder[DecayUpdate],
      stateEnc: org.apache.spark.sql.Encoder[DecayState]): Dataset[DecayUpdate] = {
    require(tau > 0, s"tau must be positive, got $tau")
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[DecayState, DecayUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long)],
         state: GroupState[DecayState]) =>
          val ts = rows.map(_._2).toArray.sorted
          if (ts.isEmpty) Iterator.empty
          else {
            var (m, s, n) = state.getOption
              .map(st => (st.maxTime, st.score, st.n))
              .getOrElse((Long.MinValue, 0.0, 0L))
            ts.foreach { t =>
              if (t > m) {
                s = (if (m == Long.MinValue) 0.0
                     else s * math.exp((m - t).toDouble / tau)) + 1.0
                m = t
              } else s += math.exp((t - m).toDouble / tau)
              n += 1
            }
            state.update(DecayState(m, s, n))
            Iterator.single(DecayUpdate(uuid, n, m, s))
          }
      }
  }

  final case class GapState(lastTime: Long)
  final case class GapBand(uuid: String, band: String)

  /** Streaming inter-event gap bands — the live twin of
    * [[graft.agg.Cohorts.interEventGaps]]: O(1) state per trail (the
    * LATEST event time seen); each arriving IN-ORDER event past a trail's
    * first emits its gap band. Aggregate the emitted bands downstream (a
    * plain streaming count) to maintain the live histogram. ≡ batch under
    * in-order delivery per trail (StreamingSpec proves it across real
    * micro-batch boundaries). A LATE out-of-order event emits nothing —
    * its inter-event gap is not defined in arrival space — and, crucially,
    * never regresses the carried time (state advances by max), so one
    * late straggler cannot mis-band the next in-order event. */
  def statefulGapBands(events: Dataset[(String, Long)])(
      implicit enc: org.apache.spark.sql.Encoder[GapBand],
      stateEnc: org.apache.spark.sql.Encoder[GapState]): Dataset[GapBand] = {
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[GapState, GapBand](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long)],
         state: GroupState[GapState]) =>
          val ts = rows.map(_._2).toArray.sorted
          if (ts.isEmpty) Iterator.empty
          else {
            var last = state.getOption.map(_.lastTime).getOrElse(Long.MinValue)
            val out = ts.flatMap { t =>
              val band = if (last == Long.MinValue || t < last) None else {
                val gap = t - last
                Some(if (gap < 60) "lt_1m" else if (gap < 3600) "1m_1h"
                  else if (gap < 86400) "1h_1d" else "ge_1d")
              }
              last = math.max(last, t)
              band.map(GapBand(uuid, _))
            }
            state.update(GapState(last))
            out.iterator
          }
      }
  }

  /** Per-trail state for [[statefulTypeOverlap]]: the distinct event types
    * this trail has shown so far — O(|types|) per trail, the same bound
    * the batch op's distinct (uuid, type) set carries per trail. */
  final case class TypeSetState(types: Seq[String])
  final case class TypePairHit(uuid: String, typeA: String, typeB: String)

  /** Streaming twin of [[graft.agg.Cohorts.typeOverlap]] (round 9): emits
    * one (uuid, type_a, type_b) row — a < b — the FIRST time a trail has
    * shown both types; `groupBy(type_a, type_b).count()` over the
    * appended hits IS the batch co-occurrence matrix. Exactly-once per
    * (trail, pair) by construction: a pair is emitted only in the batch
    * where its second type first appears, so the downstream count never
    * double-counts a trail regardless of how many events repeat the
    * types. Order-insensitive — set membership doesn't depend on event
    * time — so stream≡batch needs no in-order caveat (StreamingSpec
    * proves it under shuffled delivery). */
  def statefulTypeOverlap(events: Dataset[(String, String)])(
      implicit enc: org.apache.spark.sql.Encoder[TypePairHit],
      stateEnc: org.apache.spark.sql.Encoder[TypeSetState]): Dataset[TypePairHit] = {
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[TypeSetState, TypePairHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, String)],
         state: GroupState[TypeSetState]) =>
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          seen ++= state.getOption.map(_.types).getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[TypePairHit]
          rows.foreach { case (_, t) =>
            if (!seen.contains(t)) {
              seen.foreach { old =>
                val (a, b) = if (old < t) (old, t) else (t, old)
                out += TypePairHit(uuid, a, b)
              }
              seen += t
            }
          }
          state.update(TypeSetState(seen.toSeq))
          out.iterator
      }
  }

  /** Per-trail state for [[statefulTransitions]]: the last event's
    * (time, seq, type) — O(1) per trail. */
  final case class TransState(lastTime: Long, lastSeq: Long, lastType: String)
  final case class Transition(uuid: String, fromType: String, toType: String)

  /** Streaming twin of [[graft.agg.Attribution.transitions]] (round 9):
    * each arriving event emits its (from_type, to_type) edge against the
    * carried last event, so `groupBy(fromType, toType).count()` over the
    * appended edges IS the batch transition-count matrix (derive the
    * per-from probabilities downstream from the live counts). In-batch
    * events process in (time, seq) order — the batch window's order — and
    * NULL types coalesce to "" like the batch op. Late stragglers follow
    * the statefulGapBands convention: emit nothing, never regress the
    * carried (time, seq) watermark — a late event must not fabricate an
    * edge the batch order doesn't contain. The comparison is STRICT:
    * (time, seq) is unique per trail (seq is the per-trail sequence), so
    * an event at exactly the carried watermark can only be an
    * at-least-once redelivery of the last event — it is dropped rather
    * than fabricating a self-edge. */
  def statefulTransitions(events: Dataset[(String, Long, Long, String)])(
      implicit enc: org.apache.spark.sql.Encoder[Transition],
      stateEnc: org.apache.spark.sql.Encoder[TransState]): Dataset[Transition] = {
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long, Long, String)],
         state: GroupState[TransState]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var last = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          sorted.foreach { case (_, t, q, tp0) =>
            val tp = Option(tp0).getOrElse("")
            if (last == null) last = TransState(t, q, tp)
            else if (t > last.lastTime ||
                (t == last.lastTime && q > last.lastSeq)) {
              out += Transition(uuid, last.lastType, tp)
              last = TransState(t, q, tp)
            }
          }
          if (last != null) state.update(last)
          out.iterator
      }
  }

  /** Per-trail state for [[statefulNgrams]]: the (time, seq) watermark
    * plus the last n−1 event types — O(n) per trail. */
  final case class NgramState(lastTime: Long, lastSeq: Long,
      recent: Seq[String])
  final case class NgramHit(uuid: String, path: String)

  /** Streaming twin of [[graft.agg.Paths]] (round 12): each arriving
    * event completes (at most) one n-gram against the carried last n−1
    * types, so `groupBy(path).count()` over the appended hits IS the
    * live path histogram — the batch topNgrams cut is a downstream
    * ranking over the live counts. Generalizes [[statefulTransitions]]
    * (its edges are exactly n = 2 paths). In-batch events process in
    * (time, seq) order — the batch sort's order — NULL types coalesce to
    * "" like the batch op, and late stragglers follow the gap-bands
    * convention: emit nothing, never regress the carried (time, seq)
    * watermark (a late event must not fabricate a gram the batch order
    * doesn't contain — in-order per-trail delivery is the documented
    * contract, redeliveries are dropped). */
  def statefulNgrams(events: Dataset[(String, Long, Long, String)],
      n: Int = 3)(
      implicit enc: org.apache.spark.sql.Encoder[NgramHit],
      stateEnc: org.apache.spark.sql.Encoder[NgramState]): Dataset[NgramHit] = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[NgramState, NgramHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long, Long, String)],
         state: GroupState[NgramState]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(
            NgramState(Long.MinValue, Long.MinValue, Seq.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[NgramHit]
          sorted.foreach { case (_, t, q, tp0) =>
            if (t > st.lastTime || (t == st.lastTime && q > st.lastSeq)) {
              val tp = Option(tp0).getOrElse("")
              val recent = (st.recent :+ tp).takeRight(n)
              if (recent.length == n)
                out += NgramHit(uuid, recent.mkString(">"))
              st = NgramState(t, q, recent.takeRight(n - 1))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-trail state for [[statefulRetention]]: the distinct weeks this
    * trail has been active — O(weeks-active) per trail (a year of weekly
    * activity is 52 longs). */
  final case class WeekSetState(weeks: Seq[Long])
  final case class RetentionMark(uuid: String, week: Long, mark: String)

  /** Streaming twin of the weekly retention rollup (round 9, t_retention):
    * emits an `active` mark ONCE per (trail, week) and a `retained` mark
    * ONCE per consecutive-week pair (w, w+1) — attributed to week w, in
    * the batch where the SECOND week of the pair first appears. Downstream
    * `groupBy(week)` counting actives and retained marks IS the batch
    * rollup. Adjacency is checked in BOTH directions (a new week w pairs
    * with an already-seen w−1 AND w+1), so the operator is
    * order-insensitive — a late week that completes a pair still emits
    * it, exactly like the batch distinct-week window would count it. */
  def statefulRetention(events: Dataset[(String, Long)],
      weekSeconds: Long = 604800L)(
      implicit enc: org.apache.spark.sql.Encoder[RetentionMark],
      stateEnc: org.apache.spark.sql.Encoder[WeekSetState]): Dataset[RetentionMark] = {
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[WeekSetState, RetentionMark](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long)],
         state: GroupState[WeekSetState]) =>
          val seen = scala.collection.mutable.HashSet.empty[Long]
          seen ++= state.getOption.map(_.weeks).getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[RetentionMark]
          rows.foreach { case (_, t) =>
            val w = java.lang.Math.floorDiv(t, weekSeconds)
            if (!seen.contains(w)) {
              out += RetentionMark(uuid, w, "active")
              if (seen.contains(w - 1))
                out += RetentionMark(uuid, w - 1, "retained")
              if (seen.contains(w + 1))
                out += RetentionMark(uuid, w, "retained")
              seen += w
            }
          }
          state.update(WeekSetState(seen.toSeq))
          out.iterator
      }
  }

  /** Per-trail state for [[statefulConversionLatency]]: earliest fromType
    * time seen (MaxValue = none yet) and whether the conversion was
    * already emitted — O(1) per trail. */
  final case class ConvState(firstFrom: Long, done: Boolean)
  final case class Conversion(uuid: String, latency: Long)

  /** Streaming twin of [[graft.agg.Cohorts.conversionLatency]] (round 9):
    * emits (uuid, latency) ONCE per trail — when the first `toType` event
    * at-or-after the trail's first `fromType` arrives — and
    * `groupBy(latency DIV bucketSeconds).count()` over the appended rows
    * is the batch histogram. Within a batch, events are processed in time
    * order with `fromType` before `toType` on ties (batch counts an
    * equal-time pair as a conversion, so the state machine must too).
    *
    * Cross-batch the equivalence contract is PER-TRAIL IN-ORDER delivery,
    * the same contract every trail state machine here carries
    * (statefulTrailStats, statefulGapBands): once a conversion is
    * emitted, a late-arriving EARLIER fromType cannot retract it in
    * append mode — the spec pins that deviation explicitly. */
  def statefulConversionLatency(events: Dataset[(String, Long, String)],
      fromType: String, toType: String)(
      implicit enc: org.apache.spark.sql.Encoder[Conversion],
      stateEnc: org.apache.spark.sql.Encoder[ConvState]): Dataset[Conversion] = {
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    events.groupByKey(_._1)
      .flatMapGroupsWithState[ConvState, Conversion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid: String, rows: Iterator[(String, Long, String)],
         state: GroupState[ConvState]) =>
          val st = state.getOption.getOrElse(ConvState(Long.MaxValue, done = false))
          var firstFrom = st.firstFrom
          var done = st.done
          var emitted: Option[Conversion] = None
          if (!done) {
            // time order, fromType first on ties (t._3 == fromType sorts
            // false-before-true for toType via the boolean key)
            val sorted = rows.filter(r => r._3 == fromType || r._3 == toType)
              .toArray.sortBy(r => (r._2, r._3 != fromType))
            sorted.foreach { case (_, t, tp) =>
              if (!done) {
                // two independent ifs, not else-if: with fromType ==
                // toType an event is both the start and the conversion
                // (batch gives latency 0), so it must pass through both
                if (tp == fromType && t < firstFrom) firstFrom = t
                if (tp == toType && firstFrom != Long.MaxValue && t >= firstFrom) {
                  emitted = Some(Conversion(uuid, t - firstFrom))
                  done = true
                }
              }
            }
            state.update(ConvState(firstFrom, done))
          }
          emitted.iterator
      }
  }

  /** Streaming exact dedup on a content key: keep the first arrival of each
    * key, drop later duplicates. State is bounded by the watermark —
    * dropDuplicatesWithinWatermark evicts keys once the event-time
    * watermark passes them, so the state store holds O(keys per watermark
    * window), not O(all history) — the only viable shape for an unbounded
    * ingest feed at corpus scale. Exact within the watermark horizon;
    * duplicates farther apart than the horizon are the batch pipeline's
    * job (exactDedup over the finalized table). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour", tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming AS-OF enrichment against a STATIC right table — the
    * stream-static twin of [[graft.core.TrailOps.asOfJoin]] (spec-proven to
    * agree with it on identical inputs). The right side is reduced like the
    * batch op (one row per (uuid, time), max per value column), packed into
    * a per-uuid TIME-SORTED array of (time, values) entries, and joined to
    * the stream; the match — latest entry at-or-before each event's time —
    * is a pure array expression. NO streaming state: the stream side stays
    * a stateless projection, composing with any watermark/output mode, and
    * events with no prior right entry get NULLs, all from the same matched
    * entry (never mixed across entries).
    *
    * Scale shape: the packed right side must fit one row per uuid — the
    * slowly-changing-dimension case this exists for. Cache the static side
    * in production or Spark re-aggregates it every micro-batch. */
  def streamAsOfJoin(stream: DataFrame, right: DataFrame,
      valueCols: Seq[String], uuidCol: String = "uuid",
      tsCol: String = "time", rightTimeCol: String = "time"): DataFrame = {
    require(valueCols.nonEmpty, "streamAsOfJoin needs at least one value column")
    val r = right.groupBy(col(uuidCol), col(rightTimeCol))
      .agg(max(valueCols.head).as(valueCols.head),
        valueCols.tail.map(c => max(c).as(c)): _*)
    val packed = r.groupBy(col(uuidCol))
      .agg(sort_array(collect_list(struct(
        col(rightTimeCol).as("_t"),
        struct(valueCols.map(col): _*).as("_v")))).as("_tl"))
    val streamCols = stream.columns.toSeq
    stream.join(packed, Seq(uuidCol), "left")
      // try_element_at: an empty hit list (no right entry yet, or a uuid
      // absent from the right table entirely) is NULL, not an ANSI error
      .withColumn("_m", try_element_at(
        filter(col("_tl"), e => e.getField("_t") <= col(tsCol)), lit(-1)))
      .select(streamCols.map(col) ++
        valueCols.map(c =>
          col("_m").getField("_v").getField(c).as(s"asof_$c")): _*)
  }

  /** Streaming twin of [[graft.ops.TextAnalysis.capPerGroup]] — the
    * per-group quality-cap DECISION (group, keep_id, cap_rank) maintained
    * as a streaming grouped aggregate over
    * [[graft.ops.TextAnalysis.capQuota]]. The batch op is a
    * WindowGroupLimit-bounded window (a window cannot run on a stream);
    * this aggregate applies the same selection rule — (score DESC, id
    * ASC) top-maxPerGroup per group — and StreamingSpec proves the
    * streamed decision equals the batch op's kept set across micro-batch
    * boundaries. `Sketch.TopK` being a mergeable Aggregator is what makes
    * it a legal streaming aggregation (state per group = ≤maxPerGroup
    * (score, id) pairs, O(1) per arriving row — never the row stream).
    * Run in `complete`/`update` output mode; downstream applies the
    * decision per micro-batch (foreachBatch join) or against the
    * finalized table. */
  def streamingCapQuota(docs: DataFrame, maxPerGroup: Int,
      groupCol: String = "source",
      scoreCol: org.apache.spark.sql.Column = col("n_chars"),
      idCol: String = "doc_id"): DataFrame =
    graft.ops.TextAnalysis.capQuota(docs, maxPerGroup, groupCol, scoreCol,
      idCol)

  /** Streaming twin of [[graft.ops.TextAnalysis.takePerStratum]] — the
    * exactly-n-per-stratum DECISION (stratum, keep_id) as a streaming
    * grouped aggregate over [[graft.ops.TextAnalysis.stratumQuota]]
    * (same selection rule as the batch window op, spec-proven equal
    * across micro-batch boundaries). `Sketch.MinKLex` keeps
    * the n lexicographically-least (md5(text), id) pairs per stratum —
    * content-derived, so the selection CONVERGES as data streams in (a
    * later micro-batch can displace an earlier pick, exactly as the batch
    * op re-run on the grown corpus would) rather than freezing first
    * arrivals. State per stratum: ≤n pairs. */
  def streamingStratumQuota(docs: DataFrame, n: Int,
      strataCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.stratumQuota(docs, n, strataCol, idCol, textCol)

  /** Streaming twin of [[graft.ops.TextAnalysis.quantileFilter]]'s
    * THRESHOLD decision: the corpus q-quantile as a streaming aggregate —
    * `percentile_approx` is a mergeable GK summary, so its state (one
    * bounded summary, error ≤ n/accuracy) legally merges across
    * micro-batches in complete/update mode, and the decision CONVERGES as
    * data streams in exactly like the quota twins (a later batch shifts
    * the threshold the way re-running batch on the grown corpus would).
    * Downstream applies the threshold per micro-batch (foreachBatch
    * cross-join, the batch op's own shape) or at finalize. */
  def streamingQuantileThreshold(docs: DataFrame,
      scoreCol: org.apache.spark.sql.Column, q: Double,
      accuracy: Int = 10000): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0, 1), got $q")
    require(accuracy >= 100, s"accuracy $accuracy too low for a stable threshold")
    docs.agg(
      percentile_approx(scoreCol, lit(q), lit(accuracy)).as("threshold"),
      count(scoreCol).as("n_scored"))
  }

  /** Streaming twin of [[graft.ops.TextAnalysis.mixPlan]] — the mixture
    * have-vs-need plan maintained LIVE as ingestion proceeds: per-source
    * state is two longs (doc count, exact token sum), legal as a
    * streaming grouped aggregate in complete/update mode; the
    * need/epochs arithmetic is a post-aggregation projection. Each
    * micro-batch's output is exactly what batch mixPlan would say on the
    * corpus ingested so far (StreamingSpec proves it across boundaries) —
    * the live dashboard of "which sources still owe tokens" a long
    * ingestion run watches. Uses the join-free `mixPlanSeen` form: a
    * post-aggregation stream-static join is illegal, so a budgeted
    * source with NO data yet appears only once its first row arrives
    * (batch mixPlan's recipe outer-join surfaces it immediately). */
  def streamingMixPlan(docs: DataFrame, weights: Map[String, Double],
      budget: Long, sourceCol: String = "source",
      textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.mixPlanSeen(docs, weights, budget, sourceCol,
      textCol)

  /** Streaming twin of [[graft.ops.TextAnalysis.profile]] — the ingest
    * audit maintained LIVE over an arriving corpus: all per-column
    * statistics (row/non-null counts, HLL distinct estimate, string
    * min/max) are mergeable aggregates, so the profile is ONE global
    * streaming aggregation (complete mode) with the unpivot as a
    * post-aggregation projection. Necessarily the `exact = false` shape:
    * exact count(distinct) is not a legal streaming aggregate — which is
    * also why it is the documented 100 TB form. */
  def streamingProfile(df: DataFrame, cols: Seq[String] = Nil,
      rsd: Double = 0.02): DataFrame =
    graft.ops.TextAnalysis.profile(df, cols, rsd, exact = false)

  /** Streaming half of [[graft.ops.TextAnalysis.tokenDrift]] — maintains
    * the live (token, count_a, count_b) state as both snapshot streams
    * arrive (one complete-mode grouped aggregate over the tagged union).
    * The drift RANKING stays a batch finisher over the vocab-sized sink
    * (`TextAnalysis.driftFromCounts`): totals-then-rank is a second
    * aggregation over the first, which streaming cannot nest — and the
    * sink-side pass is exactly what a monitoring dashboard polls anyway.
    * StreamingSpec proves sink + finisher ≡ batch tokenDrift across real
    * micro-batch boundaries. */
  def streamingTokenCounts(a: DataFrame, b: DataFrame,
      textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.sideTokenCounts(a, b, textCol)

  /** Streaming twin of [[graft.ops.Dedup.fuzzyDecontaminate]] — the
    * ingest-time contamination alarm: training docs STREAM in, the eval
    * set is the STATIC side (eval suites are small and fixed per run).
    * Every step is a stateless stream-static operation: the stream-side
    * signature/shingles/band-bucket are pure projections (shingle arrays
    * ride along through the band explode instead of a join back to the
    * stream — a stream cannot join itself), the bucket match and the
    * eval shingle-set lookup are stream-static inner joins, and the
    * Jaccard verification is a projection. The one stateful op is the
    * final per-(doc, eval) pair dedup (the same pair can match in
    * several bands); its state is one entry per CONTAMINATED pair —
    * bounded by the leak volume, not the corpus. Spec-proven to emit
    * exactly batch fuzzyDecontaminate's pair set across micro-batch
    * boundaries. */
  def streamingFuzzyDecontaminate(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.5, numHashes: Int = 128, bands: Int = 32,
      k: Int = 3, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide into bands ($bands)")
    val rows = numHashes / bands
    val sigE = graft.ops.Dedup.minhashSignature(eval, numHashes, k, textCol, idCol)
    val bucketsE = sigE
      .select(col("id").as("_eid"), col("minhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("_eid"), col("band"),
        graft.ops.Dedup.bandBucket(col("minhash"), col("band"), rows))
    val setsE = eval.select(col(idCol).as("_eid"),
      graft.ops.TextAnalysis.shingleHashes(col(textCol), k).as("sh_e"))
    val t = train
      .select(col(idCol).as("_tid"),
        graft.ops.TextAnalysis.shingleHashes(col(textCol), k).as("sh_t"))
      .withColumn("minhash",
        graft.functions.GraftFunctions.minhashSig(col("sh_t"), numHashes))
      .select(col("_tid"), col("sh_t"), col("minhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket",
        graft.ops.Dedup.bandBucket(col("minhash"), col("band"), rows))
      .drop("minhash")
    t.join(bucketsE, Seq("band", "bucket"))
      .join(setsE, "_eid")
      .withColumn("shared",
        size(array_intersect(col("sh_t"), col("sh_e"))).cast("long"))
      .withColumn("jaccard", col("shared").cast("double") /
        (size(col("sh_t")) + size(col("sh_e")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("_tid").as(idCol), col("_eid").as("eval_id"), col("jaccard"))
      .dropDuplicates(idCol, "eval_id")
  }

  /** Streaming twin of perceptual image dedup — the ingest-time "have I
    * seen this picture" check: new media STREAM in, the corpus signature
    * index is FROZEN static state ([[graft.ops.Multimodal.imageSignatureIndex]]
    * — the fit-once/apply-frozen convention fitVocab / fitWhitener /
    * clusterSafeSplit follow; the degenerate-bucket guard froze with the
    * index, like a frozen quantizer). Every step before the final pair
    * dedup is STATELESS: the decode is a per-partition projection, the
    * dHash a native expression, the band explode a projection (thumbnail
    * and signature ride along — a stream cannot join itself), the bucket
    * match a stream-static inner join, and the exact Hamming +
    * channel-diff verify are projections. The one stateful op is the
    * per-(stream, index) pair dedup (a pair can match in several bands);
    * its state is one entry per MATCHED pair — bounded by the duplicate
    * volume, not the corpus (the [[streamingFuzzyDecontaminate]] shape).
    * Spec-proven to emit exactly the batch pair set across micro-batch
    * boundaries.
    *
    * Returns (media_id, match_id, hamming, n_diff_ch) in append mode.
    * One body, two execution modes: the plan is
    * [[graft.ops.Multimodal.imageNearDupAgainstIndex]], which also
    * serves the batch incremental path
    * ([[graft.ops.Multimodal.incrementalImageNearDup]]) — stream and
    * batch matching can never drift apart. */
  def streamingImageNearDup(stream: DataFrame, index: DataFrame,
      maxHamming: Int = 3, thumbSide: Int = 8): DataFrame =
    graft.ops.Multimodal.imageNearDupAgainstIndex(stream, index,
      maxHamming, thumbSide)

  /** Streaming twin of perceptual audio dedup against a FROZEN
    * [[graft.ops.Multimodal.audioSignatureIndex]] — same shape as
    * [[streamingImageNearDup]] (stateless fingerprint projection +
    * band explode + stream-static bucket join + exact verifies; state =
    * matched pairs only). Returns (media_id, match_id, hamming,
    * n_diff_words) in append mode. One body, two execution modes: the
    * plan is [[graft.ops.Multimodal.audioAgainstIndex]], which also
    * serves the batch incremental path
    * ([[graft.ops.Multimodal.incrementalAudioNearDup]]) — stream and
    * batch matching can never drift apart. */
  def streamingAudioNearDup(stream: DataFrame, index: DataFrame,
      maxHamming: Int = 3): DataFrame =
    graft.ops.Multimodal.audioAgainstIndex(stream, index, maxHamming)

  /** Streaming twin of perceptual video dedup against a FROZEN
    * [[graft.ops.Multimodal.videoFrameIndex]] — completes the
    * image/audio/video streaming modality set. The per-video distinct
    * frame hashes are computed IN-TASK by the decode
    * ([[graft.ops.Multimodal.videoFrameHashSets]] — a stream cannot run
    * the batch `.distinct()`), the band explode (at the radius the
    * INDEX froze with — frames tolerate 1-3 drifted dHash bits, round
    * 16) and the exact bit_count verify are stateless stream-static
    * operations, and the matched-frame rollup is a streaming
    * aggregation whose state is the matched frame set per (stream
    * video, index video) candidate pair — bounded by frames-per-video
    * times the candidate volume the stop-frame removal already caps,
    * not by the corpus. Aggregation ⇒ run the sink in UPDATE mode (the
    * [[graft.ops.Similarity.streamingIndexSearch]] convention); a
    * video's frames all arrive in its one blob, so each pair's rollup
    * is complete in the micro-batch that carries the video and the
    * final sink state equals the batch pair set (spec-proven).
    *
    * Returns (media_id, match_id, n_matched ≥ `minMatchedFrames`, lis —
    * the [[graft.functions.LisLen]] temporal-consistency score).
    * One body, two execution modes: the plan is
    * [[graft.ops.Multimodal.videoAgainstIndex]], which also serves the
    * batch incremental path
    * ([[graft.ops.Multimodal.incrementalVideoNearDup]]) — stream and
    * batch matching can never drift apart. */
  def streamingVideoNearDup(stream: DataFrame, index: DataFrame,
      minMatchedFrames: Int = 2, thumbSide: Int = 8): DataFrame =
    graft.ops.Multimodal.videoAgainstIndex(stream, index,
      minMatchedFrames, thumbSide)

  /** Streaming MIXED-MODALITY dedup against frozen indexes — completes
    * the family: one media stream carrying images, audio, video, and
    * unknown containers, matched per micro-batch against the frozen
    * per-modality indexes plus the frozen
    * [[graft.ops.Multimodal.blobMd5Index]] (byte-identical re-crawls are
    * caught even for undecodable containers). Runs through foreachBatch
    * — the [[graft.ops.Similarity.streamingIndexSearchPruned]] convention
    * — because the unified body mixes stateful operator KINDS (the video
    * branch is a shared-frame-count aggregation, the image/audio
    * branches end in pair dedups) and Spark supports multiple stateful
    * operators only in append mode, which the frame-count aggregation
    * cannot run without event time. The per-batch application is EXACT,
    * not an approximation: every match is stream-vs-frozen-static (a
    * blob arrives whole in its row and never matches other stream rows),
    * so a micro-batch's matches depend only on that batch's rows and the
    * union over batches equals the one-shot batch application of the
    * SAME body, [[graft.ops.Multimodal.mediaAgainstIndexes]] — stream
    * and batch cannot drift. Delivery contract: exactly the batch pair
    * set when each blob arrives once (at-least-once re-delivery re-emits
    * that blob's matches — the foreachBatch convention; the declarative
    * single-modality twins carry the cross-batch dedup state instead).
    * `sink` receives each micro-batch's (media_id, match_id, kind,
    * modality) frame. */
  def streamingMediaNearDup(stream: DataFrame, imageIndex: DataFrame,
      audioIndex: DataFrame, videoIndex: DataFrame, blobIndex: DataFrame,
      maxHamming: Int = 3, minMatchedFrames: Int = 2, thumbSide: Int = 8)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.ops.Multimodal.mediaAgainstIndexes(batch, imageIndex,
        audioIndex, videoIndex, blobIndex, maxHamming, minMatchedFrames,
        thumbSide), batchId)
    }

  /** Streaming twin of the CROSS-MODALITY PRE-DECODE GATE (round 18) —
    * the last media stage without one: per micro-batch, ONE
    * [[graft.ops.Multimodal.mediaMetaGate]] header walk gates the
    * batch, kept blobs run the full per-modality against-index body
    * and gated-out blobs only the decodeless exact-blob leg. One body,
    * two execution modes (the r15 convention): the plan is
    * [[graft.ops.Multimodal.gatedMediaAgainstIndexes]], so stream and
    * batch gating cannot drift; per-batch application is EXACT (every
    * match is stream-vs-frozen-static, so the union over micro-batches
    * equals the one-shot batch application — spec-proven across batch
    * boundaries including a junk cohort). foreachBatch for the same
    * mixed-stateful-operator reason as [[streamingMediaNearDup]].
    * Decode attempts stay ≡ the kept census per modality — the gate's
    * saving survives the move to streaming. */
  def streamingGatedMediaNearDup(stream: DataFrame, imageIndex: DataFrame,
      audioIndex: DataFrame, videoIndex: DataFrame, blobIndex: DataFrame,
      minSide: Int = 8, maxPixels: Long = 100000000L,
      minDurationMs: Long = 0L, maxDurationMs: Long = Long.MaxValue,
      maxHamming: Int = 3, minMatchedFrames: Int = 2, thumbSide: Int = 8)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.ops.Multimodal.gatedMediaAgainstIndexes(batch,
        imageIndex, audioIndex, videoIndex, blobIndex, minSide, maxPixels,
        minDurationMs, maxDurationMs, maxHamming, minMatchedFrames,
        thumbSide), batchId)
    }

  /** Streaming twin of [[graft.ops.Similarity.covarianceMatrix]]'s Gram
    * pass — live corpus moments (n, per-dim micro sums, upper-triangle
    * micro² product sums) maintained as ONE complete-mode global typed
    * aggregation: the [[graft.ops.Similarity.Gram]] buffer is mergeable,
    * so state is dim(dim+3)/2+1 longs total regardless of stream volume —
    * embedding-drift monitoring for an ingestion run. The covariance
    * frame itself is the batch finisher over the latest sink snapshot
    * (`Similarity.covarianceFromMoments` — the tokenDrift convention:
    * unpacking dim² rows is a second "aggregation" streaming cannot
    * nest). */
  def streamingGram(df: DataFrame, dim: Int,
      vecCol: String = "embedding"): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[Seq[Float]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
    // the typed select flattens the tuple output into _1/_2/_3 columns
    df.select(col(vecCol).cast("array<float>")).as[Seq[Float]]
      .select(graft.ops.Similarity.Gram(dim).toColumn.name("gram"))
      .select(col("_1").as("n"), col("_2").as("s_micro"),
        col("_3").as("p_micro2"))
  }

  /** Windowed event-type rates (the generic streaming rollup). */
  def eventRates(events: DataFrame, window: String = "5 minutes",
      watermark: String = "1 hour", typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(typeCol), col("n"))
}
