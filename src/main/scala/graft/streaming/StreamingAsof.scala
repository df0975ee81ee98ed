package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming event-time as-of join — the feature-lookup shape of
  * [[graft.ops.AsofJoin]] against a slowly-changing right side, via
  * `transformWithState` (SURVEY.md §2.D north-star extensions).
  *
  * Semantics match the batch operator exactly: each probe (left row) is
  * answered by the right row with the greatest `f_ts <= p_ts` on its key
  * (ties on time resolve to the greatest payload), left-outer when no right
  * row qualifies. The streaming part is WHEN that answer is emitted: a probe
  * is held in state until the watermark reaches its event time — only then
  * can no qualifying right row still arrive, INCLUDING at the equality
  * boundary: Spark's transformWithState drops input rows with event time <=
  * the late-events watermark (the previous micro-batch's watermark), so once
  * wm >= p_ts no feature with f_ts <= p_ts can be admitted anymore
  * (verified empirically on 4.1: a feature at f_ts == wm sent in a later
  * micro-batch never reaches the processor; a feature arriving in the SAME
  * micro-batch that ripens the probe is appended before timers run and is
  * visible). The emitted answer is therefore point-in-time correct even when
  * a right row lands in a later micro-batch than the probe it serves (the
  * "late right row" case an eager lookup gets wrong; pinned by
  * TemporalStreamingSpec).
  *
  * State per key is bounded by the watermark horizon, not the stream:
  *  - pending probes: only those with `p_ts` > watermark (resolved +
  *    removed once the watermark reaches them);
  *  - right history: features newer than the GC guard (min of watermark and
  *    the oldest pending probe) plus ONE latest-at-guard feature — any future
  *    probe arrives with `p_ts` ≥ watermark, so older history is
  *    unreachable and is pruned on every timer.
  * Timers are one per event timestamp (probe or feature) — O(active
  * horizon) per key, the shape that survives an unbounded key space.
  */
object StreamingAsof {

  /** Right side: a feature/dimension update for `key` effective at `f_ts`. */
  final case class Feature(key: Long, f_ts: Long, f_value: Double)
  /** Left side: a probe (event) asking for the key's state as of `p_ts`. */
  final case class Probe(key: Long, p_ts: Long, probe_id: Long)
  /** Union envelope: side 0 = feature (right), side 1 = probe (left). */
  final case class AsofRow(key: Long, ts: Long, side: Int, id: Long, v: Double)
  final case class Enriched(probe_id: Long, key: Long, p_ts: Long,
                            f_ts: Option[Long], f_value: Option[Double])

  /** As-of over a pre-unioned stream (both sides watermarked upstream). */
  def backward(rows: Dataset[AsofRow]): Dataset[Enriched] =
    rows.groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(new AsofProcessor, TimeMode.EventTime(),
        OutputMode.Append())(Encoders.product[Enriched])

  /** Convenience wiring for separate streams: tag + union, then [[backward]].
    * Each input must carry its own watermark (the engine tracks the min). */
  def enrich(features: Dataset[Feature], probes: Dataset[Probe]): Dataset[Enriched] = {
    implicit val enc = Encoders.product[AsofRow]
    backward(
      features.map(f => AsofRow(f.key, f.f_ts, 0, 0L, f.f_value))
        .unionByName(probes.map(p => AsofRow(p.key, p.p_ts, 1, p.probe_id, 0.0))))
  }

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  final case class Feat(ts: Long, v: Double)
  final case class Pend(ts: Long, id: Long)

  private final class AsofProcessor extends StatefulProcessor[Long, AsofRow, Enriched] {

    @transient private var feats: ListState[Feat] = _
    @transient private var pending: ListState[Pend] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      feats = getHandle.getListState[Feat]("feats", Encoders.product[Feat], TTLConfig.NONE)
      pending = getHandle.getListState[Pend]("pending", Encoders.product[Pend], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[AsofRow],
                                 timerValues: TimerValues): Iterator[Enriched] = {
      rows.foreach { r =>
        if (r.side == 0) {
          feats.appendValue(Feat(r.ts, r.v))
          // cleanup timer: without it a key that only ever receives features
          // (no probes) would grow its right history forever — the timer
          // fires once the watermark reaches f_ts and prunes history to the
          // single latest-at-guard feature
          getHandle.registerTimer(r.ts)
        } else {
          pending.appendValue(Pend(r.ts, r.id))
          // fires once the watermark reaches the probe's event time — safe
          // even at equality, because Spark admits only input rows with
          // event time > the late-events watermark (see class scaladoc).
          // Duplicate timestamps re-register the same timer (idempotent).
          getHandle.registerTimer(r.ts)
        }
      }
      Iterator.empty // emission is watermark-driven, never eager
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Enriched] = {
      val wm = math.max(timerValues.getCurrentWatermarkInMs(), expired.getExpiryTimeInMs)
      val fs = feats.get().toVector
      val ps = pending.get().toVector
      // <= is safe at the equality boundary: a feature with f_ts == wm can
      // no longer be admitted (late-events filter is ts <= previous wm), and
      // one arriving in THIS batch was appended before timers ran
      val (ripe, stillPending) = ps.partition(_.ts <= wm)
      // answer = greatest (f_ts, payload) among f_ts <= p_ts — the batch
      // operator's exact tie-break (time, then payload)
      val out = ripe.sortBy(p => (p.ts, p.id)).map { p =>
        val cands = fs.filter(_.ts <= p.ts)
        if (cands.isEmpty) Enriched(p.id, key, p.ts, None, None)
        else {
          val best = cands.maxBy(f => (f.ts, f.v))
          Enriched(p.id, key, p.ts, Some(best.ts), Some(best.v))
        }
      }
      if (ripe.nonEmpty) {
        if (stillPending.isEmpty) pending.clear()
        else { pending.clear(); stillPending.foreach(pending.appendValue) }
      }
      // GC the right history: guard = the oldest time any unresolved or
      // future probe can still ask about (future probes arrive >= watermark)
      val guard = (stillPending.map(_.ts) :+ wm).min
      val (newer, older) = fs.partition(_.ts > guard)
      val keepAtGuard = if (older.isEmpty) Vector.empty
        else Vector(older.maxBy(f => (f.ts, f.v)))
      val kept = keepAtGuard ++ newer
      if (kept.length < fs.length) {
        feats.clear()
        kept.foreach(feats.appendValue)
      }
      out.iterator
    }
  }
}
