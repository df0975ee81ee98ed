package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming ordered funnel — the streaming analog of ev01's batch funnel
  * (graft.ops.Temporal: view -> click -> purchase with greedy alignment:
  * earliest step-1, then earliest step-2 at/after it, and so on), completing
  * the batch→streaming story for the sequence-pattern family the way
  * [[StreamingTopK]] does for top-k.
  *
  * Greedy alignment is ORDER-SENSITIVE: a step-2 event must not bind before
  * an earlier step-1 event that is still in flight. So per user the
  * processor buffers events while they can still be reordered (event time
  * above the watermark) and advances a tiny step automaton — one timestamp
  * per funnel step, set at most once — only over RIPE events (event time at
  * or below the watermark), replayed in full event-time order. Ties at the
  * same millisecond resolve lower-step-first, matching the batch `>=` step
  * comparisons (a click at exactly its view's time does qualify). Because
  * the engine admits no input at or below the reached watermark (the
  * equality-boundary contract pinned for [[StreamingAsof]]), a replayed
  * prefix is final: each automaton slot is written once and never retracted,
  * so every emission is append-safe the moment it happens.
  *
  * State per user is the unripe event buffer (bounded by the watermark
  * horizon, not the stream) plus `steps.size` longs for the automaton;
  * timers are one per buffered event time, so a zipf-hot user costs its
  * in-horizon events — the same bound [[StreamingAsof]] carries.
  */
object StreamingFunnel {

  /** Input: `user_id` did `event_type` at event time `ts` (epoch ms). */
  final case class FunnelEvent(user_id: Long, ts: Long, event_type: String)
  /** Output: `user_id` completed funnel `step` (1-based) at `t_ms`. */
  final case class StepHit(user_id: Long, step: Int, step_name: String, t_ms: Long)

  /** Align each user's stream against `steps` (e.g. view, click, purchase);
    * emit one StepHit per step the user completes, watermark-gated.
    *
    * `maxGaps` adds CONVERSION WINDOWS (the ev02 batch shape): maxGaps(i)
    * bounds how long after step i's bound time step i+1 may land — empty
    * means unbounded (the ev01 shape). An event past its window is skipped
    * exactly like the batch residual predicate skips it. */
  def funnel(events: Dataset[FunnelEvent], steps: Seq[String],
             maxGaps: Seq[Long] = Nil): Dataset[StepHit] = {
    require(steps.nonEmpty && steps.distinct == steps, "steps must be distinct and non-empty")
    require(maxGaps.isEmpty || maxGaps.length == steps.length - 1,
      s"need ${steps.length - 1} gaps (one per transition), got ${maxGaps.length}")
    require(maxGaps.forall(_ >= 0), "gaps must be non-negative")
    val gaps =
      if (maxGaps.isEmpty) IndexedSeq.fill(math.max(steps.length - 1, 0))(Long.MaxValue)
      else maxGaps.toIndexedSeq
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new FunnelProcessor(steps.toIndexedSeq, gaps),
        TimeMode.EventTime(), OutputMode.Append())(Encoders.product[StepHit])
  }

  /** The equality-pin target: ev01's exact batch shape — per-step partial
    * aggs joined against the strictly-shrinking previous step — generalized
    * to N steps, emitting the same per-user StepHit rows. Input: a DataFrame
    * with (user_id, ts, event_type). */
  def batchReference(events: DataFrame, steps: Seq[String],
                     maxGaps: Seq[Long] = Nil): DataFrame = {
    var prev: Option[DataFrame] = None
    val perStep = steps.zipWithIndex.map { case (name, i) =>
      val mine = events.filter(col("event_type") === name)
      val aligned = prev match {
        case None => mine.groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        case Some(p) =>
          val within = maxGaps.lift(i - 1) match {
            case Some(g) => col("ts") >= col("pt") && col("ts") <= col("pt") + g
            case None => col("ts") >= col("pt")
          }
          mine.join(p.select(col("user_id"), col("t").as("pt")), Seq("user_id"))
            .filter(within)
            .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      }
      prev = Some(aligned)
      aligned.select(col("user_id"), lit(i + 1).as("step"),
        lit(name).as("step_name"), col("t").as("t_ms"))
    }
    perStep.reduce(_ unionByName _)
  }

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  final case class Buffered(ts: Long, step: Int)
  /** Automaton: alignedAt(i) = event time step i+1 bound at; -1 = unbound.
    * Spark's Array encoder round-trips primitive arrays losslessly. */
  final case class Progress(alignedAt: Array[Long])

  private final class FunnelProcessor(steps: IndexedSeq[String], gaps: IndexedSeq[Long])
      extends StatefulProcessor[Long, FunnelEvent, StepHit] {

    @transient private var buf: ListState[Buffered] = _
    @transient private var prog: ValueState[Progress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Buffered]("buf", Encoders.product[Buffered], TTLConfig.NONE)
      prog = getHandle.getValueState[Progress]("prog", Encoders.product[Progress], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
                                 timerValues: TimerValues): Iterator[StepHit] = {
      val stepOf = steps.zipWithIndex.toMap
      rows.foreach { r =>
        stepOf.get(r.event_type).foreach { s =>
          buf.appendValue(Buffered(r.ts, s))
          // fires once the watermark reaches the event's time — the moment
          // no earlier event can still be admitted (see class scaladoc);
          // duplicate timestamps re-register the same timer (idempotent)
          getHandle.registerTimer(r.ts)
        }
      }
      Iterator.empty // emission is watermark-driven, never eager
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[StepHit] = {
      val wm = math.max(timerValues.getCurrentWatermarkInMs(), expired.getExpiryTimeInMs)
      val all = buf.get().toVector
      val (ripe, unripe) = all.partition(_.ts <= wm)
      if (ripe.isEmpty) return Iterator.empty
      val aligned = Option(prog.get()).map(_.alignedAt.clone())
        .getOrElse(Array.fill(steps.length)(-1L))
      val out = Vector.newBuilder[StepHit]
      // full event-time order, lower step first on ties — the batch `>=`
      // step comparisons admit same-millisecond step chains
      ripe.sortBy(b => (b.ts, b.step)).foreach { b =>
        val s = b.step
        // saturating window end: gaps are Long.MaxValue when unbounded.
        // Guard the ADD, not MaxValue-prev: gaps are >= 0 by construction so
        // MaxValue - g never overflows, while MaxValue - prev DOES for
        // negative prev (pre-epoch event times) and would silently unbound
        // the window.
        def windowEnd(prev: Long): Long = {
          val g = gaps(s - 1)
          if (prev > Long.MaxValue - g) Long.MaxValue else prev + g
        }
        if (aligned(s) < 0 &&
            (s == 0 || (aligned(s - 1) >= 0 && b.ts >= aligned(s - 1) &&
              b.ts <= windowEnd(aligned(s - 1))))) {
          aligned(s) = b.ts
          out += StepHit(key, s + 1, steps(s), b.ts)
        }
      }
      prog.update(Progress(aligned))
      if (unripe.isEmpty) buf.clear()
      else { buf.clear(); unripe.foreach(buf.appendValue) }
      out.result().iterator
    }
  }
}
