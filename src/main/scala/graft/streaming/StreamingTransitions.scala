package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming event-transition edges — the event-time twin of ev06's batch
  * transition matrix (graft.ops.Temporal): for each user's TIME-ORDERED
  * stream, emit one (from_type, to_type) edge per consecutive pair, with
  * '^start' marking the first event. Counting the emitted edges per
  * (from, to) downstream reproduces the batch matrix at any point in time.
  *
  * Adjacency is ORDER-SENSITIVE — an event arriving late must slot between
  * its true neighbors, not at the arrival position — so the processor
  * buffers unripe events and emits only over WATERMARK-RIPE events replayed
  * in full event-time order (the [[StreamingFunnel]] replay contract). The
  * batch tie-break on equal timestamps is (ms, event_id), mirrored here, so
  * the edge sequence is deterministic under any arrival order. Once a ripe
  * prefix is replayed the engine admits nothing at or below the watermark,
  * so every emitted edge is final — the chain can only EXTEND.
  *
  * State per user: the unripe buffer (watermark-horizon-bounded) plus ONE
  * (ts, event_id, type) triple — the last ripe event, the only thing the
  * next edge needs. This is the minimal-state member of the replay family
  * (the funnel keeps steps.size longs, the cohort a period set).
  */
object StreamingTransitions {

  /** Input: `user_id` did `event_type` at event time `ts` (epoch ms);
    * `event_id` is the batch tie-break for same-millisecond events. */
  final case class TypedEvent(user_id: Long, ts: Long, event_id: Long, event_type: String)
  /** Output: one edge per consecutive event pair, in chain order. */
  final case class Edge(user_id: Long, from_type: String, to_type: String, at_ms: Long)

  /** Watermarked streaming edges. `events` must carry a watermark on its
    * event-time column. */
  def transitions(events: Dataset[TypedEvent]): Dataset[Edge] =
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TransitionProcessor,
        TimeMode.EventTime(), OutputMode.Append())(Encoders.product[Edge])

  /** The equality-pin target: ev06's lag-window edge relation (one row per
    * event, from_type = previous type or '^start'). Input: a DataFrame with
    * (user_id, ts, event_id, event_type). */
  def batchReference(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("from_type", coalesce(lag(col("event_type"), 1).over(w), lit("^start")))
      .select(col("user_id"), col("from_type"), col("event_type").as("to_type"),
        col("ts").as("at_ms"))
  }

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  /** The last ripe event of the chain. */
  final case class Last(ts: Long, eventId: Long, tpe: String)

  private final class TransitionProcessor
      extends StatefulProcessor[Long, TypedEvent, Edge] {

    @transient private var buf: ListState[Last] = _
    @transient private var last: ValueState[Last] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Last]("buf", Encoders.product[Last], TTLConfig.NONE)
      last = getHandle.getValueState[Last]("last", Encoders.product[Last], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
                                 timerValues: TimerValues): Iterator[Edge] = {
      rows.foreach { r =>
        buf.appendValue(Last(r.ts, r.event_id, r.event_type))
        getHandle.registerTimer(r.ts)
      }
      Iterator.empty // emission is watermark-driven, never eager
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Edge] = {
      val wm = math.max(timerValues.getCurrentWatermarkInMs(), expired.getExpiryTimeInMs)
      val all = buf.get().toVector
      val (ripe, unripe) = all.partition(_.ts <= wm)
      if (ripe.isEmpty) return Iterator.empty
      var prev = Option(last.get())
      val out = Vector.newBuilder[Edge]
      ripe.sortBy(e => (e.ts, e.eventId)).foreach { e =>
        out += Edge(key, prev.map(_.tpe).getOrElse("^start"), e.tpe, e.ts)
        prev = Some(e)
      }
      last.update(prev.get)
      if (unripe.isEmpty) buf.clear()
      else { buf.clear(); unripe.foreach(buf.appendValue) }
      out.result().iterator
    }
  }
}
