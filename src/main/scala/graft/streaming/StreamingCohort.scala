package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming cohort activation — the event-time twin of ev05's batch cohort
  * retention (graft.ops.Temporal): a user's cohort is the epoch-week of
  * their FIRST event, and the user "activates" each (cohort, period) cell at
  * most once — the streaming output is exactly ev05's distinct
  * (user, cohort_week, period) relation, emitted incrementally. Summing
  * PeriodHits per (cohort_week, period) downstream reproduces the batch
  * retention matrix at any point in time.
  *
  * The cohort assignment is ORDER-SENSITIVE the same way the funnel is: a
  * user's earliest event may arrive late, and an eager assignment from the
  * first ARRIVING event would pin the wrong cohort. So the processor
  * buffers unripe events and fixes the cohort only from WATERMARK-RIPE
  * events replayed in event-time order (the [[StreamingFunnel]] replay
  * contract): once the first ripe event binds the cohort, the engine admits
  * no input at or below the watermark, so every later event has a strictly
  * later time and the binding is final — emissions are append-safe.
  *
  * State per user: the unripe buffer (bounded by the watermark horizon) +
  * the cohort week + the set of activated periods, capped at `maxPeriods`
  * DISTINCT periods (weekly periods make the cap ~20 years of activity at
  * the default; beyond it new periods are dropped — the documented bound,
  * matching the family's capped-state convention). Event times are
  * non-negative epochs (the engine's watermark floor drops negative times —
  * pinned in FunnelStreamingSpec), so truncating division equals the batch
  * `div` bucketing exactly.
  */
object StreamingCohort {

  /** Input: `user_id` was active at event time `ts` (epoch ms). */
  final case class UserEvent(user_id: Long, ts: Long)
  /** Output: `user_id` first became active in week-period `period` of its
    * cohort — one row per (user, period), append-final. */
  final case class PeriodHit(user_id: Long, cohort_week: Long, period: Long)

  val WeekMs: Long = 7L * 86400000L

  /** Watermarked streaming activation. `events` must carry a watermark on
    * its event-time column. */
  def cohorts(events: Dataset[UserEvent], weekMs: Long = WeekMs,
              maxPeriods: Int = 1024): Dataset[PeriodHit] = {
    require(weekMs > 0, "weekMs must be positive")
    require(maxPeriods > 0, "maxPeriods must be positive")
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new CohortProcessor(weekMs, maxPeriods),
        TimeMode.EventTime(), OutputMode.Append())(Encoders.product[PeriodHit])
  }

  /** The equality-pin target: ev05's distinct per-user activation relation
    * (the `cohorted` frame the batch retention matrix aggregates). Input: a
    * DataFrame with (user_id, ts). */
  def batchReference(events: DataFrame, weekMs: Long = WeekMs): DataFrame = {
    val first = events.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    events.join(first, Seq("user_id"))
      .select(col("user_id"),
        expr(s"first_ts div $weekMs").as("cohort_week"),
        (expr(s"ts div $weekMs") - expr(s"first_ts div $weekMs")).as("period"))
      .distinct()
  }

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  /** Cohort week + activated periods (sorted, capped, each present once). */
  final case class CohortState(cohortWeek: Long, periods: Array[Long])

  private final class CohortProcessor(weekMs: Long, maxPeriods: Int)
      extends StatefulProcessor[Long, UserEvent, PeriodHit] {

    @transient private var buf: ListState[Long] = _
    @transient private var st: ValueState[CohortState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Long]("buf", Encoders.scalaLong, TTLConfig.NONE)
      st = getHandle.getValueState[CohortState]("st", Encoders.product[CohortState], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[PeriodHit] = {
      rows.foreach { r =>
        buf.appendValue(r.ts)
        getHandle.registerTimer(r.ts) // ripe the moment no earlier event can arrive
      }
      Iterator.empty // emission is watermark-driven, never eager
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[PeriodHit] = {
      val wm = math.max(timerValues.getCurrentWatermarkInMs(), expired.getExpiryTimeInMs)
      val all = buf.get().toVector
      val (ripe, unripe) = all.partition(_ <= wm)
      if (ripe.isEmpty) return Iterator.empty
      val sorted = ripe.sorted
      val (cohort, periods) = Option(st.get())
        .map(s => (s.cohortWeek, s.periods.to(scala.collection.mutable.SortedSet)))
        .getOrElse((sorted.head / weekMs, scala.collection.mutable.SortedSet.empty[Long]))
      val out = Vector.newBuilder[PeriodHit]
      sorted.foreach { ts =>
        val p = ts / weekMs - cohort
        if (!periods.contains(p) && periods.size < maxPeriods) {
          periods += p
          out += PeriodHit(key, cohort, p)
        }
      }
      st.update(CohortState(cohort, periods.toArray))
      if (unripe.isEmpty) buf.clear()
      else { buf.clear(); unripe.foreach(buf.appendValue) }
      out.result().iterator
    }
  }
}
