package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming windowed per-group top-k — the streaming analog of sp07's
  * bounded-heap cap (graft.spark.TopKByLong), completing the batch→streaming
  * story for the cap/top-k family the way [[StreamingMixture]] does for the
  * mixture family.
  *
  * Each (group, tumbling event-time window) keeps the k best `(score, id)`
  * pairs seen so far — same ordering as `topk_by` (higher score wins, ties to
  * the LOWER id) — and emits them as ranked rows once the watermark passes
  * the window end (append mode, one final answer per window; no retraction
  * churn). The batch reference is literally the native aggregate:
  * `groupBy(group, window).agg(topk_by(score, id, k))` exploded — the spec
  * pins streaming == batch on seeded random data under shuffled arrival and
  * arbitrary micro-batching, which also cross-checks the aggregate's heap
  * against an independent implementation.
  *
  * State per (group, open window) is ≤k entries + one timer, pruned on
  * emission — bounded by k·groups·(windows inside the watermark horizon),
  * never by the stream. Late rows (event time at or below the watermark) are
  * dropped by the engine before the processor sees them, so an emitted
  * window is final — the same equality-boundary contract as
  * [[StreamingAsof]]/[[StreamingMixture]].
  */
object StreamingTopK {

  /** Input: a scored item in `group` at event time `ts` (epoch ms). */
  final case class Scored(group: String, id: Long, ts: Long, score: Long)
  /** Output: one ranked row of a closed window's top-k. */
  final case class Ranked(group: String, window_start: Long, rank: Int,
                          id: Long, score: Long)

  /** Windowed top-k over a watermarked stream: tumbling windows of
    * `windowMs`, best `k` per (group, window) by (score desc, id asc). */
  def topk(items: Dataset[Scored], windowMs: Long, k: Int): Dataset[Ranked] = {
    require(windowMs > 0 && k > 0)
    implicit val keyEnc = Encoders.product[(String, Long)]
    items
      .groupByKey(s => (s.group, Math.floorDiv(s.ts, windowMs) * windowMs))
      .transformWithState(new TopKProcessor(windowMs, k),
        TimeMode.EventTime(), OutputMode.Append())(Encoders.product[Ranked])
  }

  /** The equality-pin target: the SAME windows through the native bounded
    * top-k aggregate (graft.spark.TopKAggregate.topkBy), exploded to ranked
    * rows. */
  def batchReference(items: DataFrame, windowMs: Long, k: Int): DataFrame =
    items
      .withColumn("window_start", (col("ts") - pmod(col("ts"), lit(windowMs))))
      .groupBy(col("group"), col("window_start"))
      .agg(graft.spark.TopKAggregate.topkBy(col("score"), col("id"), k).as("top"))
      .select(col("group"), col("window_start"), posexplode(col("top")))
      .select(col("group"), col("window_start"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("id"), col("col.score").as("score"))

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  final case class Entry(score: Long, id: Long)

  private final class TopKProcessor(windowMs: Long, k: Int)
      extends StatefulProcessor[(String, Long), Scored, Ranked] {

    // a ListState of <=k entries: k is small (a cap), so the O(k) rewrite per
    // admission is cheaper than maintaining an ordered structure in the store
    @transient private var best: ListState[Entry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      best = getHandle.getListState[Entry]("best", Encoders.product[Entry], TTLConfig.NONE)

    override def handleInputRows(key: (String, Long), rows: Iterator[Scored],
                                 timerValues: TimerValues): Iterator[Ranked] = {
      val merged = (best.get().toVector.map(e => (e.score, e.id)) ++
        rows.map(r => (r.score, r.id)))
        .sortBy { case (s, i) => (-s, i) }.take(k)
      best.clear()
      merged.foreach { case (s, i) => best.appendValue(Entry(s, i)) }
      // window end - 1: timers fire when the watermark REACHES the timestamp,
      // and a row with ts == window end belongs to the NEXT window — so the
      // window is final once wm >= end-1 (rows at or below wm are dropped)
      getHandle.registerTimer(key._2 + windowMs - 1)
      Iterator.empty
    }

    override def handleExpiredTimer(key: (String, Long), timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Ranked] = {
      val out = best.get().toVector.sortBy(e => (-e.score, e.id)).zipWithIndex
        .map { case (e, i) => Ranked(key._1, key._2, i + 1, e.id, e.score) }
      best.clear()
      out.iterator
    }
  }
}
