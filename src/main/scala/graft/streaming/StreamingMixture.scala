package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming source-mixture / ingest-budget admission — the streaming analog
  * of sp05 (ops/Sampling.scala source mixture), completing the batch→streaming
  * story for the sampling family the way [[StreamingAsof]] does for Temporal.
  *
  * Each source contributes documents to the training mix until its token
  * budget fills, greedily in a DETERMINISTIC total order: a document is
  * admitted iff the tokens consumed before it are still under the budget, so
  * the straddling document is included — exactly sp05's
  * `cum - tokens < budget` selection. Where batch sp05 orders by md5 rank,
  * the streaming total order is event time with an md5 tie-break
  * `(ts, md5(doc_id:seed), doc_id)` — the only order a stream can commit to
  * incrementally — and [[batchReference]] computes the same greedy selection
  * over that order with the sp05 window formulation, which the spec pins the
  * processor against under shuffled arrival and arbitrary micro-batching.
  *
  * Admission decisions are watermark-gated: a document is decided only once
  * no earlier-ordered document can still arrive (its event time is at or
  * below the watermark; transformWithState admits only rows with event time
  * above the previous batch's watermark, the equality-boundary contract
  * pinned empirically by TemporalStreamingSpec). Out-of-order arrival within
  * the watermark delay therefore cannot change the mix; rows later than the
  * watermark are dropped by the engine, never misadmitted.
  *
  * State per source is bounded by the watermark horizon, not the stream:
  * undecided documents ride in a list pruned on every decision, and the
  * consumed-token counter is a single long — a source that exhausted its
  * budget holds ONE long of state forever, no matter how many more documents
  * it sends (each is emitted `selected = false` and forgotten).
  */
object StreamingMixture {

  /** Input: a document of `tokens` length from `source` at event time `ts`. */
  final case class Doc(source: String, doc_id: Long, ts: Long, tokens: Long)
  /** Output: the admission decision; `cum_tokens` = tokens consumed by the
    * source after this decision (unchanged when rejected). */
  final case class Admission(source: String, doc_id: Long, ts: Long,
                             tokens: Long, selected: Boolean, cum_tokens: Long)

  /** Admit a watermarked document stream against per-source token budgets
    * (`budgets` overrides `defaultBudget` per source name). */
  def admit(docs: Dataset[Doc], defaultBudget: Long,
            budgets: Map[String, Long] = Map.empty,
            seed: String = "mix7"): Dataset[Admission] =
    docs.groupByKey(_.source)(Encoders.STRING)
      .transformWithState(new MixtureProcessor(defaultBudget, budgets, seed),
        TimeMode.EventTime(), OutputMode.Append())(Encoders.product[Admission])

  /** The equality-pin target: sp05's window formulation of the same greedy
    * selection over the stream's `(ts, md5(doc_id:seed), doc_id)` total
    * order. Single-budget form (the spec applies it per override too). */
  def batchReference(docs: DataFrame, budget: Long, seed: String = "mix7"): DataFrame = {
    val keyed = docs.withColumn("k",
      md5(concat(col("doc_id").cast("string"), lit(":" + seed))))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("ts"), col("k"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("selected", col("cum") - col("tokens") < budget)
  }

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  final case class PendDoc(ts: Long, k: String, doc_id: Long, tokens: Long)

  private final class MixtureProcessor(defaultBudget: Long,
                                       budgets: Map[String, Long], seed: String)
      extends StatefulProcessor[String, Doc, Admission] {

    @transient private var pending: ListState[PendDoc] = _
    @transient private var consumed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[PendDoc]("pending",
        Encoders.product[PendDoc], TTLConfig.NONE)
      consumed = getHandle.getValueState[Long]("consumed",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def rankKey(docId: Long): String = {
      val d = MessageDigest.getInstance("MD5")
        .digest(s"$docId:$seed".getBytes(StandardCharsets.UTF_8))
      d.map(b => f"$b%02x").mkString
    }

    override def handleInputRows(key: String, rows: Iterator[Doc],
                                 timerValues: TimerValues): Iterator[Admission] = {
      rows.foreach { r =>
        pending.appendValue(PendDoc(r.ts, rankKey(r.doc_id), r.doc_id, r.tokens))
        // decide once the watermark reaches the doc's event time — no
        // earlier-ordered doc can still be admitted then (same equality-
        // boundary contract as StreamingAsof; duplicate ts re-registers
        // the same timer, which is idempotent)
        getHandle.registerTimer(r.ts)
      }
      Iterator.empty // admission is watermark-driven, never eager
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Admission] = {
      val wm = math.max(timerValues.getCurrentWatermarkInMs(), expired.getExpiryTimeInMs)
      val ps = pending.get().toVector
      val (ripe, stillPending) = ps.partition(_.ts <= wm)
      if (ripe.isEmpty) Iterator.empty
      else {
        val budget = budgets.getOrElse(key, defaultBudget)
        var cum = if (consumed.exists()) consumed.get() else 0L
        val out = ripe.sortBy(p => (p.ts, p.k, p.doc_id)).map { p =>
          val sel = cum < budget // greedy: the straddling doc is included
          if (sel) cum += p.tokens
          Admission(key, p.doc_id, p.ts, p.tokens, sel, cum)
        }
        consumed.update(cum)
        pending.clear()
        stillPending.foreach(pending.appendValue)
        out.iterator
      }
    }
  }
}
