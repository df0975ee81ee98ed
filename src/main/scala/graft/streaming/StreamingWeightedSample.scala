package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, ValueState}

/** Streaming twin of sp18's weighted sampling without replacement — the
  * online form Efraimidis-Spirakis was designed for: because each document's
  * key = −ln(u)/w is a pure deterministic function of the document (the
  * shared [[graft.ops.Sampling.esKeyCol]] definition), the k smallest keys
  * of a stream can be maintained incrementally, and the running sample after
  * any prefix EQUALS the batch draw over that prefix — no epoch, no rescan,
  * no approximation (WeightedSampleStreamingSpec pins exact equality).
  *
  * Execution shape (what survives 100 TB/day): scoring is map-only (the
  * quality weight and the LCG key are per-row projections); the ONLY state
  * is one list of ≤k entries + a seen counter. The stateful fold ADMITS
  * against the current k-th key — a candidate worse than the incumbent
  * boundary never allocates — so per-batch memory is O(k) regardless of
  * batch size, and re-sorts happen only on admission (O(k log k) each, and
  * admissions decay like k·ln(n)/n as the sample warms). The single-key
  * funnel is the A-ES contract (one global sample); a deployment that needs
  * more intake parallelism salts a pre-reduction stage in front — the heap
  * fold here is the merge those partials would feed.
  *
  * Update mode: each batch that touches the sample emits the CURRENT ranked
  * sample stamped with n_seen (total docs ingested), so a consumer takes the
  * rows of the max n_seen as "the sample so far".
  */
object StreamingWeightedSample {

  /** One ranked row of the running sample after `n_seen` ingested docs. */
  final case class Sampled(n_seen: Long, rank: Int, doc_id: Long,
                           source: String, w: Double, key: Double)

  /** Scored input row (public: the Dataset encoder's generated deserializer
    * cannot instantiate a private class). */
  final case class Scored(doc_id: Long, source: String, w: Double, key: Double)

  /** Maintain the running k-item weighted sample over a streaming frame of
    * `(doc_id, source, text, ...)`. */
  def sampleStream(docs: DataFrame, k: Int): Dataset[Sampled] = {
    require(k > 0)
    val sp = docs.sparkSession
    import sp.implicits._
    val scored = docs.select(col("doc_id"), col("source"),
      graft.ops.Sampling.esWeightCol.as("w"),
      graft.ops.Sampling.esKeyCol.as("key")).as[Scored]
    scored.groupByKey(_ => 0)(Encoders.scalaInt)
      .transformWithState(new SampleProcessor(k),
        TimeMode.None(), OutputMode.Update())(Encoders.product[Sampled])
  }

  /** The equality-pin target: sp18's exact selection (k smallest keys,
    * ties to the lower doc_id) over a batch frame. */
  def batchReference(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), col("source"),
        graft.ops.Sampling.esWeightCol.as("w"),
        graft.ops.Sampling.esKeyCol.as("key"))
      .orderBy(col("key"), col("doc_id")).limit(k)

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  final case class Entry(key: Double, doc_id: Long, source: String, w: Double)

  private final class SampleProcessor(k: Int)
      extends StatefulProcessor[Int, Scored, Sampled] {

    @transient private var best: ListState[Entry] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      best = getHandle.getListState[Entry]("best", Encoders.product[Entry], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Int, rows: Iterator[Scored],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Sampled] = {
      // sorted ascending by (key, doc_id) — the sp18 order
      var buf = best.get().toVector.sortBy(e => (e.key, e.doc_id))
      var n = if (seen.exists()) seen.get() else 0L
      var changed = false
      rows.foreach { r =>
        n += 1
        // At-least-once sources re-deliver rows; a doc's key is a pure
        // function of the doc, so a re-delivery is detectable exactly when
        // it matters: the only way a duplicate could ever re-enter is as
        // an INCUMBENT while the sample is still below k (an evicted or
        // never-admitted doc always loses to the incumbent boundary, whose
        // worst key only improves), so the incumbent scan below makes the
        // sample duplicate-free under any delivery discipline. It runs
        // only for would-admit candidates (rare once the sample warms).
        // n_seen still counts DELIVERIES, not distinct docs — exactly-once
        // sources (the pinned prefix-equality contract) are unaffected.
        val admit = (buf.length < k || {
          val worst = buf.last
          r.key < worst.key || (r.key == worst.key && r.doc_id < worst.doc_id)
        }) && !buf.exists(_.doc_id == r.doc_id)
        if (admit) {
          buf = (buf :+ Entry(r.key, r.doc_id, r.source, r.w))
            .sortBy(e => (e.key, e.doc_id)).take(k)
          changed = true
        }
      }
      seen.update(n)
      if (changed) {
        best.clear()
        buf.foreach(best.appendValue)
      }
      // emit the current sample whenever the batch saw data (n moved), so
      // every emission's n_seen is a valid prefix answer
      buf.iterator.zipWithIndex.map { case (e, i) =>
        Sampled(n, i + 1, e.doc_id, e.source, e.w, e.key)
      }
    }
  }
}
