package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming near-duplicate detection — the streaming analog of the batch
  * dd04 MinHash+LSH pipeline, for pipelines that must flag incoming documents
  * against the recent corpus as they arrive (ingest-time near-dup screening)
  * rather than in a backfill self-join.
  *
  * Shape: the signature is the SAME 64-permutation MinHash over 3-word
  * shingle hashes as batch dd04 (shared constants — [[graft.ops.Dedup]]
  * permA/permB/Mask — and the same fused native kernel), banded 16×4. Each
  * band row keys a `transformWithState` bucket; a bucket's state is the
  * first-arrived signatures within the event-time horizon. A new document
  * colliding with a stored one emits a candidate pair scored by signature
  * agreement (matching fraction of the 64 components — the unbiased Jaccard
  * estimate banding implies; the batch pipeline confirms with exact shingle
  * Jaccard, which a streaming operator cannot do without holding full shingle
  * sets in state — the signature estimate is the documented streaming
  * trade-off).
  *
  * Bounded state (the 100 TB/day properties):
  *  - per bucket at most `bucketCap` signatures — the dd04 BlockCap argument:
  *    k near-identical docs share all 16 band keys, so an uncapped bucket
  *    emits k²/2 pairs from ONE key; with the cap each arrival compares
  *    against ≤ bucketCap stored signatures. Mass-duplicate streams should
  *    run [[StreamingDedup]] first, exactly like exact-dedup-first in batch.
  *  - entries are pruned once the watermark passes ts + horizonMs (cleanup
  *    timers registered on arrival, the StreamingAsof pattern), so a
  *    probe-less bucket cannot hold state forever.
  *  - a colliding pair is a candidate in EVERY band the two docs share (up
  *    to 16 buckets see it), but is emitted exactly ONCE: both full
  *    signatures are in hand at collision time, so each bucket computes the
  *    smallest shared band (banding is a pure function of the signature) and
  *    only the bucket owning that band emits. One stateful operator, no
  *    cross-band dedup stage, no second state store — chaining a
  *    `dropDuplicatesWithinWatermark` would need a second watermark
  *    definition, which multiple-stateful-operator queries disallow.
  *
  * Determinism: micro-batches are unordered multisets, so each bucket
  * processes its batch slice in (ts, doc_id) order; given an arrival order
  * consistent with event time the admitted-set and pair-set are reproducible
  * and match the batch replay (pinned by NearDupStreamingSpec).
  */
object StreamingNearDup {

  /** 16 bands × 4 rows over the 64-component signature — aliases of
    * [[graft.ops.Dedup]]'s shared banding contract (one definition for the
    * batch LSH, this bucket processor, and the ingest twin's band log). */
  private[graft] val Bands = graft.ops.Dedup.Bands
  private[graft] val BandWidth = graft.ops.Dedup.BandWidth

  /** A document's MinHash signature at its event time. */
  final case class DocSig(doc_id: Long, ts: Long, sig: Seq[Long])
  /** One LSH band of a document's signature: the bucket key is (band, bkey). */
  final case class BandRow(band: Int, bkey: Long, doc_id: Long, ts: Long, sig: Seq[Long])
  /** Bucket key for the stateful operator (public: the groupByKey encoder's
    * generated code constructs it reflectively). */
  final case class BKey(band: Int, bkey: Long)
  /** Candidate near-dup pair: `est` = fraction of agreeing signature
    * components (Jaccard estimate); `ts` = the later doc's event time. */
  final case class CandPair(doc_a: Long, doc_b: Long, est: Double, ts: Long)

  /** Map (doc_id, ts, text) rows to [[DocSig]] with batch dd04's exact
    * signature (same shingles, same permutations, same native kernel) so a
    * doc scores identically whether it meets the corpus in a backfill or on
    * the stream. Narrow map — no shuffle, watermark-preserving. */
  def signatures(df: DataFrame, docId: Column, ts: Column, text: Column): Dataset[DocSig] = {
    import graft.ops.Dedup
    val spark = df.sparkSession
    import spark.implicits._
    df.select(docId.cast("long").as("doc_id"), ts.cast("long").as("ts"),
        graft.spark.SketchExpressions.minhashSig(Dedup.shingleHashes(text),
          Dedup.permA.toIndexedSeq, Dedup.permB.toIndexedSeq, Dedup.Mask).as("sig"))
      .as[DocSig]
  }

  /** Explode a signature into its 16 band rows (band hash = xxhash64 of the
    * 4-component slice, matching dd04's band key). */
  def bandRows(docs: Dataset[DocSig]): Dataset[BandRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.toDF()
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(graft.ops.Dedup.bandKeysCol(col("sig"))).as(Seq("band", "bkey")))
      .select(col("band"), col("bkey"), col("doc_id"), col("ts"), col("sig"))
      .as[BandRow]
  }

  /** Collision scoring contract for [[BucketProcessor]]: both stored
    * vectors are in hand at collision time, so a family plugs in its own
    * verify — the processor (state, timers, once-per-pair ownership) is
    * family-agnostic. Implementations must be small immutable case
    * classes: they serialize into the stateful operator. */
  sealed trait PairScorer extends Serializable {
    def score(a: Seq[Long], b: Seq[Long]): Double
    def keep(s: Double): Boolean
  }

  /** dd04's MinHash signature-agreement estimate (fraction of the 64
    * components that agree — the unbiased Jaccard estimate banding
    * implies); keep at `minEst` or above. */
  final case class SigAgreement(minEst: Double) extends PairScorer {
    def score(a: Seq[Long], b: Seq[Long]): Double = {
      var i = 0; var n = 0
      val len = math.min(a.length, b.length)
      while (i < len) { if (a(i) == b(i)) n += 1; i += 1 }
      n.toDouble / graft.ops.Dedup.P
    }
    def keep(s: Double): Boolean = s >= minEst
  }

  /** mm06/mm08's exact level-Hamming verify (sum of absolute level
    * differences); keep at `max` or below. Unlike the MinHash estimate
    * this is EXACT — the stored vector IS the full pHash level vector,
    * so the streaming operator gives the batch relation's answer, not an
    * estimate (the score emitted is the distance itself). */
  final case class HammingAtMost(max: Long) extends PairScorer {
    def score(a: Seq[Long], b: Seq[Long]): Double = {
      var i = 0; var s = 0L
      val len = math.min(a.length, b.length)
      while (i < len) { s += math.abs(a(i) - b(i)); i += 1 }
      s.toDouble
    }
    def keep(s: Double): Boolean = s <= max
  }

  /** Per-band collision events against the stored horizon. The input must
    * carry a watermark on its event-time column before [[bandRows]]. */
  def candidates(bands: Dataset[BandRow], horizonMs: Long, bucketCap: Int,
                 minEst: Double): Dataset[CandPair] =
    candidatesWith(bands, horizonMs, bucketCap, SigAgreement(minEst),
      Bands, BandWidth)

  /** [[candidates]] generalized over the band geometry and the collision
    * verify — the pHash twin ([[StreamingPhashNearDup]]) runs the SAME
    * processor with 2×4 level bands and the exact Hamming scorer instead
    * of duplicating the state machinery. */
  def candidatesWith(bands: Dataset[BandRow], horizonMs: Long, bucketCap: Int,
                     scorer: PairScorer, nBands: Int,
                     bandWidth: Int): Dataset[CandPair] =
    bands.groupByKey(b => BKey(b.band, b.bkey))(Encoders.product[BKey])
      .transformWithState(
        new BucketProcessor(horizonMs, bucketCap, scorer, nBands, bandWidth),
        TimeMode.EventTime(), OutputMode.Append())(Encoders.product[CandPair])

  /** End-to-end: signatures → bands → watermark → bucket collisions (already
    * once-per-pair — see the class doc). The watermark is assigned AFTER
    * banding so the event-time column survives to the stateful operator
    * (banding is a narrow per-row transform that never changes event
    * times). */
  def pairs(df: DataFrame, docId: Column, ts: Column, text: Column,
            horizonMs: Long, delay: String = "0 seconds",
            bucketCap: Int = 64, minEst: Double = 0.5): DataFrame = {
    val wmBands = bandRows(signatures(df, docId, ts, text)).toDF()
      .withColumn("ets", timestamp_millis(col("ts")))
      .withWatermark("ets", delay)
      .as[BandRow](Encoders.product[BandRow])
    candidates(wmBands, horizonMs, bucketCap, minEst)
      .select(col("doc_a"), col("doc_b"), col("est"), col("ts"))
  }

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  final case class Entry(ts: Long, doc_id: Long, sig: Seq[Long])

  private final class BucketProcessor(horizonMs: Long, bucketCap: Int,
                                      scorer: PairScorer, nBands: Int, bandWidth: Int)
    extends StatefulProcessor[BKey, BandRow, CandPair] {

    @transient private var stored: ListState[Entry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stored = getHandle.getListState[Entry]("stored", Encoders.product[Entry], TTLConfig.NONE)

    /** Smallest band whose width-sized slices are equal, or -1. Slice
      * equality implies band-key equality, so the owning bucket is
      * guaranteed to also see the collision; a pure band-key collision
      * (key-equal, slice-unequal — possible for the xxhash64 MinHash keys,
      * impossible for pHash's injective packed keys) is never emitted by
      * any bucket — correct, since such a pair shares no actual band. */
    private def firstSharedBand(a: Seq[Long], b: Seq[Long]): Int = {
      var bnd = 0
      while (bnd < nBands) {
        var i = bnd * bandWidth; var eq = true
        val end = (bnd + 1) * bandWidth
        while (i < end && eq) { if (a(i) != b(i)) eq = false; i += 1 }
        if (eq) return bnd
        bnd += 1
      }
      -1
    }

    override def handleInputRows(key: BKey, rows: Iterator[BandRow],
                                 timerValues: TimerValues): Iterator[CandPair] = {
      // bucket slices are tiny by the cap argument; (ts, doc_id) order makes
      // the admitted set independent of Spark's in-batch row order
      val incoming = rows.toVector.sortBy(r => (r.ts, r.doc_id))
      val buf = scala.collection.mutable.ArrayBuffer.empty[Entry]
      stored.get().foreach(buf += _)
      val out = Vector.newBuilder[CandPair]
      var appended = false
      incoming.foreach { r =>
        buf.foreach { e =>
          // emit only from the smallest shared band's bucket (class doc):
          // exactly-once per pair with no downstream dedup operator
          if (e.doc_id != r.doc_id && firstSharedBand(e.sig, r.sig) == key.band) {
            val est = scorer.score(e.sig, r.sig)
            if (scorer.keep(est))
              out += CandPair(math.min(e.doc_id, r.doc_id), math.max(e.doc_id, r.doc_id),
                est, math.max(e.ts, r.ts))
          }
        }
        if (buf.length < bucketCap && !buf.exists(_.doc_id == r.doc_id)) {
          buf += Entry(r.ts, r.doc_id, r.sig)
          appended = true
          // cleanup timer: prunes this entry once the watermark passes its
          // horizon even if the bucket never sees another arrival
          getHandle.registerTimer(r.ts + horizonMs)
        }
      }
      if (appended) { stored.clear(); buf.foreach(stored.appendValue) }
      out.result().iterator
    }

    override def handleExpiredTimer(key: BKey, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[CandPair] = {
      val wm = math.max(timerValues.getCurrentWatermarkInMs(), expired.getExpiryTimeInMs)
      val kept = stored.get().filter(_.ts + horizonMs > wm).toVector
      stored.clear()
      if (kept.nonEmpty) kept.foreach(stored.appendValue)
      Iterator.empty
    }
  }
}
