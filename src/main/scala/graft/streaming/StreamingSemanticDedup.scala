package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming semantic dedup — the streaming twin of dd11's batch
  * cluster-then-dedup (graft.ops.Similarity): every vector assigns map-side
  * to its nearest of K FIXED centroids (same squared-L2 argmin, ties to the
  * lowest centroid id), and within a cluster a vector is a DUPLICATE when
  * its cosine against any EARLIER vector of that cluster reaches `tau` —
  * the keep-first contract in EVENT TIME ((ts, vec_id) order; dd11's batch
  * keep-first orders by vec_id, so the two produce identical verdicts
  * whenever id order extends time order — pinned by the equality spec).
  *
  * Ordering is watermark-replayed like [[StreamingFunnel]]: unripe vectors
  * buffer per cluster; when the watermark passes an event time, the ripe
  * prefix replays in (ts, vec_id) order against the cluster's ADMITTED
  * vector list (kept AND dropped vectors both — dd11's "earlier similar
  * neighbor" is any earlier vector, not only kept exemplars, so chains
  * a~b, b~c, a!~c drop BOTH b and c on both sides). Emissions are
  * append-final by the engine's no-late-input watermark contract (the
  * boundary pin shared with [[StreamingAsof]]).
  *
  * State per cluster = the admitted vector list, capped at `cap`: once a
  * cluster admits `cap` vectors, later arrivals pass through kept-but-
  * uncompared (keep = true, n_earlier_sim = 0) — the streaming analog of
  * the batch ClusterCap's hot-cluster pass-through (the batch form excludes
  * the whole over-cap cluster up front because it sees final occupancy;
  * the streaming form can only bound the admitted prefix — both are
  * backstops whose real dial is K, which must grow with the corpus).
  */
object StreamingSemanticDedup {

  /** Input: vector `vec_id` with embedding `vec` at event time `ts` (ms). */
  final case class VecEvent(vec_id: Long, ts: Long, vec: Array[Double])
  /** Verdict per vector: cluster, keep-first flag, earlier similar count. */
  final case class Verdict(vec_id: Long, cluster: Long, keep: Boolean, n_earlier_sim: Long)

  /** Nearest-centroid id (squared L2, strict < keeps the first minimum =
    * lowest cid when the list is cid-sorted — the dd11/ss09 tie rule). */
  def assign(centroids: IndexedSeq[(Long, Array[Double])], v: Array[Double]): Long = {
    var best = -1L
    var bd = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)._2
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i) - cen(i); d += x * x; i += 1 }
      if (d < bd) { bd = d; best = centroids(c)._1 }
      c += 1
    }
    best
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Streaming verdicts over a watermarked VecEvent stream. `centroids` is
    * the fixed coarse index (the dd11 seed — in production the k-means
    * output, broadcast by closure capture into the map-side assign). */
  def dedup(events: Dataset[VecEvent], centroids: Seq[(Long, Array[Double])],
            tau: Double, cap: Int = 4096): Dataset[Verdict] = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(cap > 0, "cap must be positive")
    val cs = centroids.sortBy(_._1).toIndexedSeq
    events.groupByKey(e => assign(cs, e.vec))(Encoders.scalaLong)
      .transformWithState(new SemanticProcessor(tau, cap),
        TimeMode.EventTime(), OutputMode.Append())(Encoders.product[Verdict])
  }

  /** Sequential reference for the spec: the same verdicts from a per-cluster
    * fold in (ts, vec_id) order — and, when id order extends time order,
    * exactly dd11's earlier-neighbor keep-first. Test-side only (driver
    * memory); the distributed form is the batch dd11 query itself. */
  def sequentialReference(rows: Seq[VecEvent], centroids: Seq[(Long, Array[Double])],
                          tau: Double, cap: Int = 4096): Seq[Verdict] = {
    val cs = centroids.sortBy(_._1).toIndexedSeq
    rows.groupBy(e => assign(cs, e.vec)).toSeq.flatMap { case (cluster, evs) =>
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      evs.sortBy(e => (e.ts, e.vec_id)).map { e =>
        if (admitted.length >= cap) Verdict(e.vec_id, cluster, keep = true, 0L)
        else {
          val sims = admitted.count(x => cosine(x, e.vec) >= tau)
          admitted += e.vec
          Verdict(e.vec_id, cluster, keep = sims == 0, sims.toLong)
        }
      }
    }
  }

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  final case class Admitted(vec: Array[Double])

  private final class SemanticProcessor(tau: Double, cap: Int)
      extends StatefulProcessor[Long, VecEvent, Verdict] {

    @transient private var buf: ListState[VecEvent] = _
    @transient private var admitted: ListState[Admitted] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[VecEvent]("buf", Encoders.product[VecEvent], TTLConfig.NONE)
      admitted = getHandle.getListState[Admitted]("adm", Encoders.product[Admitted], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[VecEvent],
                                 timerValues: TimerValues): Iterator[Verdict] = {
      rows.foreach { r =>
        buf.appendValue(r)
        getHandle.registerTimer(r.ts) // idempotent per event time
      }
      Iterator.empty // emission is watermark-driven, never eager
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Verdict] = {
      val wm = math.max(timerValues.getCurrentWatermarkInMs(), expired.getExpiryTimeInMs)
      val all = buf.get().toVector
      val (ripe, unripe) = all.partition(_.ts <= wm)
      if (ripe.isEmpty) return Iterator.empty
      val adm = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      admitted.get().foreach(a => adm += a.vec)
      val out = Vector.newBuilder[Verdict]
      ripe.sortBy(e => (e.ts, e.vec_id)).foreach { e =>
        if (adm.length >= cap) out += Verdict(e.vec_id, key, keep = true, 0L)
        else {
          val sims = adm.count(x => cosine(x, e.vec) >= tau)
          adm += e.vec
          admitted.appendValue(Admitted(e.vec))
          out += Verdict(e.vec_id, key, keep = sims == 0, sims.toLong)
        }
      }
      if (unripe.isEmpty) buf.clear()
      else { buf.clear(); unripe.foreach(buf.appendValue) }
      out.result().iterator
    }
  }
}
