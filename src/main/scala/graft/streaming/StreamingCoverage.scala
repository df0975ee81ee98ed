package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode}

/** Streaming twin of sp16's cluster-balanced coverage selection — the online
  * curation shape: documents arrive as an embedding stream, each micro-batch
  * assigns them to the SAME deterministic regions the batch selector uses
  * ([[graft.ops.Similarity.coverageAnchors]] — one definition, so the stream
  * can never drift onto different regions), and a stateful per-region
  * processor maintains the current M most representative documents.
  *
  * Execution shape (what survives 100 TB/day):
  *  - assignment is STATELESS per batch: the anchor relation is a one-row
  *    broadcast aggregate fed to the codegen'd [[graft.spark.CosineArgmax]]
  *    kernel (the ss13 build's map-only coarse assignment — strict > over
  *    the aid-sorted array keeps the lowest winning aid, exactly sp16's
  *    max_by tie-break), then a broadcast equi-join re-attaches the chosen
  *    anchor for the representativeness cosine;
  *  - the ONLY state is <= M (cos, vec_id) entries per touched region
  *    (ListState, O(M) rewrite per admission — the StreamingTopK argument),
  *    bounded by regions x M forever, never by the stream;
  *  - Update mode emits a touched region's CURRENT ranked set each batch;
  *    the latest emission per region IS the batch sp16 answer over
  *    everything ingested (CoverageStreamingSpec pins exact equality).
  */
object StreamingCoverage {

  /** One ranked representative of a region's current coverage set. */
  final case class Kept(aid: Long, vec_id: Long, cos: Double, rank: Int)

  /** Per-batch assignment row (public: the Dataset encoder's generated
    * deserializer cannot instantiate a private class). */
  final case class Assigned(aid: Long, vec_id: Long, cos: Double)

  /** Per-batch assignment + stateful per-region top-M over a streaming
    * frame of `(vec_id, vec: array<double>)`. `anchors` is the STATIC
    * (aid, av, an) relation from the shared definition. */
  def coverageStream(vecs: DataFrame, anchors: DataFrame, m: Int): Dataset[Kept] = {
    require(m > 0)
    val sp = vecs.sparkSession
    import sp.implicits._
    val aAgg = broadcast(anchors
      .agg(sort_array(collect_list(struct(col("aid"), col("av"), col("an")))).as("arr")))
    val dotVV = graft.spark.VectorExpressions.dot(col("vec"), col("vec"))
    val assigned = vecs
      .withColumn("nrm", sqrt(dotVV))
      .crossJoin(aAgg)
      .select(col("vec_id"),
        graft.spark.VectorExpressions.cosArgmax(col("vec"), col("nrm"), col("arr")).as("aid"),
        col("vec"), col("nrm"))
      .join(broadcast(anchors), "aid")
      .select(col("aid"), col("vec_id"),
        (graft.spark.VectorExpressions.dot(col("vec"), col("av"))
          / (col("nrm") * col("an"))).as("cos"))
      .as[Assigned]
    assigned
      .groupByKey(_.aid)
      .transformWithState(new CoverageProcessor(m),
        TimeMode.None(), OutputMode.Update())(Encoders.product[Kept])
  }

  // state classes are public: Spark's generated encoder code must reach
  // their constructors and accessors, or it falls back to interpreting them
  final case class Entry(cos: Double, id: Long)

  private final class CoverageProcessor(m: Int)
      extends StatefulProcessor[Long, Assigned, Kept] {

    @transient private var best: ListState[Entry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      best = getHandle.getListState[Entry]("best", Encoders.product[Entry], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Assigned],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Kept] = {
      // same ordering as sp16's window: cos desc, vec_id asc
      val merged = (best.get().toVector.map(e => (e.cos, e.id)) ++
        rows.map(r => (r.cos, r.vec_id)))
        .sortBy { case (c, i) => (-c, i) }.take(m)
      best.clear()
      merged.foreach { case (c, i) => best.appendValue(Entry(c, i)) }
      merged.iterator.zipWithIndex.map { case ((c, i), r) => Kept(key, i, c, r + 1) }
    }
  }
}
