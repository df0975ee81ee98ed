package opbench

import com.fasterxml.jackson.databind.JsonNode

import graft.connect._
import graft.jsonata.JsonataException

/** `smt_records`: the Connect-style SMT on one thread with no Spark. Every
  * seeded record goes through `JsonataTransform.apply` under each of the
  * reference's three canonical configs in turn, in a closed loop. This is
  * the only workload where `RecordCodec` runs. */
final class SmtWorkload(seed: Long) extends Workload {
  import SmtWorkload._

  private var configs: Vector[JsonataTransform.Config] = Vector.empty
  private var events: Vector[Event] = Vector.empty
  private var records: Array[CRecord] = Array.empty
  private var evalAlloc = 0L
  private val shares = new WorkShare

  def setup(round: Int): Unit = {
    configs = Vector(RemoveEmail, Tombstone, Projection).map(e => JsonataTransform.Config(Workload.roundText(e, round)))
    events = Data.events(seed, Records)
    records = events.map(Data.record).toArray
    var i = 0
    while (i < WarmupApplies) {
      JsonataTransform.apply(records((i / 3) % records.length), configs(i % 3))
      i += 1
    }
  }

  def run(deadlineNs: Long, tracer: Option[Tracer]): Phase = {
    val p = new Phase(PollRecords)
    val t0 = p.start()
    var now = t0
    var i = 0L
    val ids = tracer.map(t => SpanNames.map(t.id))
    while (now < deadlineNs) {
      val k = ((i / 3) % records.length).toInt
      val c = (i % 3).toInt
      val start = System.nanoTime()
      val out =
        try tracer match {
          case None => JsonataTransform.apply(records(k), configs(c))
          case Some(t) => tracedApply(t, ids.get, records(k), configs(c), i)
        } catch { case _: DataException => Failed }
      now = System.nanoTime()
      p.latency.add(p.adjust(now - start))
      if (tracer.isDefined) shares.add(events(k), now - start)
      // cheap inline check; verify() compares every output in full
      if ((out eq Failed) || (out == null) != (c == 1 && events(k).isError)) p.failed += 1
      i += 1
      if (i % PollRecords == 0) now = p.batchDone(now)
    }
    p.records = i
    p.wallNs = now - t0
    p
  }

  /** `JsonataTransform.apply` with each layer call in its own span. */
  private def tracedApply(t: Tracer, ids: Array[Int], r: CRecord, cfg: JsonataTransform.Config, id: Long): CRecord = {
    val Array(apply, cache, encode, eval, decode) = ids
    t.begin(apply, id)
    try {
      t.begin(cache, id)
      val expr = try JsonataTransform.compile(cfg.expr) finally t.end()
      t.begin(encode, id)
      val envelope = try RecordCodec.recordToJsonNode(r) finally t.end()
      val a0 = Jvm.threadAllocated()
      t.begin(eval, id)
      val result =
        try expr.evaluate(envelope, cfg.timeoutMs, cfg.maxDepth)
        catch { case e: JsonataException => throw new DataException(e.getMessage, e) }
        finally t.end()
      evalAlloc += Jvm.threadAllocated() - a0
      t.begin(decode, id)
      try (if (result == null) null else RecordCodec.jsonNodeToRecord(r, result)) finally t.end()
    } finally t.end()
  }

  def verify(): (Long, Long) = {
    var failed = 0L
    for (k <- records.indices; c <- configs.indices) {
      val out = try JsonataTransform.apply(records(k), configs(c)) catch { case _: DataException => Failed }
      if ((out eq Failed) || !matches(c, events(k), records(k), out)) failed += 1
    }
    (records.length.toLong * configs.size, failed)
  }

  /** The reference result of config `c`, computed from the event. */
  private def matches(c: Int, e: Event, in: CRecord, out: CRecord): Boolean = c match {
    case 0 =>
      val expected = new CStruct(Data.NoEmailSchema)
      Data.NoEmailSchema.fields.foreach(f => expected.put(f, in.value.asInstanceOf[CStruct].get(f.name)))
      out != null && sameEnvelope(in, out) &&
        Same.schemas(Data.NoEmailSchema, out.valueSchema) && Same.values(expected, out.value)
    case 1 =>
      if (e.isError) out == null
      else out != null && sameEnvelope(in, out) &&
        Same.schemas(in.valueSchema, out.valueSchema) && Same.values(in.value, out.value)
    case _ =>
      out != null && sameEnvelope(in, out) && out.valueSchema == null && (out.value match {
        case m: scala.collection.Map[_, _] =>
          val v = m.asInstanceOf[scala.collection.Map[String, Any]]
          v.keySet == Set("id", "n", "total", "skus") && Same.number(v("id"), e.id) &&
            Same.number(v("n"), e.items.size.toLong) && Same.number(v("total"), e.total) &&
            v("skus") == e.items.map(_.sku).mkString(",")
        case _ => false
      })
  }

  private def sameEnvelope(in: CRecord, out: CRecord): Boolean =
    out.topic == in.topic && out.kafkaPartition == in.kafkaPartition && out.key == in.key &&
      Same.schemas(in.keySchema, out.keySchema) && out.timestamp == in.timestamp &&
      out.headers.size == in.headers.size && out.headers.zip(in.headers).forall { case (a, b) =>
        a.key == b.key && a.value == b.value && Same.schemas(a.schema, b.schema)
      }

  def layers(tracer: Tracer, traced: Phase): Map[String, Double] = {
    shares.report("apply time")
    val nodes = records.map(r => countNodes(RecordCodec.recordToJsonNode(r))).sum
    Map(
      "jsonata.parse.ns_per_expr" -> Workload.parseNsPerExpr(tracer, configs.map(_.expr)),
      "jsonata.eval.ns_per_record" -> tracer.selfMeanNs("jsonata.eval"),
      "jsonata.eval.alloc_bytes_per_record" -> evalAlloc.toDouble / tracer.calls("jsonata.eval"),
      "connect.cache.ns_per_lookup" -> tracer.selfMeanNs("connect.cache"),
      "connect.encode.ns_per_record" -> tracer.selfMeanNs("connect.encode"),
      "connect.encode.nodes_per_record" -> nodes.toDouble / records.length,
      "connect.decode.ns_per_record" -> tracer.selfMeanNs("connect.decode"))
  }

  private def countNodes(n: JsonNode): Long = {
    var c = 1L
    val it = n.elements()
    while (it.hasNext) c += countNodes(it.next())
    c
  }

  def close(): Unit = ()
}

object SmtWorkload {
  /** Distinct records; the loop cycles through them. */
  val Records = 4096
  val WarmupApplies = 60000
  /** Records per batch for the batch percentiles: Kafka's default
    * `max.poll.records`, the most records one poll hands a Connect task,
    * whose transforms then run on each in turn. */
  val PollRecords = 500

  private val SpanNames =
    Array("connect.apply", "connect.cache", "connect.encode", "jsonata.eval", "connect.decode")

  /** Sentinel for an apply that raised. */
  private val Failed = CRecord(null, null, null, null, null, null, null, null, null)

  /** The reference's schema rewrite (GoldenParitySpec's removeEmail). */
  val RemoveEmail: String =
    """(
      |    $root := $;
      |    $removeEmail := function($v, $k) {$k != 'email'};
      |    $newValueSchemaFields := $sift($root.valueSchema.fields, $removeEmail);
      |    $newValueSchema := $merge([$root.valueSchema, {"fields": $newValueSchemaFields}]);
      |    $newValue := $sift($root.value, $removeEmail);
      |    $newRoot := $merge([$root, {"valueSchema": $newValueSchema}, {"value": $newValue}])
      |)""".stripMargin
  val Tombstone = "value.event_type = 'error' ? null : $"
  /** A higher-order projection to a schemaless value. */
  val Projection: String =
    """$merge([$, {"valueSchema": null, "value": {"id": value.id, "n": $count(value.items),
      |  "total": $sum($map(value.items, function($i) { $i.qty * $i.price })),
      |  "skus": $join(value.items.sku, ",")}}])""".stripMargin
}
