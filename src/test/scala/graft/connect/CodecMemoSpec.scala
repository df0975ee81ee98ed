package graft.connect

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.jsonata.Jsonata

/** RecordCodec encodes each schema once and shares the node; its decoder
  * reuses a schema by node identity only where the round trip is exact. */
class CodecMemoSpec extends AnyFunSuite {
  import CodecFixtures._

  private val deep = new GoldenParitySpec

  /** A schema no other spec builds, so its encoding is this spec's own
    * (equal schemas share one encoding). */
  private def own(tag: String): CSchema = ValueSchema.copy(doc = s"CodecMemoSpec $tag")

  private def apply(r: CRecord, expr: String): CRecord = JsonataTransform(r, JsonataTransform.Config(expr))

  private def sameRecord(a: CRecord, b: CRecord): Boolean =
    if (a == null || b == null) a == b
    else a.topic == b.topic && a.kafkaPartition == b.kafkaPartition && a.timestamp == b.timestamp &&
      deep.schemaEquals(a.keySchema, b.keySchema) && deep.valueEquals(a.key, b.key) &&
      deep.schemaEquals(a.valueSchema, b.valueSchema) && deep.valueEquals(a.value, b.value) &&
      a.headers.size == b.headers.size && a.headers.zip(b.headers).forall { case (x, y) =>
        x.key == y.key && deep.valueEquals(x.value, y.value) && deep.schemaEquals(x.schema, y.schema)
      } && a.meta == b.meta

  test("two encodes of one schema share one node") {
    val s = own("encode")
    val a = RecordCodec.recordToJsonNode(smtRecord(1, s))
    val b = RecordCodec.recordToJsonNode(smtRecord(2, s))
    assert(a.get("valueSchema") eq b.get("valueSchema"))
    assert(a.get("keySchema") eq b.get("keySchema"))
    assert(a.get("value") ne b.get("value"))
    assert(a.get("valueSchema") == RecordCodec.schemaToJsonNode(s))
    assert(RecordCodec.schemaToJsonNode(s) ne RecordCodec.schemaToJsonNode(s))
  }

  test("schemas equal but for parameter order or a default's class keep their own form") {
    import scala.collection.immutable.ListMap
    import scala.jdk.CollectionConverters._
    val dec = Logical.decimalSchema(2).copy(doc = "CodecMemoSpec form")
    val decs = Seq(
      dec.copy(parameters = ListMap("scale" -> "2", "connect.decimal.precision" -> "9")),
      dec.copy(parameters = ListMap("connect.decimal.precision" -> "9", "scale" -> "2")))
    val ints = Seq[Any](12L, 12).map(d => CSchema.INT64.copy(defaultValue = d, doc = "CodecMemoSpec form"))
    val zeros = Seq[Any](0.0, -0.0).map(d => CSchema.FLOAT64.copy(defaultValue = d, doc = "CodecMemoSpec form"))
    assert(decs(0) == decs(1) && ints(0) == ints(1) && zeros(0) == zeros(1))
    for (i <- 0 to 1) {
      val r = golden(java.math.BigDecimal.valueOf(314, 2), decs(i))
      val order = decs(i).parameters.keys.toSeq
      assert(RecordCodec.recordToJsonNode(r).get("valueSchema").get("parameters").fieldNames.asScala.toSeq == order)
      assert(apply(r, "$").valueSchema.parameters.keys.toSeq == order)
      val d = RecordCodec.recordToJsonNode(golden(1L, ints(i))).get("valueSchema").get("defaultValue")
      assert(if (i == 0) d.isLong else d.isInt)
      val z = RecordCodec.recordToJsonNode(golden(1.0, zeros(i))).get("valueSchema").get("defaultValue")
      assert(java.lang.Double.valueOf(z.doubleValue).equals(zeros(i).defaultValue))
      assert(apply(golden(1.0, zeros(i)), "$").valueSchema.defaultValue.equals(zeros(i).defaultValue))
    }
    // a schema built afresh in the same form shares the memoized node
    val again = dec.copy(parameters = ListMap("scale" -> "2", "connect.decimal.precision" -> "9"))
    assert(again ne decs(0))
    assert(RecordCodec.recordToJsonNode(golden(null, again)).get("valueSchema") eq
      RecordCodec.recordToJsonNode(golden(null, decs(0))).get("valueSchema"))
  }

  test("$ and the tombstone config return the input's own schemas") {
    val s = own("passthrough")
    val r = smtRecord(1, s)
    for (expr <- Seq("$", Tombstone)) {
      val out = apply(r, expr)
      assert(out.valueSchema eq s, expr)
      assert(out.keySchema eq r.keySchema, expr)
      assert(out.headers.head.schema eq r.headers.head.schema, expr)
      assert(sameRecord(out, r), expr)
    }
    // a deep copy of the envelope shares no node: its schemas are decoded in full
    val copied = RecordCodec.jsonNodeToRecord(r, RecordCodec.recordToJsonNode(r).deepCopy())
    assert(copied.valueSchema ne s)
    assert(sameRecord(copied, r))
  }

  test("removeEmail's schema equals a full decode of its node, and reuses the field schemas") {
    val s = own("removeEmail")
    val r = smtRecord(1, s)
    val result = Jsonata.compile(RemoveEmail).evaluate(RecordCodec.recordToJsonNode(r))
    val decoded = RecordCodec.jsonNodeToRecord(r, result).valueSchema
    val full = RecordCodec.jsonNodeToSchema(result.get("valueSchema"))
    assert(decoded == full && deep.schemaEquals(full, decoded))
    assert(deep.schemaEquals(decoded, NoEmailSchema.copy(doc = s.doc)))
    assert(decoded ne s)
    assert(decoded.fields.map(_.schema).zip(s.fields.filter(_.name != "email").map(_.schema))
      .forall { case (a, b) => a eq b })
  }

  test("defaults whose round trip changes their form decode exactly as a full decode does") {
    val inner = CSchema.struct("x" -> CSchema.INT32)
    val list = new java.util.ArrayList[Integer](java.util.Arrays.asList[Integer](1, 2))
    val schema = CSchema.struct(
      "st" -> inner.copy(defaultValue = new CStruct(inner).put("x", 7)),
      "list" -> CSchema.array(CSchema.INT32).copy(defaultValue = list),
      "buf" -> CSchema.BYTES.copy(defaultValue = java.nio.ByteBuffer.wrap(Array[Byte](1, 2))),
      "long" -> CSchema.INT64.copy(defaultValue = 12),
      "plain" -> CSchema.STRING.copy(defaultValue = "p", doc = "CodecMemoSpec defaults"))
    val value = new CStruct(schema).put("st", new CStruct(inner).put("x", 1))
      .put("list", Vector(3)).put("buf", Array[Byte](3)).put("long", 4L).put("plain", "q")
    val r = golden(value, schema)
    val full = RecordCodec.jsonNodeToSchema(RecordCodec.schemaToJsonNode(schema))
    for (expr <- Seq("$", "$merge([$, {'topic': 'x'}])")) {
      val out = apply(r, expr).valueSchema
      assert(deep.schemaEquals(full, out), expr)
      val defaults = out.fields.map(_.schema.defaultValue)
      assert(defaults.map(_.getClass) == full.fields.map(_.schema.defaultValue.getClass), expr)
      assert(defaults(0).isInstanceOf[CStruct], expr)
      assert(defaults(0).asInstanceOf[AnyRef] ne schema.fields(0).schema.defaultValue.asInstanceOf[AnyRef], expr)
      assert(defaults(1) == Vector(1, 2) && defaults(2).isInstanceOf[Array[Byte]], expr)
      assert(defaults(3).isInstanceOf[java.lang.Long], expr)
      assert(out ne schema, expr)
      assert(out.fields(4).schema eq schema.fields(4).schema, expr)
    }
  }

  test("8 threads applying the three smt_records configs give the single-thread outputs") {
    val s = own("threads")
    val records = (0 until 120).map(smtRecord(_, s))
    val jobs = for (k <- records.indices; c <- smtExprs.indices) yield (k, c)
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      // every thread runs every job, each from its own starting point
      val futures = (0 until 8).map { t =>
        pool.submit(new Callable[Seq[((Int, Int), CRecord)]] {
          def call(): Seq[((Int, Int), CRecord)] = {
            start.await()
            (jobs.drop(t * 45) ++ jobs.take(t * 45)).map { case (k, c) => (k, c) -> apply(records(k), smtExprs(c)) }
          }
        })
      }
      start.countDown()
      val outputs = futures.flatMap(_.get(120, TimeUnit.SECONDS))
      val reference = jobs.map { case (k, c) => (k, c) -> apply(records(k), smtExprs(c)) }.toMap
      assert(outputs.size == 8 * jobs.size)
      outputs.foreach { case (kc, out) => assert(sameRecord(out, reference(kc)), s"record ${kc._1}, config ${kc._2}") }
      assert(reference.count(_._2 == null) == 12)
    } finally pool.shutdownNow()
  }
}
