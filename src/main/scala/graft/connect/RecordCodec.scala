package graft.connect

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node._
import graft.jsonata.LruCache
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Record/schema/value <-> JSON envelope codec.
  *
  * Faithful re-expression of the reference's codec:
  *  - encode: recordToJsonNode / schemaToJsonNode / objectToJsonNode
  *    (reference JsonataTransformation.java:133-291)
  *  - decode: jsonNodeToRecord / jsonNodeToSchema / jsonNodeToObject /
  *    jsonNodeToObjectWithoutSchema + logical-type coercions
  *    (reference JsonataTransformation.java:294-649)
  *
  * Schemas are reified as data ("schema-as-data") so expressions can rewrite
  * them; decode is structural-first (valueSchema => MAP/ARRAY, else `type`).
  *
  * Schema work is done once per schema, not once per record, which pays
  * where records repeat a few schemas (at most `MaxSchemas` in rotation):
  *  - Schema nodes are shared and read-only. `recordToJsonNode` puts one
  *    memoized node per schema into every envelope; two schemas share a
  *    node only when they have one form throughout (`sameSchema`: parameter
  *    order and each default's classes and order count, not only `==`). The
  *    evaluator never mutates its input (`~>|…|` deep-copies, `$merge`/
  *    `$sift` build new nodes; EvaluatorPuritySpec pins this).
  *  - The decoder reuses a schema only by identity, where the round trip is
  *    exact. Each shared schema node, at every depth, is a [[SchemaNode]]
  *    that carries the `CSchema` it encodes. When the result holds such a
  *    node, `jsonNodeToRecord` returns its `CSchema`, provided decoding the
  *    node gives that schema in the same form; the first decode that meets
  *    the node settles that. A `CStruct`, `java.util.List` or `ByteBuffer`
  *    default, for example, decodes to another form, so its schema is
  *    rebuilt, as is every node the expression built or copied.
  * The public `schemaToJsonNode` and `jsonNodeToSchema` stay a full encode
  * (of plain nodes) and a full decode.
  */
object RecordCodec {
  private val nf = JsonNodeFactory.instance

  /** A memoized schema node: the encoding of `schema`, and whether decoding
    * it gives exactly `schema`, unknown (null) until the first decode that
    * meets the node. Decoders that race to settle it store one answer. */
  private final class SchemaNode(val schema: CSchema) extends ObjectNode(nf) {
    @volatile var exact: java.lang.Boolean = null
  }

  /** The memo's key: equal to another key only when both schemas have one
    * form throughout, since the encoding keeps that form. */
  private final class Key(val schema: CSchema) {
    override def hashCode: Int = schema.hashCode
    override def equals(o: Any): Boolean = o match {
      case k: Key => sameSchema(schema, k.schema)
      case _ => false
    }
  }

  /** Schemas memoized; like the expression cache's, a fixed bound. */
  private val MaxSchemas = 100
  private val encodings = new LruCache[Key, ObjectNode](MaxSchemas, k => encodeSchema(k.schema, shared = true))

  // ================================================================
  // encode
  // ================================================================

  def recordToJsonNode(r: CRecord): ObjectNode = {
    val node = nf.objectNode()
    node.put("topic", r.topic)
    if (r.kafkaPartition == null) node.putNull("kafkaPartition")
    else node.put("kafkaPartition", r.kafkaPartition.intValue())
    if (r.keySchema != null) node.set[JsonNode]("keySchema", encodings(new Key(r.keySchema)))
    if (r.key != null) node.set[JsonNode]("key", objectToJsonNode(r.key))
    if (r.valueSchema != null) node.set[JsonNode]("valueSchema", encodings(new Key(r.valueSchema)))
    if (r.value != null) node.set[JsonNode]("value", objectToJsonNode(r.value))
    if (r.timestamp != null) node.put("timestamp", r.timestamp.longValue())
    if (r.headers != null) node.set[JsonNode]("headers", headersToJsonNode(r.headers))
    node
  }

  def schemaToJsonNode(s: CSchema): ObjectNode = encodeSchema(s, shared = false)

  /** Encode `s`; `shared`, into a [[SchemaNode]] at every depth. */
  private def encodeSchema(s: CSchema, shared: Boolean): ObjectNode = {
    val node = if (shared) new SchemaNode(s) else nf.objectNode()
    node.put("type", s.ctype.typeName)
    if (s.optional) node.put("optional", true)
    if (s.defaultValue != null) node.set[JsonNode]("defaultValue", objectToJsonNode(s.defaultValue))
    if (s.name != null) node.put("name", s.name)
    if (s.version != null) node.put("version", s.version.intValue())
    if (s.doc != null) node.put("doc", s.doc)
    if (s.parameters != null) {
      val p = nf.objectNode()
      s.parameters.foreach { case (k, v) => p.put(k, v) }
      node.set[JsonNode]("parameters", p)
    }
    if (s.ctype == CType.MAP && s.keySchema != null)
      node.set[JsonNode]("keySchema", encodeSchema(s.keySchema, shared))
    if ((s.ctype == CType.MAP || s.ctype == CType.ARRAY) && s.valueSchema != null)
      node.set[JsonNode]("valueSchema", encodeSchema(s.valueSchema, shared))
    if (s.ctype == CType.STRUCT && s.fields != null) {
      val fs = nf.objectNode()
      s.fields.foreach { f =>
        val fn = nf.objectNode()
        fn.put("name", f.name)
        fn.put("index", f.index)
        if (f.schema != null) fn.set[JsonNode]("schema", encodeSchema(f.schema, shared))
        fs.set[JsonNode](f.name, fn)
      }
      node.set[JsonNode]("fields", fs)
    }
    node
  }

  /** `a == b`, and in one form throughout: parameters in one order, and
    * defaults alike as [[sameValue]] takes them, at every depth. */
  private def sameSchema(a: CSchema, b: CSchema): Boolean =
    (a eq b) || a != null && b != null && a.ctype == b.ctype && a.optional == b.optional &&
      a.name == b.name && a.version == b.version && a.doc == b.doc &&
      sameValue(a.parameters, b.parameters) && sameValue(a.defaultValue, b.defaultValue) &&
      sameSchema(a.keySchema, b.keySchema) && sameSchema(a.valueSchema, b.valueSchema) &&
      sameFields(a.fields, b.fields)

  private def sameFields(a: Vector[CField], b: Vector[CField]): Boolean =
    (a eq b) || a != null && b != null && a.length == b.length && a.lazyZip(b).forall { (x, y) =>
      x.name == y.name && x.index == y.index && sameSchema(x.schema, y.schema)
    }

  /** Equal, with the same classes and the same order throughout: `==`
    * alone equates 12 and 12L, 0.0 and -0.0, a `List` and a `Vector`, or two
    * maps in different orders, which encode or decode differently. */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.getClass == y.getClass && sameElems(x.iterator, y.iterator)
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      x.getClass == y.getClass && sameElems(x.keysIterator, y.keysIterator) &&
        sameElems(x.valuesIterator, y.valuesIterator)
    case (x: java.util.List[_], y: java.util.List[_]) =>
      x.getClass == y.getClass && sameElems(x.iterator.asScala, y.iterator.asScala)
    case (x: java.util.Map[_, _], y: java.util.Map[_, _]) =>
      x.getClass == y.getClass && sameElems(x.keySet.iterator.asScala, y.keySet.iterator.asScala) &&
        sameElems(x.values.iterator.asScala, y.values.iterator.asScala)
    case _ => a != null && b != null && a.getClass == b.getClass && a.asInstanceOf[AnyRef].equals(b)
  }

  private def sameElems(x: Iterator[Any], y: Iterator[Any]): Boolean = {
    while (x.hasNext && y.hasNext) if (!sameValue(x.next(), y.next())) return false
    !x.hasNext && !y.hasNext
  }

  /** Typed value -> JSON, preserving the numeric tower exactly
    * (reference objectToJsonNode, JsonataTransformation.java:201-253). */
  def objectToJsonNode(value: Any): JsonNode = value match {
    case null => NullNode.getInstance()
    case seq: scala.collection.Seq[_] =>
      val arr = nf.arrayNode(seq.size)
      seq.foreach(v => arr.add(objectToJsonNode(v)))
      arr
    case l: java.util.List[_] =>
      val arr = nf.arrayNode(l.size)
      l.asScala.foreach(v => arr.add(objectToJsonNode(v)))
      arr
    case m: scala.collection.Map[_, _] =>
      val o = nf.objectNode()
      m.foreach { case (k, v) => o.set[JsonNode](k.toString, objectToJsonNode(v)) }
      o
    case m: java.util.Map[_, _] =>
      val o = nf.objectNode()
      m.asScala.foreach { case (k, v) => o.set[JsonNode](k.toString, objectToJsonNode(v)) }
      o
    case b: Boolean => BooleanNode.valueOf(b)
    case bd: java.math.BigDecimal => DecimalNode.valueOf(bd)
    case bi: java.math.BigInteger => BigIntegerNode.valueOf(bi)
    case l: Long => LongNode.valueOf(l)
    case d: Double => DoubleNode.valueOf(d)
    case f: Float => FloatNode.valueOf(f)
    case i: Int => IntNode.valueOf(i)
    case s: Short => ShortNode.valueOf(s)
    case b: Byte => IntNode.valueOf(b.toInt) // Jackson numberNode(Byte) yields IntNode
    case bytes: Array[Byte] => BinaryNode.valueOf(bytes)
    case bb: java.nio.ByteBuffer =>
      val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr)
      BinaryNode.valueOf(arr)
    case d: java.util.Date => TextNode.valueOf(CValues.formatDate(d))
    case st: CStruct =>
      val o = nf.objectNode()
      st.schema.fields.foreach(f => o.set[JsonNode](f.name, objectToJsonNode(st.get(f))))
      o
    case s: String => TextNode.valueOf(s)
    case other => throw new DataException(s"Unsupported type ${other.getClass.getName}")
  }

  private def headersToJsonNode(headers: Vector[CHeader]): ArrayNode = {
    val arr = nf.arrayNode()
    headers.foreach { h =>
      val o = nf.objectNode()
      o.put("key", h.key)
      if (h.value != null) o.set[JsonNode]("value", objectToJsonNode(h.value))
      if (h.schema != null) o.set[JsonNode]("schema", encodings(new Key(h.schema)))
      arr.add(o)
    }
    arr
  }

  // ================================================================
  // decode
  // ================================================================

  /** Rebuild a record from the (possibly rewritten) envelope; engine metadata
    * is copied from the original. A JSON-null result means "drop". */
  def jsonNodeToRecord(original: CRecord, node: JsonNode): CRecord = {
    if (node == null || node.isNull) return null
    val topic = if (node.hasNonNull("topic")) node.get("topic").asText() else null
    val kafkaPartition: Integer =
      if (node.hasNonNull("kafkaPartition")) Integer.valueOf(node.get("kafkaPartition").asInt()) else Integer.valueOf(-1)
    val keySchema = if (node.hasNonNull("keySchema")) decodeSchema(node.get("keySchema"), reuse = true) else null
    val key = if (node.hasNonNull("key")) jsonNodeToObject(keySchema, node.get("key")) else null
    val valueSchema = if (node.hasNonNull("valueSchema")) decodeSchema(node.get("valueSchema"), reuse = true) else null
    val value = if (node.hasNonNull("value")) jsonNodeToObject(valueSchema, node.get("value")) else null
    val timestamp: java.lang.Long =
      if (node.hasNonNull("timestamp")) java.lang.Long.valueOf(node.get("timestamp").asLong()) else null
    val headers = if (node.hasNonNull("headers")) jsonNodeToHeaders(node.get("headers")) else null
    CRecord(topic, kafkaPartition, keySchema, key, valueSchema, value, timestamp, headers, original.meta)
  }

  /** Structural-first schema decode (reference jsonNodeToSchema:361-408). */
  def jsonNodeToSchema(node: JsonNode): CSchema = decodeSchema(node, reuse = false)

  /** `jsonNodeToSchema`; with `reuse`, taking each [[SchemaNode]] whose
    * decode is exact, at any depth, as the schema it carries. */
  private def decodeSchema(node: JsonNode, reuse: Boolean): CSchema = node match {
    case null => null
    case n: SchemaNode if reuse =>
      val exact = n.exact
      if (exact == null) {
        val s = rebuildSchema(n, reuse)
        val same = sameSchema(s, n.schema)
        n.exact = same
        if (same) n.schema else s
      } else if (exact) n.schema
      else rebuildSchema(n, reuse)
    case n if n.isNull => null
    case n => rebuildSchema(n, reuse)
  }

  /** Decode one level of `node`, its children through `decodeSchema`. */
  private def rebuildSchema(node: JsonNode, reuse: Boolean): CSchema = {
    var s: CSchema =
      if (node.hasNonNull("valueSchema")) {
        val valueSchema = decodeSchema(node.get("valueSchema"), reuse)
        if (node.hasNonNull("keySchema"))
          CSchema(CType.MAP, keySchema = decodeSchema(node.get("keySchema"), reuse), valueSchema = valueSchema)
        else CSchema(CType.ARRAY, valueSchema = valueSchema)
      } else if (node.hasNonNull("type")) {
        CSchema(CType.forName(node.get("type").asText()))
      } else throw new DataException("Schema node must have 'type' or 'valueSchema'")

    if (node.hasNonNull("optional") && node.get("optional").asBoolean()) s = s.copy(optional = true)
    if (node.hasNonNull("name")) s = s.copy(name = node.get("name").asText())
    if (node.hasNonNull("version")) s = s.copy(version = Integer.valueOf(node.get("version").asInt()))
    if (node.hasNonNull("doc")) s = s.copy(doc = node.get("doc").asText())
    if (node.hasNonNull("parameters")) {
      var params = ListMap.empty[String, String]
      node.get("parameters").fields().asScala.foreach(e => params += (e.getKey -> e.getValue.asText()))
      s = s.copy(parameters = params)
    }
    if (node.hasNonNull("fields")) {
      // field order = JSON insertion order; indexes re-assigned sequentially
      // (Connect SchemaBuilder.field does the same when rebuilding)
      val fields = node.get("fields").fields().asScala.zipWithIndex.map { case (e, i) =>
        val fnode = e.getValue
        if (!fnode.hasNonNull("name") || !fnode.hasNonNull("index"))
          throw new DataException("Field node must have 'name' and 'index'")
        val fschema = if (fnode.hasNonNull("schema")) decodeSchema(fnode.get("schema"), reuse) else null
        CField(e.getKey, i, fschema)
      }.toVector
      s = s.copy(fields = fields)
    }
    if (node.hasNonNull("defaultValue"))
      s = s.copy(defaultValue = jsonNodeToObject(s, node.get("defaultValue")))
    s
  }

  private def jsonNodeToHeaders(node: JsonNode): Vector[CHeader] =
    node.elements().asScala.map { item =>
      val schema = if (item.hasNonNull("schema")) decodeSchema(item.get("schema"), reuse = true) else null
      val value = if (item.has("value")) jsonNodeToObject(schema, item.get("value")) else null
      CHeader(item.get("key").asText(), value, schema)
    }.toVector

  /** Schema-directed value decode with logical-type dispatch by schema name
    * (reference jsonNodeToObject:441-495 + converters 530-649). */
  def jsonNodeToObject(schema: CSchema, node: JsonNode): Any = {
    if (node == null || node.isNull) return null
    if (schema == null) return jsonNodeToObjectWithoutSchema(node)
    schema.ctype match {
      case CType.INT8 =>
        if (node.numberValue() == null) throw new DataException(s"Cannot convert $node to INT8")
        node.numberValue().byteValue()
      case CType.INT16 => node.shortValue()
      case CType.INT32 =>
        convertMaybeLogicalInteger(schema, if (node.isNumber) node.intValue() else node.textValue())
      case CType.INT64 =>
        convertMaybeLogicalLong(schema, if (node.isNumber) node.longValue() else node.textValue())
      case CType.FLOAT32 => node.floatValue()
      case CType.FLOAT64 => node.doubleValue()
      case CType.BOOLEAN => node.booleanValue()
      case CType.STRING => node.textValue()
      case CType.BYTES =>
        val raw: Any =
          if (node.isBinary) node.binaryValue()
          else if (node.isNumber) node.numberValue()
          else node.textValue()
        convertMaybeLogicalBytes(schema, raw)
      case CType.ARRAY =>
        node.elements().asScala.map(item => jsonNodeToObject(schema.valueSchema, item)).toVector
      case CType.MAP =>
        var m = ListMap.empty[String, Any]
        node.fields().asScala.foreach(e => m += (e.getKey -> jsonNodeToObject(schema.valueSchema, e.getValue)))
        m
      case CType.STRUCT =>
        val st = new CStruct(schema)
        schema.fields.foreach { f =>
          val fn = node.get(f.name)
          if (fn != null) st.put(f, jsonNodeToObject(f.schema, fn))
        }
        st
    }
  }

  /** Structural decode when no schema is present (reference :497-528). */
  def jsonNodeToObjectWithoutSchema(node: JsonNode): Any = {
    if (node.isNull) null
    else if (node.isNumber) node.numberValue() // narrowest Jackson representation
    else if (node.isBoolean) node.booleanValue()
    else if (node.isBinary) node.binaryValue()
    else if (node.isArray)
      node.elements().asScala.map(jsonNodeToObjectWithoutSchema).toVector
    else if (node.isObject) {
      var m = ListMap.empty[String, Any]
      node.fields().asScala.foreach(e => m += (e.getKey -> jsonNodeToObjectWithoutSchema(e.getValue)))
      m
    } else node.textValue()
  }

  // ---- logical-type coercions (reference :530-649) ----

  private def convertMaybeLogicalBytes(schema: CSchema, value: Any): Any =
    if (schema != null && Logical.DecimalName == schema.name) convertToDecimal(schema, value)
    else value match {
      case bytes: Array[Byte] => bytes
      case bb: java.nio.ByteBuffer => val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      case other => throw new DataException(s"Unable to convert $other to BYTES")
    }

  private def convertToDecimal(schema: CSchema, value: Any): java.math.BigDecimal = value match {
    case bytes: Array[Byte] => Logical.decimalToLogical(schema, bytes)
    case bd: java.math.BigDecimal => bd
    case n: java.lang.Number => java.math.BigDecimal.valueOf(n.doubleValue())
    case s: String => new java.math.BigDecimal(s)
    case other => throw new DataException(s"Unable to convert $other to Decimal")
  }

  private def convertMaybeLogicalInteger(schema: CSchema, value: Any): Any =
    if (schema != null && Logical.DateName == schema.name) convertToDateLogical(value, days => Logical.dateToLogical(days.toInt))
    else if (schema != null && Logical.TimeName == schema.name) convertToDateLogical(value, ms => Logical.timeToLogical(ms.toInt))
    else value match {
      case n: java.lang.Number => n.intValue()
      case s: String => asLong(s).toInt
      case other => throw new DataException(s"Unable to convert $other to INT32")
    }

  private def convertMaybeLogicalLong(schema: CSchema, value: Any): Any =
    if (schema != null && Logical.TimestampName == schema.name) convertToDateLogical(value, Logical.timestampToLogical)
    else value match {
      case n: java.lang.Number => n.longValue()
      case s: String => asLong(s)
      case other => throw new DataException(s"Unable to convert $other to INT64")
    }

  private def convertToDateLogical(value0: Any, fromNumeric: Long => java.util.Date): java.util.Date = {
    var value = value0
    value match {
      case s: String =>
        val parsed = CValues.parseDateString(s)
        if (parsed != null) value = parsed
      case _ =>
    }
    value match {
      case d: java.util.Date => d
      case _ => fromNumeric(asLong(value))
    }
  }

  def asLong(value: Any): Long = value match {
    case n: java.lang.Number => n.longValue()
    case s: String =>
      try new java.math.BigDecimal(s).longValue()
      catch { case _: NumberFormatException => throw new DataException(s"Unable to convert $s to a number") }
    case other => throw new DataException(s"Unable to convert $other to a number")
  }
}
