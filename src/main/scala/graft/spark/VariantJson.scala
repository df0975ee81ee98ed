package graft.spark

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.types.variant.{Variant, VariantUtil}

import graft.jsonata.Jsonata

/** Direct Spark-variant-binary -> Jackson-tree decoder: walks the variant's
  * object/array/scalar structure with the `Variant` accessor API instead of
  * rendering the whole tree to JSON text and re-parsing it (`toJson` +
  * `ObjectMapper.readTree` per record — the input-side bottleneck the round-3
  * verdict flagged in the variant tier).
  *
  * Equivalence contract (pinned by VariantTierSpec): for every node the result
  * is the same tree `Jsonata.parseJson(v.toJson(UTC))` would produce —
  *  - objects keep the variant's field index order (toJson emits in that
  *    order, and Jackson preserves insertion order);
  *  - LONG mirrors Jackson's integer sizing (IntNode when it fits, else
  *    LongNode);
  *  - DECIMAL mirrors how its plain-text form would re-parse: no fractional
  *    digits -> integer node, otherwise the correctly-rounded double
  *    (default ObjectMapper reads JSON floats as DoubleNode);
  *  - rare non-JSON-native scalars (date/timestamp/binary/uuid/float) fall
  *    back to rendering just that scalar via toJson — structurally identical
  *    to the old path, but per leaf instead of per tree.
  */
object VariantJson {
  private val F = JsonNodeFactory.instance

  def toJsonNode(v: Variant): JsonNode = v.getType match {
    case VariantUtil.Type.OBJECT =>
      val n = v.objectSize()
      val o: ObjectNode = F.objectNode()
      var i = 0
      while (i < n) {
        val f = v.getFieldAtIndex(i)
        o.set[JsonNode](f.key, toJsonNode(f.value))
        i += 1
      }
      o
    case VariantUtil.Type.ARRAY =>
      val n = v.arraySize()
      val a = F.arrayNode(n)
      var i = 0
      while (i < n) { a.add(toJsonNode(v.getElementAtIndex(i))); i += 1 }
      a
    case VariantUtil.Type.NULL => F.nullNode()
    case VariantUtil.Type.BOOLEAN => F.booleanNode(v.getBoolean)
    case VariantUtil.Type.STRING => F.textNode(v.getString)
    case VariantUtil.Type.LONG =>
      val l = v.getLong
      if (l >= Int.MinValue && l <= Int.MaxValue) F.numberNode(l.toInt) else F.numberNode(l)
    case VariantUtil.Type.DOUBLE => F.numberNode(v.getDouble)
    case VariantUtil.Type.DECIMAL =>
      // toJson renders decimals with trailing zeros stripped ("5.00" -> "5"),
      // so an integral-valued decimal re-parses as an integer node
      val bd = v.getDecimalWithOriginalScale.stripTrailingZeros
      val plain = bd.toPlainString
      if (plain.indexOf('.') < 0) {
        // integral text re-parses as Jackson's sized integer
        val bi = bd.toBigIntegerExact
        if (bi.bitLength() < 32) F.numberNode(bi.intValueExact())
        else if (bi.bitLength() < 64) F.numberNode(bi.longValueExact())
        else F.numberNode(bi)
      } else F.numberNode(java.lang.Double.parseDouble(plain))
    case _ =>
      // date/timestamp/binary/uuid/float: quoted-string (or decimal-text)
      // forms defined by toJson — render just this leaf and re-parse
      Jsonata.parseJson(v.toJson(java.time.ZoneOffset.UTC))
  }
}
