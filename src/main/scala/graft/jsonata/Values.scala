package graft.jsonata

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Internal value model of the evaluator.
  *
  * A value is one of:
  *  - `null`              — JSONata "nothing" (empty sequence / no match)
  *  - [[JsonNode]]        — JSON data (NullNode is JSON null, distinct from nothing)
  *  - [[JSeq]]            — an evaluator-created sequence (flattens/collapses)
  *  - [[JFunction]]       — builtin, lambda closure, partial application, transform
  *  - [[java.util.regex.Pattern]] — regex literal value
  *
  * Keeping Jackson nodes end-to-end preserves the numeric tower
  * (byte..BigDecimal) exactly like the reference's codec does (reference
  * JsonataTransformation.java:217-232).
  */
object Values {
  val nf: JsonNodeFactory = JsonNodeFactory.instance

  def undef: Any = null

  /** Evaluator-created sequence; collapses singleton→value / empty→nothing at
    * expression boundaries unless keepSingleton is set (`[]` operator). */
  final class JSeq(val items: ArrayBuffer[Any] = ArrayBuffer.empty,
                   var keepSingleton: Boolean = false) {
    def +=(v: Any): this.type = { items += v; this }
    override def toString: String = items.mkString("Seq(", ", ", ")")
  }
  object JSeq {
    def apply(vs: Any*): JSeq = { val s = new JSeq(); vs.foreach(s.items += _); s }
    def of(vs: IterableOnce[Any]): JSeq = { val s = new JSeq(); s.items ++= vs; s }
  }

  /** Iterate any value as a sequence (arrays spread; scalars are singletons). */
  def asIterable(v: Any): Iterable[Any] = v match {
    case null => Nil
    case s: JSeq => s.items
    case a: ArrayNode => a.asScala.toVector
    case other => List(other)
  }

  def sizeOf(v: Any): Int = v match {
    case null => 0
    case s: JSeq => s.items.length
    case a: ArrayNode => a.size()
    case _ => 1
  }

  def isArrayLike(v: Any): Boolean = v.isInstanceOf[JSeq] || v.isInstanceOf[ArrayNode]

  /** Materialize a value as a JsonNode; JSeq → ArrayNode (deep), undefined → null ref. */
  def toNode(v: Any): JsonNode = v match {
    case null => null
    case n: JsonNode => n
    case s: JSeq =>
      val arr = nf.arrayNode()
      s.items.foreach { it =>
        val n = toNode(it)
        arr.add(if (n == null) nf.nullNode() else n)
      }
      arr
    case _: JFunction => null // functions are not JSON-representable
    case _: java.util.regex.Pattern => null
    case other => throw new JsonataException("T0410", s"cannot convert $other to JSON")
  }

  // ---- numerics ----

  def isNumber(v: Any): Boolean = v match {
    case n: JsonNode => n.isNumber
    case _ => false
  }

  def asDouble(v: Any): Double = v match {
    case n: JsonNode if n.isNumber => n.doubleValue()
    case _ => throw new JsonataException("T2001", s"expected number, got ${typeName(v)}")
  }

  def isIntegral(n: JsonNode): Boolean =
    n.isIntegralNumber || (n.isNumber && { val d = n.doubleValue(); d == math.rint(d) && !d.isInfinite })

  /** Whole-number check usable for index/range operands. */
  def asLongExact(v: Any, code: String): Long = v match {
    case n: JsonNode if n.isIntegralNumber => n.longValue()
    case n: JsonNode if n.isNumber && n.doubleValue() == math.rint(n.doubleValue()) => n.doubleValue().toLong
    case _ => throw new JsonataException(code, s"expected integer, got ${stringify(v)}")
  }

  def numNode(d: Double): JsonNode =
    if (d.isNaN || d.isInfinite) throw new JsonataException("D3030", "number out of range")
    else DoubleNode.valueOf(d)
  def numNode(l: Long): JsonNode = LongNode.valueOf(l)

  // ---- type names / truthiness / equality ----

  def typeName(v: Any): String = v match {
    case null => "undefined"
    case _: NullNode => "null"
    case n: JsonNode if n.isNumber => "number"
    case n: JsonNode if n.isTextual => "string"
    case n: JsonNode if n.isBoolean => "boolean"
    case _: ArrayNode | _: JSeq => "array"
    case _: ObjectNode => "object"
    case _: JFunction | _: java.util.regex.Pattern => "function"
    case n: JsonNode if n.isBinary => "string"
    case _ => "unknown"
  }

  /** JSONata truthiness ($boolean casting rules, jsonata.org §boolean-functions). */
  def truthy(v: Any): Boolean = v match {
    case null => false
    case _: NullNode => false
    case b: BooleanNode => b.booleanValue()
    case n: JsonNode if n.isNumber => { val d = n.doubleValue(); d != 0.0 && !d.isNaN }
    case t: JsonNode if t.isTextual => t.textValue().nonEmpty
    case o: ObjectNode => !o.isEmpty
    case a: ArrayNode =>
      if (a.size() == 0) false
      else if (a.size() == 1) truthy(a.get(0))
      else a.asScala.exists(truthy)
    case s: JSeq =>
      if (s.items.isEmpty) false
      else if (s.items.length == 1) truthy(s.items(0))
      else s.items.exists(truthy)
    case _: JFunction => false
    case _: java.util.regex.Pattern => false
    case _ => false
  }

  /** Deep equality with cross-type numeric comparison (1 = 1.0). */
  def deepEquals(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: JsonNode, y: JsonNode) if x.isNumber && y.isNumber =>
      if (x.isIntegralNumber && y.isIntegralNumber) x.longValue() == y.longValue()
      else if (x.isBigDecimal || y.isBigDecimal)
        x.decimalValue().compareTo(y.decimalValue()) == 0
      else x.doubleValue() == y.doubleValue()
    case (x: JsonNode, y: JsonNode) if x.isTextual && y.isTextual => x.textValue() == y.textValue()
    case (x: JsonNode, y: JsonNode) if x.isBoolean && y.isBoolean => x.booleanValue() == y.booleanValue()
    case (x: NullNode, y: NullNode) => true
    case (x, y) if isArrayLike(x) && isArrayLike(y) =>
      val xs = asIterable(x).toSeq; val ys = asIterable(y).toSeq
      xs.length == ys.length && xs.zip(ys).forall { case (i, j) => deepEquals(i, j) }
    case (x: ObjectNode, y: ObjectNode) =>
      val xf = x.fields().asScala.map(e => e.getKey -> e.getValue).toMap
      val yf = y.fields().asScala.map(e => e.getKey -> e.getValue).toMap
      xf.keySet == yf.keySet && xf.forall { case (k, v) => deepEquals(v, yf(k)) }
    case _ => false
  }

  /** Canonical key for hashing-based dedup ($distinct, group keys). */
  def canonical(v: Any): Any = v match {
    case null => null
    case n: JsonNode if n.isNumber =>
      val bd = n.decimalValue().stripTrailingZeros()
      bd
    case n: JsonNode if n.isTextual => ("s", n.textValue())
    case n: JsonNode if n.isBoolean => ("b", n.booleanValue())
    case _: NullNode => ("null", 0)
    case x if isArrayLike(x) => asIterable(x).map(canonical).toVector
    case o: ObjectNode =>
      o.fields().asScala.map(e => e.getKey -> canonical(e.getValue)).toMap
    case other => other
  }

  // ---- stringification ($string casting rules) ----

  /** JS-style number formatting: integral doubles print without a decimal point. */
  def numberToString(n: JsonNode): String = {
    if (n.isIntegralNumber && !n.isBigInteger) n.longValue().toString
    else if (n.isBigInteger) n.bigIntegerValue().toString
    else if (n.isBigDecimal) {
      val bd = n.decimalValue().stripTrailingZeros()
      if (bd.scale() <= 0 && bd.precision() - bd.scale() <= 21) bd.toBigInteger.toString
      else bd.toPlainString
    } else {
      val d = n.doubleValue()
      if (d.isNaN || d.isInfinite) throw new JsonataException("D3030", "number out of range")
      if (d == math.rint(d) && math.abs(d) < 1e21) {
        val l = d.toLong
        if (l.toDouble == d) l.toString
        else new java.math.BigDecimal(d).toBigInteger.toString
      } else jsDouble(d)
    }
  }

  /** ECMA-262 Number::toString: SHORTEST round-tripping digits, formatted per
    * the JS notation rules — decimal for exponents in (-6, 21], exponential
    * with a bare mantissa otherwise ("1e+21", not "1.0e+21"; "0.0001", not
    * "1.0E-4"). Java <= 18 Double.toString is not shortest-round-trip (Ryu
    * landed in 19) — e.g. it prints 2.5e22 as "2.4999999999999998E22" — so
    * the shortest digit count is found by binary search over BigDecimal
    * roundings (the round-trip property is monotone in precision). */
  private def jsDouble(d: Double): String = {
    if (d == 0.0) return "0" // JS String(-0) is "0"
    val neg = d < 0
    val a = math.abs(d)
    // smallest precision whose rounding round-trips
    var lo = 1
    var hi = 17
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (new java.math.BigDecimal(a, new java.math.MathContext(mid)).doubleValue() == a) hi = mid
      else lo = mid + 1
    }
    val bd = new java.math.BigDecimal(a, new java.math.MathContext(lo))
    val unscaled = bd.unscaledValue.toString
    val digits = unscaled.reverse.dropWhile(_ == '0').reverse
    // value = 0.<digits> * 10^k  (k = digits before the decimal point)
    val k = bd.precision - bd.scale
    val n = digits.length
    val body =
      if (n <= k && k <= 21) digits + "0" * (k - n)
      else if (0 < k && k <= 21) digits.substring(0, k) + "." + digits.substring(k)
      else if (-6 < k && k <= 0) "0." + "0" * (-k) + digits
      else {
        val m = if (n == 1) digits else digits.substring(0, 1) + "." + digits.substring(1)
        m + "e" + (if (k - 1 >= 0) "+" else "") + (k - 1)
      }
    if (neg) "-" + body else body
  }

  /** $string() semantics: strings unchanged; others JSON-serialized. */
  def stringify(v: Any, prettify: Boolean = false): String = v match {
    case null => ""
    case t: JsonNode if t.isTextual => t.textValue()
    case n: JsonNode if n.isNumber => numberToString(n)
    case b: BooleanNode => b.booleanValue().toString
    case _: NullNode => "null"
    case _: JFunction => ""
    case _: java.util.regex.Pattern => ""
    case other =>
      val node = toNode(other)
      if (node == null) ""
      else jsonSerialize(node, prettify)
  }

  def jsonSerialize(node: JsonNode, prettify: Boolean): String = {
    val sb = new StringBuilder
    def write(n: JsonNode, indent: Int): Unit = n match {
      case t if t.isTextual => sb.append(quoteJson(t.textValue()))
      case x if x.isNumber => sb.append(numberToString(x))
      case b if b.isBoolean => sb.append(b.booleanValue().toString)
      case _ if n.isNull => sb.append("null")
      case a: ArrayNode =>
        if (a.size() == 0) { sb.append("[]"); return }
        sb.append('[')
        var first = true
        a.asScala.foreach { el =>
          if (!first) sb.append(if (prettify) "," else ",")
          if (prettify) { sb.append('\n'); sb.append(" " * (indent + 2)) }
          write(el, indent + 2)
          first = false
        }
        if (prettify) { sb.append('\n'); sb.append(" " * indent) }
        sb.append(']')
      case o: ObjectNode =>
        if (o.isEmpty) { sb.append("{}"); return }
        sb.append('{')
        var first = true
        o.fields().asScala.foreach { e =>
          if (!first) sb.append(',')
          if (prettify) { sb.append('\n'); sb.append(" " * (indent + 2)) }
          sb.append(quoteJson(e.getKey)).append(if (prettify) ": " else ":")
          write(e.getValue, indent + 2)
          first = false
        }
        if (prettify) { sb.append('\n'); sb.append(" " * indent) }
        sb.append('}')
      case b if b.isBinary =>
        sb.append(quoteJson(java.util.Base64.getEncoder.encodeToString(n.binaryValue())))
      case other2 => sb.append(quoteJson(other2.asText()))
    }
    write(node, 0)
    sb.toString
  }

  def quoteJson(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** A callable value: builtin function, lambda closure, partial application, or
  * transform (`| ... | ... |`) function. */
trait JFunction {
  def name: String
  def invoke(args: Seq[Any], interp: Interp): Any
}
