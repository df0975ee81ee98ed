package graft.jsonata

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import Values._

/** Builtin parameter: type kind + flags.
  * kinds: s string, n number, b boolean, a array(-coercible), o object,
  * f function, j any json, x anything. `contextable` marks the spec's `-`
  * flag: if the supplied argument doesn't fit, the evaluation context is
  * substituted instead. */
final case class Param(kind: Char, optional: Boolean = false, contextable: Boolean = false)

final class Builtin(
    val name: String,
    val params: Vector[Param],
    val undefPassthrough: Boolean, // first arg undefined => result undefined
    fn: (Array[Any], Any, Interp) => Any) extends JFunction {

  def invoke(args: Array[Any], interp: Interp): Any = call(args, null, interp)

  private def typeOk(p: Param, v: Any): Boolean = v == null || (p.kind match {
    case 's' => v.isInstanceOf[JsonNode] && v.asInstanceOf[JsonNode].isTextual
    case 'n' => isNumber(v)
    case 'b' => v.isInstanceOf[BooleanNode]
    case 'o' => v.isInstanceOf[ObjectNode]
    case 'f' => v.isInstanceOf[JFunction] || v.isInstanceOf[java.util.regex.Pattern]
    case 'u' => // union: string | regex | function (patterns and replacements)
      v.isInstanceOf[JFunction] || v.isInstanceOf[java.util.regex.Pattern] ||
        (v.isInstanceOf[JsonNode] && v.asInstanceOf[JsonNode].isTextual)
    case 'a' => true // singleton coercion: anything can be treated as an array
    case 'j' => !v.isInstanceOf[JFunction]
    case 'x' => true
    case _ => true
  })

  /** Positional matching with context substitution for unmatched `-` params:
    * the builtin reads one value per parameter, null where none fits. */
  def call(args: Array[Any], ctx: Any, interp: Interp): Any = {
    val resolved = new Array[Any](params.length)
    var ai = 0
    var pi = 0
    while (pi < params.length) {
      val p = params(pi)
      if (ai < args.length && typeOk(p, args(ai))) { resolved(pi) = args(ai); ai += 1 }
      else if (p.contextable && typeOk(p, ctx)) resolved(pi) = ctx
      else if (!p.optional && ai < args.length)
        throw new JsonataException("T0410",
          s"argument ${ai + 1} of function $$$name does not match its expected type '${p.kind}' (got ${typeName(args(ai))})")
      pi += 1
    }
    if (undefPassthrough && resolved.length > 0 && resolved(0) == null) return undef
    fn(resolved, ctx, interp)
  }
}

/** The JSONata 1.8 builtin library (jsonata.org function reference; the
  * reference SMT exposes all of these by delegation — SURVEY.md §2.C). */
object Functions {

  // ---- helpers ----
  private def text(v: Any): String = v.asInstanceOf[JsonNode].textValue()
  private def dbl(v: Any): Double = v.asInstanceOf[JsonNode].doubleValue()
  private def tn(s: String): TextNode = TextNode.valueOf(s)
  private def items(v: Any): Items = Items.of(v)

  def arity(f: Any): Int = f match {
    case b: Builtin => b.params.length
    case LambdaFn(ps, _, _, _) => ps.length
    case PartialFn(_, bound) => bound.count(_.isEmpty)
    case _ => 1
  }

  /** How many arguments a higher-order builtin passes `f`: its arity, at
    * least `least` and at most `most`. An index or the whole input goes
    * only to a function that takes it. */
  private def argCount(f: Any, least: Int, most: Int): Int = math.min(most, math.max(least, arity(f)))

  /** A callback's `(item, index, whole)` arguments, the first `n` of them. */
  private def itemArgs(n: Int, item: Any, i: Int, whole: JsonNode): Array[Any] = {
    val args = new Array[Any](n)
    args(0) = item
    if (n > 1) args(1) = numNode(i.toLong)
    if (n > 2) args(2) = whole
    args
  }

  /** The whole input array a higher-order builtin passes as its callback's
    * third argument; the input itself when it is an array. */
  private def wholeArray(v: Any): JsonNode = v match {
    case a: ArrayNode => a
    case s: JSeq => toNode(s)
    case other => toNode(JSeq(other))
  }

  /** First regex match as a {match, index, groups} object (regex-as-function). */
  def firstMatch(p: java.util.regex.Pattern, s: CharSequence): Any = {
    val m = p.matcher(s)
    if (!m.find()) undef
    else matchObj(m)
  }

  private def matchObj(m: java.util.regex.Matcher): ObjectNode = {
    val o = nf.objectNode()
    o.put("match", m.group())
    o.put("index", m.start())
    val groups = nf.arrayNode()
    (1 to m.groupCount()).foreach { g =>
      val gv = m.group(g)
      if (gv == null) groups.add(nf.nullNode()) else groups.add(gv)
    }
    o.set[ObjectNode]("groups", groups)
    o
  }

  private def codePoints(s: String): Array[Int] = s.codePoints().toArray

  /** Stable top-down merge sort with a jsonata "should-swap" comparator:
    * sorts `v(from until until)` in place, merging through `tmp`. */
  private def msort(v: Array[Any], tmp: Array[Any], from: Int, until: Int, swap: (Any, Any) => Boolean): Unit =
    if (until - from > 1) {
      val mid = from + (until - from) / 2
      msort(v, tmp, from, mid, swap)
      msort(v, tmp, mid, until, swap)
      var i = from; var j = mid; var k = from
      while (i < mid && j < until) {
        if (swap(v(i), v(j))) { tmp(k) = v(j); j += 1 }
        else { tmp(k) = v(i); i += 1 }
        k += 1
      }
      while (i < mid) { tmp(k) = v(i); i += 1; k += 1 }
      while (j < until) { tmp(k) = v(j); j += 1; k += 1 }
      System.arraycopy(tmp, from, v, from, until - from)
    }

  private def defaultCmpSwap(a: Any, b: Any): Boolean = (a, b) match {
    case (x: JsonNode, y: JsonNode) if x.isNumber && y.isNumber => x.doubleValue() > y.doubleValue()
    case (x: JsonNode, y: JsonNode) if x.isTextual && y.isTextual => x.textValue() > y.textValue()
    case _ => throw new JsonataException("D3070",
      "$sort argument must be an array of consistent type (numbers or strings) when no comparator is supplied")
  }

  private def b(name: String, sig: String, undefPass: Boolean = true)(
      fn: (Array[Any], Any, Interp) => Any): Builtin = {
    // sig mini-language: one char per param; '-' after char = contextable; '?' = optional
    val ps = ArrayBuffer[Param]()
    var i = 0
    while (i < sig.length) {
      val kind = sig.charAt(i)
      var opt = false; var ctxable = false
      i += 1
      var go = true
      while (go && i < sig.length) {
        sig.charAt(i) match {
          case '-' => ctxable = true; i += 1
          case '?' => opt = true; i += 1
          case _ => go = false
        }
      }
      ps += Param(kind, opt, ctxable)
    }
    new Builtin(name, ps.toVector, undefPass, fn)
  }

  // =================================================================
  // string functions
  // =================================================================

  private val fString = b("string", "x-?b?") { (a, _, _) =>
    a(0) match {
      case null => undef
      case v => tn(stringify(v, a(1) != null && truthy(a(1))))
    }
  }

  private val fLength = b("length", "s-") { (a, _, _) => numNode(codePoints(text(a(0))).length.toLong) }

  private val fSubstring = b("substring", "s-nn?") { (a, _, _) =>
    val cps = codePoints(text(a(0)))
    var start = asLongExact(a(1), "T0410").toInt
    if (start < 0) start = math.max(0, cps.length + start)
    if (start >= cps.length) tn("")
    else {
      val len = if (a(2) == null) cps.length - start
        else math.max(0, asLongExact(a(2), "T0410").toInt)
      val end = math.min(cps.length, start + len)
      tn(new String(cps, start, end - start))
    }
  }

  private val fSubstringBefore = b("substringBefore", "s-s") { (a, _, _) =>
    val s = text(a(0)); val sep = text(a(1))
    val i = s.indexOf(sep)
    tn(if (i < 0) s else s.substring(0, i))
  }

  private val fSubstringAfter = b("substringAfter", "s-s") { (a, _, _) =>
    val s = text(a(0)); val sep = text(a(1))
    val i = s.indexOf(sep)
    tn(if (i < 0) s else s.substring(i + sep.length))
  }

  private val fUppercase = b("uppercase", "s-") { (a, _, _) => tn(text(a(0)).toUpperCase) }
  private val fLowercase = b("lowercase", "s-") { (a, _, _) => tn(text(a(0)).toLowerCase) }

  private val fTrim = b("trim", "s-") { (a, _, _) =>
    tn(text(a(0)).replaceAll("[ \\t\\n\\r]+", " ").trim)
  }

  private val fPad = b("pad", "s-ns?") { (a, _, _) =>
    val s = text(a(0))
    val width = asLongExact(a(1), "T0410").toInt
    val padStr = if (a(2) == null) " " else text(a(2))
    val cps = codePoints(s)
    val target = math.abs(width)
    if (cps.length >= target || padStr.isEmpty) tn(s)
    else {
      val needed = target - cps.length
      val padCps = codePoints(padStr)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < needed) { sb.appendCodePoint(padCps(i % padCps.length)); i += 1 }
      tn(if (width < 0) sb.toString + s else s + sb.toString)
    }
  }

  private val fContains = b("contains", "s-u") { (a, _, interp) =>
    a(1) match {
      case p: java.util.regex.Pattern => BooleanNode.valueOf(p.matcher(interp.regexInput(text(a(0)))).find())
      case s: JsonNode if s.isTextual => BooleanNode.valueOf(text(a(0)).contains(s.textValue()))
      case _ => throw new JsonataException("T0410", "$contains pattern must be a string or regex")
    }
  }

  private val fSplit = b("split", "s-un?") { (a, _, interp) =>
    val s = text(a(0))
    val limit = if (a(2) == null) Int.MaxValue else asLongExact(a(2), "D3020").toInt
    if (limit < 0) throw new JsonataException("D3020", "$split limit must be non-negative")
    val parts: Seq[String] = a(1) match {
      case sep: JsonNode if sep.isTextual =>
        val sp = sep.textValue()
        if (sp.isEmpty) s.map(_.toString)
        else s.split(java.util.regex.Pattern.quote(sp), -1).toSeq
      case p: java.util.regex.Pattern => p.split(interp.regexInput(s), -1).toSeq
      case _ => throw new JsonataException("T0410", "$split separator must be a string or regex")
    }
    val arr = nf.arrayNode()
    parts.take(limit).foreach(arr.add(_): Unit)
    arr
  }

  private val fJoin = b("join", "as?") { (a, _, _) =>
    val sep = if (a(1) == null) "" else text(a(1))
    val xs = items(a(0))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < xs.length) {
      xs(i) match {
        case s: JsonNode if s.isTextual =>
          if (i > 0) sb.append(sep)
          sb.append(s.textValue())
        case other => throw new JsonataException("T0412", s"$$join items must be strings, got ${typeName(other)}")
      }
      i += 1
    }
    tn(sb.toString)
  }

  private val fMatch = b("match", "s-un?") { (a, _, interp) =>
    val p = a(1) match {
      case pat: java.util.regex.Pattern => pat
      case _ => throw new JsonataException("T0410", "$match pattern must be a regex")
    }
    val limit = if (a(2) == null) Int.MaxValue else asLongExact(a(2), "D3040").toInt
    val m = p.matcher(interp.regexInput(text(a(0))))
    val out = new JSeq()
    var n = 0
    while (n < limit && m.find()) { // Matcher.find() auto-advances past empty matches
      out.items += matchObj(m)
      n += 1
    }
    out
  }

  private val fReplace = b("replace", "s-uun?") { (a, _, interp) =>
    val s = text(a(0))
    val limit = if (a(3) == null) Int.MaxValue else asLongExact(a(3), "D3011").toInt
    if (limit < 0) throw new JsonataException("D3011", "$replace limit must be non-negative")
    a(1) match {
      case sep: JsonNode if sep.isTextual =>
        val pat = sep.textValue()
        if (pat.isEmpty) throw new JsonataException("D3010", "$replace pattern cannot be empty")
        val repl = a(2) match {
          case r: JsonNode if r.isTextual => r.textValue()
          case _ => throw new JsonataException("D3012", "$replace replacement must be a string for string patterns")
        }
        var out = s; var count = 0; var idx = out.indexOf(pat)
        val sb = new java.lang.StringBuilder; var pos = 0
        while (idx >= 0 && count < limit) {
          sb.append(out, pos, idx).append(repl)
          pos = idx + pat.length
          idx = out.indexOf(pat, pos)
          count += 1
        }
        sb.append(out, pos, out.length)
        tn(sb.toString)
      case p: java.util.regex.Pattern =>
        val m = p.matcher(interp.regexInput(s))
        val sb = new java.lang.StringBuilder
        var count = 0; var last = 0
        while (count < limit && m.find()) {
          sb.append(s, last, m.start())
          a(2) match {
            case f: JFunction =>
              val res = interp.invoke(f, Array[Any](matchObj(m)), null)
              res match {
                case t: JsonNode if t.isTextual => sb.append(t.textValue())
                case _ => throw new JsonataException("D3012", "$replace replacement function must return a string")
              }
            case r: JsonNode if r.isTextual =>
              // $N group references; $$ = literal $
              val rs = r.textValue()
              var i = 0
              while (i < rs.length) {
                val c = rs.charAt(i)
                if (c == '$' && i + 1 < rs.length) {
                  val nxt = rs.charAt(i + 1)
                  if (nxt == '$') { sb.append('$'); i += 2 }
                  else if (nxt.isDigit) {
                    var j = i + 1; var g = 0
                    while (j < rs.length && rs.charAt(j).isDigit && g * 10 + (rs.charAt(j) - '0') <= m.groupCount()) {
                      g = g * 10 + (rs.charAt(j) - '0'); j += 1
                    }
                    if (g == 0) { sb.append(c); i += 1 }
                    else { val gv = m.group(g); if (gv != null) sb.append(gv); i = j }
                  } else { sb.append(c); i += 1 }
                } else { sb.append(c); i += 1 }
              }
            case _ => throw new JsonataException("D3012", "$replace replacement must be a string or function")
          }
          last = m.end()
          count += 1
        }
        sb.append(s, last, s.length)
        tn(sb.toString)
      case _ => throw new JsonataException("T0410", "$replace pattern must be a string or regex")
    }
  }

  private val fEval = b("eval", "s-x?") { (a, ctx, interp) =>
    val src = text(a(0))
    val expr =
      try Jsonata.compileCached(src)
      catch { case e: JsonataException => throw new JsonataException("D3120", s"$$eval parse error: ${e.getMessage}") }
    val input = if (a(1) == null) ctx else a(1)
    try expr.evaluateValue(input, interp)
    catch {
      case e: JsonataException if e.code.startsWith("D312") => throw e
      case e: JsonataException => throw new JsonataException("D3121", s"$$eval error: ${e.getMessage}")
    }
  }

  private val fBase64encode = b("base64encode", "s-") { (a, _, _) =>
    tn(java.util.Base64.getEncoder.encodeToString(text(a(0)).getBytes("UTF-8")))
  }
  private val fBase64decode = b("base64decode", "s-") { (a, _, _) =>
    tn(new String(java.util.Base64.getDecoder.decode(text(a(0))), "UTF-8"))
  }

  private def jsUriEncode(s: String, keep: String): String = {
    val unreserved = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_.!~*'()" + keep
    val sb = new StringBuilder
    s.foreach { c =>
      if (unreserved.indexOf(c.toInt) >= 0) sb.append(c)
      else c.toString.getBytes("UTF-8").foreach(bb => sb.append(f"%%${bb & 0xff}%02X"))
    }
    sb.toString
  }
  private def jsUriDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        try { out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3 }
        catch { case _: NumberFormatException => throw new JsonataException("D3137", "malformed percent-encoding") }
      } else { out.write(c.toString.getBytes("UTF-8")); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }

  private val fEncodeUrlComponent = b("encodeUrlComponent", "s-") { (a, _, _) => tn(jsUriEncode(text(a(0)), "")) }
  private val fEncodeUrl = b("encodeUrl", "s-") { (a, _, _) => tn(jsUriEncode(text(a(0)), ";/?:@&=+$,#")) }
  private val fDecodeUrlComponent = b("decodeUrlComponent", "s-") { (a, _, _) => tn(jsUriDecode(text(a(0)))) }
  private val fDecodeUrl = b("decodeUrl", "s-") { (a, _, _) => tn(jsUriDecode(text(a(0)))) }

  // =================================================================
  // numeric functions
  // =================================================================

  private val fNumber = b("number", "j-") { (a, _, _) =>
    a(0) match {
      case n: JsonNode if n.isNumber => n
      case s: JsonNode if s.isTextual =>
        val t = s.textValue().trim
        val parsed: JsonNode =
          try {
            if (t.matches("[+-]?\\d+")) numNode(java.lang.Long.parseLong(t))
            else if (t.matches("[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?")) numNode(t.toDouble)
            else if (t.matches("0[xX][0-9a-fA-F]+")) numNode(java.lang.Long.parseLong(t.substring(2), 16))
            else null
          } catch { case _: NumberFormatException => null }
        if (parsed == null) throw new JsonataException("D3030", s"unable to cast '$t' to a number")
        parsed
      case bo: BooleanNode => numNode(if (bo.booleanValue()) 1L else 0L)
      case other => throw new JsonataException("D3030", s"unable to cast ${typeName(other)} to a number")
    }
  }

  private val fAbs = b("abs", "n-") { (a, _, _) =>
    val n = a(0).asInstanceOf[JsonNode]
    if (n.isIntegralNumber) numNode(math.abs(n.longValue())) else numNode(math.abs(n.doubleValue()))
  }
  private val fFloor = b("floor", "n-") { (a, _, _) => numNode(math.floor(dbl(a(0))).toLong) }
  private val fCeil = b("ceil", "n-") { (a, _, _) => numNode(math.ceil(dbl(a(0))).toLong) }
  private val fSqrt = b("sqrt", "n-") { (a, _, _) =>
    val d = dbl(a(0))
    if (d < 0) throw new JsonataException("D3060", "$sqrt of negative number")
    numNode(math.sqrt(d))
  }
  private val fPower = b("power", "n-n") { (a, _, _) =>
    val r = math.pow(dbl(a(0)), dbl(a(1)))
    if (r.isNaN || r.isInfinite)
      throw new JsonataException("D3061", s"$$power result out of range (${stringify(a(0))}^${stringify(a(1))})")
    numNode(r)
  }

  private val fRound = b("round", "n-n?") { (a, _, _) =>
    val precision = if (a(1) == null) 0 else asLongExact(a(1), "T0410").toInt
    val bd = a(0).asInstanceOf[JsonNode].decimalValue()
    val rounded = bd.setScale(precision, java.math.RoundingMode.HALF_EVEN)
    if (precision <= 0 || rounded.stripTrailingZeros().scale() <= 0) {
      if (rounded.abs().compareTo(new java.math.BigDecimal(Long.MaxValue)) < 0) numNode(rounded.longValue())
      else numNode(rounded.doubleValue())
    } else numNode(rounded.doubleValue())
  }

  private val fRandom = b("random", "") { (_, _, _) =>
    numNode(java.util.concurrent.ThreadLocalRandom.current().nextDouble())
  }

  private val fFormatNumber = b("formatNumber", "n-so?") { (a, _, _) =>
    val picture = text(a(1))
    val symbols = new java.text.DecimalFormatSymbols(java.util.Locale.US)
    if (a(2) != null) a(2).asInstanceOf[ObjectNode].fields().asScala.foreach { e =>
      val v = e.getValue.asText()
      e.getKey match {
        case "decimal-separator" => symbols.setDecimalSeparator(v.charAt(0))
        case "grouping-separator" => symbols.setGroupingSeparator(v.charAt(0))
        case "minus-sign" => symbols.setMinusSign(v.charAt(0))
        case "percent" => symbols.setPercent(v.charAt(0))
        case "per-mille" => symbols.setPerMill(v.charAt(0))
        case "zero-digit" => symbols.setZeroDigit(v.charAt(0))
        case "infinity" => symbols.setInfinity(v)
        case "nan" => symbols.setNaN(v)
        case "exponent-separator" => symbols.setExponentSeparator(v)
        case _ =>
      }
    }
    // XPath F&O scientific notation: the exponent separator defaults to
    // lowercase 'e' ("00.000e0" -> "12.346e2") and is overridable via the
    // exponent-separator option, while DecimalFormat's pattern char is 'E'.
    // Translate a separator that starts an exponent part (followed by a digit
    // token) and emit it back through the symbols' separator. Pictures with
    // quoted literal sections are left untouched (the literal could contain
    // the separator char; quoting is DecimalFormat territory anyway).
    val expSep = Option(a(2)).map(_.asInstanceOf[ObjectNode])
      .flatMap(o => Option(o.get("exponent-separator"))).map(_.asText).getOrElse("e")
    val sepQ = java.util.regex.Pattern.quote(expSep)
    val dfPicture =
      if (!picture.contains("'") && s"$sepQ[0#]".r.findFirstIn(picture).isDefined) {
        symbols.setExponentSeparator(expSep)
        picture.replaceAll(s"$sepQ(?=[0#])", "E")
      } else picture
    val df = new java.text.DecimalFormat(dfPicture, symbols)
    df.setRoundingMode(java.math.RoundingMode.HALF_EVEN)
    tn(df.format(dbl(a(0))))
  }

  private val fFormatBase = b("formatBase", "n-n?") { (a, _, _) =>
    val radix = if (a(1) == null) 10 else asLongExact(a(1), "D3100").toInt
    if (radix < 2 || radix > 36) throw new JsonataException("D3100", s"radix out of range: $radix")
    val n = math.round(dbl(a(0)))
    tn(java.lang.Long.toString(n, radix))
  }

  private val fFormatInteger = b("formatInteger", "n-s") { (a, _, _) =>
    tn(IntegerFmt.format(math.round(dbl(a(0))), text(a(1))))
  }
  private val fParseInteger = b("parseInteger", "s-s") { (a, _, _) =>
    numNode(IntegerFmt.parse(text(a(0)), text(a(1))))
  }

  // =================================================================
  // aggregation
  // =================================================================

  private def num(v: Any, fname: String): Double = v match {
    case n: JsonNode if n.isNumber => n.doubleValue()
    case other => throw new JsonataException("T0412", s"$$$fname argument must be an array of numbers, got ${typeName(other)}")
  }

  /** The sum of `xs` as doubles, in order. */
  private def sumOf(xs: Items, fname: String): Double = {
    var sum = 0.0
    var i = 0
    while (i < xs.length) { sum += num(xs(i), fname); i += 1 }
    sum
  }

  private val fSum = b("sum", "a") { (a, _, _) =>
    // keep integral fidelity when all items are integral
    val xs = items(a(0))
    if (xs.forall { case n: JsonNode => n.isIntegralNumber; case _ => false }) {
      var sum = 0L
      var i = 0
      while (i < xs.length) { sum += xs(i).asInstanceOf[JsonNode].longValue(); i += 1 }
      numNode(sum)
    } else numNode(sumOf(xs, "sum"))
  }

  /** The first item of `xs` whose number `better` prefers to every item
    * before it (Double.compare order); every item must be a number. */
  private def extreme(xs: Items, fname: String, better: Int => Boolean): Any =
    if (xs.isEmpty) undef
    else {
      var best = 0
      var bestD = num(xs(0), fname)
      var i = 1
      while (i < xs.length) {
        val d = num(xs(i), fname)
        if (better(java.lang.Double.compare(d, bestD))) { best = i; bestD = d }
        i += 1
      }
      xs(best)
    }

  private val fMax = b("max", "a") { (a, _, _) => extreme(items(a(0)), "max", _ > 0) }
  private val fMin = b("min", "a") { (a, _, _) => extreme(items(a(0)), "min", _ < 0) }
  private val fAverage = b("average", "a") { (a, _, _) =>
    val xs = items(a(0))
    if (xs.isEmpty) undef else numNode(sumOf(xs, "average") / xs.length)
  }

  // =================================================================
  // boolean
  // =================================================================

  private val fBoolean = b("boolean", "x-") { (a, _, _) =>
    a(0) match { case null => undef; case v => BooleanNode.valueOf(truthy(v)) }
  }
  private val fNot = b("not", "x-") { (a, _, _) =>
    a(0) match { case null => undef; case v => BooleanNode.valueOf(!truthy(v)) }
  }
  private val fExists = b("exists", "x", undefPass = false) { (a, _, _) =>
    BooleanNode.valueOf(a(0) != null)
  }

  // =================================================================
  // arrays
  // =================================================================

  private val fCount = b("count", "a?", undefPass = false) { (a, _, _) =>
    numNode(sizeOf(a(0)).toLong)
  }

  private val fAppend = b("append", "xx", undefPass = false) { (a, _, _) =>
    if (a(0) == null) a(1)
    else if (a(1) == null) a(0)
    else {
      val out = new JSeq()
      out.items ++= items(a(0))
      out.items ++= items(a(1))
      out.keepSingleton = true // append always yields an array-like result
      out
    }
  }

  private val fSort = b("sort", "af?") { (a, _, interp) =>
    val xs = items(a(0)).toArray[Any]
    val swap: (Any, Any) => Boolean = a(1) match {
      case null => defaultCmpSwap
      case f => (x, y) => truthy(interp.invoke(f, Array[Any](x, y), null))
    }
    msort(xs, new Array[Any](xs.length), 0, xs.length, swap)
    JSeq.of(xs)
  }

  private val fReverse = b("reverse", "a") { (a, _, _) => JSeq.of(items(a(0)).reverseIterator) }

  private val fShuffle = b("shuffle", "a") { (a, _, _) =>
    val xs = items(a(0)).toBuffer
    val rnd = java.util.concurrent.ThreadLocalRandom.current()
    var i = xs.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
    JSeq.of(xs)
  }

  private val fDistinct = b("distinct", "a") { (a, _, _) =>
    val seen = scala.collection.mutable.LinkedHashSet[Any]()
    val out = new JSeq()
    items(a(0)).foreach { v =>
      val k = canonical(v)
      if (!seen.contains(k)) { seen += k; out.items += v }
    }
    out
  }

  private val fZip = b("zip", "aaaaaaaa", undefPass = false) { (a, _, _) =>
    val arrays = a.iterator.takeWhile(_ != null).map(items).toVector
    val out = nf.arrayNode()
    if (arrays.nonEmpty) {
      val len = arrays.map(_.length).min
      (0 until len).foreach { i =>
        val row = nf.arrayNode()
        arrays.foreach { arr =>
          val n = toNode(arr(i)); row.add(if (n == null) nf.nullNode() else n): Unit
        }
        out.add(row): Unit
      }
    }
    out
  }

  // =================================================================
  // objects
  // =================================================================

  private val fKeys = b("keys", "x-") { (a, _, _) =>
    val out = new JSeq()
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    def collect(v: Any): Unit = v match {
      case o: ObjectNode => o.fieldNames().asScala.foreach(k => if (seen.add(k)) out.items += tn(k))
      case arr if isArrayLike(arr) => items(arr).foreach(collect)
      case _ =>
    }
    collect(a(0))
    out
  }

  private val fLookup = b("lookup", "x-s") { (a, _, interp) =>
    interp.lookupName(a(0), text(a(1)))
  }

  private val fSpread = b("spread", "x-") { (a, _, _) =>
    val out = new JSeq()
    def spread(v: Any): Unit = v match {
      case o: ObjectNode =>
        o.fields().asScala.foreach { e =>
          val single = nf.objectNode()
          single.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue): Unit
          out.items += single
        }
      case arr if isArrayLike(arr) => items(arr).foreach(spread)
      case other => out.items += other
    }
    spread(a(0))
    out
  }

  private val fMerge = b("merge", "a") { (a, _, _) =>
    val xs = items(a(0))
    val result = nf.objectNode()
    var i = 0
    while (i < xs.length) {
      xs(i) match {
        case o: ObjectNode => result.setAll[ObjectNode](o)
        case other => throw new JsonataException("T0412", s"$$merge items must be objects, got ${typeName(other)}")
      }
      i += 1
    }
    result
  }

  /** A callback's `(value, key, object)` arguments for one field, the first `n` of them. */
  private def fieldArgs(n: Int, e: java.util.Map.Entry[String, JsonNode], o: ObjectNode): Array[Any] = {
    val args = new Array[Any](n)
    args(0) = e.getValue
    if (n > 1) args(1) = tn(e.getKey)
    if (n > 2) args(2) = o
    args
  }

  private val fSift = b("sift", "o-f") { (a, _, interp) =>
    val o = a(0).asInstanceOf[ObjectNode]
    val f = a(1)
    val n = argCount(f, 1, 3)
    val result = nf.objectNode()
    val it = o.fields()
    while (it.hasNext) {
      val e = it.next()
      if (truthy(interp.invoke(f, fieldArgs(n, e, o), null))) result.set[JsonNode](e.getKey, e.getValue): Unit
    }
    if (result.isEmpty) undef else result
  }

  private val fEach = b("each", "o-f") { (a, _, interp) =>
    val o = a(0).asInstanceOf[ObjectNode]
    val f = a(1)
    val n = argCount(f, 1, 2)
    val out = new JSeq()
    val it = o.fields()
    while (it.hasNext) {
      val r = interp.invoke(f, fieldArgs(n, it.next(), o), null)
      if (r != null) out.items += r
    }
    out
  }

  private val fError = b("error", "s?", undefPass = false) { (a, _, _) =>
    throw new JsonataException("D3137", if (a(0) == null) "$error() function evaluated" else text(a(0)))
  }

  private val fAssert = b("assert", "bs?", undefPass = false) { (a, _, _) =>
    if (!truthy(a(0)))
      throw new JsonataException("D3141", if (a(1) == null) "$assert() statement failed" else text(a(1)))
    undef
  }

  private val fType = b("type", "x") { (a, _, _) =>
    a(0) match {
      case null => undef
      case v => tn(typeName(v))
    }
  }

  // =================================================================
  // date/time
  // =================================================================

  private val fNow = b("now", "s?s?", undefPass = false) { (a, _, interp) =>
    tn(DateTimeFmt.format(interp.evalMillis,
      if (a(0) == null) None else Some(text(a(0))),
      if (a(1) == null) None else Some(text(a(1)))))
  }

  private val fMillis = b("millis", "", undefPass = false) { (_, _, interp) => numNode(interp.evalMillis) }

  private val fFromMillis = b("fromMillis", "n-s?s?") { (a, _, _) =>
    tn(DateTimeFmt.format(math.round(dbl(a(0))),
      if (a(1) == null) None else Some(text(a(1))),
      if (a(2) == null) None else Some(text(a(2)))))
  }

  private val fToMillis = b("toMillis", "s-s?") { (a, _, _) =>
    numNode(DateTimeFmt.parse(text(a(0)), if (a(1) == null) None else Some(text(a(1)))))
  }

  // =================================================================
  // higher-order
  // =================================================================

  private val fMap = b("map", "af") { (a, _, interp) =>
    val xs = items(a(0))
    val f = a(1)
    val n = argCount(f, 1, 3)
    val whole = if (n > 2) wholeArray(a(0)) else null
    val out = new JSeq()
    var i = 0
    while (i < xs.length) {
      val r = interp.invoke(f, itemArgs(n, xs(i), i, whole), null)
      if (r != null) out.items += r
      i += 1
    }
    out
  }

  private val fFilter = b("filter", "af") { (a, _, interp) =>
    val xs = items(a(0))
    val f = a(1)
    val n = argCount(f, 1, 3)
    val whole = if (n > 2) wholeArray(a(0)) else null
    val out = new JSeq()
    var i = 0
    while (i < xs.length) {
      if (truthy(interp.invoke(f, itemArgs(n, xs(i), i, whole), null))) out.items += xs(i)
      i += 1
    }
    out
  }

  private val fReduce = b("reduce", "afj?") { (a, _, interp) =>
    val xs = items(a(0))
    val f = a(1)
    if (arity(f) < 2)
      throw new JsonataException("D3050", "$reduce function must accept at least two arguments")
    if (a(2) == null && xs.isEmpty) undef
    else {
      var acc: Any = if (a(2) != null) a(2) else xs(0)
      val n = argCount(f, 2, 4)
      val whole = if (n > 3) wholeArray(a(0)) else null
      var i = if (a(2) != null) 0 else 1
      while (i < xs.length) {
        val args = new Array[Any](n)
        args(0) = acc
        args(1) = xs(i)
        if (n > 2) args(2) = numNode(i.toLong)
        if (n > 3) args(3) = whole
        acc = interp.invoke(f, args, null)
        i += 1
      }
      acc
    }
  }

  private val fSingle = b("single", "af?") { (a, _, interp) =>
    val xs = items(a(0))
    val f = a(1)
    val n = if (f == null) 0 else argCount(f, 1, 3)
    val whole = if (n > 2) wholeArray(a(0)) else null
    var matches = 0
    var found: Any = undef
    var i = 0
    while (i < xs.length) {
      if (f == null || truthy(interp.invoke(f, itemArgs(n, xs(i), i, whole), null))) {
        if (matches == 0) found = xs(i)
        matches += 1
      }
      i += 1
    }
    if (matches == 0)
      throw new JsonataException("D3139", "$single: no matching item")
    if (matches > 1)
      throw new JsonataException("D3138", s"$$single: $matches matching items")
    found
  }

  // =================================================================
  // registry
  // =================================================================

  val all: Seq[Builtin] = Seq(
    fString, fLength, fSubstring, fSubstringBefore, fSubstringAfter, fUppercase,
    fLowercase, fTrim, fPad, fContains, fSplit, fJoin, fMatch, fReplace, fEval,
    fBase64encode, fBase64decode, fEncodeUrlComponent, fEncodeUrl,
    fDecodeUrlComponent, fDecodeUrl,
    fNumber, fAbs, fFloor, fCeil, fSqrt, fPower, fRound, fRandom, fFormatNumber,
    fFormatBase, fFormatInteger, fParseInteger,
    fSum, fMax, fMin, fAverage,
    fBoolean, fNot, fExists,
    fCount, fAppend, fSort, fReverse, fShuffle, fDistinct, fZip,
    fKeys, fLookup, fSpread, fMerge, fSift, fEach, fError, fAssert, fType,
    fNow, fMillis, fFromMillis, fToMillis,
    fMap, fFilter, fReduce, fSingle)

  /** Root frame holding the builtin library; immutable after construction. */
  val rootFrame: Frame = {
    val f = new Frame(null)
    all.foreach(fn => f.bind(fn.name, fn))
    f
  }
}
