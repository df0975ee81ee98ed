package graft.jsonata

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, NullNode, ObjectNode}

import scala.collection.mutable.ArrayBuffer

import Values.JSeq

/** Typed lambda signatures (`function($x)<s:s>{...}`) — JSONata 1.8 §
  * "Function signatures". The Parser captures the raw text; this module parses
  * it (cached) and validates/coerces arguments at call time, raising T0410 on
  * violation. Matches jsonata-js signature.js semantics, which is what
  * JSONata4Java mirrors at the reference's delegation site
  * (JsonataTransformation.java:104):
  *
  *  - type symbols: b n s l a o f, unions u=(bnsl) j=(bnslao) x=any,
  *    choices `(sao)`, parameterized `a<n>` (element-typed array; elements are
  *    validated), `f<...>` (function; inner sig not enforced, as in the JS
  *    implementation for lambda-applied functions);
  *  - modifiers: `+` one-or-more (consumes the remaining arguments),
  *    `?` optional, `-` context-substitutable (undefined argument takes the
  *    evaluation context);
  *  - an undefined argument always passes (undefined propagates through typed
  *    functions rather than erroring — the behavior builtin signatures like
  *    $uppercase `<s-:s>` rely on);
  *  - a non-array argument for an array parameter is coerced to a singleton
  *    array (after element-type validation);
  *  - surplus arguments beyond the signature raise T0410;
  *  - the return type is documentation only (not validated), as in jsonata-js.
  */
object Signature {

  final case class Param(types: Set[Char], oneOrMore: Boolean, optional: Boolean,
                         contextable: Boolean, inner: Option[Param])
  final case class Sig(params: Vector[Param])

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Sig]()

  def parse(raw: String): Sig = {
    val hit = cache.get(raw)
    if (hit != null) hit
    else { val s = doParse(raw); cache.put(raw, s); s }
  }

  private def expand(c: Char, raw: String): Set[Char] = c match {
    case 'u' => Set('b', 'n', 's', 'l')
    case 'j' => Set('b', 'n', 's', 'l', 'a', 'o')
    case 'x' => Set('b', 'n', 's', 'l', 'a', 'o', 'f')
    case t if "bnslaof".indexOf(t.toInt) >= 0 => Set(t)
    case other => throw new JsonataException("S0402", s"unknown type symbol '$other' in signature $raw")
  }

  private def doParse(raw: String): Sig = {
    val body0 = raw.stripPrefix("<").stripSuffix(">")
    // cut the (unvalidated) return type at the top-level ':'
    var depth = 0
    var cut = -1
    var i0 = 0
    while (i0 < body0.length && cut < 0) {
      body0(i0) match {
        case '<' | '(' => depth += 1
        case '>' | ')' => depth -= 1
        case ':' if depth == 0 => cut = i0
        case _ =>
      }
      i0 += 1
    }
    val body = if (cut >= 0) body0.substring(0, cut) else body0
    val params = Vector.newBuilder[Param]
    var i = 0
    while (i < body.length) {
      val c = body(i)
      var types: Set[Char] = null
      var inner: Option[Param] = None
      if (c == '(') { // choice, e.g. (sao)
        val close = body.indexOf(')', i)
        if (close < 0) throw new JsonataException("S0402", s"unbalanced choice in signature $raw")
        types = body.substring(i + 1, close).flatMap(expand(_, raw)).toSet
        i = close + 1
      } else {
        types = expand(c, raw)
        i += 1
      }
      if (i < body.length && body(i) == '<') { // parameterized, e.g. a<n>, f<n:n>
        var d = 1
        val start = i + 1
        i += 1
        while (d > 0) {
          if (i >= body.length) throw new JsonataException("S0402", s"unbalanced '<' in signature $raw")
          if (body(i) == '<') d += 1
          if (body(i) == '>') d -= 1
          i += 1
        }
        if (c == 'a') {
          val innerSig = doParse(body.substring(start, i - 1))
          inner = innerSig.params.headOption
        } // 'f<...>': inner function signature not enforced (jsonata-js parity)
      }
      var oneOrMore = false
      var optional = false
      var contextable = false
      var more = true
      while (i < body.length && more) body(i) match {
        case '+' => oneOrMore = true; i += 1
        case '?' => optional = true; i += 1
        case '-' => contextable = true; i += 1
        case _ => more = false
      }
      params += Param(types, oneOrMore, optional, contextable, inner)
    }
    Sig(params.result())
  }

  private def typeOf(v: Any): Char = v match {
    case null => 'm' // missing/undefined
    case _: NullNode => 'l'
    case n: JsonNode if n.isNumber => 'n'
    case n: JsonNode if n.isTextual => 's'
    case n: JsonNode if n.isBoolean => 'b'
    case _: ArrayNode | _: JSeq => 'a'
    case _: ObjectNode => 'o'
    case _: JFunction | _: java.util.regex.Pattern => 'f'
    case _ => '?'
  }

  private def fail(argIdx: Int, fnName: => String): Nothing =
    throw new JsonataException("T0410",
      s"argument ${argIdx + 1} of function $fnName does not match function signature")

  private def elements(v: Any): Iterable[Any] = v match {
    case a: ArrayNode => scala.jdk.CollectionConverters.IteratorHasAsScala(a.elements()).asScala.toVector
    case s: JSeq => s.items
    case _ => Nil
  }

  private def checkInner(arr: Any, inner: Option[Param], argIdx: Int, fnName: => String): Unit =
    inner.foreach { p =>
      elements(arr).foreach { e =>
        val t = typeOf(e)
        if (t != 'm' && !p.types.contains(t)) fail(argIdx, fnName)
      }
    }

  private def checkOne(v: Any, p: Param, argIdx: Int, fnName: => String): Any = {
    val t = typeOf(v)
    if (t == 'm') v // undefined always passes through
    else if (p.types.contains(t)) {
      if (t == 'a') checkInner(v, p.inner, argIdx, fnName)
      v
    } else if (p.types.contains('a')) {
      // singleton -> array coercion (after element-type validation)
      p.inner.foreach { ip => if (!ip.types.contains(t)) fail(argIdx, fnName) }
      v match {
        case n: JsonNode => val a = Values.nf.arrayNode(1); a.add(n); a
        case other => JSeq(other)
      }
    } else fail(argIdx, fnName)
  }

  /** Validate `args` against the signature; returns the (possibly coerced)
    * arguments to bind. `ctx` feeds `-` substitution. */
  def validate(raw: String, args: Array[Any], ctx: Any, fnName: => String): Array[Any] = {
    val sig = parse(raw)
    val out = new ArrayBuffer[Any](args.length)
    var ai = 0
    var pi = 0
    while (pi < sig.params.length) {
      val p = sig.params(pi)
      if (p.oneOrMore) {
        // consumes the rest of the argument list; at least the first position
        // is validated even when absent (undefined passes)
        if (ai >= args.length) out += checkOne(null, p, ai, fnName)
        while (ai < args.length) { out += checkOne(args(ai), p, ai, fnName); ai += 1 }
      } else {
        val supplied = ai < args.length
        val v =
          if (supplied) args(ai)
          else if (p.contextable) ctx
          else null
        if (supplied) ai += 1
        out += checkOne(v, p, ai - 1, fnName)
      }
      pi += 1
    }
    if (ai < args.length) fail(ai, fnName) // surplus arguments
    out.toArray
  }
}
