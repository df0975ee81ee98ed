package graft.jsonata

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node._
import scala.collection.mutable.ArrayBuffer
import Values._
import Ast._

/** Variable scope frame; the root frame holds the builtin function library.
  * The map is made on the first bind, as many frames (a block's, a lambda's
  * with no parameters) bind nothing. */
final class Frame(val parent: Frame) {
  private var vars: java.util.HashMap[String, Any] = null
  def bind(name: String, v: Any): Unit = {
    if (vars == null) vars = new java.util.HashMap[String, Any](8)
    vars.put(name, v)
  }
  /** The innermost binding of `name`; null (undefined) when none binds it.
    * A name bound to undefined shadows outer bindings. */
  def lookup(name: String): Any = {
    var f = this
    while (f != null) {
      val m = f.vars
      if (m != null) {
        val v = m.get(name)
        if (v != null || m.containsKey(name)) return v
      }
      f = f.parent
    }
    null
  }
}

/** One evaluation run: tree-walking interpreter with cooperative timeout and
  * lambda-recursion depth guard (mirrors the reference's `timeout.ms` /
  * `max.depth` governance, reference JsonataTransformation.java:104,
  * Config.java:23-29).
  *
  * Sequences are read through [[Values.Items]] and calls pass their
  * arguments as one array, so evaluating a path, a call or a constructor
  * copies no input collection. */
final class Interp(val timeoutMs: Long, val maxDepth: Int) {

  val evalMillis: Long = System.currentTimeMillis() // $now/$millis bound once per evaluation
  private val deadline: Long =
    if (timeoutMs > 0) System.nanoTime() + timeoutMs * 1000000L else Long.MaxValue
  private var depth = 0
  private var tick = 0

  private def checkRuntime(): Unit = {
    tick += 1
    if ((tick & 0xff) == 0) checkDeadline()
  }

  private def checkDeadline(): Unit =
    if (System.nanoTime() > deadline)
      throw new JsonataException("U1001", s"expression evaluation timed out after ${timeoutMs}ms")

  /** `s` as a regex built-in should read it. java.util.regex never hands
    * control back mid-match, so a backtracking pattern would run far past
    * the timeout; this view checks the deadline every 4096 characters the
    * matcher reads instead. */
  private[jsonata] def regexInput(s: String): CharSequence =
    if (deadline == Long.MaxValue) s
    else new CharSequence {
      private var reads = 0
      def length: Int = s.length
      def charAt(i: Int): Char = {
        reads += 1
        if ((reads & 0xfff) == 0) checkDeadline()
        s.charAt(i)
      }
      def subSequence(start: Int, end: Int): CharSequence = s.subSequence(start, end)
      override def toString: String = s
    }

  /** Per-item provenance for tuple-stream path evaluation (%/@/# support). */
  private final case class Tup(at: Any, ancestors: List[Any], bindings: Map[String, Any])

  private val AncestorsKey = " %ancestors" // illegal var name => cannot collide

  // ------------------------------------------------------------------
  // core dispatch
  // ------------------------------------------------------------------

  def eval(node: Ast, ctx: Any, env: Frame): Any = {
    checkRuntime()
    // the most frequent node types first: the match tests them in order
    val raw: Any = node match {
      case p: Path => evalPath(p, ctx, env)
      case n: NameStep => lookupName(ctx, n.name)
      case VarRef(name) => if (name.isEmpty) ctx else env.lookup(name)
      case c: Call => evalCall(c, ctx, env)
      case s: StrLit => s.node
      case NumLit(v) => v
      case Binary(op, l, r) => evalBinary(op, l, r, ctx, env)
      case o: ObjCtor => evalGroup(o, ctx, env)
      case Cond(c, t, e) =>
        if (truthy(eval(c, ctx, env))) eval(t, ctx, env)
        else e match {
          case Some(x) => eval(x, ctx, env)
          case None => undef
        }
      case BoolLit(b) => BooleanNode.valueOf(b)
      case NullLit() => nf.nullNode()
      case RegexLit(p) => p
      case Wildcard() => evalWildcard(ctx)
      case Descendant() => evalDescendants(ctx)
      case ParentRef() => evalParent(env)
      case f: Filtered => evalFiltered(f, ctx, env)
      case a: ArrCtor => evalArrayCtor(a, ctx, env)
      case Block(exprs) =>
        val child = new Frame(env)
        var last: Any = undef
        var i = 0
        while (i < exprs.length) { last = eval(exprs(i), ctx, child); i += 1 }
        last
      case Bind(name, value) =>
        val v = eval(value, ctx, env)
        env.bind(name, v)
        v
      case UnaryMinus(e) =>
        eval(e, ctx, env) match {
          case null => undef
          case n: JsonNode if n.isNumber =>
            if (n.isIntegralNumber && !n.isBigInteger) numNode(-n.longValue())
            else numNode(-n.doubleValue())
          case other => throw new JsonataException("D1002", s"cannot negate ${typeName(other)}")
        }
      case r: RangeExpr => evalRange(r, ctx, env)
      case l: Lambda => LambdaFn(l.params, l.body, env, l.signature)
      case Placeholder() => throw new JsonataException("S0211", "'?' is only valid inside a partial application")
      case a: ApplyOp => evalApply(a, ctx, env)
      case t: TransformExpr => TransformFn(t, env, this)
      case s: SortOpNode => // standalone sort step should not occur outside paths
        sortItems(Items.of(ctx), s.terms, env)
    }
    raw match {
      case s: JSeq =>
        if (s.items.isEmpty) undef
        else if (s.items.length == 1 && !s.keepSingleton) s.items(0)
        else s
      case other => other
    }
  }

  // ------------------------------------------------------------------
  // names / variables / wildcards
  // ------------------------------------------------------------------

  /** fn.lookup semantics: field access; maps over arrays (flattening). */
  def lookupName(ctx: Any, name: String): Any = ctx match {
    case o: ObjectNode => o.get(name) // null when absent: a child is never null
    case arr if isArrayLike(arr) =>
      val items = Items.of(arr)
      val out = new JSeq()
      var i = 0
      while (i < items.length) {
        spreadInto(out, lookupName(items(i), name))
        i += 1
      }
      out
    case _ => undef
  }

  /** Appends `v` to `out`, spreading an array or a sequence; nothing adds nothing. */
  private def spreadInto(out: JSeq, v: Any): Unit = v match {
    case null =>
    case s: JSeq => out.items ++= s.items
    case a: ArrayNode =>
      var j = 0
      while (j < a.size()) { out.items += a.get(j); j += 1 }
    case other => out.items += other
  }

  private def evalWildcard(ctx: Any): Any = ctx match {
    case o: ObjectNode =>
      val out = new JSeq()
      def flat(v: JsonNode): Unit = v match {
        case a: ArrayNode => a.forEach(flat(_))
        case other => out.items += other
      }
      o.elements().forEachRemaining(flat(_))
      out
    case arr if isArrayLike(arr) =>
      val out = new JSeq()
      Items.of(arr).foreach(item => out.items ++= Items.of(evalWildcard(item)))
      out
    case _ => undef
  }

  private def evalDescendants(ctx: Any): Any = ctx match {
    case null => undef
    case _ =>
      val out = new JSeq()
      def recurse(v: Any): Unit = v match {
        case a: ArrayNode => a.forEach(recurse(_))
        case s: JSeq => s.items.foreach(recurse)
        case o: ObjectNode =>
          out.items += o
          o.elements().forEachRemaining(recurse(_))
        case other => out.items += other
      }
      recurse(ctx)
      out
  }

  private def evalParent(env: Frame): Any = env.lookup(AncestorsKey) match {
    case (head: Any) :: _ => head
    case _ => throw new JsonataException("S0217", "the parent operator % cannot be used here")
  }

  // ------------------------------------------------------------------
  // paths
  // ------------------------------------------------------------------

  private def evalPath(p: Path, ctx: Any, env: Frame): Any = {
    // a relative path maps over an array context; an absolute one starts at it
    val absolute = p.steps.head.expr.isInstanceOf[VarRef]
    val input = if (!absolute && isArrayLike(ctx)) Items.of(ctx) else Items.one(ctx)

    var result: Any =
      if (p.tupleMode) evalTuplePath(p, input, env)
      else evalPlainPath(p, ctx, input, env)

    if (p.keepSingletonArray) result match {
      case s: JSeq => s.keepSingleton = true
      case null =>
      case a: ArrayNode => // already an array
      case v => result = { val s = JSeq(v); s.keepSingleton = true; s }
    }
    p.group match {
      case Some(ctor) => result = evalGroup(ctor, result, env)
      case None =>
    }
    result
  }

  private def evalPlainPath(p: Path, origCtx: Any, input0: Items, env: Frame): Any = {
    var input = input0
    var result: Any = undef
    var i = 0
    val n = p.steps.length
    var broke = false
    while (i < n && !broke) {
      val step = p.steps(i)
      step.expr match {
        case SortOpNode(terms) =>
          var sorted: Any = sortItems(input, terms, env)
          step.stages.foreach {
            case FilterStage(e) => sorted = applyFilter(e, sorted, env)
            case _ =>
          }
          result = sorted
        case ArrCtor(_) if i == 0 =>
          result = eval(step.expr, origCtx, env)
        case _ =>
          result = evalStep(step, input, env, i == n - 1)
      }
      val emptySeq = result match {
        case null => true
        case s: JSeq if s.items.isEmpty => true
        case _ => false
      }
      if (emptySeq) { result = undef; broke = true }
      else if (sizeOf(result) == 0) broke = true // plain empty array from data: keep it
      else input = Items.of(result)
      i += 1
    }
    result
  }

  /** One path step over every input item, the results spread into one
    * sequence (an array constructor's result is kept whole). A last step
    * with one result that is an array returns that array: a path ending in
    * a field whose value is an array yields the array, not a spread
    * sequence. The sequence is built only when there is more than one
    * result or the one result spreads. */
  private def evalStep(step: Step, input: Items, env: Frame, lastStep: Boolean): Any = {
    val noFlatten = step.expr.isInstanceOf[ArrCtor]
    var out: JSeq = null
    var first: Any = undef // the first result, held back until a second one shows
    var i = 0
    while (i < input.length) {
      var res = eval(step.expr, input(i), env)
      var s = 0
      while (s < step.stages.length) {
        step.stages(s) match {
          case FilterStage(e) => res = applyFilter(e, res, env)
          case _ =>
        }
        s += 1
      }
      if (res != null) {
        if (first == null) first = res
        else {
          if (out == null) { out = new JSeq(); addResult(out, first, noFlatten) }
          addResult(out, res, noFlatten)
        }
      }
      i += 1
    }
    if (out != null) out
    // no result, or one that is not an array, stands for the sequence
    else if (!isArrayLike(first) || (lastStep && first.isInstanceOf[ArrayNode])) first
    else { out = new JSeq(); addResult(out, first, noFlatten); out }
  }

  private def addResult(out: JSeq, res: Any, noFlatten: Boolean): Unit =
    if (noFlatten && res.isInstanceOf[ArrayNode]) out.items += res
    else spreadInto(out, res)

  private def evalTuplePath(p: Path, inputSeq: Items, env: Frame): Any = {
    val outerAncestors = env.lookup(AncestorsKey) match {
      case l: List[_] => l.asInstanceOf[List[Any]]
      case _ => Nil
    }
    var tuples: Vector[Tup] = inputSeq.iterator.map(v => Tup(v, outerAncestors, Map.empty)).toVector
    var broke = false
    for (step <- p.steps if !broke) {
      step.expr match {
        case SortOpNode(terms) =>
          tuples = sortTuples(tuples, terms, env)
          // predicates after a sort filter the whole sorted stream
          step.stages.foreach {
            case FilterStage(e) => tuples = filterTuples(e, tuples, env)
            case _ =>
          }
        case _ =>
          val next = ArrayBuffer[Tup]()
          tuples.foreach { t =>
            val stepEnv = frameForTuple(env, t)
            val res = eval(step.expr, t.at, stepEnv)
            if (res != null) {
              val items = if (step.expr.isInstanceOf[ArrCtor]) Items.one(res) else Items.of(res)
              var candidates = items.indices.map { idx =>
                val item = items(idx)
                var binds = t.bindings
                step.focus.foreach(fv => binds += (fv -> item))
                step.index.foreach(iv => binds += (iv -> numNode(idx.toLong)))
                val newAt = if (step.focus.isDefined) t.at else item
                val newAnc = if (step.focus.isDefined) t.ancestors else t.at :: t.ancestors
                Tup(newAt, newAnc, binds)
              }.toVector
              // predicate stages apply per input item (same as plain-path steps)
              step.stages.foreach {
                case FilterStage(e) => candidates = filterTuples(e, candidates, env)
                case _ =>
              }
              next ++= candidates
            }
          }
          tuples = next.toVector
      }
      // index binding and sorting operate over the whole accumulated stream
      step.stages.foreach {
        case IndexStage(name) =>
          tuples = tuples.zipWithIndex.map { case (t, i2) =>
            t.copy(bindings = t.bindings + (name -> numNode(i2.toLong)))
          }
        case SortStage(terms) => tuples = sortTuples(tuples, terms, env)
        case _ =>
      }
      if (tuples.isEmpty) broke = true
    }
    p.group match {
      case Some(ctor) if !broke =>
        // grouping over a tuple stream: keys evaluated per tuple with its bindings
        val members = if (tuples.isEmpty) Vector(Tup(undef, Nil, Map.empty)) else tuples
        return groupObject(ctor, members.length, members(_).at, i => frameForTuple(env, members(i)), env)
      case _ =>
    }
    val out = new JSeq()
    tuples.foreach(t => out.items += t.at)
    out
  }

  private def frameForTuple(env: Frame, t: Tup): Frame = {
    val f = new Frame(env)
    t.bindings.foreach { case (k, v) => f.bind(k, v) }
    // `%` inside an expression evaluated at this tuple resolves to the chain of
    // path ancestors of the tuple's context value
    f.bind(AncestorsKey, t.ancestors)
    f
  }

  private def filterTuples(pred: Ast, tuples: Vector[Tup], env: Frame): Vector[Tup] = {
    val len = tuples.length
    tuples.indices.filter(i => selects(eval(pred, tuples(i).at, frameForTuple(env, tuples(i))), i, len))
      .map(tuples).toVector
  }

  private def sortTuples(tuples: Vector[Tup], terms: Vector[SortTerm], env: Frame): Vector[Tup] =
    tuples.sortWith { (a, b) =>
      cmpByTerms(terms, a.at, b.at, frameForTuple(env, a), frameForTuple(env, b)) < 0
    }

  // ------------------------------------------------------------------
  // filters (predicates)
  // ------------------------------------------------------------------

  /** Whether a predicate's value `res` keeps item `i` of `len`: a number, or
    * a non-empty array of numbers only, selects by index (negative counts
    * from the end); any other value by its truthiness. */
  private def selects(res: Any, i: Int, len: Int): Boolean = res match {
    case n: JsonNode if n.isNumber => normIndex(n.doubleValue(), len) == i
    case arr if isArrayLike(arr) =>
      val xs = Items.of(arr)
      if (xs.nonEmpty && xs.forall(isNumber(_))) xs.exists(x => normIndex(asDouble(x), len) == i)
      else truthy(res)
    case _ => truthy(res)
  }

  private def normIndex(d: Double, len: Int): Int = {
    val f = math.floor(d).toInt
    if (f < 0) len + f else f
  }

  def applyFilter(pred: Ast, value: Any, env: Frame): Any = {
    if (value == null) return undef
    val items = Items.of(value)
    val len = items.length
    val out = new JSeq()
    pred match {
      case NumLit(n) => // constant index fast path
        val idx = normIndex(n.doubleValue(), len)
        if (idx >= 0 && idx < len) out.items += items(idx)
      case UnaryMinus(NumLit(n)) =>
        val idx = normIndex(-n.doubleValue(), len)
        if (idx >= 0 && idx < len) out.items += items(idx)
      case _ =>
        var i = 0
        while (i < len) {
          val item = items(i)
          if (selects(eval(pred, item, env), i, len)) out.items += item
          i += 1
        }
    }
    out
  }

  private def evalFiltered(f: Filtered, ctx: Any, env: Frame): Any = {
    var res = eval(f.base, ctx, env)
    f.stages.foreach {
      case FilterStage(e) => res = applyFilter(e, res, env)
      case SortStage(terms) => res = sortItems(Items.of(res), terms, env)
      case IndexStage(_) =>
    }
    if (f.keepArray) res = res match {
      case null => null
      case s: JSeq => s.keepSingleton = true; s
      case a: ArrayNode => a
      case v => val s = JSeq(v); s.keepSingleton = true; s
    }
    f.group match {
      case Some(ctor) => evalGroup(ctor, res, env)
      case None => res
    }
  }

  // ------------------------------------------------------------------
  // object construction / grouping
  // ------------------------------------------------------------------

  /** `{...}` over `input`: a non-empty array groups its items; anything
    * else (an empty array reads as nothing) builds one object. */
  def evalGroup(ctor: ObjCtor, input: Any, env: Frame): Any =
    if (isArrayLike(input) && sizeOf(input) > 0) {
      val items = Items.of(input)
      groupObject(ctor, items.length, items(_), _ => env, env)
    } else objectOver(ctor, if (isArrayLike(input)) undef else input, env)

  /** `{...}` over one context item: every key is evaluated, in pair order,
    * before any value; a key that two pairs give raises D1009 (checked only
    * when the keys are not distinct literals); a pair with an undefined key
    * or value adds nothing. */
  private def objectOver(ctor: ObjCtor, item: Any, env: Frame): ObjectNode = {
    val pairs = ctor.pairs
    val n = pairs.length
    val keys = new Array[String](n)
    val seen = if (ctor.distinctLiteralKeys) null else new java.util.HashSet[String]()
    var i = 0
    while (i < n) {
      keys(i) = objectKey(eval(pairs(i)._1, item, env))
      if (seen != null && keys(i) != null && !seen.add(keys(i))) duplicateKey(keys(i))
      i += 1
    }
    val result = nf.objectNode()
    i = 0
    while (i < n) {
      if (keys(i) != null) setValue(result, keys(i), eval(pairs(i)._2, item, env))
      i += 1
    }
    result
  }

  /** Grouping `{...}` over `n` members, member `i` being `at(i)` in scope
    * `scope(i)`: members whose key agrees form one group, whose value is
    * evaluated once over its members (in `env`). All keys are evaluated
    * before any value; a key that two pairs give raises D1009. */
  private def groupObject(ctor: ObjCtor, n: Int, at: Int => Any, scope: Int => Frame,
                          env: Frame): ObjectNode = {
    val groups = new java.util.LinkedHashMap[String, (ArrayBuffer[Any], Int)]()
    var i = 0
    while (i < n) {
      val item = at(i)
      val itemEnv = scope(i)
      var pi = 0
      while (pi < ctor.pairs.length) {
        val k = objectKey(eval(ctor.pairs(pi)._1, item, itemEnv))
        if (k != null) {
          val existing = groups.get(k)
          if (existing == null) groups.put(k, (ArrayBuffer[Any](item), pi))
          else if (existing._2 != pi) duplicateKey(k)
          else existing._1 += item
        }
        pi += 1
      }
      i += 1
    }
    val result = nf.objectNode()
    groups.forEach { (k, v) =>
      val (data, pi) = v
      val dataCtx: Any = if (data.length == 1) data(0) else JSeq.of(data)
      setValue(result, k, eval(ctor.pairs(pi)._2, dataCtx, env))
    }
    result
  }

  /** An object key's text; null for an undefined key. */
  private def objectKey(key: Any): String = key match {
    case null => null
    case s: JsonNode if s.isTextual => s.textValue()
    case other => throw new JsonataException("T1003", s"object key must be a string, got ${typeName(other)}")
  }

  private def duplicateKey(k: String): Nothing =
    throw new JsonataException("D1009", s"multiple key definitions evaluate to same key '$k'")

  private def setValue(obj: ObjectNode, k: String, value: Any): Unit =
    if (value != null) {
      val node = toNode(value)
      obj.set[JsonNode](k, if (node == null) nf.nullNode() else node): Unit
    }

  private def evalArrayCtor(a: ArrCtor, ctx: Any, env: Frame): Any = {
    val arr = nf.arrayNode()
    var i = 0
    while (i < a.items.length) {
      val itemExpr = a.items(i)
      val v = eval(itemExpr, ctx, env)
      if (v != null) itemExpr match {
        case ArrCtor(_) => arr.add(toNode(v)): Unit
        case _ =>
          v match {
            case s: JSeq => s.items.foreach { x =>
              val n = toNode(x); arr.add(if (n == null) nf.nullNode() else n): Unit
            }
            case an: ArrayNode => arr.addAll(an): Unit
            case other => val n = toNode(other); arr.add(if (n == null) nf.nullNode() else n): Unit
          }
      }
      i += 1
    }
    arr
  }

  // ------------------------------------------------------------------
  // sorting
  // ------------------------------------------------------------------

  private def cmpTerm(term: SortTerm, a: Any, b: Any, envA: Frame, envB: Frame): Int = {
    val av = eval(term.expr, a, envA)
    val bv = eval(term.expr, b, envB)
    val c: Int =
      if (av == null && bv == null) 0
      else if (av == null) 1
      else if (bv == null) -1
      else (av, bv) match {
        case (x: JsonNode, y: JsonNode) if x.isNumber && y.isNumber =>
          // + 0.0: IEEE zero-sign normalization (see evalBinary's comparison)
          java.lang.Double.compare(x.doubleValue() + 0.0, y.doubleValue() + 0.0)
        case (x: JsonNode, y: JsonNode) if x.isTextual && y.isTextual =>
          x.textValue().compareTo(y.textValue())
        case _ =>
          throw new JsonataException("T2008", "sort terms must evaluate to numbers or strings of a consistent type")
      }
    if (term.descending) -c else c
  }

  private def cmpByTerms(terms: Vector[SortTerm], a: Any, b: Any, envA: Frame, envB: Frame): Int = {
    terms.foreach { t =>
      val c = cmpTerm(t, a, b, envA, envB)
      if (c != 0) return c
    }
    0
  }

  /** `items` in a stable order by `terms`, as a new sequence. */
  def sortItems(items: Items, terms: Vector[SortTerm], env: Frame): JSeq = {
    val arr = new Array[AnyRef](items.length)
    var i = 0
    while (i < arr.length) { arr(i) = items(i).asInstanceOf[AnyRef]; i += 1 }
    java.util.Arrays.sort(arr, (a: AnyRef, b: AnyRef) => cmpByTerms(terms, a, b, env, env))
    JSeq.of(arr)
  }

  // ------------------------------------------------------------------
  // binary operators
  // ------------------------------------------------------------------

  private def evalBinary(op: String, lE: Ast, rE: Ast, ctx: Any, env: Frame): Any = op match {
    case "and" =>
      BooleanNode.valueOf(truthy(eval(lE, ctx, env)) && truthy(eval(rE, ctx, env)))
    case "or" =>
      BooleanNode.valueOf(truthy(eval(lE, ctx, env)) || truthy(eval(rE, ctx, env)))
    case "&" =>
      val l = eval(lE, ctx, env); val r = eval(rE, ctx, env)
      TextNode.valueOf(stringify(l) + stringify(r))
    case "=" | "!=" =>
      val l = eval(lE, ctx, env); val r = eval(rE, ctx, env)
      // "nothing" compares equal to JSON null: the reference's tombstone filter
      // `value = null ? null : $` relies on a missing field equalling null
      // (pinned by its filterTombstone test, reference Test.java:110-126)
      def nullish(v: Any) = v == null || v.isInstanceOf[NullNode]
      val eq =
        if (nullish(l) || nullish(r)) nullish(l) && nullish(r)
        else deepEquals(l, r)
      BooleanNode.valueOf(if (op == "=") eq else !eq)
    case "<" | "<=" | ">" | ">=" =>
      val l = eval(lE, ctx, env); val r = eval(rE, ctx, env)
      if (l == null || r == null) undef
      else {
        val c = (l, r) match {
          case (x: JsonNode, y: JsonNode) if x.isNumber && y.isNumber =>
            // + 0.0 normalizes the zero sign: the engine's JS comparisons
            // are IEEE (-0 == 0), while Double.compare is a TOTAL order
            // that puts -0.0 below 0.0 — the fuzzer caught `-0.0 < 0.0`
            // returning true here where both the engine and the compiled
            // tier return false
            java.lang.Double.compare(x.doubleValue() + 0.0, y.doubleValue() + 0.0)
          case (x: JsonNode, y: JsonNode) if x.isTextual && y.isTextual =>
            x.textValue().compareTo(y.textValue())
          case _ =>
            throw new JsonataException("T2010",
              s"operands of '$op' must be numbers or strings (got ${typeName(l)}, ${typeName(r)})")
        }
        BooleanNode.valueOf(op match {
          case "<" => c < 0
          case "<=" => c <= 0
          case ">" => c > 0
          case ">=" => c >= 0
        })
      }
    case "in" =>
      val l = eval(lE, ctx, env); val r = eval(rE, ctx, env)
      if (l == null || r == null) BooleanNode.valueOf(false)
      else BooleanNode.valueOf(Items.of(r).exists(deepEquals(l, _)))
    case "+" | "-" | "*" | "/" | "%" =>
      val l = eval(lE, ctx, env); val r = eval(rE, ctx, env)
      if (l == null || r == null) undef
      else arith(op, l, r)
  }

  private def arith(op: String, l: Any, r: Any): Any = {
    (l, r) match {
      case (x: JsonNode, y: JsonNode) if x.isNumber && y.isNumber =>
        val bothIntegral = x.isIntegralNumber && y.isIntegralNumber && !x.isBigInteger && !y.isBigInteger
        if (bothIntegral && op != "/") {
          val a = x.longValue(); val b = y.longValue()
          try {
            op match {
              case "+" => numNode(Math.addExact(a, b))
              case "-" => numNode(Math.subtractExact(a, b))
              case "*" => numNode(Math.multiplyExact(a, b))
              case "%" =>
                if (b == 0) throw new JsonataException("D1030", "modulo by zero")
                numNode(a % b)
            }
          } catch {
            case _: ArithmeticException if op != "%" =>
              numNode(arithD(op, a.toDouble, b.toDouble))
          }
        } else numNode(arithD(op, x.doubleValue(), y.doubleValue()))
      case (x: JsonNode, _) if !x.isNumber =>
        throw new JsonataException("T2001", s"left side of '$op' must be a number, got ${typeName(l)}")
      case _ =>
        throw new JsonataException("T2002", s"right side of '$op' must be a number, got ${typeName(r)}")
    }
  }

  private def arithD(op: String, a: Double, b: Double): Double = op match {
    case "+" => a + b
    case "-" => a - b
    case "*" => a * b
    case "/" => a / b // JS semantics: division is floating-point
    case "%" => a % b // JS remainder (sign follows dividend)
  }

  private def evalRange(rng: RangeExpr, ctx: Any, env: Frame): Any = {
    val l = eval(rng.lhs, ctx, env)
    val r = eval(rng.rhs, ctx, env)
    if (l == null || r == null) return undef
    if (!isNumber(l)) throw new JsonataException("T2003", "left side of range must be an integer")
    if (!isNumber(r)) throw new JsonataException("T2004", "right side of range must be an integer")
    val lo = asLongExact(l, "T2003")
    val hi = asLongExact(r, "T2004")
    if (lo > hi) return undef
    val size = hi - lo + 1
    if (size > 10000000L) throw new JsonataException("D2014", s"range is too large: $size")
    val arr = nf.arrayNode()
    var i = lo
    while (i <= hi) { arr.add(i): Unit; i += 1 }
    arr
  }

  // ------------------------------------------------------------------
  // function invocation
  // ------------------------------------------------------------------

  private def evalCall(c: Call, ctx: Any, env: Frame): Any = {
    val f = eval(c.proc, ctx, env)
    if (c.isPartial) {
      f match {
        case fn: JFunction =>
          val bound = c.args.map {
            case Placeholder() => None
            case a => Some(eval(a, ctx, env))
          }
          PartialFn(fn, bound)
        case _ =>
          throw new JsonataException("T1007", s"attempted to partially apply a non-function ${procName(c.proc)}")
      }
    } else invoke(f, evalArgs(c.args, 0, ctx, env), ctx, c.proc)
  }

  /** `args` evaluated in order into a new array, from index `lead` on. */
  private def evalArgs(args: Vector[Ast], lead: Int, ctx: Any, env: Frame): Array[Any] = {
    val out = new Array[Any](lead + args.length)
    var i = 0
    while (i < args.length) { out(lead + i) = eval(args(i), ctx, env); i += 1 }
    out
  }

  /** How an error names the function that `proc` evaluated to. */
  private def procName(p: Ast): String = p match {
    case VarRef(n) => s"$$$n"
    case NameStep(n) => n
    case null => "<fn>"
    case _ => "<expr>"
  }

  /** Applies `f` to `args`; `proc`, the expression `f` came from, only
    * names `f` in an error. */
  def invoke(f: Any, args: Array[Any], ctx: Any, proc: Ast = null): Any = f match {
    case b: Builtin => b.call(args, ctx, this)
    case LambdaFn(params, body, closure, sig) =>
      depth += 1
      if (depth > maxDepth)
        throw new JsonataException("U1001", s"stack overflow: recursion depth limit ($maxDepth) exceeded")
      try {
        // typed signature: validate/coerce per call (T0410 on violation)
        val effArgs = sig match {
          case Some(s) => Signature.validate(s, args, ctx, procName(proc))
          case None => args
        }
        val frame = new Frame(closure)
        var i = 0
        while (i < params.length) {
          frame.bind(params(i), if (i < effArgs.length) effArgs(i) else undef)
          i += 1
        }
        eval(body, ctx, frame)
      } finally depth -= 1
    case PartialFn(target, bound) =>
      var k = 0
      val merged = ArrayBuffer[Any]()
      bound.foreach {
        case Some(v) => merged += v
        case None => merged += (if (k < args.length) args(k) else undef); k += 1
      }
      merged ++= args.drop(k)
      invoke(target, merged.toArray, ctx, proc)
    case tf: TransformFn => tf.invoke(args, this)
    case cf: ComposedFn => cf.invoke(args, this)
    case p: java.util.regex.Pattern =>
      // a regex literal is applicable as a function: returns the first match struct
      if (args.isEmpty) undef
      else args(0) match {
        case s: JsonNode if s.isTextual => Functions.firstMatch(p, regexInput(s.textValue()))
        case null => undef
        case _ => throw new JsonataException("T0410", "regex can only be applied to a string")
      }
    case null => throw new JsonataException("T1006", s"attempted to invoke a non-function ${procName(proc)}")
    case _ => throw new JsonataException("T1006", s"attempted to invoke a non-function ${procName(proc)} (${typeName(f)})")
  }

  private def evalApply(a: ApplyOp, ctx: Any, env: Frame): Any = {
    val lhs = eval(a.lhs, ctx, env)
    a.rhs match {
      case c: Call if !c.isPartial =>
        val f = eval(c.proc, ctx, env)
        val argVals = evalArgs(c.args, 1, ctx, env)
        argVals(0) = lhs
        invoke(f, argVals, ctx, c.proc)
      case _ =>
        val f = eval(a.rhs, ctx, env)
        f match {
          case fn: JFunction =>
            lhs match {
              case lf: JFunction => ComposedFn(lf, fn) // function composition
              case _ => invoke(fn, Array[Any](lhs), ctx)
            }
          case p: java.util.regex.Pattern => invoke(p, Array[Any](lhs), ctx)
          case _ => throw new JsonataException("T2006",
            s"right side of '~>' must be a function, got ${typeName(f)}")
        }
    }
  }
}

// ---- function value implementations ----

final case class LambdaFn(params: Vector[String], body: Ast, closure: Frame,
                          signature: Option[String]) extends JFunction {
  def name = "lambda"
  def invoke(args: Array[Any], interp: Interp): Any = interp.invoke(this, args, null)
}

final case class PartialFn(target: JFunction, bound: Vector[Option[Any]]) extends JFunction {
  def name = s"partial(${target.name})"
  def invoke(args: Array[Any], interp: Interp): Any = interp.invoke(this, args, null)
}

final case class ComposedFn(first: JFunction, second: JFunction) extends JFunction {
  def name = "composed"
  def invoke(args: Array[Any], interp: Interp): Any = {
    val mid = interp.invoke(first, args, null)
    interp.invoke(second, Array[Any](mid), null)
  }
}

/** `expr ~> | location | update , deletes |` — object-patching function. */
final case class TransformFn(t: Ast.TransformExpr, env: Frame, owner: Interp) extends JFunction {
  def name = "transform"
  def invoke(args: Array[Any], interp: Interp): Any = {
    val arg = if (args.isEmpty) null else args(0)
    if (arg == null) return Values.undef
    val clone: Any = arg match {
      case n: JsonNode => n.deepCopy[JsonNode]()
      case s: Values.JSeq => Values.toNode(s).deepCopy[JsonNode]()
      case other => other
    }
    val matches = interp.eval(t.pattern, clone, env)
    Values.Items.of(matches).foreach {
      case m: ObjectNode =>
        val upd = interp.eval(t.update, m, env)
        upd match {
          case null =>
          case o: ObjectNode => m.setAll[JsonNode](o): Unit
          case other => throw new JsonataException("T2011",
            s"transform update must evaluate to an object, got ${Values.typeName(other)}")
        }
        t.deletes.foreach { dExpr =>
          val del = interp.eval(dExpr, m, env)
          Values.Items.of(del).foreach {
            case s: JsonNode if s.isTextual => m.remove(s.textValue()): Unit
            case other => throw new JsonataException("T2012",
              s"transform delete must evaluate to string(s), got ${Values.typeName(other)}")
          }
        }
      case null =>
      case other => throw new JsonataException("T2013",
        s"transform pattern must match objects, got ${Values.typeName(other)}")
    }
    clone
  }
}
