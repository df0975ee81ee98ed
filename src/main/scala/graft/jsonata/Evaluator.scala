package graft.jsonata

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import Values._
import Ast._

/** Variable scope frame; the root frame holds the builtin function library. */
final class Frame(val parent: Frame) {
  private val vars = new java.util.HashMap[String, Any]()
  def bind(name: String, v: Any): Unit = vars.put(name, v)
  def lookup(name: String): Any = {
    if (vars.containsKey(name)) vars.get(name)
    else if (parent != null) parent.lookup(name)
    else null
  }
}

/** One evaluation run: tree-walking interpreter with cooperative timeout and
  * lambda-recursion depth guard (mirrors the reference's `timeout.ms` /
  * `max.depth` governance, reference JsonataTransformation.java:104,
  * Config.java:23-29). */
final class Interp(val timeoutMs: Long, val maxDepth: Int,
                   tupleFlags: java.util.IdentityHashMap[Path, java.lang.Boolean]) {

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
    val raw: Any = node match {
      case NumLit(v) => v
      case StrLit(s) => TextNode.valueOf(s)
      case BoolLit(b) => BooleanNode.valueOf(b)
      case NullLit() => nf.nullNode()
      case RegexLit(p) => p
      case VarRef(name) => evalVar(name, ctx, env)
      case n: NameStep => lookupName(ctx, n.name)
      case Wildcard() => evalWildcard(ctx)
      case Descendant() => evalDescendants(ctx)
      case ParentRef() => evalParent(env)
      case p: Path => evalPath(p, ctx, env)
      case f: Filtered => evalFiltered(f, ctx, env)
      case o: ObjCtor => evalGroup(o, ctx, env)
      case a: ArrCtor => evalArrayCtor(a, ctx, env)
      case Block(exprs) =>
        val child = new Frame(env)
        var last: Any = undef
        exprs.foreach(e => last = eval(e, ctx, child))
        last
      case Bind(name, value) =>
        val v = eval(value, ctx, env)
        env.bind(name, v)
        v
      case Cond(c, t, e) =>
        if (truthy(eval(c, ctx, env))) eval(t, ctx, env)
        else e.map(eval(_, ctx, env)).getOrElse(undef)
      case Binary(op, l, r) => evalBinary(op, l, r, ctx, env)
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
      case c: Call => evalCall(c, ctx, env)
      case Placeholder() => throw new JsonataException("S0211", "'?' is only valid inside a partial application")
      case a: ApplyOp => evalApply(a, ctx, env)
      case t: TransformExpr => TransformFn(t, env, this)
      case s: SortOpNode => // standalone sort step should not occur outside paths
        JSeq.of(sortItems(asIterable(ctx).toVector, s.terms, env))
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

  private def evalVar(name: String, ctx: Any, env: Frame): Any =
    if (name.isEmpty) ctx
    else env.lookup(name)

  /** fn.lookup semantics: field access; maps over arrays (flattening). */
  def lookupName(ctx: Any, name: String): Any = ctx match {
    case o: ObjectNode => if (o.has(name)) o.get(name) else undef
    case arr if isArrayLike(arr) =>
      val out = new JSeq()
      asIterable(arr).foreach { item =>
        lookupName(item, name) match {
          case null =>
          case s: JSeq => out.items ++= s.items
          case a: ArrayNode => a.asScala.foreach(out.items += _)
          case v => out.items += v
        }
      }
      out
    case _ => undef
  }

  private def evalWildcard(ctx: Any): Any = ctx match {
    case o: ObjectNode =>
      val out = new JSeq()
      def flat(v: JsonNode): Unit = v match {
        case a: ArrayNode => a.asScala.foreach(flat)
        case other => out.items += other
      }
      o.fields().asScala.foreach(e => flat(e.getValue))
      out
    case arr if isArrayLike(arr) =>
      val out = new JSeq()
      asIterable(arr).foreach { item =>
        asIterable(evalWildcard(item)).foreach(out.items += _)
      }
      out
    case _ => undef
  }

  private def evalDescendants(ctx: Any): Any = ctx match {
    case null => undef
    case _ =>
      val out = new JSeq()
      def recurse(v: Any): Unit = v match {
        case a: ArrayNode => a.asScala.foreach(recurse)
        case s: JSeq => s.items.foreach(recurse)
        case o: ObjectNode =>
          out.items += o
          o.fields().asScala.foreach(e => recurse(e.getValue))
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

  private def needsTupleMode(p: Path): Boolean = {
    val cached = tupleFlags.get(p)
    if (cached != null) cached.booleanValue()
    else {
      val flag = p.steps.exists { s =>
        s.focus.isDefined || s.index.isDefined ||
          s.stages.exists(_.isInstanceOf[IndexStage]) ||
          containsParent(s.expr) ||
          s.stages.exists { case FilterStage(e) => containsParent(e); case SortStage(ts) => ts.exists(t => containsParent(t.expr)); case _ => false }
      }
      tupleFlags.synchronized { tupleFlags.put(p, java.lang.Boolean.valueOf(flag)) }
      flag
    }
  }

  private def evalPath(p: Path, ctx: Any, env: Frame): Any = {
    val absolute = p.steps.head.expr.isInstanceOf[VarRef]
    val inputSeq: Vector[Any] =
      if (!absolute && isArrayLike(ctx)) asIterable(ctx).toVector else Vector(ctx)

    var result: Any =
      if (needsTupleMode(p)) evalTuplePath(p, ctx, inputSeq, env)
      else evalPlainPath(p, ctx, inputSeq, env)

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

  private def evalPlainPath(p: Path, origCtx: Any, inputSeq0: Vector[Any], env: Frame): Any = {
    var inputSeq: Vector[Any] = inputSeq0
    var result: Any = undef
    var i = 0
    val n = p.steps.length
    var broke = false
    while (i < n && !broke) {
      val step = p.steps(i)
      val lastStep = i == n - 1
      step.expr match {
        case SortOpNode(terms) =>
          var sorted: Vector[Any] = sortItems(inputSeq, terms, env)
          step.stages.foreach {
            case FilterStage(e) => sorted = asIterable(applyFilter(e, JSeq.of(sorted), env)).toVector
            case _ =>
          }
          result = JSeq.of(sorted)
        case ArrCtor(_) if i == 0 =>
          result = eval(step.expr, origCtx, env)
        case _ =>
          result = evalStep(step, inputSeq, env, lastStep)
      }
      val emptySeq = result match {
        case null => true
        case s: JSeq if s.items.isEmpty => true
        case _ => false
      }
      if (emptySeq) { result = undef; broke = true }
      else if (sizeOf(result) == 0) broke = true // plain empty array from data: keep it
      else inputSeq = asIterable(result).toVector
      i += 1
    }
    result
  }

  private def evalStep(step: Step, inputSeq: Vector[Any], env: Frame, lastStep: Boolean): Any = {
    val results = ArrayBuffer[Any]()
    inputSeq.foreach { item =>
      var res = eval(step.expr, item, env)
      step.stages.foreach {
        case FilterStage(e) => res = applyFilter(e, res, env)
        case _ =>
      }
      if (res != null) results += res
    }
    // last-step singleton-array preservation (spec: a path ending in a field
    // whose value is an array returns that array, not a spread sequence)
    if (lastStep && results.length == 1 && results(0).isInstanceOf[ArrayNode])
      return results(0)
    val out = new JSeq()
    val noFlatten = step.expr.isInstanceOf[ArrCtor]
    results.foreach {
      case a: ArrayNode if noFlatten => out.items += a
      case a: ArrayNode => a.asScala.foreach(out.items += _)
      case s: JSeq => out.items ++= s.items
      case v => out.items += v
    }
    out
  }

  private def evalTuplePath(p: Path, origCtx: Any, inputSeq: Vector[Any], env: Frame): Any = {
    val outerAncestors = env.lookup(AncestorsKey) match {
      case l: List[_] => l.asInstanceOf[List[Any]]
      case _ => Nil
    }
    var tuples: Vector[Tup] = inputSeq.map(v => Tup(v, outerAncestors, Map.empty))
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
              val items: Seq[Any] = step.expr match {
                case ArrCtor(_) => Seq(res)
                case _ => asIterable(res).toSeq
              }
              var candidates = items.zipWithIndex.map { case (item, idx) =>
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
        return evalGroupTuples(ctor, tuples, env)
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
    val out = ArrayBuffer[Tup]()
    val len = tuples.length
    tuples.zipWithIndex.foreach { case (t, i) =>
      val stepEnv = frameForTuple(env, t)
      val res = eval(pred, t.at, stepEnv)
      numericIndexes(res) match {
        case Some(idxs) =>
          if (idxs.exists(ix => normIndex(ix, len) == i)) out += t
        case None => if (truthy(res)) out += t
      }
    }
    out.toVector
  }

  private def sortTuples(tuples: Vector[Tup], terms: Vector[SortTerm], env: Frame): Vector[Tup] =
    tuples.sortWith { (a, b) =>
      cmpByTerms(terms, a.at, b.at, frameForTuple(env, a), frameForTuple(env, b)) < 0
    }

  private def evalGroupTuples(ctor: ObjCtor, tuples: Vector[Tup], env: Frame): Any = {
    // each group accumulates member contexts; value exprs see the member sequence
    val groups = new java.util.LinkedHashMap[String, (ArrayBuffer[Any], Int)]()
    val members = if (tuples.isEmpty) Vector(Tup(undef, Nil, Map.empty)) else tuples
    members.foreach { t =>
      val tupEnv = frameForTuple(env, t)
      ctor.pairs.zipWithIndex.foreach { case ((kExpr, _), pi) =>
        val key = eval(kExpr, t.at, tupEnv)
        key match {
          case null =>
          case s: JsonNode if s.isTextual =>
            val k = s.textValue()
            val existing = groups.get(k)
            if (existing == null) groups.put(k, (ArrayBuffer[Any](t.at), pi))
            else if (existing._2 != pi)
              throw new JsonataException("D1009", s"multiple key definitions evaluate to same key '$k'")
            else existing._1 += t.at
          case other =>
            throw new JsonataException("T1003", s"object key must be a string, got ${typeName(other)}")
        }
      }
    }
    val result = nf.objectNode()
    groups.forEach { (k, v) =>
      val (data, pi) = v
      val dataCtx: Any = if (data.length == 1) data(0) else JSeq.of(data)
      val value = eval(ctor.pairs(pi)._2, dataCtx, env)
      if (value != null) {
        val node = toNode(value)
        result.set[com.fasterxml.jackson.databind.JsonNode](k, if (node == null) nf.nullNode() else node): Unit
      }
    }
    result
  }

  // ------------------------------------------------------------------
  // filters (predicates)
  // ------------------------------------------------------------------

  private def numericIndexes(res: Any): Option[Seq[Double]] = res match {
    case n: JsonNode if n.isNumber => Some(Seq(n.doubleValue()))
    case arr if isArrayLike(arr) =>
      val items = asIterable(arr).toSeq
      if (items.nonEmpty && items.forall(isNumber)) Some(items.map(asDouble))
      else None
    case _ => None
  }

  private def normIndex(d: Double, len: Int): Int = {
    val f = math.floor(d).toInt
    if (f < 0) len + f else f
  }

  def applyFilter(pred: Ast, value: Any, env: Frame): Any = {
    if (value == null) return undef
    val items = asIterable(value).toVector
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
        items.zipWithIndex.foreach { case (item, i) =>
          val res = eval(pred, item, env)
          numericIndexes(res) match {
            case Some(idxs) => if (idxs.exists(ix => normIndex(ix, len) == i)) out.items += item
            case None => if (truthy(res)) out.items += item
          }
        }
    }
    out
  }

  private def evalFiltered(f: Filtered, ctx: Any, env: Frame): Any = {
    var res = eval(f.base, ctx, env)
    f.stages.foreach {
      case FilterStage(e) => res = applyFilter(e, res, env)
      case SortStage(terms) => res = JSeq.of(sortItems(asIterable(res).toVector, terms, env))
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

  def evalGroup(ctor: ObjCtor, input: Any, env: Frame): Any = {
    val items0 = input match {
      case null => Vector(null)
      case arr if isArrayLike(arr) => asIterable(arr).toVector
      case v => Vector(v)
    }
    val items = if (items0.isEmpty) Vector[Any](null) else items0
    val groups = new java.util.LinkedHashMap[String, (ArrayBuffer[Any], Int)]()
    items.foreach { item =>
      ctor.pairs.zipWithIndex.foreach { case ((kExpr, _), pi) =>
        val key = eval(kExpr, item, env)
        key match {
          case null =>
          case s: JsonNode if s.isTextual =>
            val k = s.textValue()
            val existing = groups.get(k)
            if (existing == null) groups.put(k, (ArrayBuffer[Any](item), pi))
            else if (existing._2 != pi)
              throw new JsonataException("D1009", s"multiple key definitions evaluate to same key '$k'")
            else existing._1 += item
          case other =>
            throw new JsonataException("T1003", s"object key must be a string, got ${typeName(other)}")
        }
      }
    }
    val result = nf.objectNode()
    groups.forEach { (k, v) =>
      val (data, pi) = v
      val dataCtx: Any = if (data.length == 1) data(0) else JSeq.of(data)
      val value = eval(ctor.pairs(pi)._2, dataCtx, env)
      if (value != null) {
        val node = toNode(value)
        result.set[com.fasterxml.jackson.databind.JsonNode](k, if (node == null) nf.nullNode() else node): Unit
      }
    }
    result
  }

  private def evalArrayCtor(a: ArrCtor, ctx: Any, env: Frame): Any = {
    val arr = nf.arrayNode()
    a.items.foreach { itemExpr =>
      val v = eval(itemExpr, ctx, env)
      if (v != null) itemExpr match {
        case ArrCtor(_) => arr.add(toNode(v)): Unit
        case _ =>
          v match {
            case s: JSeq => s.items.foreach { x =>
              val n = toNode(x); arr.add(if (n == null) nf.nullNode() else n): Unit
            }
            case an: ArrayNode => an.asScala.foreach(x => arr.add(x): Unit)
            case other => val n = toNode(other); arr.add(if (n == null) nf.nullNode() else n): Unit
          }
      }
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

  def sortItems(items: Vector[Any], terms: Vector[SortTerm], env: Frame): Vector[Any] =
    items.sortWith((a, b) => cmpByTerms(terms, a, b, env, env) < 0)

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
      else BooleanNode.valueOf(asIterable(r).exists(deepEquals(l, _)))
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
    val isPartial = c.args.exists(_.isInstanceOf[Placeholder])
    val f = eval(c.proc, ctx, env)
    if (isPartial) {
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
    } else {
      val args = c.args.map(eval(_, ctx, env))
      invoke(f, args, ctx, procName(c.proc))
    }
  }

  private def procName(p: Ast): String = p match {
    case VarRef(n) => s"$$$n"
    case NameStep(n) => n
    case _ => "<expr>"
  }

  def invoke(f: Any, args: Seq[Any], ctx: Any, name: String = "<fn>"): Any = f match {
    case b: Builtin => b.call(args, ctx, this)
    case LambdaFn(params, body, closure, sig) =>
      depth += 1
      if (depth > maxDepth)
        throw new JsonataException("U1001", s"stack overflow: recursion depth limit ($maxDepth) exceeded")
      try {
        // typed signature: validate/coerce per call (T0410 on violation)
        val effArgs = sig match {
          case Some(s) => Signature.validate(s, args, ctx, name)
          case None => args
        }
        val frame = new Frame(closure)
        params.zipWithIndex.foreach { case (pn, i) =>
          frame.bind(pn, if (i < effArgs.length) effArgs(i) else undef)
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
      args.drop(k).foreach(merged += _)
      invoke(target, merged.toSeq, ctx, name)
    case tf: TransformFn => tf.invoke(args, this)
    case cf: ComposedFn => cf.invoke(args, this)
    case p: java.util.regex.Pattern =>
      // a regex literal is applicable as a function: returns the first match struct
      args.headOption match {
        case Some(s: JsonNode) if s.isTextual => Functions.firstMatch(p, regexInput(s.textValue()))
        case Some(null) | None => undef
        case _ => throw new JsonataException("T0410", "regex can only be applied to a string")
      }
    case null => throw new JsonataException("T1006", s"attempted to invoke a non-function $name")
    case _ => throw new JsonataException("T1006", s"attempted to invoke a non-function $name (${typeName(f)})")
  }

  private def evalApply(a: ApplyOp, ctx: Any, env: Frame): Any = {
    val lhs = eval(a.lhs, ctx, env)
    a.rhs match {
      case Call(proc, args) if !args.exists(_.isInstanceOf[Placeholder]) =>
        val f = eval(proc, ctx, env)
        val argVals = lhs +: args.map(eval(_, ctx, env))
        invoke(f, argVals, ctx, procName(proc))
      case _ =>
        val f = eval(a.rhs, ctx, env)
        f match {
          case fn: JFunction =>
            lhs match {
              case lf: JFunction => ComposedFn(lf, fn) // function composition
              case _ => invoke(fn, Seq(lhs), ctx)
            }
          case p: java.util.regex.Pattern => invoke(p, Seq(lhs), ctx)
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
  def invoke(args: Seq[Any], interp: Interp): Any = interp.invoke(this, args, null)
}

final case class PartialFn(target: JFunction, bound: Vector[Option[Any]]) extends JFunction {
  def name = s"partial(${target.name})"
  def invoke(args: Seq[Any], interp: Interp): Any = interp.invoke(this, args, null)
}

final case class ComposedFn(first: JFunction, second: JFunction) extends JFunction {
  def name = "composed"
  def invoke(args: Seq[Any], interp: Interp): Any = {
    val mid = interp.invoke(first, args, null)
    interp.invoke(second, Seq(mid), null)
  }
}

/** `expr ~> | location | update , deletes |` — object-patching function. */
final case class TransformFn(t: Ast.TransformExpr, env: Frame, owner: Interp) extends JFunction {
  def name = "transform"
  def invoke(args: Seq[Any], interp: Interp): Any = {
    val arg = args.headOption.orNull
    if (arg == null) return Values.undef
    val clone: Any = arg match {
      case n: JsonNode => n.deepCopy[JsonNode]()
      case s: Values.JSeq => Values.toNode(s).deepCopy[JsonNode]()
      case other => other
    }
    val matches = interp.eval(t.pattern, clone, env)
    Values.asIterable(matches).foreach {
      case m: ObjectNode =>
        val upd = interp.eval(t.update, m, env)
        upd match {
          case null =>
          case o: ObjectNode => o.fields().asScala.foreach(e => m.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue): Unit)
          case other => throw new JsonataException("T2011",
            s"transform update must evaluate to an object, got ${Values.typeName(other)}")
        }
        t.deletes.foreach { dExpr =>
          val del = interp.eval(dExpr, m, env)
          Values.asIterable(del).foreach {
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
