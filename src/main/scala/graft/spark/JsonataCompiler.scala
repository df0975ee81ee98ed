package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Add, Divide, EvalMode, Multiply, Remainder, Subtract, UnaryMinus => CUnaryMinus}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

import graft.connect.JsonataTransform
import graft.jsonata.{Ast, LruCache}

/** Subset-to-Catalyst compiler (SURVEY.md §2 "two-tier execution", §4.3).
  *
  * Translates the statically-typeable subset of JSONata — `value.*` paths,
  * literals, arithmetic, comparisons, boolean logic, string concat of string
  * operands, conditionals, top-level object construction, tombstone filters,
  * `^()` order-by over array columns (array_sort with an engine-equivalent
  * comparator), `{}` group-by over array columns (map_from_entries with
  * $count/$sum/$min/$max/$average aggregates), `$map`/`$filter`/`$single`
  * with inline lambdas of arity 1-3 over array operands (→ native
  * transform/filter),
  * `$reduce` with an inline arity-2 lambda and a literal init (→ native
  * aggregate), object operators `$keys`/`$lookup`/`$sift`/`$each` over
  * struct-typed paths (per-field keep flags; presence = non-null) and over
  * map columns (map_keys/element_at/map_filter/map_entries), and
  * builtins with exact Spark equivalents — into native Columns. The result
  * runs entirely inside whole-stage codegen with predicate pushdown and column
  * pruning: no JSON serialization, no interpreter, no CodegenFallback.
  *
  * Anything outside the subset returns None and [[JsonataDF.auto]] falls back
  * to the interpreted tier ([[JsonataDF.transformAs]]). Both tiers must agree
  * on results — pinned by the differential suite (DifferentialSpec).
  *
  * Semantic notes (why translation is sound):
  *  - envelope encoding drops null fields, so a SQL NULL column is exactly
  *    JSONata "undefined"; arithmetic on undefined yields undefined = SQL NULL;
  *  - `=` maps to null-safe equality (undefined/null compare equal to null,
  *    matching the engine's tombstone semantics);
  *  - `/` is always floating point in both; `%` follows the dividend sign in
  *    both (JS remainder == Spark pmod-free `%`);
  *  - `&` is compiled only when both operands are statically strings (JSONata
  *    number->string formatting differs from Spark's cast).
  */
object JsonataCompiler {
  import Ast._

  /** A compiled top-level query: optional tombstone filter + named outputs. */
  final case class CompiledQuery(filter: Option[Column], outputs: Seq[(String, Column)])

  def compileQuery(df: DataFrame, exprSource: String): Option[CompiledQuery] =
    // $fromMillis renders through date_format, which follows the SESSION
    // time zone where the engine always renders UTC — only a UTC session
    // can compile it (others fall back to the interpreter, same results)
    compileForSchema(df.schema, exprSource,
      utcSession = df.sparkSession.conf.get("spark.sql.session.timeZone", "") == "UTC")

  private val memo = new LruCache[(StructType, String, Boolean), Option[CompiledQuery]](512,
    { case (schema, exprSource, utcSession) => doCompileForSchema(schema, exprSource, utcSession) })

  /** Schema-rooted compile — the DataFrame-free entry the analyzer-rule
    * surface ([[JsonataCompileRule]]) shares with [[compileQuery]]: `schema`
    * is the record struct `value.*` paths resolve against.
    *
    * MEMOIZED per (schema, source, utcSession) — the analyzer re-runs
    * resolution rules to a fixed point, so an un-memoized rule re-parsed
    * and re-attempted compilation of every fallback expression once per
    * pass; the decision (including the None fallback verdict) is computed
    * once per distinct query instead. Column trees are immutable, so
    * sharing a cached compile across plans is safe ([[JsonataCompileRule]]
    * copies along the rebind path anyway). */
  def compileForSchema(schema: StructType, exprSource: String,
                       utcSession: Boolean): Option[CompiledQuery] =
    memo((schema, exprSource, utcSession))

  private def doCompileForSchema(schema: StructType, exprSource: String,
                                 utcSession: Boolean): Option[CompiledQuery] = {
    val ast = JsonataTransform.compile(exprSource).ast
    val ctx = new Ctx(schema, utcSession = utcSession)
    inlineBinds(ast) match {
      // `cond ? {obj} : null` / `cond ? {obj}` — tombstone filter + projection
      case Cond(c, t, e) if isNullOrAbsent(e) =>
        for {
          cond <- ctx.compileBool(c)
          outs <- compileOutputs(ctx, t)
        } yield CompiledQuery(Some(cond), outs)
      // the INVERTED authoring shape — `cond ? null : {obj}` (the reference
      // README's own `value = null ? null : $` idiom, object-output form):
      // keep the record when the condition is NOT truthy. An undefined
      // condition is falsy and must KEEP the record (the engine takes the
      // else branch), so the negation wraps in coalesce(_, false) — a bare
      // NOT would propagate the null and drop it.
      case Cond(c, t, Some(e)) if isNullOrAbsent(Some(t)) =>
        for {
          cond <- ctx.compileBool(c)
          outs <- compileOutputs(ctx, e)
        } yield CompiledQuery(Some(!coalesce(cond, lit(false))), outs)
      // `base ~> |...|...|` as the whole query: an undefined (null nested
      // struct) base is an undefined result = a tombstone — carried as the
      // compiled filter, exactly the engine's drop
      case ApplyOp(l, t: TransformExpr) =>
        ctx.transformQuery(l, t).map { case (outs, filt) => CompiledQuery(filt, outs) }
      case other =>
        compileOutputs(ctx, other).map(outs => CompiledQuery(None, outs))
    }
  }

  /** Top-level output shapes: a plain object constructor, or `$merge([...])`
    * over struct-object operands (a $sift of the row, a nested struct path)
    * and object constructors — the jx07/removeEmail output shape. Merge is
    * right-biased on values with first-occurrence key positions, exactly
    * like fMerge's ObjectNode.set. A dropped (sifted-away or absent) field
    * compiles to a NULL column, which the declared output schema then keeps
    * or discards — identical to decoding the engine's key-absent JSON. */
  private def compileOutputs(ctx: Ctx, a: Ast): Option[Seq[(String, Column)]] = a match {
    case o: ObjCtor => compileObject(ctx, o)
    // `value ~> |...|...|` as the whole query: the patched record IS the
    // output object — spread its fields (keep=false -> NULL, the typed
    // boundary's key-absent encoding, same as JsonataDF.auto null-fill)
    case ApplyOp(l, t: TransformExpr) => ctx.transformOutputs(l, t)
    case Call(VarRef("merge"), Vector(ArrCtor(items))) if items.nonEmpty =>
      val parts = items.map { it =>
        ctx.structObjOutputsTyped(it).orElse(it match {
          case o: ObjCtor => compileObjectTyped(ctx, o)
          case _ => None
        })
      }
      if (!parts.forall(_.isDefined)) None
      else {
        // Right-bias is on PRESENT keys: fMerge only sets keys the later
        // object actually CARRIES, and under the boundary encoding presence
        // is non-null — so a duplicate key merges as coalesce(later,
        // earlier), never a static overwrite (a static update would let a
        // later part's per-row ABSENT key — sifted away, deleted by a
        // transform, or an undefined ctor value — clobber an earlier part's
        // value with NULL; found by the round-11 review, verified live).
        // Duplicate keys must agree on the normalized type or the whole
        // query falls back — coalesce over mismatched types would throw at
        // analysis where the tier's contract is fall-back-not-crash.
        val out = scala.collection.mutable.LinkedHashMap.empty[String, (Column, DataType)]
        var ok = true
        parts.flatten.flatten.foreach { case (k, c, dt) =>
          out.get(k) match {
            case None => out.update(k, (c, dt))
            case Some((prev, pdt)) =>
              if (normDt(pdt) == normDt(dt)) out.update(k, (coalesce(c, prev), dt))
              else ok = false
          }
        }
        if (ok) Some(out.toVector.map { case (k, (c, _)) => k -> c }) else None
      }
    case _ => None
  }

  /** JSONata has one integer space — integral widths compare equal. */
  private def normDt(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case other => other
  }

  /** Inline a top-level let-binding preamble — `($f := function(...){...};
    * $x := 3; {...})` — by substituting each bound NAME's references in
    * everything after it. Sound because only side-effect-free values inline
    * (inline lambdas, scalar literals, and statically-foldable pure
    * expressions; the engine evaluates such binds eagerly but their
    * evaluation is pure, so call-site substitution is observationally
    * identical), and SAFE-BY-FALLBACK: any reference the rewriter does not
    * reach stays a VarRef, which the compiler refuses, sending the whole
    * query to the interpreted tier. Lambda parameters shadow binds during
    * substitution exactly as engine frames do. This is what lets the
    * reference's common configured-expression shape — a named predicate
    * defined once and passed to $sift/$filter/$sort/$map, or schema-as-data
    * objects navigated and counted (the jx07/removeEmail pattern) — run on
    * the compiled tier. */
  /** Any Bind anywhere in the subtree (frame-sensitive — blocks paren
    * unwrapping; see the Block case in compileCore/inlineBinds). */
  private[spark] def containsBind(a: Ast): Boolean = a match {
    case _: Bind => true
    case other => Ast.children(other).exists(containsBind)
  }

  private def inlineBinds(ast: Ast): Ast = ast match {
    // top-level `( {...} )` — same pure-paren unwrap as compileCore's
    case Block(Seq(e)) if !containsBind(e) => inlineBinds(e)
    case Block(exprs) if exprs.length >= 2 && exprs.init.forall(_.isInstanceOf[Bind]) =>
      val env = exprs.init.foldLeft(Option(Map.empty[String, Ast])) {
        case (Some(m), Bind(n, v)) =>
          val sv = subst(v, m)
          sv match {
            case _: Lambda | _: NumLit | _: StrLit | _: BoolLit => Some(m + (n -> sv))
            case other => StaticEval(other).map(f => m + (n -> StaticEval.toAst(f)))
          }
        case _ => None
      }
      env.map(m => subst(exprs.last, m)).getOrElse(ast)
    case other => other
  }

  /** Compile-time evaluator for PURE JSONata subtrees — literal objects/
    * arrays/scalars and the object builtins over them ($merge right-bias
    * with first-position keys, $sift with a statically-boolean lambda,
    * $keys/$lookup/$count, static field navigation). This is what
    * constant-folds "schema-as-data" expressions: a literal schema object
    * bound in the preamble, rewritten with $sift/$merge, then counted — the
    * reference's removeEmail golden-test shape — evaluates at COMPILE TIME,
    * leaving only row-dependent work in the plan. Anything impure (row
    * paths, free variables, non-literal nodes) or any engine-error/undefined
    * case ($keys of an empty object, $sift keeping nothing, $merge of a
    * non-object) returns None and the query falls back to the interpreter —
    * folding never changes error or undefined semantics, it only replaces
    * provably-defined values. */
  private object StaticEval {
    sealed trait SVal
    final case class SObj(fields: Vector[(String, SVal)]) extends SVal
    final case class SArr(items: Vector[SVal]) extends SVal
    final case class SStr(s: String) extends SVal
    final case class SNum(n: java.math.BigDecimal) extends SVal
    final case class SBool(b: Boolean) extends SVal
    final case class SLambda(l: Lambda) extends SVal

    def apply(a: Ast): Option[SVal] = evalIn(a, Map.empty)

    /** Fold back to a literal AST (for bind inlining). Lambdas return their
      * original node; objects/arrays rebuild as literal constructors. */
    def toAst(v: SVal): Ast = v match {
      case SObj(fs) => ObjCtor(fs.map { case (k, x) => (StrLit(k): Ast, toAst(x)) })
      case SArr(is) => ArrCtor(is.map(toAst))
      case SStr(s) => StrLit(s)
      case SNum(n) =>
        val st = n.stripTrailingZeros
        try NumLit(com.fasterxml.jackson.databind.node.LongNode.valueOf(st.longValueExact))
        catch { case _: ArithmeticException =>
          NumLit(com.fasterxml.jackson.databind.node.DecimalNode.valueOf(n))
        }
      case SBool(b) => BoolLit(b)
      case SLambda(l) => l
    }

    private def evalIn(a: Ast, env: Map[String, SVal]): Option[SVal] = a match {
      case StrLit(s) => Some(SStr(s))
      case NumLit(v) => Some(SNum(v.decimalValue()))
      case BoolLit(b) => Some(SBool(b))
      case l: Lambda => Some(SLambda(l))
      case VarRef(n) => env.get(n)
      case ObjCtor(pairs) =>
        val fs = pairs.map {
          case (StrLit(k), v) => evalIn(v, env).map(k -> _)
          case _ => None
        }
        if (fs.forall(_.isDefined)) Some(SObj(fs.map(_.get))) else None
      case ArrCtor(items) =>
        val is = items.map(evalIn(_, env))
        if (is.forall(_.isDefined)) Some(SArr(is.map(_.get))) else None
      // static field navigation: the head must itself be static (an inlined
      // literal object); row-rooted paths have a NameStep head and fail here
      case Path(steps, false, None)
          if steps.nonEmpty && steps.forall(s =>
            s.stages.isEmpty && !s.keepArray && s.focus.isEmpty && s.index.isEmpty) &&
            steps.tail.forall(_.expr.isInstanceOf[NameStep]) =>
        steps.tail.foldLeft(evalIn(steps.head.expr, env)) {
          case (Some(SObj(fs)), st) =>
            val NameStep(f) = st.expr: @unchecked
            fs.find(_._1 == f).map(_._2)
          case _ => None
        }
      case Cond(c, t, e) => evalIn(c, env) match {
        case Some(SBool(true)) => evalIn(t, env)
        case Some(SBool(false)) => e.flatMap(evalIn(_, env)) // absent else = undefined -> None
        case _ => None
      }
      case Binary(op, l, r) => (op, evalIn(l, env), evalIn(r, env)) match {
        // deep equality: cross-type compares unequal, same-type compares by value
        case ("=", Some(a1), Some(b1)) => staticEq(a1, b1).map(SBool.apply)
        case ("!=", Some(a1), Some(b1)) => staticEq(a1, b1).map(x => SBool(!x))
        case ("and", Some(SBool(a1)), Some(SBool(b1))) => Some(SBool(a1 && b1))
        case ("or", Some(SBool(a1)), Some(SBool(b1))) => Some(SBool(a1 || b1))
        case _ => None
      }
      case Call(VarRef(fn), args) => evalCall(fn, args, env)
      case ApplyOp(l2, Call(VarRef(fn), args)) => evalCall(fn, l2 +: args, env)
      case _ => None
    }

    private def staticEq(a: SVal, b: SVal): Option[Boolean] = (a, b) match {
      case (SStr(x), SStr(y)) => Some(x == y)
      case (SNum(x), SNum(y)) => Some(x.compareTo(y) == 0)
      case (SBool(x), SBool(y)) => Some(x == y)
      case (_: SLambda, _) | (_, _: SLambda) => None // function equality raises in the engine
      case _ if a.getClass != b.getClass => Some(false)
      case _ => None // structural object/array equality: rarely folded, keep interpreted
    }

    private def evalCall(fn: String, args: Seq[Ast], env: Map[String, SVal]): Option[SVal] =
      (fn, args.map(evalIn(_, env))) match {
        case ("merge", Seq(Some(SArr(items)))) =>
          // right-bias values, first-occurrence key positions (ObjectNode.set)
          val objs = items.map { case SObj(fs) => Some(fs); case _ => None }
          if (!objs.forall(_.isDefined)) None
          else {
            val out = scala.collection.mutable.LinkedHashMap.empty[String, SVal]
            objs.flatten.flatten.foreach { case (k, v) => out.update(k, v) }
            Some(SObj(out.toVector))
          }
        case ("keys", Seq(Some(SObj(fs)))) if fs.nonEmpty =>
          Some(SArr(fs.map(f => SStr(f._1))))
        case ("lookup", Seq(Some(SObj(fs)), Some(SStr(k)))) =>
          fs.find(_._1 == k).map(_._2) // absent key = undefined -> None (fallback)
        case ("count", Seq(Some(v))) => v match {
          case SArr(is) => Some(SNum(java.math.BigDecimal.valueOf(is.length.toLong)))
          case _: SLambda => None
          case _ => Some(SNum(java.math.BigDecimal.ONE))
        }
        case ("sift", Seq(Some(SObj(fs)), Some(SLambda(Lambda(params, body, _)))))
            if params.nonEmpty && params.length <= 2 =>
          val kept = fs.map { case (k, v) =>
            val benv = Map(params.head -> v) ++ params.lift(1).map(_ -> (SStr(k): SVal))
            evalIn(body, benv) match {
              case Some(SBool(b)) => Some(if (b) Some(k -> v) else None)
              case _ => None // non-boolean truthiness stays interpreted
            }
          }
          if (!kept.forall(_.isDefined)) None
          else {
            val out = kept.flatMap(_.get)
            if (out.isEmpty) None else Some(SObj(out)) // empty = fSift undef -> fallback
          }
        case _ => None
      }
  }

  /** Free JSONata variable names of a subtree, or None when the node uses a
    * scoping construct this analysis does not model (blocks/binds, transform
    * expressions, focus/index step bindings) — None blocks hoisting of the
    * node and every ancestor. `$` (context) counts as the free name "". */
  private def freeVars(a: Ast): Option[Set[String]] = a match {
    case VarRef(n) => Some(Set(n))
    case Lambda(ps, b, _) => freeVars(b).map(_ -- ps)
    // pure parens are transparent (the compileCore Block unwrap): without
    // this, `($average($a) * 2)` would never hoist
    case Block(Seq(e)) if !containsBind(e) => freeVars(e)
    case _: Block | _: Bind | _: TransformExpr => None
    case p: Path if p.steps.exists(s => s.focus.isDefined || s.index.isDefined ||
        s.stages.exists(_.isInstanceOf[IndexStage])) => None
    case f: Filtered if f.stages.exists(_.isInstanceOf[IndexStage]) => None
    // bracket-predicate stages REBIND the context per tested item
    // (applyFilter evals the predicate with ctx = item), so `$` inside a
    // stage is stage-local, not free — without this, `$a[$ > 0]` reads as
    // using the per-element context and never hoists out of a lambda
    case Path(steps, _, g) =>
      val parts = steps.map(s => stageAware(freeVars(s.expr), s.stages)) :+
        g.map(freeVars(_)).getOrElse(Some(Set.empty[String]))
      unionFv(parts)
    case Filtered(b, stages, g, _) =>
      unionFv(Seq(stageAware(freeVars(b), stages),
        g.map(freeVars(_)).getOrElse(Some(Set.empty[String]))))
    case other =>
      children(other).foldLeft(Option(Set.empty[String])) {
        case (Some(acc), c) => freeVars(c).map(acc ++ _)
        case (None, _) => None
      }
  }

  /** Base free vars plus each FilterStage/SortStage expression's free vars
    * MINUS the stage-local context binding `""`. */
  private def stageAware(base: Option[Set[String]],
                         stages: Vector[Stage]): Option[Set[String]] = {
    val stageFvs = stages.map {
      case FilterStage(e) => freeVars(e).map(_ - "")
      case SortStage(ts) => unionFv(ts.map(t => freeVars(t.expr))).map(_ - "")
      case IndexStage(_) => None // blocked above; defensive
    }
    unionFv(base +: stageFvs)
  }

  private def unionFv(parts: Seq[Option[Set[String]]]): Option[Set[String]] =
    parts.foldLeft(Option(Set.empty[String])) {
      case (Some(acc), Some(s)) => Some(acc ++ s)
      case _ => None
    }

  /** Rewrite an arity-3 HOF lambda body, extracting maximal subtrees whose
    * free variables are EXACTLY the whole-operand binding (`$a` / `$o`) —
    * such subtrees are per-ROW constants that must not be re-evaluated per
    * ELEMENT (Spark higher-order functions interpret their lambda per element
    * with no common-subexpression elimination, so an inlined `$average($a)`
    * costs O(n) per element = O(n²) per row). Each extracted subtree is
    * replaced by a synthetic VarRef (space-prefixed — unspellable in JSONata
    * source, whose variable names are word characters) that the caller binds
    * to a once-per-row column. Bare `$a` and
    * plain `$a.field` references stay put: they are O(1) column references,
    * and hoisting them would gain nothing. Nested lambdas extend the
    * per-element set with their own params; a nested lambda re-binding the
    * whole-operand name shadows it, so its body is left untouched. */
  private def hoistInvariant(body: Ast, perElem: Set[String], whole: String)
      : (Ast, Vector[(String, Ast)]) = {
    val out = Vector.newBuilder[(String, Ast)]
    var n = 0
    def cheap(a: Ast): Boolean = a match {
      case VarRef(_) => true
      case Path(steps, _, None)
          if steps.forall(s => s.stages.isEmpty && !s.keepArray &&
            s.focus.isEmpty && s.index.isEmpty) &&
            steps.tail.forall(_.expr.isInstanceOf[NameStep]) => true
      case _ => false
    }
    def go(a: Ast, pe: Set[String]): Ast = {
      // invariant = references the whole-operand binding and nothing
      // per-element. Other free names are fine: function references
      // ($average, $min, ...) are free VARIABLES in JSONata but per-row
      // constants — an unresolvable one simply fails the hoisted subtree's
      // compilation, which falls back to the unhoisted build. `$`/`$$`
      // (context/root) are never valid inside a compiled lambda body, so
      // their presence blocks hoisting rather than riding along.
      val invariant = freeVars(a).exists(fv =>
        fv.contains(whole) && !fv.exists(v => pe.contains(v) || v == "" || v == "$"))
      if (invariant && !cheap(a)) {
        val name = " h" + n; n += 1
        out += name -> a
        VarRef(name)
      } else a match {
        case Lambda(ps, b, sig) =>
          if (ps.contains(whole)) a else Lambda(ps, go(b, pe ++ ps), sig)
        case Call(p, as) => Call(go(p, pe), as.map(go(_, pe)))
        case Binary(op, l, r) => Binary(op, go(l, pe), go(r, pe))
        case Cond(c, t, e) => Cond(go(c, pe), go(t, pe), e.map(go(_, pe)))
        case ObjCtor(ps) => ObjCtor(ps.map { case (k, v) => (go(k, pe), go(v, pe)) })
        case ArrCtor(is) => ArrCtor(is.map(go(_, pe)))
        case UnaryMinus(e) => UnaryMinus(go(e, pe))
        case ApplyOp(l, r) => ApplyOp(go(l, pe), go(r, pe))
        case other => other // Paths etc.: either cheap refs or not hoist targets
      }
    }
    (go(body, perElem), out.result())
  }

  /** Substitute VarRef occurrences per `env`, honoring lambda-parameter
    * shadowing. Unknown node kinds pass through unchanged (see
    * [[inlineBinds]] for why that is safe). */
  private def subst(a: Ast, env: Map[String, Ast]): Ast = {
    if (env.isEmpty) return a
    a match {
      case VarRef(n) if env.contains(n) => env(n)
      case Lambda(params, body, sig) =>
        Lambda(params, subst(body, env -- params), sig)
      case Call(p, as) => Call(subst(p, env), as.map(subst(_, env)))
      case Binary(op, l, r) => Binary(op, subst(l, env), subst(r, env))
      case Cond(c, t, e) => Cond(subst(c, env), subst(t, env), e.map(subst(_, env)))
      case ObjCtor(ps) => ObjCtor(ps.map { case (k, v) => (subst(k, env), subst(v, env)) })
      case ArrCtor(is) => ArrCtor(is.map(subst(_, env)))
      case UnaryMinus(e) => UnaryMinus(subst(e, env))
      case ApplyOp(l, r) => ApplyOp(subst(l, env), subst(r, env))
      case Path(steps, keep, group) =>
        Path(steps.map(st => st.copy(
          expr = subst(st.expr, env),
          stages = st.stages.map {
            case FilterStage(e) => FilterStage(subst(e, env))
            case SortStage(ts) => SortStage(ts.map(t => t.copy(expr = subst(t.expr, env))))
            case s => s
          })), keep,
          group.map(g => ObjCtor(g.pairs.map { case (k, v) => (subst(k, env), subst(v, env)) })))
      case SortOpNode(ts) => SortOpNode(ts.map(t => t.copy(expr = subst(t.expr, env))))
      case other => other
    }
  }

  /** Apply the compiled form: typed columns, no JSON round-trip.
    *
    * Arithmetic is emitted as explicit `EvalMode.LEGACY` Catalyst expressions,
    * so compiled math never throws where the interpreted tier would not,
    * regardless of the session's `spark.sql.ansi.enabled` (Spark 4 defaults
    * ANSI on) — and without mutating any session conf. Remaining pinned
    * divergence: `long` overflow beyond ±2^63 wraps here where the engine
    * promotes to double — both representations have already lost exactness
    * above 2^53, and the guard rails (non-zero literal divisors, type-agreeing
    * equality, numeric-only $number) keep every error-raising engine case on
    * the interpreted tier. */
  def transformCompiled(df: DataFrame, exprSource: String): Option[DataFrame] =
    compileQuery(df, exprSource).map { cq =>
      val base = cq.filter.map(df.filter).getOrElse(df)
      base.select(cq.outputs.map { case (n, c) => c.as(n) }: _*)
    }

  private def isNullOrAbsent(e: Option[Ast]): Boolean = e match {
    case None => true
    case Some(NullLit()) => true
    case _ => false
  }

  private def compileObject(ctx: Ctx, a: Ast): Option[Seq[(String, Column)]] =
    compileObjectTyped(ctx, a).map(_.map { case (k, c, _) => k -> c })

  private def compileObjectTyped(ctx: Ctx, a: Ast): Option[Seq[(String, Column, DataType)]] = a match {
    case ObjCtor(pairs) =>
      val outs = pairs.map {
        case (StrLit(k), v) => ctx.compile(v).map(cv => (k, cv.col, cv.dt))
        case _ => None
      }
      if (outs.forall(_.isDefined)) Some(outs.map(_.get)) else None
    case _ => None
  }

  /** Typed compiled column: we track the static type to validate `&`, string
    * functions, and comparisons. */
  private final case class TCol(col: Column, dt: DataType)

  private final class Ctx(schema: StructType, utcSession: Boolean = false) {

    /** Lambda-parameter bindings during HOF body compilation. Inside a lambda
      * the engine invokes the body with a NULL input context
      * (Functions.scala fMap/fFilter: `interp.invoke(f, args, null)`), so row
      * paths like `value.x` are undefined there — `inLambda` blocks the
      * schema-rooted path rules and only param-rooted references resolve. */
    private var lambdaEnv: Map[String, TCol] = Map.empty
    private var inLambda: Boolean = false

    def fieldType(path: Seq[String]): Option[DataType] = {
      var dt: DataType = schema
      path.foreach { name =>
        dt match {
          case st: StructType =>
            st.fields.find(_.name == name) match {
              case Some(f) => dt = f.dataType
              case None => return None
            }
          case _ => return None
        }
      }
      Some(dt)
    }

    private def isNum(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }

    private def isIntegral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

    private def isFloat(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

    /** One static type for occurrences that must agree: integrals widen to
      * long, integrals with floats to double (exact widenings only); any
      * other mix is None. */
    private def unifyNumeric(occs: Seq[DataType]): Option[DataType] =
      if (occs.forall(_ == occs.head)) Some(if (isIntegral(occs.head)) LongType else occs.head)
      else if (occs.forall(isIntegral)) Some(LongType)
      else if (occs.forall(d => isIntegral(d) || isFloat(d))) Some(DoubleType)
      else None

    /** The field names under `value` of a `value.a.b` name chain; None unless
      * the first step is `value` and every step is a plain name. */
    private def valueNames(es: Seq[Ast]): Option[Seq[String]] =
      if (es.headOption.contains(NameStep("value")) && es.forall(_.isInstanceOf[NameStep]))
        Some(es.tail.collect { case NameStep(n) => n })
      else None

    /** [[valueNames]] of path steps without stages, focus or index. */
    private def valueStepNames(steps: Seq[Step]): Option[Seq[String]] =
      if (steps.exists(s => s.stages.nonEmpty || s.focus.isDefined || s.index.isDefined)) None
      else valueNames(steps.map(_.expr))

    /** `value.a.b` path -> column reference. */
    private def valuePath(a: Ast): Option[Seq[String]] = a match {
      case Path(steps, false, None) => valueStepNames(steps)
      case _ => None
    }

    /** The column at `value`-relative `names`: the whole row, as a struct of
      * its columns, when `names` is empty. */
    private def namesCol(names: Seq[String]): Column =
      if (names.isEmpty) struct(schema.fieldNames.toIndexedSeq.map(col): _*)
      else col(names.mkString("."))

    /** Plain `value.a.b` name steps (no stages/focus/index) resolving to an
      * array column — the input shape for compiled sort/group-by. */
    private def arrayValuePath(steps: Vector[Step]): Option[(Column, ArrayType)] =
      valueStepNames(steps).filter(_.nonEmpty).flatMap { names =>
        fieldType(names) match {
          case Some(at: ArrayType) => Some((col(names.mkString(".")), at))
          case _ => None
        }
      }

    /** A bare relative field reference (`price` inside a sort term / group
      * pair) — parsed as either a naked NameStep or a one-step Path. */
    private def relField(a: Ast): Option[String] = a match {
      case NameStep(f) => Some(f)
      case Path(Vector(st), _, None)
          if st.stages.isEmpty && st.focus.isEmpty && st.index.isEmpty =>
        st.expr match { case NameStep(f) => Some(f); case _ => None }
      case _ => None
    }

    /** Param-rooted path inside a lambda body: `$x` / `$x.price.net` — name
      * steps over the bound element only. When a CONTEXT element is bound
      * (the "" env key, set only while compiling a bracket-predicate stage —
      * see compilePredicate), bare-name heads also resolve against it:
      * `price` inside `items[price > 10]` is the element's field, exactly
      * the engine's per-item predicate context. Everything else (row paths,
      * sorts, nested predicates, keep-array markers) returns None so the
      * whole query falls back to the always-correct interpreted tier. */
    private def lambdaPath(p: Path): Option[TCol] = {
      // stages are allowed on the LAST step only — `$m.groups[0]` /
      // `$x.tags[q = 'a']` run the ordinary stage machinery over the
      // navigated array ($replace lambda bodies made this the most common
      // in-lambda shape); anything staged mid-path stays interpreted
      val lastStages = p.steps.lastOption.map(_.stages).getOrElse(Vector.empty)
      val plain = !p.keepSingletonArray && p.group.isEmpty && p.steps.nonEmpty &&
        !p.steps.init.exists(s => s.stages.nonEmpty || s.keepArray ||
          s.focus.isDefined || s.index.isDefined) &&
        !p.steps.last.keepArray && p.steps.last.focus.isEmpty &&
        p.steps.last.index.isEmpty &&
        p.steps.tail.forall(_.expr.isInstanceOf[NameStep])
      var acc: Option[TCol] =
        if (!plain) None
        else p.steps.head.expr match {
          case VarRef(n) => lambdaEnv.get(n)
          case NameStep(f) => lambdaEnv.get("").flatMap { ctx =>
            ctx.dt match {
              case st: StructType => st.fields.find(_.name == f)
                .map(fl => TCol(ctx.col.getField(f), fl.dataType))
              case _ => None
            }
          }
          case _ => None
        }
      val it = p.steps.tail.iterator
      while (acc.isDefined && it.hasNext) {
        val f = it.next().expr.asInstanceOf[NameStep].name
        acc = acc.get.dt match {
          case st: StructType =>
            st.fields.find(_.name == f)
              .map(fl => TCol(acc.get.col.getField(f), fl.dataType))
          case _ => None
        }
      }
      if (lastStages.isEmpty) acc
      else acc.flatMap { base =>
        base.dt match {
          case at: ArrayType => runFilterStages(base.col, at, lastStages).map {
            case Left(sc) => sc
            case Right(arr) => TCol(emptyAsNull(arr), at)
          }
          case _ => None // scalar re-wrap: interpreted
        }
      }
    }

    /** Compile a lambda-like `body` with `params` bound per element and
      * `fixed` bound to the same columns throughout (a whole operand, hoisted
      * per-row constants, a bracket predicate's parent). Returns the body's
      * Column builder, which takes one column per param (extra columns are
      * ignored), and the body's static type. A dry run with typed null
      * placeholders decides compilability once; the builder then recompiles
      * against the real lambda variables (compilation is pure given the same
      * scope, so the two runs agree). `hide` names outer bindings the body
      * must not see (see [[bound]]). */
    private def bodyFn(params: Seq[(String, DataType)], fixed: Seq[(String, TCol)], body: Ast,
                       hide: Seq[String] = Nil): Option[(Seq[Column] => Column, DataType)] = {
      def at(cs: Seq[Column]): Option[TCol] =
        bound(params.zip(cs).map { case ((n, dt), c) => n -> TCol(c, dt) } ++ fixed, hide)(compile(body))
      at(params.map { case (_, dt) => lit(null).cast(dt) })
        .map(probe => ((cs: Seq[Column]) => at(cs).get.col, probe.dt))
    }

    /** Evaluate hoisted per-row-constant subtrees ONCE via a single-element
      * `transform` wrapper — a "let" encoded as a HOF. The hoisted columns
      * are packed into a one-element array<struct>; the wrapper's lambda
      * variable then carries them into the inner HOF, where they are plain
      * O(1) field references instead of re-evaluated aggregates (HOF lambdas
      * are interpreted per element with no common-subexpression elimination,
      * so an inlined whole-array aggregate would cost O(n) per element).
      * `build(body, extra)` constructs the full HOF column with the hoist
      * names bound to `extra`; it is probed with typed nulls first (same
      * two-phase scheme as [[bodyFn]]). Falls back to the
      * unhoisted `build(origBody, Nil)` when any hoisted subtree fails to
      * compile — hoisting only ever changes the plan, never compilability
      * or results (pinned by DifferentialSpec). */
    private def withHoisted(body: Ast, origBody: Ast, hoists: Vector[(String, Ast)],
        operand: (String, TCol),
        build: (Ast, Seq[(String, TCol)]) => Option[TCol]): Option[TCol] = {
      val cs = hoists.map { case (nm, ha) => bound(Seq(operand))(compile(ha)).map(nm -> _) }
      val hs = if (cs.forall(_.isDefined)) cs.flatten else Vector.empty
      if (hs.isEmpty) build(origBody, Nil)
      else build(body, hs.map { case (nm, tc) => nm -> TCol(lit(null).cast(tc.dt), tc.dt) }) match {
        case Some(probe) =>
          val hstruct = struct(hs.zipWithIndex.map { case ((_, tc), i) => tc.col.as(s"h$i") }: _*)
          val c = element_at(transform(array(hstruct), h =>
            build(body, hs.zipWithIndex.map { case ((nm, tc), i) =>
              nm -> TCol(h.getField(s"h$i"), tc.dt) }).get.col), 1)
          Some(TCol(c, probe.dt))
        case None => build(origBody, Nil)
      }
    }

    /** `$map`/`$filter` with an inline arity-1 lambda over an array operand.
      * Engine semantics mirrored (Functions.scala:708-733): $map drops items
      * whose lambda result is undefined (SQL NULL here); $filter keeps items
      * whose body is truthy — compiled only for statically-boolean bodies,
      * where truthiness is the boolean itself and undefined is false. An
      * undefined input array propagates (transform/filter of NULL is NULL).
      * An EMPTY result is the engine's empty sequence = undefined, so it
      * becomes SQL NULL (emptyAsNull, round 9): without it, `$sum` over a
      * survivor-less `$filter` compiled to 0.0 where the engine yields
      * undefined (found by ProbeEmptyFilter; pinned in DifferentialSpec).
      * Pinned divergence classes shared with the other compiled array ops: a
      * JSON-null ELEMENT raises a type error in the engine (T2010 in the
      * body's arithmetic/comparison) but flows through as NULL here, and a
      * singleton result collapses to the scalar at an engine expression
      * boundary where the compiled tier keeps the 1-element array — immune
      * when composed under the compiled aggregates, whose engine behavior on
      * a scalar is the identity. Arity-2 lambdas bind the element INDEX as
      * the second parameter (engine passes the 0-based position,
      * Functions.scala fMap/fFilter; Spark's indexed transform/filter
      * overloads supply the same 0-based index — widened to long, the
      * compiled tier's integral type); arity-3 also binds the whole array
      * (below). Non-inline function references stay interpreted. */
    private def compileHof(fn: String, args: Seq[Ast]): Option[TCol] = args match {
      case Seq(arrA, Lambda(ps, body, _)) if ps.nonEmpty && ps.length <= 3 =>
        compile(arrA).flatMap { t =>
          t.dt match {
            case ArrayType(et, _) =>
              // arity 1 takes the plain overloads; arity 2 and 3 the indexed
              // ones, whose 0-based index widens to the tier's integral long
              val indexed = ps.length > 1
              def mapped(g: Seq[Column] => Column): Column =
                if (indexed) transform(t.col, (x, i) => g(Seq(x, i.cast("long"))))
                else transform(t.col, x => g(Seq(x)))
              def kept(g: Seq[Column] => Column): Column =
                if (indexed) filter(t.col, (e, i) => g(Seq(e, i.cast("long"))))
                else filter(t.col, e => g(Seq(e)))
              def build(b: Ast, extra: Seq[(String, TCol)]): Option[TCol] =
                bodyFn(Seq(ps.head -> et) ++ ps.lift(1).map(_ -> LongType),
                    ps.lift(2).map(_ -> t).toSeq ++ extra, b).flatMap { case (bf, bt) =>
                  def truthy(cs: Seq[Column]): Column = coalesce(bf(cs), lit(false))
                  fn match {
                    case "map" =>
                      Some(TCol(emptyAsNull(filter(mapped(bf), x => x.isNotNull)), ArrayType(bt)))
                    case "filter" if bt == BooleanType =>
                      Some(TCol(emptyAsNull(kept(truthy)), ArrayType(et)))
                    case "single" if bt == BooleanType =>
                      Some(TCol(singleFrom(kept(truthy), et), et))
                    case _ => None
                  }
                }
              // arity-3 ($v, $i, $a): the third parameter is the WHOLE
              // operand array (fMap/fFilter pass arrNode) — a FIXED outer
              // column inside the per-element lambda. Loop-invariant
              // $a-only subtrees ($average($a), $min($a), ...) are hoisted
              // out of the per-element lambda and evaluated once per row
              // (see hoistInvariant/withHoisted) — without this, each
              // element would re-run the whole-array aggregate: O(n²)
              // arithmetic per row.
              if (ps.length < 3) build(body, Nil)
              else {
                val (body2, hoists) = hoistInvariant(body, Set(ps(0), ps(1)), ps(2))
                withHoisted(body2, body, hoists, ps(2) -> t, build)
              }
            case _ => None
          }
        }
      case _ => None
    }

    /** `$single`: the one-and-only matching element. Engine contract
      * (Functions.scala fSingle): zero matches raise D3139, more than one
      * raise D3138 — and an UNDEFINED operand is an empty item list, so it
      * raises D3139 too (signature 'a' passes undefined through; asIterable
      * (null) = Nil), which is why the null operand is NOT given the usual
      * undefined-propagation treatment here. The compiled form filters
      * (sharing $filter's pinned JSON-null-element divergence class) and
      * raises through raise_error with the engine's code in the message;
      * size(NULL) is NULL → the when falls through to the zero-match raise,
      * matching the engine's undefined behavior. */
    private def singleFrom(matched: Column, et: DataType): Column = {
      val n = size(matched)
      when(n === 1, element_at(matched, lit(1)))
        .otherwise(raise_error(
          when(coalesce(n, lit(0)) <= 0, lit("D3139: $single: no matching item"))
            .otherwise(concat(lit("D3138: $single: "), n.cast("string"),
              lit(" matching items")))).cast(et))
    }

    /** `$single(arr)` (no predicate: every item matches — exactly-one means
      * the array IS a singleton) and `$single(arr, fn)` via [[compileHof]]'s
      * lambda machinery. */
    private def compileSingle(args: Seq[Ast]): Option[TCol] =
      args match {
        case Seq(arrA) =>
          compile(arrA).flatMap { t =>
            t.dt match {
              case ArrayType(et, _) => Some(TCol(singleFrom(t.col, et), et))
              case _ => None
            }
          }
        case Seq(_, _) => compileHof("single", args)
        case _ => None
      }

    /** A field of a compiled object value: `keep` is "present AND retained by
      * every enclosing $sift". Envelope encoding drops SQL-NULL fields, so a
      * NULL column is exactly an absent key in the engine's object — presence
      * is `isNotNull`. */
    private final case class VField(name: String, col: Column, dt: DataType, keep: Column)

    /** Run `f` inside a lambda scope: `vs` bound over the enclosing
      * bindings, minus the `hide` names, then restored. The one place that
      * saves and restores [[lambdaEnv]] and [[inLambda]]. */
    private def bound[A](vs: Seq[(String, TCol)], hide: Seq[String] = Nil)(f: => A): A = {
      val (se, si) = (lambdaEnv, inLambda)
      lambdaEnv = lambdaEnv -- hide ++ vs
      inLambda = true
      try f finally { lambdaEnv = se; inLambda = si }
    }

    /** Object-valued operand for the compiled object operators ($keys/$each/
      * $lookup/$sift): the whole row (`value`), a struct-typed `value.a.b`
      * path, or a nested struct-$sift. Blocked inside lambda bodies (the
      * engine invokes lambdas with a null input context, so `value.*` is
      * undefined there — same rule as the path cases in [[compile]]). */
    private def compileStructObj(a: Ast): Option[Seq[VField]] = a match {
      // a bare `value` argument parses as a naked NameStep, not a Path
      case n @ NameStep("value") => compileStructObj(Path(Vector(Step(n))))
      case p: Path if !inLambda =>
        valuePath(p).flatMap { names =>
          fieldType(names) match {
            case Some(st: StructType) =>
              val prefix = names.map(_ + ".").mkString
              Some(st.fields.toSeq.map { f =>
                val c = col(prefix + f.name)
                VField(f.name, c, f.dataType, c.isNotNull)
              })
            case _ => None
          }
        }
      case Call(VarRef("sift"), as) if as.length == 2 => compileStructSift(as)
      case ApplyOp(l, Call(VarRef("sift"), as)) if as.length == 1 =>
        compileStructSift(l +: as)
      // a compiled object-patch is itself a struct object (jx30 $merge parts)
      case ApplyOp(l, t: TransformExpr) => transformFields(l, t).map(_._1)
      case _ => None
    }

    /** Bind ($v[, $k]) for one field of a struct object. */
    private def fieldBindings(params: Vector[String], f: VField): Seq[(String, TCol)] =
      Seq(params.head -> TCol(f.col, f.dt)) ++
        params.lift(1).map(_ -> TCol(lit(f.name), StringType))

    /** `base ~> | pattern | {updates} [, deletes] |` — compiled object
      * patching (B22's configured shape: patch this record / this nested
      * object), gated to the statically-decidable form:
      *  - base: a value-rooted struct spread ([[compileStructObj]] paths —
      *    `value` or `value.a.b`; sift/computed bases stay interpreted).
      *    An UNDEFINED base (null nested struct) makes the engine return
      *    undefined from the whole apply (TransformFn's null-arg early
      *    return) — every output keep flag is AND-ed with `defined` and
      *    the TCol materialization nulls the struct itself.
      *  - pattern: `$` (the patched clone itself) or a plain name-step path
      *    resolving THROUGH StructTypes to a StructType. A step absent from
      *    the schema can never match a typed input — the transform compiles
      *    to the unpatched base (the engine's no-match behavior); a
      *    MID-path scalar likewise matches nothing (name steps over
      *    non-objects are empty). A FINAL non-struct makes the engine raise
      *    T2013 on non-null values, and an array on the path fans the match
      *    out per element — both fall back.
      *  - update: an object constructor with DISTINCT literal keys (dup
      *    keys raise D1009 in the engine) whose values compile
      *    context-rooted against the matched object (the engine evaluates
      *    the update with ctx = match; bare names resolve against it via
      *    the "" binding) and are statically json-null-free
      *    ([[cannotBeJsonNull]]): the tier encodes undefined as SQL NULL,
      *    and an UNDEFINED update value drops its pair from the patch
      *    object (evalGroup's `if (value != null)`) so the original field
      *    SURVIVES — while an explicit JSON null would overwrite it. Typed
      *    struct navigation can only surface undefined (RowJson omits null
      *    object fields), so refusing the forms that can produce an
      *    explicit null (array-element access via stages; HOF folds over
      *    arrays, whose elements keep explicit nulls; `null` literals never
      *    compile at all) makes coalesce(new, original) exact.
      *  - deletes: a string literal or array of string literals, removed
      *    AFTER the update exactly like TransformFn (so deleting a
      *    just-patched key wins); absent keys no-op.
      * Existing keys update IN PLACE (ObjectNode.set replaces at position)
      * and new keys append in update order — mirrored by the ordered VField
      * list. A null matched object patches nothing: nested rebuilds guard
      * on the match's isNotNull. */
    private def transformFields(l: Ast, t: TransformExpr): Option[(Seq[VField], Column)] = {
      val upd: Option[Vector[(String, Ast)]] = t.update match {
        case ObjCtor(pairs) =>
          val ks = pairs.map { case (StrLit(k), v) => Some(k -> v); case _ => None }
          val got = ks.flatten
          if (ks.forall(_.isDefined) && got.map(_._1).distinct.length == got.length)
            Some(got)
          else None
        case _ => None
      }
      val dels: Option[Vector[String]] = t.deletes match {
        case None => Some(Vector.empty)
        case Some(StrLit(s)) => Some(Vector(s))
        case Some(ArrCtor(items)) if items.nonEmpty && items.forall(_.isInstanceOf[StrLit]) =>
          Some(items.collect { case StrLit(s) => s })
        case _ => None
      }
      def patSteps(a: Ast): Option[List[String]] = a match {
        case VarRef("") => Some(Nil)
        case NameStep(n) => Some(List(n))
        case Path(steps, false, None)
            if steps.forall(s => s.stages.isEmpty && !s.keepArray &&
              s.focus.isEmpty && s.index.isEmpty) =>
          val es = steps.map(_.expr)
          if (es.length == 1 && es.head == VarRef("")) Some(Nil)
          else if (es.forall(_.isInstanceOf[NameStep]))
            Some(es.collect { case NameStep(n) => n }.toList)
          else None
        case _ => None
      }
      val base: Option[(Seq[VField], Column)] = l match {
        case NameStep("value") => compileStructObj(l).map(_ -> lit(true))
        case p: Path => compileStructObj(p).map { vfs =>
          val names = valuePath(p).getOrElse(Seq.empty)
          vfs -> (if (names.isEmpty) lit(true) else col(names.mkString(".")).isNotNull)
        }
        case _ => None
      }
      for {
        bd <- base
        path <- patSteps(t.pattern)
        pairs <- upd
        delKeys <- dels
        if pairs.forall { case (_, v) => cannotBeJsonNull(v) }
        out <- patchVirtual(bd._1, path, pairs, delKeys)
      } yield (out.map(f => VField(f.name, f.col, f.dt, bd._2 && f.keep)), bd._2)
    }

    /** Top-level spread of a compiled transform, ROOT bases only: an
      * undefined base makes the engine return undefined from the whole
      * apply — at top level that is a TOMBSTONE (record dropped), which a
      * bare output list cannot express. Root (`value`) bases are always
      * defined, so only they are valid where no filter can be attached
      * (tombstone branches, $merge parts); [[transformQuery]] carries the
      * defined-filter for the direct top-level shape. */
    def transformOutputs(l: Ast, t: TransformExpr): Option[Seq[(String, Column)]] = {
      val rootBase = l match {
        case NameStep("value") => true
        case p: Path => valuePath(p).exists(_.isEmpty)
        case _ => false
      }
      if (!rootBase) None
      else transformFields(l, t).map(_._1.map(f => f.name -> when(f.keep, f.col)))
    }

    /** The whole-query transform shape: outputs + the undefined-base drop
      * filter (None for root bases, which are always defined). */
    def transformQuery(l: Ast, t: TransformExpr): Option[(Seq[(String, Column)], Option[Column])] =
      transformFields(l, t).map { case (vfs, defined) =>
        val filt = l match {
          case NameStep("value") => None
          case p: Path if valuePath(p).exists(_.isEmpty) => None
          case _ => Some(defined)
        }
        (vfs.map(f => f.name -> when(f.keep, f.col)), filt)
      }

    /** Patch at `path` inside the virtual (spread) object `fields`. */
    private def patchVirtual(fields: Seq[VField], path: List[String],
        pairs: Vector[(String, Ast)], delKeys: Vector[String]): Option[Seq[VField]] =
      path match {
        case Nil =>
          val (ctxCol, ctxSt) = vfStruct(fields)
          applyPatch(fields, ctxCol, ctxSt, pairs, delKeys)
        case n :: rest =>
          fields.indexWhere(_.name == n) match {
            case -1 => Some(fields) // key can never exist in typed input: no match
            case i => fields(i).dt match {
              case st: StructType =>
                patchReal(fields(i).col, st, rest, pairs, delKeys).map { case (c2, st2) =>
                  val guarded = when(fields(i).col.isNotNull, c2)
                  fields.updated(i, VField(n, guarded, st2, guarded.isNotNull))
                }
              case _: ArrayType => None // per-element fan-out: interpreted
              // a MAP encodes as a JSON object the engine navigates INTO —
              // not a scalar no-match (round-11 review, verified live)
              case _: MapType => None
              case _ =>
                // scalar mid-path: name steps over non-objects match nothing
                if (rest.nonEmpty) Some(fields)
                else None // final non-struct match raises T2013: interpreted
            }
          }
      }

    /** Patch at `path` inside a REAL struct column. Returns the rebuilt
      * column + its (possibly widened) type. */
    private def patchReal(c: Column, st: StructType, path: List[String],
        pairs: Vector[(String, Ast)], delKeys: Vector[String]): Option[(Column, StructType)] =
      path match {
        case Nil =>
          val fields = st.fields.toSeq.map { f =>
            val fc = c.getField(f.name)
            VField(f.name, fc, f.dataType, fc.isNotNull)
          }
          applyPatch(fields, c, st, pairs, delKeys).map(vfStruct)
        case n :: rest =>
          st.fields.find(_.name == n) match {
            case None => Some((c, st)) // absent key: no match
            case Some(f) => f.dataType match {
              case ist: StructType =>
                patchReal(c.getField(n), ist, rest, pairs, delKeys).map { case (c2, st2) =>
                  val vfs = st.fields.toSeq.map { g =>
                    if (g.name != n) {
                      val gc = c.getField(g.name)
                      VField(g.name, gc, g.dataType, gc.isNotNull)
                    } else {
                      val guarded = when(c.getField(n).isNotNull, c2)
                      VField(n, guarded, st2, guarded.isNotNull)
                    }
                  }
                  vfStruct(vfs)
                }
              case _: ArrayType => None
              case _: MapType => None // JSON object to the engine (see above)
              case _ => if (rest.nonEmpty) Some((c, st)) else None
            }
          }
      }

    /** Apply the update pairs then the deletes to an ordered field list,
      * compiling each update value with ctx = the matched object. */
    private def applyPatch(fields: Seq[VField], ctxCol: Column, ctxSt: StructType,
        pairs: Vector[(String, Ast)], delKeys: Vector[String]): Option[Seq[VField]] = {
      val compiled = pairs.map { case (k, vAst) =>
        bound(Seq("" -> TCol(ctxCol, ctxSt)))(compile(vAst)).map(k -> _)
      }
      if (!compiled.forall(_.isDefined)) return None
      var out = fields.toVector
      compiled.flatten.foreach { case (k, vc) =>
        out.indexWhere(_.name == k) match {
          case -1 => out = out :+ VField(k, vc.col, vc.dt, vc.col.isNotNull)
          case i => unifyMerge(out(i), vc) match {
            case Some(nf) => out = out.updated(i, nf)
            case None => return None
          }
        }
      }
      // deletes keep their column slot with keep=false (a NULL column IS the
      // key-absent encoding at the typed boundary — same convention as the
      // struct-$sift drops), so declared output schemas and nested
      // navigation both see the engine's removed-key behavior
      Some(out.map(f =>
        if (delKeys.contains(f.name)) VField(f.name, f.col, f.dt, lit(false)) else f))
    }

    /** Merge an update value over an existing field: engine keeps the
      * original when the patch value is undefined (the pair was dropped
      * from the update object), else overwrites. Types must agree up to
      * the numeric tower (both integral -> long; any float side -> double
      * — exact widenings only); anything else stays interpreted. */
    private def unifyMerge(f: VField, vc: TCol): Option[VField] = {
      val uni: Option[(Column, Column, DataType)] = (f.dt, vc.dt) match {
        case (a, b) if a == b => Some((when(f.keep, f.col), vc.col, a))
        case (a, b) if isIntegral(a) && isIntegral(b) =>
          Some((when(f.keep, f.col).cast(LongType), vc.col.cast(LongType), LongType))
        case (a, b) if (isIntegral(a) || isFloat(a)) && (isIntegral(b) || isFloat(b)) =>
          Some((when(f.keep, f.col).cast(DoubleType), vc.col.cast(DoubleType), DoubleType))
        case _ => None
      }
      uni.map { case (oc, nc, dt) =>
        val merged = coalesce(nc, oc)
        VField(f.name, merged, dt, merged.isNotNull)
      }
    }

    /** Materialize a virtual object as a struct column + type (absent
      * fields — keep=false — become SQL NULLs, the tier's key-absent
      * encoding at the typed boundary). */
    private def vfStruct(vfs: Seq[VField]): (Column, StructType) =
      (struct(vfs.map(f => when(f.keep, f.col).as(f.name)): _*),
        StructType(vfs.map(f => StructField(f.name, f.dt, nullable = true)).toArray))

    /** Builtins whose engine result is a value or undefined, NEVER an
      * explicit JSON null — safe as transform update values under the
      * tier's NULL==undefined encoding. HOFs are excluded: a fold/map over
      * an array can surface an element, and array elements keep explicit
      * nulls through the codec. */
    private val nullFreeFns: Set[String] = Set(
      "string", "uppercase", "lowercase", "trim", "substring",
      "substringBefore", "substringAfter", "pad", "contains", "split",
      "join", "replace", "length", "number", "abs", "floor", "ceil",
      "round", "sqrt", "power", "formatNumber", "formatBase",
      "formatInteger", "parseInteger", "sum", "max", "min", "average",
      "count", "boolean", "not", "exists")

    /** Statically json-null-free shapes (see [[transformFields]]): struct
      * navigation yields undefined (never NullNode) on typed inputs, and
      * the whitelisted scalar builtins return values or undefined. Stage/
      * focus/index-bearing paths are refused — an array ELEMENT can be an
      * explicit null. */
    private def cannotBeJsonNull(a: Ast): Boolean = a match {
      case _: StrLit | _: NumLit | _: BoolLit => true
      case _: VarRef | _: NameStep => true
      case _: ArrCtor => true // the array value itself is never a JSON null
      case Ast.UnaryMinus(e) => cannotBeJsonNull(e)
      case Binary(_, lx, rx) => cannotBeJsonNull(lx) && cannotBeJsonNull(rx)
      case Cond(c, tb, eb) =>
        cannotBeJsonNull(c) && cannotBeJsonNull(tb) && eb.forall(cannotBeJsonNull)
      case Block(Seq(e)) if !containsBind(e) => cannotBeJsonNull(e)
      case Call(VarRef(fn), args) => nullFreeFns(fn) && args.forall(cannotBeJsonNull)
      case p: Path =>
        p.steps.forall(s => s.stages.isEmpty && s.focus.isEmpty &&
          s.index.isEmpty && !s.keepArray) &&
          p.steps.forall(_.expr match {
            case _: NameStep | _: VarRef => true
            case _ => false
          })
      case _ => false
    }

    /** `value.a.**.f` — compiled descendant search (B5). The engine's `**`
      * emits, depth-first pre-order: objects (the object ITSELF, then its
      * field values in order), array elements (arrays flatten, never emit
      * themselves), and scalars; a following name step then maps over the
      * OBJECT elements. Over a static schema that object set is fully
      * enumerable at compile time, so `base.**.f` compiles to a concat of
      * per-position segments in exactly the engine's pre-order — struct
      * positions contribute `array(path.f)`, array positions contribute
      * `flatten(transform(arr, e -> <per-element pre-order segments>))` —
      * followed by a null filter (struct-absent keys are NULL; engine
      * objects simply lack them) and emptyAsNull (empty sequence =
      * undefined). Gates: exactly one `**`, followed by exactly ONE name
      * step (a bare `**` is a heterogeneous value mix with no static type);
      * every `f` occurrence under the base must agree on the normalized
      * type (integrals widen to long, integral+float widens to double —
      * exact widenings only); MapTypes anywhere in the traversed tree fall
      * back (a map is a JSON object the engine descends into, but its keys
      * are not statically enumerable). An array-typed BASE matches the
      * engine too: path steps map `**` over the array's elements, which is
      * the same flatten. Null segments (absent nested arrays) coalesce to
      * empty rather than poisoning the concat. Shares the pinned singleton
      * divergence class of every compiled array op (collapse at engine
      * expression boundaries — immune under the compiled aggregates). */
    private def compileDescendantPath(steps: Vector[Step]): Option[TCol] = {
      val es = steps.map(_.expr)
      val di = es.indexWhere(_ == Descendant())
      // one **, second-to-last, value-rooted plain names before, ONE name after
      if (di != es.length - 2 || es.count(_ == Descendant()) != 1) return None
      if (inLambda) return None
      val target = es.last match { case NameStep(n) => n; case _ => return None }
      val baseNames = valueNames(es.take(di)).getOrElse(return None)
      val baseDt = fieldType(baseNames).getOrElse(return None)

      // pass 1: collect every occurrence type (None = unsupported shape);
      // hasOcc memoizes per-subtree occurrence presence so pass 2's array
      // guards are lookups, not re-walks (occurrence sets depend only on
      // the TYPE, so structural DataType equality is the right key)
      val hasOcc = scala.collection.mutable.Map.empty[DataType, Boolean]
      def occTypes(dt: DataType): Option[Seq[DataType]] = {
        val res: Option[Seq[DataType]] = dt match {
          case st: StructType =>
            val own = st.fields.find(_.name == target).map(_.dataType).toSeq
            st.fields.foldLeft(Option(own)) {
              case (None, _) => None
              case (Some(acc), f) => f.dataType match {
                case s: StructType => occTypes(s).map(acc ++ _)
                case a: ArrayType => occTypes(a).map(acc ++ _)
                case _: MapType => None
                case _ => Some(acc)
              }
            }
          case ArrayType(et, _) => et match {
            case _: StructType | _: ArrayType => occTypes(et)
            case _: MapType => None
            case _ => Some(Seq.empty)
          }
          case _: MapType => None
          case _ => Some(Seq.empty)
        }
        hasOcc(dt) = res.exists(_.nonEmpty)
        res
      }
      val occs = occTypes(baseDt).getOrElse(return None)
      if (occs.isEmpty) return None // no static occurrence: undefined with no type
      val tt = unifyNumeric(occs).getOrElse(return None)
      // an ARRAY-typed target splices its ELEMENTS into the result sequence
      // (name-step results flatten) — not modeled: interpreted
      if (tt.isInstanceOf[ArrayType]) return None

      // pass 2: build segments in pre-order
      def segs(c: Column, dt: DataType): Seq[Column] = dt match {
        case st: StructType =>
          val own: Seq[Column] =
            if (st.fields.exists(_.name == target))
              Seq(array(c.getField(target).cast(tt)))
            else Seq.empty
          own ++ st.fields.toSeq.flatMap { f =>
            f.dataType match {
              case s: StructType => segs(c.getField(f.name), s)
              case a: ArrayType => segs(c.getField(f.name), a)
              case _ => Seq.empty
            }
          }
        case at @ ArrayType(et, _) => et match {
          case _: StructType | _: ArrayType =>
            if (hasOcc.getOrElse(at, false))
              Seq(coalesce(
                flatten(transform(c, e => concat(segs(e, et): _*))),
                array().cast(ArrayType(tt))))
            else Seq.empty
          case _ => Seq.empty
        }
        case _ => Seq.empty
      }
      // whole-row base: the root "object" is the row itself — materialized
      // as a struct of the row's columns so segs encodes the pre-order
      // rules exactly ONCE (Catalyst's SimplifyExtractValueOps collapses
      // CreateStruct(...).getField back to the plain columns)
      val parts = segs(namesCol(baseNames), baseDt)
      if (parts.isEmpty) return None
      val all = if (parts.length == 1) parts.head else concat(parts: _*)
      Some(TCol(emptyAsNull(filter(all, x => x.isNotNull)), ArrayType(tt)))
    }

    /** `value.a.*` — compiled terminal wildcard (B4). The engine's `*` over
      * an object emits, in field order, each field VALUE with arrays (and
      * nested arrays) spliced flat; over an array it maps that rule across
      * the element objects; structs emit as single items; scalars yield
      * undefined. Over a static schema the field set is enumerable at
      * compile time — the single-level case of the `**` machinery — so the
      * wildcard compiles to a concat of per-field segments, then
      * emptyAsNull. Null handling is rowToJson's codec contract, NOT the
      * `**` tier's blanket filter, because a terminal `*` has no trailing
      * name step to drop non-objects: a NULL scalar/struct/array FIELD is
      * an ABSENT key (rowToJson omits it — emit nothing), while a null
      * ARRAY ELEMENT is an explicit JSON null the engine emits as an item
      * (kept, including a null inner array in a nested splice, which the
      * engine also emits as one null item). A MAP base (`value.attrs.*` —
      * the schemaless-envelope case) compiles to map_values: rowToJson
      * writes map entries in MapData order with EXPLICIT nulls for null
      * values (unlike struct fields), so map_values' order and kept nulls
      * are both exact; array-typed map values splice deep like struct
      * fields, except a null ARRAY VALUE is an explicit null item (object
      * value null), not an absent key. Gates (fall back, never compile
      * wrongly): exactly one `*`, LAST step or one trailing name,
      * value-rooted plain names before it; every emitted leaf must agree
      * on the normalized type (integrals widen to long, integral+float
      * widens to double — the `**` rules; identical struct types allowed,
      * mixed ones not); a MapType FIELD value or map-leafed array falls
      * back (an emitted object item — not modeled among struct segments);
      * an array base needs struct elements (all-scalar elements emit
      * nothing in the engine). */
    /** The non-array leaf of a (possibly nested) array type. */
    private def wcStructLeafOf(at: ArrayType): DataType = at.elementType match {
      case inner: ArrayType => wcStructLeafOf(inner)
      case other => other
    }

    /** The RAW target-field types `base.*.f` touches over a struct base —
      * scalar occurrences contribute themselves, ArrayType occurrences are
      * returned AS arrays (the caller maps to element types for unify; the
      * $join consumer uses the rawness to exclude splicing targets, whose
      * kept null elements break its null-free claim). None = out of the
      * subset (map-typed anywhere). Class-level because the $join consumer
      * must ask the same question compileWildcardPath answers. */
    private def wcNameOccs(st: StructType, f: String): Option[Seq[DataType]] =
      st.fields.toSeq.foldLeft(Option(Seq.empty[DataType])) {
        case (None, _) => None
        case (Some(acc), fd) => fd.dataType match {
          case _: MapType => None // emitted object with dynamic keys
          case s2: StructType => s2.fields.find(_.name == f) match {
            case None => Some(acc) // key absent: emits nothing
            case Some(tf) => tf.dataType match {
              case _: MapType => None
              case at2: ArrayType => wcStructLeafOf(at2) match {
                case _: MapType => None
                case _ => Some(acc :+ at2)
              }
              case dt => Some(acc :+ dt)
            }
          }
          case at: ArrayType => wcStructLeafOf(at) match {
            case _: MapType => None
            case s2: StructType => s2.fields.find(_.name == f) match {
              case None => Some(acc)
              case Some(tf) => tf.dataType match {
                case _: MapType => None
                case at2: ArrayType => wcStructLeafOf(at2) match {
                  case _: MapType => None
                  case _ => Some(acc :+ at2)
                }
                case dt => Some(acc :+ dt)
              }
            }
            case _ => Some(acc) // scalar items: the name step skips them
          }
          case _ => Some(acc) // scalar field: skipped
        }
      }

    /** True iff `base.*.f` provably touches ONLY scalar f occurrences —
      * the $join consumer's null-free precondition: scalar-target segments
      * drop every null (absent keys), while an ARRAY-typed f keeps its
      * null elements (engine: explicit JSON nulls), which array_join
      * would silently skip where the engine raises. Conservative: false
      * whenever the base shape is out of the enumerable subset. */
    private def wcNameTargetScalarOnly(wsteps: Vector[Step]): Boolean = {
      val es = wsteps.map(_.expr)
      if (es.length < 3 || es(es.length - 2) != Wildcard()) return false
      val f = es.last match {
        case NameStep(n) => n
        case _ => return false
      }
      val baseNames = valueNames(es.dropRight(2)).getOrElse(return false)
      def scalarOccs(st: StructType): Boolean =
        wcNameOccs(st, f).exists(os =>
          os.nonEmpty && os.forall(!_.isInstanceOf[ArrayType]))
      fieldType(baseNames) match {
        case Some(st: StructType) => scalarOccs(st)
        case Some(ArrayType(et: StructType, _)) => scalarOccs(et)
        case Some(mt: MapType) => mt.valueType match {
          case s2: StructType => s2.fields.find(_.name == f).exists(tf =>
            !tf.dataType.isInstanceOf[ArrayType] && !tf.dataType.isInstanceOf[MapType])
          case _ => false
        }
        case _ => false
      }
    }

    private def compileWildcardPath(steps: Vector[Step]): Option[TCol] = {
      val es = steps.map(_.expr)
      if (inLambda) return None
      if (es.count(_ == Wildcard()) != 1) return None
      // terminal `base.*`, or `base.*.f` with exactly ONE trailing name —
      // the name step maps over the emitted items, dropping non-objects and
      // absent keys (so a global null filter is exact there, the `**`
      // argument); ARRAY-typed targets splice per the name step's one-level
      // flatten — not modeled, interpreted (compileDescendantPath's gate)
      val target: Option[String] = es.last match {
        case Wildcard() => None
        case NameStep(n) if es(es.length - 2) == Wildcard() => Some(n)
        case _ => return None
      }
      val wi = if (target.isEmpty) es.length - 1 else es.length - 2
      val baseNames = valueNames(es.take(wi)).getOrElse(return None)
      val baseDt = fieldType(baseNames).getOrElse(return None)
      val base = namesCol(baseNames)

      // the type an array field's splice emits (None = a map leaf: fall back)
      def leafType(dt: DataType): Option[DataType] = dt match {
        case ArrayType(et, _) => leafType(et)
        case _: MapType => None
        case other => Some(other)
      }
      def fieldTypes(st: StructType): Option[Seq[DataType]] =
        st.fields.toSeq.foldLeft(Option(Seq.empty[DataType])) {
          case (None, _) => None
          case (Some(acc), f) => f.dataType match {
            case _: MapType => None
            case at: ArrayType => leafType(at).map(acc :+ _)
            case dt => Some(acc :+ dt)
          }
        }
      // arrays splice FLAT, however deep the nesting (evalWildcard's flat);
      // a null INNER array is an explicit null element of its parent — the
      // engine emits it as one null item, so it becomes array(null) here
      // (flatten itself would return null on a null element and poison the
      // whole field's splice)
      def flattened(c: Column, at: ArrayType, tt: DataType): Column =
        at.elementType match {
          case inner: ArrayType =>
            flatten(transform(c, e => coalesce(
              flattened(e, inner, tt),
              array(lit(null).cast(tt)))))
          case _ => c.cast(ArrayType(tt))
        }
      // per-field segments: scalar/struct fields null-filter individually
      // (a when(isNotNull) CASE — codegen-friendly, no lambda; measured
      // ~2x the throughput of one filter(array(all fields)) whose
      // LambdaFunction blocks codegen and subexpression reuse)
      def structSegs(c: Column, st: StructType, tt: DataType): Seq[Column] =
        st.fields.toSeq.map { f =>
          f.dataType match {
            case at: ArrayType => coalesce(
              flattened(c.getField(f.name), at, tt),
              array().cast(ArrayType(tt)))
            case _ =>
              val v = c.getField(f.name).cast(tt)
              when(v.isNotNull, array(v)).otherwise(array().cast(ArrayType(tt)))
          }
        }
      def emit(all: Column, tt: DataType): TCol =
        TCol(emptyAsNull(all), ArrayType(tt))

      // ---- `base.*.f` machinery: the name step maps over the emitted
      // items, so only struct-typed emissions with key f contribute. Each
      // segment filters its own nulls EXACTLY per origin: a null scalar f
      // (or a null/absent item) is an absent key — dropped, like the
      // engine — while an ARRAY-typed f splices its elements ONE level
      // (sequence flattening) and a null ELEMENT there is an explicit JSON
      // null the engine KEEPS as an item. A single global null filter (the
      // round-12 shape) would conflate the two, which is why array-typed
      // targets were interpreted until the per-segment rework.
      def extractF(c: Column, at: ArrayType, f: String, tt: DataType,
                   fArr: Boolean): Column =
        at.elementType match {
          case inner: ArrayType =>
            flatten(transform(c, e =>
              coalesce(extractF(e, inner, f, tt, fArr), array().cast(ArrayType(tt)))))
          case _ =>
            if (fArr)
              // one-level splice per item; null item / null f -> nothing,
              // null ELEMENTS of f kept
              flatten(transform(c, e =>
                coalesce(e.getField(f).cast(ArrayType(tt)), array().cast(ArrayType(tt)))))
            else
              // scalar f: null item / null f = absent key -> dropped
              filter(transform(c, e => e.getField(f).cast(tt)), x => x.isNotNull)
        }
      def nameSegs(c: Column, st: StructType, f: String, tt: DataType): Seq[Column] =
        st.fields.toSeq.flatMap { fd =>
          fd.dataType match {
            case s2: StructType => s2.fields.find(_.name == f).map { tf =>
              tf.dataType match {
                case _: ArrayType =>
                  coalesce(c.getField(fd.name).getField(f).cast(ArrayType(tt)),
                    array().cast(ArrayType(tt)))
                case _ =>
                  val v = c.getField(fd.name).getField(f).cast(tt)
                  when(v.isNotNull, array(v)).otherwise(array().cast(ArrayType(tt)))
              }
            }
            case at: ArrayType => wcStructLeafOf(at) match {
              case s2: StructType => s2.fields.find(_.name == f).map { tf =>
                coalesce(
                  extractF(c.getField(fd.name), at, f, tt,
                    tf.dataType.isInstanceOf[ArrayType]),
                  array().cast(ArrayType(tt)))
              }
              case _ => None
            }
            case _ => None
          }
        }

      (baseDt, target) match {
        case (st: StructType, None) if st.fields.nonEmpty =>
          for {
            occs <- fieldTypes(st)
            tt <- unifyNumeric(occs)
          } yield emit(concat(structSegs(base, st, tt): _*), tt)
        case (ArrayType(et: StructType, _), None) if et.fields.nonEmpty =>
          for {
            occs <- fieldTypes(et)
            tt <- unifyNumeric(occs)
          } yield {
            val all = coalesce(
              flatten(transform(base, e => concat(structSegs(e, et, tt): _*))),
              array().cast(ArrayType(tt)))
            emit(all, tt)
          }
        // the schemaless-envelope case: a MAP base's `*` is map_values —
        // rowToJson writes map entries in MapData order with EXPLICIT
        // nulls (unlike struct fields), so order and kept null items are
        // both exact; array values splice deep, a null ARRAY VALUE is one
        // null item (an object value null, not an absent key)
        case (mt: MapType, None) if mt.keyType == StringType && baseNames.nonEmpty =>
          mt.valueType match {
            case _: MapType => None // object items: not modeled (field-map rule)
            case at: ArrayType =>
              for {
                lt <- leafType(at)
                tt <- unifyNumeric(Seq(lt))
              } yield emit(flatten(transform(map_values(base), v =>
                coalesce(flattened(v, at, tt), array(lit(null).cast(tt))))), tt)
            case vt =>
              unifyNumeric(Seq(vt)).map(tt => emit(map_values(base).cast(ArrayType(tt)), tt))
          }
        case (st: StructType, Some(f)) =>
          for {
            occs <- wcNameOccs(st, f)
            if occs.nonEmpty
            tt <- unifyNumeric(occs.map {
              case at: ArrayType => at.elementType // one-level splice items
              case dt => dt
            })
          } yield emit(concat(nameSegs(base, st, f, tt): _*), tt)
        case (ArrayType(et: StructType, _), Some(f)) =>
          // the wildcard emits each element-struct's field VALUES; the name
          // step then applies to those values per element
          for {
            occs <- wcNameOccs(et, f)
            if occs.nonEmpty
            tt <- unifyNumeric(occs.map {
              case at: ArrayType => at.elementType
              case dt => dt
            })
          } yield {
            val all = coalesce(
              flatten(transform(base, e => concat(nameSegs(e, et, f, tt): _*))),
              array().cast(ArrayType(tt)))
            emit(all, tt)
          }
        // map base + name target: the name step maps over the map VALUES
        // (struct values with key f contribute; null values and absent
        // keys drop; array-typed f splices one level with elements kept)
        case (mt: MapType, Some(f)) if mt.keyType == StringType && baseNames.nonEmpty =>
          mt.valueType match {
            case s2: StructType =>
              s2.fields.find(_.name == f).flatMap { tf =>
                val raw = tf.dataType
                val ok = raw match {
                  case _: MapType => false
                  case at2: ArrayType => !wcStructLeafOf(at2).isInstanceOf[MapType]
                  case _ => true
                }
                if (!ok) None
                else unifyNumeric(Seq(raw match {
                  case at2: ArrayType => at2.elementType
                  case dt => dt
                })).map { tt =>
                  val all = raw match {
                    case _: ArrayType => flatten(transform(map_values(base), v =>
                      coalesce(v.getField(f).cast(ArrayType(tt)),
                        array().cast(ArrayType(tt)))))
                    case _ => filter(transform(map_values(base),
                      v => v.getField(f).cast(tt)), x => x.isNotNull)
                  }
                  emit(all, tt)
                }
              }
            case _ => None
          }
        case _ => None
      }
    }

    /** Constant-fold comparisons of the key parameter against string literals
      * for ONE field (the key is statically known per field), then fold
      * conditionals whose condition became a literal. This is what lets a
      * heterogeneous struct compile bodies like `$k = 'n' ? $v : 0`: the
      * engine's ternary is lazy, so folding the untaken branch away is exact —
      * while `and`/`or` operands are BOTH evaluated by the engine and are
      * therefore never dropped (a non-compiling operand still forces the
      * interpreted tier, preserving any engine type error). Does not descend
      * into nested lambdas (parameter shadowing). */
    private def foldKey(a: Ast, k: String, name: String): Ast = {
      def kRef(x: Ast): Boolean = x match {
        case VarRef(`k`) => true
        case Path(Vector(Step(VarRef(`k`), Vector(), false, None, None)), false, None) => true
        case _ => false
      }
      def go(x: Ast): Ast = x match {
        case Binary(op @ ("=" | "!="), l, r) =>
          val litKey = (l, r) match {
            case (lk, StrLit(s)) if kRef(lk) => Some(s)
            case (StrLit(s), rk) if kRef(rk) => Some(s)
            case _ => None
          }
          litKey match {
            case Some(s) => BoolLit(if (op == "=") name == s else name != s)
            case None => Binary(op, go(l), go(r))
          }
        case Binary("in", lk, ArrCtor(items))
            if kRef(lk) && items.nonEmpty && items.forall(_.isInstanceOf[StrLit]) =>
          BoolLit(items.exists { case StrLit(s) => s == name; case _ => false })
        case Binary(op, l, r) => (op, go(l), go(r)) match {
          case ("and", BoolLit(bl), BoolLit(br)) => BoolLit(bl && br)
          case ("or", BoolLit(bl), BoolLit(br)) => BoolLit(bl || br)
          case (_, gl, gr) => Binary(op, gl, gr)
        }
        case Cond(c, t, e) => go(c) match {
          case BoolLit(true) => go(t)
          case BoolLit(false) if e.isDefined => go(e.get)
          case gc => Cond(gc, go(t), e.map(go))
        }
        case Call(p, as) => Call(p, as.map(go))
        case UnaryMinus(e) => UnaryMinus(go(e))
        case other => other
      }
      go(a)
    }

    /** `$sift(structObj, function($v[, $k[, $o]]){bool})` — per-field keep
      * flags. The lambda body must compile to a static boolean for EVERY
      * field (after per-field key folding); fSift's general truthiness on
      * non-boolean results stays interpreted, exactly like $filter. The
      * 3-arg form binds `$o` to the struct BRIDGED as a map column
      * ([[bridgeStructAsMap]]) — possible only when the field types unify;
      * heterogeneous structs stay interpreted (their conditional field
      * presence has no single-column `$o` encoding). The per-field bodies
      * are plain columns (no HOF lambda), so repeated `$o` subtrees across
      * fields are shared by whole-stage codegen's subexpression elimination
      * rather than the arity-3 HOF hoist. */
    private def compileStructSift(args: Seq[Ast]): Option[Seq[VField]] = args match {
      case Seq(objA, Lambda(params, body, _)) if params.nonEmpty && params.length <= 3 =>
        compileStructObj(objA).flatMap { fields =>
          val oBind: Option[Seq[(String, TCol)]] = params.lift(2) match {
            case None => Some(Nil)
            case Some(p3) => bridgeStructAsMap(fields).map(tc => Seq(p3 -> tc))
          }
          oBind.flatMap { ob =>
            val kept = fields.map { f =>
              val folded = params.lift(1).map(foldKey(body, _, f.name)).getOrElse(body)
              bound(fieldBindings(params.take(2), f) ++ ob)(compile(folded)) match {
                case Some(TCol(c, BooleanType)) =>
                  Some(f.copy(keep = f.keep && coalesce(c, lit(false))))
                case _ => None
              }
            }
            if (kept.forall(_.isDefined)) Some(kept.map(_.get)) else None
          }
        }
      case _ => None
    }

    /** The struct object AS a map column — the faithful `$o` for arity-3
      * struct-$sift: an entry exists only for a PRESENT (kept) field, so
      * absent keys behave exactly like the engine's key-absent object.
      * Possible only when the field types share one atomic type or unify
      * numerically (observation-equivalent inside the compiled subset,
      * where numbers compare and compute in double space on both tiers);
      * anything heterogeneous returns None and the query stays on the
      * interpreter. */
    private def bridgeStructAsMap(fields: Seq[VField]): Option[TCol] = {
      val vt = fields.map(_.dt).distinct match {
        case Seq(one) if simpleAtomic(one) => one
        case many if many.nonEmpty && many.forall(d => simpleAtomic(d) && isNum(d)) =>
          if (many.forall(isIntegral)) LongType else DoubleType
        case _ => return None
      }
      val st = StructType(Seq(StructField("key", StringType, nullable = false),
        StructField("value", vt)))
      val entries = fields.map { f =>
        when(f.keep, struct(lit(f.name).as("key"), f.col.cast(vt).as("value")))
          .otherwise(lit(null).cast(st))
      }
      Some(TCol(map_from_entries(filter(array(entries: _*), e => e.isNotNull)),
        MapType(StringType, vt)))
    }

    /** An empty array/map result becomes SQL NULL: the engine's empty
      * sequence (and fSift's empty-object undef) IS undefined, and NULL is
      * the compiled tier's undefined — so downstream $count gives 0, $sum/
      * $join give null, on BOTH tiers. */
    private def emptyAsNull(c: Column): Column = when(size(c) > 0, c)

    /** `$keys(obj)` — present keys in insertion order (= schema order for a
      * struct, entry order for a map; the engine's envelope objects preserve
      * exactly that order). No present keys → undefined (see emptyAsNull). */
    private def compileKeys(args: Seq[Ast]): Option[TCol] = args match {
      case Seq(objA) =>
        compileStructObj(objA).map { fields =>
          val empty = array().cast(ArrayType(StringType))
          val parts = fields.map(f => when(f.keep, array(lit(f.name))).otherwise(empty))
          TCol(emptyAsNull(concat(parts: _*)), ArrayType(StringType))
        }.orElse {
          compile(objA).collect { case TCol(c, MapType(StringType, _, _)) =>
            TCol(emptyAsNull(map_keys(c)), ArrayType(StringType))
          }
        }
      case _ => None
    }

    /** `$lookup(obj, 'key')` — struct objects need a literal key (the field
      * set is static); map objects accept any compiled string key
      * (element_at's NULL on absent key is exactly "undefined"). A literal key
      * absent from the struct is engine-undefined with no static type — that
      * stays interpreted rather than guessing a null type. */
    private def compileLookup(args: Seq[Ast]): Option[TCol] = args match {
      case Seq(objA, keyA) =>
        (compileStructObj(objA), keyA) match {
          case (Some(fields), StrLit(k)) =>
            fields.find(_.name == k).map(f => TCol(when(f.keep, f.col), f.dt))
          case _ =>
            for {
              m <- compile(objA)
              vt <- m.dt match { case MapType(StringType, v, _) => Some(v); case _ => None }
              kc <- compile(keyA) if kc.dt == StringType
            } yield TCol(element_at(m.col, kc.col), vt)
        }
      case _ => None
    }

    /** A map entry's ($v[, $k]) lambda params: the value, then the key. */
    private def entryParams(params: Vector[String], vt: DataType): Seq[(String, DataType)] =
      Seq(params.head -> vt) ++ params.lift(1).map(_ -> StringType)

    /** `$sift(map, function($v[, $k]){bool})` → native map_filter — the
      * map-typed twin of [[compileStructSift]] (maps arise from the compiled
      * `{}` group-by). An empty result is fSift's undef (see emptyAsNull). */
    private def compileMapSift(args: Seq[Ast]): Option[TCol] = args match {
      // arity <= 3: fSift passes (value, key, WHOLE OBJECT) — for a map
      // object the third binding is simply the map column itself (struct
      // objects bridge to a map when their field types unify — see
      // compileStructSift/bridgeStructAsMap — and stay interpreted
      // otherwise). $o-only subtrees are hoisted once per row, same as the
      // arity-3 array HOFs.
      case Seq(objA, Lambda(params, body0, _)) if params.nonEmpty && params.length <= 3 =>
        compile(objA).flatMap { t =>
          t.dt match {
            case MapType(StringType, vt, _) =>
              def build(b: Ast, extra: Seq[(String, TCol)]): Option[TCol] =
                bodyFn(entryParams(params, vt), params.lift(2).map(_ -> t).toSeq ++ extra, b)
                  .collect { case (bf, BooleanType) =>
                    TCol(emptyAsNull(map_filter(t.col,
                      (k, v) => coalesce(bf(Seq(v, k)), lit(false)))), t.dt)
                  }
              if (params.length < 3) build(body0, Nil)
              else {
                val (body2, hoists) =
                  hoistInvariant(body0, params.take(2).toSet, params(2))
                withHoisted(body2, body0, hoists, params(2) -> t, build)
              }
            case _ => None
          }
        }
      case _ => None
    }

    /** `$each(obj, function($v[, $k]){...})` — body results over present
      * fields/entries in order, engine-style: undefined body results are
      * dropped (fEach skips nulls). Struct objects need all per-field body
      * types to agree (one JSONata integer space); map objects compile the
      * body once against the value type. */
    private def compileEach(args: Seq[Ast]): Option[TCol] = args match {
      case Seq(objA, Lambda(params, body, _)) if params.nonEmpty && params.length <= 2 =>
        compileStructObj(objA).flatMap { fields =>
          val bodies = fields.map { f =>
            val folded = params.lift(1).map(foldKey(body, _, f.name)).getOrElse(body)
            bound(fieldBindings(params, f))(compile(folded))
          }
          if (!bodies.forall(_.isDefined)) None
          else {
            val ts = bodies.map(_.get)
            ts.map(tc2dt).distinct match {
              case Seq(dt) =>
                val empty = array().cast(ArrayType(dt))
                val parts = fields.zip(ts).map { case (f, t) =>
                  when(f.keep, array(t.col.cast(dt))).otherwise(empty)
                }
                Some(TCol(emptyAsNull(filter(concat(parts: _*), x => x.isNotNull)),
                  ArrayType(dt)))
              case _ => None
            }
          }
        }.orElse {
          compile(objA).flatMap { t =>
            t.dt match {
              case MapType(StringType, vt, _) =>
                bodyFn(entryParams(params, vt), Nil, body).map { case (bf, bt) =>
                  val arr = transform(map_entries(t.col), e =>
                    bf(Seq(e.getField("value"), e.getField("key"))))
                  TCol(emptyAsNull(filter(arr, x => x.isNotNull)), ArrayType(bt))
                }
              case _ => None
            }
          }
        }
      case _ => None
    }

    /** `$reduce(array, function($acc, $v){...}, init)` → native `aggregate`.
      * Only the 3-arg (explicit init) form with an inline arity-2 lambda
      * compiles: without an init the engine seeds from the first element
      * (shape-dependent), and higher arities take ($i, $a). Spark's
      * `aggregate` requires merge-result type == seed type, so the body is
      * probed with the init's type first and, on a numeric mismatch (e.g.
      * integer seed folded over doubles — the engine promotes), re-probed
      * with both seed and accumulator widened to double. A SQL NULL input
      * array gives NULL on both tiers (to the engine it is a JSON null
      * VALUE, whose fold type-errors to undefined — not an absent input,
      * which would return the init; DataFrame inputs cannot express
      * "absent", so `aggregate`'s NULL propagation is exact parity).
      * Shared pinned divergence classes of the compiled HOFs apply
      * (JSON-null elements, singleton collapse — see compileHof). */
    private def compileReduce(args: Seq[Ast]): Option[TCol] = args match {
      // init must be a non-null LITERAL: the engine cannot distinguish an
      // absent init from one that EVALUATES to undefined (both re-seed from
      // the first element), so a runtime-nullable init expression would
      // diverge from aggregate's null seed
      case Seq(arrA, Lambda(Vector(pa, px), body, _), initA @ (NumLit(_) | StrLit(_) | BoolLit(_) |
          UnaryMinus(NumLit(_)))) =>
        compile(arrA).flatMap { t =>
          t.dt match {
            case ArrayType(et, _) =>
              compile(initA).flatMap { init =>
                def tryAcc(accT: DataType, initCol: Column): Option[TCol] =
                  bodyFn(Seq(pa -> accT, px -> et), Nil, body).collect {
                    case (bf, bt) if bt == accT =>
                      TCol(aggregate(t.col, initCol, (acc, x) => bf(Seq(acc, x))), accT)
                  }
                tryAcc(init.dt, init.col).orElse {
                  if (isNum(init.dt)) tryAcc(DoubleType, init.col.cast(DoubleType))
                  else None
                }
              }
            case _ => None
          }
        }
      case _ => None
    }

    /** Number (non-decimal) or string — the types whose Spark ordering and
      * arithmetic provably match the engine's (decimals stay interpreted:
      * the engine compares them through doubleValue, lossy past 2^53). */
    private def simpleAtomic(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           StringType => true
      case _ => false
    }

    /** Element-context key extractor: `$` (the element itself) or a field of a
      * struct element. Returns the per-element Column builder + static type. */
    private def elemKey(term: Ast, et: DataType): Option[(Column => Column, DataType)] =
      term match {
        case VarRef("") if simpleAtomic(et) => Some(((e: Column) => e, et))
        case other => relField(other).flatMap { f =>
          et match {
            case st: StructType => st.fields.find(_.name == f)
              .filter(fl => simpleAtomic(fl.dataType))
              .map(fl => (((e: Column) => e.getField(f)), fl.dataType))
            case _ => None
          }
        }
      }

    /** `value.arr[pred]` / `value.arr[n]` — predicate and index stages on
      * the FINAL step of a plain value-rooted array path (B2/B3 on the
      * compiled tier — the language's most common idiom). Boolean predicates
      * compile like $filter bodies but with the CONTEXT bound: `$` is the
      * element and bare field names resolve against struct elements (the
      * context mode of [[lambdaPath]]); an undefined/non-true predicate
      * drops the item (coalesce false), and a survivor-less result is the
      * engine's empty sequence = undefined (emptyAsNull). An INTEGRAL
      * LITERAL stage is an index: the value floors (engine Math.floor —
      * [-0.5] is the last element), negatives wrap from the end, out of
      * range is undefined (`get`'s NULL), and the result is the collapsed
      * ELEMENT — indexing collapses the singleton at the stage boundary in
      * the engine, so this is exact, not the pinned HOF singleton class.
      * Stage lists apply left-to-right; an index must be the last stage
      * (stages over a scalar re-wrap as a singleton in the engine — not
      * modeled). TRAILING NAVIGATION after the staged step compiles too:
      * after an index, plain field access on the collapsed element
      * (getField — undefined propagates); after predicates, each name maps
      * over the survivors with engine path semantics (undefined results
      * drop; empty = undefined), and an ARRAY-typed field spreads its
      * elements into the sequence (one-level flatten per navigation step,
      * null results filtered before the flatten). String-typed predicates
      * compile as truthiness (non-empty keeps). When the staged step
      * navigates an array-typed FIELD of the preceding array's struct
      * elements (`items.tags[0]` — Shape B below), stages apply PER INPUT
      * ITEM exactly like the engine's evalStep: an index collapses each
      * element's array (the canonical a.b[0] idiom) and predicate
      * survivors flatten; staged TRAILING steps chain the same way
      * (`items[p].tags[0]` — Shape A filter then Shape B per element, and
      * on a collapsed element the field's stages apply directly).
      * Array/object truthiness predicates, number-VALUED dynamic predicate
      * expressions (data-dependent index semantics), sort/index-binding
      * stages, per-element stages on non-array fields (engine singleton
      * re-wrap), array-of-array index collapse, and mid-path surviving
      * sequences after a collapsed element stay interpreted. */
    private def compileStagedPath(steps: Vector[Step]): Option[TCol] = {
      val si = steps.indexWhere(_.stages.nonEmpty)
      if (si < 0) return None
      val staged = steps(si)
      if (staged.focus.isDefined || staged.index.isDefined || staged.keepArray) return None
      if (!staged.stages.forall(_.isInstanceOf[FilterStage])) return None
      // trailing steps are plain names, optionally with their OWN stage
      // lists (`items[p].tags[0]` — applied per element, Shape B below)
      val trailing = steps.drop(si + 1)
      if (!trailing.forall(s => !s.keepArray && s.focus.isEmpty && s.index.isEmpty &&
        s.expr.isInstanceOf[NameStep] && s.stages.forall(_.isInstanceOf[FilterStage])))
        return None
      // Shape A: the staged step's input is ONE array (scalar navigation up
      // to it) — stages apply to the whole array, the engine's single
      // context item. The parent (`%`) of the staged elements is the object
      // the staged step mapped over: the value root for `value.items[..]`,
      // the navigated struct for `value.a.items[..]` — a single known
      // column, so Shape-A predicates may compile `%` references.
      arrayValuePath(steps.take(si) :+ staged.copy(stages = Vector.empty)) match {
        case Some((arr0, at)) =>
          val parentNames = steps.take(si).map(_.expr)
            .collect { case NameStep(n) => n }.drop(1) // strip the `value` root
          val parent: Option[TCol] =
            if (parentNames.isEmpty)
              Some(TCol(namesCol(Nil), schema))
            else fieldType(parentNames).collect {
              case st: StructType => TCol(col(parentNames.mkString(".")), st)
            }
          runFilterStages(arr0, at, staged.stages, parent) match {
            case None => None
            case Some(Left(sc)) => trailingOnScalar(sc, trailing)
            case Some(Right(arr)) => trailingOnArray(arr, at.elementType, trailing, at)
          }
        // Shape B: the staged step navigates an ARRAY-typed FIELD of the
        // preceding array's struct elements (`items.tags[0]`) — the engine
        // applies stages PER INPUT ITEM (evalStep), so an index means "of
        // EACH element's array" (the canonical a.b[0] JSONata idiom), and
        // predicate survivors flatten one level like any navigation result.
        // Undefined (null) per-element results drop before the flatten.
        case None =>
          if (si == 0) return None
          val f = staged.expr match { case NameStep(n) => n; case _ => return None }
          arrayValuePath(steps.take(si)).flatMap { case (arr0, at) =>
            at.elementType match {
              case st: StructType =>
                perElementField(arr0, st, f, staged.stages).flatMap { case (seq, et) =>
                  trailingOnArray(seq, et, trailing, ArrayType(et))
                }
              case _ => None
            }
          }
      }
    }

    /** Shape B: apply a stage list to the array-typed field `f` of EACH
      * struct element of `arr0` (the engine's per-input-item evalStep) —
      * `items.tags[0]` collapses each element's array, predicate survivors
      * flatten one level; undefined (null) per-element results drop before
      * the flatten. Index collapse over array-of-array elements would need
      * a further spread — interpreted. Returns the new sequence + its
      * element type. */
    private def perElementField(arr0: Column, elemSt: StructType, f: String,
                                stages: Vector[Stage]): Option[(Column, DataType)] =
      elemSt.fields.find(_.name == f).flatMap { fl =>
        fl.dataType match {
          case ft: ArrayType if !ft.elementType.isInstanceOf[ArrayType] =>
            runFilterStages(lit(null).cast(ft), ft, stages).map { probe =>
              def perElem(e: Column): Column =
                runFilterStages(e.getField(f), ft, stages).get match {
                  case Left(tc) => tc.col
                  case Right(arr) => arr
                }
              val kept = filter(transform(arr0, e => perElem(e)), x => x.isNotNull)
              val seq = probe match {
                case Left(_) => kept           // one collapsed value per element
                case Right(_) => flatten(kept) // per-element survivors spread
              }
              (seq, ft.elementType)
            }
          case _ => None
        }
      }

    /** Trailing plain-name navigation on an index-collapsed element. A
      * staged trailing step here (`items[0].tags[0]`) applies its stages
      * to the single element's field — the Filtered shape over one item. */
    private def trailingOnScalar(sc0: TCol, trailing: Vector[Step]): Option[TCol] =
      trailing.zipWithIndex.foldLeft(Option(sc0)) {
        case (Some(acc), (st, i)) =>
          val NameStep(f) = st.expr: @unchecked
          acc.dt match {
            case s2: StructType if st.stages.isEmpty =>
              s2.fields.find(_.name == f)
                .map(fl => TCol(acc.col.getField(f), fl.dataType))
            case s2: StructType =>
              s2.fields.find(_.name == f).flatMap(fl => fl.dataType match {
                case ft: ArrayType =>
                  runFilterStages(acc.col.getField(f), ft, st.stages).flatMap {
                    case Left(sc) => Some(sc)
                    case Right(arr) =>
                      // a surviving ARRAY mid-path would need the sequence
                      // machinery; as the FINAL step it is the result
                      if (i == trailing.length - 1)
                        Some(TCol(emptyAsNull(arr), ft))
                      else None
                  }
                case _ => None
              })
            case _ => None
          }
        case (none, _) => none
      }

    /** Trailing plain-name navigation mapped over a survivor sequence,
      * dropping engine-undefined (NULL) results; an ARRAY-typed field
      * spreads its elements into the result sequence (engine path
      * navigation flattens one level per step) — null results must be
      * filtered BEFORE flatten, which would otherwise null the whole
      * sequence. `bare` is the result type when there is no trailing step. */
    private def trailingOnArray(arr0: Column, et0: DataType, trailing: Vector[Step],
                                bare: DataType): Option[TCol] = {
      var cur = arr0
      var et = et0
      trailing.foreach { st =>
        val NameStep(f) = st.expr: @unchecked
        et match {
          case s2: StructType if st.stages.nonEmpty =>
            // staged trailing step: stages apply per element (Shape B)
            perElementField(cur, s2, f, st.stages) match {
              case Some((seq, inner)) => cur = seq; et = inner
              case None => return None
            }
          case s2: StructType => s2.fields.find(_.name == f) match {
            case Some(fl) => fl.dataType match {
              case ArrayType(inner, _) =>
                cur = flatten(filter(transform(cur, e => e.getField(f)), x => x.isNotNull))
                et = inner
              case other =>
                cur = filter(transform(cur, e => e.getField(f)), x => x.isNotNull)
                et = other
            }
            case None => return None
          }
          case _ => return None
        }
      }
      Some(TCol(emptyAsNull(cur), if (trailing.isEmpty) bare else ArrayType(et)))
    }

    /** The FilterStage loop shared by [[compileStagedPath]] (stages on a
      * path step) and the Filtered case (stages on a non-path base like
      * `$split(..)[pred]`): boolean/string-truthiness predicates filter in
      * order; an integral LITERAL stage indexes (floored value, negative
      * wrap, out-of-range undefined) and must be last — the engine
      * re-wraps a scalar as a singleton for later stages, which is not
      * modeled. Returns Left(collapsed element) after an index,
      * Right(surviving array) otherwise; the CALLER applies emptyAsNull
      * (and any trailing navigation) to the array form. */
    private def runFilterStages(arr0: Column, at: ArrayType,
                                stages: Vector[Stage],
                                parent: Option[TCol] = None): Option[Either[TCol, Column]] = {
      val et = at.elementType
      var cur = arr0
      var scalar: Option[TCol] = None
      stages.foreach {
        case _ if scalar.isDefined => return None // stages after an index
        case FilterStage(ix @ (NumLit(_) | UnaryMinus(NumLit(_)))) =>
          val signed = ix match {
            case NumLit(v) => v.doubleValue()
            case UnaryMinus(NumLit(v)) => -v.doubleValue()
            case _ => return None
          }
          if (!java.lang.Double.isFinite(signed) ||
            math.abs(signed) > Int.MaxValue.toDouble) return None
          val idx = math.floor(signed).toLong
          val gidx = if (idx >= 0) lit(idx.toInt) else (size(cur) + lit(idx.toInt))
          scalar = Some(TCol(get(cur, gidx), et))
        case FilterStage(pred) =>
          compilePredicate(pred, et, parent) match {
            case Some(pf) => cur = filter(cur, e => coalesce(pf(e), lit(false)))
            case None => return None
          }
        case _ => return None
      }
      Some(scalar.toLeft(cur))
    }

    /** A bracket-predicate body compiled against the context element type:
      * the "" env key carries the element so `$` and bare field names
      * resolve per item (see lambdaPath's context mode). Statically-boolean
      * bodies compile directly; statically-STRING bodies compile as JSONata
      * truthiness (non-empty string keeps the item — undefined and the
      * empty string both drop, matching `truthy`'s textual branch, and a
      * string result can never hit the numeric index-selection path). The
      * engine's number-valued predicates select by index per item and
      * array/object truthiness differs structurally — those stay
      * interpreted. */
    private def compilePredicate(pred: Ast, et: DataType,
        parent: Option[TCol] = None): Option[Column => Column] =
      // `%` resolves ONLY when this stage's caller supplied the parent
      // (compileStagedPath Shape A — plain struct navigation, one level
      // up is a single known column). Every other site leaves it unbound
      // so a % inside nested/per-element/computed-base stages — where
      // the parent is a DIFFERENT object per element — falls back to the
      // interpreter (engine ancestry) instead of capturing a stale outer
      // binding.
      bodyFn(Seq("" -> et), parent.map("%" -> _).toSeq, pred, hide = Seq("%")).collect {
        case (pf, BooleanType) => (e: Column) => pf(Seq(e))
        case (pf, StringType) => (e: Column) => length(pf(Seq(e))) > lit(0)
      }

    /** A DYNAMIC (per-element computed) group-by key: any context-mode
      * compilable expression over the element that is STATICALLY a string —
      * the `code & '-' & region` / `$uppercase(region)` analytics idioms.
      * Generalizes [[elemKey]]'s member-field form. Static StringType is
      * the gate twice over: the engine raises T1003 on non-string keys
      * (statically non-string expressions stay interpreted to preserve the
      * error), and a statically-string compile can only produce string or
      * NULL at runtime — NULL keys are the engine's undefined-key skip.
      * `%` stays unbound, the compilePredicate rule: inside a per-element
      * context the parent is a different object per element.
      *
      * Why compile a shape that measures ~0.5× the interpreter standalone
      * (measured at 1M rows — nested HOFs are CodegenFallback):
      * TIER REACH. transformCompiled is all-or-nothing per expression, so
      * one group-by inside a wide otherwise-compiled projection would drag
      * every other field onto the interpreter — where those fields are the
      * 3-10× losses. Same status as the member-field group-by (also ~0.5×
      * standalone, same measurement). */
    private def ctxKey(kExpr: Ast, et: DataType): Option[Column => Column] =
      bodyFn(Seq("" -> et), Nil, kExpr, hide = Seq("%")).collect {
        case (kf, StringType) => (e: Column) => kf(Seq(e))
      }

    /** One sort term's comparison, the engine's: undefined keys last, and a
      * descending term negates the WHOLE comparison (null placement
      * included). */
    private def termCmp(ka: Column, kb: Column, desc: Boolean): Column = {
      val base = when(ka.isNull && kb.isNull, lit(0))
        .when(ka.isNull, lit(1)).when(kb.isNull, lit(-1))
        .when(ka < kb, lit(-1)).when(ka > kb, lit(1)).otherwise(lit(0))
      if (desc) base * lit(-1) else base
    }

    /** `value.arr^(t1, t2)` -> array_sort with an explicit comparator that
      * replicates the engine's term semantics exactly: undefined keys last
      * (first under `>`), term-major chaining, stable (both sides TimSort).
      * Pinned divergences, mirroring the class documented on the object: a
      * JSON-null ELEMENT raises T2008 in the engine but orders like undefined
      * here, and non-BMP string keys compare in UTF-8 code-point order
      * (UTF8String) vs Java's UTF-16 code-unit order. */
    private def compileSortedPath(steps: Vector[Step]): Option[TCol] = {
      val sortStep = steps.last
      if (sortStep.stages.nonEmpty || sortStep.focus.isDefined || sortStep.index.isDefined)
        return None
      val terms = sortStep.expr.asInstanceOf[SortOpNode].terms
      if (terms.isEmpty || terms.length > 2) return None
      arrayValuePath(steps.init).flatMap { case (arr, at) =>
        val keyed = terms.map(t => elemKey(t.expr, at.elementType).map(k => (k._1, t.descending)))
        if (keyed.exists(_.isEmpty)) None
        else {
          val ks = keyed.flatten
          val cmp = (a: Column, b: Column) => {
            val cs = ks.map { case (kf, desc) => termCmp(kf(a), kf(b), desc) }
            cs.reduceRight((c, acc) => when(c =!= 0, c).otherwise(acc))
          }
          // an empty sort result is the engine's empty SEQUENCE, not an
          // empty array — undefined downstream ($sum -> undefined, not 0;
          // found by the sort fuzz family)
          Some(TCol(emptyAsNull(array_sort(arr, cmp)), at))
        }
      }
    }

    /** `value.arr{key: agg}` -> map_from_entries over first-occurrence
      * distinct keys, replicating the engine's grouping exactly: items whose
      * key is undefined are skipped (the engine's silent `case null` branch),
      * groups evaluate the aggregate over their member sequence, and an
      * undefined aggregate omits the key (map_filter). A missing/empty input
      * array yields an EMPTY object in the engine — hence the coalesce.
      * Per-item (dynamic) keys compile single-pair only (multi-pair can
      * raise D1009 on key collisions across pairs, which must stay an
      * interpreter error); multi-pair compiles when every key is a LITERAL
      * string ([[compileLiteralKeyGroup]]). Key expressions must be
      * statically strings (non-string keys raise T1003). */
    /** Group-by base: the fast plain-path shape, or ANY compiled path whose
      * result is an array — which is what lets `{}` compose with the staged-
      * path compiler (`value.items[pred].p{...}`): the engine evaluates the
      * base sequence first and groups it, so grouping the compiled stage
      * output is exact (empty/undefined base → NULL column → the group-by's
      * coalesce renders the engine's empty object; a singleton survivor is
      * a 1-element array, and grouping a scalar is grouping its singleton). */
    private def groupBase(steps: Vector[Step]): Option[(Column, ArrayType)] =
      arrayValuePath(steps).orElse {
        compile(Path(steps, keepSingletonArray = false, group = None)) match {
          case Some(TCol(c, at: ArrayType)) => Some((c, at))
          case _ => None
        }
      }

    private def compileGroupPath(steps: Vector[Step], ctor: ObjCtor): Option[TCol] = {
      groupBase(steps).flatMap { case (arr, at) =>
        val et = at.elementType
        if (ctor.pairs.length != 1) compileLiteralKeyGroup(arr, et, ctor)
        else {
          val (kExpr, vExpr) = ctor.pairs.head
          // member-field keys take elemKey's direct extractor; any other
          // non-literal key tries the general context-mode compile (a
          // literal key routes to compileLiteralKeyGroup — same semantics,
          // cheaper plan: no per-key filter scans). A non-string member
          // key stays interpreted (engine T1003).
          val dynKf: Option[Column => Column] = elemKey(kExpr, et) match {
            case Some((kf, StringType)) => Some(kf)
            case Some(_) => None
            case None => kExpr match {
              case StrLit(_) => None
              case _ => ctxKey(kExpr, et)
            }
          }
          dynKf match {
            case Some(kf) =>
              compileGroupValue(vExpr, et).map { case (aggF, vt) =>
                // the key computes ONCE per element into a (k, v) pair
                // array; the per-key group filters re-read the stamped key
                // instead of re-evaluating kf — a computed key evaluated
                // per (key × element) measured 3× SLOWER than the
                // interpreter on concat keys (measured at 1M rows)
                val keyed = transform(arr, e => struct(kf(e).as("k"), e.as("v")))
                val keys = array_distinct(filter(
                  transform(keyed, x => x.getField("k")), k => k.isNotNull))
                val entries = transform(keys, k =>
                  struct(k.as("key"),
                    aggF(transform(filter(keyed, x => x.getField("k") === k),
                      x => x.getField("v"))).as("value")))
                val m = map_filter(map_from_entries(entries), (_, v) => v.isNotNull)
                // empty/undefined base: the engine groups the single
                // UNDEFINED item (evalGroup's Vector(null) wrap). Its key
                // is the key expression under undefined context — kf(null):
                // COMPUTED keys can be DEFINED there (the undefined→'' rule
                // makes `f & '-'` yield '-'), member fields never are — and
                // its aggregates see an EMPTY member sequence ($count → 0,
                // the numeric folds → undefined, dropped by the filter).
                val kNull = kf(lit(null).cast(et))
                val vNull = aggF(array().cast(at)).cast(vt)
                val undefEntry = map_from_entries(
                  filter(array(struct(kNull.as("key"), vNull.as("value"))),
                    s => s.getField("key").isNotNull && s.getField("value").isNotNull))
                TCol(when(size(arr) > 0, m).otherwise(undefEntry), MapType(StringType, vt))
              }
            case None =>
              // a single LITERAL-keyed pair is the degenerate multi-pair case
              compileLiteralKeyGroup(arr, et, ctor)
          }
        }
      }
    }

    /** Multi-pair `{}` group-by with ALL-LITERAL, pairwise-distinct keys —
      * the "object of named aggregates" analytics shape
      * (`arr{'n': $count($), 'sum': $sum(x)}`). A literal key matches EVERY
      * item, so each pair's group is the whole input array, and D1009 (one
      * key arising from two different pairs) is ruled out at COMPILE time by
      * the distinctness check; duplicate literals or any non-literal key in
      * a multi-pair constructor stay interpreted, preserving the engine's
      * data-dependent D1009. Engine corners mirrored: a missing/empty input
      * becomes a single UNDEFINED item (evalGroup wraps it as Vector(null)),
      * so literal keys still group and each value expression evaluates with
      * undefined context — $count($) contributes `key: 0`, the other
      * aggregates are undefined and omit their keys; an undefined aggregate
      * omits its key on nonempty input too (map_filter); heterogeneous
      * NUMERIC aggregate types unify to the widest (the map needs one value
      * type — the interpreted tier's JSON decode under the declared schema
      * performs the same widening). */
    private def compileLiteralKeyGroup(arr: Column, et: DataType, ctor: ObjCtor): Option[TCol] = {
      val keys = ctor.pairs.map(_._1).map { case StrLit(s) => Some(s); case _ => None }
      if (keys.exists(_.isEmpty)) return None
      val ks = keys.flatten
      if (ks.distinct.length != ks.length) return None // duplicate keys: D1009, interpreted
      val vals = ctor.pairs.map(p => compileGroupValue(p._2, et))
      if (vals.exists(_.isEmpty)) return None
      val vs = vals.flatten
      val vt = vs.map(_._2).distinct match {
        case Seq(one) => one
        case many if many.forall(isNum) =>
          if (many.forall(isIntegral)) LongType else DoubleType
        case _ => return None
      }
      val entries = ks.zip(vs).map { case (k, (aggF, _)) =>
        struct(lit(k).as("key"), aggF(arr).cast(vt).as("value"))
      }
      val m = map_filter(map_from_entries(array(entries: _*)), (_, v) => v.isNotNull)
      // empty/missing input: the single-undefined-item group — $count($)
      // pairs survive as `key: 0`, everything else is undefined
      val emptyEntries = ks.zip(ctor.pairs.map(_._2)).collect {
        case (k, Call(VarRef("count"), Vector(VarRef("")))) =>
          struct(lit(k).as("key"), lit(0L).cast(vt).as("value"))
      }
      val empty =
        if (emptyEntries.nonEmpty) map_from_entries(array(emptyEntries: _*))
        else map_from_entries(array().cast(ArrayType(
          StructType(Seq(StructField("key", StringType, nullable = false),
            StructField("value", vt))), containsNull = false)))
      Some(TCol(when(size(arr) > 0, m).otherwise(empty), MapType(StringType, vt)))
    }

    /** Group aggregate bodies with exact engine equivalents: $count($) and
      * $sum/$min/$max/$average over a numeric member field or over `$` (the
      * element itself, for atomic-element arrays). The engine's $sum
      * keeps integral fidelity (long arithmetic, wrapping) when every item is
      * integral and sums in double otherwise — mirrored by the static element
      * type; $min/$max/$average of an all-undefined group are undefined (null
      * here, dropped by the caller's map_filter). */
    private def compileGroupValue(v: Ast, et: DataType): Option[(Column => Column, DataType)] =
      v match {
        case Call(VarRef("count"), Vector(VarRef(""))) =>
          Some(((g: Column) => size(g).cast(LongType), LongType))
        case Call(VarRef(fn @ ("sum" | "min" | "max" | "average")), Vector(fieldAst)) =>
          // the key extractor: a struct member field, or `$` for the element
          val fl: Option[(Column => Column, DataType)] = fieldAst match {
            case VarRef("") if simpleAtomic(et) && isNum(et) =>
              Some((identity[Column] _, et))
            case _ => relField(fieldAst).flatMap { f =>
              et match {
                case st: StructType => st.fields.find(_.name == f)
                  .filter(x => simpleAtomic(x.dataType) && isNum(x.dataType))
                  .map(x => (((e: Column) => e.getField(f)), x.dataType))
                case _ => None
              }
            }
          }
          fl.map { case (extract, fdt) =>
              val integral = isIntegral(fdt)
              // the field extraction stays a transform; the null-skip, cast
              // and fold collapse into the ONE codegen'd NumArrayFold pass
              // (identity extractors skip the transform wrapper entirely)
              def vals(g: Column): Column = fieldAst match {
                case VarRef("") => g
                case _ => transform(g, e => extract(e))
              }
              fn match {
                case "sum" =>
                  val dt = if (integral) LongType else DoubleType
                  // group sums keep the empty→undefined wrap (unlike the
                  // seed-0 simple-array form): cnt gates the fold
                  (((g: Column) => {
                    val v = vals(g)
                    when(NumArrayFold.cnt(v) > 0, NumArrayFold.sum(v, integral))
                  }), dt)
                case "min" | "max" =>
                  val dt = if (integral) LongType else fdt
                  (((g: Column) => {
                    val v = vals(g)
                    if (fn == "min") NumArrayFold.min(v, dt) else NumArrayFold.max(v, dt)
                  }), dt)
                case "average" =>
                  (((g: Column) => {
                    val v = vals(g)
                    when(NumArrayFold.cnt(v) > 0,
                      NumArrayFold.sum(v, long = false) / NumArrayFold.cnt(v))
                  }), DoubleType)
              }
          }
        case _ => None
      }

    /** Struct-object operand rendered as named, typed output columns — a
      * dropped field is a NULL column (= decoding the engine's key-absent
      * JSON). */
    def structObjOutputsTyped(a: Ast): Option[Seq[(String, Column, DataType)]] =
      compileStructObj(a).map(_.map(f => (f.name, when(f.keep, f.col), f.dt)))

    /** Column compilation with a constant-folding fallback: if the node is a
      * PURE subtree ([[StaticEval]]) evaluating to a scalar, it becomes a
      * literal column — e.g. `$count($keys($newSchema.fields))` over an
      * inlined schema object. Tried only after structural compilation fails,
      * so row-dependent translations always win. */
    def compile(a: Ast): Option[TCol] = compileCore(a).orElse(staticScalar(a))

    private def staticScalar(a: Ast): Option[TCol] = StaticEval(a).flatMap {
      case StaticEval.SStr(s) => Some(TCol(lit(s), StringType))
      case StaticEval.SBool(b) => Some(TCol(lit(b), BooleanType))
      case StaticEval.SNum(n) =>
        val st = n.stripTrailingZeros
        try Some(TCol(lit(st.longValueExact), LongType))
        catch { case _: ArithmeticException => Some(TCol(lit(n.doubleValue), DoubleType)) }
      case _ => None
    }

    private def compileCore(a: Ast): Option[TCol] = a match {
      // `( e )` — the parser wraps every parenthesized subexpression in a
      // single-expression Block (a new-frame evaluation). When the subtree
      // binds nothing the frame is unobservable and `(e)` ≡ e — this is how
      // parenthesized arithmetic/comparison/concat subtrees reach the
      // compiled tier (found by FuzzDifferentialSpec: the grammar emits
      // parens everywhere real queries do). A subtree containing a Bind
      // keeps the interpreter: unwrapping would re-home the bind's frame.
      case Block(Seq(e)) if !containsBind(e) => compile(e)
      case NumLit(v) =>
        if (v.isIntegralNumber) Some(TCol(lit(v.longValue()), LongType))
        else Some(TCol(lit(v.doubleValue()), DoubleType))
      case StrLit(s) => Some(TCol(lit(s), StringType))
      case BoolLit(b) => Some(TCol(lit(b), BooleanType))
      // lambda parameter reference (`$x` inside a compiled HOF body)
      case VarRef(n) if lambdaEnv.contains(n) => Some(lambdaEnv(n))
      // `%` inside a Shape-A bracket predicate: the one-level-up object is
      // a single known column, bound by compilePredicate (B6's compiled
      // subset — everywhere else % stays on the interpreter's ancestry)
      case ParentRef() if lambdaEnv.contains("%") => Some(lambdaEnv("%"))
      // a BARE field name inside a bracket-predicate stage (the parser
      // leaves single names as naked NameSteps there): resolves against the
      // per-item context element — the "" binding set by compilePredicate
      case NameStep(f) if lambdaEnv.contains("") =>
        lambdaEnv("").dt match {
          case st: StructType => st.fields.find(_.name == f)
            .map(fl => TCol(lambdaEnv("").col.getField(f), fl.dataType))
          case _ => None
        }
      // field navigation over a NON-PATH struct-typed base —
      // `(x ~> /re/).match`, `(cond ? a : b).field`: plain name steps over
      // any compiled struct expression. Mirrors the engine's object
      // navigation: a null (undefined) base propagates null through
      // getField; a statically-absent field or non-struct base falls back
      // (engine-undefined with no static type). Stages/focus/index and
      // array-of-struct mapping stay interpreted. BEFORE the lambda-path
      // gate on purpose: the base compiles in whatever scope is current
      // (param-rooted inside lambdas), never against `value.*` by itself,
      // so the navigation is scope-safe inside HOF bodies too.
      case Path(steps, false, None)
          if steps.length >= 2 && !steps.head.expr.isInstanceOf[NameStep] &&
            steps.forall(st => st.stages.isEmpty && st.focus.isEmpty &&
              st.index.isEmpty && !st.keepArray) &&
            steps.tail.forall(_.expr.isInstanceOf[NameStep]) =>
        steps.tail.foldLeft(compile(steps.head.expr)) {
          case (Some(TCol(c, st: StructType)), step) =>
            val name = step.expr.asInstanceOf[NameStep].name
            st.find(_.name == name).map(f => TCol(c.getField(name), f.dataType))
          case _ => None
        }
      // inside a lambda body only param-rooted paths resolve (the engine's
      // invocation context is null, so `value.*` there is undefined)
      case p: Path if inLambda => lambdaPath(p)
      // `value.arr^(key)` — order-by over an array column (B20)
      case Path(steps, _, None)
          if steps.length >= 2 && steps.last.expr.isInstanceOf[SortOpNode] =>
        compileSortedPath(steps)
      // `value.arr[pred][0].field` — predicate/index stages + trailing
      // navigation on a value-rooted path (B2/B3)
      case Path(steps, false, None) if steps.exists(_.stages.nonEmpty) =>
        compileStagedPath(steps)
      // `value.arr{key: agg}` — group-by over an array column (B18)
      case Path(steps, _, Some(ctor)) => compileGroupPath(steps, ctor)
      // `value.a.**.f` — descendant search (B5's overwhelmingly common
      // authored shape, `**` followed by one name): static pre-order
      // expansion over the schema (see compileDescendantPath)
      case Path(steps, false, None)
          if steps.exists(_.expr == Descendant()) &&
            steps.forall(s => s.stages.isEmpty && !s.keepArray &&
              s.focus.isEmpty && s.index.isEmpty) =>
        compileDescendantPath(steps)
      // `value.a.*` — terminal wildcard (B4's overwhelmingly common
      // authored shape): static field-value enumeration over the schema —
      // the single-level case of the `**` machinery (compileWildcardPath)
      case Path(steps, false, None)
          if steps.exists(_.expr == Wildcard()) &&
            steps.forall(s => s.stages.isEmpty && !s.keepArray &&
              s.focus.isEmpty && s.index.isEmpty) =>
        compileWildcardPath(steps)
      // stages on a NON-PATH base — `$split(x, ' ')[pred]`, `$f()[0]` —
      // the same stage machinery over any compiled array-typed expression
      // (scalar bases re-wrap as singletons in the engine: not modeled,
      // interpreted). Survivor-less = undefined, like every staged result.
      case Filtered(base, stages, None, false) if stages.nonEmpty =>
        compile(base).flatMap {
          case TCol(c, at: ArrayType) =>
            runFilterStages(c, at, stages).map {
              case Left(sc) => sc
              case Right(arr) => TCol(emptyAsNull(arr), at)
            }
          case _ => None
        }
      case p: Path =>
        valuePath(p).flatMap { names =>
          if (names.isEmpty) None
          else fieldType(names).map(dt => TCol(col(names.mkString(".")), dt))
        }
      case Ast.UnaryMinus(e) => compile(e).filter(t => isNum(t.dt))
        .map(t => TCol(Shims.column(CUnaryMinus(Shims.expression(t.col), failOnError = false)), t.dt))
      case Cond(c, t, e) =>
        for {
          cc <- compileBool(c)
          tc <- compile(t)
          ec <- e.map(compile).getOrElse(Some(TCol(lit(null).cast(tc2dt(tc)), tc2dt(tc))))
          if tc2dt(tc) == tc2dt(ec) // branches must agree on type
        } yield TCol(when(cc, tc.col).otherwise(ec.col), tc.dt)
      case Binary(op, l, r) => compileBinary(op, l, r)
      case Call(VarRef(fn), args) => compileCall(fn, args)
      // `x ~> $f(?, a)` — partial application (B21/jsonata.org "chainable
      // functions"). The engine builds a PartialFn whose ?-slot is filled by
      // the piped operand at invocation (Evaluator.invoke PartialFn merge),
      // so a SINGLE placeholder is exactly a direct call with `l` in that
      // slot. Evaluation order matches too: engine evaluates lhs before the
      // bound args (evalApply), same left-to-right order as the direct call.
      // Multiple placeholders would need engine-`undefined` literals for the
      // unfilled slots — interpreted (compile(Placeholder) is None, so the
      // prepend case below safely rejects them as well).
      case ApplyOp(l, Call(VarRef(fn), args))
          if args.count(_.isInstanceOf[Placeholder]) == 1 =>
        compileCall(fn, args.map { case Placeholder() => l; case a => a })
      case ApplyOp(l, Call(VarRef(fn), args)) => compileCall(fn, l +: args) // x ~> $f(a)
      case ApplyOp(l, VarRef(fn)) => compileCall(fn, Seq(l))               // x ~> $f
      // `x ~> function($v){body}` — direct lambda application; also the
      // post-inlineBinds shape of `($f := function($v){...}; x ~> $f)`.
      // The engine invokes the lambda with the piped value as its single
      // argument (evalApply non-Call branch → invoke(fn, Seq(lhs), ctx)).
      // bodyFn's param-only scope is CONSERVATIVE here: the engine
      // passes the current context through, so a body referencing `value.*`
      // or `$` would resolve in the engine — those fall back (inLambda
      // blocks them) rather than compile wrongly. An undefined operand binds
      // the param to undefined in the engine; the compiled body sees SQL
      // NULL — the tier's standing undefined encoding. Typed signatures
      // (`function($v)<n>{...}`) coerce/raise per call in the engine
      // (Signature.validate) — not modeled, interpreted.
      case ApplyOp(l, Lambda(Vector(p), body, None)) =>
        compile(l).flatMap { lc =>
          bodyFn(Seq(p -> lc.dt), Nil, body).map { case (f, rt) => TCol(f(Seq(lc.col)), rt) }
        }
      // `x ~> /re/` — a regex literal is applicable as a function: the
      // FIRST match object or undefined (evalApply Pattern branch →
      // Functions.firstMatch). The $match kernel with limit 1 replays the
      // same find() loop, so zero-width patterns need no gate here (no
      // split-stitch is involved); `get` (not element_at) keeps the
      // no-match case NULL under ANSI. A non-string operand raises T0410
      // in the engine — only a statically-string lhs compiles.
      case ApplyOp(l, RegexLit(p)) =>
        compile(l).collect {
          case t if t.dt == StringType =>
            TCol(get(RegexMatchAll.column(t.col, p.pattern, p.flags, 1), lit(0)),
              RegexMatchAll.resultType.asInstanceOf[ArrayType].elementType)
        }
      // `base ~> |pattern|{...}|dels|` — compiled object patching (B22);
      // the struct itself is NULL when the base is undefined (TransformFn's
      // null-arg early return), so downstream navigation/exists agree.
      case ApplyOp(l, t: TransformExpr) =>
        transformFields(l, t).map { case (vfs, defined) =>
          val (c, st) = vfStruct(vfs)
          TCol(when(defined, c), st)
        }
      case _ => None
    }

    private def tc2dt(t: TCol): DataType =
      if (isIntegral(t.dt)) LongType // JSONata has one integer space
      else t.dt

    def compileBool(a: Ast): Option[Column] = compile(a) match {
      case Some(TCol(c, BooleanType)) => Some(c)
      case _ => None
    }

    private def compileBinary(op: String, lA: Ast, rA: Ast): Option[TCol] = {
      if (op == "in") return (compile(lA), rA) match {
        // literal-array membership compiles to isin; deep-equality membership
        // over computed arrays stays interpreted
        // isin is NULL for a NULL operand, but the engine returns false for an
        // undefined left side — coalesce pins false-on-undefined (visible when
        // the membership is projected, not just filtered on).
        // The LHS static type must match the literal element type: Spark's isin
        // coerces string<->numeric ('5' in [5] -> true) where the engine's deep
        // equality is false across types — cross-type membership stays on the
        // interpreted tier.
        case (Some(l), ArrCtor(items))
            if l.dt == StringType && items.nonEmpty && items.forall(_.isInstanceOf[StrLit]) =>
          val vals = items.collect { case StrLit(s2) => s2 }
          Some(TCol(coalesce(l.col.isin(vals: _*), lit(false)), BooleanType))
        case (Some(l), ArrCtor(items))
            if isNum(l.dt) && items.nonEmpty && items.forall(_.isInstanceOf[NumLit]) =>
          val vals = items.collect { case NumLit(v) =>
            if (v.isIntegralNumber) v.longValue(): Any else v.doubleValue(): Any }
          Some(TCol(coalesce(l.col.isin(vals: _*), lit(false)), BooleanType))
        // integral range membership: x in [lo..hi] -> bounds check. Only for
        // integral LHS (the engine's deep equality would accept 2.0 in [1..3],
        // but a double column needs the is-integer check — stays interpreted).
        // Ranges beyond the engine's D2014 materialization cap stay interpreted
        // so the error is preserved.
        case (Some(l), ArrCtor(Seq(RangeExpr(loA, hiA)))) if isIntegral(l.dt) =>
          (intLitOf(loA), intLitOf(hiA)) match {
            case (Some(lo), Some(hi)) if hi - lo <= 10000000L =>
              if (lo > hi) Some(TCol(lit(false), BooleanType)) // empty range
              else Some(TCol(coalesce(l.col >= lo && l.col <= hi, lit(false)), BooleanType))
            case _ => None
          }
        case _ => None
      }
      (compile(lA), compile(rA)) match {
        case (Some(l), Some(r)) => op match {
          case "+" | "-" | "*" if isNum(l.dt) && isNum(r.dt) =>
            val dt = if (isIntegral(l.dt) && isIntegral(r.dt)) LongType else DoubleType
            // float operands widen BEFORE the op: the engine does all
            // non-integral arithmetic in double (JSON numbers), so a
            // float*float single-precision product rounded then cast would
            // differ in the last ulp
            Some(TCol(legacyArith(op, widenF(l), widenF(r)).cast(dt), dt))
          // `/` and `%` compile only with a provably non-zero literal divisor:
          // the engine raises D3030 (Infinity/NaN) or D1030 (integral %0) on a
          // zero divisor, where Spark legacy-mode yields NULL — a data-dependent
          // divisor must take the interpreted tier to preserve the error.
          case "/" if isNum(l.dt) && isNum(r.dt) && nonZeroLit(rA) =>
            Some(TCol(legacyArith("/", l.col.cast(DoubleType), r.col.cast(DoubleType)), DoubleType))
          case "%" if isNum(l.dt) && isNum(r.dt) && nonZeroLit(rA) =>
            val dt = if (isIntegral(l.dt) && isIntegral(r.dt)) LongType else DoubleType
            Some(TCol(legacyArith("%", widenF(l), widenF(r)).cast(dt), dt))
          // `=`/`!=` require static type agreement: Spark's null-safe equality
          // would coerce string<->numeric (both to double), but JSONata deep
          // equality is false across types — a cross-type comparison must take
          // the interpreted tier.
          case "=" if typeAgree(l.dt, r.dt) => Some(TCol(l.col <=> r.col, BooleanType))
          case "!=" if typeAgree(l.dt, r.dt) => Some(TCol(!(l.col <=> r.col), BooleanType))
          case "<" | "<=" | ">" | ">=" if comparable(l.dt, r.dt) =>
            val c = op match {
              case "<" => l.col < r.col
              case "<=" => l.col <= r.col
              case ">" => l.col > r.col
              case ">=" => l.col >= r.col
            }
            Some(TCol(c, BooleanType))
          case "and" => for {
            lb <- compileBool(lA); rb <- compileBool(rA)
          } yield TCol(coalesce(lb, lit(false)) && coalesce(rb, lit(false)), BooleanType)
          case "or" => for {
            lb <- compileBool(lA); rb <- compileBool(rA)
          } yield TCol(coalesce(lb, lit(false)) || coalesce(rb, lit(false)), BooleanType)
          case "&" if l.dt == StringType && r.dt == StringType =>
            // JSONata stringifies undefined as "" in concat
            Some(TCol(concat(coalesce(l.col, lit("")), coalesce(r.col, lit(""))), StringType))
          case "in" => None // handled above (rhs is not a compilable scalar)
          case _ => None
        }
        case _ => None
      }
    }

    /** Single-precision operands widen to double before arithmetic (engine
      * parity — see the float note at the `+`/`-`/`*` case). */
    private def widenF(t: TCol): Column =
      if (t.dt == FloatType) t.col.cast(DoubleType) else t.col

    /** Arithmetic with explicit legacy (non-throwing) eval mode — the compiled
      * tier must not inherit the session's ANSI setting (a conf-dependent tier
      * would silently change semantics per session). */
    private def legacyArith(op: String, l: Column, r: Column): Column = {
      val (le, re) = (Shims.expression(l), Shims.expression(r))
      Shims.column(op match {
        case "+" => Add(le, re, EvalMode.LEGACY)
        case "-" => Subtract(le, re, EvalMode.LEGACY)
        case "*" => Multiply(le, re, EvalMode.LEGACY)
        case "/" => Divide(le, re, EvalMode.LEGACY)
        case "%" => Remainder(le, re, EvalMode.LEGACY)
      })
    }

    private def comparable(a: DataType, b: DataType): Boolean =
      (isNum(a) && isNum(b)) || (a == StringType && b == StringType)

    /** Equality compiles only when both operands share a JSONata type class
      * (number/string/boolean) — cross-type `=` is false in the engine, but
      * Spark would implicitly coerce (or refuse to resolve) the comparison. */
    private def typeAgree(a: DataType, b: DataType): Boolean =
      comparable(a, b) || (a == BooleanType && b == BooleanType)

    /** Literal, numeric, and not zero — safe as a compiled divisor. */
    private def nonZeroLit(a: Ast): Boolean = a match {
      case NumLit(v) => v.doubleValue() != 0.0
      case UnaryMinus(NumLit(v)) => v.doubleValue() != 0.0
      case _ => false
    }

    /** Integral literal value (with unary minus), for range bounds. */
    private def intLitOf(a: Ast): Option[Long] = a match {
      case NumLit(v) if v.isIntegralNumber => Some(v.longValue())
      case UnaryMinus(NumLit(v)) if v.isIntegralNumber => Some(-v.longValue())
      case _ => None
    }

    private def compileCall(fn: String, args: Seq[Ast]): Option[TCol] = {
      def arg(i: Int): Option[TCol] = if (i < args.length) compile(args(i)) else None
      def str(i: Int): Option[TCol] = arg(i).filter(_.dt == StringType)
      def num(i: Int): Option[TCol] = arg(i).filter(t => isNum(t.dt))
      def intLit(i: Int): Option[Long] = args.lift(i) match {
        case Some(NumLit(v)) if v.isIntegralNumber => Some(v.longValue())
        // a negative literal parses as UnaryMinus(NumLit)
        case Some(UnaryMinus(NumLit(v))) if v.isIntegralNumber => Some(-v.longValue())
        case _ => None
      }
      fn match {
        // a lambda param shadowing a builtin name must not be compiled as
        // the builtin (the engine would call the bound function value)
        case _ if lambdaEnv.contains(fn) => None
        case "map" | "filter" => compileHof(fn, args)
        case "single" => compileSingle(args)
        case "reduce" => compileReduce(args)
        case "keys" => compileKeys(args)
        case "lookup" => compileLookup(args)
        case "sift" => compileMapSift(args) // struct-$sift is consumed by keys/each/lookup
        case "each" => compileEach(args)
        case "uppercase" => str(0).map(t => TCol(upper(t.col), StringType))
        case "lowercase" => str(0).map(t => TCol(lower(t.col), StringType))
        case "trim" =>
          // JSONata $trim collapses internal whitespace before trimming
          str(0).map(t => TCol(trim(regexp_replace(t.col, "[ \\t\\n\\r]+", " ")), StringType))
        case "length" => str(0).map(t => TCol(length(t.col).cast(LongType), LongType))
        case "substring" =>
          // literal start/length; both signs of start compile (the engine
          // wraps a negative start to max(0, len + start) in CODE POINTS —
          // Spark's length/substr count code points too, so the wrap is one
          // greatest() over the length column)
          (str(0), intLit(1)) match {
            case (Some(t), Some(start)) if math.abs(start) <= Int.MaxValue =>
              val lenOpt = intLit(2)
              if (args.length > 2 && lenOpt.isEmpty) None
              else if (lenOpt.exists(_ < 0))
                // engine clamps a negative length to 0 -> empty (undefined
                // input still propagates as NULL)
                Some(TCol(when(t.col.isNotNull, lit("")), StringType))
              else if (start >= 0)
                Some(TCol(
                  lenOpt.map(l => substring(t.col, start.toInt + 1, math.min(l, Int.MaxValue).toInt))
                    .getOrElse(substring(t.col, start.toInt + 1, Int.MaxValue)), StringType))
              else {
                val eff = greatest(length(t.col) + lit(start.toInt), lit(0)) + lit(1)
                val l = lenOpt.map(l => lit(math.min(l, Int.MaxValue).toInt).cast(IntegerType))
                  .getOrElse(length(t.col))
                Some(TCol(t.col.substr(eff, l), StringType))
              }
            case _ => None
          }
        case "contains" => (str(0), args.lift(1)) match {
          case (Some(t), Some(StrLit(pat))) => Some(TCol(t.col.contains(lit(pat)), BooleanType))
          case (Some(t), Some(RegexLit(p))) =>
            // engine: p.matcher(s).find() — RLIKE is the same unanchored
            // Java-regex scan; lexer flags ride along as (?ims) prefixes
            Some(TCol(t.col.rlike(JsonataCompiler.regexStr(p)), BooleanType))
          case _ => None
        }
        case "abs" => num(0).map(t => TCol(abs(t.col), t.dt))
        case "floor" => num(0).map(t => TCol(floor(t.col).cast(LongType), LongType))
        case "ceil" => num(0).map(t => TCol(ceil(t.col).cast(LongType), LongType))
        case "sqrt" => num(0).map(t => TCol(sqrt(t.col.cast(DoubleType)), DoubleType))
        case "power" => (num(0), num(1)) match {
          case (Some(a2), Some(b2)) => Some(TCol(pow(a2.col.cast(DoubleType), b2.col.cast(DoubleType)), DoubleType))
          case _ => None
        }
        case "round" =>
          // JSONata $round is half-to-even => bround, NOT round
          (num(0), if (args.length > 1) intLit(1) else Some(0L)) match {
            case (Some(t), Some(p)) => Some(TCol(bround(t.col, p.toInt), DoubleType))
            case _ => None
          }
        // $fromMillis via date_format — default picture, literal pictures in
        // the verified marker subset (pictureToSparkPattern), and literal
        // FIXED-offset zone args (shift the millis statically; [Z]/[z]
        // markers render the statically-known offset as literal text).
        // Integral input only (the engine math.round's a double input — that
        // stays interpreted) and only under a UTC session (date_format
        // renders in SESSION tz; the engine always renders UTC or the fixed
        // offset). RANGE-GUARDED (ProbeDateTime, round 9): inside
        // [year 1, Long.MaxValue/1000] millis the default picture agrees
        // exactly with the interpreter's Java-pattern rendering (including
        // the '+' prefix at year >= 10000); pictured output uses the
        // engine's fmtNum (proleptic, no '+'), so its guard tightens to
        // [year 1, year 9999]. Outside the guard the compiled tier yields
        // NULL where the engine renders era-style/astronomic strings — the
        // PINNED divergence class for this builtin (and what prevents the
        // ANSI timestamp_millis overflow crash the unguarded form had).
        // DST-bearing named zones and non-literal pictures stay interpreted.
        case "fromMillis" if utcSession && args.length <= 3 =>
          val picOpt: Option[Option[String]] = args.lift(1) match {
            case None => Some(None)
            case Some(StrLit(p)) => Some(Some(p))
            case _ => None
          }
          val tzOff: Option[Int] = args.lift(2) match {
            case None => Some(0)
            case Some(StrLit(z)) => graft.jsonata.DateTimeFmt.staticOffsetSeconds(z)
            case _ => None
          }
          (arg(0), picOpt, tzOff) match {
            case (Some(t), Some(pic), Some(offSec))
                if t.dt == LongType || t.dt == IntegerType =>
              val shifted = legacyArith("+", t.col.cast(LongType), lit(offSec * 1000L))
              pic match {
                case None =>
                  val offTxt =
                    if (offSec == 0) "Z"
                    else java.time.ZoneOffset.ofTotalSeconds(offSec).getId
                  Some(TCol(when(
                    shifted >= JsonataCompiler.MillisYear1 &&
                      shifted <= JsonataCompiler.MillisTsMax,
                    concat(date_format(timestamp_millis(shifted),
                      "yyyy-MM-dd'T'HH:mm:ss.SSS"), lit(offTxt))), StringType))
                case Some(p) =>
                  JsonataCompiler.pictureToSparkPattern(p, offSec).map { pat =>
                    TCol(when(
                      shifted >= JsonataCompiler.MillisYear1 &&
                        shifted <= JsonataCompiler.MillisYear9999,
                      date_format(timestamp_millis(shifted), pat)), StringType)
                  }
              }
            case _ => None
          }
        // $toMillis (no picture): the engine's parseIso accepts EXACTLY five
        // shapes (DateTimeFmt.scala parseIso) — yyyy / yyyy-MM / yyyy-MM-dd /
        // local datetime with 'T' / offset datetime ('Z' or ±HH:MM) — and
        // ERRORS (D3110) on anything else, while Spark's to_timestamp is
        // more lenient (5-digit years, space separators) and, outside ANSI,
        // null-swallows. The compiled form gates the input through regexes
        // replicating parseIso's branches, pads partial dates to full ones,
        // truncates sub-milli fraction digits (engine keeps millis only),
        // and raises on non-matching non-null input — so the error cases
        // stay errors in every session mode (raise_error is ANSI-independent).
        // The compiled tier surfaces only through JsonataDF.auto, whose
        // interpreted sibling also propagates the engine exception — the
        // permissive/DLQ path never selects the compiled tier. UTC session
        // only (zone-less strings parse in SESSION tz).
        // $toMillis with a LITERAL picture (numeric-marker subset): the
        // engine's parsePicture regex gates the input exactly, components
        // extract via regexp_extract (evaluated only behind the match check
        // — And short-circuits, so the ANSI cast of an empty group can't
        // fire), field bounds replicate ZonedDateTime.of's validation
        // (minute 60 / hour 24 ERROR in the engine; make_timestamp alone
        // would roll or null them), calendar validity (Feb 30) comes from
        // make_timestamp itself (error under ANSI, NULL -> raise otherwise
        // — the engine raises too), and the millis fraction appends as
        // exact integer arithmetic. Absent components default like
        // parsePicture (1970-01-01 00:00:00.000). UTC session only
        // (make_timestamp reads the session zone).
        case "toMillis" if args.length == 2 && utcSession =>
          (str(0), args.lift(1)) match {
            case (Some(t), Some(StrLit(pic))) =>
              JsonataCompiler.pictureParseSpec(pic).map { spec =>
                val s = trim(t.col)
                def grp(c: Char, default: Int): Column = spec.groups.get(c) match {
                  case Some(i) => regexp_extract(s, spec.regex, i).cast("int")
                  case None => lit(default)
                }
                val milli = spec.groups.get('f') match {
                  case Some(i) =>
                    rpad(regexp_extract(s, spec.regex, i), 3, "0").cast("long")
                  case None => lit(0L)
                }
                val (y, mo, dd) = (grp('Y', 1970), grp('M', 1), grp('D', 1))
                val (hh, mi, se) = (grp('H', 0), grp('m', 0), grp('s', 0))
                val bounds = hh <= 23 && mi <= 59 && se <= 59
                val ms = unix_millis(make_timestamp(y, mo, dd, hh, mi,
                  se.cast("double"))) + milli
                TCol(when(t.col.isNull, lit(null).cast(LongType))
                  .when(s.rlike(spec.regex) && bounds && ms.isNotNull, ms)
                  .otherwise(raise_error(concat(
                    lit(s"D3136: '"), s, lit(s"' does not match picture '$pic'")))
                    .cast(LongType)), LongType)
              }
            case _ => None
          }
        case "toMillis" if args.length == 1 && utcSession =>
          str(0).map { t =>
            val s = trim(t.col)
            val frac = "(\\.[0-9]{1,9})?"
            val tail = "[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}(:[0-9]{2}" + frac + ")?"
            val padded = when(s.rlike("^[0-9]{4}$"), concat(s, lit("-01-01")))
              .when(s.rlike("^[0-9]{4}-[0-9]{2}$"), concat(s, lit("-01")))
              .when(s.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"), s)
              .when(s.rlike("^" + tail + "$") ||
                s.rlike("^" + tail + "(Z|[+-][0-9]{2}:[0-9]{2})$"),
                regexp_replace(s, "(\\.[0-9]{3})[0-9]+", "$1"))
            val ms = unix_millis(to_timestamp(padded))
            TCol(when(t.col.isNull, lit(null).cast(LongType))
              .when(ms.isNotNull, ms)
              .otherwise(raise_error(concat(
                lit("D3110: unable to parse datetime '"), s, lit("'"))).cast(LongType)),
              LongType)
          }
        // $number compiles only for already-numeric input, where it is an
        // identity in both tiers — the operand keeps its integral/double static
        // type ($number(42) is 42, not 42.0). A string argument must take the
        // interpreter: the engine raises D3030 on an unparseable string where
        // cast() yields NULL.
        case "number" => num(0)
        case "string" => arg(0) match {
          case Some(t) if t.dt == StringType => Some(t) // identity
          // integral input renders as plain Long.toString in the engine
          // (numberToString keeps integer-valued numbers point-free) — the
          // Spark cast is character-identical; DOUBLE formatting differs
          // (JS-style shortest-round-trip vs Java) and stays interpreted
          case Some(t) if isIntegral(t.dt) =>
            Some(TCol(t.col.cast(StringType), StringType))
          case _ => None
        }
        case "not" => compileBool(args.head).map(c => TCol(!coalesce(c, lit(false)), BooleanType))
        case "exists" => arg(0).map(t => TCol(t.col.isNotNull, BooleanType))
        // $substringBefore/After: FIRST occurrence; the whole string when the
        // separator is absent (locate = 0). Non-empty literal separator only
        // (empty-separator edge semantics stay interpreted).
        case "substringBefore" => (str(0), args.lift(1)) match {
          case (Some(t), Some(StrLit(sep))) if sep.nonEmpty =>
            val pos = locate(sep, t.col)
            Some(TCol(when(pos === 0, t.col)
              .otherwise(t.col.substr(lit(1), pos - 1)), StringType))
          case _ => None
        }
        case "substringAfter" => (str(0), args.lift(1)) match {
          case (Some(t), Some(StrLit(sep))) if sep.nonEmpty =>
            val pos = locate(sep, t.col)
            Some(TCol(when(pos === 0, t.col)
              .otherwise(t.col.substr(pos + sep.length, lit(Int.MaxValue))), StringType))
          case _ => None
        }
        // $replace with LITERAL string pattern/replacement only: the engine
        // treats string args literally (all occurrences, left-to-right
        // non-overlapping — same as quoted-regex scan), while regex-literal
        // patterns and lambda replacements stay interpreted. Empty pattern
        // raises D3010 in the engine — not compiled.
        case "replace" => (str(0), args.lift(1), args.lift(2)) match {
          case (Some(t), Some(StrLit(pat)), Some(StrLit(rep)))
              if pat.nonEmpty && args.length == 3 =>
            Some(TCol(regexp_replace(t.col, java.util.regex.Pattern.quote(pat),
              java.util.regex.Matcher.quoteReplacement(rep)), StringType))
          // regex-literal pattern + string replacement: the engine's $N
          // resolution is group-count-dependent and greedy — the pattern is a
          // literal, so the group count is static and the whole replacement
          // re-expands at COMPILE time into Java Matcher syntax (fReplace's
          // exact algorithm, Functions.scala). Lambda replacements and the
          // limit arg stay interpreted.
          case (Some(t), Some(RegexLit(p)), Some(StrLit(rep))) if args.length == 3 =>
            Some(TCol(regexp_replace(t.col, JsonataCompiler.regexStr(p),
              JsonataCompiler.javaReplacement(rep, p.matcher("").groupCount())), StringType))
          // regex-literal pattern + INLINE LAMBDA replacement: stitch with
          // split-on-the-same-pattern (unmatched segments, trailing empties
          // kept) interleaved with the lambda body over the RegexMatchAll
          // kernel's match structs — the exact {match,index,groups} object
          // fReplace hands the function, so the body compiles through the
          // ordinary lambda machinery and the whole thing avoids
          // index-arithmetic stitching (engine indexes are UTF-16 units,
          // Spark substr counts code points — the split form sidesteps the
          // divergence class entirely). A non-string (SQL NULL) body result
          // raises the engine's D3012. GATES (stay interpreted): patterns
          // that can match zero-width (the split stitch and the engine's
          // find() loop disagree there — probed on empty + non-empty
          // sentinels, with boundary escapes \b \B \G \A \z \Z rejected
          // statically since their zero-width sites can dodge any finite
          // probe; see canMatchZeroWidth) and any "(?" construct
          // (lookaround can zero-width on inputs outside the sentinel set;
          // inline flags arrive as Pattern flags, not source, so real
          // flagged literals still compile); a literal limit must be
          // non-negative (engine raises D3011 on negatives — errors stay
          // interpreter-shaped).
          case (Some(t), Some(RegexLit(p)), Some(Lambda(Vector(pm), body, _)))
              if args.length <= 4 && !JsonataCompiler.canMatchZeroWidth(p) &&
                 !p.pattern.contains("(?") =>
            val limOpt: Option[Int] =
              if (args.length == 3) Some(Int.MaxValue)
              else intLit(3).collect { case l if l >= 0 && l <= Int.MaxValue => l.toInt }
            val et = RegexMatchAll.resultType.asInstanceOf[ArrayType].elementType
            (limOpt, bodyFn(Seq(pm -> et), Nil, body)) match {
              case (Some(lim), Some((bf, StringType))) =>
                val re = JsonataCompiler.regexStr(p)
                val ms = RegexMatchAll.column(t.col, p.pattern, p.flags, lim)
                val segs = split(t.col, re, if (lim == Int.MaxValue) -1 else lim + 1)
                def repC(m: Column): Column = {
                  val r = bf(Seq(m))
                  when(r.isNotNull, r).otherwise(raise_error(
                    lit("D3012: $replace replacement function must return a string"))
                    .cast(StringType))
                }
                Some(TCol(concat(
                  array_join(transform(ms, (m, i) =>
                    concat(element_at(segs, i.cast("int") + 1), repC(m))), ""),
                  element_at(segs, size(ms) + 1)), StringType))
              case _ => None
            }
          case _ => None
        }
        // $pad never truncates (unlike bare lpad/rpad) — guard on length;
        // literal width/pad only; negative width pads left
        case "pad" =>
          val padStr = args.lift(2) match {
            case None => Some(" ")
            case Some(StrLit(p)) if p.nonEmpty => Some(p)
            case _ => None
          }
          (str(0), args.lift(1).flatMap(intLitOf), padStr) match {
            case (Some(t), Some(w), Some(p)) =>
              val target = math.abs(w).toInt
              val padded = if (w < 0) lpad(t.col, target, p) else rpad(t.col, target, p)
              Some(TCol(when(length(t.col) >= target, t.col).otherwise(padded), StringType))
            case _ => None
          }
        // $split with a non-empty literal separator (quoted — the engine
        // treats a string separator literally, Spark's split takes a regex)
        // or a regex literal; limit -1 keeps trailing empties like the
        // engine. The engine's limit is "first N elements of the FULL split"
        // (take, NOT Java's remainder-in-last-element limit) → slice over
        // the unlimited split. Non-literal/negative limits stay interpreted
        // (engine raises D3020 on negatives).
        case "split" => (str(0), args.lift(1)) match {
          case (Some(t), Some(sep)) =>
            val re = sep match {
              case StrLit(s2) if s2.nonEmpty => Some(java.util.regex.Pattern.quote(s2))
              case RegexLit(p) => Some(JsonataCompiler.regexStr(p))
              case _ => None
            }
            val lim: Option[Option[Int]] =
              if (args.length == 2) Some(None)
              else intLit(2) match {
                case Some(l) if l >= 0 && l <= Int.MaxValue => Some(Some(l.toInt))
                case _ => None
              }
            (re, lim) match {
              case (Some(r), Some(limO)) =>
                val full = split(t.col, r, -1)
                Some(TCol(limO.map(l => slice(full, 1, l)).getOrElse(full),
                  ArrayType(StringType)))
              case _ => None
            }
          case _ => None
        }
        // $match with a regex-literal pattern → the native match-all kernel
        // (graft.spark.RegexMatchAll): array<struct<match,index,groups>>
        // inside whole-stage codegen. Empty result → NULL (engine's empty
        // sequence is undefined — emptyAsNull); the singleton case keeps a
        // 1-element array, the same pinned divergence class as the HOFs
        // (immune under the compiled aggregates — see compileHof scaladoc).
        case "match" => (str(0), args.lift(1)) match {
          case (Some(t), Some(RegexLit(p))) =>
            val lim: Option[Int] =
              if (args.length <= 2) Some(Int.MaxValue)
              else intLit(2).collect { case l if l >= Int.MinValue && l <= Int.MaxValue => l.toInt }
            lim.map(l => TCol(
              emptyAsNull(RegexMatchAll.column(t.col, p.pattern, p.flags, l)),
              RegexMatchAll.resultType))
          case _ => None
        }
        // $join over arrays with provably no null elements — array_join
        // silently drops nulls where the engine raises T0412, so arbitrary
        // array columns stay interpreted. Provable sources: a compiled $split
        // (never emits nulls), $keys (literal names), $each (null body
        // results are filtered, mirroring fEach), and $map (same null
        // filter). Literal separator only, and STRING elements only — the
        // engine raises T0412 on non-string items, so numeric-element
        // sources stay on the interpreter's error shape.
        case "join" =>
          val sep = args.lift(1) match {
            case None => Some("")
            case Some(StrLit(s2)) => Some(s2)
            case _ => None
          }
          def nullFree(src: Ast): Boolean = src match {
            case Call(VarRef("split" | "keys" | "each" | "map"), _) => true
            // descendant search results are null-FILTERED by construction
            // (compileDescendantPath), so they join like the HOF sources
            case dp: Path if dp.steps.exists(_.expr == Descendant()) => true
            // a terminal wildcard over an ALL-SCALAR struct is null-free by
            // construction (absent keys filter; only array-element splices
            // and map values can carry explicit nulls, and those bases
            // fall back here so the engine's error on a null item is
            // preserved); a wildcard with a TRAILING NAME step is
            // null-FILTERED by construction ONLY for all-scalar f
            // occurrences (wcNameTargetScalarOnly — an array-typed f
            // splices with its null elements KEPT, which array_join would
            // skip where the engine raises)
            case Path(wsteps, false, None) =>
              (wsteps.lastOption.exists(_.expr == Wildcard()) &&
                valueNames(wsteps.init.map(_.expr)).flatMap(fieldType).exists {
                  case st: StructType => st.fields.forall(f =>
                    !f.dataType.isInstanceOf[ArrayType] && !f.dataType.isInstanceOf[MapType])
                  case _ => false
                }) || wcNameTargetScalarOnly(wsteps)
            case _ => false
          }
          (args.headOption, sep) match {
            case (Some(src), Some(s2)) if nullFree(src) =>
              compile(src).collect {
                case t if t.dt == ArrayType(StringType) => TCol(array_join(t.col, s2), StringType)
              }
            case _ => None
          }
        // array shufflers with exact Spark twins on array columns (scalar
        // operands stay interpreted — the engine wraps them via items()).
        // $reverse/$distinct preserve first-occurrence order like the engine
        // (LinkedHashSet there, array_distinct here); $append returns the
        // OTHER side when one operand is undefined (undefPass=false in the
        // engine — a plain concat would null the result).
        case "reverse" => arg(0).collect {
          case t if t.dt.isInstanceOf[ArrayType] => TCol(reverse(t.col), t.dt)
        }
        case "distinct" => arg(0).collect {
          case t if t.dt.isInstanceOf[ArrayType] => TCol(array_distinct(t.col), t.dt)
        }
        case "append" => (arg(0), arg(1)) match {
          case (Some(a), Some(bb)) if a.dt == bb.dt && a.dt.isInstanceOf[ArrayType] =>
            Some(TCol(when(a.col.isNull, bb.col).when(bb.col.isNull, a.col)
              .otherwise(concat(a.col, bb.col)), a.dt))
          case _ => None
        }
        // comparator-less $sort on homogeneous atomic arrays = ascending
        // array_sort. Pinned divergence classes shared with ^(): a JSON-null
        // element raises D3070 in the engine but orders last here, and
        // non-BMP strings compare UTF-8 vs UTF-16 (see compileSortedPath).
        case "sort" if args.length == 1 => arg(0).collect {
          case t if t.dt.isInstanceOf[ArrayType] &&
            simpleAtomic(t.dt.asInstanceOf[ArrayType].elementType) =>
            TCol(emptyAsNull(array_sort(t.col)), t.dt) // empty = undefined (sort fuzz)
        }
        // $sort with an inline swap-comparator of the mirrored strict-
        // comparison idiom: function($l, $r){ $l.key > $r.key } (ascending —
        // the engine swaps when the comparator is truthy) or `<` (descending),
        // in either argument orientation. Compiles to the ^()-style explicit
        // comparator: ties give 0 (TimSort stable = the engine's stable merge
        // sort), undefined keys order last (first under descending) — where
        // the engine's never-truthy comparator leaves an undefined-keyed
        // element stably in place: that placement, and T2010 on JSON-null
        // keys, are the pinned divergence class shared with ^(); the tiers
        // agree whenever keys are present. Non-strict ops (a >= swap
        // comparator is not a strict weak order and can violate the sort
        // contract), non-mirrored keys, and other body shapes stay
        // interpreted.
        case "sort" if args.length == 2 =>
          (arg(0), args.lift(1)) match {
            case (Some(t), Some(Lambda(Vector(pl, pr), Binary(op @ ("<" | ">"), lA, rA), _))) =>
              t.dt match {
                case at @ ArrayType(et, _) =>
                  def keyDesc(a2: Ast, param: String): Option[(Option[String], DataType)] = a2 match {
                    case VarRef(`param`) if simpleAtomic(et) => Some((None, et))
                    case Path(Vector(Step(VarRef(`param`), Vector(), false, None, None)),
                        false, None) if simpleAtomic(et) => Some((None, et))
                    case Path(Vector(Step(VarRef(`param`), Vector(), false, None, None),
                        Step(NameStep(f), Vector(), false, None, None)), false, None) =>
                      et match {
                        case st: StructType => st.fields.find(_.name == f)
                          .filter(x => simpleAtomic(x.dataType)).map(fl => (Some(f), fl.dataType))
                        case _ => None
                      }
                    case _ => None
                  }
                  val straight = for { kl <- keyDesc(lA, pl); kr <- keyDesc(rA, pr) }
                    yield (kl, kr, op == ">")
                  val crossed = for { kl <- keyDesc(lA, pr); kr <- keyDesc(rA, pl) }
                    yield (kl, kr, op == "<")
                  straight.orElse(crossed).collect { case (kl, kr, asc) if kl == kr =>
                    val kf: Column => Column = kl._1 match {
                      case None => identity
                      case Some(f) => (e: Column) => e.getField(f)
                    }
                    val cmp = (a2: Column, b2: Column) => termCmp(kf(a2), kf(b2), desc = !asc)
                    TCol(emptyAsNull(array_sort(t.col, cmp)), at) // empty = undefined
                  }
                case _ => None
              }
            case _ => None
          }
        // $count: arrays count elements (undefined -> 0); scalars count 1
        case "count" if args.length == 1 => arg(0).map { t =>
          t.dt match {
            case _: ArrayType =>
              TCol(when(t.col.isNull, lit(0L)).otherwise(size(t.col).cast(LongType)), LongType)
            case _ =>
              TCol(when(t.col.isNull, lit(0L)).otherwise(lit(1L)), LongType)
          }
        }
        // numeric aggregates over a numeric array column (or a scalar, where
        // they are the identity on the singleton sequence). Engine corners
        // mirrored: $sum([]) = 0 but $sum(undefined) = undefined; $min/$max/
        // $average of an empty/undefined sequence are undefined. The engine's
        // $sum keeps integral fidelity (wrapping long arithmetic) for integral
        // elements and sums in double otherwise — decided here by the static
        // element type. JSON-null ELEMENTS raise T0412 in the engine but are
        // skipped here (the pinned divergence class shared with `^()`).
        case "sum" | "min" | "max" | "average" if args.length == 1 =>
          arg(0).flatMap { t =>
            t.dt match {
              case ArrayType(et, _) if simpleAtomic(et) && isNum(et) =>
                // ONE codegen'd pass (NumArrayFold) instead of the
                // filter→transform→aggregate lambda chain it replaces —
                // same null-element skip, seed-0 sum, array_min/max
                // NaN-greatest and empty→NULL semantics (ArrayFoldSpec)
                import graft.spark.NumArrayFold
                fn match {
                  case "sum" =>
                    val long = isIntegral(et)
                    Some(TCol(NumArrayFold.sum(t.col, long),
                      if (long) LongType else DoubleType))
                  case "min" | "max" =>
                    val dt = if (isIntegral(et)) LongType else et
                    Some(TCol(
                      if (fn == "min") NumArrayFold.min(t.col, dt)
                      else NumArrayFold.max(t.col, dt), dt))
                  case "average" =>
                    val cnt = NumArrayFold.cnt(t.col)
                    Some(TCol(when(cnt > 0,
                      NumArrayFold.sum(t.col, long = false) / cnt), DoubleType))
                }
              case dt if isNum(dt) && simpleAtomic(dt) =>
                // singleton sequence: the aggregate is the value itself —
                // except $average, whose engine result is always a double
                // (sum/length division), even for an integral singleton
                if (fn == "average") Some(TCol(t.col.cast(DoubleType), DoubleType))
                else Some(TCol(t.col, dt))
              case _ => None
            }
          }
        case _ => None
      }
    }
  }

  /** Millis of 0001-01-01T00:00:00Z — below this the interpreter's Java
    * year-of-era rendering ("0001" for 1 BC, era years thereafter) has no
    * date_format twin. */
  private[spark] val MillisYear1 = -62135596800000L
  /** Millis of 9999-12-31T23:59:59.999Z — above this the engine's pictured
    * fmtNum prints "10000" where Java/Spark 'yyyy' prints "+10000". */
  private[spark] val MillisYear9999 = 253402300799999L
  /** Largest millis whose microsecond form fits a Spark timestamp —
    * timestamp_millis ANSI-overflows beyond it. */
  private[spark] val MillisTsMax = Long.MaxValue / 1000

  /** Translate a LITERAL XPath datetime picture into an equivalent Spark
    * date_format pattern, or None when any marker falls outside the subset
    * whose Java rendering provably equals the interpreter's
    * (DateTimeFmt.formatPicture) for years 1-9999: numeric Y/M/D/d/H/h/m/s/f
    * with default/"1"/zero-pad modifiers, month/day NAMES in title case
    * (full or 3-letter — English month/day take-3 abbreviations coincide
    * with Java's), [PN] (Java 'a' is uppercase AM/PM), and [Z]/[z]/[C]/[E]
    * rendered as LITERAL text (the offset is statically known — fixed-offset
    * zones only reach this path). Out-of-subset: width-truncating mods
    * ([Y01] never truncates in the engine, Java 'yy' does), ordinals/words/
    * roman ([D1o], [Yw]), ISO week fields ([W]/[w] — Java weeks are
    * locale-based), lowercase [P], numeric [F]. */
  private[spark] def pictureToSparkPattern(pic: String, offSec: Int): Option[String] = {
    // accumulate literal text vs pattern atoms SEPARATELY and merge adjacent
    // literals before quoting: emitting `' '` directly followed by `'GMT'`
    // would put `''` on the seam, which Java patterns read as an escaped
    // QUOTE, not two adjacent literal runs
    val parts = scala.collection.mutable.ArrayBuffer.empty[Either[String, String]]
    def litTxt(s: String): Unit = if (s.nonEmpty) parts.lastOption match {
      case Some(Left(prev)) => parts(parts.length - 1) = Left(prev + s)
      case _ => parts += Left(s)
    }
    def pat(s: String): Unit = if (s.nonEmpty) parts += Right(s)
    val toks =
      try graft.jsonata.DateTimeFmt.tokens(pic)
      catch { case _: Exception => return None } // malformed picture: engine error, keep interpreted
    toks.foreach {
      case Left(l) => litTxt(l)
      case Right(graft.jsonata.DateTimeFmt.Marker(comp, m)) =>
        def num(unpadded: String, padded2: String): Option[String] = m match {
          case "" | "1" | "#1" => Some(unpadded)
          case "01" => Some(padded2)
          case _ => None
        }
        val pat0: Option[String] = comp match {
          case 'Y' => m match {
            case "" | "1" | "#1" => Some("y")
            case "0001" => Some("yyyy")
            case _ => None
          }
          case 'M' => m match {
            case "" | "1" | "#1" => Some("M")
            case "01" => Some("MM")
            case "Nn" => Some("MMMM")
            case "Nn,3" | "Nn,3-3" | "Nn,1-3" => Some("MMM")
            case _ => None
          }
          case 'D' => num("d", "dd")
          case 'd' => m match {
            case "" | "1" | "#1" => Some("D")
            case "01" => Some("DD")
            case "001" => Some("DDD")
            case _ => None
          }
          case 'F' => m match {
            case "" | "Nn" => Some("EEEE")
            case "Nn,3" | "Nn,3-3" => Some("EEE")
            case _ => None
          }
          case 'H' => num("H", "HH")
          case 'h' => num("h", "hh")
          case 'P' => if (m == "N") Some("a") else None
          case 'm' => m match {
            case "" | "01" => Some("mm")
            case "1" | "#1" => Some("m")
            case _ => None
          }
          case 's' => m match {
            case "" | "01" => Some("ss")
            case "1" | "#1" => Some("s")
            case _ => None
          }
          case 'f' => m match {
            case "1" => Some("S")
            case "01" => Some("SS")
            case "001" => Some("SSS")
            case _ => None
          }
          case 'Z' | 'z' =>
            // statically-known fixed offset: replicate DateTimeFmt's Z/z
            // branch at COMPILE time and emit the result as literal text
            val sign = if (offSec < 0) "-" else "+"
            val hh = math.abs(offSec) / 3600
            val mm = (math.abs(offSec) % 3600) / 60
            val body =
              if (m.contains(":")) f"$sign$hh%02d:$mm%02d"
              else if (m == "0" || m == "#0") {
                if (mm == 0) f"$sign$hh%d" else f"$sign$hh%d$mm%02d"
              } else f"$sign$hh%02d$mm%02d"
            val txt =
              if (comp == 'z') "GMT" + body
              else if (offSec == 0 && m.endsWith("t")) "Z"
              else body
            litTxt(txt); Some("")
          case 'C' | 'E' => litTxt("ISO"); Some("")
          case _ => None
        }
        pat0 match {
          case Some(p) => pat(p)
          case None => return None
        }
    }
    Some(parts.map {
      case Left(l) => "'" + l.replace("'", "''") + "'"
      case Right(p) => p
    }.mkString)
  }

  /** Compiled parse plan for a LITERAL $toMillis picture: the exact regex
    * parsePicture would build (one capture group per marker, quoted
    * literals, anchored) plus the capture-group index of each component.
    * Numeric-marker subset only — Y/M/D/H/m/s/f with digit-pad modifiers.
    * [Y] must be width-BOUNDED: its unbounded `(\d+)` group lets the engine
    * parse 5+-digit years that Spark's timestamp range rejects (error where
    * the engine succeeds); a bounded [Y0001] caps at 9999, inside both.
    * 12-hour [h]/[P], zones [Z]/[z], day-of-year [d], and name components
    * stay interpreted (their extraction arithmetic has no faithful
    * column-side form). Duplicate components keep the LAST group —
    * parsePicture overwrites on re-assignment. */
  private[spark] final case class PictureParse(regex: String, groups: Map[Char, Int])

  private[spark] def pictureParseSpec(pic: String): Option[PictureParse] = {
    val toks =
      try graft.jsonata.DateTimeFmt.tokens(pic)
      catch { case _: Exception => return None }
    val re = new StringBuilder("^")
    var gi = 0
    var groups = Map.empty[Char, Int]
    toks.foreach {
      case Left(l) => re.append(java.util.regex.Pattern.quote(l))
      case Right(graft.jsonata.DateTimeFmt.Marker(comp, mod)) =>
        if (!"YMDHmsf".contains(comp)) return None
        // fmtNum-style mods only (no names/ordinals/words/roman)
        val core = mod.split(',')(0)
        if (!core.forall(ch => ch.isDigit || ch == '#')) return None
        val w = graft.jsonata.DateTimeFmt.padWidth(core)
        if (comp == 'Y' && w == 0) return None // unbounded year: see scaladoc
        gi += 1
        groups += (comp -> gi)
        re.append(if (w > 0) s"(\\d{1,$w})" else "(\\d+)")
    }
    re.append("$")
    if (groups.isEmpty) None else Some(PictureParse(re.toString, groups))
  }

  /** A regex literal's pattern string with its lexer flags (i/m/s) embedded
    * as a `(?ims)` prefix — Spark's regex functions take a pattern STRING and
    * compile it with default flags, so the flags must ride inside. */
  private[spark] def regexStr(p: java.util.regex.Pattern): String = {
    import java.util.regex.Pattern._
    val fl = new StringBuilder
    if ((p.flags & CASE_INSENSITIVE) != 0) fl += 'i'
    if ((p.flags & MULTILINE) != 0) fl += 'm'
    if ((p.flags & DOTALL) != 0) fl += 's'
    if (fl.isEmpty) p.pattern else s"(?$fl)${p.pattern}"
  }

  /** Re-expand a $replace replacement string from the engine's syntax into
    * Java Matcher syntax. The engine (fReplace, Functions.scala) resolves
    * `$N` greedily while the accumulated group number stays <= groupCount,
    * `$$` is a literal `$`, and any other `$` (dangling, `$0`, non-digit
    * next) is literal — all decidable at compile time because the pattern
    * (hence groupCount) is a literal. Literal `$`/`\` must be escaped for
    * Java's appendReplacement, which treats both specially where the engine
    * treats them literally. Null groups append empty on both sides. */
  private[spark] def javaReplacement(rs: String, groupCount: Int): String = {
    val sb = new StringBuilder
    def lit(c: Char): Unit = {
      if (c == '$' || c == '\\') sb += '\\'
      sb += c
    }
    var i = 0
    while (i < rs.length) {
      val c = rs.charAt(i)
      if (c == '$' && i + 1 < rs.length) {
        val nxt = rs.charAt(i + 1)
        if (nxt == '$') { lit('$'); i += 2 }
        else if (nxt.isDigit) {
          var j = i + 1; var g = 0
          while (j < rs.length && rs.charAt(j).isDigit &&
                 g * 10 + (rs.charAt(j) - '0') <= groupCount) {
            g = g * 10 + (rs.charAt(j) - '0'); j += 1
          }
          if (g == 0) { lit('$'); i += 1 }
          else { sb += '$'; sb.append(g); i = j }
        } else { lit('$'); i += 1 }
      } else { lit(c); i += 1 }
    }
    sb.toString
  }

  /** True when the regex can produce a ZERO-WIDTH match. The compiled
    * split-stitch form of lambda-$replace and the engine's find() loop
    * disagree on zero-width matches, so such patterns stay interpreted.
    * `matcher("").find()` alone misses patterns that are zero-width only
    * on NON-empty input (e.g. `\b`, `\b(x)?` — both match zero-width on
    * "x y" yet not on ""), so this probes a spread of sentinel inputs and
    * additionally rejects boundary escapes statically — their zero-width
    * sites are input-dependent in ways a finite probe can miss. */
  private[spark] def canMatchZeroWidth(p: java.util.regex.Pattern): Boolean = {
    if (hasBoundaryEscape(p.pattern)) return true
    val sentinels = Seq("", "x", "x y", "a1_b-2\tc\nd", "..!!,,", "  ", "0x9 Z_", "αβ γδ")
    sentinels.exists { s =>
      val m = p.matcher(s)
      var zero = false
      // Java's find() self-advances past zero-width matches, so this loop
      // terminates even when every position matches empty.
      while (!zero && m.find()) zero = m.start() == m.end()
      zero
    }
  }

  /** Unescaped boundary construct (`\b \B \G \A \z \Z`) anywhere in the
    * pattern source. Conservative: `[\b]` (backspace inside a class) is
    * also rejected — the cost is an interpreter fallback, never a wrong
    * answer. A literal `\\b` (escaped backslash then 'b') is NOT flagged:
    * the scan consumes both chars of every escape. */
  private def hasBoundaryEscape(src: String): Boolean = {
    var i = 0
    while (i < src.length - 1) {
      if (src.charAt(i) == '\\') {
        val c = src.charAt(i + 1)
        if (c == 'b' || c == 'B' || c == 'G' || c == 'A' || c == 'z' || c == 'Z') return true
        i += 2
      } else i += 1
    }
    false
  }
}
