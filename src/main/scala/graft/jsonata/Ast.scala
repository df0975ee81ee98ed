package graft.jsonata

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.TextNode

/** Post-processed JSONata AST (spec: jsonata.org, v1.8).
  *
  * Paths are first-class: binary `.` chains are flattened into [[Ast.Path]]
  * with per-step predicate stages, `[]` keep-array flags, focus/index bindings
  * (`@$v` / `#$i`) and sort steps — this step-attachment shape is what makes
  * `a.b[0]` ("first b per a") differ from `(a.b)[0]` ("first of all b"), which
  * the reference inherits from the JSONata spec.
  */
sealed trait Ast

object Ast {
  // ---- terminals ----
  final case class NumLit(value: JsonNode) extends Ast
  final case class StrLit(value: String) extends Ast {
    /** The literal's value, built once: a TextNode is immutable. */
    val node: TextNode = TextNode.valueOf(value)
  }
  final case class BoolLit(value: Boolean) extends Ast
  final case class NullLit() extends Ast
  final case class RegexLit(pattern: java.util.regex.Pattern) extends Ast
  /** name = "" for `$` (context), "$" for `$$` (root). */
  final case class VarRef(name: String) extends Ast
  /** Bare/quoted field-name path step. */
  final case class NameStep(name: String) extends Ast
  final case class Wildcard() extends Ast   // *
  final case class Descendant() extends Ast // **
  final case class ParentRef() extends Ast  // %

  // ---- structure ----
  final case class Block(exprs: Vector[Ast]) extends Ast
  final case class Bind(name: String, value: Ast) extends Ast
  final case class Cond(cond: Ast, thenE: Ast, elseE: Option[Ast]) extends Ast
  /** op in + - * / % = != < <= > >= & and or in */
  final case class Binary(op: String, lhs: Ast, rhs: Ast) extends Ast
  final case class UnaryMinus(expr: Ast) extends Ast
  final case class RangeExpr(lhs: Ast, rhs: Ast) extends Ast // ..
  /** Object constructor — always evaluated as a (possibly grouping) aggregation
    * over its context sequence, per the spec's "object-for-each" semantics. */
  final case class ObjCtor(pairs: Vector[(Ast, Ast)]) extends Ast {
    /** Every key is a string literal and no two are equal: no key clash. */
    val distinctLiteralKeys: Boolean = pairs.forall(_._1.isInstanceOf[StrLit]) &&
      pairs.map(_._1.asInstanceOf[StrLit].value).distinct.length == pairs.length
  }
  final case class ArrCtor(items: Vector[Ast]) extends Ast
  final case class Lambda(params: Vector[String], body: Ast, signature: Option[String]) extends Ast
  final case class Call(proc: Ast, args: Vector[Ast]) extends Ast {
    /** A partial application: some argument is a `?` placeholder. */
    val isPartial: Boolean = args.exists(_.isInstanceOf[Placeholder])
  }
  final case class Placeholder() extends Ast // `?` inside partial application
  final case class ApplyOp(lhs: Ast, rhs: Ast) extends Ast // ~>
  final case class TransformExpr(pattern: Ast, update: Ast, deletes: Option[Ast]) extends Ast // |...|...|

  // ---- paths ----
  final case class SortTerm(expr: Ast, descending: Boolean)
  /** Sort as a path step: `a.b^(x)` — operates on the whole accumulated
    * sequence (unlike normal steps, which map per item). */
  final case class SortOpNode(terms: Vector[SortTerm]) extends Ast
  /** A path step; `expr` is a NameStep/Wildcard/Descendant/VarRef/ParentRef or
    * any expression (first step of wrapped non-path sorts/filters).
    * `stages` are predicate filters `[...]` attached at this step; SortStage
    * entries sort the accumulated sequence at this point. */
  final case class Step(
      expr: Ast,
      stages: Vector[Stage] = Vector.empty,
      keepArray: Boolean = false,
      focus: Option[String] = None,  // @$v
      index: Option[String] = None)  // #$i

  sealed trait Stage
  final case class FilterStage(expr: Ast) extends Stage
  final case class SortStage(terms: Vector[SortTerm]) extends Stage
  final case class IndexStage(name: String) extends Stage // #$i appearing after predicates

  final case class Path(
      steps: Vector[Step],
      keepSingletonArray: Boolean = false,
      group: Option[ObjCtor] = None) extends Ast {
    /** Whether the path runs as a tuple stream, which carries each item's
      * ancestors and `@`/`#` bindings: some step binds a focus or index
      * variable, or some step expression or stage reads `%`. */
    lazy val tupleMode: Boolean = steps.exists { s =>
      s.focus.isDefined || s.index.isDefined ||
        s.stages.exists(_.isInstanceOf[IndexStage]) ||
        containsParent(s.expr) ||
        s.stages.exists {
          case FilterStage(e) => containsParent(e)
          case SortStage(ts) => ts.exists(t => containsParent(t.expr))
          case _ => false
        }
    }
  }

  /** Predicates/grouping applied to a non-path expression: `$x[0]`, `$x{...}`. */
  final case class Filtered(base: Ast, stages: Vector[Stage], group: Option[ObjCtor] = None,
      keepArray: Boolean = false) extends Ast

  // ---- static analysis helpers ----

  /** Does this subtree reference `%` (parent) outside of a nested path that
    * would itself resolve it? Conservative: any ParentRef triggers tuple mode. */
  def containsParent(a: Ast): Boolean = a match {
    case ParentRef() => true
    case _ => children(a).exists(containsParent)
  }

  def children(a: Ast): Seq[Ast] = a match {
    case Block(es) => es
    case Bind(_, v) => Seq(v)
    case Cond(c, t, e) => Seq(c, t) ++ e
    case Binary(_, l, r) => Seq(l, r)
    case UnaryMinus(e) => Seq(e)
    case RangeExpr(l, r) => Seq(l, r)
    case ObjCtor(ps) => ps.flatMap(p => Seq(p._1, p._2))
    case ArrCtor(is) => is
    case Lambda(_, b, _) => Seq(b)
    case Call(p, as) => p +: as
    case ApplyOp(l, r) => Seq(l, r)
    case TransformExpr(p, u, d) => Seq(p, u) ++ d
    case Path(steps, _, g) =>
      steps.flatMap(s => s.expr +: s.stages.collect {
        case FilterStage(e) => Seq(e)
        case SortStage(ts) => ts.map(_.expr)
        case IndexStage(_) => Seq.empty
      }.flatten) ++ g.toSeq
    case Filtered(b, stages, g, _) =>
      b +: (stages.collect {
        case FilterStage(e) => Seq(e)
        case SortStage(ts) => ts.map(_.expr)
        case IndexStage(_) => Seq.empty
      }.flatten ++ g.toSeq)
    case SortOpNode(ts) => ts.map(_.expr)
    case _ => Seq.empty
  }
}
