package graft.jsonata

import com.fasterxml.jackson.databind.node.{DoubleNode, LongNode}
import scala.collection.mutable.ArrayBuffer

/** Pratt (top-down operator precedence) parser for JSONata 1.8 — the same
  * parsing technique the public jsonata-js implementation documents. Produces
  * the post-processed AST of [[Ast]] directly: `.`-chains become Paths with
  * per-step predicate stages, sorts become sort steps, `@`/`#` become
  * focus/index bindings on steps.
  *
  * The reference exposes this whole language by delegating to a JSONata
  * library (reference JsonataTransformation.java:68); this is a from-scratch
  * Scala implementation of the published grammar.
  */
object Parser {
  import Ast._

  /** Binding powers (jsonata.org grammar operator precedences). */
  private val bp: Map[String, Int] = Map(
    "." -> 75, "[" -> 80, "]" -> 0, "{" -> 70, "}" -> 0, "(" -> 80, ")" -> 0,
    "," -> 0, "@" -> 80, "#" -> 80, ";" -> 0, ":" -> 0, "?" -> 20,
    "+" -> 50, "-" -> 50, "*" -> 60, "/" -> 60, "%" -> 60, "|" -> 0,
    "=" -> 40, "<" -> 40, ">" -> 40, "^" -> 40, "**" -> 60,
    ".." -> 20, ":=" -> 10, "!=" -> 40, "<=" -> 40, ">=" -> 40, "~>" -> 40,
    "and" -> 30, "or" -> 25, "in" -> 40, "&" -> 50, "!" -> 0, "~" -> 0)

  /** Deepest nesting of sub-expressions the parser accepts. Each level costs
    * stack frames in the parser and more in the evaluator, so without a
    * bound a pathological source (20,000 nested parentheses) overflows the
    * thread stack; the bound turns that into a coded parse error. It sits
    * below what the evaluator runs on a 1 MB stack (the JVM's default thread
    * stack), measured interpreted and JIT-compiled on JDK 17, x86-64: about
    * 900 levels of parentheses, 740 of array constructors, 600 of nested
    * bracket predicates. So an expression that parses also evaluates,
    * instead of failing every record with U1001. This is unrelated to
    * `max.depth`, which bounds lambda recursion at run time. */
  val MaxNesting = 500

  /** Parse; a thread stack too small for even [[MaxNesting]] levels gets the
    * same coded error rather than a raw StackOverflowError. */
  def parse(source: String): Ast =
    try new Parser(source).parseAll()
    catch {
      case _: StackOverflowError =>
        throw new JsonataException("S0218", "expression nests too deeply for the thread stack")
    }

  private final class Parser(source: String) {
    private val lexer = new Lexer(source)
    private var cur: Token = fetch()
    private var nesting = 0

    private def fetch(): Token = {
      val t = lexer.next()
      t match {
        // keyword conversions (the published grammar does these in the tokenizer)
        case Token("name", "and", p) => Token("operator", "and", p)
        case Token("name", "or", p)  => Token("operator", "or", p)
        case Token("name", "in", p)  => Token("operator", "in", p)
        case Token("name", "true", p)  => Token("value", true, p)
        case Token("name", "false", p) => Token("value", false, p)
        case Token("name", "null", p)  => Token("value", null, p)
        case other => other
      }
    }

    private def advance(expectOp: String = null): Token = {
      if (expectOp != null && !cur.isOp(expectOp))
        throw new JsonataException("S0202", s"expected '$expectOp', got '${cur.value}'", cur.pos)
      val t = cur
      cur = fetch()
      t
    }

    private def lbp(t: Token): Int = t match {
      case Token("operator", v: String, _) => bp.getOrElse(v, 0)
      case Token("end", _, _) => 0
      case _ => 0 // terminals never bind left
    }

    def parseAll(): Ast = {
      val e = expression(0)
      if (cur.typ != "end")
        throw new JsonataException("S0201", s"syntax error: unexpected '${cur.value}'", cur.pos)
      e
    }

    def expression(rbp: Int): Ast = {
      nesting += 1
      if (nesting > MaxNesting)
        throw new JsonataException("S0218",
          s"expression nests deeper than $MaxNesting levels", cur.pos)
      var t = advance()
      var left = nud(t)
      while (rbp < lbp(cur)) {
        t = advance()
        left = led(t, left)
      }
      nesting -= 1
      left
    }

    // ---- prefix position ----
    private def nud(t: Token): Ast = t match {
      case Token("number", s: String, pos) => NumLit(parseNumber(s, pos))
      case Token("string", s: String, _) => StrLit(s)
      case Token("value", true, _) => BoolLit(true)
      case Token("value", false, _) => BoolLit(false)
      case Token("value", null, _) => NullLit()
      case Token("regex", p: java.util.regex.Pattern, _) => RegexLit(p)
      case Token("variable", name: String, _) => VarRef(name)
      case Token("name", name: String, _) => NameStep(name)
      case Token("operator", "-", _) => UnaryMinus(expression(70))
      case Token("operator", "*", _) => Wildcard()
      case Token("operator", "**", _) => Descendant()
      case Token("operator", "%", _) => ParentRef()
      case Token("operator", "?", _) => Placeholder()
      case Token("operator", "(", _) => parseBlock()
      case Token("operator", "[", _) => parseArrayCtor()
      case Token("operator", "{", _) => ObjCtor(parseObjectPairs())
      case Token("operator", "|", _) => parseTransform()
      case Token("operator", v, pos) =>
        throw new JsonataException("S0211", s"'$v' cannot be used as a unary operator", pos)
      case Token("end", _, pos) =>
        throw new JsonataException("S0207", "unexpected end of expression", pos)
      case other =>
        throw new JsonataException("S0201", s"unexpected token '${other.value}'", other.pos)
    }

    // ---- infix position ----
    private def led(t: Token, left: Ast): Ast = t match {
      case Token("operator", ".", _) => ledDot(left)
      case Token("operator", "[", _) => ledPredicate(left)
      case Token("operator", "{", _) => ledGroup(left)
      case Token("operator", "(", pos) => ledCall(left, pos)
      case Token("operator", "^", _) => ledSort(left)
      case Token("operator", "@", pos) => ledFocus(left, pos)
      case Token("operator", "#", pos) => ledIndex(left, pos)
      case Token("operator", "?", _) =>
        val thenE = expression(0)
        val elseE = if (cur.isOp(":")) { advance(":"); Some(expression(0)) } else None
        Cond(left, thenE, elseE)
      case Token("operator", ":=", pos) =>
        left match {
          case VarRef(name) => Bind(name, expression(bp(":=") - 1)) // right-assoc
          case _ => throw new JsonataException("S0212", "left side of := must be a variable", pos)
        }
      case Token("operator", "~>", _) =>
        val rhs = expression(bp("~>"))
        ApplyOp(left, rhs)
      case Token("operator", "..", _) => RangeExpr(left, expression(bp("..")))
      case Token("operator", op: String, _)
          if Set("+", "-", "*", "/", "%", "=", "!=", "<", "<=", ">", ">=", "&", "and", "or", "in")(op) =>
        Binary(op, left, expression(bp(op)))
      case Token("operator", v, pos) =>
        throw new JsonataException("S0201", s"'$v' is not a binary operator", pos)
      case other =>
        throw new JsonataException("S0201", s"unexpected token '${other.value}'", other.pos)
    }

    // ---- helpers ----

    private def parseNumber(s: String, pos: Int): com.fasterxml.jackson.databind.JsonNode = {
      if (!s.contains('.') && !s.contains('e') && !s.contains('E')) {
        try LongNode.valueOf(java.lang.Long.parseLong(s))
        catch { case _: NumberFormatException => DoubleNode.valueOf(s.toDouble) }
      } else DoubleNode.valueOf(s.toDouble)
    }

    /** `(` already consumed: block `(e1; e2; ...)` — also plain parenthesis. */
    private def parseBlock(): Ast = {
      val exprs = ArrayBuffer[Ast]()
      if (!cur.isOp(")")) {
        exprs += expression(0)
        while (cur.isOp(";")) { advance(";"); if (!cur.isOp(")")) exprs += expression(0) }
      }
      advance(")")
      Block(exprs.toVector)
    }

    private def parseArrayCtor(): Ast = {
      val items = ArrayBuffer[Ast]()
      if (!cur.isOp("]")) {
        items += expression(0)
        while (cur.isOp(",")) { advance(","); items += expression(0) }
      }
      advance("]")
      ArrCtor(items.toVector)
    }

    private def parseObjectPairs(): Vector[(Ast, Ast)] = {
      val pairs = ArrayBuffer[(Ast, Ast)]()
      if (!cur.isOp("}")) {
        def pair(): Unit = {
          val k = expression(0)
          advance(":")
          val v = expression(0)
          pairs += ((k, v))
        }
        pair()
        while (cur.isOp(",")) { advance(","); pair() }
      }
      advance("}")
      pairs.toVector
    }

    /** `|` already consumed: `| pattern | update [, deletes] |`. */
    private def parseTransform(): Ast = {
      val pattern = expression(0)
      advance("|")
      val update = expression(0)
      val deletes = if (cur.isOp(",")) { advance(","); Some(expression(0)) } else None
      advance("|")
      TransformExpr(pattern, update, deletes)
    }

    private def toPath(a: Ast): Path = a match {
      case p: Path if p.group.isEmpty => p
      case NameStep(_) | Wildcard() | Descendant() | ParentRef() => Path(Vector(Step(a)))
      case other => Path(Vector(Step(other)))
    }

    private def ledDot(left: Ast): Ast = {
      val rhs = expression(bp("."))
      rhs match {
        case NumLit(_) | StrLit(_) | BoolLit(_) | NullLit() | RegexLit(_) =>
          throw new JsonataException("S0213", "literal cannot be used as a path step", cur.pos)
        case _ =>
      }
      val base = left match {
        case p: Path if p.group.isEmpty => p
        case _ => Path(Vector(Step(left)))
      }
      rhs match {
        case q: Path if q.group.isEmpty =>
          base.copy(steps = base.steps ++ q.steps,
            keepSingletonArray = base.keepSingletonArray || q.keepSingletonArray)
        case _ =>
          base.copy(steps = base.steps :+ Step(rhs))
      }
    }

    private def ledPredicate(left: Ast): Ast = {
      if (cur.isOp("]")) { // `expr[]` — keep singleton arrays
        advance("]")
        left match {
          case p: Path if p.group.isEmpty =>
            val last = p.steps.last.copy(keepArray = true)
            p.copy(steps = p.steps.init :+ last, keepSingletonArray = true)
          case NameStep(_) | Wildcard() | Descendant() =>
            toPath(left).copy(keepSingletonArray = true)
          case Filtered(b, stages, None, _) => Filtered(b, stages, None, keepArray = true)
          case other => Filtered(other, Vector.empty, None, keepArray = true) // `$x[]`
        }
      } else {
        val pred = expression(0)
        advance("]")
        left match {
          case p: Path if p.group.isEmpty =>
            val last = p.steps.last
            p.copy(steps = p.steps.init :+ last.copy(stages = last.stages :+ FilterStage(pred)))
          case NameStep(_) | Wildcard() | Descendant() =>
            val p = toPath(left)
            val last = p.steps.last
            p.copy(steps = Vector(last.copy(stages = last.stages :+ FilterStage(pred))))
          case Filtered(b, stages, None, ka) => Filtered(b, stages :+ FilterStage(pred), None, ka)
          case other => Filtered(other, Vector(FilterStage(pred)))
        }
      }
    }

    private def ledGroup(left: Ast): Ast = {
      val ctor = ObjCtor(parseObjectPairs())
      left match {
        case p: Path if p.group.isEmpty => p.copy(group = Some(ctor))
        case NameStep(_) | Wildcard() | Descendant() => toPath(left).copy(group = Some(ctor))
        case Filtered(b, stages, None, ka) => Filtered(b, stages, Some(ctor), ka)
        case other => Filtered(other, Vector.empty, Some(ctor))
      }
    }

    private def ledSort(left: Ast): Ast = {
      advance("(")
      val terms = ArrayBuffer[SortTerm]()
      def term(): Unit = {
        var desc = false
        if (cur.isOp("<")) advance("<")
        else if (cur.isOp(">")) { desc = true; advance(">") }
        terms += SortTerm(expression(0), desc)
      }
      term()
      while (cur.isOp(",")) { advance(","); term() }
      advance(")")
      val p = toPath(left)
      p.copy(steps = p.steps :+ Step(SortOpNode(terms.toVector)))
    }

    private def ledFocus(left: Ast, pos: Int): Ast = {
      val rhs = expression(bp("@"))
      rhs match {
        case VarRef(name) if name.nonEmpty && name != "$" =>
          val p = toPath(left)
          val last = p.steps.last
          if (last.stages.nonEmpty)
            throw new JsonataException("S0215", "focus binding must come before predicates", pos)
          p.copy(steps = p.steps.init :+ last.copy(focus = Some(name)))
        case _ => throw new JsonataException("S0214", "right side of @ must be a variable name", pos)
      }
    }

    private def ledIndex(left: Ast, pos: Int): Ast = {
      val rhs = expression(bp("#"))
      rhs match {
        case VarRef(name) if name.nonEmpty && name != "$" =>
          val p = toPath(left)
          val last = p.steps.last
          if (last.stages.nonEmpty)
            p.copy(steps = p.steps.init :+ last.copy(stages = last.stages :+ IndexStage(name)))
          else p.copy(steps = p.steps.init :+ last.copy(index = Some(name)))
        case _ => throw new JsonataException("S0214", "right side of # must be a variable name", pos)
      }
    }

    private def ledCall(left: Ast, pos: Int): Ast = {
      // lambda definition: function($a, $b) [<sig>] { body }
      val isLambdaDef = left match {
        case NameStep("function") | NameStep("λ") => true
        case _ => false
      }
      val args = ArrayBuffer[Ast]()
      if (!cur.isOp(")")) {
        args += expression(0)
        while (cur.isOp(",")) { advance(","); args += expression(0) }
      }
      advance(")")
      if (isLambdaDef) {
        val params = args.map {
          case VarRef(n) if n.nonEmpty => n
          case _ => throw new JsonataException("S0208", "lambda parameters must be variables", pos)
        }.toVector
        var signature: Option[String] = None
        if (cur.isOp("<")) { // typed signature — collect raw tokens to matching '>'
          advance("<")
          val sb = new StringBuilder("<")
          var depth = 1
          while (depth > 0) {
            if (cur.typ == "end") throw new JsonataException("S0203", "unterminated signature", pos)
            if (cur.isOp("<")) depth += 1
            if (cur.isOp(">")) depth -= 1
            if (depth > 0) sb.append(cur.value.toString)
            advance()
          }
          sb.append(">")
          signature = Some(sb.toString)
        }
        advance("{")
        val body = expression(0)
        advance("}")
        Lambda(params, body, signature)
      } else Call(left, args.toVector)
    }
  }
}
