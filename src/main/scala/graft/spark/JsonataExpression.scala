package graft.spark

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType, VariantType}
import org.apache.spark.types.variant.{Variant, VariantBuilder}
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

import graft.connect.JsonataTransform
import graft.connect.JsonataTransform.Config
import graft.jsonata.{Ast, Functions, Jsonata, JsonataException, Values}

/** Static analysis over a compiled JSONata AST, used for Catalyst integration:
  *
  *  - determinism: expressions touching $random/$shuffle/$now/$millis/$eval
  *    must not be constant-folded or re-executed assuming stable results
  *    (SURVEY.md §4.1);
  *  - envelope field pruning: if the expression provably never references an
  *    envelope field (no `$`/`$$`/wildcard/descendant/parent escape, no
  *    object-introspection builtins, and the name never appears as a path
  *    step), the field can be dropped before serialization (SURVEY.md §4.2).
  */
object JsonataAnalysis {
  import Ast._

  private val nondetFns = Set("random", "shuffle", "now", "millis", "eval")

  private def walk(a: Ast)(f: Ast => Unit): Unit = { f(a); Ast.children(a).foreach(walk(_)(f)) }

  def isDeterministic(a: Ast): Boolean = {
    var det = true
    walk(a) {
      case VarRef(n) if nondetFns(n) => det = false
      case _ =>
    }
    det
  }

  /** Which fields of the envelope's `value` object can the expression read?
    * None = all of them (the expression reaches `value` — or the whole
    * envelope — without naming sub-fields); Some(names) = a sound superset.
    *
    * Soundness argument: `value`'s sub-fields can only be reached (a) by a
    * path step immediately following a `value` step — those names are
    * collected — or (b) by obtaining the `value` object (or the envelope root)
    * wholesale and introspecting it. Case (b) escapes: a path that *ends* at
    * `value` (including bare `value` used as a function argument), a `value`
    * step carrying predicates/bindings, `$`/`$$`, wildcard/descendant/parent
    * steps, transforms, calls that may take the context as an argument
    * (`takesContext`), lambdas whose signature takes an argument from the
    * context, and 1-arg $eval (whose dynamic expression runs against the
    * call context). A 2-arg $eval evaluates against its explicit context
    * argument only, so it is safe. */
  def referencedValueFields(a: Ast): Option[Set[String]] = {
    var escape = false
    var names = Set.empty[String]
    // names that may hold any function: bound to a non-lambda, or a lambda parameter
    var rebound = Set.empty[String]
    var lambdas = Set.empty[String]
    walk(a) {
      case Bind(n, _: Lambda) => lambdas += n
      case Bind(n, _) => rebound += n
      case Lambda(ps, _, _) => rebound ++= ps
      case _ =>
    }
    /** Whether calling the function `proc` with `args` may pass it the
      * context. With no arguments it may (bar the input-free builtins). A
      * builtin takes the context for its contextable first parameter when
      * the first argument does not fit it (`Builtin.call`). Only an object
      * parameter (`$sift`, `$each`) or `$number`'s any-JSON one can take
      * the envelope or `value` that way: a string, number or boolean
      * context is a value that the path to it already named. A data first
      * argument never lets the context in: it fits an any-JSON parameter,
      * and when it does not fit an object one it moves on to the function
      * parameter after it, which raises T0410 whatever the context holds.
      * A lambda runs a body that is scanned itself; any other function may
      * be such a builtin, so its first argument must be data. */
    def takesContext(proc: Ast, args: Vector[Ast]): Boolean = proc match {
      case VarRef("eval") if !rebound("eval") => args.length < 2 // runs against the call's context
      case VarRef(fn) if args.isEmpty => !Set("now", "millis", "random")(fn)
      case _ if args.isEmpty => true
      case _: Lambda => false
      case VarRef(fn) if lambdas(fn) && !rebound(fn) => false
      case VarRef(fn) if builtins.contains(fn) && !rebound(fn) =>
        builtins(fn).params.headOption.exists(p => p.contextable && (p.kind match {
          case 'o' | 'j' => !surelyData(args(0))
          case _ => false
        }))
      case _ => !surelyData(args(0))
    }
    def scanPath(steps: Vector[Step]): Unit =
      steps.zipWithIndex.foreach { case (st, i) =>
        st.expr match {
          case NameStep("value") =>
            if (st.stages.nonEmpty || st.focus.isDefined || st.index.isDefined) escape = true
            else if (i + 1 < steps.length) steps(i + 1).expr match {
              case NameStep(n) => names += n
              case _ => escape = true
            }
            else escape = true // path yields the whole value object
          case _ =>
        }
      }
    def scan(node: Ast): Unit = node match {
      case c: Call =>
        if (takesContext(c.proc, c.args)) escape = true
        else { scan(c.proc); c.args.foreach(scan) }
      case ApplyOp(l, r) =>
        // `l ~> f(args)` calls f(l, args); `l ~> f(?, args)` fills the gap with l; `l ~> f` calls f(l)
        val (proc, args) = r match {
          case c: Call if c.isPartial => (c.proc, c.args.updated(c.args.indexWhere(_.isInstanceOf[Placeholder]), l))
          case c: Call => (c.proc, l +: c.args)
          case f => (f, Vector(l))
        }
        if (takesContext(proc, args)) escape = true
        else { scan(proc); args.foreach(scan) }
      case Lambda(_, _, Some(sig)) if sig.contains('-') => escape = true
      case VarRef("") | VarRef("$") => escape = true // $ / $$ expose the whole envelope
      case Wildcard() | Descendant() | ParentRef() => escape = true
      case TransformExpr(_, _, _) => escape = true
      case NameStep("value") => escape = true // bare `value` outside a path
      case p: Path =>
        scanPath(p.steps)
        // recurse into non-name step exprs, stages and the group
        p.steps.foreach { st =>
          st.expr match {
            case NameStep(_) =>
            case e => scan(e)
          }
          st.stages.foreach {
            case FilterStage(e) => scan(e)
            case SortStage(ts) => ts.foreach(t => scan(t.expr))
            case IndexStage(_) =>
          }
        }
        p.group.foreach(scan)
      case other => Ast.children(other).foreach(scan)
    }
    scan(a)
    if (escape) None else Some(names)
  }

  private lazy val builtins = Functions.all.map(b => b.name -> b).toMap

  /** Whether `a` never evaluates to a function. */
  private def surelyData(a: Ast): Boolean = a match {
    case _: NumLit | _: StrLit | _: BoolLit | _: NullLit | _: NameStep | _: Binary | _: UnaryMinus |
         _: RangeExpr | _: ObjCtor | _: ArrCtor => true
    case p: Path => p.group.isDefined || p.steps.forall(_.expr.isInstanceOf[NameStep])
    case _ => false
  }
}

/** Output codec of [[JsonataExpression]]: the Catalyst type a non-null
  * result tree becomes, and the conversion into it. */
sealed trait JsonataOutput extends Serializable {
  def dataType: DataType
  def encode(out: JsonNode): Any
  /** SQL-facing evaluator name (plan strings, type-check messages). */
  def name: String
}

object JsonataOutput {
  /** Compact JSON text — the engine serializer, byte for byte. */
  case object Json extends JsonataOutput {
    def dataType: DataType = StringType
    def encode(out: JsonNode): Any = UTF8String.fromString(Values.jsonSerialize(out, prettify = false))
    def name: String = "jsonata"
  }

  /** A declared struct decoded straight from the tree — no JSON text. */
  final case class Typed(schema: StructType) extends JsonataOutput {
    def dataType: DataType = schema
    def encode(out: JsonNode): Any = RowJson.jsonToRow(out, schema)
    def name: String = "jsonata_typed"
  }

  /** Spark's binary variant (SURVEY.md §1.4 variant envelope tier): the tree
    * feeds VariantBuilder through a tree-traversing parser, so no JSON text
    * is produced, and downstream access stays native `variant_get`. */
  case object Variant extends JsonataOutput {
    def dataType: DataType = VariantType
    def encode(out: JsonNode): Any = {
      val p = out.traverse()
      p.nextToken() // position on the first token (the String overload does this itself)
      val v = VariantBuilder.parseJson(p, false)
      new VariantVal(v.getValue, v.getMetadata)
    }
    def name: String = "jsonata_variant"
  }
}

/** The interpreted JSONata operator as one Catalyst expression: decode the
  * input to a Jackson tree, evaluate, encode the result through `output`,
  * and return null for "no match" or a JSON-null result (tombstone) — the
  * reference's tree-in/tree-out apply() (JsonataTransformation.java:133-156,
  * 295-297; SURVEY.md §2.A A1/A3).
  *
  * The input side follows the child's type: a JSON string is parsed, a
  * variant is walked directly ([[VariantJson]]), a struct is converted
  * straight from the InternalRow ([[RowJson]]) with no `to_json`. With
  * `topic` set the tree becomes the `value` of a `{topic, kafkaPartition,
  * value}` envelope; without it the tree is the evaluator's input as is (the
  * string/variant surfaces, and `transformRecords`, whose row already is the
  * record).
  *
  * CodegenFallback (the evaluator is interpreted), null-tolerant. The
  * compiled AST lives in a per-JVM cache keyed by source, so executors
  * compile once (SURVEY.md §2.A A12); input and output dispatch resolve once
  * per instance, not per record.
  *
  * `permissive = true` is the per-record error policy (the Spark analog of
  * Connect's errors.tolerance=all + DLQ routing around the reference's
  * DataException wrap, JsonataTransformation.java:96-107): the result becomes
  * `struct<out, error>`, and a record whose evaluation raises — type error,
  * timeout, depth overflow, malformed input JSON — yields (null, message)
  * instead of failing the job. On struct input a third field, `record`,
  * carries the evaluator's input serialized, ONLY on error rows (DLQ
  * replay). Expression *parse* errors still throw at analysis time in both
  * modes: a bad expression is a config error, not a data error. So do limits
  * out of range: they are checked at construction through Connect's
  * [[JsonataTransform.Config]].
  */
case class JsonataExpression(
    child: Expression,
    exprSource: String,
    output: JsonataOutput = JsonataOutput.Json,
    topic: Option[String] = None,
    permissive: Boolean = false,
    timeoutMs: Long = Config.DefaultTimeoutMs,
    maxDepth: Int = Config.DefaultMaxDepth)
  extends UnaryExpression with CodegenFallback {

  Config(exprSource, timeoutMs, maxDepth) // rejects out-of-range limits

  @transient private lazy val compiled = JsonataTransform.compile(exprSource)

  /** Input side, resolved once: the child value as the evaluator's input. */
  @transient private lazy val decode: Any => JsonNode = {
    val tree: Any => JsonNode = child.dataType match {
      case st: StructType => in => RowJson.rowToJson(in.asInstanceOf[InternalRow], st)
      case VariantType => in => {
        val vv = in.asInstanceOf[VariantVal]
        VariantJson.toJsonNode(new Variant(vv.getValue, vv.getMetadata))
      }
      case _ => in => Jsonata.parseJsonBytes(in.asInstanceOf[UTF8String].getBytes)
    }
    topic match {
      case None => tree
      case Some(t) => in => {
        val env = JsonNodeFactory.instance.objectNode()
        env.put("topic", t)
        env.put("kafkaPartition", 0)
        env.set[JsonNode]("value", tree(in))
        env
      }
    }
  }

  /** Permissive rows keep the failed record only where the input is a struct
    * (a string input already is the record's text). */
  @transient private lazy val withRecord = child.dataType.isInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult =
    JsonataFunctions.inputError(prettyName, child.dataType)
      .map(TypeCheckResult.TypeCheckFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)

  override def dataType: DataType =
    if (!permissive) output.dataType
    else StructType(Seq(StructField("out", output.dataType), StructField("error", StringType)) ++
      (if (withRecord) Seq(StructField("record", StringType)) else Nil))
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean =
    JsonataAnalysis.isDeterministic(compiled.ast) && child.deterministic

  private def evalOne(tree: JsonNode): Any = {
    val out = compiled.evaluate(tree, timeoutMs, maxDepth)
    // no-match AND explicit null both drop the record (reference
    // jsonNodeToRecord:295-297 treats a JSON-null result as a tombstone)
    if (out == null || out.isNull) null else output.encode(out)
  }

  override def nullSafeEval(input: Any): Any =
    if (!permissive) evalOne(decode(input))
    else {
      var tree: JsonNode = null // the JSON parse stays inside the try
      try {
        tree = decode(input)
        if (withRecord) InternalRow(evalOne(tree), null, null) else InternalRow(evalOne(tree), null)
      } catch { case e: Exception => failed(JsonataFunctions.recordError(e), tree) }
    }

  private def failed(error: String, tree: JsonNode): InternalRow =
    if (!withRecord) InternalRow(null, UTF8String.fromString(error))
    else InternalRow(null, UTF8String.fromString(error),
      if (tree == null) null else UTF8String.fromString(Values.jsonSerialize(tree, prettify = false)))

  override def prettyName: String = if (permissive) "jsonata_try" else output.name
  override protected def withNewChildInternal(newChild: Expression): JsonataExpression =
    copy(child = newChild)
}

object JsonataFunctions {
  import org.apache.spark.sql.graftshim.Shims

  /** The permissive policy's message for a record that failed: an
    * evaluation error, or input text that is not JSON. Any other failure is
    * not the record's fault and is rethrown. */
  private[spark] def recordError(e: Exception): String = e match {
    case e: JsonataException => s"Could not evaluate expression: ${e.getMessage}"
    case e: JacksonException => s"Could not parse record JSON: ${e.getMessage}"
    case _ => throw e
  }

  /** Column function: evaluate a JSONata expression against a JSON-string column. */
  def jsonata(json: Column, expr: String,
              timeoutMs: Long = Config.DefaultTimeoutMs,
              maxDepth: Int = Config.DefaultMaxDepth): Column =
    Shims.column(JsonataExpression(Shims.expression(json), expr,
      timeoutMs = timeoutMs, maxDepth = maxDepth))

  /** Variant-output tier: evaluate against a JSON-string or variant column,
    * return VariantType (see [[JsonataOutput.Variant]]). */
  def jsonataVariant(json: Column, expr: String,
                     timeoutMs: Long = Config.DefaultTimeoutMs,
                     maxDepth: Int = Config.DefaultMaxDepth): Column =
    Shims.column(JsonataExpression(Shims.expression(json), expr, JsonataOutput.Variant,
      timeoutMs = timeoutMs, maxDepth = maxDepth))

  /** Permissive variant: `struct<out, error>` per record — evaluation errors
    * are captured, never thrown (the DLQ analog; see [[JsonataExpression]]). */
  def jsonataTry(json: Column, expr: String,
                 timeoutMs: Long = Config.DefaultTimeoutMs,
                 maxDepth: Int = Config.DefaultMaxDepth): Column =
    Shims.column(JsonataExpression(Shims.expression(json), expr, permissive = true,
      timeoutMs = timeoutMs, maxDepth = maxDepth))

  /** Extract a foldable string argument (the JSONata source / output DDL must
    * be a literal — it shapes the plan, it cannot vary per row). */
  private def foldableString(e: Expression, what: String): String = e match {
    case lit if lit.foldable && lit.dataType == StringType =>
      val v = lit.eval(null)
      if (v == null) throw new IllegalArgumentException(s"$what must not be NULL")
      v.toString
    case _ => throw new IllegalArgumentException(
      s"$what must be a string literal, got ${e.sql}")
  }

  private def foldableLong(e: Expression, what: String): Long = e match {
    case lit if lit.foldable =>
      val v = lit.eval(null)
      if (v == null) throw new IllegalArgumentException(s"$what must not be NULL")
      v.toString.toLong
    case _ => throw new IllegalArgumentException(s"$what must be a literal, got ${e.sql}")
  }

  /** `name(json, 'expr'[, timeoutMs[, maxDepth]])`: the JSON-text surface,
    * strict (`jsonata`) or permissive (`jsonata_try`). */
  private def jsonText(name: String, permissive: Boolean): Seq[Expression] => Expression = {
    case args if args.length >= 2 && args.length <= 4 =>
      JsonataExpression(args.head, foldableString(args(1), s"$name expression"),
        permissive = permissive,
        timeoutMs = args.lift(2).fold(Config.DefaultTimeoutMs)(foldableLong(_, s"$name timeoutMs")),
        maxDepth = args.lift(3).fold(Config.DefaultMaxDepth)(foldableLong(_, s"$name maxDepth").toInt))
    case _ => throw new IllegalArgumentException(s"$name(json, 'expr'[, timeoutMs[, maxDepth]])")
  }

  /** Shared native-function builders — ONE definition behind both SQL
    * registration surfaces (post-startup [[registerNativeSql]] and the
    * startup [[GraftExtensions]] catalog injection), so argument validation
    * cannot drift between them. */
  private[spark] val builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, Seq[Expression] => Expression)](
    "jsonata" -> jsonText("jsonata", permissive = false),
    "jsonata_try" -> jsonText("jsonata_try", permissive = true),
    "jsonata_row" -> {
      case Seq(child, exprArg) =>
        JsonataExpression(child, foldableString(exprArg, "jsonata_row expression"),
          topic = Some("rows"))
      case args => throw new IllegalArgumentException(
        s"jsonata_row(struct, 'expr') takes 2 arguments, got ${args.length}")
    },
    "jsonata_row_try" -> {
      case Seq(child, exprArg) =>
        JsonataExpression(child, foldableString(exprArg, "jsonata_row_try expression"),
          topic = Some("rows"), permissive = true)
      case args => throw new IllegalArgumentException(
        s"jsonata_row_try(struct, 'expr') takes 2 arguments, got ${args.length}")
    },
    "jsonata_typed" -> {
      case Seq(child, exprArg, ddlArg) =>
        JsonataExpression(child, foldableString(exprArg, "jsonata_typed expression"),
          JsonataOutput.Typed(
            StructType.fromDDL(foldableString(ddlArg, "jsonata_typed output schema"))),
          topic = Some("rows"))
      case args => throw new IllegalArgumentException(
        s"jsonata_typed(struct, 'expr', 'ddl') takes 3 arguments, got ${args.length}")
    },
    "jsonata_variant" -> {
      case Seq(child, exprArg) =>
        JsonataExpression(child, foldableString(exprArg, "jsonata_variant expression"),
          JsonataOutput.Variant)
      case args => throw new IllegalArgumentException(
        s"jsonata_variant(json_or_variant, 'expr') takes 2 arguments, got ${args.length}")
    }).map { case (name, build) => name -> inputChecked(name, build) }

  /** Why `name` cannot take an input of type `dt`; none for the types an
    * evaluator reads. */
  private[spark] def inputError(name: String, dt: DataType): Option[String] = dt match {
    case StringType | VariantType | _: StructType => None
    case _ => Some(s"$name requires a JSON string, variant or struct input, got ${dt.sql}")
  }

  /** `build`, after the input type check. A SQL call fails it naming the
    * function the user called, where the expression's own check could only
    * name its `prettyName`, which plan strings show. */
  private def inputChecked(name: String, build: Seq[Expression] => Expression)(
      args: Seq[Expression]): Expression = {
    args.headOption.filter(_.resolved).flatMap(a => inputError(name, a.dataType)).foreach { msg =>
      throw new AnalysisException("DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT", Map(
        "sqlExpr" -> s""""$name(${args.map(_.sql).mkString(", ")})"""", "msg" -> msg, "hint" -> ""))
    }
    build(args)
  }

  /** The native SQL surface, reachable from `spark.sql` — every entry of
    * [[builders]]:
    *
    *  - `jsonata(json, 'expr'[, timeoutMs[, maxDepth]])` -> JSON string, and
    *    `jsonata_try(json, ...)` -> `struct<out, error>` (the permissive
    *    policy; a struct input adds `record`), over a JSON string, variant
    *    or struct;
    *  - `jsonata_row(struct, 'expr')` -> JSON string: the input row is encoded
    *    straight to a Jackson tree (no `to_json`), one serialization on the
    *    way out — 1 text op/record where a `to_json` string input needs 3;
    *  - `jsonata_typed(struct, 'expr', 'a INT, b STRING')` -> typed struct:
    *    tree-in/tree-out with the declared schema — 0 text ops/record, the
    *    SQL analog of `JsonataDF.transformAs`. NULL result = tombstone
    *    (filter with `IS NOT NULL`);
    *  - `jsonata_row_try(struct, 'expr')` -> `struct<out, error, record>`:
    *    the permissive per-record error policy (DLQ analog) on the struct
    *    path — poison records yield (null, message, original-envelope JSON)
    *    instead of failing the job.
    *
    * The three `jsonata_row*`/`jsonata_typed` forms wrap the struct as the
    * standard `{topic, kafkaPartition, value}` envelope, matching every
    * other entry point.
    *
    * NOTE: like registering a UDF, this (re)binds the function names
    * session-wide — an explicit, caller-opted API action (the registry demo
    * queries call it), not a hidden side effect; a session temp function the
    * caller already registered under one of these names is replaced. */
  def registerNativeSql(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, b) => Shims.registerFunction(spark, name, b) }
}
