package graft.spark

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType, VariantType}
import org.apache.spark.types.variant.{Variant, VariantBuilder}
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

import graft.connect.JsonataTransform
import graft.jsonata.{Ast, Jsonata, JsonataException, Values}

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
    * steps, transforms, zero-arg context-injected builtins, and 1-arg $eval
    * (whose dynamic expression runs against the call context). A 2-arg $eval
    * evaluates against its explicit context argument only, so it is safe. */
  def referencedValueFields(a: Ast): Option[Set[String]] = {
    var escape = false
    var names = Set.empty[String]
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
      case Call(VarRef("eval"), args) if args.length >= 2 => args.foreach(scan)
      case Call(VarRef("eval"), _) => escape = true
      case Call(proc @ VarRef(fn), args) =>
        // zero-arg contextable builtins read the whole context ($string() etc.);
        // $now/$millis/$random take no input at all
        if (args.isEmpty && !Set("now", "millis", "random")(fn)) escape = true
        else { scan(proc); args.foreach(scan) }
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
    def name: String = "jsonata_row"
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
  * modes: a bad expression is a config error, not a data error.
  */
case class JsonataExpression(
    child: Expression,
    exprSource: String,
    output: JsonataOutput = JsonataOutput.Json,
    topic: Option[String] = None,
    permissive: Boolean = false,
    timeoutMs: Long = 5000L,
    maxDepth: Int = 1000)
  extends UnaryExpression with CodegenFallback {

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

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | VariantType | _: StructType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a JSON string, variant or struct input, got ${dt.sql}")
  }

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
              timeoutMs: Long = 5000L, maxDepth: Int = 1000): Column =
    Shims.column(JsonataExpression(Shims.expression(json), expr,
      timeoutMs = timeoutMs, maxDepth = maxDepth))

  /** Variant-output tier: evaluate against a JSON-string or variant column,
    * return VariantType (see [[JsonataOutput.Variant]]). */
  def jsonataVariant(json: Column, expr: String,
                     timeoutMs: Long = 5000L, maxDepth: Int = 1000): Column =
    Shims.column(JsonataExpression(Shims.expression(json), expr, JsonataOutput.Variant,
      timeoutMs = timeoutMs, maxDepth = maxDepth))

  /** Permissive variant: `struct<out, error>` per record — evaluation errors
    * are captured, never thrown (the DLQ analog; see [[JsonataExpression]]). */
  def jsonataTry(json: Column, expr: String,
                 timeoutMs: Long = 5000L, maxDepth: Int = 1000): Column =
    Shims.column(JsonataExpression(Shims.expression(json), expr, permissive = true,
      timeoutMs = timeoutMs, maxDepth = maxDepth))

  /** Register `jsonata(json, expr)` and `jsonata_try(json, expr)` for SQL use
    * (UDF form: the expression argument is dynamic, so the compile cache does
    * the memoization). `jsonata_try` returns `struct<out, error>` like the
    * permissive Column form. */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("jsonata", (json: String, expr: String) => {
      if (json == null) null
      else {
        val out = JsonataTransform.compile(expr).evaluate(Jsonata.parseJson(json))
        if (out == null || out.isNull) null else Values.jsonSerialize(out, prettify = false)
      }
    })
    spark.udf.register("jsonata_try", (json: String, expr: String) => {
      if (json == null) (null: String, null: String)
      else try {
        val out = JsonataTransform.compile(expr).evaluate(Jsonata.parseJson(json))
        (if (out == null || out.isNull) null else Values.jsonSerialize(out, prettify = false),
          null: String)
      } catch { case e: Exception => (null, recordError(e)) }
    })
    registerNativeSql(spark)
  }

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

  /** Shared native-function builders — ONE definition behind both SQL
    * registration surfaces (post-startup [[registerNativeSql]] and the
    * startup [[GraftExtensions]] catalog injection), so argument validation
    * cannot drift between them. */
  private[spark] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "jsonata" -> {
      case args if args.length >= 2 && args.length <= 4 =>
        JsonataExpression(args.head, foldableString(args(1), "jsonata expression"),
          timeoutMs = if (args.length > 2) foldableLong(args(2), "jsonata timeoutMs") else 5000L,
          maxDepth = if (args.length > 3) foldableLong(args(3), "jsonata maxDepth").toInt else 1000)
      case _ => throw new IllegalArgumentException(
        "jsonata(json, 'expr'[, timeoutMs[, maxDepth]])")
    },
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
    })

  /** Direct-codec SQL surface — the struct path the Column API already has
    * ([[JsonataExpression]] over a struct child), reachable from `spark.sql`:
    *
    *  - `jsonata_row(struct, 'expr')` -> JSON string: the input row is encoded
    *    straight to a Jackson tree (no `to_json`), one serialization on the
    *    way out — 1 text op/record where the string-UDF form needs 3;
    *  - `jsonata_typed(struct, 'expr', 'a INT, b STRING')` -> typed struct:
    *    tree-in/tree-out with the declared schema — 0 text ops/record, the
    *    SQL analog of `JsonataDF.transformAs`. NULL result = tombstone
    *    (filter with `IS NOT NULL`);
    *  - `jsonata_row_try(struct, 'expr')` -> `struct<out, error, record>`:
    *    the permissive per-record error policy (DLQ analog) on the struct
    *    path — poison records yield (null, message, original-envelope JSON)
    *    instead of failing the job.
    *
    * All three wrap the struct as the standard `{topic, kafkaPartition,
    * value}` envelope, matching every other entry point.
    *
    * NOTE: like `spark.udf.register`, this (re)binds the function names
    * session-wide — an explicit, caller-opted API action (the registry demo
    * queries call it), not a hidden side effect; a session temp function the
    * caller already registered under one of these names is replaced. */
  def registerNativeSql(spark: org.apache.spark.sql.SparkSession): Unit =
    // the struct/variant surface only: the name `jsonata` stays bound to the
    // dynamic-expression UDF that registerSql installs (the catalog-extension
    // route, GraftExtensions, binds the native form instead)
    builders.filter(_._1 != "jsonata").foreach { case (name, b) =>
      Shims.registerFunction(spark, name, b)
    }
}
