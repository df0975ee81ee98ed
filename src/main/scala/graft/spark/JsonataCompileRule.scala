package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions.{Expression, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.StructType

/** Analyzer rule (injected by [[GraftExtensions]]): rewrite `jsonata_typed`
  * calls whose expression falls in the compiled subset into native Catalyst
  * expressions at PLAN time — the SQL-surface analog of
  * [[JsonataDF.auto]]'s two-tier decision. A SQL user writing
  * `jsonata_typed(named_struct(...), '{...}', 'a INT')` gets whole-stage
  * codegen, constant folding, and filter/column pushdown through the
  * rewritten projection for free; anything outside the subset keeps the
  * interpreted [[JsonataExpression]] unchanged (fallback-by-construction,
  * same two-tier contract as the DataFrame entry point, and the same
  * differential suite pins tier agreement).
  *
  * Mechanics: the expression compiles against the input STRUCT's schema
  * ([[JsonataCompiler.compileForSchema]] — `value.*` paths resolve to struct
  * fields). Compiled outputs arrive as Column trees whose leaves are
  * UnresolvedAttributes; the rule re-roots each of them as nested field
  * extractions OVER THE STRUCT ARGUMENT (never the enclosing plan's scope —
  * a same-named column in the FROM relation must not capture the
  * reference), then leaves analysis to finish resolving the native function
  * nodes — which is why this is a RESOLUTION rule, not an optimizer rule.
  * Output conformance is [[JsonataDF.auto]]'s, one definition
  * ([[JsonataCompiler.CompiledQuery.typed]]). Interpreter semantics preserved:
  * a NULL input struct yields a NULL result row (nullSafeEval), and a
  * compiled tombstone condition (`cond ? {...}`) yields NULL exactly where
  * the engine returns JSON null.
  *
  * Deliberately NOT rewritten: the JSON-STRING surfaces (`jsonata`,
  * `jsonata_row`, `jsonata_row_try`). Their contract is the serialized
  * text itself, and a to_json-based compiled form cannot reproduce the
  * engine serializer byte-for-byte (null-field emission, number
  * rendering across the BigDecimal/double tower) — a rewrite would be
  * faster and WRONG at the contract boundary. Typed output has no such
  * boundary: values compare as values, which is why jsonata_typed is the
  * rewrite target.
  */
case class JsonataCompileRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp { case p =>
      p.transformExpressionsUp {
        case e @ JsonataExpression(child, src, JsonataOutput.Typed(outSchema), Some(_), false, _, _)
            if child.resolved =>
          child.dataType match {
            case st: StructType => rewrite(child, src, st, outSchema).getOrElse(e)
            case _ => e
          }
      }
    }

  private def rewrite(child: Expression, src: String, inSchema: StructType,
                      outSchema: StructType): Option[Expression] = {
    JsonataCompiler.compileForSchema(inSchema, src, JsonataCompiler.utcSession(spark)).map { cq =>
      // Re-root every attribute leaf at the struct argument: the compiler
      // only emits schema-rooted `value.*` references, so every nameParts
      // chain grounds as nested extractions over `child` — a same-named
      // column in the enclosing plan's scope must never capture them.
      def bind(c: org.apache.spark.sql.Column): Expression =
        Shims.expressionEager(c).transformUp {
          case ua: UnresolvedAttribute =>
            ua.nameParts.foldLeft(child) { (acc, part) =>
              UnresolvedExtractValue(acc, Literal(part))
            }
        }
      val structE = bind(org.apache.spark.sql.functions.struct(cq.typed(outSchema): _*))
      val nullRow = Literal(null, outSchema)
      val body = cq.filter.map(f => If(bind(f), structE, nullRow)).getOrElse(structE)
      If(IsNull(child), nullRow, body)
    }
  }
}
