package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions (`spark.sql.extensions=graft.spark.GraftExtensions`):
  * registers the jsonata surface as NATIVE functions in the catalog — the
  * expression string is extracted at plan time, the AST compiles once on the
  * driver, limits are checked at analysis, and determinism flags participate
  * in Catalyst optimization (constant folding is blocked for $random et al.,
  * SURVEY.md §4.1):
  *
  *  - `jsonata(json, 'expr'[, timeoutMs[, maxDepth]])` → JSON string
  *  - `jsonata_try(json, 'expr'[, timeoutMs[, maxDepth]])` →
  *    `struct<out, error>` (per-record error policy)
  *  - `jsonata_row(struct, 'expr')` → JSON string (struct input, no to_json)
  *  - `jsonata_row_try(struct, 'expr')` → `struct<out, error, record>`
  *  - `jsonata_typed(struct, 'expr', 'a INT, b STRING')` → typed struct
  *    (direct codec both ways, zero JSON text ops)
  *  - `jsonata_variant(json_or_variant, 'expr')` → VariantType (binary
  *    dynamic format; input variants are walked directly, no text)
  *
  * The same builders are installable post-startup with one call,
  * [[JsonataFunctions.registerNativeSql]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // one builder list shared with JsonataFunctions.registerNativeSql — the
    // two registration surfaces cannot drift
    JsonataFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[JsonataExpression].getName, name),
        builder))
    }
    VectorExpressions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
    TopKAggregate.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[TopKByLong].getName, name),
        builder))
    }
    RegexMatchAll.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[RegexMatchAll].getName, name),
        builder))
    }
    // two-tier decision on the SQL surface: jsonata_typed calls in the
    // compiled subset rewrite to native expressions at analysis time
    ext.injectResolutionRule(session => JsonataCompileRule(session))
  }
}
