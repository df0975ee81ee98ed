package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.StructType

import graft.connect.JsonataTransform

/** Dataset-level JSONata transform (SURVEY.md §2.A A1+A3 as a Spark operator).
  *
  * Rows are wrapped into the record envelope (`topic`, `kafkaPartition`,
  * `value` = the row), the expression is evaluated per row by the native
  * [[JsonataExpression]] over a struct child, and JSON-null results drop the
  * record (tombstone, stateless => streaming-safe).
  *
  * Scale notes: the operator is a narrow map — no shuffle at any data size.
  * Envelope construction prunes value fields the expression provably never
  * reads ([[JsonataAnalysis.referencedValueFields]]), so Catalyst's column
  * pruning reaches the parquet scan (a scan reading 2 of 40 columns at
  * 100 TB is the difference between minutes and hours).
  */
object JsonataDF {

  /** The pruned value struct for `expr` over `df`'s columns. Envelope
    * construction itself ({topic, kafkaPartition, value}) happens inside
    * [[JsonataExpression]] directly from the row — no JSON text on the
    * input side. */
  private def prunedStruct(df: DataFrame, expr: String): Column = {
    val ast = JsonataTransform.compile(expr).ast
    val keep = JsonataAnalysis.referencedValueFields(ast) match {
      case Some(names) => df.columns.filter(names.contains)
      case None => df.columns
    }
    struct(keep.map(col).toIndexedSeq: _*)
  }

  /** `df` reduced to the one column `as`: the evaluator `node` applied to
    * `input`. Exploding a one-element array is a single-evaluation barrier:
    * filter pushdown would otherwise inline the evaluator into the tombstone
    * filter AND the projection, running it up to 3x per record (pinned by
    * JsonataSparkSpec). */
  private def evaluateOnce(df: DataFrame, input: Column, as: String)(
      node: Expression => JsonataExpression): DataFrame =
    df.select(explode(array(Shims.column(node(Shims.expression(input))))).as(as))

  /** Apply a JSONata expression over a DataFrame; result is one JSON-string
    * column `out`; tombstones (null results) are filtered out.
    *
    * The evaluator reads the pruned value struct directly (no to_json, no
    * input parse — one serialization per record, of the result). */
  def transform(df: DataFrame, expr: String, topic: String = "rows",
                timeoutMs: Long = 5000L, maxDepth: Int = 1000): DataFrame =
    evaluateOnce(df, prunedStruct(df, expr), "out")(JsonataExpression(_, expr,
      topic = Some(topic), timeoutMs = timeoutMs, maxDepth = maxDepth))
      .filter(col("out").isNotNull)

  /** Permissive transform — the per-record error policy (Spark analog of
    * Connect `errors.tolerance=all` + DLQ routing; reference wraps eval
    * failures per record, JsonataTransformation.java:96-107). One poison
    * record cannot fail the job: the output has
    *   - `out`    — the transformed JSON (null on error),
    *   - `error`  — the captured failure message (null on success),
    *   - `record` — the original record envelope, kept ONLY on error rows so
    *                a DLQ sink can replay them (null on success: no width
    *                cost on the happy path).
    * Tombstones (null result, no error) are dropped as in [[transform]].
    * Stateless narrow map — works unchanged under Structured Streaming. */
  def transformPermissive(df: DataFrame, expr: String, topic: String = "rows",
                          timeoutMs: Long = 5000L, maxDepth: Int = 1000): DataFrame =
    evaluateOnce(df, prunedStruct(df, expr), "r")(JsonataExpression(_, expr,
      topic = Some(topic), permissive = true, timeoutMs = timeoutMs, maxDepth = maxDepth))
      .select(col("r.out").as("out"), col("r.error").as("error"), col("r.record").as("record"))
      .filter(col("out").isNotNull || col("error").isNotNull)

  /** The error rows of [[transformPermissive]] — a ready-to-sink DLQ frame. */
  def deadLetters(df: DataFrame, expr: String, topic: String = "rows",
                  timeoutMs: Long = 5000L, maxDepth: Int = 1000): DataFrame =
    transformPermissive(df, expr, topic, timeoutMs, maxDepth)
      .filter(col("error").isNotNull)
      .select(col("record"), col("error"))

  /** Transform + decode to typed columns — direct tree-in/tree-out codec
    * ([[JsonataOutput.Typed]]): the pruned value struct feeds the evaluator
    * as an in-memory Jackson tree and the result decodes straight into the
    * declared schema. No to_json/from_json round-trip. */
  def transformAs(df: DataFrame, expr: String, schema: StructType,
                  topic: String = "rows",
                  timeoutMs: Long = 5000L, maxDepth: Int = 1000): DataFrame =
    evaluateOnce(df, prunedStruct(df, expr), "r")(JsonataExpression(_, expr,
      JsonataOutput.Typed(schema), Some(topic), timeoutMs = timeoutMs, maxDepth = maxDepth))
      .filter(col("r").isNotNull)
      .select("r.*")

  /** Two-tier entry point: compile the expression to native Columns when the
    * subset allows (whole-stage codegen, no JSON round-trip — SURVEY.md §2
    * "two-tier execution decision"); fall back to the interpreter otherwise.
    * Differential tests pin that both tiers agree. A declared-but-absent
    * output field null-fills with its declared type — the interpreter
    * decodes key-absent JSON the same way, and [[JsonataCompileRule]]'s SQL
    * surface already did; a bare col() here failed analysis instead,
    * diverging from both. */
  def auto(df: DataFrame, expr: String, schema: StructType,
           topic: String = "rows"): DataFrame =
    JsonataCompiler.transformCompiled(df, expr) match {
      case Some(out) =>
        val present = out.columns.toSet
        out.select(schema.fields.map(f =>
          (if (present.contains(f.name)) col(f.name).cast(f.dataType)
           else lit(null).cast(f.dataType)).as(f.name)).toIndexedSeq: _*)
      case None => transformAs(df, expr, schema, topic)
    }

  /** Full record-envelope transform: for DataFrames already shaped like
    * Connect records — columns among `topic` (string), `kafkaPartition` (int),
    * `key`, `value` (any type incl. struct), `timestamp` (long), `headers`
    * (array<struct<key,value>>) — the whole record is reified, the expression
    * may rewrite any payload part (topic routing, key/value restructuring,
    * header edits), and tombstones drop. This is the Spark surface of the
    * reference's apply() over complete records (reference
    * JsonataTransformation.java:133-156). */
  def transformRecords(df: DataFrame, expr: String,
                       timeoutMs: Long = 5000L, maxDepth: Int = 1000): DataFrame = {
    val known = Seq("topic", "kafkaPartition", "key", "value", "timestamp", "headers")
    val present = known.filter(df.columns.contains)
    require(present.nonEmpty, s"transformRecords needs at least one of: ${known.mkString(", ")}")
    evaluateOnce(df, struct(present.map(col): _*), "out")(JsonataExpression(_, expr,
      timeoutMs = timeoutMs, maxDepth = maxDepth))
      .filter(col("out").isNotNull)
  }

  /** `import graft.spark.JsonataDF.syntax._` enables
    * `df.jsonataTransform("expr")` — the Dataset-level operator surface
    * (SURVEY.md §2.E). */
  object syntax {
    implicit final class JsonataOps(private val df: DataFrame) {
      def jsonataTransform(expr: String): DataFrame = transform(df, expr)
      def jsonataTransformAs(expr: String, schema: StructType): DataFrame =
        transformAs(df, expr, schema)
      def jsonataAuto(expr: String, schema: StructType): DataFrame =
        auto(df, expr, schema)
    }
  }
}
