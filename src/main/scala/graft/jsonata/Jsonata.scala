package graft.jsonata

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Public API for the JSONata engine.
  *
  * {{{
  * val expr = Jsonata.compile("value = null ? null : $")
  * val out: JsonNode = expr.evaluate(inputNode) // null => drop (tombstone)
  * }}}
  *
  * Mirrors the reference's contract: compile once (cached by callers), evaluate
  * per record with a wall-clock timeout and recursion-depth limit (reference
  * JsonataTransformation.java:88-120; Config defaults timeout.ms=5000,
  * max.depth=1000).
  */
final class JsonataExpr private[jsonata] (val source: String, val ast: Ast) extends Serializable {

  @transient private lazy val tupleFlags =
    new java.util.IdentityHashMap[Ast.Path, java.lang.Boolean]()

  /** Evaluate; a `null` return means "no result" (record drop / tombstone). */
  def evaluate(input: JsonNode): JsonNode = evaluate(input, 5000L, 1000)

  def evaluate(input: JsonNode, timeoutMs: Long, maxDepth: Int,
               bindings: Map[String, JsonNode] = Map.empty): JsonNode = {
    val interp = new Interp(timeoutMs, maxDepth, tupleFlags)
    val env = new Frame(Functions.rootFrame)
    env.bind("$", input) // $$ — root of the input document
    bindings.foreach { case (k, v) => env.bind(k, v) }
    val result =
      try interp.eval(ast, input, env)
      catch {
        case _: StackOverflowError =>
          throw new JsonataException("U1001", "stack overflow during expression evaluation")
      }
    Values.toNode(result)
  }

  /** Evaluate with an arbitrary internal value as input (used by $eval). */
  private[jsonata] def evaluateValue(input: Any, outer: Interp): Any = {
    val interp = new Interp(outer.timeoutMs, outer.maxDepth, tupleFlags)
    val env = new Frame(Functions.rootFrame)
    env.bind("$", input)
    interp.eval(ast, input, env)
  }
}

object Jsonata {
  private val mapper = new ObjectMapper()

  /** Compile an expression; parse errors raise [[JsonataException]] (the
    * analog of the reference's DataException-at-parse,
    * JsonataTransformation.java:67-77). */
  def compile(source: String): JsonataExpr =
    new JsonataExpr(source, Parser.parse(source))

  private val evalCache = new LruCache[String, JsonataExpr](1000, compile)

  /** Bounded LRU compile cache for $eval: the argument is data, so repeated
    * payload shapes (e.g. a JSON column with few distinct values) compile
    * once, and a workload cycling >1000 shapes degrades gracefully. */
  def compileCached(source: String): JsonataExpr = evalCache(source)

  /** Convenience: evaluate expression against a JSON string, returns JSON string
    * or null for "no match". */
  def evalString(expr: String, inputJson: String): String = {
    val in = mapper.readTree(inputJson)
    val out = compile(expr).evaluate(in)
    if (out == null) null else Values.jsonSerialize(out, prettify = false)
  }

  def parseJson(s: String): JsonNode = mapper.readTree(s)

  /** Parse UTF-8 bytes directly (hot path for the Spark tier: avoids the
    * UTF8String -> java.lang.String copy per record). */
  def parseJsonBytes(bytes: Array[Byte]): JsonNode = mapper.readTree(bytes)
}
