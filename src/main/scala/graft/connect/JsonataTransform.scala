package graft.connect

import graft.jsonata.{Jsonata, JsonataExpr, JsonataException, LruCache}

/** The record-level transform operator (reference apply(),
  * JsonataTransformation.java:88-120):
  *   1. encode record (+ schemas as data) into a JSON envelope,
  *   2. evaluate the configured JSONata expression with timeout/depth guards,
  *   3. decode the result back into a typed record — `null` drops the record
  *      (tombstone filtering).
  *
  * Empty/blank expression is an identity fast-path (reference :92). Compiled
  * expressions are cached per JVM keyed by source (reference uses an LRU-100
  * Guava cache, :57-80; here [[graft.jsonata.LruCache]] gives the same LRU
  * bound with a lock-free read path — it doubles as the
  * executor-side cache for the Spark tier, where the SQL-UDF form looks up the
  * expression per row and must not serialize cores on a cache mutex).
  */
object JsonataTransform {

  /** 3-key configuration mirroring the reference's ConfigDef (`expr` STRING "",
    * `timeout.ms` LONG 5000, `max.depth` INT 1000 — reference
    * JsonataTransformationConfig.java:31-54). Validated at construction
    * (analysis time), like Connect's ConfigDef does. */
  final case class Config(expr: String = "", timeoutMs: Long = 5000L, maxDepth: Int = 1000) {
    if (expr == null) throw new DataException("expr must not be null")
    if (timeoutMs < 0) throw new DataException(s"timeout.ms must be >= 0, got $timeoutMs")
    if (maxDepth < 1) throw new DataException(s"max.depth must be >= 1, got $maxDepth")
  }

  /** Connect-style string-keyed configuration entry point. */
  def configFrom(settings: Map[String, String]): Config = {
    try Config(
      settings.getOrElse("expr", ""),
      settings.get("timeout.ms").map(_.trim.toLong).getOrElse(5000L),
      settings.get("max.depth").map(_.trim.toInt).getOrElse(1000))
    catch {
      case e: NumberFormatException => throw new DataException(s"invalid config value: ${e.getMessage}")
    }
  }

  private[connect] val MaxCacheSize = 100
  // LRU capped at 100, matching the reference's Guava cache
  // (JsonataTransformation.java:57-63). Hits take no lock: the registerSql
  // UDF calls compile() per row across all executor cores.
  private val cache = new LruCache[String, JsonataExpr](MaxCacheSize, expr =>
    try Jsonata.compile(expr)
    catch { case e: JsonataException => throw new DataException(s"Could not parse expression: ${e.getMessage}", e) })

  /** Test hook: whether `expr` is currently cached (touches nothing). */
  private[connect] def isCached(expr: String): Boolean = cache.contains(expr)

  def compile(expr: String): JsonataExpr = cache(expr)

  /** Returns null to signal "drop this record". */
  def apply(record: CRecord, config: Config): CRecord = {
    if (record == null || config.expr == null || config.expr.trim.isEmpty) return record
    val expr = compile(config.expr)
    val envelope = RecordCodec.recordToJsonNode(record)
    val result =
      try expr.evaluate(envelope, config.timeoutMs, config.maxDepth)
      catch {
        case e: JsonataException => throw new DataException(s"Could not evaluate expression: ${e.getMessage}", e)
      }
    if (result == null) null
    else RecordCodec.jsonNodeToRecord(record, result)
  }
}
