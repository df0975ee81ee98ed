package graft.connect

import scala.collection.immutable.ListMap

/** Minimal Kafka-Connect-equivalent data model (Schema/Struct/logical types),
  * re-implemented from the public Connect API semantics since connect-api jars
  * are unavailable offline. Mirrors exactly what the reference transform
  * touches: Schema.Type matrix, optional/default/name/version/doc/parameters,
  * nested key/value schemas, ordered struct fields, and the four logical types
  * (reference JsonataTransformation.java:158-191, 530-649).
  */
sealed abstract class CType(val typeName: String)
object CType {
  case object INT8 extends CType("INT8")
  case object INT16 extends CType("INT16")
  case object INT32 extends CType("INT32")
  case object INT64 extends CType("INT64")
  case object FLOAT32 extends CType("FLOAT32")
  case object FLOAT64 extends CType("FLOAT64")
  case object BOOLEAN extends CType("BOOLEAN")
  case object STRING extends CType("STRING")
  case object BYTES extends CType("BYTES")
  case object ARRAY extends CType("ARRAY")
  case object MAP extends CType("MAP")
  case object STRUCT extends CType("STRUCT")

  val all: Seq[CType] = Seq(INT8, INT16, INT32, INT64, FLOAT32, FLOAT64,
    BOOLEAN, STRING, BYTES, ARRAY, MAP, STRUCT)
  def forName(name: String): CType =
    all.find(_.typeName == name).getOrElse(
      throw new DataException(s"Unknown schema type $name"))
}

final class DataException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

final case class CField(name: String, index: Int, schema: CSchema)

final case class CSchema(
    ctype: CType,
    optional: Boolean = false,
    defaultValue: Any = null,
    name: String = null,
    version: Integer = null,
    doc: String = null,
    parameters: ListMap[String, String] = null,
    keySchema: CSchema = null,   // MAP only
    valueSchema: CSchema = null, // MAP / ARRAY
    fields: Vector[CField] = null) { // STRUCT only

  // Schemas key RecordCodec's memo: hash the (immutable) tree once, not on
  // every lookup.
  override lazy val hashCode: Int = scala.util.hashing.MurmurHash3.productHash(this)

  def field(fname: String): CField = {
    if (fields == null) throw new DataException(s"$ctype schema has no fields")
    fields.find(_.name == fname).getOrElse(
      throw new DataException(s"Unknown field $fname"))
  }
}

object CSchema {
  val STRING: CSchema = CSchema(CType.STRING)
  val INT32: CSchema = CSchema(CType.INT32)
  val INT64: CSchema = CSchema(CType.INT64)
  val BOOLEAN: CSchema = CSchema(CType.BOOLEAN)
  val FLOAT64: CSchema = CSchema(CType.FLOAT64)
  val BYTES: CSchema = CSchema(CType.BYTES)

  def struct(fieldSpecs: (String, CSchema)*): CSchema =
    CSchema(CType.STRUCT, fields = fieldSpecs.zipWithIndex.map {
      case ((n, s), i) => CField(n, i, s)
    }.toVector)
  def array(valueSchema: CSchema): CSchema = CSchema(CType.ARRAY, valueSchema = valueSchema)
  def map(k: CSchema, v: CSchema): CSchema = CSchema(CType.MAP, keySchema = k, valueSchema = v)
}

/** Ordered-field struct value (Connect Struct equivalent). */
final class CStruct(val schema: CSchema) {
  private val values = new Array[Any](if (schema.fields == null) 0 else schema.fields.length)

  def put(fname: String, v: Any): CStruct = { values(schema.field(fname).index) = v; this }
  def put(f: CField, v: Any): CStruct = { values(f.index) = v; this }
  def get(fname: String): Any = values(schema.field(fname).index)
  def get(f: CField): Any = values(f.index)

  override def toString: String =
    schema.fields.map(f => s"${f.name}=${get(f)}").mkString("CStruct{", ", ", "}")
}

final case class CHeader(key: String, value: Any, schema: CSchema)

/** Engine-owned metadata preserved across the transform (reference
  * JsonataTransformation.java:330-358). */
sealed trait CRecordMeta
final case class SourceMeta(sourcePartition: Map[String, Any], sourceOffset: Map[String, Any]) extends CRecordMeta
final case class SinkMeta(kafkaOffset: Long, timestampType: String) extends CRecordMeta

/** A Connect-record-like envelope: the unit the transform operates on. */
final case class CRecord(
    topic: String,
    kafkaPartition: Integer,
    keySchema: CSchema, key: Any,
    valueSchema: CSchema, value: Any,
    timestamp: java.lang.Long,
    headers: Vector[CHeader],
    meta: CRecordMeta)

/** Connect logical types: Decimal/Date/Time/Timestamp (public Connect API
  * names preserved — they are data visible to expressions). */
object Logical {
  val DecimalName = "org.apache.kafka.connect.data.Decimal"
  val DateName = "org.apache.kafka.connect.data.Date"
  val TimeName = "org.apache.kafka.connect.data.Time"
  val TimestampName = "org.apache.kafka.connect.data.Timestamp"

  val MillisPerDay: Long = 24L * 60 * 60 * 1000

  def decimalSchema(scale: Int): CSchema =
    CSchema(CType.BYTES, name = DecimalName, version = 1,
      parameters = ListMap("scale" -> scale.toString))
  val dateSchema: CSchema = CSchema(CType.INT32, name = DateName, version = 1)
  val timeSchema: CSchema = CSchema(CType.INT32, name = TimeName, version = 1)
  val timestampSchema: CSchema = CSchema(CType.INT64, name = TimestampName, version = 1)

  def decimalToLogical(schema: CSchema, bytes: Array[Byte]): java.math.BigDecimal = {
    val scale = decimalScale(schema)
    new java.math.BigDecimal(new java.math.BigInteger(bytes), scale)
  }
  def decimalScale(schema: CSchema): Int = {
    if (schema.parameters == null || !schema.parameters.contains("scale"))
      throw new DataException("Decimal schema has no scale parameter")
    schema.parameters("scale").toInt
  }
  def dateToLogical(days: Int): java.util.Date = new java.util.Date(days * MillisPerDay)
  def timeToLogical(millis: Int): java.util.Date = new java.util.Date(millis.toLong)
  def timestampToLogical(millis: Long): java.util.Date = new java.util.Date(millis)
}

/** Date/time string formatting mirroring Connect's `Values` utility (the
  * reference delegates to Values.dateFormatFor/parseString,
  * JsonataTransformation.java:237-241, 588). All UTC. */
object CValues {
  private val Utc = java.util.TimeZone.getTimeZone("UTC")

  // SimpleDateFormat is costly to build and not thread-safe: one per pattern
  // per thread. (java.time would change lenient parsing, the Julian calendar
  // before 1582 and years above 9999.)
  private def utc(pattern: String): ThreadLocal[java.text.SimpleDateFormat] =
    ThreadLocal.withInitial { () =>
      val f = new java.text.SimpleDateFormat(pattern)
      f.setTimeZone(Utc)
      f
    }
  private val DateFormat = utc("yyyy-MM-dd")
  private val TimeFormat = utc("HH:mm:ss.SSS'Z'")
  private val TimestampFormat = utc("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** Pick the ISO form by the millis content (Connect Values.dateFormatFor,
    * except that an instant before 1970 is a date or a timestamp, never a
    * time of day: Connect's `t < one day` test turns -1 ms into 23:59:59.999,
    * which parses back as 86399999). */
  def formatDate(d: java.util.Date): String = {
    val t = d.getTime
    if (t >= 0 && t < Logical.MillisPerDay) TimeFormat.get().format(d)
    else if (t % Logical.MillisPerDay == 0) DateFormat.get().format(d)
    else TimestampFormat.get().format(d)
  }

  private val DateRe = "^\\d{4}-\\d{2}-\\d{2}$".r
  private val TimeRe = "^\\d{2}:\\d{2}:\\d{2}\\.\\d{3}Z?$".r
  private val TimestampRe = "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{3}Z?$".r

  /** Lenient ISO parse (Connect Values.parseString subset: the three ISO
    * shapes the encoder can produce). Returns null when not a date string. */
  def parseDateString(s: String): java.util.Date = {
    try {
      s match {
        case DateRe() => DateFormat.get().parse(s)
        case TimeRe() => TimeFormat.get().parse(if (s.endsWith("Z")) s else s + "Z")
        case TimestampRe() => TimestampFormat.get().parse(if (s.endsWith("Z")) s else s + "Z")
        case _ => null
      }
    } catch { case _: java.text.ParseException => null }
  }
}
