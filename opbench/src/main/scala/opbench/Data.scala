package opbench

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.connect._

/** One line item of an event. */
final case class Item(sku: String, qty: Int, price: Long)

/** One generated event, the benchmark's traffic unit. Every workload derives
  * its Connect records or Spark rows, and every reference result, from these
  * plain values; the engine never computes a reference. */
final case class Event(id: Long, eventType: String, first: String, last: String,
    email: String, tsMillis: Long, amount: java.math.BigDecimal, code: String,
    items: Vector[Item], note: String) {
  def isError: Boolean = eventType == "error"
  def isPoison: Boolean = !code.forall(_.isDigit)
  def total: Long = items.map(i => i.qty.toLong * i.price).sum
}

object Data {
  private val Types = Vector("view", "click", "purchase", "signup")
  private val Names = Vector("ada", "alan", "grace", "edsger", "barbara", "donald", "leslie", "tony")

  /** `n` events from `seed`. The 10% of `error` tombstones, and the
    * dimensions themselves (a tail of long item arrays, nulls, Timestamp and
    * Decimal logical types, codes that are not numbers), follow the
    * benchmark's specification. The other shares are assumptions no traffic
    * sample supports: 1-3 items with a 4% tail of 16-64; null email (15%),
    * amount (10%) and note (40%); 2% `code` values that are not numbers
    * (poison for `$number`). The traced run reports the share of work each
    * one causes (`WorkShare`). Shares and item-count totals are exact and
    * only the positions and values are seeded, so every seed asks for the
    * same amount of work. */
  def events(seed: Long, n: Int): Vector[Event] = {
    val r = new Random(seed)
    def marked(share: Double): scala.collection.immutable.BitSet =
      scala.collection.immutable.BitSet(r.shuffle((0 until n).toVector).take((n * share).round.toInt): _*)
    val long = (n * 0.04).round.toInt
    val itemCounts = r.shuffle(Vector.tabulate(n)(i => if (i < long) 16 + i % 49 else 1 + i % 3))
    val (error, noEmail, noAmount, poison, noNote) =
      (marked(0.10), marked(0.15), marked(0.10), marked(0.02), marked(0.40))
    Vector.tabulate(n) { i =>
      Event(
        id = i + 1L,
        eventType = if (error(i)) "error" else Types(r.nextInt(Types.size)),
        first = Names(r.nextInt(Names.size)),
        last = Names(r.nextInt(Names.size)).capitalize,
        email = if (noEmail(i)) null else s"user$i@example.com",
        tsMillis = 1700000000000L + r.nextInt(1000000000) * 31L,
        amount = if (noAmount(i)) null else java.math.BigDecimal.valueOf(r.nextInt(500000).toLong, 2),
        code = if (poison(i)) s"x${r.nextInt(1000)}" else r.nextInt(100000).toString,
        items = Vector.fill(itemCounts(i))(
          Item(s"sku-${r.nextInt(5000)}", 1 + r.nextInt(5), 100L + r.nextInt(100000))),
        note = if (noNote(i)) null else s"note ${r.nextInt(100)}")
    }
  }

  /** The traffic classes `WorkShare` reports on. */
  val Classes: Vector[(String, Event => Boolean)] = Vector(
    "long-items" -> (_.items.size >= 16), "error" -> (_.isError), "null-email" -> (_.email == null),
    "null-amount" -> (_.amount == null), "null-note" -> (_.note == null), "poison-code" -> (_.isPoison))

  // ---- Connect records ----

  val ItemSchema: CSchema =
    CSchema.struct("sku" -> CSchema.STRING, "qty" -> CSchema.INT32, "price" -> CSchema.INT64)
  private val OptString = CSchema.STRING.copy(optional = true)
  private val ValueFields: Seq[(String, CSchema)] = Seq(
    "id" -> CSchema.INT64, "event_type" -> CSchema.STRING,
    "first" -> CSchema.STRING, "last" -> CSchema.STRING, "email" -> OptString,
    "ts" -> Logical.timestampSchema, "amount" -> Logical.decimalSchema(2).copy(optional = true),
    "code" -> CSchema.STRING, "items" -> CSchema.array(ItemSchema), "note" -> OptString)
  val ValueSchema: CSchema = CSchema.struct(ValueFields: _*).copy(optional = true)
  /** The value schema the removeEmail rewrite must produce. */
  val NoEmailSchema: CSchema = CSchema.struct(ValueFields.filter(_._1 != "email"): _*).copy(optional = true)

  def record(e: Event): CRecord = {
    val v = new CStruct(ValueSchema)
      .put("id", e.id).put("event_type", e.eventType).put("first", e.first).put("last", e.last)
      .put("email", e.email).put("ts", new java.util.Date(e.tsMillis)).put("amount", e.amount)
      .put("code", e.code).put("note", e.note)
      .put("items", e.items.map(i =>
        new CStruct(ItemSchema).put("sku", i.sku).put("qty", i.qty).put("price", i.price)))
    CRecord("events", 0, CSchema.STRING, s"k${e.id}", ValueSchema, v, e.tsMillis,
      Vector(CHeader("source", "opbench", CSchema.STRING)), SinkMeta(e.id, "CREATE_TIME"))
  }

  // ---- Spark rows ----

  val SparkSchema: StructType = StructType.fromDDL(
    "id BIGINT, event_type STRING, first STRING, last STRING, email STRING, ts TIMESTAMP, " +
      "amount DECIMAL(12,2), code STRING, items ARRAY<STRUCT<sku: STRING, qty: INT, price: BIGINT>>, " +
      "note STRING")

  def row(e: Event): Row =
    Row(e.id, e.eventType, e.first, e.last, e.email, new java.sql.Timestamp(e.tsMillis), e.amount,
      e.code, e.items.map(i => Row(i.sku, i.qty, i.price)), e.note)
}

/** Deep equality with Connect semantics (logical types compare by value),
  * as the reference's AssertStruct/AssertSchema define it. */
object Same {
  def schemas(a: CSchema, b: CSchema): Boolean = {
    if (a == null || b == null) return a == b
    a.ctype == b.ctype && a.optional == b.optional && a.name == b.name &&
      a.version == b.version && a.doc == b.doc && a.parameters == b.parameters &&
      values(a.defaultValue, b.defaultValue) &&
      schemas(a.keySchema, b.keySchema) && schemas(a.valueSchema, b.valueSchema) && {
        val af = Option(a.fields).getOrElse(Vector.empty)
        val bf = Option(b.fields).getOrElse(Vector.empty)
        af.length == bf.length && af.zip(bf).forall { case (x, y) =>
          x.name == y.name && x.index == y.index && schemas(x.schema, y.schema)
        }
      }
  }

  def values(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: java.util.Date, y: java.util.Date) => x.getTime == y.getTime
    case (x: CStruct, y: CStruct) =>
      schemas(x.schema, y.schema) && x.schema.fields.forall(f => values(x.get(f), y.get(f)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (i, j) => values(i, j) }
    case (x: java.lang.Number, y: java.lang.Number) if x.getClass == y.getClass => x == y
    case _ => a == b
  }

  /** Numeric equality across representations (Long, Double, BigDecimal). */
  def number(a: Any, expected: Long): Boolean = a match {
    case n: java.lang.Number => new java.math.BigDecimal(n.toString).compareTo(java.math.BigDecimal.valueOf(expected)) == 0
    case _ => false
  }
}
