package graft.connect

import scala.collection.immutable.ListMap

/** Records and expressions shared by the codec and evaluator-purity specs:
  * GoldenParitySpec's fixtures and expressions, and records shaped like the
  * `smt_records` benchmark's (`opbench.Data.record`) with its three configs. */
object CodecFixtures {

  // ---- GoldenParitySpec's fixtures (reference JsonataTransformationTest.java:28-38) ----

  def golden(value: Any, schema: CSchema): CRecord =
    CRecord("test", 1, CSchema.STRING, "mykey", schema, value, 1234L,
      Vector(CHeader("key1", "value1", CSchema.STRING), CHeader("key2", "value2", CSchema.STRING)),
      SinkMeta(1000L, "CREATE_TIME"))

  val PersonSchema: CSchema =
    CSchema.struct("first" -> CSchema.STRING, "last" -> CSchema.STRING, "email" -> CSchema.STRING)

  def person(schema: CSchema): CStruct =
    new CStruct(schema).put("first", "test").put("last", "user").put("email", "none@none.com")

  /** noopComplex's type matrix: every type and logical type, each with a
    * default (and most with a doc). */
  val MatrixSchema: CSchema = {
    def withDefDoc(s: CSchema, dv: Any, doc: String): CSchema = s.copy(defaultValue = dv, doc = doc)
    CSchema.struct(
      "int8" -> withDefDoc(CSchema(CType.INT8), 2.toByte, "int8 field"),
      "int16" -> withDefDoc(CSchema(CType.INT16), 12.toShort, "int16 field"),
      "int32" -> withDefDoc(CSchema(CType.INT32), 12, "int32 field"),
      "int64" -> withDefDoc(CSchema(CType.INT64), 12L, "int64 field"),
      "float32" -> withDefDoc(CSchema(CType.FLOAT32), 12.2f, "float32 field"),
      "float64" -> withDefDoc(CSchema(CType.FLOAT64), 12.2, "float64 field"),
      "boolean" -> withDefDoc(CSchema(CType.BOOLEAN), true, "bool field"),
      "string" -> withDefDoc(CSchema(CType.STRING), "foo", "string field"),
      "bytes" -> withDefDoc(CSchema(CType.BYTES), "foo".getBytes, "bytes field"),
      "array" -> CSchema.array(CSchema.STRING).copy(defaultValue = Vector("a", "b", "c")),
      "map" -> CSchema.map(CSchema.STRING, CSchema.INT32).copy(defaultValue = ListMap("field" -> 1)),
      "date" -> Logical.dateSchema.copy(defaultValue = Logical.dateToLogical(100), doc = "date field"),
      "time" -> Logical.timeSchema.copy(defaultValue = Logical.timeToLogical(7200000), doc = "time field"),
      "ts" -> Logical.timestampSchema.copy(defaultValue = Logical.timestampToLogical(31536000100L), doc = "ts field"),
      "decimal" -> Logical.decimalSchema(5).copy(
        defaultValue = new java.math.BigDecimal(java.math.BigInteger.valueOf(314159L), 5), doc = "decimal field"))
  }

  def matrix(schema: CSchema): CStruct = {
    val st = new CStruct(schema)
    schema.fields.foreach(f => st.put(f, f.schema.defaultValue))
    st
  }

  val RemoveEmail: String =
    """(
      |    $root := $;
      |    $removeEmail := function($v, $k) {$k != 'email'};
      |    $newValueSchemaFields := $sift($root.valueSchema.fields, $removeEmail);
      |    $newValueSchema := $merge([$root.valueSchema, {"fields": $newValueSchemaFields}]);
      |    $newValue := $sift($root.value, $removeEmail);
      |    $newRoot := $merge([$root, {"valueSchema": $newValueSchema}, {"value": $newValue}])
      |)""".stripMargin

  def goldenRecords: Seq[CRecord] = {
    val optional = PersonSchema.copy(optional = true)
    Seq(
      golden(person(PersonSchema), PersonSchema),
      golden(person(optional), optional),
      golden(null, PersonSchema),
      golden("hi", null),
      CRecord(null, 1, null, null, null, null, 1000L, null, SinkMeta(1000L, null)),
      golden(matrix(MatrixSchema), MatrixSchema))
  }

  val goldenExprs: Seq[String] = Seq(
    "$", RemoveEmail, "value = null ? null : $",
    "$merge([$, {'topic': 'other', 'kafkaPartition': 7}])", "$error('nope')")

  // ---- the smt_records benchmark's records and configs ----

  val ItemSchema: CSchema =
    CSchema.struct("sku" -> CSchema.STRING, "qty" -> CSchema.INT32, "price" -> CSchema.INT64)
  private val OptString = CSchema.STRING.copy(optional = true)
  private val ValueFields: Seq[(String, CSchema)] = Seq(
    "id" -> CSchema.INT64, "event_type" -> CSchema.STRING,
    "first" -> CSchema.STRING, "last" -> CSchema.STRING, "email" -> OptString,
    "ts" -> Logical.timestampSchema, "amount" -> Logical.decimalSchema(2).copy(optional = true),
    "code" -> CSchema.STRING, "items" -> CSchema.array(ItemSchema), "note" -> OptString)
  val ValueSchema: CSchema = CSchema.struct(ValueFields: _*).copy(optional = true)
  val NoEmailSchema: CSchema = CSchema.struct(ValueFields.filter(_._1 != "email"): _*).copy(optional = true)

  /** Record `i` of the benchmark's shape: every 10th is an `error` event (a
    * tombstone under [[Tombstone]]), every 7th has a null email, and the item
    * count cycles through 1-3 with a long array every 25th. */
  def smtRecord(i: Int, schema: CSchema = ValueSchema): CRecord = {
    val items = Vector.tabulate(if (i % 25 == 0) 20 else 1 + i % 3)(j =>
      new CStruct(ItemSchema).put("sku", s"sku-${(i * 7 + j) % 500}").put("qty", 1 + j % 5).put("price", 100L + i + j))
    val v = new CStruct(schema)
      .put("id", i.toLong).put("event_type", if (i % 10 == 0) "error" else "view")
      .put("first", "ada").put("last", "Lovelace")
      .put("email", if (i % 7 == 0) null else s"user$i@example.com")
      .put("ts", new java.util.Date(1700000000000L + i * 31L))
      .put("amount", java.math.BigDecimal.valueOf(i * 13L, 2))
      .put("code", (i * 17).toString).put("items", items).put("note", s"note $i")
    CRecord("events", 0, CSchema.STRING, s"k$i", schema, v, 1700000000000L + i,
      Vector(CHeader("source", "opbench", CSchema.STRING)), SinkMeta(i.toLong, "CREATE_TIME"))
  }

  val Tombstone = "value.event_type = 'error' ? null : $"
  val Projection: String =
    """$merge([$, {"valueSchema": null, "value": {"id": value.id, "n": $count(value.items),
      |  "total": $sum($map(value.items, function($i) { $i.qty * $i.price })),
      |  "skus": $join(value.items.sku, ",")}}])""".stripMargin
  val smtExprs: Seq[String] = Seq(RemoveEmail, Tombstone, Projection)
}
