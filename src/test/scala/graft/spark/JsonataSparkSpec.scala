package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark-side integration: the native jsonata expression over real parquet,
  * tombstone filtering, SQL registration, and the envelope column-pruning
  * optimization (the scan must not read fields the expression can't touch). */
class JsonataSparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("jsonata-spark-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def events = spark.read.parquet(s"$sfDir/events.parquet")

  test("transform filters tombstones and projects") {
    val out = JsonataDF.transformAs(docs,
      "value.lang = 'en' ? {'doc_id': value.doc_id, 'lang': value.lang} : null",
      StructType.fromDDL("doc_id BIGINT, lang STRING"))
    val expected = docs.filter(col("lang") === "en").count()
    assert(out.count() == expected)
    assert(out.columns.toSeq == Seq("doc_id", "lang"))
    assert(expected > 0)
  }

  test("transform evaluates once per record (tombstone filter must not duplicate the call)") {
    val out = JsonataDF.transform(docs, "value.lang = 'en' ? null : {'id': value.doc_id}")
    val plan = out.queryExecution.executedPlan.toString
    val evals = "jsonata".r.findAllIn(plan).length
    assert(evals == 1,
      s"expected exactly one evaluator call in the plan (filter pushdown would run it 3x), found $evals:\n$plan")
  }

  test("a typed interpreted evaluation prints as jsonata_typed in the plan") {
    val plan = JsonataDF.transformAs(docs, "{'doc_id': value.doc_id, 't': $type(value.lang)}",
      StructType.fromDDL("doc_id BIGINT, t STRING")).queryExecution.executedPlan.toString
    assert(plan.contains("jsonata_typed(") && !plan.contains("jsonata_row("), plan)
  }

  test("envelope pruning reaches the parquet scan") {
    val out = JsonataDF.transform(docs,
      "value.lang = 'en' ? {'doc_id': value.doc_id} : null")
    val scans = out.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty)
    // `text` and `n_chars` are never referenced => must not be read
    scans.foreach { fields =>
      assert(!fields.contains("text"), s"scan reads unreferenced column: $fields")
      assert(!fields.contains("n_chars"), s"scan reads unreferenced column: $fields")
    }
  }

  test("whole-object value access keeps every field (pruning soundness)") {
    import graft.connect.JsonataTransform
    // $sift(value, ...) reads value wholesale: pruning must keep all fields
    val ast = JsonataTransform.compile("$sift(value, function($v,$k){ $k != 'text' })").ast
    assert(JsonataAnalysis.referencedValueFields(ast).isEmpty)
    val out = JsonataDF.transformAs(docs,
      "$sift(value, function($v,$k){ $k != 'text' })",
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, lang STRING"))
    val row = out.orderBy("doc_id").limit(1).collect()(0)
    assert(!row.isNullAt(0) && !row.isNullAt(1))
    // while navigation-only access still prunes
    val ast2 = JsonataTransform.compile("{'id': value.doc_id}").ast
    assert(JsonataAnalysis.referencedValueFields(ast2) == Some(Set("doc_id")))
  }

  test("a builtin that takes the context for a parameter keeps every field") {
    import graft.connect.JsonataTransform
    val session = spark
    import session.implicits._
    // $sift's object parameter does not take the lambda, so the engine
    // passes it the envelope: the expression reads every value field
    val df = Seq((1L, "x")).toDF("a", "b")
    val out = JsonataDF.transform(df, "$sift(function($v){ true })").collect().map(_.getString(0))
    assert(out.toSeq == Seq("""{"topic":"rows","kafkaPartition":0,"value":{"a":1,"b":"x"}}"""))
    def fields(e: String) = JsonataAnalysis.referencedValueFields(JsonataTransform.compile(e).ast)
    for (e <- Seq("$sift(function($v){ true })", "$each(function($v){ $v })", "$number()",
      "$keys()", "($f := $sift; $f(function($v){ true }))", "$f(function($v){ true })",
      "$eval('value.b')", "(function($x)<o-:o>{ $x })()"))
      assert(fields(e).isEmpty, e)
    // a data first argument fills the object parameter, or (not an object)
    // reaches the function parameter and raises T0410: no context read
    for (e <- Seq("$sift({'k': value.a}, function($v){ true })", "$sift(value.a, function($v){ true })",
      "value.a ~> $sift(function($v){ true })", "$each(value.a, function($v){ $v })",
      "($f := $sift; $f(value.a, function($v){ true }))"))
      assert(fields(e) == Some(Set("a")), e)
    assert(fields("$number(value.a) + $string(value.b)") == Some(Set("a", "b")))
    assert(fields("value.b ~> $uppercase") == Some(Set("b")))
  }

  test("the interpreted opbench expressions keep their pruning") {
    import graft.connect.JsonataTransform
    // DfWorkload.Interpreted's three expressions: each reads only the
    // value fields it names, so df_interpreted prunes the rest
    val total = "$sum($map(value.items, function($i) { $i.qty * $i.price }))"
    val cases = Seq(
      s"""value.event_type = 'error' ? null : {"id": value.id, "total": $total,
         |  "top": $$max(value.items.price), "skus": $$join(value.items.sku, ",")}""".stripMargin ->
        Set("event_type", "id", "items"),
      """value.event_type = 'error' ? null : {"id": value.id,
        |  "who": value.first & " " & value.last, "email": value.email,
        |  "skus": $join($map(value.items, function($i) { $uppercase($i.sku) }), ","),
        |  "amount": value.amount, "day": $substring(value.ts, 0, 10)}""".stripMargin ->
        Set("event_type", "id", "first", "last", "email", "items", "amount", "ts"),
      """value.event_type = 'error' ? null : {"id": value.id,
        |  "code": $number(value.code) * 2, "n": $count(value.items)}""".stripMargin ->
        Set("event_type", "id", "code", "items"))
    for ((e, names) <- cases)
      assert(JsonataAnalysis.referencedValueFields(JsonataTransform.compile(e).ast) == Some(names), e)
  }

  test("$ escape disables pruning") {
    val out = JsonataDF.transform(docs, "$.value.doc_id")
    val scans = out.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }
    scans.foreach(fields => assert(fields.contains("text")))
  }

  test("nondeterministic expressions are flagged") {
    import graft.connect.JsonataTransform
    assert(!JsonataAnalysis.isDeterministic(JsonataTransform.compile("$random()").ast))
    assert(!JsonataAnalysis.isDeterministic(JsonataTransform.compile("value ~> $shuffle").ast))
    assert(JsonataAnalysis.isDeterministic(JsonataTransform.compile("value.a + 1").ast))
  }

  test("sql registration evaluates jsonata in SQL") {
    JsonataFunctions.registerNativeSql(spark)
    events.limit(10).createOrReplaceTempView("ev10")
    val rows = spark.sql(
      """SELECT jsonata(to_json(named_struct('value', named_struct('x', event_id))),
                        'value.x + 1') AS y FROM ev10""").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getString(0) != null))
  }

  test("SQL jsonata_try over JSON text returns out/error; SQL jsonata equals the Column form") {
    JsonataFunctions.registerNativeSql(spark)
    val session = spark
    import session.implicits._
    Seq("""{"n": 1}""", "{not json", """{"n": 41}""").toDF("j").createOrReplaceTempView("jtext")
    val tried = spark.sql(
      """SELECT r.out, r.error FROM (SELECT j, jsonata_try(j, 'n + 1') AS r FROM jtext)
         ORDER BY j""").collect().map(r => (r.getString(0), r.getString(1)))
    assert(tried(0) == ("2", null) && tried(1) == ("42", null), tried.toSeq)
    assert(tried(2)._1 == null && tried(2)._2.startsWith("Could not parse record JSON"), tried(2))
    val good = spark.table("jtext").filter(col("j").startsWith("{\""))
    val sql = spark.sql("SELECT jsonata(j, '{\"m\": n * 2}') FROM jtext WHERE j LIKE '{\"%'")
    val column = good.select(JsonataFunctions.jsonata(col("j"), """{"m": n * 2}"""))
    assert(sql.collect().toSeq == column.collect().toSeq)
  }

  test("out-of-range limits fail at analysis with Connect's messages") {
    JsonataFunctions.registerNativeSql(spark)
    val e = intercept[Exception](spark.sql("""SELECT jsonata('{}', 'a', -1)"""))
    assert(e.getMessage.contains("timeout.ms must be >= 0, got -1"), e.getMessage)
    val e2 = intercept[Exception](JsonataDF.transform(docs, "value.lang", maxDepth = 0))
    assert(e2.getMessage.contains("max.depth must be >= 1, got 0"), e2.getMessage)
  }

  test("native SQL functions: jsonata_typed is struct-in/struct-out with no JSON text ops") {
    JsonataFunctions.registerNativeSql(spark)
    events.limit(100).createOrReplaceTempView("ev100")
    val out = spark.sql(
      """SELECT r.event_id, r.total FROM (
           SELECT jsonata_typed(named_struct('event_id', event_id, 'value', value),
                    '{''event_id'': value.event_id, ''total'': value.value + 1}',
                    'event_id BIGINT, total DOUBLE') AS r
           FROM ev100) WHERE r IS NOT NULL ORDER BY r.event_id""")
    val expected = spark.sql(
      "SELECT event_id, value + 1 AS total FROM ev100 ORDER BY event_id")
    assert(out.collect().toSeq == expected.collect().toSeq)
    // the whole point: no to_json/from_json anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("to_json") && !plan.contains("from_json"),
      s"native SQL path must not round-trip JSON text:\n$plan")
  }

  test("native SQL functions: jsonata_row emits JSON with struct input, tombstones filter") {
    JsonataFunctions.registerNativeSql(spark)
    docs.limit(50).createOrReplaceTempView("docs50")
    val rows = spark.sql(
      """SELECT jsonata_row(named_struct('lang', lang, 'doc_id', doc_id),
                  'value.lang = ''en'' ? {''id'': value.doc_id} : null') AS j
         FROM docs50""").collect()
    val expected = docs.limit(50).filter(col("lang") === "en").count()
    assert(rows.count(_.getString(0) != null) == expected)
    assert(rows.filter(_.getString(0) != null).forall(_.getString(0).startsWith("{\"id\":")))
  }

  test("native SQL functions: jsonata_row_try captures per-record errors with the envelope") {
    JsonataFunctions.registerNativeSql(spark)
    docs.limit(20).createOrReplaceTempView("docs20")
    // $number(lang) raises D3030 on every row ('en'/'de'/... are not numbers),
    // except none parse — so also include doc_id to get good rows
    val rows = spark.sql(
      """SELECT r.out, r.error, r.record FROM (
           SELECT jsonata_row_try(named_struct('lang', lang, 'doc_id', doc_id),
             'value.doc_id < 5 ? {''id'': value.doc_id} : {''n'': $number(value.lang)}') AS r
           FROM docs20)""").collect()
    val good = rows.filter(_.getString(1) == null)
    val bad = rows.filter(_.getString(1) != null)
    assert(good.nonEmpty && bad.nonEmpty, s"expected both outcomes, got ${rows.length} rows")
    assert(good.forall(r => r.getString(0).startsWith("{\"id\":")))
    assert(bad.forall(r => r.getString(0) == null
      && r.getString(1).contains("Could not evaluate expression")
      && r.getString(2).contains("\"lang\"")), "error rows must carry the replayable envelope")
  }

  test("native SQL functions: non-literal expression argument is rejected") {
    JsonataFunctions.registerNativeSql(spark)
    events.limit(5).createOrReplaceTempView("ev5")
    val e = intercept[Exception] {
      spark.sql(
        """SELECT jsonata_typed(named_struct('value', value), event_type, 'x INT')
           FROM ev5""").collect()
    }
    assert(e.getMessage.contains("string literal"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT jsonata_row(event_id, 'value') FROM ev5").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("struct"))
  }

  test("native SQL functions: a non-struct child fails analysis naming the function") {
    JsonataFunctions.registerNativeSql(spark)
    val ints = spark.range(3).selectExpr("CAST(id AS INT) AS n")
    ints.createOrReplaceTempView("ints3")
    // (SQL call, the function name its type-check message carries)
    Seq(
      "jsonata_row(n, 'value')" -> "jsonata_row requires",
      "jsonata_typed(n, 'value', 'x INT')" -> "jsonata_typed requires").foreach {
      case (call, name) =>
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          spark.sql(s"SELECT $call FROM ints3").collect()
        }
        assert(e.getMessage.contains(name) && e.getMessage.contains("INT"),
          s"$call: analysis error must name the function and the input type, got: ${e.getMessage}")
    }
  }

  test("full record envelope: topic rewrite, header access, tombstone") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType.fromDDL(
      "topic STRING, kafkaPartition INT, key STRING, " +
      "value STRUCT<id: BIGINT, kind: STRING>, timestamp BIGINT, " +
      "headers ARRAY<STRUCT<key: STRING, value: STRING>>")
    val rows = java.util.Arrays.asList(
      Row("t1", 0, "k1", Row(1L, "keep"), 100L, Seq(Row("h1", "v1"))),
      Row("t1", 0, "k2", Row(2L, "drop"), 200L, Seq(Row("h1", "v2"))))
    val df = spark.createDataFrame(rows, schema)
    val out = JsonataDF.transformRecords(df,
      """value.kind = 'drop' ? null : $merge([$, {
           'topic': topic & '-' & value.kind,
           'value': $merge([value, {'h': headers[0].value}])
         }])""")
    val got = out.collect().map(_.getString(0))
    assert(got.length == 1)
    assert(got(0).contains("\"topic\":\"t1-keep\""))
    assert(got(0).contains("\"h\":\"v1\""))
    assert(got(0).contains("\"key\":\"k1\"") && got(0).contains("\"timestamp\":100"))
  }

  test("numeric fidelity through the envelope") {
    val out = JsonataDF.transformAs(events.limit(50),
      "{'event_id': value.event_id, 'v2': value.value * 2}",
      StructType.fromDDL("event_id BIGINT, v2 DOUBLE"))
    val expected = events.limit(50).select(col("event_id"), (col("value") * 2).as("v2"))
    val a = out.orderBy("event_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = expected.orderBy("event_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b)) // exact double equality: both sides IEEE-754 * 2
  }
}
