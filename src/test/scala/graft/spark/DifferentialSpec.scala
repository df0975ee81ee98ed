package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Differential tier testing (SURVEY.md §5.2.4): for the translatable subset,
  * the compiled-Column tier and the interpreted evaluator must produce
  * identical results on real data. */
class DifferentialSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Run `expr` through both tiers and compare row multisets. */
  private def diff(table: String, expr: String, ddl: String, order: String): Unit = {
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, s"expected expression to compile to Columns: $expr")
    val a = compiled.get.orderBy(order).collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy(order).collect().map(_.toSeq).toSeq
    assert(a.size == b.size, s"row count differs: compiled=${a.size} interpreted=${b.size} for $expr")
    a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
      assert(ra == rb, s"row $i differs for $expr:\n  compiled:    $ra\n  interpreted: $rb")
    }
  }

  test("filter + project + arithmetic") {
    diff("events",
      "value.event_type = 'click' ? {'event_id': value.event_id, 'v2': value.value * 2} : null",
      "event_id BIGINT, v2 DOUBLE", "event_id")
  }

  test("plain projection with comparisons and ternary") {
    diff("orders",
      "{'k': value.o_orderkey, 'big': value.o_totalprice > 150000, 'half': value.o_totalprice / 2}",
      "k BIGINT, big BOOLEAN, half DOUBLE", "k")
  }

  test("string functions") {
    diff("documents",
      "{'doc_id': value.doc_id, 'up': $uppercase($substring(value.text, 0, 10)), 'n': $length(value.text)}",
      "doc_id BIGINT, up STRING, n BIGINT", "doc_id")
  }

  test("boolean logic and tombstone") {
    diff("documents",
      "value.lang = 'en' and value.n_chars > 200 ? {'doc_id': value.doc_id} : null",
      "doc_id BIGINT", "doc_id")
  }

  test("inverted tombstone: cond ? null : {obj} keeps the non-matching records") {
    diff("events",
      "value.event_type = 'click' ? null : {'event_id': value.event_id, 'v2': value.value * 2}",
      "event_id BIGINT, v2 DOUBLE", "event_id")
    diff("documents",
      "value.lang != 'en' ? null : {'doc_id': value.doc_id, 'lang': value.lang}",
      "doc_id BIGINT, lang STRING", "doc_id")
  }

  test("numeric functions half-even rounding") {
    diff("orders",
      "{'k': value.o_orderkey, 'r': $round(value.o_totalprice / 7, 2), 'f': $floor(value.o_totalprice)}",
      "k BIGINT, r DOUBLE, f BIGINT", "k")
  }

  test("negative-precision $round compiles (intLit now reads UnaryMinus literals)") {
    diff("orders",
      "{'k': value.o_orderkey, 'tens': $round(value.o_totalprice, -1), " +
        "'thou': $round(value.o_totalprice, -3)}",
      "k BIGINT, tens DOUBLE, thou DOUBLE", "k")
  }

  test("concat of strings and apply operator") {
    diff("documents",
      "{'doc_id': value.doc_id, 'tag': value.lang & '-' & value.source, 'lw': value.text ~> $substring(0, 5) ~> $lowercase}",
      "doc_id BIGINT, tag STRING, lw STRING", "doc_id")
  }

  test("in-membership over literal arrays") {
    diff("documents",
      "value.lang in ['en', 'de'] ? {'doc_id': value.doc_id, 'lang': value.lang} : null",
      "doc_id BIGINT, lang STRING", "doc_id")
  }

  test("regex builtins with regex literals compile and agree") {
    diff("documents",
      "{'doc_id': value.doc_id," +
        " 'nm': $count($match(value.text, /[aeiou]+/))," +
        " 'lim': $count($match(value.text, /[a-z]+/, 5))," +
        " 'none': $count($match(value.lang, /zz9/))," + // empty seq -> null -> 0
        " 'rep': $replace(value.text ~> $substring(0, 40), /([aeiou])([b-df-hj-np-tv-z])/, '<$2$1>')," +
        " 'nullgrp': $replace(value.lang, /(e)(q)?/, '[$1|$2]')," + // group 2 never participates
        " 'dollars': $replace(value.lang, /e/, '$$ $0 $9 tail$')," + // $$, $0-literal, $9>groupCount, dangling $
        " 'greedy': $replace(value.lang, /(.)(.)/, '$21')," + // 2 groups: $21 = group 2 then literal 1
        " 'has': $contains(value.text, /QU/i)," + // flag carried into RLIKE
        " 'sp': $join($split(value.text ~> $substring(0, 60), /[ ]+/), '|')," +
        " 'sp3': $join($split(value.text ~> $substring(0, 60), /[ ]+/, 3), '|')," +
        " 'spz': $join($split(value.lang, /o*/), '-')}", // zero-width split edges
      "doc_id BIGINT, nm BIGINT, lim BIGINT, none BIGINT, rep STRING, nullgrp STRING, " +
        "dollars STRING, greedy STRING, has BOOLEAN, sp STRING, sp3 STRING, spz STRING",
      "doc_id")
  }

  test("negative-start $substring compiles and wraps like the engine") {
    diff("documents",
      "{'doc_id': value.doc_id," +
        " 'tail5': $substring(value.text, -5)," + // last 5 code points
        " 'tail3of': $substring(value.text, -8, 3)," + // 3 from 8-before-end
        " 'overwrap': $substring(value.lang, -99)," + // |start| > len -> whole string
        " 'overwrap2': $substring(value.lang, -99, 1)," + // wraps to 0, one char
        " 'zlen': $substring(value.text, 2, 0)," + // zero length -> ''
        " 'neglen': $substring(value.text, 1, -4)}", // negative length clamps to ''
      "doc_id BIGINT, tail5 STRING, tail3of STRING, overwrap STRING, " +
        "overwrap2 STRING, zlen STRING, neglen STRING",
      "doc_id")
  }

  test("$fromMillis default picture compiles and agrees across the epoch") {
    diff("events",
      "{'event_id': value.event_id," +
        " 'iso': $fromMillis(value.event_id * 86400000)," + // 1970 .. +27 years of day steps
        " 'neg': $fromMillis(0 - value.event_id * 9999999)," + // pre-epoch, ragged millis
        " 'zero': $fromMillis(0)}",
      "event_id BIGINT, iso STRING, neg STRING, zero STRING", "event_id")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // double input (engine rounds): interpreted. Literal pictures and
    // $toMillis compile since round 9 (see the dedicated tests below).
    assert(JsonataCompiler.transformCompiled(docs, "{'m': $fromMillis(value.n_chars * 1.5)}").isEmpty)
    assert(JsonataCompiler.transformCompiled(docs,
      "{'m': $fromMillis(value.n_chars, '[Y0001]')}").isDefined)
    assert(JsonataCompiler.transformCompiled(docs,
      "{'m': $toMillis('2024-01-01T00:00:00.000Z')}").isDefined)
  }

  test("regex forms outside the compiled subset fall back") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // regex-literal + lambda replacement COMPILES since round 10
    assert(JsonataCompiler.transformCompiled(docs,
      "{'m': $replace(value.lang, /e/, function($m) { $m.match })}").isDefined)
    // $replace limit arg with a STRING replacement stays interpreted
    // (the compiled regexp_replace form has no limit; the lambda form does)
    assert(JsonataCompiler.transformCompiled(docs,
      "{'m': $replace(value.text, /a/, 'b', 2)}").isEmpty)
    // non-literal split limit
    assert(JsonataCompiler.transformCompiled(docs,
      "{'m': $split(value.text, /a/, value.n_chars)}").isEmpty)
    // $match needs a regex literal (string pattern raises T0410 in the engine)
    assert(JsonataCompiler.transformCompiled(docs,
      "{'m': $count($match(value.text, 'abc'))}").isEmpty)
    // compiled forms stay compiled
    assert(JsonataCompiler.transformCompiled(docs,
      "{'m': $count($match(value.text, /abc/))}").isDefined)
  }

  test("non-compilable expressions fall back") {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    assert(JsonataCompiler.transformCompiled(df, "{'k': $eval(value.props).k}").isEmpty)
    assert(JsonataCompiler.transformCompiled(df, "$merge([$, {'x': 1}])").isEmpty)
    assert(JsonataCompiler.transformCompiled(df, "{'s': $string(value.value)}").isEmpty) // number formatting differs
  }

  test("cross-type equality falls back (engine deep-equals is false across types)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // string column vs numeric literal: Spark would coerce both to double
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.lang = 5}").isEmpty)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id != 'x'}").isEmpty)
    // boolean vs string would not even resolve in Spark — must fall back, not throw
    assert(JsonataCompiler.transformCompiled(docs, "{'m': (value.n_chars > 1) = 'true'}").isEmpty)
    // same-class comparisons still compile
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.lang = 'en'}").isDefined)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id = 5}").isDefined)
  }

  test("data-dependent divisor falls back (engine raises D3030/D1030 on zero)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id / value.n_chars}").isEmpty)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id % value.n_chars}").isEmpty)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id / 0}").isEmpty)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id / 4}").isDefined)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id % -3}").isDefined)
  }

  test("$number compiles numeric input only (string parse errors stay interpreted)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(JsonataCompiler.transformCompiled(docs, "{'m': $number(value.text)}").isEmpty)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': $number(value.n_chars)}").isDefined)
  }

  test("cross-type in-membership falls back (isin would coerce '5' -> 5)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // string column vs numeric literal array / numeric column vs string array
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.lang in [5, 6]}").isEmpty)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id in ['5', '6']}").isEmpty)
    // matching type classes still compile
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.doc_id in [5, 6]}").isDefined)
    assert(JsonataCompiler.transformCompiled(docs, "{'m': value.lang in ['en']}").isDefined)
  }

  test("$number on an integral keeps the integral type (identity, not a double cast)") {
    diff("documents",
      "{'doc_id': value.doc_id, 'n': $number(value.n_chars), 'p': $number(value.n_chars) % 2}",
      "doc_id BIGINT, n BIGINT, p BIGINT", "doc_id")
  }

  test("compiled arithmetic ignores the session ANSI setting (no conf mutation)") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      diff("orders",
        "{'k': value.o_orderkey, 's': value.o_totalprice * 3 - 1, 'd': value.o_totalprice / -7}",
        "k BIGINT, s DOUBLE, d DOUBLE", "k")
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
        "transformCompiled must not mutate the session ANSI conf")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("auto null-fills a declared-but-absent output field on BOTH tiers") {
    // the declared schema asks for a field the expression never emits; the
    // interpreter decodes key-absent JSON to a typed null, and the compiled
    // branch (like the SQL rule) must null-fill rather than fail analysis.
    // The second input adds a widening cast (`w`) and a tombstone, and both
    // also run through SQL `jsonata_typed` under GraftExtensions, whose
    // analyzer rule conforms the compiled outputs by the same definition.
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
    val withRule = SparkSession.builder().withExtensions(new GraftExtensions).create()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    withRule.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("orders_rule")
    val rows = Seq("{'k': value.o_orderkey}" -> "k BIGINT, ghost STRING",
      "value.o_orderkey % 3 = 0 ? null : {'k': value.o_orderkey, 'w': value.o_orderkey}" ->
        "k BIGINT, ghost STRING, w DOUBLE").map { case (expr, ddl) =>
      assert(JsonataCompiler.transformCompiled(df, expr).isDefined)
      val a = JsonataDF.auto(df, expr, StructType.fromDDL(ddl))
        .orderBy(col("k")).collect().map(_.toSeq).toSeq
      val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
        .orderBy(col("k")).collect().map(_.toSeq).toSeq
      val sql = withRule.sql(
        s"""SELECT r.* FROM (SELECT jsonata_typed(named_struct('o_orderkey', o_orderkey),
              '${expr.replace("'", "''")}', '$ddl') AS r FROM orders_rule)
            WHERE r IS NOT NULL ORDER BY r.k""")
      assert(sql.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case j: JsonataExpression => j })).isEmpty, s"the rule must compile $expr")
      val c = sql.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"tiers differ: ${a.take(2)} vs ${b.take(2)}")
      assert(a == c, s"auto and SQL jsonata_typed differ: ${a.take(2)} vs ${c.take(2)}")
      assert(a.forall(_(1) == null))
      a
    }
    // the tombstone dropped every third order; `w` widened to DOUBLE
    assert(rows(1).size < rows(0).size && rows(1).forall(_(2).isInstanceOf[Double]))
  }

  test("$single compiles: exactly-one match agrees across tiers (all arities)") {
    diff("embeddings",
      "{'vec_id': value.vec_id, " +
        "'x3': $single(value.embedding, function($x, $i){ $i = 3 }), " +
        "'first': $single(value.embedding, function($x, $i, $a){ $x = $a[0] and $i = 0 })}",
      "vec_id BIGINT, x3 DOUBLE, first DOUBLE", "vec_id")
  }

  test("$single raises where the engine raises (zero and multiple matches)") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def runBoth(expr: String, ddl: String): (Throwable, Throwable) = {
      val c = JsonataCompiler.transformCompiled(df, expr)
      assert(c.isDefined, s"expected $expr to compile")
      val ce = intercept[Exception](c.get.collect())
      val ie = intercept[Exception](
        JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl)).collect())
      (ce, ie)
    }
    def msgChain(t: Throwable): String = {
      val sb = new StringBuilder
      var cur = t
      while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
      sb.toString
    }
    // no element exceeds 1e9 -> D3139 on both tiers
    val (c0, i0) = runBoth(
      "{'vec_id': value.vec_id, 'x': $single(value.embedding, function($x){ $x > 1000000000 })}",
      "vec_id BIGINT, x DOUBLE")
    assert(msgChain(c0).contains("D3139"), msgChain(c0).take(500))
    assert(msgChain(i0).contains("D3139"), msgChain(i0).take(500))
    // every row has >1 element below 1e9 -> D3138 on both tiers
    val (c2, i2) = runBoth(
      "{'vec_id': value.vec_id, 'x': $single(value.embedding, function($x){ $x < 1000000000 })}",
      "vec_id BIGINT, x DOUBLE")
    assert(msgChain(c2).contains("D3138"), msgChain(c2).take(500))
    assert(msgChain(i2).contains("D3138"), msgChain(i2).take(500))
  }

  test("$single with a non-boolean predicate body falls back") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': $single(value.embedding, function($v){ $v * 2 })}").isEmpty)
  }

  test("$replace with a lambda replacement compiles and agrees (match/groups/index/limit)") {
    diff("documents",
      "{'doc_id': value.doc_id, " +
        "'up': $replace(value.text, /the/, function($m){ $uppercase($m.match) }), " +
        "'swap': $replace(value.lang, /([a-z])([a-z])/, function($m){ $m.groups[1] & $m.groups[0] }), " +
        "'tag': $replace(value.text, /data/, function($m){ $m.match & '@' & $string($m.index) }, 2)}",
      "doc_id BIGINT, up STRING, swap STRING, tag STRING", "doc_id")
  }

  test("$replace lambda: a non-string body result raises D3012 on both tiers") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
    // /the/ has no capture groups -> $m.groups[0] is undefined -> the engine
    // raises D3012; the compiled tier must raise too, not null-swallow
    val expr = "{'doc_id': value.doc_id, 'r': $replace(value.text, /the/, function($m){ $m.groups[0] })}"
    val c = JsonataCompiler.transformCompiled(df, expr)
    assert(c.isDefined, "lambda $replace should compile")
    def msgChain(t: Throwable): String = {
      val sb = new StringBuilder
      var cur = t
      while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
      sb.toString
    }
    val ce = intercept[Exception](c.get.collect())
    assert(msgChain(ce).contains("D3012"), msgChain(ce).take(400))
    val ie = intercept[Exception](
      JsonataDF.transformAs(df, expr, StructType.fromDDL("doc_id BIGINT, r STRING")).collect())
    assert(msgChain(ie).contains("D3012"), msgChain(ie).take(400))
  }

  test("$replace lambda fallback pins: zero-width patterns, lookaround, negative limit") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
    // zero-width-capable pattern: split stitching diverges from find()
    assert(JsonataCompiler.transformCompiled(df,
      "{'r': $replace(value.text, /x*/, function($m){ 'y' })}").isEmpty)
    // lookahead zero-widths on nonempty input invisibly to the ""-probe
    assert(JsonataCompiler.transformCompiled(df,
      "{'r': $replace(value.text, /th(?=e)/, function($m){ 'y' })}").isEmpty)
    // \b matches zero-width ONLY on non-empty input — the ""-probe alone
    // missed it (round-10 ADVICE); the boundary-escape reject must gate it
    assert(JsonataCompiler.transformCompiled(df,
      "{'r': $replace(value.text, /\\b/, function($m){ '|' })}").isEmpty)
    // \b guarding an optional group: non-zero-width on SOME inputs, still
    // zero-width-capable — must stay interpreted
    assert(JsonataCompiler.transformCompiled(df,
      "{'r': $replace(value.text, /\\b(x)?/, function($m){ 'y' })}").isEmpty)
    // optional-suffix pattern that is zero-width only on non-empty input
    // away from its anchor char — caught by the sentinel probe
    assert(JsonataCompiler.transformCompiled(df,
      "{'r': $replace(value.text, /q?/, function($m){ 'y' })}").isEmpty)
    // an ESCAPED backslash before 'b' is a literal, not a boundary — the
    // pattern matches one-char-wide and must still compile
    assert(JsonataCompiler.transformCompiled(df,
      "{'r': $replace(value.text, /\\\\b/, function($m){ 'y' })}").isDefined,
      "literal backslash-b must not be mistaken for a boundary escape")
    // negative limit raises D3011 in the engine — errors stay interpreted
    assert(JsonataCompiler.transformCompiled(df,
      "{'r': $replace(value.text, /the/, function($m){ 'y' }, -1)}").isEmpty)
  }

  test("substringBefore/After: first occurrence; whole string when absent") {
    diff("documents",
      "{'doc_id': value.doc_id, 'b': $substringBefore(value.text, 'the'), " +
        "'a': $substringAfter(value.text, 'the'), 'miss': $substringAfter(value.lang, 'zz')}",
      "doc_id BIGINT, b STRING, a STRING, miss STRING", "doc_id")
  }

  test("pad pads both directions and never truncates") {
    diff("documents",
      "{'doc_id': value.doc_id, 'r': $pad(value.lang, 8, '.'), 'l': $pad(value.lang, -8), " +
        "'no': $pad(value.text, 4, 'x')}",
      "doc_id BIGINT, r STRING, l STRING, no STRING", "doc_id")
  }

  test("$replace with literal pattern/replacement compiles; string-pattern+lambda stays interpreted") {
    diff("documents",
      "{'doc_id': value.doc_id, 'r': $replace(value.text, 'the', 'THE'), " +
        "'none': $replace(value.lang, 'zz', 'x'), " +
        "'dollar': $replace(value.lang, 'e', '$5')}", // $-escape in the replacement
      "doc_id BIGINT, r STRING, none STRING, dollar STRING", "doc_id")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // regex-literal patterns compile since round 8, lambda replacements
    // since round 10 (regex-literal pattern only) — a STRING pattern with a
    // lambda is the engine's D3012 error shape and stays interpreted
    assert(JsonataCompiler.transformCompiled(docs, "{'r': $replace(value.text, /th./, 'x')}").isDefined)
    assert(JsonataCompiler.transformCompiled(docs,
      "{'r': $replace(value.text, 'a', function($m) { 'x' })}").isEmpty,
      "string-pattern lambda replacement must stay interpreted (engine D3012)")
  }

  test("split+count fusion and join-of-split round-trip") {
    diff("documents",
      "{'doc_id': value.doc_id, 'nw': $count($split(value.text, ' ')), " +
        "'j': $join($split(value.lang, '-'), '_'), 'one': $count(value.lang)}",
      "doc_id BIGINT, nw BIGINT, j STRING, one BIGINT", "doc_id")
  }

  test("integral range membership compiles; double LHS falls back") {
    diff("documents",
      "{'doc_id': value.doc_id, 'in': value.n_chars in [200..400], 'out': value.doc_id in [5..1]}",
      "doc_id BIGINT, in BOOLEAN, out BOOLEAN", "doc_id")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    assert(JsonataCompiler.transformCompiled(ev, "{'m': value.value in [1..10]}").isEmpty,
      "double column in integral range must stay interpreted (2.0 in [1..3] is true in the engine)")
  }

  test("jx03's expression compiles fully to native Columns") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val expr = "{'doc_id': value.doc_id, 'up': $uppercase($substring(value.text, 0, 10)), " +
      "'nw': $count($split(value.text, ' '))}"
    assert(JsonataCompiler.transformCompiled(docs, expr).isDefined,
      "jx03 should now run on the compiled tier")
  }

  test("^() sort over an array column compiles and matches the interpreter") {
    diff("embeddings",
      "{'id': value.vec_id, 's_asc': value.embedding^($), 's_desc': value.embedding^(>$)}",
      "id BIGINT, s_asc ARRAY<FLOAT>, s_desc ARRAY<FLOAT>", "id")
  }

  private def itemsDf = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(
        Row(1L, Seq(Row("b", 30L), Row("a", 10L), Row("b", 10L), Row("c", null), Row(null, 7L))),
        Row(2L, Seq(Row("x", 5L))),
        Row(3L, Seq.empty[Row]),
        Row(4L, null)
      ).asJava,
      StructType.fromDDL("id BIGINT, items ARRAY<STRUCT<cat: STRING, price: BIGINT>>"))
  }

  test("^(field) struct sort: stable, desc, undefined-key placement match the interpreter") {
    // doc 2 (singleton) exercises the pinned sequence-collapse divergence the
    // compiled array outputs already have — restrict to multi-element rows
    val df = itemsDf.filter("id = 1")
    val expr = "{'id': value.id, 'asc': value.items^(price), 'desc': value.items^(>price), " +
      "'two': value.items^(cat, >price)}"
    val ddl = "id BIGINT, asc ARRAY<STRUCT<cat: STRING, price: BIGINT>>, " +
      "desc ARRAY<STRUCT<cat: STRING, price: BIGINT>>, two ARRAY<STRUCT<cat: STRING, price: BIGINT>>"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "struct-field sort should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on struct sort:\n  compiled:    $a\n  interpreted: $b")
  }

  test("{} group-by over an array column matches the interpreter on all aggregates") {
    val df = itemsDf
    val expr = "{'id': value.id, 'n': value.items{cat: $count($)}, " +
      "'s': value.items{cat: $sum(price)}, 'mx': value.items{cat: $max(price)}, " +
      "'avg': value.items{cat: $average(price)}}"
    val ddl = "id BIGINT, n MAP<STRING,BIGINT>, s MAP<STRING,BIGINT>, " +
      "mx MAP<STRING,BIGINT>, avg MAP<STRING,DOUBLE>"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "single-pair group-by should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on group-by:\n  compiled:    $a\n  interpreted: $b")
    // pin the engine-matching corners explicitly: null-key item skipped,
    // all-undefined aggregate omits its key, null/empty arrays give {}
    val r1 = a.find(_.head == 1L).get
    assert(r1(1).asInstanceOf[Map[String, Long]] == Map("a" -> 1L, "b" -> 2L, "c" -> 1L))
    assert(r1(2).asInstanceOf[Map[String, Long]] == Map("a" -> 10L, "b" -> 40L)) // c: sum(undefined) omitted
    assert(a.find(_.head == 3L).get(1).asInstanceOf[Map[String, Long]] == Map.empty)
    assert(a.find(_.head == 4L).get(1).asInstanceOf[Map[String, Long]] == Map.empty)
  }

  test("{} group-by with DYNAMIC computed keys matches the interpreter (incl. the empty-input undefined-item corner)") {
    val df = itemsDf
    // computed key expressions beyond member fields — the last common
    // interpreted group-by shape (round-13 verdict #8). The concat keys are
    // DEFINED under undefined context (undefined→'' makes `cat & '-'`
    // yield '-'), so the empty/null rows (ids 3, 4) group the engine's
    // single undefined item under that key with $count = 0 — the corner
    // the compiled otherwise-branch exists for; $uppercase is undefined
    // there (key skipped, {} result)
    val expr = "{'id': value.id, " +
      "'cc': value.items{cat & '-' & cat: $count($)}, " +
      "'up': value.items{$uppercase(cat): $sum(price)}, " +
      "'cond': value.items{(price >= 10 ? 'hi' : 'lo'): $count($)}, " +
      "'fix': value.items{cat & '!': $max(price)}}"
    val ddl = "id BIGINT, cc MAP<STRING,BIGINT>, up MAP<STRING,BIGINT>, " +
      "cond MAP<STRING,BIGINT>, fix MAP<STRING,BIGINT>"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "dynamic-key single-pair group-by should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on dynamic-key group-by:\n  compiled:    $a\n  interpreted: $b")
    // pins: the null-cat item lands under the concat key '-' (undefined→'');
    // the empty and null rows group the undefined item under '-' at count 0
    val r1 = a.find(_.head == 1L).get
    assert(r1(1).asInstanceOf[Map[String, Long]] ==
      Map("b-b" -> 2L, "a-a" -> 1L, "c-c" -> 1L, "-" -> 1L))
    Seq(3L, 4L).foreach { id =>
      val r = a.find(_.head == id).get
      assert(r(1).asInstanceOf[Map[String, Long]] == Map("-" -> 0L),
        s"id $id concat-key empty corner")
      assert(r(2).asInstanceOf[Map[String, Long]] == Map.empty,
        s"id $id uppercase-key empty corner")
    }
  }

  test("numeric aggregates over array columns compile and match the interpreter") {
    // float array: double summation in array order on both tiers; scalar
    // operands are the singleton identity ($average always double)
    diff("embeddings",
      "{'id': value.vec_id, 's': $sum(value.embedding), 'mn': $min(value.embedding), " +
        "'mx': $max(value.embedding), 'av': $average(value.embedding), " +
        "'one': $sum(value.label), 'oneav': $average(value.label)}",
      "id BIGINT, s DOUBLE, mn FLOAT, mx FLOAT, av DOUBLE, one INT, oneav DOUBLE", "id")
    // empty-array / null corners: $sum([]) = 0, $min/$max/$average([]) undefined
    val df = itemsDf
    val expr = "{'id': value.id, 's': $sum(value.prices), 'mx': $max(value.prices), " +
      "'av': $average(value.prices)}"
    // null ELEMENTS excluded: the engine raises T0412 on them (the pinned
    // divergence — compiled skips them), so the equality check uses null-free
    // arrays while keeping the empty/missing corners
    val withPrices = df.selectExpr("id",
      "filter(transform(items, x -> x.price), x -> x IS NOT NULL) AS prices")
    val ddl = "id BIGINT, s BIGINT, mx BIGINT, av DOUBLE"
    val compiled = JsonataCompiler.transformCompiled(withPrices, expr)
    assert(compiled.isDefined, "array aggregates should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(withPrices, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on array aggregates:\n  compiled:    $a\n  interpreted: $b")
    // pinned corners: empty array sums to 0 with undefined min/avg; null
    // array is undefined everywhere
    assert(a.find(_.head == 3L).get == Seq(3L, 0L, null, null))
    assert(a.find(_.head == 4L).get == Seq(4L, null, null, null))
  }

  test("$map/$filter inline lambdas compile and match the interpreter") {
    // composed under aggregates: immune to the singleton sequence collapse
    diff("embeddings",
      "{'id': value.vec_id, 'pos': $count($filter(value.embedding, function($x){ $x > 0 })), " +
        "'mx2': $max($map(value.embedding, function($x){ $x * 2 })), " +
        "'neg': $count($filter(value.embedding, function($x){ $x < 0 and $x > -1 }))}",
      "id BIGINT, pos BIGINT, mx2 DOUBLE, neg BIGINT", "id")
  }

  test("$map over struct elements: undefined body results drop on both tiers") {
    // id=1 only: multi-element rows avoid the pinned singleton collapse; the
    // null-price item maps to undefined (engine) / NULL (compiled) and is
    // dropped from the result by both tiers
    val df = itemsDf.filter("id = 1")
    val expr = "{'id': value.id, 'p2': $map(value.items, function($i){ $i.price * 2 }), " +
      "'cheap': $filter(value.items, function($i){ $i.price <= 10 })}"
    val ddl = "id BIGINT, p2 ARRAY<BIGINT>, cheap ARRAY<STRUCT<cat: STRING, price: BIGINT>>"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "struct-lambda map/filter should compile")
    val a = compiled.get.collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on struct HOF:\n  compiled:    $a\n  interpreted: $b")
    assert(a.head(1).asInstanceOf[scala.collection.Seq[Long]].toSeq == Seq(60L, 20L, 20L, 14L))
  }

  test("arity-3 lambdas compile: $a binds the whole operand array") {
    diff("embeddings",
      "{'vec_id': value.vec_id," +
        " 'centered_sum': $sum($map(value.embedding, function($x, $i, $a){ $x - $max($a) }))," +
        " 'above_avg': $count($filter(value.embedding, function($x, $i, $a){ $x > $average($a) }))," +
        " 'idx_gated': $count($filter(value.embedding, function($x, $i, $a){ $i < 8 and $x >= $min($a) }))}",
      "vec_id BIGINT, centered_sum DOUBLE, above_avg BIGINT, idx_gated BIGINT",
      "vec_id")
  }

  test("bracket predicates and indexes compile and agree (B2/B3 on the compiled tier)") {
    diff("embeddings",
      "{'vec_id': value.vec_id," +
        " 'n_pos': $count(value.embedding[$ > 0])," +
        " 'sum_band': $sum(value.embedding[$ > 0.5][$ < 1.5])," +
        " 'none': $sum(value.embedding[$ > 99999])," + // survivor-less -> undefined
        " 'first': value.embedding[0]," +
        " 'second': value.embedding[1]," +
        " 'last': value.embedding[-1]," +
        " 'fracidx': value.embedding[-0.5]," + // floors to -1: last element
        " 'oob': value.embedding[999]," +       // out of range -> undefined
        " 'firstpos': value.embedding[$ > 0][0]}", // filter then index
      "vec_id BIGINT, n_pos BIGINT, sum_band DOUBLE, none DOUBLE, first FLOAT, " +
        "second FLOAT, last FLOAT, fracidx FLOAT, oob FLOAT, firstpos FLOAT",
      "vec_id")
    // struct elements: bare field names resolve per item (the engine's
    // predicate context), absent fields drop the item
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq(Row("a", 10L), Row("b", null), Row("c", 40L), Row("d", 5L))),
        Row(2L, Seq.empty[Row]), Row(3L, null)).asJava,
      StructType.fromDDL("id BIGINT, items ARRAY<STRUCT<cat: STRING, price: BIGINT>>"))
    diffDf(df,
      "{'id': value.id," +
        " 'n_big': $count(value.items[price >= 10])," +
        " 'any_cheap': $count(value.items[price < 10 and cat != 'zz']) > 0," +
        " 'total_big': $sum($map(value.items[price >= 10], function($x){ $x.price }))}",
      "id BIGINT, n_big BIGINT, any_cheap BOOLEAN, total_big BIGINT", "id")
    // trailing navigation after stages: field access on the indexed element,
    // per-survivor field mapping (null fields drop), empty -> undefined
    diffDf(df,
      "{'id': value.id," +
        " 'first_cat': value.items[0].cat," +
        " 'top_cat': value.items[price >= 10][0].cat," +
        " 'n_prices': $count(value.items[cat != 'zz'].price)," + // b's null price drops
        " 'sum_big': $sum(value.items[price >= 10].price)," +
        " 'oob_cat': value.items[99].cat}",
      "id BIGINT, first_cat STRING, top_cat STRING, n_prices BIGINT, " +
        "sum_big BIGINT, oob_cat STRING", "id")
  }

  test("bracket stages outside the compiled subset fall back") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // number-VALUED dynamic predicate: per-item index selection semantics
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': value.embedding[value.vec_id]}").isEmpty)
    // truthiness (non-boolean) predicate
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $count(value.embedding[$])}").isEmpty)
    // stage after an index (re-wraps a scalar as a singleton in the engine)
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': value.embedding[0][$ > 0]}").isEmpty)
    // predicates inside lambda bodies: `$a[$ > 0]` is a Filtered(VarRef)
    // node, which the round-9 non-path stage support compiles — and the
    // $a-only subtree hoists out of the per-element lambda. Agreement:
    diff("embeddings",
      "{'vec_id': value.vec_id," +
        " 'hits': $count($filter(value.embedding, function($v, $i, $a){ $v > $count($a[$ > 0.5]) / 64 }))}",
      "vec_id BIGINT, hits BIGINT", "vec_id")
  }

  test("string-truthiness predicates and array-field trailing navigation compile") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // cat exercises all three truthiness outcomes: non-empty keeps, empty
    // string drops, absent (null) drops
    val df = spark.createDataFrame(
      Seq(
        Row(1L, Seq(Row("a", 10L, Seq("x", "y")), Row("", 20L, Seq.empty[String]),
          Row(null, 30L, null), Row("d", 5L, Seq("z", null, "w")))),
        Row(2L, Seq(Row("", 7L, Seq("only")))),
        Row(3L, Seq.empty[Row]), Row(4L, null)).asJava,
      StructType.fromDDL(
        "id BIGINT, items ARRAY<STRUCT<cat: STRING, price: BIGINT, tags: ARRAY<STRING>>>"))
    diffDf(df,
      "{'id': value.id," +
        " 'n_named': $count(value.items[cat])," +            // string truthiness
        " 'named_sum': $sum(value.items[cat].price)," +      // truthiness + trailing
        " 'first_named': value.items[cat][0].cat," +         // truthiness + index + nav
        " 'n_tags': $count(value.items[price < 25].tags)," + // ARRAY field spreads; null field drops
        " 'n_dtags': $count($distinct(value.items[cat != ''][price <= 10].tags))}",
      "id BIGINT, n_named BIGINT, named_sum BIGINT, first_named STRING, " +
        "n_tags BIGINT, n_dtags BIGINT", "id")
    // a null element spread from a tags array is a real JSON null in the
    // sequence: $count counts it (row 1: x,y,z,null,w -> 5 through both tiers)
    val counted = JsonataCompiler.transformCompiled(df,
      "{'id': value.id, 'n': $count(value.items[price < 25].tags)}").get
      .orderBy("id").collect()
    assert(counted(0).getLong(1) == 5L, s"expected the spread null tag to count: ${counted.toSeq}")
    // struct-typed (object-truthiness) predicates stay interpreted
    assert(JsonataCompiler.transformCompiled(df, "{'x': $count(value.items[$])}").isEmpty)
    // array-typed (array-truthiness) predicates stay interpreted
    assert(JsonataCompiler.transformCompiled(df, "{'x': $count(value.items[tags])}").isEmpty)
  }

  test("per-element stages on navigated array fields compile (the a.b[0] idiom)") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(
        Row(1L, Seq(Row("a", 10L, Seq("x", "y")), Row("", 20L, Seq.empty[String]),
          Row(null, 30L, null), Row("d", 5L, Seq("z", null, "w")))),
        Row(2L, Seq(Row("e", 7L, Seq("only")))),
        Row(3L, Seq.empty[Row]), Row(4L, null)).asJava,
      StructType.fromDDL(
        "id BIGINT, items ARRAY<STRUCT<cat: STRING, price: BIGINT, tags: ARRAY<STRING>>>"))
    diffDf(df,
      "{'id': value.id," +
        " 'firsts': $count(value.items.tags[0])," +     // first tag of EACH item
        " 'lasts': $count(value.items.tags[-1])," +
        " 'named': $count(value.items.tags[$])," +      // truthiness per element's tags
        " 'nonull': $count(value.items.tags[$ != 'x'])}", // null tag KEPT (nullish !=)
      "id BIGINT, firsts BIGINT, lasts BIGINT, named BIGINT, nonull BIGINT", "id")
    // chained staged steps: Shape A filter, then Shape B per-element stages
    // on the survivors' array field; index-collapsed element + staged field
    diffDf(df,
      "{'id': value.id," +
        " 'ab': $count(value.items[price < 25].tags[0])," + // first tag of each cheap item
        " 'abp': $count(value.items[cat].tags[$ != 'x'])," +
        " 'ii': value.items[0].tags[0]," +                  // scalar chain
        " 'iip': $count(value.items[-1].tags[$])}",
      "id BIGINT, ab BIGINT, abp BIGINT, ii STRING, iip BIGINT", "id")
    // per-element stages on a NON-array field stay interpreted (the engine
    // wraps the scalar as a singleton — [0] would return the scalar)
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': $count(value.items.price[0])}").isEmpty)
    // a mid-path surviving sequence after a collapsed element stays
    // interpreted (items[0].tags[pred].length-style chains)
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': value.items[0].tags[$ != 'x'].missing}").isEmpty)
  }

  test("stages on non-path bases compile: $split(...)[pred] and [index]") {
    diff("documents",
      "{'doc_id': value.doc_id," +
        " 'n_words': $count($split(value.text, ' ')[$])," +            // string truthiness
        " 'n_long': $count($split(value.text, ' ')[$length($) > 4])," +
        " 'first_word': $split(value.text, ' ')[0]," +
        " 'last_long': $split(value.text, ' ')[$length($) > 4][-1]," +
        " 'lit_n': $count($split('a,,b', ',')[$])," +                  // empty strings drop
        " 'none': $count($split(value.text, ' ')[$length($) > 9999])}",
      "doc_id BIGINT, n_words BIGINT, n_long BIGINT, first_word STRING, " +
        "last_long STRING, lit_n BIGINT, none BIGINT",
      "doc_id")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // scalar bases re-wrap as singletons in the engine — interpreted
    assert(JsonataCompiler.transformCompiled(docs, "{'x': value.doc_id[0]}").isEmpty)
    // stages after an index stay interpreted (scalar re-wrap again)
    assert(JsonataCompiler.transformCompiled(docs,
      "{'x': $split(value.text, ' ')[0][$]}").isEmpty)
  }

  test("empty HOF results are undefined, not empty arrays ($sum of a survivor-less $filter)") {
    // the engine's empty sequence is undefined: $sum(undefined) = undefined,
    // while $sum([]) = 0 — a compiled filter that kept [] instead of NULL
    // returned 0.0 here (round-9 ProbeEmptyFilter find, fixed by emptyAsNull
    // on every compiled HOF result)
    diff("embeddings",
      "{'vec_id': value.vec_id," +
        " 'zf': $sum($filter(value.embedding, function($x){ $x > 99999 }))," +
        " 'zm': $sum($map(value.embedding, function($x){ $x > 99999 ? $x }))," +
        " 'zc': $count($filter(value.embedding, function($x, $i){ $x > 99999 and $i < 0 }))," +
        " 'za': $sum($filter(value.embedding, function($x, $i, $a){ $x > $max($a) }))}",
      "vec_id BIGINT, zf DOUBLE, zm DOUBLE, zc BIGINT, za DOUBLE", "vec_id")
  }

  test("arity-3 hoist: whole-array aggregates evaluate once per row, not per element") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, HigherOrderFunction}
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val expr = "{'vec_id': value.vec_id," +
      " 'n_above': $count($filter(value.embedding, function($x, $i, $a){ $x > $average($a) }))," +
      " 'spread_sum': $sum($map(value.embedding, function($x, $i, $a){ $x - $min($a) }))}"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "arity-3 bodies with $a aggregates should compile")
    // the plan defect this pins against: an $a-only aggregate inlined INSIDE
    // the per-element lambda re-evaluates the whole-array aggregate for each
    // element — O(n²) per row (round-8 jx19 at 5.6 s vs ~0.6 s hoisted). The
    // hoisted form carries the aggregate through a one-element transform
    // wrapper, so no HigherOrderFunction's LAMBDA may contain an
    // ArrayAggregate (the wrapper holds it in its argument, evaluated once).
    val offenders = compiled.get.queryExecution.analyzed.expressions.flatMap(_.collect {
      case h: HigherOrderFunction
          if h.functions.exists(f => f.collectFirst { case a: ArrayAggregate => a }.isDefined) => h
    })
    assert(offenders.isEmpty,
      s"per-element lambda re-evaluates a whole-array aggregate:\n${offenders.mkString("\n")}")
  }

  test("HOF shapes outside the subset fall back to the interpreter") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // arity-3 now compiles ($a = the operand array as a fixed outer column);
    // see the agreement test above
    assert(JsonataCompiler.transformCompiled(emb,
      "{'m': $map(value.embedding, function($x, $i, $a){ $x })}").isDefined)
    // row paths inside a lambda body resolve against the NULL invocation
    // context (undefined), not the row — must not compile as a column
    assert(JsonataCompiler.transformCompiled(emb,
      "{'m': $map(value.embedding, function($x){ $x + value.vec_id })}").isEmpty)
    // $filter bodies must be statically boolean (number truthiness differs)
    assert(JsonataCompiler.transformCompiled(emb,
      "{'f': $filter(value.embedding, function($x){ $x })}").isEmpty)
    // a param shadowing a builtin name is a function value in the engine
    assert(JsonataCompiler.transformCompiled(emb,
      "{'u': $map(value.embedding, function($uppercase){ $uppercase($uppercase) })}").isEmpty)
    // non-inline function references stay interpreted
    assert(JsonataCompiler.transformCompiled(emb,
      "{'m': $map(value.embedding, $string)}").isEmpty)
  }

  test("sort/group shapes outside the subset fall back to the interpreter") {
    val df = itemsDf
    // multi-pair group-by can raise D1009 — must stay interpreted
    assert(JsonataCompiler.transformCompiled(df,
      "{'g': value.items{cat: $count($), 'k': $sum(price)}}").isEmpty)
    // non-string key raises T1003 — must stay interpreted
    assert(JsonataCompiler.transformCompiled(df, "{'g': value.items{price: $count($)}}").isEmpty)
    // sort term on a non-existent field / non-atomic key
    assert(JsonataCompiler.transformCompiled(df, "{'s': value.items^(missing)}").isEmpty)
    // steps after the sort stay interpreted
    assert(JsonataCompiler.transformCompiled(df, "{'s': value.items^(price).cat}").isEmpty)
    // computed (non-path) group input stays interpreted
    assert(JsonataCompiler.transformCompiled(df, "{'g': $split('a b', ' '){$: $count($)}}").isEmpty)
  }

  test("$reduce with a literal init compiles to native aggregate and matches the interpreter") {
    // integer seed over double elements: the numeric-widening re-probe path
    diff("embeddings",
      "{'id': value.vec_id, 'ss': $reduce(value.embedding, function($a, $x){ $a + $x * $x }, 0), " +
      "'mx': $reduce(value.embedding, function($a, $x){ $a > $x ? $a : $x * 1 }, -1e9)}",
      "id BIGINT, ss DOUBLE, mx DOUBLE", "id")
  }

  test("$reduce null-array / null-element / non-literal-init behavior") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq(1.0, 2.0, 3.0)), Row(2L, Seq.empty[Double]), Row(3L, null)).asJava,
      StructType.fromDDL("id BIGINT, xs ARRAY<DOUBLE>"))
    // empty array folds zero times -> the init; a SQL NULL array is a JSON
    // null VALUE (engine: fold type-errors to undefined) -> NULL on both
    val expr = "{'id': value.id, 's': $reduce(value.xs, function($a, $x){ $a + $x }, 100)}"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "literal-init reduce should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL("id BIGINT, s DOUBLE"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on reduce corners:\n  compiled:    $a\n  interpreted: $b")
    assert(a.map(_(1)) == Seq(106.0, 100.0, null))
    // no init / expression init / higher arity stay interpreted
    assert(JsonataCompiler.transformCompiled(df,
      "{'s': $reduce(value.xs, function($a, $x){ $a + $x })}").isEmpty)
    assert(JsonataCompiler.transformCompiled(df,
      "{'s': $reduce(value.xs, function($a, $x){ $a + $x }, value.id)}").isEmpty)
    assert(JsonataCompiler.transformCompiled(df,
      "{'s': $reduce(value.xs, function($a, $x, $i){ $a + $x }, 0)}").isEmpty)
  }

  test("$reverse/$distinct/$append on array columns compile and match the interpreter") {
    diff("embeddings",
      "{'id': value.vec_id, " +
        "'rsum': $sum($append(value.embedding, $reverse(value.embedding))), " +
        "'nd': $count($distinct($map(value.embedding, function($x){ $floor($x * 10) })))}",
      "id BIGINT, rsum DOUBLE, nd BIGINT", "id")
    // comparator-less $sort: ascending on a homogeneous numeric array (the
    // sorted array survives the engine boundary because dim > 1)
    diff("embeddings",
      "{'id': value.vec_id, 'srt': $sort(value.embedding)}",
      "id BIGINT, srt ARRAY<FLOAT>", "id")
    // undefined-side append returns the other side; both-null stays null
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // distinct results stay multi-element: a singleton result collapses to a
    // scalar at the engine boundary (the pinned divergence class) and would
    // decode to null under the ARRAY ddl on the interpreted side
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq(1L, 2L), Seq(3L, 4L, 3L)), Row(2L, null, Seq(7L, 7L, 8L)),
        Row(3L, Seq(5L, 6L), null)).asJava,
      StructType.fromDDL("id BIGINT, xs ARRAY<BIGINT>, ys ARRAY<BIGINT>"))
    val expr = "{'id': value.id, 'app': $append(value.xs, value.ys), 'd': $distinct(value.ys)}"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "array-typed append/distinct should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr,
      StructType.fromDDL("id BIGINT, app ARRAY<BIGINT>, d ARRAY<BIGINT>"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on append/distinct corners:\n  compiled:    $a\n  interpreted: $b")
    def asSeq(v: Any): Seq[Long] = v.asInstanceOf[scala.collection.Seq[Long]].toSeq
    assert(asSeq(a(1)(1)) == Seq(7L, 7L, 8L),
      s"append(undefined, ys) must be ys, got ${a(1)(1)}")
    assert(asSeq(a(2)(1)) == Seq(5L, 6L),
      s"append(xs, undefined) must be xs, got ${a(2)(1)}")
    assert(asSeq(a(0)(2)) == Seq(3L, 4L),
      s"distinct must keep first-occurrence order, got ${a(0)(2)}")
  }

  test("in-membership on an undefined operand projects false in both tiers") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, "en"), Row(2L, null), Row(3L, "fr")).asJava,
      StructType.fromDDL("doc_id BIGINT, lang STRING"))
    val expr = "{'doc_id': value.doc_id, 'm': value.lang in ['en', 'de']}"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined)
    val a = compiled.get.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL("doc_id BIGINT, m BOOLEAN"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on null-operand membership:\n  compiled:    $a\n  interpreted: $b")
    assert(a(1) == Seq(2L, false), s"undefined operand must project false, got ${a(1)}")
  }

  test("object operators over the row struct compile and match the interpreter") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // nulls exercise the present-field rule: a NULL column is an absent key
    val df = spark.createDataFrame(
      Seq(Row(1L, 10L, "s1"), Row(2L, null, "s2"), Row(3L, 30L, null), Row(4L, null, null)).asJava,
      StructType.fromDDL("id BIGINT, b BIGINT, c STRING"))
    val expr = "{'id': value.id, 'np': $count($keys(value)), " +
      "'ks': $join($keys(value), '|'), " +
      "'nb': $count($keys($sift(value, function($v, $k){ $k = 'b' }))), " +
      "'lb': $lookup(value, 'b'), " +
      "'sm': $sum($each(value, function($v, $k){ $k != 'id' ? 1 : 0 }))}"
    val ddl = "id BIGINT, np BIGINT, ks STRING, nb BIGINT, lb BIGINT, sm BIGINT"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "struct object operators should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on struct object ops:\n  compiled:    $a\n  interpreted: $b")
    assert(a(1) == Seq(2L, 2L, "id|c", 0L, null, 1L), s"null-field row wrong: ${a(1)}")
  }

  test("object operators over compiled group-by maps match the interpreter") {
    // id=3 (empty array) / id=4 (null array) group to an empty object, whose
    // $keys/$sift/$each results are the engine's undefined — the compiled tier
    // maps empty results to NULL (emptyAsNull) so $count gives 0 and $sum
    // gives null on BOTH tiers
    val df = itemsDf
    val g = "value.items{cat: $sum(price)}"
    val expr = s"{'id': value.id, " +
      s"'nbig': $$count($$keys($$sift($g, function($$v){ $$v >= 20 }))), " +
      s"'la': $$lookup($g, 'a'), " +
      s"'tot': $$sum($$each($g, function($$v){ $$v * 2 }))}"
    val ddl = "id BIGINT, nbig BIGINT, la BIGINT, tot BIGINT"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "map object operators should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on map object ops:\n  compiled:    $a\n  interpreted: $b")
    // id=1: groups {b:40, a:10} (c's only price is null => aggregate undefined
    // => key omitted; null cat skipped) — sift keeps b, lookup('a')=10,
    // each doubles and sums to 100
    assert(a.head == Seq(1L, 1L, 10L, 100L), s"group-map row wrong: ${a.head}")
  }

  test("arity-3 map-sift compiles: $o binds the whole map object") {
    val df = itemsDf
    val g = "value.items{cat: $sum(price)}"
    // keep entries contributing over a third of the object's own total —
    // $o reaches back into the sifted map
    val expr = s"{'id': value.id, " +
      s"'nmajor': $$count($$keys($$sift($g, " +
      s"function($$v, $$k, $$o){ $$v * 3 >= $$sum($$each($$o, function($$x){ $$x })) })))}"
    val ddl = "id BIGINT, nmajor BIGINT"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "arity-3 map sift should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on arity-3 map sift:\n  compiled:    $a\n  interpreted: $b")
  }

  test("$sort swap-comparators compile in both orientations and match the interpreter") {
    // `$l > $r` (straight) and `$r < $l` (crossed) are both ascending; `$l < $r`
    // is descending — all three must agree with the interpreted msort
    diff("embeddings",
      "{'vec_id': value.vec_id, 'a': $sort(value.embedding, function($l, $r){ $l > $r }), " +
        "'c': $sort(value.embedding, function($l, $r){ $r < $l }), " +
        "'d': $sort(value.embedding, function($l, $r){ $l < $r })}",
      "vec_id BIGINT, a ARRAY<FLOAT>, c ARRAY<FLOAT>, d ARRAY<FLOAT>", "vec_id")
  }

  test("$sort struct-field comparator is stable on ties and matches the interpreter") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq(Row("b", 3L), Row("a", 1L), Row("c", 2L), Row("d", 2L)))).asJava,
      StructType.fromDDL("id BIGINT, items ARRAY<STRUCT<cat: STRING, price: BIGINT>>"))
    val expr = "{'id': value.id, 's': $sort(value.items, function($l, $r){ $l.price > $r.price })}"
    val ddl = "id BIGINT, s ARRAY<STRUCT<cat: STRING, price: BIGINT>>"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "struct-field swap comparator should compile")
    val a = compiled.get.collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on comparator sort:\n  compiled:    $a\n  interpreted: $b")
    // the two price=2 items keep their original relative order (stable)
    val cats = a.head(1).asInstanceOf[scala.collection.Seq[Row]].map(_.getString(0)).toSeq
    assert(cats == Seq("a", "c", "d", "b"), s"expected stable ascending sort, got $cats")
  }

  test("$sort comparator shapes outside the subset fall back to the interpreter") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // >= is not a strict weak order (swap-comparator contract violation risk)
    assert(JsonataCompiler.transformCompiled(emb,
      "{'s': $sort(value.embedding, function($l, $r){ $l >= $r })}").isEmpty)
    // non-mirrored keys
    assert(JsonataCompiler.transformCompiled(emb,
      "{'s': $sort(value.embedding, function($l, $r){ $l > 0 })}").isEmpty)
    // non-comparison body
    assert(JsonataCompiler.transformCompiled(emb,
      "{'s': $sort(value.embedding, function($l, $r){ $l - $r })}").isEmpty)
  }

  test("let-binding preambles inline named lambdas and literals onto the compiled tier") {
    diff("embeddings",
      "($pos := function($x){ $x > 0 }; $two := 2; " +
        "{'vec_id': value.vec_id, 'n': $count($filter(value.embedding, $pos)), " +
        "'m': $max($map(value.embedding, function($x){ $x * $two }))})",
      "vec_id BIGINT, n BIGINT, m DOUBLE", "vec_id")
    // a later bind may reference an earlier one
    diff("embeddings",
      "($a := 10; $f := function($x){ $x * $a }; " +
        "{'vec_id': value.vec_id, 'm': $max($map(value.embedding, $f))})",
      "vec_id BIGINT, m DOUBLE", "vec_id")
  }

  test("let-binding shadowing and non-literal binds fall back or resolve like the engine") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // a lambda param shadows a bind of the same name — the param must win
    diff("embeddings",
      "($x := 100; {'vec_id': value.vec_id, 'n': $count($filter(value.embedding, function($x){ $x > 0 }))})",
      "vec_id BIGINT, n BIGINT", "vec_id")
    // non-literal bind values (row-dependent) must stay interpreted
    assert(JsonataCompiler.transformCompiled(emb,
      "($t := value.vec_id; {'id': $t})").isEmpty)
    // a bind shadowing a BUILTIN name is a function value in the engine —
    // the substituted call is not the builtin, and it stays interpreted
    assert(JsonataCompiler.transformCompiled(emb,
      "($count := function($a){ 42 }; {'n': $count(value.embedding)})").isEmpty)
  }

  test("indexed lambdas ($v,$i) compile and agree with the interpreter") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val expr = "{'vec_id': value.vec_id, " +
      "'even_sum': $sum($map(value.embedding, function($x, $i){ $i % 2 = 0 ? $x })), " +
      "'head_pos': $count($filter(value.embedding, function($x, $i){ $i < 8 and $x > 0 }))}"
    val ddl = "vec_id BIGINT, even_sum DOUBLE, head_pos BIGINT"
    val compiled = JsonataCompiler.transformCompiled(emb, expr)
    assert(compiled.isDefined, "indexed lambdas should compile")
    val a = compiled.get.orderBy("vec_id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(emb, expr, StructType.fromDDL(ddl))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on indexed lambdas:\n  ${a.take(2)}\n  ${b.take(2)}")
    // arity-3 ($v, $i, $a) compiles since round 8 (see the arity-3 test)
    assert(JsonataCompiler.transformCompiled(emb,
      "{'n': $count($filter(value.embedding, function($x, $i, $a){ $x > 0 }))}").isDefined)
  }

  test("schema-as-data preambles constant-fold and match the interpreter (jx07 shape)") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, 10L, "s1"), Row(2L, null, "s2"), Row(3L, 30L, null)).asJava,
      StructType.fromDDL("id BIGINT, b BIGINT, c STRING"))
    val expr =
      """(
        $drop := function($v, $k) { $k != 'c' };
        $schema := {"fields": {"id": {"t": "INT64"}, "b": {"t": "INT64"}, "c": {"t": "STRING"}}};
        $new := $merge([$schema, {"fields": $sift($schema.fields, $drop)}]);
        $merge([$sift(value, $drop), {"nf": $count($keys($new.fields))}])
      )"""
    val ddl = "id BIGINT, b BIGINT, nf BIGINT"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "schema-as-data preamble should compile")
    val a = compiled.get.select("id", "b", "nf")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on schema-as-data fold:\n  compiled:    $a\n  interpreted: $b")
    assert(a.head == Seq(1L, 10L, 2L), s"folded nf wrong: ${a.head}")
  }

  test("static folding stays conservative: impure or undefined cases fall back") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // a bind depending on the row cannot fold
    assert(JsonataCompiler.transformCompiled(emb,
      "($o := {\"k\": value.vec_id}; {'n': $count($keys($o))})").isEmpty)
    // $keys of an empty literal object is engine-undefined — never folded
    assert(JsonataCompiler.transformCompiled(emb,
      "($o := {}; {'n': $keys($o)})").isEmpty)
    // $sift keeping nothing is fSift's undef — never folded
    assert(JsonataCompiler.transformCompiled(emb,
      "($o := {\"a\": 1}; {'n': $count($keys($sift($o, function($v){ false })))})").isEmpty)
    // $lookup of an absent key is undefined — never folded
    assert(JsonataCompiler.transformCompiled(emb,
      "($o := {\"a\": 1}; {'n': $lookup($o, 'zzz')})").isEmpty)
  }

  /** `auto`'s rows for `expr` over `df`, checked against the interpreter's
    * as a row multiset. */
  private def autoRows(df: org.apache.spark.sql.DataFrame, expr: String,
                       ddl: String): Seq[Seq[Any]] = {
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val a = rows(JsonataDF.auto(df, expr, StructType.fromDDL(ddl)))
    val b = rows(JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl)))
    assert(a == b, s"auto and the interpreter differ on $expr:\n  auto:        $a\n  interpreted: $b")
    a
  }

  private def twoRows = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(Row(1L, Seq(1L, 2L)), Row(2L, Seq(3L))).asJava,
      StructType.fromDDL("id BIGINT, xs ARRAY<BIGINT>"))
  }

  test("folded values are the engine's: a one-key $keys is a string") {
    // fKeys returns a sequence, which collapses to its one item
    val expr = "{'id': value.id, 'n': $keys({\"a\": 1}) = \"a\"}"
    assert(JsonataCompiler.transformCompiled(twoRows, expr).isDefined)
    assert(autoRows(twoRows, expr, "id BIGINT, n BOOLEAN").map(_(1)) == Seq(true, true))
  }

  // an array-valued bind stays a variable: the array constructor flattens
  // it, where it keeps a nested array literal
  test("a bind to a two-key $keys flattens in the array constructor") {
    val expr = "($k := $keys({\"a\": 1, \"b\": 2}); {'id': value.id, 'n': $count([$k, \"c\"])})"
    assert(autoRows(twoRows, expr, "id BIGINT, n BIGINT").map(_(1)) == Seq(3L, 3L))
  }

  test("a bind to an array literal flattens in the array constructor") {
    val expr = "($k := [\"a\", \"b\"]; {'id': value.id, 'n': $count([$k, \"c\"])})"
    assert(autoRows(twoRows, expr, "id BIGINT, n BIGINT").map(_(1)) == Seq(3L, 3L))
  }

  test("folding never reads a lambda parameter named like a builtin as the builtin") {
    val expr = "{'id': value.id, 't': $join($map(value.xs, function($keys){ $type($keys) }), ',')}"
    assert(autoRows(twoRows, expr, "id BIGINT, t STRING").map(_(1)) ==
      Seq("number,number", "number"))
  }

  test("subtrees that read the input or are nondeterministic never become literals") {
    // the input: `$` is the record envelope, `$$` its root
    assert(autoRows(twoRows, "{'id': value.id, 'n': $count($keys($))}", "id BIGINT, n BIGINT")
      .map(_(1)) == Seq(3L, 3L))
    assert(autoRows(twoRows, "{'id': value.id, 'e': $exists($$)}", "id BIGINT, e BOOLEAN")
      .map(_(1)) == Seq(true, true))
    // none of these has a compiled form, so left unfolded the query is the
    // interpreter's
    Seq("$string($now())", "$millis()", "$random() < 2", "$count([$millis(), 1])").foreach { e =>
      assert(JsonataCompiler.transformCompiled(twoRows, s"{'id': value.id, 'n': $e}").isEmpty, e)
    }
  }

  // ---- compiled $fromMillis/$toMillis (round 9) -------------------------

  private def millisDf = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // in-guard-range probes: epoch, now-ish, pre-epoch, year-1 start, a day
    // before year-9999 end (a ±14h zone shift must stay inside the pictured
    // guard — shifting past year 9999 IS the pinned divergence, tested
    // separately), sub-day corners
    val rows = Seq(
      1L -> 0L, 2L -> 1723600000000L, 3L -> -1000000000000L,
      4L -> (JsonataCompiler.MillisYear1 + 86400000L),
      5L -> (JsonataCompiler.MillisYear9999 - 86400000L),
      6L -> 1000000L, 7L -> 86399999L)
    spark.createDataFrame(
      rows.map { case (id, ms) => Row(id, ms) }.asJava,
      StructType.fromDDL("id BIGINT, ms BIGINT"))
  }

  private def diffDf(df: org.apache.spark.sql.DataFrame, expr: String, ddl: String,
                     order: String): Unit = {
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, s"expected expression to compile to Columns: $expr")
    val a = compiled.get.orderBy(order).collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy(order).collect().map(_.toSeq).toSeq
    assert(a.size == b.size, s"row count differs: compiled=${a.size} interpreted=${b.size} for $expr")
    a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
      assert(ra == rb, s"row $i differs for $expr:\n  compiled:    $ra\n  interpreted: $rb")
    }
  }

  test("compiled default-picture $fromMillis agrees across the whole guard range") {
    diffDf(millisDf,
      "{'id': value.id, 'iso': $fromMillis(value.ms)," +
        " 'off': $fromMillis(value.ms, '[Y0001]-[M01]-[D01]T[H01]:[m]:[s].[f001][Z01:01t]', '+0530')}",
      "id BIGINT, iso STRING, off STRING", "id")
    // default-picture guard extends past year 9999 toward the timestamp max —
    // the '+' year prefix agrees between Java ofPattern and date_format.
    // Differential coverage stops below 2^53: beyond it the INTERPRETED
    // tier itself rounds the millis through its JSON-number double space
    // (the repo-wide pinned long-exactness class), so the exact boundary is
    // covered by the guard/crash test below instead.
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val hi = spark.createDataFrame(
      Seq(Row(0L, JsonataCompiler.MillisYear1),
        Row(1L, JsonataCompiler.MillisYear9999),
        Row(2L, JsonataCompiler.MillisYear9999 + 1L),
        Row(3L, 4000000000000000L)).asJava, // year ~128746, < 2^53
      StructType.fromDDL("id BIGINT, ms BIGINT"))
    diffDf(hi, "{'id': value.id, 'iso': $fromMillis(value.ms)}",
      "id BIGINT, iso STRING", "id")
  }

  test("pinned divergence: out-of-guard-range $fromMillis is NULL compiled, rendered interpreted") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, JsonataCompiler.MillisYear1 - 1L),
        Row(2L, JsonataCompiler.MillisTsMax + 1L)).asJava,
      StructType.fromDDL("id BIGINT, ms BIGINT"))
    val expr = "{'id': value.id, 'iso': $fromMillis(value.ms)}"
    val compiled = JsonataCompiler.transformCompiled(df, expr).get
      .orderBy("id").collect()
    // compiled: NULL (guard), NEVER a crash — the unguarded form ANSI-threw
    // on timestamp_millis overflow
    assert(compiled.forall(_.isNullAt(1)), "out-of-range must NULL, not render or throw")
    // interpreter: era-style / astronomic strings (the divergence is pinned,
    // not accidental)
    val interp = JsonataDF.transformAs(df, expr, StructType.fromDDL("id BIGINT, iso STRING"))
      .orderBy("id").collect()
    assert(interp.forall(!_.isNullAt(1)))
    // the guard boundary itself renders without the ANSI overflow crash
    val edge = spark.createDataFrame(Seq(Row(1L, JsonataCompiler.MillisTsMax)).asJava,
      StructType.fromDDL("id BIGINT, ms BIGINT"))
    val r = JsonataCompiler.transformCompiled(edge, expr).get.collect()
    assert(r.length == 1 && r(0).getString(1).startsWith("+294247-01-10"), r.mkString)
  }

  test("compiled pictured $fromMillis: names, 12-hour, day-of-year, zones, escapes") {
    diffDf(millisDf,
      "{'id': value.id," +
        " 'a': $fromMillis(value.ms, '[Y0001]-[M01]-[D01] [H01]:[m]:[s].[f001]')," +
        " 'b': $fromMillis(value.ms, '[Y]/[M]/[D]')," +
        " 'c': $fromMillis(value.ms, '[D01] [MNn] [Y0001]')," +
        " 'd': $fromMillis(value.ms, '[FNn,3], [D] [MNn,3] [Y0001] [h]:[m] [PN]')," +
        " 'e': $fromMillis(value.ms, '[F], day [d] of [Y0001]')," +
        " 'f': $fromMillis(value.ms, '[H01][m][s] [z]', '-0800')," +
        " 'g': $fromMillis(value.ms, '[[Y]] is [Y0001] [Z]', '+0230')," +
        " 'h': $fromMillis(value.ms, '[Y0001][M01][D01]T[H01][m][s][Z01:01t]')}",
      "id BIGINT, a STRING, b STRING, c STRING, d STRING, e STRING, f STRING, g STRING, h STRING",
      "id")
  }

  test("compiled $toMillis agrees on every parseIso branch and round-trips") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val strs = Seq(
      "2024", "2024-08", "2024-08-14", "2024-08-14T01:02", "2024-08-14T01:02:03",
      "2024-08-14T01:02:03.4", "2024-08-14T01:02:03.456", "2024-08-14T01:02:03.456Z",
      "2024-08-14T01:02:03.456+05:30", "2024-08-14T01:02:03-08:00",
      "2024-08-14T01:02:03.4567890Z", // sub-milli digits truncate on both tiers
      "  2024-08-14  ", // engine trims
      "0000-01-01", "9999-12-31T23:59:59.999Z", "1969-12-31T23:59:59.999Z")
    val df = spark.createDataFrame(
      strs.zipWithIndex.map { case (s, i) => Row(i.toLong, s) }.asJava,
      StructType.fromDDL("id BIGINT, s STRING"))
    diffDf(df, "{'id': value.id, 'ms': $toMillis(value.s)}",
      "id BIGINT, ms BIGINT", "id")
    // round-trip composition stays compiled and exact
    diffDf(millisDf,
      "{'id': value.id, 'rt': $toMillis($fromMillis(value.ms))," +
        " 'day': $toMillis($fromMillis(value.ms, '[Y0001]-[M01]-[D01]'))}",
      "id BIGINT, rt BIGINT, day BIGINT", "id")
  }

  test("compiled pictured $toMillis agrees on numeric-marker pictures") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    def df(ss: Seq[String]) = spark.createDataFrame(
      ss.zipWithIndex.map { case (s, i) => Row(i.toLong, s) }.asJava,
      StructType.fromDDL("id BIGINT, s STRING"))
    // full datetime, compact, ragged widths (regex (\d{1,w}) accepts short
    // groups), year 0, fraction widths, defaults for absent components
    diffDf(df(Seq("2024-08-14 01:02:03", "0004-01-02 23:59:59", "0000-01-01 00:00:00")),
      "{'id': value.id, 'ms': $toMillis(value.s, '[Y0001]-[M01]-[D01] [H01]:[m]:[s]')}",
      "id BIGINT, ms BIGINT", "id")
    diffDf(df(Seq("20240814", "00700101")),
      "{'id': value.id, 'ms': $toMillis(value.s, '[Y0001][M01][D01]')}",
      "id BIGINT, ms BIGINT", "id")
    diffDf(df(Seq("14/8/2024 7:5:3.5", "1/1/1999 0:0:0.25")),
      "{'id': value.id, 'ms': $toMillis(value.s, '[D]/[M]/[Y0001] [H]:[m]:[s].[f1]')}",
      "id BIGINT, ms BIGINT", "id")
    // round-trip through the compiled pictured formatter
    diffDf(millisDf,
      "{'id': value.id, 'rt': $toMillis($fromMillis(value.ms, " +
        "'[Y0001]-[M01]-[D01] [H01]:[m]:[s].[f001]'), " +
        "'[Y0001]-[M01]-[D01] [H01]:[m]:[s].[f001]')}",
      "id BIGINT, rt BIGINT", "id")
    // error parity: regex mismatch, hour 24 / minute 60 (ZonedDateTime.of
    // validation), Feb 30 (calendar validity)
    for (bad <- Seq("2024-13-14 01:02:03x", "2024-08-14 24:00:00",
      "2024-08-14 01:60:00", "2024-02-30 01:02:03")) {
      val d1 = df(Seq(bad))
      val expr = "{'id': value.id, 'ms': $toMillis(value.s, '[Y0001]-[M01]-[D01] [H01]:[m]:[s]')}"
      val c = JsonataCompiler.transformCompiled(d1, expr)
      assert(c.isDefined)
      assert(intercept[Exception](c.get.collect()) != null, s"compiled must raise on '$bad'")
      assert(intercept[Exception](JsonataDF.transformAs(d1, expr,
        StructType.fromDDL("id BIGINT, ms BIGINT")).collect()) != null,
        s"interpreter must raise on '$bad'")
    }
    // UNDELIMITED [H01][m][s] is ambiguous under the engine's greedy (\d+)
    // groups: "034729" binds minute=472 and BOTH tiers error — a picture
    // design trap, not a tier divergence (found via jx20's first cut)
    locally {
      val d1 = df(Seq("20240814 034729"))
      val expr = "{'id': value.id, 'ms': $toMillis(value.s, '[Y0001][M01][D01] [H01][m][s]')}"
      val c = JsonataCompiler.transformCompiled(d1, expr)
      assert(c.isDefined)
      assert(intercept[Exception](c.get.collect()) != null,
        "compiled must raise on the ambiguous undelimited picture")
      assert(intercept[Exception](JsonataDF.transformAs(d1, expr,
        StructType.fromDDL("id BIGINT, ms BIGINT")).collect()) != null,
        "interpreter must raise on the ambiguous undelimited picture")
    }
    // out-of-subset pictures stay interpreted: unbounded year, 12-hour,
    // zones, day-of-year, month names
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for (pic <- Seq("[Y]-[M01]", "[h]:[m] [PN]", "[H01][Z]", "[d] [Y0001]", "[MNn] [Y0001]"))
      assert(JsonataCompiler.transformCompiled(emb,
        s"{'x': $$toMillis('x', '$pic')}").isEmpty, s"picture '$pic' must fall back")
  }

  test("compiled $toMillis raises where the engine raises (shape and semantic errors)") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // each is D3110 in the engine; Spark alone would ACCEPT the first three
    // (lenient parser) or null-swallow outside ANSI — the compiled regex
    // gate + raise_error keeps them errors in every session mode
    val bad = Seq("10000-01-01T00:00:00Z", "2024-08-14 01:02:03", "24-08-14",
      "garbage", "2024-13-45")
    for (s <- bad) {
      val df = spark.createDataFrame(Seq(Row(1L, s)).asJava,
        StructType.fromDDL("id BIGINT, s STRING"))
      val expr = "{'id': value.id, 'ms': $toMillis(value.s)}"
      val compiled = JsonataCompiler.transformCompiled(df, expr)
      assert(compiled.isDefined, s"gated $$toMillis should still compile for '$s'")
      val eC = intercept[Exception](compiled.get.collect())
      assert(eC != null)
      val eI = intercept[Exception](
        JsonataDF.transformAs(df, expr, StructType.fromDDL("id BIGINT, ms BIGINT")).collect())
      assert(eI != null)
    }
    // null input is undefined, not an error, on both tiers
    val df0 = spark.createDataFrame(Seq(Row(1L, null)).asJava,
      StructType.fromDDL("id BIGINT, s STRING"))
    diffDf(df0, "{'id': value.id, 'ms': $toMillis(value.s)}", "id BIGINT, ms BIGINT", "id")
  }

  test("multi-pair literal-key {} group-by compiles and agrees (object of named aggregates)") {
    diff("embeddings",
      "{'vec_id': value.vec_id," +
        " 'n': $lookup(value.embedding{'n': $count($), 'sum': $sum($)}, 'n')," +
        " 'sum': $lookup(value.embedding{'n': $count($), 'sum': $sum($)}, 'sum')," +
        " 'stats_keys': $join($keys(value.embedding{'hi': $max($), 'lo': $min($), 'avg': $average($)}), ',')}",
      "vec_id BIGINT, n DOUBLE, sum DOUBLE, stats_keys STRING", "vec_id")
    // struct-element arrays keep working with member-field aggregates
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq(Row("a", 10L), Row("b", 40L), Row("a", 5L))),
        Row(2L, Seq.empty[Row]), // empty input -> EMPTY object on both tiers
        Row(3L, null)).asJava,   // missing input -> EMPTY object on both tiers
      StructType.fromDDL("id BIGINT, items ARRAY<STRUCT<cat: STRING, price: BIGINT>>"))
    diffDf(df,
      "{'id': value.id," +
        " 'n': $lookup(value.items{'n': $count($), 'total': $sum(price)}, 'n')," +
        " 'total': $lookup(value.items{'n': $count($), 'total': $sum(price)}, 'total')}",
      "id BIGINT, n BIGINT, total BIGINT", "id")
  }

  test("arity-3 struct-sift bridges homogeneous structs to a map $o and agrees") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, 10L, 40L, 5L), Row(2L, 100L, null, 3L), Row(3L, null, null, null)).asJava,
      StructType.fromDDL("id BIGINT, a BIGINT, b BIGINT, c BIGINT"))
    // keep fields at or above the object's own maximum-present value reach
    // — $o sees only PRESENT fields (null b on row 2, all-null row 3)
    val expr = "{'id': $lookup(value, 'id'), " +
      "'n_top': $count($keys($sift(value, function($v, $k, $o){ " +
      "$k != 'id' and $v >= $lookup($o, 'a') })))}"
    val ddl = "id BIGINT, n_top BIGINT"
    val compiled = JsonataCompiler.transformCompiled(df, expr)
    assert(compiled.isDefined, "homogeneous arity-3 struct-sift should compile")
    val a = compiled.get.orderBy("id").collect().map(_.toSeq).toSeq
    val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"tiers disagree on arity-3 struct sift:\n  compiled:    $a\n  interpreted: $b")
    // mixed-width numerics unify; the widened $o is observation-equivalent
    val dfm = spark.createDataFrame(
      Seq(Row(1L, 10L, 2.5)).asJava,
      StructType.fromDDL("id BIGINT, a BIGINT, x DOUBLE"))
    val exprM = "{'id': $lookup(value, 'id'), " +
      "'n': $count($keys($sift(value, function($v, $k, $o){ $v > $lookup($o, 'x') })))}"
    val cm = JsonataCompiler.transformCompiled(dfm, exprM)
    assert(cm.isDefined, "numeric-unifiable struct should bridge")
    val am = cm.get.collect().map(_.toSeq).toSeq
    val bm = JsonataDF.transformAs(dfm, exprM, StructType.fromDDL("id BIGINT, n BIGINT"))
      .collect().map(_.toSeq).toSeq
    assert(am == bm, s"tiers disagree on widened $$o:\n  compiled:    $am\n  interpreted: $bm")
  }

  test("multi-pair group-by shapes that can raise D1009 stay interpreted") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // duplicate literal keys: engine D1009 on the second item
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $lookup(value.embedding{'n': $count($), 'n': $sum($)}, 'n')}").isEmpty)
    // non-literal key in a multi-pair constructor: collision is data-dependent
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq(Row("a", 10L)))).asJava,
      StructType.fromDDL("id BIGINT, items ARRAY<STRUCT<cat: STRING, price: BIGINT>>"))
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': $lookup(value.items{cat: $count($), 'n': $count($)}, 'n')}").isEmpty)
  }

  test("datetime shapes outside the compiled subset fall back to the interpreter") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // ISO week numbers are locale traps — never compiled
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $fromMillis(value.vec_id, '[W] [Y0001]')}").isEmpty)
    // ordinal / word modifiers
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $fromMillis(value.vec_id, '[D1o] [MNn]')}").isEmpty)
    // width-truncating year ([Y01] never truncates in the engine; 'yy' does)
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $fromMillis(value.vec_id, '[Y01]')}").isEmpty)
    // lowercase [P] has no Java twin (Java 'a' renders uppercase)
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $fromMillis(value.vec_id, '[h][P]')}").isEmpty)
    // DST-bearing named zone: offset is not static
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $fromMillis(value.vec_id, '[Y0001]', 'Europe/Paris')}").isEmpty)
    // numeric-marker pictured $toMillis compiles (see the dedicated test);
    // non-literal pictures stay interpreted
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $toMillis('2024-08-14', '[Y0001]-[M01]-[D01]')}").isDefined)
    assert(JsonataCompiler.transformCompiled(emb,
      "{'x': $toMillis('2024-08-14', value.vec_id & '')}").isEmpty)
  }

  test("object operator shapes outside the subset fall back to the interpreter") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, 10L, "s1")).asJava,
      StructType.fromDDL("id BIGINT, b BIGINT, c STRING"))
    // non-boolean sift body (engine truthiness) must stay interpreted
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': $count($keys($sift(value, function($v){ $v })))}").isEmpty)
    // arity-3 sift over a HETEROGENEOUS struct (long+string fields): no
    // single-column $o encoding — stays interpreted (homogeneous structs
    // bridge to a map since round 9, see the dedicated test)
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': $count($keys($sift(value, function($v, $k, $o){ $k = 'b' })))}").isEmpty)
    // literal key absent from the struct: engine-undefined with no static type
    assert(JsonataCompiler.transformCompiled(df, "{'x': $lookup(value, 'nope')}").isEmpty)
    // dynamic key over a struct object (field set is static, key is not)
    assert(JsonataCompiler.transformCompiled(df, "{'x': $lookup(value, value.c)}").isEmpty)
    // $keys of a non-object operand
    assert(JsonataCompiler.transformCompiled(df, "{'x': $keys(value.b)}").isEmpty)
    // $each with per-field body types that cannot agree
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': $each(value, function($v){ $v })}").isEmpty)
  }

  test("~> partial application compiles and agrees (single ? in any slot)") {
    diff("documents",
      "{'doc_id': value.doc_id," +
        " 'pre': value.text ~> $substring(?, 0, 3)," +
        " 'pad': value.lang ~> $pad(?, 6, '*')," +
        " 'mid': 3 ~> $substring(value.lang & '-' & value.source, ?)}",
      "doc_id BIGINT, pre STRING, pad STRING, mid STRING", "doc_id")
  }

  test("~> lambda application compiles and agrees (inline + bound chains)") {
    diff("documents",
      "($shout := function($s){$uppercase($s) & '!'};" +
        " {'doc_id': value.doc_id," +
        "  'a': value.lang ~> function($v){$v & '-x'}," +
        "  'b': value.n_chars ~> function($v){$v * 2 + 1}," +
        "  'c': value.lang ~> $shout ~> $lowercase})",
      "doc_id BIGINT, a STRING, b BIGINT, c STRING", "doc_id")
  }

  test("~> application of an undefined operand agrees (param binds undefined)") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, "abc", 5L), Row(2L, null, null), Row(3L, "", 0L)).asJava,
      StructType.fromDDL("id BIGINT, s STRING, n BIGINT"))
    diffDf(df,
      "{'id': value.id," +
        " 'lam': value.s ~> function($v){$uppercase($v)}," +
        " 'par': value.s ~> $pad(?, 6, '.')," +
        " 'num': value.n ~> function($v){$v * 2 + 1}," +
        " 'chn': value.s ~> $trim ~> $length}",
      "id BIGINT, lam STRING, par STRING, num BIGINT, chn BIGINT", "id")
  }

  test("~> regex-literal application compiles and agrees (first-match struct)") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, "alpha beta-42 gamma"), Row(2L, "no digits here"),
        Row(3L, null), Row(4L, ""), Row(5L, "x1 y2 z3")).asJava,
      StructType.fromDDL("id BIGINT, s STRING"))
    // whole match object, a field of it, and a zero-width-CAPABLE pattern
    // (no gate needed here — find() semantics, not split-stitch)
    diffDf(df,
      "{'id': value.id," +
        " 'm': value.s ~> /([a-z])-?([0-9]+)/," +
        " 'first_num': (value.s ~> /[0-9]+/).match," +
        " 'zw': (value.s ~> /q*/).index}",
      "id BIGINT, m STRUCT<match: STRING, index: BIGINT, groups: ARRAY<STRING>>, " +
        "first_num STRING, zw BIGINT", "id")
  }

  test("~> chains and regex navigation inside HOF lambda bodies compile and agree") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq("alpha", "b-7", "")), Row(2L, Seq.empty[String]),
        Row(3L, null)).asJava,
      StructType.fromDDL("id BIGINT, arr ARRAY<STRING>"))
    diffDf(df,
      "{'id': value.id," +
        " 'up': $join($map(value.arr, function($v){ $v ~> $uppercase }), ',')," +
        " 'chain': $join($map(value.arr, function($v){ $v ~> $pad(?, 3, '.') ~> $trim }), ',')," +
        " 'nums': $count($filter($map(value.arr, function($v){ ($v ~> /[0-9]+/).match }), " +
        "function($m){ $exists($m) }))}",
      "id BIGINT, up STRING, chain STRING, nums BIGINT", "id")
  }

  test("~> shapes outside the subset fall back to the interpreter") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, 10L, "s1")).asJava,
      StructType.fromDDL("id BIGINT, b BIGINT, c STRING"))
    // two placeholders: the engine leaves the second slot undefined when the
    // partial is invoked with one arg — no undefined literal to compile
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': value.c ~> $substring(?, ?)}").isEmpty)
    // typed signature on the lambda: Signature.validate coerces/raises per
    // call — not modeled
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': value.c ~> function($v)<s>{$v}}").isEmpty)
    // arity-2 lambda applied to one piped arg (second param binds undefined)
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': value.c ~> function($v, $w){$v}}").isEmpty)
    // body reads the invocation context (`value.*` resolves in the engine's
    // direct-application path): conservatively interpreted, never miscompiled
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': value.b ~> function($v){value.c}}").isEmpty)
    // lhs is itself a function: `~>` builds a ComposedFn value, not a call
    assert(JsonataCompiler.transformCompiled(df,
      "{'x': ($uppercase ~> $trim)(value.c)}").isEmpty)
  }

  test("compiled transform |...|...|: patch in place, new keys, deletes, ctx-rooted values") {
    val full = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    // in-place patch: ctx-rooted bare names + $ paths resolve against the match
    diff("documents", "value ~> |$|{'lang': $uppercase(lang), 'n_chars': $.n_chars + 1}|",
      full, "doc_id")
    // new keys append; existing order untouched
    diff("documents", "value ~> |$|{'short': n_chars < 200, 'tag': lang & '-' & source}|",
      full + ", short BOOLEAN, tag STRING", "doc_id")
    // deletes run AFTER the update (patched n_chars survives, text/source drop
    // to the key-absent encoding)
    diff("documents", "value ~> |$|{'n_chars': n_chars + 1}, ['text','source']|",
      full, "doc_id")
    // an UNDEFINED update value drops its pair: the original field survives
    // (engine evalGroup omits null-valued pairs; compiled coalesce keeps orig)
    diff("documents", "value ~> |$|{'lang': source = 'nosuch' ? 'xx'}|", full, "doc_id")
    // pattern naming a schema-absent key matches nothing: identity
    diff("documents", "value ~> |missing|{'a': 1}|", full, "doc_id")
    // mid-path scalar matches nothing too (name steps over non-objects)
    diff("documents", "value ~> |text.deeper|{'a': 1}|", full, "doc_id")
  }

  test("compiled transform: nested patterns, undefined bases, numeric widening") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val nested = spark.createDataFrame(
      Seq(Row(1L, Row(10L, "a"), "k1"), Row(2L, null, "k2"),
        Row(3L, Row(30L, null), "k3")).asJava,
      StructType.fromDDL("id BIGINT, meta STRUCT<a: BIGINT, b: STRING>, k STRING"))
    val nddl = "id BIGINT, meta STRUCT<a: BIGINT, b: STRING>, k STRING"
    // nested pattern: null match (row 2) patches nothing; null nested field
    // (row 3's b) stays the key-absent null
    diffDf(nested, "value ~> |meta|{'a': a * 2}|", nddl, "id")
    // new nested key widens the struct type
    diffDf(nested, "value ~> |meta|{'c': $string(a)}|",
      "id BIGINT, meta STRUCT<a: BIGINT, b: STRING, c: STRING>, k STRING", "id")
    // nested delete after patch
    diffDf(nested, "value ~> |meta|{'a': a + 1}, 'b'|", nddl, "id")
    // UNDEFINED BASE = tombstone: value.meta is null on row 2 — the engine
    // returns undefined from the whole apply and the record drops; the
    // compiled filter carries exactly that
    diffDf(nested, "value.meta ~> |$|{'b': 'patched'}|", "a BIGINT, b STRING", "a")
    // long field patched with a double widens to double (engine number space)
    diffDf(nested, "value ~> |meta|{'a': a / 2}|",
      "id BIGINT, meta STRUCT<a: DOUBLE, b: STRING>, k STRING", "id")
  }

  test("transform fallback boundary: raising/fan-out/dynamic shapes stay interpreted") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // final non-struct pattern: the engine raises T2013 on the matched scalar
    assert(JsonataCompiler.transformCompiled(docs, "value ~> |text|{'a': 1}|").isEmpty)
    // dynamic delete keys / non-literal update keys
    assert(JsonataCompiler.transformCompiled(docs,
      "value ~> |$|{'a': 1}, lang|").isEmpty)
    assert(JsonataCompiler.transformCompiled(docs,
      "value ~> |$|{lang: 1}|").isEmpty)
    // duplicate literal update keys raise D1009 in the engine
    assert(JsonataCompiler.transformCompiled(docs,
      "value ~> |$|{'a': 1, 'a': 2}|").isEmpty)
    // update values that can surface an explicit JSON null (array element
    // access / HOF folds) are refused — undefined-vs-null is not decidable
    // from the compiled NULL encoding
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val arr = spark.createDataFrame(
      Seq(Row(1L, Seq[java.lang.Long](5L, null, 7L))).asJava,
      StructType.fromDDL("id BIGINT, xs ARRAY<BIGINT>"))
    assert(JsonataCompiler.transformCompiled(arr, "value ~> |$|{'a': xs[0]}|").isEmpty)
    assert(JsonataCompiler.transformCompiled(arr,
      "value ~> |$|{'a': $reduce(xs, function($u, $v){$v})}|").isEmpty)
    // array on the pattern path fans the match out per element: interpreted
    val arrSt = spark.createDataFrame(
      Seq(Row(1L, Seq(Row(2L)))).asJava,
      StructType.fromDDL("id BIGINT, ms ARRAY<STRUCT<a: BIGINT>>"))
    assert(JsonataCompiler.transformCompiled(arrSt, "value ~> |ms|{'a': 9}|").isEmpty)
    // a MAP field on the pattern path is a JSON object the engine navigates
    // INTO — it must fall back, not compile to a scalar-style no-match
    // (round-11 review finding, was a verified silent divergence)
    val mapSt = spark.createDataFrame(
      Seq(Row(1L, Map("x" -> Row(5L)))).asJava,
      StructType.fromDDL("id BIGINT, m MAP<STRING, STRUCT<a: BIGINT>>"))
    assert(JsonataCompiler.transformCompiled(mapSt, "value ~> |m.x|{'a': 99}|").isEmpty)
  }

  test("compiled ** descendant search agrees and gates its fallback boundary") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val ddlIn = "id BIGINT, price BIGINT, " +
      "meta STRUCT<price: BIGINT, deep: STRUCT<price: BIGINT, tag: STRING>>, " +
      "items ARRAY<STRUCT<price: BIGINT, sub: STRUCT<price: BIGINT>>>, " +
      "tags ARRAY<STRING>"
    val df = spark.createDataFrame(
      Seq(
        Row(1L, 10L, Row(20L, Row(30L, "a")),
          Seq(Row(40L, Row(50L)), Row(60L, null)), Seq("x", "y")),
        Row(2L, null, Row(21L, null), Seq.empty[Row], null),
        Row(3L, 12L, null, null, Seq("z"))).asJava,
      StructType.fromDDL(ddlIn))
    // whole-row, struct-rooted, and array-rooted bases; nested arrays; null
    // bases/elements; absent keys filtered like the engine's key-absent objects
    diffDf(df, "{'id': value.id, 'n': $count(value.**.price), 's': $sum(value.**.price)}",
      "id BIGINT, n BIGINT, s BIGINT", "id")
    diffDf(df, "{'id': value.id, 's': $sum(value.meta.**.price)}", "id BIGINT, s BIGINT", "id")
    diffDf(df, "{'id': value.id, 's': $sum(value.items.**.price)}", "id BIGINT, s BIGINT", "id")
    diffDf(df, "{'id': value.id, 'j': $join(value.**.tag, '|')}", "id BIGINT, j STRING", "id")
    // mixed integral/double occurrences widen exactly
    val mixed = spark.createDataFrame(
      Seq(Row(1L, Row(5, Row(2.5)))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<v: INT, d: STRUCT<v: DOUBLE>>"))
    diffDf(mixed, "{'id': value.id, 's': $sum(value.**.v)}", "id BIGINT, s DOUBLE", "id")
    // fallback boundary: cross-type target occurrences, array-typed targets
    // (engine splices their ELEMENTS), maps in the traversed tree, bare **
    val clash = spark.createDataFrame(
      Seq(Row(1L, Row(5L, Row("x")))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<v: BIGINT, d: STRUCT<v: STRING>>"))
    assert(JsonataCompiler.transformCompiled(clash, "{'s': $count(value.**.v)}").isEmpty)
    val arrT = spark.createDataFrame(
      Seq(Row(1L, Row(Seq(5L)))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<v: ARRAY<BIGINT>>"))
    assert(JsonataCompiler.transformCompiled(arrT, "{'s': $count(value.**.v)}").isEmpty)
    val mapT = spark.createDataFrame(
      Seq(Row(1L, Map("k" -> Row(5L)))).asJava,
      StructType.fromDDL("id BIGINT, m MAP<STRING, STRUCT<v: BIGINT>>"))
    assert(JsonataCompiler.transformCompiled(mapT, "{'s': $count(value.**.v)}").isEmpty)
    assert(JsonataCompiler.transformCompiled(df, "{'s': $count(value.**)}").isEmpty)
    assert(JsonataCompiler.transformCompiled(df, "{'s': $count(value.**.meta.price)}").isEmpty)
  }

  test("compiled * wildcard agrees and gates its fallback boundary") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // homogeneous-number struct, nested arrays (splice flat), array-of-
    // struct base, absent keys, null/absent arrays
    val ddlIn = "id BIGINT, m STRUCT<a: BIGINT, b: INT, xs: ARRAY<BIGINT>, " +
      "yss: ARRAY<ARRAY<BIGINT>>>, " +
      "items ARRAY<STRUCT<p: BIGINT, q: BIGINT>>, " +
      "s STRUCT<t: STRING, u: STRING>"
    val df = spark.createDataFrame(
      Seq(
        Row(1L, Row(10L, 2, Seq(3L, 4L), Seq(Seq(5L), Seq(6L, 7L))),
          Seq(Row(1L, 2L), Row(3L, 4L)), Row("x", "y")),
        Row(2L, Row(null, 8, null, Seq(Seq(9L))), Seq.empty[Row], Row("z", null)),
        Row(3L, null, null, null)).asJava,
      StructType.fromDDL(ddlIn))
    diffDf(df, "{'id': value.id, 'n': $count(value.m.*), 's': $sum(value.m.*)}",
      "id BIGINT, n BIGINT, s BIGINT", "id")
    diffDf(df, "{'id': value.id, 's': $sum(value.items.*)}", "id BIGINT, s BIGINT", "id")
    diffDf(df, "{'id': value.id, 'j': $join(value.s.*, '|')}", "id BIGINT, j STRING", "id")
    // a null ARRAY ELEMENT is an explicit JSON null through the codec: the
    // engine emits it as an item (unlike an absent struct key), including a
    // null INNER array in a nested splice
    val nullElems = spark.createDataFrame(
      Seq(Row(1L, Row(8L, Seq(Seq(9L), null), Seq(2L, null, 3L))),
        Row(2L, Row(null, null, Seq(null, null)))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<b: BIGINT, " +
        "yss: ARRAY<ARRAY<BIGINT>>, xs: ARRAY<BIGINT>>"))
    diffDf(nullElems, "{'id': value.id, 'n': $count(value.m.*)}",
      "id BIGINT, n BIGINT", "id")
    // integral/float occurrences widen exactly
    val mixed = spark.createDataFrame(
      Seq(Row(1L, Row(5, 2.5))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<v: INT, d: DOUBLE>"))
    diffDf(mixed, "{'id': value.id, 's': $sum(value.m.*)}", "id BIGINT, s DOUBLE", "id")
    // identical struct-typed field values emit as single items (terminal
    // count needs the homogeneous 2-field struct — a mixed struct+scalar
    // emission correctly falls back, asserted below)
    val structs = spark.createDataFrame(
      Seq(Row(1L, Row(Row(1L, "a"), Row(2L, "b"))), Row(2L, Row(Row(3L, "c"), null))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<x: STRUCT<n: BIGINT, t: STRING>, " +
        "y: STRUCT<n: BIGINT, t: STRING>>"))
    diffDf(structs, "{'id': value.id, 'n': $count(value.m.*)}",
      "id BIGINT, n BIGINT", "id")
    // ONE trailing name step maps over the emitted items (`value.m.*.n`),
    // skipping non-struct emissions (z) and absent keys — so the MIXED
    // struct works here even though its terminal form is interpreted
    val structsZ = spark.createDataFrame(
      Seq(Row(1L, Row(Row(1L, "a"), Row(2L, "b"), 9L)),
        Row(2L, Row(Row(3L, "c"), null, null))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<x: STRUCT<n: BIGINT, t: STRING>, " +
        "y: STRUCT<n: BIGINT, t: STRING>, z: BIGINT>"))
    assert(JsonataCompiler.transformCompiled(structsZ, "{'n': $count(value.m.*)}").isEmpty)
    diffDf(structsZ, "{'id': value.id, 's': $sum(value.m.*.n), 'j': $join(value.m.*.t, '|')}",
      "id BIGINT, s BIGINT, j STRING", "id")
    // trailing name through array splices: struct items inside (nested)
    // array fields contribute their f per element
    val wcName = spark.createDataFrame(
      Seq(
        Row(1L, Row(Row(5L), Seq(Row(6L), Row(7L)), Seq(Seq(Row(8L)), null), 3L)),
        Row(2L, Row(null, null, Seq(Seq(Row(9L))), null)),
        Row(3L, null)).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<s: STRUCT<p: BIGINT>, " +
        "xs: ARRAY<STRUCT<p: BIGINT>>, yss: ARRAY<ARRAY<STRUCT<p: BIGINT>>>, sc: BIGINT>"))
    diffDf(wcName, "{'id': value.id, 's': $sum(value.m.*.p), 'c': $count(value.m.*.p)}",
      "id BIGINT, s BIGINT, c BIGINT", "id")
    // array-of-struct BASE: the wildcard emits each element's field values,
    // the name step applies to those
    val wcArrBase = spark.createDataFrame(
      Seq(Row(1L, Seq(Row(Row(1L), 4L), Row(Row(2L), 5L))), Row(2L, Seq.empty[Row])).asJava,
      StructType.fromDDL("id BIGINT, items ARRAY<STRUCT<inner: STRUCT<q: BIGINT>, w: BIGINT>>"))
    diffDf(wcArrBase, "{'id': value.id, 's': $sum(value.items.*.q)}",
      "id BIGINT, s BIGINT", "id")
    // whole-row base enumerates the row's own columns
    val flat = spark.createDataFrame(
      Seq(Row(3L, 4L), Row(5L, null)).asJava,
      StructType.fromDDL("a BIGINT, b BIGINT"))
    diffDf(flat, "{'a': value.a, 's': $sum(value.*)}", "a BIGINT, s BIGINT", "a")
    // fallback boundary: mixed emitted types, map field values, map-leafed
    // arrays, scalar-element array bases, non-terminal wildcards
    val clash = spark.createDataFrame(
      Seq(Row(1L, Row(5L, "x"))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<v: BIGINT, t: STRING>"))
    assert(JsonataCompiler.transformCompiled(clash, "{'s': $count(value.m.*)}").isEmpty)
    val mapT = spark.createDataFrame(
      Seq(Row(1L, Row(Map("k" -> 5L)))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<kv: MAP<STRING, BIGINT>>"))
    assert(JsonataCompiler.transformCompiled(mapT, "{'s': $count(value.m.*)}").isEmpty)
    val mapArr = spark.createDataFrame(
      Seq(Row(1L, Row(Seq(Map("k" -> 5L))))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<kv: ARRAY<MAP<STRING, BIGINT>>>"))
    assert(JsonataCompiler.transformCompiled(mapArr, "{'s': $count(value.m.*)}").isEmpty)
    val scalArr = spark.createDataFrame(
      Seq(Row(1L, Seq(2L, 3L))).asJava,
      StructType.fromDDL("id BIGINT, xs ARRAY<BIGINT>"))
    assert(JsonataCompiler.transformCompiled(scalArr, "{'s': $count(value.xs.*)}").isEmpty)
    // ARRAY-typed name targets (round 13): the name step splices f's
    // elements ONE level — null f / null items drop (absent keys), null
    // ELEMENTS are explicit JSON nulls the engine keeps ($count sees
    // them; the $sum null-skip divergence class is the pinned one)
    val arrTgt = spark.createDataFrame(
      Seq(Row(1L, Row(Row(Seq(1L, 2L))))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<x: STRUCT<p: ARRAY<BIGINT>>>"))
    diffDf(arrTgt, "{'id': value.id, 's': $sum(value.m.*.p), 'c': $count(value.m.*.p)}",
      "id BIGINT, s BIGINT, c BIGINT", "id")
    val arrTgtMix = spark.createDataFrame(
      Seq(
        // scalar f + array f occurrences MIX (sequence flattening), null
        // array (absent), null elements (kept), struct items in arrays
        Row(1L, Row(Row(7L), Row(Seq(1L, null, 2L)), Seq(Row(Seq(3L), 9L), Row(null, 10L)), "zz")),
        Row(2L, Row(Row(null), Row(null), null, null)),
        Row(3L, null)).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<a: STRUCT<p: BIGINT>, " +
        "b: STRUCT<p: ARRAY<BIGINT>>, xs: ARRAY<STRUCT<p: ARRAY<BIGINT>, w: BIGINT>>, junk: STRING>"))
    diffDf(arrTgtMix, "{'id': value.id, 'c': $count(value.m.*.p)}",
      "id BIGINT, c BIGINT", "id")
    // $join over an ARRAY-typed string target must stay interpreted: its
    // kept null elements would be skipped by array_join where the engine
    // raises (wcNameTargetScalarOnly gates the consumer)
    val arrStrTgt = spark.createDataFrame(
      Seq(Row(1L, Row(Row(Seq("a", "b"))))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<x: STRUCT<t: ARRAY<STRING>>>"))
    assert(JsonataCompiler.transformCompiled(arrStrTgt,
      "{'j': $join(value.m.*.t, '|')}").isEmpty)
    // MAP base (round 13): `value.attrs.*` enumerates the map VALUES in
    // entry order — rowToJson writes explicit nulls for null map values
    // (unlike struct fields), so nulls are ITEMS here ($count sees them)
    val mapBase = spark.createDataFrame(
      Seq(
        Row(1L, Map("x" -> 5L, "y" -> null, "z" -> 7L), Map("a" -> 1L, "b" -> 2L), Map("s" -> "u")),
        Row(2L, Map.empty[String, Any], Map("c" -> 3L), null),
        Row(3L, null, null, Map("t" -> null))).asJava,
      StructType.fromDDL("id BIGINT, attrs MAP<STRING, BIGINT>, " +
        "nn MAP<STRING, BIGINT>, ss MAP<STRING, STRING>"))
    // $count KEEPS the explicit null map values as items; $sum over a
    // null item RAISES in the engine, so the sum draw uses the null-free
    // map (the null-skip $sum divergence class stays out of this pin)
    diffDf(mapBase, "{'id': value.id, 'c': $count(value.attrs.*), " +
      "'s': $sum(value.nn.*), 'cs': $count(value.ss.*)}",
      "id BIGINT, c BIGINT, s BIGINT, cs BIGINT", "id")
    // map of ARRAY values: deep splice; a null ARRAY VALUE is one explicit
    // null item (object value null, not an absent key)
    val mapArrVals = spark.createDataFrame(
      Seq(
        Row(1L, Map("x" -> Seq(1L, 2L), "y" -> null)),
        Row(2L, Map("z" -> Seq(3L, null)))).asJava,
      StructType.fromDDL("id BIGINT, attrs MAP<STRING, ARRAY<BIGINT>>"))
    diffDf(mapArrVals, "{'id': value.id, 'c': $count(value.attrs.*)}",
      "id BIGINT, c BIGINT", "id")
    // map of STRUCT values + trailing name: values with key f contribute,
    // null values drop (non-objects), array-typed f splices
    val mapStructVals = spark.createDataFrame(
      Seq(
        Row(1L, Map("x" -> Row(1L, Seq("a")), "y" -> Row(2L, Seq("b", "c")), "n" -> null)),
        Row(2L, Map.empty[String, Row]), Row(3L, null)).asJava,
      StructType.fromDDL("id BIGINT, attrs MAP<STRING, STRUCT<p: BIGINT, ts: ARRAY<STRING>>>"))
    diffDf(mapStructVals,
      "{'id': value.id, 's': $sum(value.attrs.*.p), 'c': $count(value.attrs.*.ts)}",
      "id BIGINT, s BIGINT, c BIGINT", "id")
    // map-base fallbacks: map-of-map values, non-string keys are unseen in
    // the codec subset; deep names and absent keys still interpreted
    val mapOfMap = spark.createDataFrame(
      Seq(Row(1L, Map("x" -> Map("k" -> 1L)))).asJava,
      StructType.fromDDL("id BIGINT, attrs MAP<STRING, MAP<STRING, BIGINT>>"))
    assert(JsonataCompiler.transformCompiled(mapOfMap, "{'c': $count(value.attrs.*)}").isEmpty)
    val deepName = spark.createDataFrame(
      Seq(Row(1L, Row(Row(Row(5L))))).asJava,
      StructType.fromDDL("id BIGINT, m STRUCT<x: STRUCT<y: STRUCT<p: BIGINT>>>"))
    assert(JsonataCompiler.transformCompiled(deepName, "{'s': $count(value.m.*.y.p)}").isEmpty)
    assert(JsonataCompiler.transformCompiled(deepName, "{'s': $count(value.m.*.q)}").isEmpty)
  }

  test("compiled % parent in Shape-A predicates agrees; per-element parents fall back") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val ddlIn = "id BIGINT, limit BIGINT, " +
      "cfg STRUCT<thr: BIGINT, items: ARRAY<STRUCT<p: BIGINT, tag: STRING>>>, " +
      "items ARRAY<STRUCT<p: BIGINT, tags: ARRAY<STRING>>>"
    val df = spark.createDataFrame(
      Seq(
        Row(1L, 25L, Row(30L, Seq(Row(10L, "a"), Row(40L, "b"))),
          Seq(Row(10L, Seq("x")), Row(30L, Seq("y", "z")))),
        Row(2L, null, Row(5L, Seq(Row(10L, "c"))), Seq(Row(50L, null))),
        Row(3L, 100L, null, null)).asJava,
      StructType.fromDDL(ddlIn))
    // % = the value root for a root-level array; an undefined %.field makes
    // the comparison undefined and the predicate drops the item (row 2)
    diffDf(df, "{'id': value.id, 'n': $count(value.items[p > %.limit])}",
      "id BIGINT, n BIGINT", "id")
    // % = the navigated struct one level up for a nested array
    diffDf(df, "{'id': value.id, 'n': $count(value.cfg.items[p > %.thr])}",
      "id BIGINT, n BIGINT", "id")
    // % composes with trailing navigation
    diffDf(df, "{'id': value.id, 's': $sum(value.items[p >= %.limit].p)}",
      "id BIGINT, s BIGINT", "id")
    // a % inside a NESTED predicate refers to the per-element parent — a
    // different object per item, not a single column: interpreted
    assert(JsonataCompiler.transformCompiled(df,
      "{'n': $count(value.items[$count(tags[% .p > 0]) > 0])}").isEmpty)
  }

  private def keyedDf(ddl: String, rows: org.apache.spark.sql.Row*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))
  }

  /** Key conditions a `$sift`/`$each` lambda tests on its `$k` parameter:
    * constant per struct field, so they compile over fields of any type. */
  private val keyConds = Seq("$k = 'a'", "$k != 'a'", "$k in ['a', 'b']",
    "$k = 'a' or $k = 'c'", "$k != 'a' and $k != 'b'")

  test("key conditions in $sift compile over a struct whose fields differ in type") {
    import org.apache.spark.sql.Row
    val het = keyedDf("id BIGINT, a BIGINT, b STRING, c DOUBLE",
      Row(1L, 10L, "x", 1.5), Row(2L, null, "y", null), Row(3L, 30L, null, 0.0))
    keyConds.foreach { c =>
      diffDf(het, s"{'id': value.id, 'ks': $$join($$keys($$sift(value, function($$v, $$k){ $c })), '|')}",
        "id BIGINT, ks STRING", "id")
    }
    // the $o form needs a struct that bridges to a map: integral and double
    val num = keyedDf("id BIGINT, a INT, b DOUBLE, c BIGINT",
      Row(1L, 1, 2.5, 7L), Row(2L, null, 0.5, null), Row(3L, 3, null, 9L))
    keyConds.foreach { c =>
      diffDf(num, s"{'id': value.id, 'ks': $$join($$keys($$sift(value, function($$v, $$k, $$o){ $c })), '|')}",
        "id BIGINT, ks STRING", "id")
    }
  }

  test("key conditions choose the $each branch per field of a heterogeneous struct") {
    import org.apache.spark.sql.Row
    val het = keyedDf("id BIGINT, n BIGINT, s STRING, d DOUBLE",
      Row(1L, 10L, "x", 1.5), Row(2L, null, "y", null), Row(3L, 30L, null, 0.0))
    diffDf(het, "{'id': value.id, 's': $sum($each(value, function($v, $k){ $k = 'n' ? $v : 0 }))}",
      "id BIGINT, s BIGINT", "id")
    val ab = keyedDf("id BIGINT, a BIGINT, b INT, c STRING",
      Row(1L, 10L, 2, "x"), Row(2L, null, 3, "y"), Row(3L, 30L, null, null))
    Seq("$k = 'a'", "$k in ['a', 'b']", "$k = 'a' or $k = 'b'", "$k != 'c' and $k != 'id'")
      .foreach { c =>
        diffDf(ab, s"{'id': value.id, 's': $$sum($$each(value, function($$v, $$k){ $c ? $$v : 0 }))}",
          "id BIGINT, s BIGINT", "id")
      }
  }

  test("a key condition only the engine can fold picks the $each branch") {
    import org.apache.spark.sql.Row
    val het = keyedDf("id BIGINT, n_a BIGINT, n_b INT, s_x STRING",
      Row(1L, 10L, 2, "x"), Row(2L, null, 3, "y"), Row(3L, 30L, null, null))
    diffDf(het, "{'id': value.id, 's': $sum($each(value, function($v, $k){ " +
      "$substringBefore($k, '_') = 'n' ? $v : 0 }))}", "id BIGINT, s BIGINT", "id")
  }

  test("$merge right-bias is on PRESENT keys: per-row absent keys never clobber earlier parts") {
    // round-11 review finding (verified divergence before the fix): the
    // merge combine statically overwrote duplicate keys, so a later part's
    // per-row ABSENT key — transform-deleted, sifted away, or an undefined
    // ctor value — replaced an earlier part's value with NULL where fMerge
    // keeps it (it only sets keys the later object CARRIES).
    // key order is fMerge's FIRST-OCCURRENCE position — part1's keys lead
    // transform part deletes 'text': the literal part's value must survive
    diff("documents", "$merge([{'text': 'XX', 'doc_id': value.doc_id}, value ~> |$|{}, 'text'|])",
      "text STRING, doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT", "doc_id")
    // sift part drops 'lang' per row on a live predicate: earlier part wins
    // exactly on the dropped rows, the sifted value on the kept rows
    diff("documents",
      "$merge([{'lang': 'zz', 'doc_id': value.doc_id}, " +
        "$sift(value, function($v, $k){ $k != 'lang' or $string($v) = 'en' })])",
      "lang STRING, doc_id BIGINT, text STRING, source STRING, n_chars BIGINT", "doc_id")
    // undefined ctor value in the later part: earlier part's key survives
    diff("documents",
      "$merge([{'doc_id': value.doc_id, 'tag': 'kept'}, " +
        "{'tag': value.n_chars > 1000000 ? 'never'}])",
      "doc_id BIGINT, tag STRING", "doc_id")
    // duplicate keys of MISMATCHED types cannot coalesce: whole query falls
    // back rather than throwing at analysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(JsonataCompiler.transformCompiled(docs,
      "$merge([{'x': value.n_chars}, {'x': value.lang}])").isEmpty)
  }
}
