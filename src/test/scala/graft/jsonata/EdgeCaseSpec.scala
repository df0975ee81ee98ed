package graft.jsonata

import org.scalatest.funsuite.AnyFunSuite

/** Second conformance wave: spec corners from SURVEY.md §7.4 (hard parts) —
  * sequence-semantics edges, datetime pictures, formatting, grouping errors,
  * higher-order arity rules, transforms, descendants over mixed trees. */
class EdgeCaseSpec extends AnyFunSuite {

  private val UNDEF = " UNDEF "

  private def check(expr: String, input: String, expected: String): Unit = {
    val actual = Jsonata.evalString(expr, input)
    if (expected == UNDEF) assert(actual == null, s"expr: $expr — expected no result, got $actual")
    else {
      assert(actual != null, s"expr: $expr — expected $expected, got no result")
      assert(Values.deepEquals(Jsonata.parseJson(expected), Jsonata.parseJson(actual)),
        s"expr: $expr — expected $expected, got $actual")
    }
  }
  private def t(name: String, expr: String, input: String, expected: String): Unit =
    test(name) { check(expr, input, expected) }

  private val lib = """{
    "library": {
      "books": [
        {"title": "A", "price": 10, "authors": ["x", "y"]},
        {"title": "B", "price": 20, "authors": ["y"]},
        {"title": "C", "price": 15, "authors": []}
      ]
    }
  }"""

  // ---- sequence semantics corners ----
  t("empty array field survives", "library.books[2].authors", lib, "[]")
  t("array flattening through steps", "library.books.authors", lib, """["x","y","y"]""")
  t("singleton array field returns array", "library.books[1].authors", lib, """["y"]""")
  t("keep-array after filter", "library.books[price>12][].title", lib, """["B","C"]""")
  t("keep-array singleton", "library.books[price>18][].title", lib, """["B"]""")
  t("index on empty yields nothing", "library.books[9].title", lib, UNDEF)
  t("negative index", "library.books[-2].title", lib, "\"B\"")
  t("predicate on scalar context", "library.books[0].title[$ = 'A']", lib, "\"A\"")

  // ---- nested array constructors ----
  t("array ctor of paths keeps per-item arrays", "library.books.[authors]", lib,
    """[["x","y"],["y"],[]]""")
  t("array ctor singleton paths", "library.books.[title]", lib,
    """[["A"],["B"],["C"]]""")

  // ---- wildcards/descendants ----
  t("wildcard flattens array values", "library.books[0].*", lib, """["A",10,"x","y"]""")
  t("descendant collects objects and leaves", "$count(library.**)", lib, "13")
  t("descendant filter", "**.price", lib, "[10,20,15]")

  // ---- object construction edge cases ----
  t("group duplicate key same pair merges", "library.books{'all': title}", lib,
    """{"all": ["A","B","C"]}""")
  test("group duplicate key across pairs errors (D1009)") {
    val e = intercept[JsonataException](
      Jsonata.evalString("library.books{'k': title, 'k': price}", lib))
    assert(e.code == "D1009")
  }
  t("object value undefined omits key", "{'a': 1, 'b': nothing}", "{}", """{"a": 1}""")
  t("object key from expression", "{'k' & 1: 'v'}", "{}", """{"k1": "v"}""")
  t("nested group", "library.books{title: {'p': price}}", lib,
    """{"A":{"p":10},"B":{"p":20},"C":{"p":15}}""")

  // ---- ternary/boolean corners ----
  t("and precedence over or", "true or false and false", "{}", "true")
  t("comparison chain is error-free", "(1 < 2) = true", "{}", "true")
  t("singleton array truthiness", "[0] ? 'y' : 'n'", "{}", "\"n\"")
  t("multi array truthiness", "[0, 1] ? 'y' : 'n'", "{}", "\"y\"")

  // ---- variables, closures, higher-order corners ----
  t("function as value", "( $apply := function($f, $x){ $f($x) }; $apply($uppercase, 'ab') )",
    "{}", "\"AB\"")
  t("curried lambda chain",
    "( $add := function($a){ function($b){ $a + $b } }; $add(1)(2) + $add(10)(20) )", "{}", "33")
  t("lambda ignores extra args", "( $f := function($a){ $a }; $f(1, 2, 3) )", "{}", "1")
  t("lambda missing args are undefined", "( $f := function($a, $b){ $exists($b) }; $f(1) )", "{}", "false")
  t("$map arity trim with lambda of 2",
    "$map([10,20], function($v, $i){ $v + $i })", "{}", "[10,21]")
  t("$filter with index", "$filter(['a','b','c'], function($v, $i){ $i % 2 = 0 })", "{}",
    """["a","c"]""")
  t("$reduce right order", "$reduce(['a','b','c'], function($acc, $v){ $acc & $v })", "{}",
    "\"abc\"")

  // ---- string function corners ----
  t("$substring over length", "$substring('ab', 1, 99)", "{}", "\"b\"")
  t("$substring negative beyond start", "$substring('ab', -99)", "{}", "\"ab\"")
  t("$substringBefore empty sep", "$substringBefore('ab', '')", "{}", "\"\"")
  t("$substringAfter empty sep", "$substringAfter('ab', '')", "{}", "\"ab\"")
  t("$split keeps trailing empties", "$split('a,b,', ',')", "{}", """["a","b",""]""")
  t("$split empty string sep", "$split('abc', '')", "{}", """["a","b","c"]""")
  t("$pad truncates nothing", "$pad('abcdef', 3)", "{}", "\"abcdef\"")
  t("$trim tabs and newlines", "$trim('a\\t\\n b')", "{}", "\"a b\"")
  t("$replace overlapping", "$replace('aaa', 'aa', 'b')", "{}", "\"ba\"")
  t("$match no match empty", "$match('abc', /z/)", "{}", UNDEF)
  t("$contains undefined", "$contains(nothing, 'x')", "{}", UNDEF)

  // ---- numeric corners ----
  t("$round negative half-even", "$round(-2.5)", "{}", "-2")
  t("$round half-even at precision", "$round(1.05, 1)", "{}", "1") // 0 is even
  t("$round half-even up at precision", "$round(1.15, 1)", "{}", "1.2")
  t("$number leading plus", "$number('+5')", "{}", "5")
  t("$formatBase negative", "$formatBase(-255, 16)", "{}", "\"-ff\"")
  t("$sum empty array", "$sum([])", "{}", "0")
  t("$max empty is nothing", "$max([])", "{}", UNDEF)
  t("integer overflow promotes to double",
    "9007199254740993 + 0", "{}", "9007199254740993")
  t("modulo negative dividend", "-5 % 3", "{}", "-2")
  test("division by zero errors (non-finite result)") {
    assertThrows[JsonataException](Jsonata.evalString("1/0", "{}"))
  }

  // ---- datetime pictures ----
  t("fromMillis 12h clock", "$fromMillis(1510067557121, '[h]:[m01] [P]')", "{}", "\"3:12 pm\"")
  t("fromMillis day-of-year", "$fromMillis(1510067557121, '[d]')", "{}", "\"311\"")
  t("fromMillis week padding", "$fromMillis(1510067557121, '[H01]:[m01]:[s01].[f001]')", "{}",
    "\"15:12:37.121\"")
  t("fromMillis literal brackets", "$fromMillis(0, '[[[Y]]]')", "{}", "\"[1970]\"")
  t("toMillis roundtrip picture",
    "$toMillis($fromMillis(1510067557121, '[Y0001]-[M01]-[D01] [H01]:[m01]:[s01]'), '[Y0001]-[M01]-[D01] [H01]:[m01]:[s01]')",
    "{}", "1510067557000")
  t("fromMillis tz offset", "$fromMillis(0, '[H01]:[m01]', '+0230')", "{}", "\"02:30\"")
  t("now picture uses same instant", "$toMillis($now()) = $millis()", "{}", "true")

  // ---- transforms ----
  t("transform nested location", "$ ~> |a.b|{'x': 1}|",
    """{"a": {"b": [{"x": 0}, {"x": 9}]}}""",
    """{"a": {"b": [{"x": 1}, {"x": 1}]}}""")
  t("transform no match is identity", "$ ~> |zz|{'x': 1}|", """{"a": 1}""", """{"a": 1}""")
  t("transform chained", "$ ~> |a|{'x': 1}| ~> |a|{'y': 2}|",
    """{"a": {}}""", """{"a": {"x": 1, "y": 2}}""")

  // ---- regex as function / apply ----
  t("regex applied to string", "/(\\d+)/('ab123cd').match", "{}", "\"123\"")
  t("apply into regex via $match", "'a1b2' ~> $match(/\\d/) ~> $count", "{}", "2")

  // ---- $each/$sift three-arg ----
  t("$sift receives object arg",
    "$sift({'a': 1, 'b': 2}, function($v, $k, $o){ $count($keys($o)) = 2 and $v > 1 })",
    "{}", """{"b": 2}""")

  // ---- chained paths over results ----
  t("path over object ctor", "{'a': {'b': 7}}.a.b", "{}", "7")
  t("path over block", "(library.books)[0].title", lib, "\"A\"")
  t("block in path is per-item", "library.books.(price * 2)", lib, "[20,40,30]")
  t("context in nested fn", "library.books.$string(price)", lib, """["10","20","15"]""")

  // ---- nondeterministic functions: shape-only assertions ----
  t("$shuffle preserves multiset", "$sort($shuffle([3,1,2]))", "{}", "[1,2,3]")
  t("$random in range", "( $r := $random(); $r >= 0 and $r < 1 )", "{}", "true")
  t("$millis stable within evaluation", "$millis() = $millis()", "{}", "true")

  // ---- URL coding full forms ----
  t("$encodeUrl keeps reserved", "$encodeUrl('http://a.c/?x=1 2')", "{}",
    "\"http://a.c/?x=1%202\"")
  t("$decodeUrl", "$decodeUrl('http://a.c/?x=1%202')", "{}", "\"http://a.c/?x=1 2\"")

  // ---- $assert / $error ----
  t("$assert passes", "( $assert(1 = 1, 'nope'); 'ok' )", "{}", "\"ok\"")
  test("$assert failure raises D3141") {
    val e = intercept[JsonataException](Jsonata.evalString("$assert(1 = 2, 'boom')", "{}"))
    assert(e.code == "D3141" && e.getMessage.contains("boom"))
  }

  // ---- config validation (A14) ----
  test("config validation rejects bad values") {
    import graft.connect.{DataException, JsonataTransform}
    assertThrows[DataException](JsonataTransform.Config("x", timeoutMs = -1))
    assertThrows[DataException](JsonataTransform.Config("x", maxDepth = 0))
    assertThrows[DataException](JsonataTransform.configFrom(Map("timeout.ms" -> "abc")))
    val c = JsonataTransform.configFrom(Map("expr" -> "$", "timeout.ms" -> "100"))
    assert(c.timeoutMs == 100L && c.maxDepth == 1000)
  }

  // ---- parser nesting guard ----
  test("20,000 nested parentheses raise a coded parse error, not a stack overflow") {
    val deep = "(" * 20000 + "1" + ")" * 20000
    val e = intercept[JsonataException](Jsonata.compile(deep))
    assert(e.code == "S0218", e.getMessage)
    // through the Connect entry point it is a config error, not a dead task
    assertThrows[graft.connect.DataException](graft.connect.JsonataTransform.compile(deep))
    val limit = Parser.MaxNesting
    Jsonata.compile("(" * (limit - 1) + "1" + ")" * (limit - 1)) // at the limit: parses
    assert(Jsonata.evalString("(" * 100 + "1" + ")" * 100, "{}") == "1")
    assert(intercept[JsonataException](
      Jsonata.compile("[" * (limit + 1) + "]" * (limit + 1))).code == "S0218")
  }

  test("an expression nested MaxNesting deep evaluates on a 1 MB thread stack; one level more is S0218") {
    val limit = Parser.MaxNesting
    def onSmallStack(src: String): Any = {
      var out: Any = null
      val t = new Thread(null, () =>
        out = try Jsonata.evalString(src, "{}") catch { case e: Throwable => e }, "nesting", 1L << 20)
      t.start(); t.join()
      out
    }
    // `limit - 1` brackets around a literal nest `limit` levels deep
    assert(onSmallStack("(" * (limit - 1) + "1" + ")" * (limit - 1)) == "1")
    assert(onSmallStack("[" * (limit - 1) + "1" + "]" * (limit - 1)) ==
      "[" * (limit - 1) + "1" + "]" * (limit - 1))
    assert(intercept[JsonataException](
      Jsonata.compile("(" * limit + "1" + ")" * limit)).code == "S0218")
  }

  // ---- the eval timeout bounds regex built-ins ----
  test("a catastrophically backtracking regex ends in U1001 within 3x the timeout") {
    // 28 'a's then 'b': `(.*a){22}$` tries every way to split the a's before failing
    val input = Jsonata.parseJson("{\"s\": \"" + "a" * 28 + "b\"}")
    val re = "/(.*a){22}$/"
    Seq(s"$$contains(s, $re)", s"$$match(s, $re)", s"$$replace(s, $re, 'x')",
      s"$$split(s, $re)", s"$re(s)").foreach { expr =>
      val t0 = System.nanoTime()
      val e = intercept[JsonataException](Jsonata.compile(expr).evaluate(input, 1000L, 1000))
      val ms = (System.nanoTime() - t0) / 1000000
      assert(e.code == "U1001", s"$expr: ${e.getMessage}")
      assert(ms < 3000, s"$expr ran $ms ms past a 1000 ms timeout")
    }
  }

  // ---- order-by stability ----
  t("sort is stable on ties", "library.books^(ties).title",
    """{"library": {"books": [
      {"title": "A", "ties": 1}, {"title": "B", "ties": 1}, {"title": "C", "ties": 0}]}}""",
    """["C","A","B"]""")
}
