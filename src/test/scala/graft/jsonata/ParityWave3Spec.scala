package graft.jsonata

import org.scalatest.funsuite.AnyFunSuite

/** Third conformance wave: unicode handling, context propagation through
  * higher-order functions, constructor nesting, serialization fidelity, and
  * error-code pinning. */
class ParityWave3Spec extends AnyFunSuite {

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

  // ---- unicode: codepoint-aware string functions ----
  t("length counts codepoints", "$length('a😀b')", "{}", "3")
  t("substring by codepoints", "$substring('a😀bc', 1, 2)", "{}", "\"😀b\"")
  t("uppercase preserves unicode", "$uppercase('café')", "{}", "\"CAFÉ\"")

  // ---- context propagation ----
  t("$ inside $map is outer context? no — lambda arg", "$map([1,2], function($v){ $v * 10 })", "{}", "[10,20]")
  t("context preserved across block", "( a; b )", """{"a": 1, "b": 2}""", "2")
  t("path context in lambda body",
    "( $f := function(){ x }; items.$f() )", """{"items": [{"x": 1}, {"x": 2}]}""", "[1,2]")
  t("$$ from nested context", "items.($$.base + v)", """{"base": 100, "items": [{"v": 1}, {"v": 2}]}""",
    "[101,102]")

  // ---- constructor nesting ----
  t("object in array in object", "{'a': [{'b': 1}, {'b': 2}]}.a.b", "{}", "[1,2]")
  t("array ctor inside object value", "{'xs': [1, 2, 3]}", "{}", """{"xs": [1,2,3]}""")
  t("object values from paths", "items.{'k': v}", """{"items": [{"v": 1}, {"v": 2}]}""",
    """[{"k":1},{"k":2}]""")
  t("group over path with expr keys", "items{'g' & (v % 2): $count(v)}",
    """{"items": [{"v": 1}, {"v": 2}, {"v": 3}]}""",
    """{"g1": 2, "g0": 1}""")

  // ---- serialization fidelity ----
  t("string escapes round-trip", "$string({'q': 'a\"b', 'n': 'x\\ny'})", "{}",
    "\"{\\\"q\\\":\\\"a\\\\\\\"b\\\",\\\"n\\\":\\\"x\\\\ny\\\"}\"")
  t("negative zero", "$string(-0.0)", "{}", "\"0\"")
  t("large long exact", "$string(9007199254740993)", "{}", "\"9007199254740993\"")
  t("scientific parse", "1e2 + 1", "{}", "101")

  // ---- error-code pinning ----
  test("T2001 arithmetic on string") {
    val e = intercept[JsonataException](Jsonata.evalString("'a' + 1", "{}"))
    assert(e.code == "T2001")
  }
  test("T1006 invoking non-function") {
    val e = intercept[JsonataException](Jsonata.evalString("( $x := 5; $x(1) )", "{}"))
    assert(e.code == "T1006")
  }
  test("T1003 non-string group key") {
    val e = intercept[JsonataException](Jsonata.evalString("{ 1: 'x' }", "{}"))
    assert(e.code == "T1003")
  }
  test("D2014 oversized range") {
    val e = intercept[JsonataException](Jsonata.evalString("[1..100000000]", "{}"))
    assert(e.code == "D2014")
  }
  test("S0203/S0202-class unterminated constructs") {
    assertThrows[JsonataException](Jsonata.compile("{'a': 1"))
    assertThrows[JsonataException](Jsonata.compile("[1, 2"))
    assertThrows[JsonataException](Jsonata.compile("function($a){ $a"))
  }
  test("U1001 timeout on pathological expression") {
    val expr = Jsonata.compile("$count($map([1..1000000], function($v){ $v + 1 }))")
    val e = intercept[JsonataException](expr.evaluate(Jsonata.parseJson("{}"), 50L, 1000))
    assert(e.code == "U1001")
  }

  // ---- object constructor over one context item ----
  test("a one-item constructor evaluates every key before any value") {
    val e = intercept[JsonataException](Jsonata.evalString("""{"a": $error("v"), $error("k"): 1}""", "{}"))
    assert(e.getMessage.contains("k") && !e.getMessage.contains("v"), e.getMessage)
  }
  test("D1009 duplicate keys over one item") {
    val e = intercept[JsonataException](Jsonata.evalString("""{"a": 1, "b": 2, "a": 3}""", "{}"))
    assert(e.code == "D1009")
    val e2 = intercept[JsonataException](Jsonata.evalString("""{k: 1, "x": 2}""", """{"k": "x"}"""))
    assert(e2.code == "D1009")
  }
  test("a wide one-item constructor keeps every key and still finds a duplicate") {
    val literal = (0 until 200).map(i => s""""k$i": $i""").mkString("{", ", ", "}")
    val out = Jsonata.parseJson(Jsonata.evalString(literal, "{}"))
    assert(out.size == 200 && out.get("k199").intValue == 199)
    val computed = (0 until 200).map(i => s""""k$i": $i""").mkString("{", ", ", """, "k" & n: 0}""")
    val e = intercept[JsonataException](Jsonata.evalString(computed, """{"n": 150}"""))
    assert(e.code == "D1009" && e.getMessage.contains("k150"), e.getMessage)
  }
  t("an undefined value drops its key", """{"a": nothing, "b": 1, "c": b}""", "{}", """{"b": 1}""")
  t("an undefined key drops its pair", """{nothing: 1, "b": 2}""", "{}", """{"b": 2}""")

  // ---- higher-order builtins pass only the arguments a lambda declares ----
  // a typed lambda raises T0410 on a surplus argument, so these fail if the
  // builtin passes an index or the whole array to a one-parameter lambda
  t("$map passes a typed one-parameter lambda one argument",
    "$map([1, 2], function($v)<n:n>{ $v * 2 })", "{}", "[2, 4]")
  t("$filter passes a typed one-parameter lambda one argument",
    "$filter([1, 2, 3], function($v)<n:b>{ $v > 1 })", "{}", "[2, 3]")
  t("$single passes a typed one-parameter lambda one argument",
    "$single([1, 2, 3], function($v)<n:b>{ $v = 2 })", "{}", "2")
  t("$reduce passes a typed two-parameter lambda two arguments",
    "$reduce([1, 2, 3], function($a, $v)<nn:n>{ $a + $v })", "{}", "6")
  t("$map passes the index and the input array",
    "$map(xs, function($v, $i, $a){ {'v': $v, 'i': $i, 'a': $a} })", """{"xs": [5, 6]}""",
    """[{"v": 5, "i": 0, "a": [5, 6]}, {"v": 6, "i": 1, "a": [5, 6]}]""")
  t("$map's whole array of a sequence equals the sequence",
    "$map(xs.v, function($v, $i, $a){ $a })", """{"xs": [{"v": 1}, {"v": 2}]}""", "[[1, 2], [1, 2]]")
  t("$filter passes the index and the input array",
    "$filter(xs, function($v, $i, $a){ $a[$i] = $v and $count($a) = 3 and $i > 0 })",
    """{"xs": [7, 8, 9]}""", "[8, 9]")
  t("$single passes the index and the input array",
    "$single(xs, function($v, $i, $a){ $i = 1 and $a[2] = 9 })", """{"xs": [7, 8, 9]}""", "8")
  t("$reduce passes the index and the input array",
    "$reduce(xs, function($acc, $v, $i, $a){ $acc + $v * $i + $count($a) }, 0)", """{"xs": [7, 8, 9]}""", "35")
  t("$map over one value passes it as a one-item array",
    "$map(x, function($v, $i, $a){ $a })", """{"x": 4}""", "[4]")
  test("T1006 names the function that is not one") {
    val e = intercept[JsonataException](Jsonata.evalString("$foo(1)", "{}"))
    assert(e.code == "T1006")
    assert(e.getMessage.contains("$foo"), e.getMessage)
  }

  // ---- $each / $map over objects and mixed ----
  t("$keys on array of objects unions", "$keys([{'a':1},{'b':2},{'a':3}])", "{}", """["a","b"]""")
  t("$lookup missing key", "$lookup({'a': 1}, 'zz')", "{}", UNDEF)
  t("$merge empty array", "$merge([])", "{}", "{}")
  t("$zip uneven triple", "$zip([1,2,3],[4,5],[6])", "{}", "[[1,4,6]]")
  t("$append with undefined", "$append(nothing, [1,2])", "{}", "[1,2]")

  // ---- chained higher-order with partial application ----
  t("partial with builtin", "( $prefixed := $substringAfter(?, '-'); $prefixed('a-b') )", "{}", "\"b\"")
  t("map with partial", "$map(['x-1','x-2'], $substringAfter(?, '-'))", "{}", """["1","2"]""")

  // ---- deep predicates and descendant combos ----
  t("predicate with nested path",
    "items[meta.active].id", """{"items": [{"id":1,"meta":{"active":true}},{"id":2,"meta":{"active":false}}]}""",
    "1")
  t("descendant then filter then map", "(**.price)[$ > 12]",
    """{"a": {"price": 10}, "b": {"c": {"price": 15}, "price": 20}}""", "[20,15]")

  // ---- numeric type preservation through identity ----
  t("int stays int in output", "$string({'a': 1, 'b': 1.5})", "{}", "\"{\\\"a\\\":1,\\\"b\\\":1.5}\"")
}
