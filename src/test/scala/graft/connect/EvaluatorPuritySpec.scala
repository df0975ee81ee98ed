package graft.connect

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import graft.jsonata.{ConformanceSpec, Jsonata, JsonataException}

/** The evaluator never mutates its input tree. RecordCodec shares one schema
  * node across every envelope that carries the schema, so a mutation would
  * leak into later records. Each case deep-copies the input, evaluates, and
  * asserts that the input still equals the copy. */
class EvaluatorPuritySpec extends AnyFunSuite {
  import CodecFixtures._

  private def assertPure(expr: String, input: JsonNode): Unit = {
    val before = input.deepCopy[JsonNode]()
    try Jsonata.compile(expr).evaluate(input)
    catch { case _: JsonataException => }
    assert(input == before, s"evaluating $expr changed its input")
  }

  test("every ConformanceSpec case leaves its input unchanged") {
    val cases = new ConformanceSpec().cases
    assert(cases.size > 150)
    cases.foreach { case (expr, json) => assertPure(expr, Jsonata.parseJson(json)) }
  }

  test("GoldenParitySpec's expressions leave every golden envelope unchanged") {
    for (r <- goldenRecords; e <- goldenExprs) assertPure(e, RecordCodec.recordToJsonNode(r))
  }

  test("the smt_records configs leave benchmark-shaped envelopes unchanged") {
    for (i <- 0 until 50; e <- smtExprs) assertPure(e, RecordCodec.recordToJsonNode(smtRecord(i)))
  }

  test("a variable bound to a sequence is unchanged after path steps, $append and $map read it") {
    // `$s` is a sequence the evaluator built; every reader below views it
    // without copying, and none may change it
    val reads = Seq("$s.$uppercase($)", "$s[0]", "$append($s, 'z')", "$append('z', $s)",
      "$map($s, function($v, $i, $a){ $a })", "$filter($s, function($v){ true })",
      "$sort($s)", "$reverse($s)", "$s{$: 1}", "[$s, $s]")
    val input = RecordCodec.recordToJsonNode(smtRecord(1))
    val plain = Jsonata.compile("value.items.sku").evaluate(input)
    assert(plain.size() > 1)
    for (r <- reads) {
      val out = Jsonata.compile(s"( $$s := value.items.sku; $$x := $r; [$$s] )").evaluate(input)
      assert(out == plain, s"reading $$s through $r changed it to $out")
    }
  }

  test("~>|...| over nested arrays leaves its input unchanged") {
    val nested = Jsonata.parseJson(
      """{"a": [[{"x": 1}, {"x": 2}], [{"x": 3, "y": [{"x": 4}]}]], "b": [{"x": 5}]}""")
    val exprs = Seq("a ~> |$|{'x': 0}|", "$ ~> |a|{'z': 1}, ['x']|", "$ ~> |**.y|{'x': 9}|",
      "a.x ~> |$|{'w': 1}|", "[a, b] ~> |$|{'x': -1}|", "$ ~> |a.y|{'k': 'v'}|")
    exprs.foreach(e => assertPure(e, nested))
  }

  test("transform, $merge, $sift, $spread and group-by objects build new nodes") {
    val exprs = Seq(
      "$ ~> |value|{'first': 'X'}|",
      "$ ~> |value.items|{'qty': 0}, ['sku']|",
      "$ ~> |valueSchema.fields.*.schema|{'doc': 'd'}, ['optional']|",
      "value ~> |$|{'id': 0}|",
      "$merge([value, {'id': 0}])",
      "$merge([valueSchema, {'fields': {}}])",
      "$merge(value.items)",
      "$sift(value, function($v, $k) { $k != 'email' })",
      "$sift(valueSchema.fields, function($v) { true })",
      "$spread(value)",
      "$spread(valueSchema.fields)",
      "value.items{sku: qty}",
      "value.items{sku: $}",
      "valueSchema.fields.*{name: schema}",
      "$append(value.items, value.items)",
      "$sort(value.items, function($a, $b) { $a.qty > $b.qty })",
      "$reverse(value.items)",
      "$distinct(value.items)",
      "$each(value, function($v, $k) { $k })",
      "[value.items, valueSchema]",
      "value.items[qty > 1]^(price)")
    for (i <- Seq(0, 1, 25); e <- exprs) assertPure(e, RecordCodec.recordToJsonNode(smtRecord(i)))
  }
}
