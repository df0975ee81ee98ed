package graft.connect

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

/** Property tests (SURVEY.md §5.2.3): decode(encode(r)) == r over random
  * schema/value pairs spanning the full type matrix, and `$` identity through
  * the whole transform path. Deterministic seeded sampling (the
  * scalatest-scalacheck bridge isn't in the offline cache). */
class CodecPropertySpec extends AnyFunSuite {

  /** Deterministic forAll replacement: n seeded samples. */
  private def forSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }
  private def minSuccessful(n: Int): Int = n
  private def forAll[A](gen: Gen[A], n: Int)(body: A => Unit): Unit = forSamples(gen, n)(body)

  // ---- generators ----

  private val genPrimitiveSchema: Gen[CSchema] = Gen.oneOf(
    CSchema(CType.INT8), CSchema(CType.INT16), CSchema(CType.INT32),
    CSchema(CType.INT64), CSchema(CType.FLOAT32), CSchema(CType.FLOAT64),
    CSchema(CType.BOOLEAN), CSchema(CType.STRING), CSchema(CType.BYTES),
    Logical.dateSchema, Logical.timeSchema, Logical.timestampSchema,
    Logical.decimalSchema(3))

  private def genSchema(depth: Int): Gen[CSchema] =
    if (depth <= 0) genPrimitiveSchema
    else Gen.frequency(
      4 -> genPrimitiveSchema,
      1 -> Gen.lzy(genSchema(depth - 1).map(CSchema.array)),
      1 -> Gen.lzy(genSchema(depth - 1).map(v => CSchema.map(CSchema.STRING, v))),
      1 -> Gen.lzy(for {
        n <- Gen.choose(1, 4)
        names <- Gen.listOfN(n, Gen.identifier.map(_.take(8))).map(_.distinct)
        schemas <- Gen.listOfN(names.length, genSchema(depth - 1))
      } yield CSchema.struct(names.zip(schemas): _*)))

  private def genValue(s: CSchema): Gen[Any] = s.ctype match {
    case CType.INT8 => Arbitrary.arbitrary[Byte]
    case CType.INT16 => Arbitrary.arbitrary[Short]
    case CType.INT32 =>
      // back to 0001-01-01: instants before 1970 must keep their form too
      if (s.name == Logical.DateName) Gen.choose(-719162, 100000).map(Logical.dateToLogical)
      else if (s.name == Logical.TimeName) Gen.choose(0, 86399999).map(Logical.timeToLogical)
      else Arbitrary.arbitrary[Int]
    case CType.INT64 =>
      if (s.name == Logical.TimestampName)
        Gen.choose(-62135596800000L, 4102444800000L).map(Logical.timestampToLogical)
      else Arbitrary.arbitrary[Long]
    case CType.FLOAT32 => Arbitrary.arbitrary[Float].suchThat(f => !f.isNaN && !f.isInfinite)
    case CType.FLOAT64 => Arbitrary.arbitrary[Double].suchThat(d => !d.isNaN && !d.isInfinite)
    case CType.BOOLEAN => Arbitrary.arbitrary[Boolean]
    case CType.STRING => Gen.alphaNumStr.map(_.take(20))
    case CType.BYTES =>
      if (s.name == Logical.DecimalName)
        Gen.choose(-1000000L, 1000000L).map(unscaled =>
          new java.math.BigDecimal(java.math.BigInteger.valueOf(unscaled), Logical.decimalScale(s)))
      else Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray.take(16))
    case CType.ARRAY => Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genValue(s.valueSchema)).map(_.toVector))
    case CType.MAP => Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.identifier.map(_.take(6)), genValue(s.valueSchema))))
      .map(kvs => ListMap(kvs: _*))
    case CType.STRUCT => Gen.sequence[Vector[Any], Any](s.fields.map(f => genValue(f.schema)))
      .map { vs =>
        val st = new CStruct(s)
        s.fields.zip(vs).foreach { case (f, v) => st.put(f, v) }
        st
      }
  }

  private val genSchemaAndValue: Gen[(CSchema, Any)] =
    genSchema(2).flatMap(s => genValue(s).map(v => (s, v)))

  // logical-aware deep equality (same as golden spec)
  private val golden = new GoldenParitySpec

  test("decode(encode(value)) == value for random typed values") {
    forAll(genSchemaAndValue, minSuccessful(200)) { case (schema, value) =>
      val encoded = RecordCodec.objectToJsonNode(value)
      val decoded = RecordCodec.jsonNodeToObject(schema, encoded)
      assert(golden.valueEquals(value, decoded),
        s"roundtrip failed for schema $schema:\n  in:  $value\n  out: $decoded")
    }
  }

  test("schema round-trips through JSON reification") {
    forAll(genSchema(3), minSuccessful(200)) { schema =>
      val decoded = RecordCodec.jsonNodeToSchema(RecordCodec.schemaToJsonNode(schema))
      assert(golden.schemaEquals(schema, decoded),
        s"schema roundtrip failed:\n  in:  $schema\n  out: $decoded")
    }
  }

  test("$ identity through the full transform preserves record") {
    forAll(genSchemaAndValue, minSuccessful(100)) { case (schema, value) =>
      val rec = CRecord("t", 0, CSchema.STRING, "k", schema, value, 1L,
        Vector(CHeader("h", "v", CSchema.STRING)), SinkMeta(0L, "CREATE_TIME"))
      val out = JsonataTransform.apply(rec, JsonataTransform.Config("$"))
      assert(out != null)
      assert(golden.valueEquals(value, out.value))
      assert(golden.schemaEquals(schema, out.valueSchema))
    }
  }
}
