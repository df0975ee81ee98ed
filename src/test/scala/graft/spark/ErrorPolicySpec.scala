package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Per-record error policy (DLQ analog of Connect errors.tolerance=all around
  * the reference's per-record DataException wrap,
  * JsonataTransformation.java:96-107): a poison record yields a captured error
  * row, never a failed job — batch and streaming.
  */
class ErrorPolicySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 1000 rows; row 613's payload is unparseable by $number -> D3030. */
  private def poisoned = {
    val sp = spark
    import sp.implicits._
    (0 until 1000).map(i => (i.toLong, if (i == 613) "poison" else i.toString))
      .toDF("id", "s")
  }

  test("one poison record in 1000 yields 999 results + 1 captured error; job survives") {
    val out = JsonataDF.transformPermissive(poisoned, "{'id': value.id, 'n': $number(value.s)}")
      .persist()
    assert(out.count() == 1000)
    val good = out.filter(col("error").isNull)
    val bad = out.filter(col("error").isNotNull).collect()
    assert(good.count() == 999)
    assert(bad.length == 1)
    assert(bad(0).getAs[String]("error").contains("D3030"),
      s"error should carry the engine code, got: ${bad(0).getAs[String]("error")}")
    assert(bad(0).getAs[String]("out") == null)
    // the original record rides along for DLQ replay — and only on error rows
    assert(bad(0).getAs[String]("record").contains("\"s\":\"poison\""))
    assert(good.filter(col("record").isNotNull).count() == 0)
  }

  test("strict mode still fails the job on the same data (policy is opt-in)") {
    val e = intercept[Exception] {
      JsonataDF.transform(poisoned, "{'id': value.id, 'n': $number(value.s)}").count()
    }
    assert(e.getMessage != null)
  }

  test("deadLetters is a ready-to-sink DLQ frame") {
    val dlq = JsonataDF.deadLetters(poisoned, "{'id': value.id, 'n': $number(value.s)}").collect()
    assert(dlq.length == 1)
    assert(dlq(0).getAs[String]("error").contains("Could not evaluate expression"))
    assert(dlq(0).getAs[String]("record").contains("613"))
  }

  test("tombstones drop, errors stay, in the same permissive pass") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "10"), (2L, "drop"), (3L, "bad")).toDF("id", "s")
    val out = JsonataDF.transformPermissive(df,
      "value.s = 'drop' ? null : {'id': value.id, 'n': $number(value.s)}").collect()
    assert(out.length == 2) // tombstone gone, error captured
    assert(out.count(_.getAs[String]("error") != null) == 1)
  }

  test("jsonataTry captures malformed record JSON per record; job survives") {
    val sp = spark
    import sp.implicits._
    val df = Seq("""{"n": 1}""", """{"n": """, """{"n": 3}""").toDF("j")
    val rows = df.select(JsonataFunctions.jsonataTry(col("j"), "n + 1").as("r"))
      .select(col("r.out"), col("r.error")).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(0)).toSeq == Seq("2", null, "4"))
    assert(rows(1).getString(1).startsWith("Could not parse record JSON"),
      s"malformed input must be captured as a parse error, got: ${rows(1).getString(1)}")
    assert(rows(0).getString(1) == null && rows(2).getString(1) == null)
  }

  test("the permissive expression evaluates once per record (no plan duplication)") {
    // parquet-backed source: a LocalRelation would be folded at optimization
    // time and hide the projection from the plan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = JsonataDF.transformPermissive(docs, "{'id2': value.doc_id, 'n2': $number(value.lang)}")
    val plan = df.queryExecution.executedPlan.toString
    val evals = "jsonata_try".r.findAllIn(plan).length
    assert(evals == 1, s"expected exactly one jsonata_try in the physical plan, found $evals:\n$plan")
  }

  test("timeout is a per-record error in permissive mode, not a job failure") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, 3), (2L, 30)).toDF("id", "n")
    // recursive fib is exponential; n=30 exceeds the 50 ms budget, n=3 does not
    val expr = "($fib := function($x){ $x <= 1 ? $x : $fib($x-1) + $fib($x-2) }; " +
      "{'id': value.id, 'f': $fib(value.n)})"
    val out = JsonataDF.transformPermissive(df, expr, timeoutMs = 50L).persist()
    assert(out.filter(col("error").isNull).count() == 1)
    assert(out.filter(col("error").isNotNull).count() == 1)
  }

  test("streaming DLQ sink: good records and dead letters land in separate directories") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val tmp = java.nio.file.Files.createTempDirectory("graft_dlq").toString
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("id", "s")
    val query = graft.streaming.JsonataStreaming.writeWithDeadLetters(
      df, "{'id': value.id, 'n': $number(value.s)}",
      s"$tmp/out", s"$tmp/dlq", s"$tmp/ckpt")
    input.addData((1L, "1"), (2L, "oops"), (3L, "3"))
    query.processAllAvailable()
    query.stop()

    val good = sp.read.parquet(s"$tmp/out")
    val dlq = sp.read.parquet(s"$tmp/dlq")
    assert(good.count() == 2)
    val d = dlq.collect()
    assert(d.length == 1)
    assert(d(0).getAs[String]("error").contains("D3030"))
    assert(d(0).getAs[String]("record").contains("oops"))
  }

  test("streaming: poison records flow to the DLQ filter, stream keeps running") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("id", "s")
    val out = JsonataDF.transformPermissive(df, "{'id': value.id, 'n': $number(value.s)}")
    val query = out.writeStream.format("memory").queryName("ep_out").outputMode("append").start()
    input.addData((1L, "1"), (2L, "oops"), (3L, "3"))
    query.processAllAvailable()
    input.addData((4L, "4")) // stream is still alive after the poison batch
    query.processAllAvailable()
    val rows = sp.sql("SELECT out, error FROM ep_out").collect()
    query.stop()

    assert(rows.length == 4)
    assert(rows.count(_.getString(1) != null) == 1)
    assert(rows.count(_.getString(1) == null) == 3)
  }
}
