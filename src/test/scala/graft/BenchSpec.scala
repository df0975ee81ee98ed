package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bench's timed loop: a query that fails is reported, never timed. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a failing query is listed in failed and left out of queries and total") {
    val queries = Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "a_ok" -> ((s, _) => s.range(100).toDF("id")),
      "b_throws_at_build" -> ((_, _) => throw new IllegalStateException("injected")),
      "c_fails_at_run" -> ((s, _) => s.range(5).selectExpr("raise_error('injected')")),
      "d_ok" -> ((s, _) => s.range(10).selectExpr("id * 2 AS x")))
    val (results, failed) = Bench.timeQueries(spark, "unused", queries)
    assert(results.map(_._1) == Seq("a_ok", "d_ok"))
    assert(failed == Seq("b_throws_at_build", "c_fails_at_run"))

    val line = Bench.summaryLine(results, failed, "sfX")
    val total = results.map(_._2).sum
    assert(line.startsWith(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{"a_ok":"""))
    assert(line.endsWith(""""sf":"sfX","failed":["b_throws_at_build","c_fails_at_run"]}"""))
    assert(!line.contains(""""b_throws_at_build":""") && !line.contains(""""c_fails_at_run":"""))
  }
}
