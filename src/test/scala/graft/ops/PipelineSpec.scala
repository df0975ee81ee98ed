package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** pp04 — the end-to-end pretraining-pipeline capstone.
  *
  * Pins: (1) the exact attrition table at sf0.01 (the values the DuckDB
  * oracle independently produces — verified at sf0.001 and sf0.01 during
  * development; the registry re-checks every round); (2) the structural
  * invariants any correct composition must satisfy (monotone attrition,
  * token conservation through packing, example-count arithmetic); (3) the
  * plan shape — after the lineage-severing checkpoint the ten-row query
  * reads NO parquet at all (every stage consumed the one shared corpus
  * pass), and construction leaves no cached stage relations behind. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(d: String = sfDir) =
    graft.SparkEntry.queries("pp04_pretraining_pipeline")(spark, d)

  test("sf0.01 attrition table matches the oracle-verified values exactly") {
    val rows = run().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = Seq(
      (0L, "raw", 500L, 27165L),
      (1L, "train_split", 467L, 25599L),
      (2L, "quality", 380L, 23556L),
      (3L, "langid", 380L, 23556L),
      (4L, "exact_dedup", 380L, 23556L),
      (5L, "near_dedup", 364L, 22532L),
      (6L, "semantic_dedup", 262L, 16251L),
      (7L, "decontaminated", 260L, 16186L),
      (8L, "mixture", 250L, 15643L),
      (9L, "packed", 16L, 15643L))
    assert(rows.toSeq == expected, rows.mkString("\n"))
  }

  test("structural invariants hold at every fixture scale") {
    for (d <- Seq("/root/testdata/sf0.001", sfDir)) {
      val rows = run(d).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(rows.length == 10)
      // doc-count attrition is monotone non-increasing through stage 8
      val docs = rows.take(9).map(_._3)
      assert(docs.zip(docs.tail).forall { case (a, b) => b <= a },
        s"attrition must be monotone: ${docs.mkString(",")}")
      val toks = rows.map(_._4)
      assert(toks.take(9).zip(toks.tail.take(8)).forall { case (a, b) => b <= a })
      // packing conserves tokens and its example count is the prefix-sum
      // arithmetic: examples = floor(last_start/1024)+1 <= ceil(tokens/1024)
      // can undershoot only via doc straddling, never exceed doc count
      assert(toks(9) == toks(8), "packing must conserve tokens")
      val nEx = rows(9)._3
      assert(nEx >= (toks(8) + 1023L) / 1024L && nEx <= math.max(1L, docs(8)),
        s"example count $nEx out of bounds for ${toks(8)} tokens")
      // the eval split and every gate actually bind on the fixtures
      assert(docs(1) < docs(0) && docs(2) < docs(1) && docs(5) < docs(4) &&
        docs(6) < docs(5), s"expected binding stages: ${docs.mkString(",")}")
    }
  }

  test("the ten-row plan reads no parquet (single shared corpus pass)") {
    val df = run()
    val plan = df.queryExecution.executedPlan.toString
    // the lineage-severing checkpoint means the final query consumes ONLY
    // the materialized flagged corpus — a parquet scan here would be a
    // stage silently re-scanning the table
    assert(!plan.contains("Scan parquet"),
      "final plan must not re-scan any table\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("construction releases the corpus-sized stage caches") {
    // one run may legitimately leave TWO small materialized artifacts the
    // returned plan reads (the dc localCheckpoint + the sel cache); the six
    // corpus-sized stage persists (flagged, survBase, sv, the drop sets)
    // must all be gone — a leak here shows up as growth > 2
    val before = spark.sparkContext.getPersistentRDDs.size
    run().collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"stage caches leaked: persistent RDDs grew $before -> $after")
  }

  test("a failed concurrent barrier cancels its sibling jobs before rethrowing") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Pipeline.concurrently(spark, "probe")(
        "fails" -> { () =>
          while (sc.statusTracker.getActiveJobIds.isEmpty) Thread.sleep(10)
          throw new IllegalStateException("injected")
        },
        // ~10^12 rows: hours of work unless it is cancelled
        "slow" -> (() => spark.range(0L, 1L << 40, 1, 4).selectExpr("max(id)").collect()))
    }
    assert(e.getMessage == "injected")
    assert((System.nanoTime() - t0) / 1e9 < 60, "the sibling ran to completion instead of being cancelled")
    org.apache.spark.sql.graftshim.Shims.drainListenerBus(spark)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
  }
}
