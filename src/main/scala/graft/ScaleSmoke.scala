package graft

import org.apache.spark.sql.execution.FormattedMode

/** Scale-proof smoke (VERDICT r6 item 8): run the dedup / similarity /
  * sampling / text families once at sf1 (10x the bench scale; generate with
  * tools/gen_sf1.py) and record that the frequency caps and adaptive
  * constants hold their bounds — the evidence is task-level, not just
  * wall-clock: a cap failure at scale shows up as one straggler task doing a
  * quadratic block's work, so we track the MAX single-task runtime and the
  * max records a task reads from a shuffle. Prints one JSON line:
  *
  * {"metric":"scale_smoke","value":<total sec>,"queries":{name:
  *   {"sec":s,"max_task_sec":s,"max_task_records":n}},"sf":...}
  *
  * Only documents/embeddings exist at sf1, so the TPC-H/events families are
  * out of scope here (they run at sf0.1 in Bench). A query that fails is
  * logged and left out of the line.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/testdata/sf1")
    // the sf1 slice is ONE ~5 MB file per table; at the default 128 MB
    // maxPartitionBytes every scan is a single input split and all map-side
    // work serializes on one core — an artifact of the small fixture, not
    // the operator. A 100 TB corpus has millions of splits, so the smoke
    // simulates split abundance; per-operator scale behavior is the thing
    // under test here, not parquet split math.
    val spark = Harness.session("smoke",
      "spark.sql.files.maxPartitionBytes" -> "256k", "spark.sql.files.openCostInBytes" -> "64k")

    // the families whose caps/bounds the smoke is about (the sf1 slice has
    // documents/embeddings plus zipf-skewed events and a minimal orders
    // table for the temporal/session family)
    val prefixes = Seq("dd", "bf", "dc", "ss", "sp", "tx", "ch", "pii", "pp",
      "ses", "aj", "rj", "ev0",
      "jx1", "jx2", // jx10+ are the embeddings/documents compiled-tier queries
      "mm06", // multimodal ops with joins (mm01-mm05 are map-only)
      "mm07", // per-doc windows + the fused energy kernel (frame-count scaling)
      "mm08", // the banded per-doc summary over the same vector relation
      "mm09", // shot deltas: per-row frame HOF cost scales with doc length
      "mm10", // the composed curation capstone (gates + survivor banding)
      "q21", "q22") // window-frame + pivot shapes over the sf1 orders slice
    // local iteration: SPARK_GRAFT_ONLY=name-prefix filter, SPARK_GRAFT_EXPLAIN=1
    // prints each query's formatted plan before running it
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val queries = Harness.select(sys.env.get("SPARK_GRAFT_ONLY"))
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
    Harness.warmUp(spark, queries, sfDir)

    val rows = queries.flatMap { case (name, build) =>
      if (explain) Harness.run(spark, s"explain $name", build(spark, sfDir),
        df => println(s"=== $name ===\n" + df.queryExecution.explainString(FormattedMode)))
      val run = Harness.run(spark, name, build(spark, sfDir))
      run.sec.map(sec => (name, sec, run.counts))
    }
    val qs = rows.map { case (k, s, c) =>
      f""""$k":{"sec":$s%.3f,"max_task_sec":${c.maxTaskMs / 1e3}%.3f,"max_task_records":${c.maxTaskRecords}}"""
    }.mkString("{", ",", "}")
    val total = rows.map(_._2).sum
    val worstTask = rows.map(_._3.maxTaskMs / 1e3).maxOption.getOrElse(0.0)
    println(f"""{"metric":"scale_smoke","value":$total%.3f,"unit":"sec","worst_task_sec":$worstTask%.3f,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
