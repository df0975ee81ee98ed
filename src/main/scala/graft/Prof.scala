package graft

/** Optimization-round profiler: run selected queries `reps` times each and
  * report, per query, the fastest completed rep's wall seconds and counts
  * (task run, CPU, GC and fetch-wait time, shuffle bytes, spill). Task-time
  * and shuffle-byte totals are far more stable than wall-clock on a noisy
  * host — an optimization is real when it reduces them. Usage:
  *
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.Prof <sfDir> <reps> <prefix,...>'
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val spark = Harness.session("prof")
    val queries = Harness.select(args.lift(2))
    Harness.warmUp(spark, queries, sfDir)
    queries.foreach { case (n, build) =>
      // a failed rep's near-zero wall must not latch the min: it would
      // report the failure's near-empty counts as the query's best profile
      val ok = (1 to reps).map(_ => Harness.run(spark, n, build(spark, sfDir))).filter(_.sec.isDefined)
      if (ok.isEmpty)
        println(f"[prof] $n%-32s FAILED all $reps reps")
      else {
        val best = ok.minBy(_.sec.get)
        val c = best.counts
        val tag = if (ok.size < reps) s"  (failedReps=${reps - ok.size})" else ""
        println(f"[prof] $n%-32s wall=${best.sec.get}%7.2f taskSec=${c.taskMs / 1e3}%8.2f " +
          f"cpuSec=${c.cpuNs / 1e9}%8.2f gcSec=${c.gcMs / 1e3}%6.2f " +
          f"fetchSec=${c.fetchMs / 1e3}%6.2f shReadMB=${c.shuffleRead / 1e6}%8.1f " +
          f"shWriteMB=${c.shuffleWrite / 1e6}%8.1f spillMB=${c.spill / 1e6}%6.1f" + tag)
      }
    }
    spark.stop()
  }
}
