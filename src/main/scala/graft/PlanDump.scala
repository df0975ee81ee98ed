package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Optimization-round tooling: dump `.explain("formatted")` for every
  * registered query (or a prefix-filtered subset) to one text file per
  * query, planned on the [[Harness]] session. Plan-only, so it is safe to
  * run while a bench occupies the host. Usage:
  *
  *   runMain graft.PlanDump <sfDir> <outDir> [namePrefix,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: runMain graft.PlanDump <sfDir> <outDir> [namePrefix,...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir, _*) = args
    val spark = Harness.session("plandump")
    Files.createDirectories(Paths.get(outDir))
    Harness.select(args.lift(2)).foreach { case (name, build) =>
      Harness.run(spark, name, build(spark, sfDir), df =>
        Files.writeString(Paths.get(s"$outDir/$name.txt"), df.queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
