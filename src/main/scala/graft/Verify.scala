package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs on the
  * [[Harness]] session, so the plans checked are the plans Bench times. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name-prefix filter (local iteration
    // only — the driver always calls with exactly two args = run everything)
    val Array(sfDir, outDir, _*) = args
    val spark = Harness.session("verify")
    new java.io.File(outDir).mkdirs()
    Harness.select(args.lift(2)).foreach { case (name, build) =>
      Harness.run(spark, name, build(spark, sfDir),
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
    // Jackson escapes quotes, backslashes and every control character: a
    // tab or CR in builder-authored SQL must not make the driver's
    // json.load fail and silently zero the round's correctness.
    val json = new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
