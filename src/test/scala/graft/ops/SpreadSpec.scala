package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.spread`'s error path: a file that cannot be statted must not
  * count as 0 bytes (which would skip the repartition); spread falls back to
  * `repartition(defaultParallelism)`. */
class SpreadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("spread-spec")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def smallTable(name: String): DataFrame = {
    val path = dir.resolve(name).toString
    spark.range(100).coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  private def repartitions(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: Repartition => r.numPartitions }

  test("a small input whose files can be statted is left as it is") {
    val df = smallTable("kept")
    assert(df.inputFiles.length == 1)
    assert(repartitions(Tables.spread(df)).isEmpty)
  }

  test("an input file that cannot be statted falls back to repartition(defaultParallelism)") {
    val df = smallTable("deleted")
    val files = df.inputFiles
    assert(files.length == 1)
    Files.delete(java.nio.file.Paths.get(new java.net.URI(files.head)))
    assert(repartitions(Tables.spread(df)) == Seq(spark.sparkContext.defaultParallelism))
  }
}
