package graft

import scala.collection.mutable

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Shims

/** What the mains (Bench, Prof, Verify, PlanDump, ScaleSmoke) share: one
  * session config, one query selection, one warm-up and one metered run. So
  * the plans Verify checks against the oracle are the plans Bench times. */
object Harness {
  type Build = (SparkSession, String) => DataFrame

  /** The session of every main: `local[SPARK_GRAFT_CPUS]` (default 32, the
    * bench width) with as many shuffle partitions, UTC, the graft SQL
    * extensions, AQE, a 64 MB broadcast threshold, no UI and WARN logging.
    * `extra` confs go on top. `app` names the run; its failure lines on
    * stderr start with `[app]`. */
  def session(app: String, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The only unpartitioned windows in the registry are sp03/sp04/sp05's
    // block-summary prefix sums and tx09's 4-row frequency-band summary:
    // single-partition by design over tiny relations (≈ parallelism rows /
    // ≤65,536 hash buckets, never the corpus), so WindowExec's blanket
    // warning is expected noise in these mains, not a scale risk. New
    // queries are guarded by PlanShapeSpec's registry-wide window audit.
    Configurator.setLevel("org.apache.spark.sql.execution.window", Level.ERROR)
    spark
  }

  /** The registry queries, by name, whose names start with one of the
    * comma-separated prefixes in `only`; all of them when `only` is unset. */
  def select(only: Option[String]): Seq[(String, Build)] = {
    val prefixes = only.toSeq.flatMap(_.split(','))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.isEmpty || prefixes.exists(name.startsWith) }
  }

  /** Run every query once at the smallest scale so the measured runs time
    * the queries, not JIT, codegen, parquet-reader set-up and first-job
    * initialization. The schemas are the same at every scale, so this
    * compiles exactly the generated code and plans the same AQE shapes the
    * measured runs use: the local-mode analog of a cluster's already-warm
    * executors (round 8 read aj01 at 8.9 s cold where the same-shape aj03
    * ran 1.75 s warm). The warm directory is SPARK_GRAFT_WARM_DIR if set,
    * else the sf0.001 sibling of `sfDir` or /root/testdata/sf0.001,
    * whichever exists first, else `sfDir` itself. */
  def warmUp(spark: SparkSession, queries: Seq[(String, Build)], sfDir: String): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      Seq(sfDir.replaceAll("sf[0-9.]+$", "sf0.001"), "/root/testdata/sf0.001")
        .find(new java.io.File(_).isDirectory).getOrElse(sfDir))
    queries.foreach { case (name, build) => run(spark, s"warmup $name", build(spark, dir)) }
  }

  /** What one run's jobs, stages and tasks counted: sums over its tasks
    * (times in ms, CPU in ns, sizes in bytes), and its longest task with the
    * stage it ran in, and the most records one task read or wrote. */
  final case class Counts(
      taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, fetchMs: Long = 0,
      shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
      jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      maxTaskMs: Long = 0, maxTaskStage: Int = -1, maxTaskRecords: Long = 0)

  /** One run: its wall seconds, none if it failed, and its counts. */
  final case class Run(sec: Option[Double], counts: Counts)

  /** Build a query and write it to `sink`, timed and metered. The default
    * noop sink materializes every row (count() would let Spark prune the
    * final project). Its jobs carry `name` as their description (AQE runs
    * stages from a pool thread, whose callsite names no query operator);
    * job groups set inside the query, as in pp04, override it for their
    * jobs. A query that throws is logged and gets no time, so its
    * partial time never passes for a result. The clock stops before the
    * cache is cleared (queries persist intermediates for reuse, and one
    * query's leftovers would GC-tax the next) and before the listener bus is
    * drained, which makes the counts whole. With SPARK_GRAFT_STAGES=1 it
    * prints the run's longest task and its stage. */
  def run(spark: SparkSession, name: String, build: => DataFrame,
          sink: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()): Run = {
    val sc = spark.sparkContext
    val meter = meterOf(sc)
    meter.reset()
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    val t0 = System.nanoTime()
    val ok =
      try { sink(build); true }
      catch { case e: Throwable =>
        System.err.println(s"[${sc.appName}] $name failed: ${e.getMessage}"); false }
      finally sc.setJobDescription(prevDesc)
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sharedState.cacheManager.clearCache()
    Shims.drainListenerBus(spark)
    val c = meter.counts
    if (meter.trace) System.err.println(s"[run] $name: longest task ${c.maxTaskMs} ms, stage ${c.maxTaskStage}")
    Run(Option.when(ok)(sec), c)
  }

  /** The meter on the current SparkContext, attached on first use. */
  private var attached: (SparkContext, Meter) = _

  private def meterOf(sc: SparkContext): Meter = synchronized {
    if (attached == null || (attached._1 ne sc)) {
      attached = sc -> new Meter(sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
      sc.addSparkListener(attached._2)
    }
    attached._2
  }
}

/** The harness's one listener: counts a run (see [[Harness.Counts]]). With
  * `trace` (SPARK_GRAFT_STAGES=1) it also prints each job with its wall and
  * task ms and its job description (`setJobDescription`), and each stage
  * that took at least 100 ms of wall or 500 ms of task time, with its job's
  * description and its callsite. All callbacks run on the one listener-bus
  * thread; `reset` and `counts` are called with the bus drained. */
final class Meter(val trace: Boolean) extends SparkListener {
  @volatile private var c = Harness.Counts()
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val stageTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val jobTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  def reset(): Unit = c = Harness.Counts()
  def counts: Harness.Counts = c

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c = c.copy(jobs = c.jobs + 1)
    if (trace) {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
      jobStart(e.jobId) = (desc, e.time)
      e.stageIds.foreach(jobOfStage(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (desc, t0) =>
      System.err.println(f"[job] id=${e.jobId}%4d wallMs=${e.time - t0}%6d " +
        f"taskMs=${jobTaskMs.remove(e.jobId).getOrElse(0L)}%7d $desc")
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    c = c.copy(stages = c.stages + 1)
    if (trace) {
      val i = e.stageInfo
      val ms = (for (s <- i.submissionTime; d <- i.completionTime) yield d - s).getOrElse(-1L)
      val ts = stageTaskMs.remove(i.stageId).getOrElse(0L)
      val job = jobOfStage.get(i.stageId)
      job.foreach(jobTaskMs(_) += ts)
      val desc = job.flatMap(jobStart.get).map(_._1).getOrElse("")
      if (ms >= 100 || ts >= 500) System.err.println(
        f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%3d wallMs=$ms%6d taskMs=$ts%7d [$desc] ${i.name.take(60)}")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    val run = m.executorRunTime
    val records = m.shuffleReadMetrics.recordsRead max m.inputMetrics.recordsRead max
      m.shuffleWriteMetrics.recordsWritten
    val longest = run > c.maxTaskMs
    c = c.copy(
      taskMs = c.taskMs + run, cpuNs = c.cpuNs + m.executorCpuTime, gcMs = c.gcMs + m.jvmGCTime,
      fetchMs = c.fetchMs + m.shuffleReadMetrics.fetchWaitTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      tasks = c.tasks + 1,
      maxTaskMs = if (longest) run else c.maxTaskMs,
      maxTaskStage = if (longest) e.stageId else c.maxTaskStage,
      maxTaskRecords = c.maxTaskRecords max records)
    if (trace) stageTaskMs(e.stageId) += run
  }
}
