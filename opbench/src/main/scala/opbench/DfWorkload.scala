package opbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.connect.JsonataTransform
import graft.jsonata.{JsonataException, Values}
import graft.spark.{JsonataAnalysis, JsonataCompiler, JsonataDF, RowJson}

/** One DataFrame transform of a Spark workload: its expression, the
  * `JsonataDF` surface that builds a batch query from an input and the
  * expression text, and the reference view of each event's output (`None`
  * drops the record). Views map output keys to values; a key whose value is
  * null or absent is left out. */
final case class Transform(label: String, expr: String, outSchema: Option[StructType],
    surface: (DataFrame, String) => DataFrame, view: Row => Option[(Long, Map[String, Any])],
    expected: Event => Option[Map[String, Any]])

/** `df_interpreted` and `df_compiled`: `local[nproc / 2]` with
  * `GraftExtensions` on; the other half of the cores is left to the JIT, the
  * collector and the main thread, which plans each batch, so their bursts
  * do not stall a task. Fixed-size batches run in a closed loop; each batch
  * is a freshly built query over one cached input slice, written to a sink
  * that drops its rows (`CommitSink`), as a micro-batch re-plans.
  * `df_interpreted` uses expressions outside the compiled subset on three
  * surfaces (typed, JSON-string and permissive output); `df_compiled` runs
  * expressions inside the subset through `JsonataDF.auto`. */
final class DfWorkload(seed: Long, compiled: Boolean, out: java.io.File) extends Workload {
  import DfWorkload._

  private val cores = math.max(1, Runtime.getRuntime.availableProcessors / 2)
  private var spark: SparkSession = _

  private def startSession(): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("opbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.spark.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", new java.io.File(out, "spark-local").getAbsolutePath)
    // Spark's status store keeps up to 1,000 jobs and 100,000 tasks by
    // default; a low cap keeps live_heap_mb from growing with the number of
    // batches a run gets through
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .config("spark.ui.retainedTasks", "500")
    .config("spark.sql.ui.retainedExecutions", "50")
    .getOrCreate()

  private val transforms = if (compiled) Compiled else Interpreted
  private var events: Vector[Vector[Event]] = Vector.empty
  private var slices: Vector[DataFrame] = Vector.empty
  /** This set-up round's text of each transform's expression. */
  private var exprs: Vector[String] = Vector.empty
  private var tiers: Vector[Boolean] = Vector.empty

  def setup(round: Int): Unit = {
    val t0 = System.nanoTime()
    if (spark != null) spark.stop()
    spark = startSession()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    events = Data.events(seed, Slices * BatchRecords).grouped(BatchRecords).toVector
    def cached(es: Seq[Event]): DataFrame = {
      val rdd = spark.sparkContext.parallelize(es.map(Data.row), cores * TasksPerThread)
      val df = spark.createDataFrame(rdd, Data.SparkSchema).cache()
      df.count()
      df
    }
    slices = events.map(cached)
    val t2 = System.nanoTime()
    exprs = transforms.map(t => Workload.roundText(t.expr, round))
    tiers = exprs.map(e => JsonataCompiler.compileQuery(slices.head, e).isDefined)
    if (round == 1) transforms.zip(tiers).foreach { case (t, c) =>
      System.err.println(s"[opbench] tier ${t.label}: ${if (c) "compiled" else "interpreted"}")
    }
    val t3 = System.nanoTime()
    (0 until WarmupBatches).foreach(k => write(batchQuery(k)))
    CommitSink.drain((_, _) => ())
    val t4 = System.nanoTime()
    System.err.println(f"[opbench] set-up round $round: session ${(t1 - t0) / 1e9}%.2f s, " +
      f"inputs ${(t2 - t1) / 1e9}%.2f s, tiers ${(t3 - t2) / 1e9}%.2f s, warm-up ${(t4 - t3) / 1e9}%.2f s")
  }

  private def write(df: DataFrame): Unit =
    df.write.format(classOf[CommitSink].getName).mode("overwrite").save()

  private def build(i: Int, slice: DataFrame): DataFrame = transforms(i).surface(slice, exprs(i))

  /** Batch `k`: transforms rotate fastest, so each meets every slice. */
  private def batchQuery(k: Int): DataFrame =
    build(k % transforms.size, slices((k / transforms.size) % Slices))

  /** Batch number, unique across phases: it keys the listener's per-batch figures. */
  private var nextBatch = 0
  /** Whole-stage codegen compilations in the traced phases. */
  private var codegenCompiles = 0L
  // registered only while a traced phase runs; counts add up across phases
  private val exec = new ExecListener
  private val plans = new PlanListener

  def run(deadlineNs: Long, tracer: Option[Tracer]): Phase = {
    val p = new Phase(BatchRecords)
    val ids = tracer.map(t => (t.id("spark.batch"), t.id("spark.build"), t.id("spark.write")))
    if (tracer.isDefined) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(plans)
    }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = p.start()
    var now = t0
    while (now < deadlineNs) {
      val k = nextBatch
      nextBatch += 1
      for (t <- tracer; (batch, build, _) <- ids) {
        spark.sparkContext.setLocalProperty(BatchKey, k.toString)
        t.begin(batch, k); t.begin(build, k)
      }
      val df = batchQuery(k)
      for (t <- tracer; (_, _, write) <- ids) { t.end(); t.begin(write, k) }
      try write(df)
      catch {
        case e: Exception =>
          System.err.println(s"[opbench] batch $k failed: $e")
          p.failed += BatchRecords
      }
      tracer.foreach { t => t.end(); t.end() }
      val end = System.nanoTime()
      val start = now
      CommitSink.drain((at, rows) => p.latency.addN(p.adjust(at - start), rows))
      p.records += BatchRecords
      now = p.batchDone(end)
    }
    p.wallNs = now - t0
    if (tracer.isDefined) {
      codegenCompiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      Shims.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(exec)
      spark.listenerManager.unregister(plans)
    }
    p
  }

  def verify(): (Long, Long) = {
    var attempted = 0L
    var failed = 0L
    for ((t, c) <- transforms.zip(tiers) if c != compiled) {
      System.err.println(s"[opbench] ${t.label} runs in the wrong tier for this workload")
      failed += 1
    }
    for (s <- slices.indices; (t, i) <- transforms.zipWithIndex) {
      val got = build(i, slices(s)).collect().toSeq.map(t.view)
      failed += compare(events(s).map(e => t.expected(e).map(e.id -> _)), got, t.label)
      attempted += events(s).size
      if (compiled) {
        // the compiled tier must agree with the interpreter on every record
        val interp = JsonataDF.transform(slices(s), exprs(i)).collect().toSeq.map(jsonView)
        failed += compare(got, interp, s"${t.label} vs interpreter")
      }
    }
    (attempted, failed)
  }

  def layers(tracer: Tracer, traced: Phase): Map[String, Double] = {
    val batches = traced.batches.size.toDouble
    val records = traced.records.toDouble
    val replay = if (compiled) Map.empty[String, Double] else replayLayers(tracer)
    val taskCpu = exec.cpuNs / records
    val inInterpreter = Seq("spark.rowjson.encode.ns_per_record", "jsonata.eval.ns_per_record",
      "spark.rowjson.decode.ns_per_record", "jsonata.serialize.ns_per_record").map(replay.getOrElse(_, 0.0)).sum
    replay ++ tierLayers(tracer) ++ Map(
      "jsonata.parse.ns_per_expr" -> Workload.parseNsPerExpr(tracer, exprs),
      "spark.build.ms_per_batch" -> tracer.selfMeanNs("spark.build") / 1e6,
      "spark.codegen.compiles_per_batch" -> codegenCompiles / batches,
      "spark.plan.ms_per_batch" -> plans.planMs / math.max(1, plans.queries),
      "spark.exec.task_cpu_ns_per_record" -> taskCpu,
      "spark.exec.task_gc_ms" -> exec.gcMs / batches,
      "spark.exec.jobs_per_batch" -> exec.jobs / batches,
      "spark.exec.stages_per_batch" -> exec.stages / batches,
      "spark.exec.tasks_per_batch" -> exec.tasks / batches,
      "spark.exec.max_task_ms" -> exec.maxTaskMsPerBatch.values.sum / batches,
      "spark.boundary.ns_per_record" -> (taskCpu - inInterpreter))
  }

  /** Tier decision time: cold (a schema the memo has not seen) and memo hit. */
  private def tierLayers(tracer: Tracer): Map[String, Double] = {
    val (cold, memo) = (tracer.id("spark.tier.cold"), tracer.id("spark.tier.memo"))
    for (r <- 0 until TierReps) {
      val padded = slices.head.withColumn(s"tier_pad_${seed}_$r", lit(r))
      for (e <- exprs) {
        tracer.begin(cold, r)
        try JsonataCompiler.compileQuery(padded, e) finally tracer.end()
        tracer.begin(memo, r)
        try JsonataCompiler.compileQuery(slices.head, e) finally tracer.end()
      }
    }
    Map(
      "spark.tier.cold_ms_per_expr" -> tracer.selfMeanNs("spark.tier.cold") / 1e6,
      "spark.tier.memo_ms_per_expr" -> tracer.selfMeanNs("spark.tier.memo") / 1e6,
      "spark.tier.compiled_exprs" -> tiers.count(identity).toDouble,
      "spark.tier.exprs" -> tiers.size.toDouble)
  }

  /** The interpreted tier's per-record layers, replayed on the main thread
    * over slice 0 with the calls `JsonataRowExpression` and
    * `JsonataRowJsonExpression` make: `RowJson.rowToJson`,
    * `JsonataExpr.evaluate`, then `RowJson.jsonToRow` (typed output) or
    * `Values.jsonSerialize` (JSON output). Per input record. */
  private def replayLayers(tracer: Tracer): Map[String, Double] = {
    val Seq(record, encode, eval, decode, serialize) =
      Seq("replay.record", "spark.rowjson.encode", "jsonata.eval", "spark.rowjson.decode", "jsonata.serialize")
        .map(tracer.id)
    var replayed = 0L
    var errors = 0L
    var evalAlloc = 0L
    var bytes = 0L
    val shares = new WorkShare
    for ((t, i) <- transforms.zipWithIndex) {
      val expr = JsonataTransform.compile(exprs(i))
      val keep = JsonataAnalysis.referencedValueFields(expr.ast) match {
        case Some(names) => slices.head.columns.filter(names.contains)
        case None => slices.head.columns
      }
      val input = slices.head.select(struct(keep.map(col).toIndexedSeq: _*).as("v"))
      val schema = input.schema("v").dataType.asInstanceOf[StructType]
      val width = keep.length
      val idAt = keep.indexOf("id")
      val rows: Array[InternalRow] = input.queryExecution.toRdd.map(_.getStruct(0, width).copy()).collect()
      for (_ <- 0 until ReplayPasses; row <- rows) {
        val id = replayed
        val start = System.nanoTime()
        tracer.begin(record, id)
        tracer.begin(encode, id)
        val env = JsonNodeFactory.instance.objectNode()
        env.put("topic", "rows")
        env.put("kafkaPartition", 0)
        env.set[JsonNode]("value", RowJson.rowToJson(row, schema))
        tracer.end()
        val a0 = Jvm.threadAllocated()
        tracer.begin(eval, id)
        val result =
          try expr.evaluate(env, 5000L, 1000)
          catch { case _: JsonataException => errors += 1; env }
          finally tracer.end()
        evalAlloc += Jvm.threadAllocated() - a0
        if (result eq env) { // an error row keeps its envelope for the dead-letter output
          tracer.begin(serialize, id)
          bytes += Values.jsonSerialize(env, prettify = false).length
          tracer.end()
        } else if (result != null && !result.isNull) t.outSchema match {
          case Some(s) =>
            tracer.begin(decode, id)
            RowJson.jsonToRow(result, s)
            tracer.end()
          case None =>
            tracer.begin(serialize, id)
            bytes += Values.jsonSerialize(result, prettify = false).length
            tracer.end()
        }
        tracer.end()
        shares.add(events.head((row.getLong(idAt) - 1).toInt), System.nanoTime() - start)
        replayed += 1
      }
    }
    shares.report("replayed interpreter time")
    val n = replayed.toDouble
    Map(
      "spark.rowjson.encode.ns_per_record" -> tracer.selfTotalNs("spark.rowjson.encode") / n,
      "jsonata.eval.ns_per_record" -> tracer.selfTotalNs("jsonata.eval") / n,
      "jsonata.eval.alloc_bytes_per_record" -> evalAlloc / n,
      "jsonata.eval.errors" -> errors.toDouble,
      "spark.rowjson.decode.ns_per_record" -> tracer.selfTotalNs("spark.rowjson.decode") / n,
      "jsonata.serialize.ns_per_record" -> tracer.selfTotalNs("jsonata.serialize") / n,
      "jsonata.serialize.bytes_per_record" -> bytes / n)
  }

  def close(): Unit = spark.stop()
}

object DfWorkload {
  val Slices = 4
  /** Input records per batch. */
  val BatchRecords = 2048
  /** Partitions of a slice per task thread: a batch runs in several waves
    * of tasks, as Spark advises, so its records commit at several times. */
  val TasksPerThread = 2
  val WarmupBatches = 12
  val TierReps = 10
  val ReplayPasses = 2
  private val BatchKey = "opbench.batch"

  private val mapper = new ObjectMapper()

  /** The view of a JSON-string output row (`out` column). */
  def jsonView(r: Row): Option[(Long, Map[String, Any])] = jsonMap(r.getString(0))

  private def jsonMap(s: String): Option[(Long, Map[String, Any])] = {
    val n = mapper.readTree(s)
    val m = n.fields().asScala.filterNot(_.getValue.isNull).map(e => e.getKey -> scalar(e.getValue)).toMap
    Some(n.get("id").asLong() -> m)
  }

  private def scalar(n: JsonNode): Any =
    if (n.isNumber) n.decimalValue() else if (n.isBoolean) n.booleanValue() else n.asText()

  /** The view of a typed output row. */
  private def typedView(r: Row): Option[(Long, Map[String, Any])] = {
    val m = r.schema.fieldNames.zipWithIndex.collect {
      case (f, i) if !r.isNullAt(i) => f -> (r.get(i) match {
        case n: java.lang.Long => java.math.BigDecimal.valueOf(n)
        case n: java.lang.Integer => java.math.BigDecimal.valueOf(n.longValue)
        case other => other
      })
    }.toMap
    Some(r.getLong(0) -> m)
  }

  /** Counts records whose views differ: missing, extra, duplicated or
    * unequal (numbers compare by value). */
  def compare(expected: Seq[Option[(Long, Map[String, Any])]],
              actual: Seq[Option[(Long, Map[String, Any])]], label: String): Long = {
    val exp = expected.flatten.toMap
    val act = actual.flatten.groupBy(_._1)
    val dup = act.values.count(_.size > 1).toLong
    val bad = (exp.keySet ++ act.keySet).toSeq.sorted.filter { id =>
      (exp.get(id), act.get(id).map(_.head._2)) match {
        case (Some(a), Some(b)) => !sameView(a, b)
        case _ => true
      }
    }
    bad.take(3).foreach(id =>
      System.err.println(s"[opbench] $label mismatch at id $id: expected ${exp.get(id)}, got ${act.get(id).map(_.head._2)}"))
    bad.size + dup
  }

  private def sameView(a: Map[String, Any], b: Map[String, Any]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) =>
      (v, b(k)) match {
        case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
        case (x, y) => x == y
      }
    }

  private def dec(v: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(v)
  private def present(kv: (String, Any)*): Map[String, Any] = kv.filter(_._2 != null).toMap

  private val Total = "$sum($map(value.items, function($i) { $i.qty * $i.price }))"

  /** Outside the compiled subset (`$max`/`$join` over a path, `$substring`
    * of a timestamp, `$number`), one per output surface. */
  val Interpreted: Vector[Transform] = {
    val typedExpr = s"""value.event_type = 'error' ? null : {"id": value.id, "total": $Total,
      |  "top": $$max(value.items.price), "skus": $$join(value.items.sku, ",")}""".stripMargin
    val typedSchema = StructType.fromDDL("id BIGINT, total BIGINT, top BIGINT, skus STRING")
    val jsonExpr = """value.event_type = 'error' ? null : {"id": value.id,
      |  "who": value.first & " " & value.last, "email": value.email,
      |  "skus": $join($map(value.items, function($i) { $uppercase($i.sku) }), ","),
      |  "amount": value.amount, "day": $substring(value.ts, 0, 10)}""".stripMargin
    val permissiveExpr = """value.event_type = 'error' ? null : {"id": value.id,
      |  "code": $number(value.code) * 2, "n": $count(value.items)}""".stripMargin
    Vector(
      Transform("transformAs", typedExpr, Some(typedSchema),
        JsonataDF.transformAs(_, _, typedSchema), typedView,
        e => if (e.isError) None
             else Some(Map("id" -> dec(e.id), "total" -> dec(e.total), "top" -> dec(e.items.map(_.price).max),
               "skus" -> e.items.map(_.sku).mkString(",")))),
      Transform("transform", jsonExpr, None, JsonataDF.transform(_, _), jsonView,
        e => if (e.isError) None
             else Some(present("id" -> dec(e.id), "who" -> s"${e.first} ${e.last}", "email" -> e.email,
               "skus" -> e.items.map(_.sku.toUpperCase).mkString(","), "amount" -> e.amount,
               "day" -> java.time.Instant.ofEpochMilli(e.tsMillis).toString.take(10)))),
      Transform("transformPermissive", permissiveExpr, None, JsonataDF.transformPermissive(_, _),
        r => if (r.isNullAt(1)) jsonMap(r.getString(0))
             else Some(mapper.readTree(r.getString(2)).get("value").get("id").asLong() -> Map("error" -> true)),
        e => if (e.isError) None
             else if (e.isPoison) Some(Map("error" -> true))
             else Some(Map("id" -> dec(e.id), "code" -> dec(e.code.toLong * 2), "n" -> dec(e.items.size)))))
  }

  /** Inside the compiled subset, through `JsonataDF.auto`. */
  val Compiled: Vector[Transform] = {
    def auto(label: String, expr: String, ddl: String, expected: Event => Option[Map[String, Any]]) = {
      val schema = StructType.fromDDL(ddl)
      Transform(label, expr, Some(schema), JsonataDF.auto(_, _, schema), typedView, expected)
    }
    val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    Vector(
      auto("auto/sum", s"""value.event_type = 'error' ? null : {"id": value.id, "total": $Total,
        |  "n": $$count(value.items), "big": value.amount > 1000}""".stripMargin,
        "id BIGINT, total BIGINT, n BIGINT, big BOOLEAN",
        e => if (e.isError) None
             else Some(present("id" -> dec(e.id), "total" -> dec(e.total), "n" -> dec(e.items.size),
               "big" -> Option(e.amount).map(a => Boolean.box(a.compareTo(dec(1000)) > 0)).orNull))),
      auto("auto/filter", """{"id": value.id, "who": value.first & " " & value.last,
        |  "multi": $count($filter(value.items, function($i) { $i.qty > 2 }))}""".stripMargin,
        "id BIGINT, who STRING, multi BIGINT",
        e => Some(Map("id" -> dec(e.id), "who" -> s"${e.first} ${e.last}",
          "multi" -> dec(e.items.count(_.qty > 2))))),
      auto("auto/fromMillis", """value.event_type = 'error' ? null : {"id": value.id,
        |  "minute": $fromMillis(value.id * 60000), "kind": $uppercase(value.event_type)}""".stripMargin,
        "id BIGINT, minute STRING, kind STRING",
        e => if (e.isError) None
             else Some(Map("id" -> dec(e.id), "minute" -> iso.format(java.time.Instant.ofEpochMilli(e.id * 60000)),
               "kind" -> e.eventType.toUpperCase))))
  }
}

/** Job, stage and task counts, task CPU and GC time from the traced
  * batches; each job carries its batch number as a local property. Events
  * arrive on the one listener-bus thread. */
final class ExecListener extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  private val stageBatch = scala.collection.mutable.HashMap.empty[Int, String]
  val maxTaskMsPerBatch = scala.collection.mutable.HashMap.empty[String, Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs += 1
    val batch = Option(e.properties).map(_.getProperty("opbench.batch")).orNull
    if (batch != null) e.stageIds.foreach(stageBatch(_) = batch)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    if (e.taskMetrics != null) {
      cpuNs += e.taskMetrics.executorCpuTime
      gcMs += e.taskMetrics.jvmGCTime
    }
    stageBatch.get(e.stageId).foreach { batch =>
      val ms = e.taskInfo.duration.toDouble
      maxTaskMsPerBatch(batch) = math.max(ms, maxTaskMsPerBatch.getOrElse(batch, 0.0))
    }
  }
}

/** Analysis, optimization and planning time of each traced batch's write,
  * from the query's own planning tracker: the traced run times the plan the
  * untraced run builds, instead of planning a second time. */
final class PlanListener extends QueryExecutionListener {
  @volatile var planMs = 0.0
  @volatile var queries = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    queries += 1
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
