package opbench

import java.lang.management.ManagementFactory

/** What one timed phase did. `latency` holds one sample per record: one
  * `apply()` on `smt_records`; on the Spark workloads, from the start of the
  * record's batch to the commit of the task that wrote it (`CommitSink`).
  * `batches` holds one sample per batch: a poll of records on
  * `smt_records`, a query from build to sink completion on the Spark
  * workloads. Every duration is host-adjusted (`HostSpeed`): the phase
  * probes the host between batches and scales each batch's durations by the
  * latest host-speed factor. */
final class Phase(val batchRecords: Long) {
  var records = 0L
  var failed = 0L
  /** Unadjusted wall time of the phase, probes included. */
  var wallNs = 0L
  val latency = new Samples
  val batches = new Samples
  /** Process CPU time of each batch, all threads. */
  val batchCpu = new Samples
  /** Unadjusted time of each host probe. */
  val probes = new Samples

  private val recent = new Array[Long](3)
  private var factor = 1.0
  private var lastProbe = 0L
  private var batchStart = 0L
  private var cpuMark = 0L

  /** Probes the host and returns the time the first batch starts. */
  def start(): Long = { probe(); batchStart }

  /** A duration of `ns` at the reference host speed. */
  def adjust(ns: Long): Long = (ns * factor).round

  /** Closes the batch that ended at `now`, probing the host when a probe is
    * due, and returns the time the next batch starts: probes fall between
    * batches and count in no batch. */
  def batchDone(now: Long): Long = {
    val cpu = Jvm.processCpuNs()
    batches.add(adjust(now - batchStart))
    batchCpu.add(adjust(cpu - cpuMark))
    batchStart = now
    cpuMark = cpu
    if (now - lastProbe >= HostSpeed.EveryNs) probe()
    batchStart
  }

  /** The factor follows the median of the last three probes, so a probe
    * that a collection pause hits does not move it. */
  private def probe(): Unit = {
    val t = HostSpeed.probeNs()
    recent(probes.size % 3) = t
    probes.add(t)
    val last = recent.take(math.min(probes.size, 3)).sorted
    factor = HostSpeed.RefNs / last(last.length / 2)
    lastProbe = System.nanoTime()
    batchStart = lastProbe
    cpuMark = Jvm.processCpuNs()
  }

  /** Adds another phase's records, failures, time and samples. */
  def absorb(o: Phase): Unit = {
    records += o.records; failed += o.failed; wallNs += o.wallNs
    latency.addAll(o.latency); batches.addAll(o.batches); batchCpu.addAll(o.batchCpu)
    probes.addAll(o.probes)
  }

  /** Medians over `Windows` consecutive runs of batches: records per second
    * and process CPU ns per record. A median over windows keeps a burst of
    * JIT compilation or host load in one window from moving the figure. */
  def windowed(): (Double, Double) = {
    val w = math.min(Phase.Windows, batches.size)
    val per = (0 until w).map { i =>
      val (from, to) = (i * batches.size / w, (i + 1) * batches.size / w)
      val recs = (to - from) * batchRecords.toDouble
      (recs / (batches.sum(from, to) / 1e9), batchCpu.sum(from, to) / recs)
    }
    (Main.median(per.map(_._1)), Main.median(per.map(_._2)))
  }
}

object Phase {
  val Windows = 10
}

trait Workload {
  /** One set-up round, cold: start the session (Spark workloads), build the
    * inputs from the seed, parse the round's expressions and decide their
    * tiers, then warm up with a fixed count of records or batches. */
  def setup(round: Int): Unit
  /** A closed loop until `deadlineNs`; spans go to `tracer` when it is set. */
  def run(deadlineNs: Long, tracer: Option[Tracer]): Phase
  /** Every input through every transform, untimed, checked against the
    * plain-Scala reference: (records attempted, records failed). */
  def verify(): (Long, Long)
  /** Per-layer metrics of the traced run beyond the spans `run` recorded. */
  def layers(tracer: Tracer, traced: Phase): Map[String, Double]
  def close(): Unit
}

object Workload {
  val ParseReps = 200

  /** `expr` with a comment naming set-up round `round`: every round's text
    * is new to the expression cache and the tier memo, both keyed on the
    * source text, so each round parses and decides tiers cold. */
  def roundText(expr: String, round: Int): String = s"$expr\n/* set-up round $round */"

  /** Mean time of an uncached `Jsonata.compile` over `exprs`, in ns. */
  def parseNsPerExpr(tracer: Tracer, exprs: Seq[String]): Double = {
    val parse = tracer.id("jsonata.parse")
    for (r <- 0 until ParseReps; e <- exprs) {
      tracer.begin(parse, r)
      try graft.jsonata.Jsonata.compile(e) finally tracer.end()
    }
    tracer.selfMeanNs("jsonata.parse")
  }
}

/** `opbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <dir>`: set up, run one timed phase (with `--trace 1`, untraced
  * and traced quarters in turn), verify, and print the metrics as the last
  * line of standard output. */
object Main {
  val SetupRounds = 5

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "1/s", "cpu_ns_per_record" -> "ns",
    "alloc_bytes_per_record" -> "bytes", "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms",
    "batch_p50_ms" -> "ms", "batch_p90_ms" -> "ms", "live_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "jsonata.parse.ns_per_expr" -> "ns", "jsonata.eval.ns_per_record" -> "ns",
    "jsonata.eval.alloc_bytes_per_record" -> "bytes", "jsonata.eval.errors" -> "count",
    "jsonata.serialize.ns_per_record" -> "ns", "jsonata.serialize.bytes_per_record" -> "bytes",
    "connect.cache.ns_per_lookup" -> "ns", "connect.encode.ns_per_record" -> "ns",
    "connect.encode.nodes_per_record" -> "count", "connect.decode.ns_per_record" -> "ns",
    "spark.tier.cold_ms_per_expr" -> "ms", "spark.tier.memo_ms_per_expr" -> "ms",
    "spark.tier.compiled_exprs" -> "count", "spark.tier.exprs" -> "count",
    "spark.rowjson.encode.ns_per_record" -> "ns", "spark.rowjson.decode.ns_per_record" -> "ns",
    "spark.build.ms_per_batch" -> "ms", "spark.plan.ms_per_batch" -> "ms",
    "spark.codegen.compiles_per_batch" -> "count",
    "spark.exec.task_cpu_ns_per_record" -> "ns", "spark.exec.task_gc_ms" -> "ms",
    "spark.exec.jobs_per_batch" -> "count", "spark.exec.stages_per_batch" -> "count",
    "spark.exec.tasks_per_batch" -> "count", "spark.exec.max_task_ms" -> "ms",
    "spark.boundary.ns_per_record" -> "ns", "jvm.gc_ms" -> "ms", "trace.overhead_share" -> "share")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val out = new java.io.File(opts("out"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val w: Workload = name match {
      case "smt_records" => new SmtWorkload(seed)
      case "df_interpreted" => new DfWorkload(seed, compiled = false, out)
      case "df_compiled" => new DfWorkload(seed, compiled = true, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Round 1 counts from process start (JVM, class loading, first JIT);
    // later rounds redo the whole set-up cold in the warm JVM. The median is
    // reported, so a slow JVM start on one run does not move it. Each round
    // is host-adjusted by probes taken just before and after it.
    HostSpeed.warm()
    val rounds = (1 to SetupRounds).map { r =>
      val before = HostSpeed.settledNs()
      val t0 = System.nanoTime()
      w.setup(r)
      val s = if (r == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 else (System.nanoTime() - t0) / 1e9
      s * 2 * HostSpeed.RefNs / (before + HostSpeed.settledNs())
    }
    System.err.println(s"[opbench] setup rounds s: ${rounds.mkString(", ")}")

    val nanos = seconds * 1000000000L
    val (p, names, values) =
      if (!traced) {
        val classes0 = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
        val before = Jvm.snap()
        val p = w.run(System.nanoTime() + nanos, None)
        val d = Jvm.snap() - before
        val (perSecond, cpuPerRecord) = p.windowed()
        val values = Map(
          "setup_s" -> median(rounds),
          "records_per_s" -> perSecond,
          "cpu_ns_per_record" -> cpuPerRecord,
          "alloc_bytes_per_record" -> d.allocBytes.toDouble / p.records,
          "latency_p50_ms" -> p.latency.percentileMs(50), "latency_p99_ms" -> p.latency.percentileMs(99),
          "batch_p50_ms" -> p.batches.percentileMs(50), "batch_p90_ms" -> p.batches.percentileMs(90))
        println(s"# $name seed=$seed: ${p.records} records, ${p.latency.size} latency samples, " +
          s"${p.batches.size} batches in ${d.wallNs / 1e9} s")
        println(f"# host: ${p.probes.size} probes, median ${p.probes.percentileMs(50)}%.3f ms " +
          f"(reference ${HostSpeed.RefNs / 1e6}%.3f ms); unadjusted ${p.records / (d.wallNs / 1e9)}%.0f records/s " +
          "over the whole phase, probes included")
        println(s"# jvm: ${d.gcMs} ms in collections, ${d.jitMs} ms compiling in the timed phase, " +
          s"${ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount - classes0} classes loaded")
        // the sample buffers grow with the run's speed; they are not the workload's live data
        p.latency.clear(); p.batches.clear(); p.batchCpu.clear()
        val heap = Jvm.liveHeapMb()
        val v0 = System.nanoTime()
        val (att, fail) = w.verify()
        println(s"# verified $att records, $fail failed in ${(System.nanoTime() - v0) / 1e9} s")
        p.records += att; p.failed += fail
        (p, EndToEnd, values + ("live_heap_mb" -> heap))
      } else {
        // untraced and traced quarters alternate, so warm-up still going on
        // in the JIT does not read as tracing overhead
        val tracer = new Tracer()
        val plain = new Phase(0)
        val t = new Phase(0)
        var gcMs = 0L
        for (q <- 0 until 4) {
          if (q % 2 == 0) plain.absorb(w.run(System.nanoTime() + nanos / 4, None))
          else {
            val gc0 = Jvm.snap()
            t.absorb(w.run(System.nanoTime() + nanos / 4, Some(tracer)))
            gcMs += (Jvm.snap() - gc0).gcMs
          }
        }
        val layers = w.layers(tracer, t) ++ Map(
          "jvm.gc_ms" -> gcMs.toDouble,
          "trace.overhead_share" ->
            ((t.batches.sum(0, t.batches.size).toDouble / t.records) /
              (plain.batches.sum(0, plain.batches.size).toDouble / plain.records) - 1.0))
        tracer.write(new java.io.File(out, s"spans-$name.jsonl"))
        val (att, fail) = w.verify()
        val p = new Phase(0)
        p.records = plain.records + t.records + att
        p.failed = plain.failed + t.failed + fail
        println(s"# $name seed=$seed traced: ${t.records} records traced, ${plain.records} untraced; " +
          s"verified $att records, $fail failed")
        (p, PerLayer, layers)
      }
    w.close()
    val body = names.map { case (k, u) => s""""$k": {"value": ${num(values.getOrElse(k, 0.0))}, "unit": "$u"}""" }
    println(s"""{"correct": ${p.failed == 0}, "attempted": ${p.records}, "failed": ${p.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
