package opbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** A growable array of longs (nanosecond samples), without boxing. */
final class Samples {
  private var a = new Array[Long](1 << 12)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, math.max(16, n * 2))
    a(n) = v
    n += 1
  }
  /** Adds `v` `times` times: one sample per record of a task that wrote `times` records. */
  def addN(v: Long, times: Long): Unit = { var i = 0L; while (i < times) { add(v); i += 1 } }
  def size: Int = n
  def clear(): Unit = { a = new Array[Long](0); n = 0 }
  def addAll(o: Samples): Unit = { var i = 0; while (i < o.n) { add(o.a(i)); i += 1 } }
  def sum(from: Int, to: Int): Long = { var s = 0L; var i = from; while (i < to) { s += a(i); i += 1 }; s }

  /** Percentile `p` (0-100) by linear interpolation, in milliseconds. */
  def percentileMs(p: Double): Double = {
    if (n == 0) return 0.0
    val s = java.util.Arrays.copyOf(a, n)
    java.util.Arrays.sort(s)
    val pos = p / 100.0 * (n - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, n - 1)
    (s(lo) + (s(hi) - s(lo)) * (pos - lo)) / 1e6
  }
}

/** Process-wide counters read at the edges of a timed phase. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  final case class Snap(wallNs: Long, allocBytes: Long, gcMs: Long, jitMs: Long) {
    def -(o: Snap): Snap = Snap(wallNs - o.wallNs, allocBytes - o.allocBytes, gcMs - o.gcMs, jitMs - o.jitMs)
  }

  def snap(): Snap = Snap(System.nanoTime(), threads.getTotalThreadAllocatedBytes,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  def processCpuNs(): Long = os.getProcessCpuTime

  def threadAllocated(): Long = threads.getCurrentThreadAllocatedBytes

  /** Heap in use after full collections, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** In-memory spans for the traced run: name, start, end, parent and the
  * record or batch id. Spans nest on one thread; a span's self time is its
  * duration minus the time its children cover. Aggregates cover every span;
  * the first `keep` spans are also stored and written out at exit. */
final class Tracer(keep: Int = 100000) {
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]
  private val nameIds = scala.collection.mutable.HashMap.empty[String, Int]
  private var count = new Array[Long](16)
  private var totalNs = new Array[Long](16)
  private var selfNs = new Array[Long](16)

  // open spans
  private val openName = new Array[Int](64)
  private val openStart = new Array[Long](64)
  private val openChild = new Array[Long](64)
  private val openIndex = new Array[Int](64)
  private var depth = 0

  // stored spans
  private val sName = new Array[Int](keep)
  private val sStart = new Array[Long](keep)
  private val sEnd = new Array[Long](keep)
  private val sParent = new Array[Int](keep)
  private val sId = new Array[Long](keep)
  private var stored = 0
  private var seen = 0L

  /** The id of span name `name`; look it up once, outside hot loops. */
  def id(name: String): Int = nameIds.getOrElseUpdate(name, {
    names += name
    if (names.size > count.length) {
      count = java.util.Arrays.copyOf(count, count.length * 2)
      totalNs = java.util.Arrays.copyOf(totalNs, totalNs.length * 2)
      selfNs = java.util.Arrays.copyOf(selfNs, selfNs.length * 2)
    }
    names.size - 1
  })

  def begin(name: Int, recordId: Long): Unit = {
    val idx = if (stored < keep) { val i = stored; stored += 1; sName(i) = name; sId(i) = recordId
      sParent(i) = if (depth > 0) openIndex(depth - 1) else -1; i } else -1
    seen += 1
    openName(depth) = name; openChild(depth) = 0L; openIndex(depth) = idx
    depth += 1
    openStart(depth - 1) = System.nanoTime()
  }

  def end(): Unit = {
    val t = System.nanoTime()
    depth -= 1
    val d = t - openStart(depth)
    val n = openName(depth)
    count(n) += 1; totalNs(n) += d; selfNs(n) += d - openChild(depth)
    if (depth > 0) openChild(depth - 1) += d
    val idx = openIndex(depth)
    if (idx >= 0) { sStart(idx) = openStart(depth); sEnd(idx) = t }
  }

  def calls(name: String): Long = nameIds.get(name).map(count(_)).getOrElse(0L)
  def selfTotalNs(name: String): Long = nameIds.get(name).map(selfNs(_)).getOrElse(0L)
  /** Mean self time per span of `name`, in ns (0 when there were none). */
  def selfMeanNs(name: String): Double = {
    val c = calls(name)
    if (c == 0) 0.0 else selfTotalNs(name).toDouble / c
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(new java.io.FileWriter(file)))
    try {
      w.println(s"""{"spans_seen":$seen,"spans_written":$stored}""")
      var i = 0
      while (i < stored) {
        w.println(s"""{"i":$i,"name":"${names(sName(i))}","start":${sStart(i)},"end":${sEnd(i)},"parent":${sParent(i)},"id":${sId(i)}}""")
        i += 1
      }
      w.println("""{"summary":[""" + names.indices.map(n =>
        s"""{"name":"${names(n)}","count":${count(n)},"total_ns":${totalNs(n)},"self_ns":${selfNs(n)}}""")
        .mkString(",") + "]}")
    } finally w.close()
  }
}

/** How much of the timed work each traffic class carries. The traffic
  * shares in `Data.events` are assumptions, so the traced run reports, for
  * each class, its share of records and its share of the time measured per
  * record, to show how far each assumption drives the figures. */
final class WorkShare {
  private val ns = new Array[Long](Data.Classes.size)
  private val n = new Array[Long](Data.Classes.size)
  private var allNs = 0L
  private var all = 0L

  def add(e: Event, t: Long): Unit = {
    all += 1; allNs += t
    var i = 0
    while (i < ns.length) {
      if (Data.Classes(i)._2(e)) { n(i) += 1; ns(i) += t }
      i += 1
    }
  }

  /** One `#` line per class on standard output. */
  def report(what: String): Unit = if (all > 0) Data.Classes.indices.foreach { i =>
    println(f"# traffic class ${Data.Classes(i)._1}: ${100.0 * n(i) / all}%.1f%% of records, " +
      f"${100.0 * ns(i) / allNs}%.1f%% of $what")
  }
}

/** Host speed. The shared machines the benchmark runs on change speed by
  * 10-40% from one second to the next as other tenants load them, and
  * process CPU time moves with wall time, so neither can tell a slower
  * program from a busier host. A fixed kernel, timed between batches, tracks
  * the host's speed: each timing metric is scaled by `RefNs` over the
  * kernel's recent time, which gives it at the reference speed. `RefNs` is
  * about the kernel's median time on the 4-vCPU VM where the benchmark was
  * written; it only sets the scale, since two commits are compared on one
  * host. The kernel builds and probes a string-keyed hash map: allocation,
  * hashing and pointer chasing, as in the operator's JSON trees. */
object HostSpeed {
  val RefNs = 3.0e6
  /** Time between probes in a timed phase: a probe costs about 3% of it. */
  val EveryNs = 100000000L
  @volatile private var sink = 0L

  /** Time of one run of the kernel, in ns. */
  def probeNs(): Long = {
    val t0 = System.nanoTime()
    var acc = 0L
    var r = 0
    while (r < 20) {
      val m = new java.util.HashMap[String, Integer]()
      var j = 0
      while (j < 2000) { m.put("k" + j, j); j += 1 }
      j = 0
      while (j < 2000) { acc += m.get("k" + (j * 7) % 2000).intValue; j += 1 }
      r += 1
    }
    sink += acc
    System.nanoTime() - t0
  }

  /** Compiles the kernel before its times are used. */
  def warm(): Unit = for (_ <- 0 until 40) probeNs()

  /** Median of three probes, in ns. */
  def settledNs(): Double = Seq(probeNs(), probeNs(), probeNs()).sorted.apply(1).toDouble
}
