package graft.connect

import java.lang.management.ManagementFactory

/** CPU and allocation per `JsonataTransform.apply` under three kinds of
  * schema traffic, on one thread, for the codec's schema memo:
  *  - `one`: every record carries the same schema instances (the
  *    `smt_records` benchmark's traffic);
  *  - `rotate`: records cycle through 150 distinct value schemas, more than
  *    the memo holds, so with least-recently-used eviction every lookup
  *    misses (CDC over many tables, say);
  *  - `fresh`: every record carries its own freshly built schema tree, equal
  *    to every other record's (a source that rebuilds schemas per record).
  * Each apply runs one of the three `smt_records` configs on its own record;
  * records are built before each timed round, outside the timing.
  *
  *   sbt "Test/runMain graft.connect.CodecTrafficBench one rotate fresh"
  *
  * prints one line per traffic kind: the median and quartiles over the
  * timed rounds of thread CPU ns and allocated bytes per apply. */
object CodecTrafficBench {
  import CodecFixtures._

  private val Records = 6000
  private val Tables = 150
  private val WarmupRounds = 15
  private val TimedRounds = 15

  private def rebuild(s: CSchema): CSchema =
    if (s == null) null
    else s.copy(keySchema = rebuild(s.keySchema), valueSchema = rebuild(s.valueSchema),
      fields = if (s.fields == null) null else s.fields.map(f => f.copy(schema = rebuild(f.schema))))

  private def records(kind: String): Array[CRecord] = {
    lazy val tables = Array.tabulate(Tables)(t => ValueSchema.copy(name = s"table$t"))
    Array.tabulate(Records) { i =>
      kind match {
        case "one" => smtRecord(i)
        case "rotate" => smtRecord(i, tables(i % Tables))
        case "fresh" =>
          val r = smtRecord(i, rebuild(ValueSchema))
          r.copy(keySchema = rebuild(r.keySchema), headers = r.headers.map(h => h.copy(schema = rebuild(h.schema))))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val configs = smtExprs.map(JsonataTransform.Config(_)).toArray
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread.getId
    for (kind <- args) {
      val ns, bytes = new Array[Double](TimedRounds)
      for (round <- 0 until WarmupRounds + TimedRounds) {
        val rs = records(kind)
        val cpu0 = threads.getCurrentThreadCpuTime
        val alloc0 = threads.getThreadAllocatedBytes(id)
        var i = 0
        while (i < rs.length) { JsonataTransform.apply(rs(i), configs(i % configs.length)); i += 1 }
        val t = round - WarmupRounds
        if (t >= 0) {
          ns(t) = (threads.getCurrentThreadCpuTime - cpu0).toDouble / rs.length
          bytes(t) = (threads.getThreadAllocatedBytes(id) - alloc0).toDouble / rs.length
        }
      }
      def q(xs: Array[Double]): String = {
        val s = xs.sorted
        f"${s(s.length / 2)}%.0f [${s(s.length / 4)}%.0f, ${s(s.length * 3 / 4)}%.0f]"
      }
      println(s"$kind: cpu_ns_per_apply ${q(ns)} alloc_bytes_per_apply ${q(bytes)}")
    }
  }
}
