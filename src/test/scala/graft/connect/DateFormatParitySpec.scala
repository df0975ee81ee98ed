package graft.connect

import java.text.SimpleDateFormat
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** `CValues` keeps one `SimpleDateFormat` per pattern per thread; it must
  * format and parse exactly as a fresh UTC `SimpleDateFormat` does,
  * calendar edges and lenient input included, on one thread and on many. */
class DateFormatParitySpec extends AnyFunSuite {
  private val Day = Logical.MillisPerDay
  private val Date = "yyyy-MM-dd"
  private val Time = "HH:mm:ss.SSS'Z'"
  private val Timestamp = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  private def fresh(pattern: String): SimpleDateFormat = {
    val f = new SimpleDateFormat(pattern)
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f
  }

  private val millis: Seq[Long] = Seq(
    0L, 1L, 7200000L, Day - 1, // below one day
    Day, 365 * Day, 20000 * Day, // on a day boundary
    -1L, -Day, -Day - 1, -123456789L, // negative
    -12219292800000L - 1, -12219292800000L - 10 * Day, -30000000000000L, -62135596800000L, // before 1582
    253402300800000L, 253402300800000L + 1, 300000000000000L + 12345) // above year 9999

  /** (pattern of a fresh parser, string as given, string the parser sees) */
  private val strings: Seq[(String, String, String)] = Seq(
    "2020-13-45", "2020-02-30", "0000-00-00", "0001-01-01", "1582-10-10", "1500-06-15", "9999-12-31", "2024-01-01"
  ).map(s => (Date, s, s)) ++ Seq(
    "25:61:61.999Z", "23:59:59.999", "00:00:00.000Z", "99:99:99.999"
  ).map(s => (Time, s, if (s.endsWith("Z")) s else s + "Z")) ++ Seq(
    "2020-13-45T25:00:00.000Z", "1000-01-01T00:00:00.000", "1582-10-05T12:00:00.000Z",
    "9999-12-31T23:59:59.999Z", "2020-02-29T23:59:60.999"
  ).map(s => (Timestamp, s, if (s.endsWith("Z")) s else s + "Z"))

  /** Connect's pattern choice, except that an instant before 1970 is never
    * a time of day (it would not round-trip). */
  private def expectedFormat(t: Long): String =
    fresh(if (t >= 0 && t < Day) Time else if (t % Day == 0) Date else Timestamp)
      .format(new java.util.Date(t))

  private def check(): Unit = {
    millis.foreach(t => assert(CValues.formatDate(new java.util.Date(t)) == expectedFormat(t), s"format $t"))
    strings.foreach { case (pattern, s, parsed) =>
      assert(CValues.parseDateString(s).getTime == fresh(pattern).parse(parsed).getTime, s"parse $s")
    }
  }

  test("format and parse match a fresh UTC SimpleDateFormat") {
    check()
    check()
    assert(CValues.parseDateString("2020-1x-01") == null)
    assert(CValues.formatDate(new java.util.Date(253402300800000L)) == "10000-01-01")
  }

  test("8 threads format and parse as a fresh SimpleDateFormat does") {
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val futures = (0 until 8).map(_ => pool.submit(new Callable[Unit] {
        def call(): Unit = { start.await(); (0 until 200).foreach(_ => check()) }
      }))
      start.countDown()
      futures.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }
}
