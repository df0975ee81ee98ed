package graft.jsonata

import java.time._
import java.time.format.DateTimeFormatter

/** XPath F&O date/time picture formatting for $fromMillis/$toMillis/$now
  * (spec: jsonata.org date/time functions; picture syntax from XPath 3.1 F&O
  * §9.8.4). Covers the numeric/name components in common use; exotic
  * calendars/eras are out of scope. */
object DateTimeFmt {

  private val MonthNames = Array("January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December")
  private val DayNames = Array("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
    "Saturday", "Sunday")

  /** Fixed-offset seconds for a timezone argument, when it resolves to a
    * CONSTANT offset (literal `[+-]HHMM`, `UTC`, `Z`, fixed-offset ids) —
    * None for DST-bearing named zones (Europe/Paris) and invalid ids. Used
    * by the compiled tier to shift millis statically; anything non-constant
    * stays on the interpreter (where ZoneId.of's error is preserved). */
  private[graft] def staticOffsetSeconds(tz: String): Option[Int] =
    try zone(Some(tz)).normalized() match {
      case off: ZoneOffset => Some(off.getTotalSeconds)
      case _ => None
    } catch { case _: Exception => None }

  private def zone(tz: Option[String]): ZoneId = tz match {
    case None => ZoneOffset.UTC
    case Some(s) =>
      val t = s.trim
      if (t.matches("[+-]\\d{4}"))
        ZoneOffset.ofHoursMinutes(
          t.substring(0, 3).toInt,
          (if (t.startsWith("-")) -1 else 1) * t.substring(3).toInt)
      else ZoneId.of(t)
  }

  def format(millis: Long, picture: Option[String], tz: Option[String]): String = {
    val zdt = Instant.ofEpochMilli(millis).atZone(zone(tz))
    picture match {
      case None =>
        // ISO 8601 with millisecond precision, offset or Z
        val base = zdt.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS"))
        val off = zdt.getOffset
        base + (if (off == ZoneOffset.UTC) "Z" else off.getId)
      case Some(pic) => formatPicture(zdt, pic)
    }
  }

  private[graft] final case class Marker(comp: Char, mod: String)

  /** Split a picture into literal chunks and [..] markers; ]] escapes ]. */
  private[graft] def tokens(pic: String): Seq[Either[String, Marker]] = {
    val out = scala.collection.mutable.ArrayBuffer[Either[String, Marker]]()
    val sb = new StringBuilder
    var i = 0
    while (i < pic.length) {
      val c = pic.charAt(i)
      if (c == '[') {
        if (i + 1 < pic.length && pic.charAt(i + 1) == '[') { sb.append('['); i += 2 }
        else {
          if (sb.nonEmpty) { out += Left(sb.toString); sb.clear() }
          val end = pic.indexOf(']', i)
          if (end < 0) throw new JsonataException("D3135", "unterminated [ in datetime picture")
          val body = pic.substring(i + 1, end).filterNot(_.isWhitespace)
          if (body.isEmpty) throw new JsonataException("D3135", "empty marker in datetime picture")
          out += Right(Marker(body.charAt(0), body.substring(1)))
          i = end + 1
        }
      } else if (c == ']') {
        if (i + 1 < pic.length && pic.charAt(i + 1) == ']') { sb.append(']'); i += 2 }
        else { sb.append(']'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    if (sb.nonEmpty) out += Left(sb.toString)
    out.toSeq
  }

  /** Width from a digit-pattern modifier like "0001" / "01" / "#1"; 0 = no pad. */
  private[graft] def padWidth(mod: String): Int = {
    val core = mod.takeWhile(ch => ch.isDigit || ch == '#')
    if (core.length > 1 || core.count(_ == '0') > 0) core.length else 0
  }

  private def fmtNum(v: Long, mod: String): String = {
    val m = mod.split(',')(0) // ignore width range spec after comma
    if (m.contains("o")) return v.toString + ordinalSuffix(v) // e.g. [D1o]
    m match {
      case "" | "1" | "#1" => v.toString
      case "w" => IntegerFmt.toWords(v)
      case "W" => IntegerFmt.toWords(v).toUpperCase
      case "Ww" => IntegerFmt.toWords(v).split(' ').map(_.capitalize).mkString(" ")
      case "i" => IntegerFmt.toRoman(v).toLowerCase
      case "I" => IntegerFmt.toRoman(v)
      case "a" => IntegerFmt.toAlpha(v).toLowerCase
      case "A" => IntegerFmt.toAlpha(v)
      case _ =>
        val w = padWidth(m)
        if (w > 0) {
          val s = v.toString
          if (s.length >= w) s else ("0" * (w - s.length)) + s
        } else v.toString
    }
  }

  private def ordinalSuffix(n: Long): String = {
    val mod100 = n % 100
    if (mod100 >= 11 && mod100 <= 13) "th"
    else (n % 10) match { case 1 => "st"; case 2 => "nd"; case 3 => "rd"; case _ => "th" }
  }

  private def fmtName(name: String, mod: String): String = {
    val parts = mod.split(',')
    val style = parts(0)
    val maxW = if (parts.length > 1) {
      val range = parts(1).split('-')
      try Some(range.last.toInt) catch { case _: NumberFormatException => None }
    } else None
    val base = style match {
      case "N" => name.toUpperCase
      case "n" => name.toLowerCase
      case _ => name // "Nn" or default: title case
    }
    maxW.map(w => base.take(w)).getOrElse(base)
  }

  private def formatPicture(zdt: ZonedDateTime, pic: String): String = {
    val sb = new StringBuilder
    tokens(pic).foreach {
      case Left(lit) => sb.append(lit)
      case Right(Marker(comp, mod)) =>
        comp match {
          case 'Y' => sb.append(fmtNum(zdt.getYear.toLong, if (mod.isEmpty) "1" else mod))
          case 'M' =>
            if (mod.startsWith("N") || mod.startsWith("n"))
              sb.append(fmtName(MonthNames(zdt.getMonthValue - 1), mod))
            else sb.append(fmtNum(zdt.getMonthValue.toLong, mod))
          case 'D' => sb.append(fmtNum(zdt.getDayOfMonth.toLong, mod))
          case 'd' => sb.append(fmtNum(zdt.getDayOfYear.toLong, mod))
          case 'F' =>
            if (mod.isEmpty || mod.startsWith("N") || mod.startsWith("n"))
              sb.append(fmtName(DayNames(zdt.getDayOfWeek.getValue - 1), if (mod.isEmpty) "Nn" else mod))
            else sb.append(fmtNum(zdt.getDayOfWeek.getValue.toLong, mod))
          case 'W' => sb.append(fmtNum(zdt.get(java.time.temporal.WeekFields.ISO.weekOfWeekBasedYear()).toLong, mod))
          case 'w' => sb.append(fmtNum(zdt.get(java.time.temporal.WeekFields.ISO.weekOfMonth()).toLong, mod))
          case 'H' => sb.append(fmtNum(zdt.getHour.toLong, mod))
          case 'h' =>
            val h12 = { val h = zdt.getHour % 12; if (h == 0) 12 else h }
            sb.append(fmtNum(h12.toLong, mod))
          case 'P' =>
            val ap = if (zdt.getHour < 12) "am" else "pm"
            sb.append(if (mod.startsWith("N") && !mod.startsWith("Nn")) ap.toUpperCase else ap)
          case 'm' => sb.append(fmtNum(zdt.getMinute.toLong, if (mod.isEmpty) "01" else mod))
          case 's' => sb.append(fmtNum(zdt.getSecond.toLong, if (mod.isEmpty) "01" else mod))
          case 'f' =>
            val w = math.max(1, padWidth(if (mod.isEmpty) "1" else mod))
            val frac = zdt.getNano / 1000000 // millis
            val s3 = f"$frac%03d"
            sb.append(if (w <= 3) s3.take(w) else s3 + ("0" * (w - 3)))
          case 'Z' | 'z' =>
            val off = zdt.getOffset
            val total = off.getTotalSeconds
            val sign = if (total < 0) "-" else "+"
            val hh = math.abs(total) / 3600
            val mm = (math.abs(total) % 3600) / 60
            val body =
              if (mod.contains(":")) f"$sign$hh%02d:$mm%02d"
              else if (mod == "0" || mod == "#0") { if (mm == 0) f"$sign$hh%d" else f"$sign$hh%d$mm%02d" }
              else f"$sign$hh%02d$mm%02d"
            if (comp == 'z') sb.append("GMT").append(body)
            else if (total == 0 && mod.endsWith("t")) sb.append("Z")
            else sb.append(body)
          case 'C' | 'E' => // calendar/era: fixed values
            sb.append(if (comp == 'C') "ISO" else "ISO")
          case other => throw new JsonataException("D3132", s"unknown datetime component [$other]")
        }
    }
    sb.toString
  }

  // ------------------------------------------------------------------
  // parsing ($toMillis)
  // ------------------------------------------------------------------

  def parse(s: String, picture: Option[String]): Long = picture match {
    case None => parseIso(s)
    case Some(pic) => parsePicture(s, pic)
  }

  private def parseIso(s: String): Long = {
    val t = s.trim
    try {
      if (t.matches("\\d{4}")) LocalDate.of(t.toInt, 1, 1).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
      else if (t.matches("\\d{4}-\\d{2}")) LocalDate.parse(t + "-01").atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
      else if (t.matches("\\d{4}-\\d{2}-\\d{2}")) LocalDate.parse(t).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
      else if (t.endsWith("Z") || t.matches(".*[+-]\\d{2}:\\d{2}$"))
        OffsetDateTime.parse(t).toInstant.toEpochMilli
      else LocalDateTime.parse(t).atZone(ZoneOffset.UTC).toInstant.toEpochMilli
    } catch {
      case e: Exception => throw new JsonataException("D3110", s"unable to parse datetime '$s': ${e.getMessage}")
    }
  }

  /** The anchored regex that parses a `pic` picture, one capture group per
    * marker, and the marker of each group in group order. */
  private[graft] def pictureRegex(pic: String): (String, Seq[Marker]) = {
    val toks = tokens(pic)
    val re = toks.map {
      case Left(lit) => java.util.regex.Pattern.quote(lit)
      case Right(Marker(comp, mod)) => comp match {
        case 'P' => "([AaPp][Mm])"
        case 'M' if mod.startsWith("N") || mod.startsWith("n") => "([A-Za-z]+)"
        case 'F' => "([A-Za-z]+)"
        case 'Z' | 'z' => "(Z|[+-]\\d{2}:?\\d{2})"
        case _ =>
          val w = padWidth(mod.split(',')(0))
          if (w > 0) s"(\\d{1,$w})" else "(\\d+)"
      }
    }
    (re.mkString("^", "", "$"), toks.collect { case Right(mk) => mk })
  }

  private def parsePicture(s: String, pic: String): Long = {
    val (re, markers) = pictureRegex(pic)
    val m = java.util.regex.Pattern.compile(re).matcher(s.trim)
    if (!m.matches()) throw new JsonataException("D3136", s"'$s' does not match picture '$pic'")
    var year = 1970; var month = 1; var day = 1; var hour = 0; var minute = 0; var second = 0; var milli = 0
    var pm = false; var h12 = -1; var dayOfYear = -1
    var offset: ZoneOffset = ZoneOffset.UTC
    markers.zipWithIndex.foreach { case (mk, i) =>
      val g = m.group(i + 1)
      mk.comp match {
        case 'Y' => year = g.toInt
        case 'M' => month = if (g.forall(_.isDigit)) g.toInt
          else MonthNames.indexWhere(_.toLowerCase.startsWith(g.toLowerCase)) + 1
        case 'D' => day = g.toInt
        case 'd' => dayOfYear = g.toInt
        case 'H' => hour = g.toInt
        case 'h' => h12 = g.toInt
        case 'P' => pm = g.toLowerCase.startsWith("p")
        case 'm' => minute = g.toInt
        case 's' => second = g.toInt
        case 'f' => milli = (g + "00").take(3).toInt
        case 'Z' | 'z' => offset = if (g == "Z") ZoneOffset.UTC else ZoneOffset.of(if (g.contains(":")) g else g.take(3) + ":" + g.drop(3))
        case 'F' => // day name: informational only
        case _ =>
      }
    }
    if (h12 >= 0) hour = (h12 % 12) + (if (pm) 12 else 0)
    if (dayOfYear > 0) {
      // [d] day-of-year overrides month/day (mirrors the formatting side)
      val d0 = java.time.LocalDate.ofYearDay(year, dayOfYear)
      month = d0.getMonthValue; day = d0.getDayOfMonth
    }
    ZonedDateTime.of(year, month, day, hour, minute, second, milli * 1000000, offset)
      .toInstant.toEpochMilli
  }
}

/** $formatInteger / $parseInteger pictures: decimal padding, words, roman,
  * alphabetic (XPath F&O §4.6.1 subset). */
object IntegerFmt {

  private val ones = Array("zero", "one", "two", "three", "four", "five", "six", "seven",
    "eight", "nine", "ten", "eleven", "twelve", "thirteen", "fourteen", "fifteen",
    "sixteen", "seventeen", "eighteen", "nineteen")
  private val tens = Array("", "", "twenty", "thirty", "forty", "fifty", "sixty",
    "seventy", "eighty", "ninety")
  private val scales = Seq(1000000000000L -> "trillion", 1000000000L -> "billion",
    1000000L -> "million", 1000L -> "thousand", 100L -> "hundred")

  def toWords(n0: Long): String =
    if (n0 == Long.MinValue)
      // -Long.MinValue == Long.MinValue: negation would recurse forever
      throw new JsonataException("D3130", "integer out of range for word formatting")
    else if (n0 < 0) "minus " + toWords(-n0)
    else lookup(n0, prev = false)

  /** Mirrors jsonata-js datetime.js `lookup(num, prev, ord)` separators: a
    * remainder under 100 joins with " and ", a remainder of 100+ joins with
    * ", " — recursively at every magnitude ("one million, two hundred and
    * thirty-four thousand, five hundred and sixty-seven"). */
  private def lookup(num: Long, prev: Boolean): String = {
    if (num <= 19) (if (prev) " and " else "") + ones(num.toInt)
    else if (num < 100) {
      val base = (if (prev) " and " else "") + tens((num / 10).toInt)
      val rem = num % 10
      if (rem > 0) s"$base-${ones(rem.toInt)}" else base
    } else scales.find(num >= _._1) match {
      case Some((scale, word)) =>
        val head = (if (prev) ", " else "") + lookup(num / scale, prev = false) + " " + word
        val rem = num % scale
        if (rem > 0) head + lookup(rem, prev = true) else head
      case None => ones(0)
    }
  }

  private val romanPairs = Seq(1000 -> "M", 900 -> "CM", 500 -> "D", 400 -> "CD",
    100 -> "C", 90 -> "XC", 50 -> "L", 40 -> "XL", 10 -> "X", 9 -> "IX",
    5 -> "V", 4 -> "IV", 1 -> "I")

  def toRoman(n0: Long): String = {
    var n = n0; val sb = new StringBuilder
    romanPairs.foreach { case (v, sym) => while (n >= v) { sb.append(sym); n -= v } }
    sb.toString
  }

  def fromRoman(s: String): Long = {
    val vals = Map('I' -> 1L, 'V' -> 5L, 'X' -> 10L, 'L' -> 50L, 'C' -> 100L, 'D' -> 500L, 'M' -> 1000L)
    val u = s.toUpperCase
    var total = 0L
    u.zipWithIndex.foreach { case (c, i) =>
      val v = vals.getOrElse(c, throw new JsonataException("D3137", s"invalid roman numeral '$s'"))
      if (i + 1 < u.length && vals.getOrElse(u.charAt(i + 1), 0L) > v) total -= v else total += v
    }
    total
  }

  /** Excel-style alphabetic: 1=A, 26=Z, 27=AA... */
  def toAlpha(n0: Long): String = {
    var n = n0; val sb = new StringBuilder
    while (n > 0) {
      val r = ((n - 1) % 26).toInt
      sb.insert(0, ('A' + r).toChar)
      n = (n - 1) / 26
    }
    sb.toString
  }

  def fromAlpha(s: String): Long = s.toUpperCase.foldLeft(0L)((acc, c) => acc * 26 + (c - 'A' + 1))

  def format(n: Long, picture: String): String = {
    val (pic, ordinal) = if (picture.endsWith(";o")) (picture.dropRight(2), true) else (picture, false)
    val base = pic match {
      case "w" => if (ordinal) toOrdinalWords(n) else toWords(n)
      case "W" => (if (ordinal) toOrdinalWords(n) else toWords(n)).toUpperCase
      case "Ww" => (if (ordinal) toOrdinalWords(n) else toWords(n)).split(' ').map(_.capitalize).mkString(" ")
      case "i" => toRoman(n).toLowerCase
      case "I" => toRoman(n)
      case "a" => toAlpha(n).toLowerCase
      case "A" => toAlpha(n)
      case _ if pic.forall(ch => ch.isDigit || ch == '#' || ch == ',') =>
        val width = pic.count(_ == '0') + pic.count(_.isDigit & false) // zeros define min width
        val minW = pic.filter(_ != ',').count(ch => ch == '0')
        val digits = math.abs(n).toString
        val padded = if (digits.length >= minW) digits else ("0" * (minW - digits.length)) + digits
        val grouped = if (pic.contains(',')) padded.reverse.grouped(3).mkString(",").reverse else padded
        val signed = (if (n < 0) "-" else "") + grouped
        if (ordinal) signed + ordSuffix(n) else signed
      case other => throw new JsonataException("D3130", s"unsupported integer picture '$other'")
    }
    base
  }

  private def ordSuffix(n: Long): String = {
    val m = math.abs(n) % 100
    if (m >= 11 && m <= 13) "th"
    else (math.abs(n) % 10) match { case 1 => "st"; case 2 => "nd"; case 3 => "rd"; case _ => "th" }
  }

  private def toOrdinalWords(n: Long): String = {
    val w = toWords(n)
    val irregular = Map("one" -> "first", "two" -> "second", "three" -> "third",
      "five" -> "fifth", "eight" -> "eighth", "nine" -> "ninth", "twelve" -> "twelfth")
    val lastWord = w.split("[ -]").last
    irregular.get(lastWord) match {
      case Some(ord) => w.dropRight(lastWord.length) + ord
      case None =>
        if (lastWord.endsWith("y")) w.dropRight(1) + "ieth"
        else w + "th"
    }
  }

  def parse(s: String, picture: String): Long = {
    val pic = if (picture.endsWith(";o")) picture.dropRight(2) else picture
    pic match {
      case "w" | "W" | "Ww" => wordsToNumber(s.toLowerCase)
      case "i" | "I" => fromRoman(s)
      case "a" | "A" => fromAlpha(s)
      case _ => s.replaceAll("[^\\d-]", "").toLong
    }
  }

  private def wordsToNumber(s0: String): Long = {
    val s = s0.replace(",", " ").replace(" and ", " ").replace("-", " ")
      .replaceAll("(first|second|third|fifth|eighth|ninth|twelfth)$", "")
    val unitMap = ones.zipWithIndex.map { case (w, i) => w -> i.toLong }.toMap ++
      tens.zipWithIndex.collect { case (w, i) if w.nonEmpty => w -> (i * 10L) }
    val scaleMap = scales.map { case (v, w) => w -> v }.toMap
    var total = 0L; var current = 0L
    s.split("\\s+").filter(_.nonEmpty).foreach { w =>
      unitMap.get(w) match {
        case Some(v) => current += v
        case None => scaleMap.get(w) match {
          case Some(scale) =>
            if (scale == 100L) current *= 100
            else { total += current * scale; current = 0 }
          case None => // ignore unknown (ordinal remnants)
        }
      }
    }
    total + current
  }
}
