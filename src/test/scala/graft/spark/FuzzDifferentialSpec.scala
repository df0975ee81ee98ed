package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Seeded random-expression differential fuzz over the compiled tier: a
  * generator draws expressions from a grammar chosen to sit INSIDE the
  * compiled subset (paths over nullable columns, arithmetic without
  * error-domain corners, comparisons, and/or, ternary, string builtins,
  * array aggregates), and every generated expression must (a) compile and
  * (b) agree with the interpreter row-for-row on data that includes NULLs
  * — the undefined-propagation semantics where tier bugs would hide.
  * Complements DifferentialSpec's hand-picked cases with breadth: ~400
  * random shapes per run, deterministic seed so failures replay. */
/** Element type for the staged-path fuzz (top-level: Spark needs a
  * resolvable encoder). Nullable fields on purpose. */
case class FuzzItem(p: java.lang.Long, q: String)

/** The scalar-expression grammar, shared with JsonataRuleSpec's SQL-surface
  * fuzz (same shapes through `jsonata_typed` + the analyzer rule). */
private[spark] object FuzzGrammar {
  final class Gen(rnd: scala.util.Random) {
    // depth-bounded grammar; every production stays in the compiled subset
    def num(d: Int): String =
      if (d <= 0) rnd.nextInt(5) match {
        case 0 => "value.num_a"
        case 1 => "value.num_b"
        case 2 => rnd.nextInt(100).toString
        case 3 => s"${rnd.nextInt(50)}.${rnd.nextInt(9) + 1}"
        case _ => "value.num_a"
      }
      else rnd.nextInt(12) match {
        case 0 => s"(${num(d - 1)} + ${num(d - 1)})"
        case 1 => s"(${num(d - 1)} - ${num(d - 1)})"
        case 2 => s"(${num(d - 1)} * ${num(d - 1)})"
        case 3 => s"$$abs(${num(d - 1)})"
        case 4 => s"$$floor(${num(d - 1)})"
        case 5 => s"$$round(${num(d - 1)}, ${rnd.nextInt(3)})"
        case 6 => rnd.nextInt(3) match {
          case 0 => "$sum(value.arr)"
          case 1 => "$max(value.arr)"
          case _ => "$count(value.arr)"
        }
        case 7 => s"(${bool(0)} ? ${num(d - 1)} : ${num(d - 1)})"
        case 8 => rnd.nextInt(2) match {
          case 0 => s"$$count($$filter(value.arr, function($$v){ $$v > ${rnd.nextInt(4)} }))"
          case _ => s"$$sum($$map(value.arr, function($$v){ ($$v * ${rnd.nextInt(3) + 1}) }))"
        }
        case 9 =>
          s"$$reduce(value.arr, function($$a, $$v){ ($$a + ($$v * ${rnd.nextInt(3) + 1})) }, ${rnd.nextInt(5)})"
        case 10 => s"$$length(${str(d - 1)})"
        case _ => num(0)
      }

    def str(d: Int): String =
      if (d <= 0) rnd.nextInt(3) match {
        case 0 => "value.str_a"
        case 1 => "value.str_b"
        case _ => s"'${"abcxyz".charAt(rnd.nextInt(6))}'"
      }
      else rnd.nextInt(6) match {
        case 0 => s"$$uppercase(${str(d - 1)})"
        case 1 => s"$$lowercase(${str(d - 1)})"
        case 2 => s"$$substring(${str(d - 1)}, ${rnd.nextInt(3)}, ${rnd.nextInt(4) + 1})"
        case 3 => s"$$trim(${str(d - 1)})"
        case 4 =>
          val w = rnd.nextInt(6) + 1
          s"$$pad(${str(d - 1)}, ${if (rnd.nextBoolean()) w else -w})"
        case _ => s"(${str(d - 1)} & ${str(d - 1)})"
      }

    def bool(d: Int): String =
      if (d <= 0) {
        val op = Seq(">", "<", ">=", "<=", "=", "!=")(rnd.nextInt(6))
        if (rnd.nextBoolean()) s"(${num(1)} $op ${num(1)})"
        else s"(${str(1)} ${Seq("=", "!=")(rnd.nextInt(2))} ${str(1)})"
      }
      else rnd.nextInt(4) match {
        case 0 => s"(${bool(d - 1)} and ${bool(d - 1)})"
        case 1 => s"(${bool(d - 1)} or ${bool(d - 1)})"
        case 2 => s"(value.str_a in ['s0', 's${rnd.nextInt(3)}'])"
        case _ => bool(0)
      }

    /** (expression, DDL of the r column) */
    def top(): (String, String) = rnd.nextInt(4) match {
      case 0 => (s"{'k': value.k, 'r': ${num(2)}}", "k BIGINT, r DOUBLE")
      case 1 => (s"{'k': value.k, 'r': ${str(2)}}", "k BIGINT, r STRING")
      case 2 => (s"{'k': value.k, 'r': ${bool(2)}}", "k BIGINT, r BOOLEAN")
      case _ =>
        (s"${bool(1)} ? {'k': value.k, 'r': ${num(1)}}", "k BIGINT, r DOUBLE")
    }
  }

  /** The NULL-bearing row set every fuzz family shares. */
  def rows: Seq[(Long, java.lang.Double, java.lang.Long, String, String, Seq[Double])] =
    (1 to 60).map { i =>
      (i.toLong,
        if (i % 7 == 0) null else java.lang.Double.valueOf((i % 13) - 6.5),
        if (i % 5 == 0) null else java.lang.Long.valueOf((i % 17).toLong),
        if (i % 6 == 0) null else s"s${i % 4}",
        if (i % 9 == 0) null else ("x" * (i % 5)) + (i % 3),
        if (i % 8 == 0) null else Seq.tabulate(i % 4)(j => (j + i % 3).toDouble))
    }
}

class FuzzDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Exploratory knob: `-Dgraft.fuzz.seedOffset=N` shifts every family's
    * seed so a one-off run explores fresh shapes; 0 (the default) keeps the
    * recorded deterministic seeds so failures replay. */
  private val seedOff: Long =
    sys.props.getOrElse("graft.fuzz.seedOffset", "0").toLong

  /** Compile-rate floors are calibrated to the RECORDED seeds (they catch
    * grammar rot, not randomness): exploratory offsets check agreement only
    * — a different seed legitimately draws more out-of-subset shapes. */
  private def assertRate(actual: Int, floor: Int, msg: => String): Unit = {
    info(s"compiled: $actual (floor $floor)")
    if (seedOff == 0L) assert(actual >= floor, msg)
  }

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("400 seeded random expressions: all compile, all agree with the interpreter on NULL-bearing rows") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(20260814L + seedOff)
    // nullable everything (FuzzGrammar.rows): null numbers/strings/arrays
    // exercise undefined propagation through every operator in the grammar
    val df = FuzzGrammar.rows.toDF("k", "num_a", "num_b", "str_a", "str_b", "arr")

    val gen = new FuzzGrammar.Gen(rnd)
    var compiled = 0
    var skipped = 0
    (1 to 400).foreach { n =>
      val (expr, ddl) = gen.top()
      JsonataCompiler.transformCompiled(df, expr) match {
        case None => skipped += 1 // grammar corner outside the subset: fine,
        // but the rate is asserted below so the grammar cannot rot silently
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a.size == b.size,
            s"[fuzz #$n] row count: compiled=${a.size} interpreted=${b.size}\n  $expr")
          a.zip(b).foreach { case (ra, rb) =>
            val same = ra.zip(rb).forall {
              case (x: Double, y: Double) =>
                (x.isNaN && y.isNaN) || math.abs(x - y) <= math.abs(x).max(1.0) * 1e-12
              case (x, y) => x == y
            }
            assert(same, s"[fuzz #$n] $expr\n  compiled:    $ra\n  interpreted: $rb")
          }
      }
    }
    assertRate(compiled, 330, s"compile rate dropped: $compiled/400 (skipped $skipped)")
  }

  test("200 seeded staged-path shapes (predicates/indexes/trailing nav) agree with the interpreter") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(99177L + seedOff)
    // array-of-struct rows: empty arrays, null arrays, null fields inside
    // elements — the undefined corners of the round-9 staged-path compiler
    val rows = (1 to 50).map { i =>
      val items =
        if (i % 11 == 0) null
        else Seq.tabulate(i % 5) { j =>
          FuzzItem(
            if ((i + j) % 6 == 0) null else java.lang.Long.valueOf(((i + j) % 7).toLong),
            if ((i + j) % 8 == 0) null else s"q${(i + j) % 3}")
        }
      (i.toLong, items)
    }
    val df = rows.toDF("k", "items")

    def stage(): String = rnd.nextInt(5) match {
      case 0 => s"[p ${Seq(">", "<", ">=", "=", "!=")(rnd.nextInt(5))} ${rnd.nextInt(6)}]"
      case 1 => s"[q ${Seq("=", "!=")(rnd.nextInt(2))} 'q${rnd.nextInt(3)}']"
      case 2 => s"[q]" // string truthiness
      case 3 => s"[p ${Seq(">", "<", ">=")(rnd.nextInt(3))} %.k - ${rnd.nextInt(40)}]"
      // `%` = the row object in a Shape-A predicate (round-11 B6 subset)
      case _ => s"[${rnd.nextInt(7) - 3}]" // index incl. negative wrap
    }
    def staged(): String = {
      val stages = (1 to (rnd.nextInt(2) + 1)).map(_ => stage()).mkString
      s"value.items$stages"
    }
    def top(): (String, String) = rnd.nextInt(3) match {
      case 0 => (s"{'k': value.k, 'r': $$count(${staged()})}", "k BIGINT, r BIGINT")
      case 1 => (s"{'k': value.k, 'r': $$sum(${staged()}.p)}", "k BIGINT, r BIGINT")
      case _ => (s"{'k': value.k, 'r': $$join(${staged()}.q, ',')}", "k BIGINT, r STRING")
    }

    var compiled = 0
    (1 to 200).foreach { n =>
      val (expr, ddl) = top()
      JsonataCompiler.transformCompiled(df, expr) match {
        case None => // outside the subset (e.g. index-then-stage chains): fine
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a == b, s"[staged-fuzz #$n] $expr\n  compiled:    $a\n  interpreted: $b")
      }
    }
    assertRate(compiled, 100, s"staged compile rate dropped: $compiled/200")
  }

  test("150 seeded group-by-map shapes ($lookup/$keys/map-$sift) agree with the interpreter") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(55310L + seedOff)
    // null and EMPTY arrays included: the multi-pair group-by's engine corner
    // (one undefined item — $count pairs survive as 0, others omit) is
    // exactly where the tiers could drift
    val rows = (1 to 40).map { i =>
      val arr =
        if (i % 9 == 0) null
        else Seq.tabulate(i % 6)(j => ((i + j) % 7 - 3).toDouble)
      (i.toLong, arr)
    }
    val df = rows.toDF("k", "arr")

    val aggs = Vector("hi" -> "$max($)", "lo" -> "$min($)",
      "avg" -> "$average($)", "n" -> "$count($)", "s" -> "$sum($)")
    def gmap(): (String, Seq[String]) = {
      val chosen = rnd.shuffle(aggs).take(rnd.nextInt(3) + 2)
      (s"value.arr{${chosen.map { case (k, v) => s"'$k': $v" }.mkString(", ")}}",
        chosen.map(_._1))
    }
    def top(): (String, String) = {
      val (g, keys) = gmap()
      rnd.nextInt(4) match {
        case 0 =>
          (s"{'k': value.k, 'r': $$lookup($g, '${keys(rnd.nextInt(keys.size))}')}",
            "k BIGINT, r DOUBLE")
        case 1 => (s"{'k': value.k, 'r': $$count($$keys($g))}", "k BIGINT, r BIGINT")
        case 2 =>
          (s"{'k': value.k, 'r': $$count($$keys($$sift($g, " +
            s"function($$v, $$kk, $$o){ $$v >= $$lookup($$o, '${keys.head}') })))}",
            "k BIGINT, r BIGINT")
        case _ =>
          (s"{'k': value.k, 'r': $$join($$keys($$sift($g, " +
            s"function($$v, $$kk, $$o){ $$v >= $$lookup($$o, '${keys.head}') })), ',')}",
            "k BIGINT, r STRING")
      }
    }

    var compiled = 0
    (1 to 150).foreach { n =>
      val (expr, ddl) = top()
      JsonataCompiler.transformCompiled(df, expr) match {
        case None =>
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a == b, s"[gmap-fuzz #$n] $expr\n  compiled:    $a\n  interpreted: $b")
      }
    }
    assertRate(compiled, 75, s"group-map compile rate dropped: $compiled/150")
  }

  test("120 seeded DYNAMIC-key group-by shapes agree with the interpreter") {
    // round-14: single-pair `{}` group-by keys beyond member fields —
    // concats, case functions, substrings, conditionals — compiled via the
    // context-mode key compiler (JsonataCompiler.ctxKey). Null fields,
    // null/empty arrays, and keys DEFINED under undefined context (the
    // `f & '-'` undefined→'' rule on the engine's Vector(null) wrap) are
    // exactly where the tiers could drift.
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(77140L + seedOff)
    val cats = Vector("a", "bb", "c")
    val rows = (1 to 40).map { i =>
      val arr =
        if (i % 9 == 0) null
        else Seq.tabulate(i % 6) { j =>
          Row(
            if ((i + j) % 5 == 0) null else cats((i + j) % 3),
            if ((i * 3 + j) % 7 == 0) null else s"t${(i + j) % 4}",
            if ((i + 2 * j) % 6 == 0) null else ((i + j) % 40 - 5).toLong)
        }
      Row(i.toLong, arr)
    }
    val df = spark.createDataFrame(rows.asJava, StructType.fromDDL(
      "k BIGINT, arr ARRAY<STRUCT<cat: STRING, tag: STRING, price: BIGINT>>"))
    val keyGrammar = Vector[() => String](
      () => "cat & '-' & tag",
      () => "$uppercase(cat)",
      () => "tag & '!'",
      () => s"(price >= ${rnd.nextInt(20) - 5} ? 'hi' : 'lo')",
      () => "$substring(cat, 0, 1) & tag",
      () => "$lowercase(tag) & cat",
      () => "cat & cat")
    val aggGrammar = Vector(
      "$count($)" -> "BIGINT", "$sum(price)" -> "BIGINT",
      "$min(price)" -> "BIGINT", "$max(price)" -> "BIGINT",
      "$average(price)" -> "DOUBLE")
    var compiled = 0
    (1 to 120).foreach { n =>
      val key = keyGrammar(rnd.nextInt(keyGrammar.size))()
      val (agg, vt) = aggGrammar(rnd.nextInt(aggGrammar.size))
      val expr = s"{'k': value.k, 'g': value.arr{$key: $agg}}"
      val ddl = s"k BIGINT, g MAP<STRING,$vt>"
      JsonataCompiler.transformCompiled(df, expr) match {
        case None =>
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a == b, s"[dyngroup-fuzz #$n] $expr\n  compiled:    $a\n  interpreted: $b")
      }
    }
    assertRate(compiled, 100, s"dynamic-key group compile rate dropped: $compiled/120")
  }

  test("120 seeded sort shapes (^() and comparator $sort) agree with the interpreter") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(40193L + seedOff)
    // NON-NULL sort keys by design: JSON-null keys are the documented
    // pinned-divergence class (T2010 vs ordering) — this family fuzzes the
    // agreeing domain, with HEAVY ties so stability is actually exercised
    val rows = (1 to 40).map { i =>
      val items = Seq.tabulate(i % 6) { j =>
        FuzzItem(java.lang.Long.valueOf(((i * 3 + j) % 3).toLong), s"q${(i + j) % 4}")
      }
      (i.toLong, items, Seq.tabulate(i % 5)(j => ((i + 2 * j) % 4).toDouble))
    }
    val df = rows.toDF("k", "items", "arr")

    def top(): (String, String) = rnd.nextInt(4) match {
      case 0 =>
        val dir = if (rnd.nextBoolean()) ">" else ""
        (s"{'k': value.k, 'r': $$join($$map(value.items^(${dir}p), " +
          s"function($$v){ $$v.q }), ',')}", "k BIGINT, r STRING")
      case 1 =>
        val dir = if (rnd.nextBoolean()) ">$" else "$"
        (s"{'k': value.k, 'r': $$sum(value.arr^($dir))}", "k BIGINT, r DOUBLE")
      case 2 =>
        val op = if (rnd.nextBoolean()) ">" else "<"
        (s"{'k': value.k, 'r': $$join($$map($$sort(value.items, " +
          s"function($$l, $$r){ $$l.p $op $$r.p }), function($$v){ $$v.q }), ',')}",
          "k BIGINT, r STRING")
      case _ =>
        (s"{'k': value.k, 'r': $$count(value.items^(p, >q))}", "k BIGINT, r BIGINT")
    }

    var compiled = 0
    (1 to 120).foreach { n =>
      val (expr, ddl) = top()
      JsonataCompiler.transformCompiled(df, expr) match {
        case None =>
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a == b, s"[sort-fuzz #$n] $expr\n  compiled:    $a\n  interpreted: $b")
      }
    }
    assertRate(compiled, 60, s"sort compile rate dropped: $compiled/120")
  }

  test("150 seeded datetime shapes (pictures, round-trips, predicates) agree with the interpreter") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(71204L + seedOff)
    // epoch-millis spread across the COMPILED range guard [year 1, year
    // 9999], kept a ≥15 h margin INSIDE both ends: the guard applies to the
    // zone-SHIFTED instant, so an exact-boundary value under a fixed offset
    // lands outside it — the compiled tier then yields its documented NULL
    // where the engine still renders (the pinned range-divergence class,
    // found by this fuzz's first run at the year-1 boundary with '-0500').
    // The exact zone-less boundaries are pinned by hand below instead.
    val margin = 15L * 3600_000L
    val interesting = Seq(-62135596800000L + margin, -2_000_000_000_000L, -1L, 0L, 1L,
      86_399_999L, 951_867_600_000L, 1_700_000_000_123L, 4_000_000_000_000L,
      250_000_000_000_000L, 253402300799999L - margin)
    val rows = (1 to 44).map { i =>
      val ms: java.lang.Long =
        if (i % 7 == 0) null
        else if (i <= interesting.size) java.lang.Long.valueOf(interesting(i - 1))
        else java.lang.Long.valueOf(math.abs(rnd.nextLong()) % 4_000_000_000_000L)
      (i.toLong, ms)
    }
    val df = rows.toDF("k", "ms")

    // pictures inside the verified numeric-marker compile subset
    val pics = Vector("[Y0001]-[M01]-[D01]", "[Y0001]/[M01]/[D01] [H01]:[m01]",
      "[Y0001][M01][D01]", "[H01]:[m01]:[s01]", "[D01].[M01].[Y0001]",
      "[Y0001]-[M01]-[D01]T[H01]:[m01]:[s01]")
    val zones = Vector("+0100", "-0500", "+0530")
    def top(): (String, String) = rnd.nextInt(5) match {
      case 0 => // pictured render
        (s"{'k': value.k, 'r': $$fromMillis(value.ms, '${pics(rnd.nextInt(pics.size))}')}",
          "k BIGINT, r STRING")
      case 1 => // picture ROUND-TRIP: parse what was just rendered
        val p = pics(rnd.nextInt(pics.size))
        (s"{'k': value.k, 'r': $$toMillis($$fromMillis(value.ms, '$p'), '$p')}",
          "k BIGINT, r BIGINT")
      case 2 => // default-picture round-trip (identity inside the guard)
        (s"{'k': value.k, 'r': $$toMillis($$fromMillis(value.ms))}", "k BIGINT, r BIGINT")
      case 3 => // datetime PREDICATE: rendered strings order lexicographically
        val p = "[Y0001]-[M01]-[D01]"
        (s"{'k': value.k, 'r': ($$fromMillis(value.ms, '$p') > '1999-06-15' ? " +
          s"$$substring($$fromMillis(value.ms, '$p'), 0, 4) : 'early')}",
          "k BIGINT, r STRING")
      case _ => // fixed-offset zone render
        (s"{'k': value.k, 'r': $$fromMillis(value.ms, " +
          s"'${pics(rnd.nextInt(pics.size))}', '${zones(rnd.nextInt(zones.size))}')}",
          "k BIGINT, r STRING")
    }

    var compiled = 0
    (1 to 150).foreach { n =>
      val (expr, ddl) = top()
      JsonataCompiler.transformCompiled(df, expr) match {
        case None =>
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a == b, s"[dt-fuzz #$n] $expr\n  compiled:    $a\n  interpreted: $b")
      }
    }
    assertRate(compiled, 100, s"datetime compile rate dropped: $compiled/150")

    // hand-pinned: the exact zone-less guard boundaries must AGREE (the
    // guard is [year 1, year 9999] on the unshifted instant)
    val bdf = Seq((1L, java.lang.Long.valueOf(-62135596800000L)),
      (2L, java.lang.Long.valueOf(253402300799999L))).toDF("k", "ms")
    val bexpr = "{'k': value.k, 'r': $fromMillis(value.ms, '[Y0001]-[M01]-[D01]T[H01]:[m01]:[s01]')}"
    val bc = JsonataCompiler.transformCompiled(bdf, bexpr)
    assert(bc.isDefined)
    val ba = bc.get.orderBy("k").collect().map(_.toSeq).toSeq
    val bb = JsonataDF.transformAs(bdf, bexpr, StructType.fromDDL("k BIGINT, r STRING"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(ba == bb, s"boundary divergence:\n  compiled:    $ba\n  interpreted: $bb")
  }

  test("150 seeded group-by-in-staged-path shapes agree with the interpreter") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(83671L + seedOff)
    // the round-9 staged-path compiler COMPOSED with the multi-pair
    // group-by: predicates/indexes select elements, a trailing field
    // projects the scalar sequence, and the group-by aggregates it —
    // empty/null arrays and null fields exercise the undefined corners of
    // BOTH tiers at once
    val rows = (1 to 50).map { i =>
      val items =
        if (i % 11 == 0) null
        else Seq.tabulate(i % 6) { j =>
          FuzzItem(
            if ((i + j) % 6 == 0) null else java.lang.Long.valueOf(((i + j) % 7).toLong),
            if ((i + j) % 8 == 0) null else s"q${(i + j) % 3}")
        }
      (i.toLong, items)
    }
    val df = rows.toDF("k", "items")

    val aggs = Vector("hi" -> "$max($)", "lo" -> "$min($)",
      "avg" -> "$average($)", "n" -> "$count($)", "s" -> "$sum($)")
    def stage(): String = rnd.nextInt(3) match {
      case 0 => s"[p ${Seq(">", "<", ">=", "=", "!=")(rnd.nextInt(5))} ${rnd.nextInt(6)}]"
      case 1 => s"[q ${Seq("=", "!=")(rnd.nextInt(2))} 'q${rnd.nextInt(3)}']"
      case _ => s"[q]"
    }
    def gmap(): (String, Seq[String]) = {
      val chosen = rnd.shuffle(aggs).take(rnd.nextInt(3) + 2)
      (s"value.items${stage()}.p{${chosen.map { case (kk, v) => s"'$kk': $v" }.mkString(", ")}}",
        chosen.map(_._1))
    }
    def top(): (String, String) = {
      val (g, keys) = gmap()
      rnd.nextInt(3) match {
        case 0 =>
          (s"{'k': value.k, 'r': $$lookup($g, '${keys(rnd.nextInt(keys.size))}')}",
            "k BIGINT, r DOUBLE")
        case 1 => (s"{'k': value.k, 'r': $$count($$keys($g))}", "k BIGINT, r BIGINT")
        case _ => (s"{'k': value.k, 'r': $$join($$keys($g), ',')}", "k BIGINT, r STRING")
      }
    }

    var compiled = 0
    (1 to 150).foreach { n =>
      val (expr, ddl) = top()
      JsonataCompiler.transformCompiled(df, expr) match {
        case None =>
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a == b, s"[staged-gmap-fuzz #$n] $expr\n  compiled:    $a\n  interpreted: $b")
      }
    }
    assertRate(compiled, 75, s"staged-group-by compile rate dropped: $compiled/150")
  }

  test("200 seeded lambda-$replace shapes (regex grammar x body grammar) agree with the interpreter") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(30417L + seedOff)
    // ASCII-only strings (so $m.index agrees: engine counts UTF-16 units) —
    // nulls and empties included; the alphabet overlaps the regex atoms so
    // matches actually occur
    val alpha = "abxy01 .,-"
    val rows = (1 to 48).map { i =>
      val s: String =
        if (i % 9 == 0) null
        else if (i % 7 == 0) ""
        else Seq.fill(3 + i % 11)(alpha.charAt(rnd.nextInt(alpha.length))).mkString
      (i.toLong, s)
    }
    val df = rows.toDF("k", "s")

    // regex grammar: every unit consumes >=1 char (no ? / * / zero-width —
    // those are the compiler's documented interpreter gate) and every group
    // participates in every match (no group-level alternation), so lambda
    // bodies over $m.groups never return undefined -> no D3012 raises in
    // the agreeing domain. A small slice of optional-quantifier patterns is
    // still drawn to exercise the zero-width gate (they must fall back —
    // counted, not compared).
    def atom(): String = rnd.nextInt(6) match {
      case 0 => "a"
      case 1 => "b"
      case 2 => "[xy]"
      case 3 => "[ab0]"
      case 4 => "[a-y]"
      case _ => "."
    }
    def unit(g: Int): (String, Int) = rnd.nextInt(5) match {
      case 0 => (atom(), 0)
      case 1 => (s"${atom()}+", 0)
      case 2 => (s"${atom()}{1,2}", 0)
      case 3 => (s"(${atom()})", 1)
      case _ => (s"(${atom()}${atom()}|${atom()})", 1) // alternation INSIDE one group
    }
    def regex(): (String, Int) = {
      val n = rnd.nextInt(3) + 1
      var g = 0
      val srcs = (1 to n).map { _ => val (s, dg) = unit(g); g += dg; s }
      (srcs.mkString, g)
    }
    // definitely zero-width-capable patterns: the compiler's documented gate
    val zeroWidthPool = Vector("x*", "a?", "b{0,2}", "x?y?", "a*b*")
    def body(g: Int): String = {
      val base = rnd.nextInt(6) match {
        case 0 => "$m.match"
        case 1 => "('<' & $m.match & '>')"
        case 2 => "$uppercase($m.match)"
        case 3 => "$lowercase($m.match)"
        case 4 if g >= 1 => "$m.groups[0]"
        case 5 if g >= 2 => "($m.groups[1] & $m.groups[0])"
        case _ => "$m.match"
      }
      if (rnd.nextInt(4) == 0) s"($base & '@' & $$string($$m.index))" else base
    }
    var compiled = 0
    var zeroWidthDrawn = 0
    (1 to 200).foreach { n =>
      val (re1, g1) = regex()
      // 1-in-8: deliberately zero-width-capable — must FALL BACK, not drift
      val (re, g) =
        if (n % 8 == 0) { zeroWidthDrawn += 1; (zeroWidthPool(rnd.nextInt(zeroWidthPool.size)), 0) }
        else (re1, g1)
      val flags = if (rnd.nextInt(5) == 0) "i" else ""
      val lim = if (rnd.nextInt(4) == 0) s", ${rnd.nextInt(3) + 1}" else ""
      val expr = s"{'k': value.k, 'r': $$replace(value.s, /$re/$flags, function($$m){ ${body(g)} }$lim)}"
      JsonataCompiler.transformCompiled(df, expr) match {
        case None =>
          assert(n % 8 == 0,
            s"[rep-fuzz #$n] non-zero-width lambda $$replace failed to compile: $expr")
        case Some(c) =>
          assert(n % 8 != 0, s"[rep-fuzz #$n] zero-width pattern compiled: $expr")
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL("k BIGINT, r STRING"))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a == b, s"[rep-fuzz #$n] $expr\n  compiled:    $a\n  interpreted: $b")
      }
    }
    assertRate(compiled, 150, s"lambda-replace compile rate dropped: $compiled/200 (zw=$zeroWidthDrawn)")
  }

  test("150 seeded $single shapes agree with the interpreter, raises included (code-compared)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(90233L + seedOff)
    // value predicates can match zero/one/many per row -> D3139/D3138 raises
    // are part of the agreeing domain here. ONE partition on both tiers so
    // the FIRST raising row (hence the surfaced code) is deterministic and
    // identical across tiers.
    val rows = (1 to 36).map { i =>
      val arr =
        if (i % 11 == 0) null
        else Seq.tabulate(i % 6)(j => ((i * 2 + 3 * j) % 9 - 4).toDouble)
      (i.toLong, arr)
    }
    val df = rows.toDF("k", "arr").coalesce(1)

    def pred(): String = rnd.nextInt(6) match {
      case 0 => s"function($$x, $$i){ $$i = ${rnd.nextInt(5)} }"
      case 1 => s"function($$x){ $$x > ${rnd.nextInt(7) - 3} }"
      case 2 => s"function($$x){ $$x = ${rnd.nextInt(7) - 3} }"
      case 3 => s"function($$x, $$i){ $$i = ${rnd.nextInt(3)} and $$x >= ${rnd.nextInt(5) - 2} }"
      case 4 => s"function($$x, $$i, $$a){ $$x = $$a[0] and $$i = 0 }"
      case _ => s"function($$x, $$i){ ($$i = ${rnd.nextInt(4)}) or ($$x < ${-2 - rnd.nextInt(3)}) }"
    }
    def code(t: Throwable): String = {
      val sb = new StringBuilder
      var cur = t
      while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
      "D3138|D3139".r.findFirstIn(sb.toString).getOrElse(s"<no-code: ${sb.toString.take(200)}>")
    }
    var compiled = 0
    (1 to 150).foreach { n =>
      val expr = s"{'k': value.k, 'r': $$single(value.arr, ${pred()})}"
      JsonataCompiler.transformCompiled(df, expr) match {
        case None =>
          fail(s"[single-fuzz #$n] expected to compile: $expr")
        case Some(c) =>
          compiled += 1
          val ra = scala.util.Try(c.orderBy("k").collect().map(_.toSeq).toSeq)
          val rb = scala.util.Try(JsonataDF.transformAs(df, expr,
            StructType.fromDDL("k BIGINT, r DOUBLE")).orderBy("k").collect().map(_.toSeq).toSeq)
          (ra, rb) match {
            case (scala.util.Success(a), scala.util.Success(b)) =>
              assert(a == b, s"[single-fuzz #$n] $expr\n  compiled:    $a\n  interpreted: $b")
            case (scala.util.Failure(ea), scala.util.Failure(eb)) =>
              assert(code(ea) == code(eb),
                s"[single-fuzz #$n] raise codes differ for $expr: " +
                  s"compiled=${code(ea)} interpreted=${code(eb)}")
            case (a, b) =>
              fail(s"[single-fuzz #$n] one tier raised, the other did not, for $expr:\n" +
                s"  compiled:    $a\n  interpreted: $b")
          }
      }
    }
    assertRate(compiled, 150, s"$$single compile rate dropped: $compiled/150")
  }

  test("200 seeded ~> chain shapes (builtins, lambdas, partials, bound stages) agree with the interpreter") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(47719L + seedOff)
    val df = FuzzGrammar.rows.toDF("k", "num_a", "num_b", "str_a", "str_b", "arr")

    // typed chain grammar: track the operand's static type through each
    // `~>` stage; every stage is drawn from the compiled subset (builtin
    // prepend, single-`?` partial, inline arity-1 lambda)
    sealed trait T; case object S extends T; case object N extends T
    def strStage(): (String, T) = rnd.nextInt(7) match {
      case 0 => ("$uppercase", S)
      case 1 => ("$lowercase", S)
      case 2 => (s"$$substring(${rnd.nextInt(2)}, ${rnd.nextInt(4) + 1})", S)
      case 3 => (s"$$pad(?, ${rnd.nextInt(7) + 1}, '.')", S)
      case 4 => (s"function($$v){ $$v & '${"abx".charAt(rnd.nextInt(3))}' }", S)
      case 5 => ("$length", N)
      case _ => (s"$$split(' ') ~> $$count", N) // nested chain stage
    }
    def numStage(): (String, T) = rnd.nextInt(5) match {
      case 0 => ("$abs", N)
      case 1 => ("$floor", N)
      case 2 => (s"$$round(?, ${rnd.nextInt(3)})", N)
      case 3 => (s"function($$v){ ($$v * ${rnd.nextInt(3) + 1}) + ${rnd.nextInt(5)} }", N)
      case _ => (s"$$power(?, 2)", N)
    }
    def chain(): (String, T) = {
      var t: T = if (rnd.nextBoolean()) S else N
      val base = t match {
        case S => if (rnd.nextBoolean()) "value.str_a" else "value.str_b"
        case N => if (rnd.nextBoolean()) "value.num_a" else "value.num_b"
      }
      val n = rnd.nextInt(3) + 1
      val sb = new StringBuilder(base)
      (1 to n).foreach { _ =>
        val (stage, nt) = t match { case S => strStage(); case N => numStage() }
        sb.append(" ~> ").append(stage)
        t = nt
      }
      (sb.toString, t)
    }
    var compiled = 0
    (1 to 200).foreach { n =>
      val (c0, t) = chain()
      // 1-in-5: route the first stage through a BOUND lambda preamble (the
      // inlineBinds -> ApplyOp(l, Lambda) path); 1-in-7 (string chains):
      // terminate with a regex application + struct navigation (the
      // round-11 ApplyOp(l, RegexLit) + non-path getField cases)
      val (pre, c1, t1) =
        if (n % 5 == 0 && t == S)
          ("($fx := function($s){ $uppercase($s) }; ", s"${c0} ~> $$fx", S)
        else if (n % 7 == 0 && t == S) {
          val re = Seq("[ab0-9]+", "x+y?", "([a-w])([a-w])")(rnd.nextInt(3))
          if (rnd.nextBoolean()) ("", s"($c0 ~> /$re/).match", S)
          else ("", s"($c0 ~> /$re/).index", N)
        } else ("", c0, t)
      val ddl = (if (t1 == S) "k BIGINT, r STRING" else "k BIGINT, r DOUBLE")
      val expr =
        if (pre.isEmpty) s"{'k': value.k, 'r': $c1}"
        else s"$pre{'k': value.k, 'r': $c1})"
      JsonataCompiler.transformCompiled(df, expr) match {
        case None =>
          fail(s"[chain-fuzz #$n] expected chain to compile: $expr")
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a.size == b.size, s"[chain-fuzz #$n] row count differs: $expr")
          a.zip(b).foreach { case (ra, rb) =>
            val same = ra.zip(rb).forall {
              case (x: Double, y: Double) =>
                (x.isNaN && y.isNaN) || math.abs(x - y) <= math.abs(x).max(1.0) * 1e-12
              case (x, y) => x == y
            }
            assert(same, s"[chain-fuzz #$n] $expr\n  compiled:    $ra\n  interpreted: $rb")
          }
      }
    }
    assertRate(compiled, 200, s"chain compile rate dropped: $compiled/200")
  }

  test("150 seeded transform |...|...| patch shapes agree with the interpreter") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(61807L + seedOff)
    val df = FuzzGrammar.rows.toDF("k", "num_a", "num_b", "str_a", "str_b", "arr")

    // context-rooted value grammar: the update evaluates with ctx = the
    // matched object, so field references are BARE names (or $.name), never
    // value.* — the whole reason this family can't reuse FuzzGrammar.Gen
    def numv(d: Int): String =
      if (d <= 0) rnd.nextInt(6) match {
        case 0 => "num_a"
        case 1 => "num_b"
        case 2 => "$.num_a"
        case 3 => rnd.nextInt(50).toString
        case 4 => s"${rnd.nextInt(20)}.${rnd.nextInt(9) + 1}"
        case _ => if (rnd.nextBoolean()) "$sum(arr)" else "$count(arr)"
      }
      else rnd.nextInt(6) match {
        case 0 => s"(${numv(d - 1)} + ${numv(d - 1)})"
        case 1 => s"(${numv(d - 1)} * ${numv(d - 1)})"
        case 2 => s"$$abs(${numv(d - 1)})"
        case 3 => s"$$round(${numv(d - 1)}, ${rnd.nextInt(3)})"
        case 4 => s"(${boolv()} ? ${numv(d - 1)} : ${numv(d - 1)})"
        case _ => numv(0)
      }
    def strv(d: Int): String =
      if (d <= 0) rnd.nextInt(3) match {
        case 0 => "str_a"
        case 1 => "$.str_b"
        case _ => s"'${"abcxyz".charAt(rnd.nextInt(6))}'"
      }
      else rnd.nextInt(5) match {
        case 0 => s"$$uppercase(${strv(d - 1)})"
        case 1 => s"$$trim(${strv(d - 1)})"
        case 2 => s"(${strv(d - 1)} & ${strv(d - 1)})"
        case 3 => s"$$substring(${strv(d - 1)}, ${rnd.nextInt(2)}, ${rnd.nextInt(4) + 1})"
        case _ => strv(0)
      }
    def boolv(): String = {
      val op = Seq(">", "<", ">=", "=", "!=")(rnd.nextInt(5))
      if (rnd.nextBoolean()) s"(${numv(0)} $op ${numv(0)})"
      else s"(${strv(0)} ${Seq("=", "!=")(rnd.nextInt(2))} ${strv(0)})"
    }
    // one update pair: typed against its key (existing keys keep/widen their
    // numeric space; new keys take any type); 1-in-6 draws the
    // undefined-keeps-original form (conditional with an absent else)
    def pair(): (String, String) = {
      val (k, v) = rnd.nextInt(6) match {
        case 0 => ("num_a", numv(2))
        case 1 => ("num_b", numv(1))
        case 2 => ("str_a", strv(2))
        case 3 => ("str_b", strv(1))
        case 4 => ("p1", if (rnd.nextBoolean()) numv(1) else boolv())
        case _ => ("p2", strv(1))
      }
      val vv = if (rnd.nextInt(6) == 0) s"(${boolv()} ? $v)" else v
      (k, vv)
    }
    var compiled = 0
    (1 to 150).foreach { n =>
      val pairs = {
        var ps = Vector.empty[(String, String)]
        (1 to rnd.nextInt(3) + 1).foreach { _ =>
          val p = pair()
          if (!ps.exists(_._1 == p._1)) ps :+= p // dup keys raise D1009
        }
        ps
      }
      val upd = pairs.map { case (k, v) => s"'$k': $v" }.mkString("{", ", ", "}")
      val dels = rnd.nextInt(4) match {
        case 0 => ""
        case 1 => ", 'str_b'"
        case 2 => ", ['num_b', 'nosuchkey']"
        case _ => ", 'p1'" // may delete a just-added key — deletes run last
      }
      val pat = rnd.nextInt(10) match {
        case 0 => "nosuch"       // schema-absent: no match, identity
        case 1 => "str_a.deeper" // mid-path scalar: no match, identity
        case _ => "$"
      }
      val expr = s"value ~> |$pat|$upd$dels|"
      JsonataCompiler.transformCompiled(df, expr) match {
        // legitimate out-of-subset draws exist (a ternary whose branches land
        // on different numeric widths — the Cond type-agreement gate): skip,
        // with the rate floor below keeping the grammar honest
        case None => ()
        case Some(c) =>
          compiled += 1
          // declared schema = the compiled output schema: the interpreter
          // decodes to it, so numeric widening tracks automatically
          val ddl = c.schema.toDDL
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a.size == b.size, s"[transform-fuzz #$n] row count differs: $expr")
          a.zip(b).foreach { case (ra, rb) =>
            val same = ra.zip(rb).forall {
              case (x: Double, y: Double) =>
                (x.isNaN && y.isNaN) || math.abs(x - y) <= math.abs(x).max(1.0) * 1e-12
              case (x, y) => x == y
            }
            assert(same, s"[transform-fuzz #$n] $expr\n  compiled:    $ra\n  interpreted: $rb")
          }
      }
    }
    assertRate(compiled, 130, s"transform compile rate dropped: $compiled/150")
  }

  test("100 seeded NESTED-pattern transform patches agree with the interpreter") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(58111L + seedOff)
    val ddlIn = "k BIGINT, top BIGINT, " +
      "meta STRUCT<a: BIGINT, b: STRING, deep: STRUCT<x: BIGINT, y: STRING>>"
    val rows = (1 to 40).map { i =>
      val deep = if (rnd.nextInt(5) == 0) null
        else Row(
          if (rnd.nextInt(6) == 0) null else java.lang.Long.valueOf((i % 9).toLong),
          if (rnd.nextInt(6) == 0) null else s"y${i % 3}")
      val meta = if (rnd.nextInt(6) == 0) null
        else Row(
          if (rnd.nextInt(5) == 0) null else java.lang.Long.valueOf((i % 7).toLong),
          if (rnd.nextInt(5) == 0) null else s"b${i % 4}", deep)
      Row(i.toLong, if (rnd.nextInt(7) == 0) null else java.lang.Long.valueOf(i.toLong), meta)
    }
    val df = spark.createDataFrame(rows.asJava, StructType.fromDDL(ddlIn))

    // per-level typed pairs; values are context-rooted against the MATCH
    def numv(fields: Seq[String]): String = rnd.nextInt(4) match {
      case 0 => fields(rnd.nextInt(fields.length))
      case 1 => s"$$.${fields(rnd.nextInt(fields.length))}"
      case 2 => rnd.nextInt(40).toString
      case _ => s"(${fields(rnd.nextInt(fields.length))} + ${rnd.nextInt(9)})"
    }
    def strv(sf2: Seq[String]): String = rnd.nextInt(3) match {
      case 0 => s"$$uppercase(${sf2(rnd.nextInt(sf2.length))})"
      case 1 => s"'c${rnd.nextInt(4)}'"
      case _ => s"(${sf2(rnd.nextInt(sf2.length))} & 'z')"
    }
    var compiled = 0
    (1 to 100).foreach { n =>
      val (pat, upd, dels) = rnd.nextInt(3) match {
        case 0 => // patch meta: nums {a}, strs {b}
          val ps = Seq(
            Some(s"'a': ${numv(Seq("a"))}"),
            if (rnd.nextBoolean()) Some(s"'b': ${strv(Seq("b"))}") else None,
            if (rnd.nextInt(3) == 0) Some(s"'n1': ${numv(Seq("a"))}") else None).flatten
          ("meta", ps.mkString("{", ", ", "}"),
            Seq("", ", 'b'", ", ['n1', 'ghost']")(rnd.nextInt(3)))
        case 1 => // patch meta.deep: nums {x}, strs {y}
          val ps = Seq(
            Some(s"'x': ${numv(Seq("x"))}"),
            if (rnd.nextBoolean()) Some(s"'y': ${strv(Seq("y"))}") else None).flatten
          ("meta.deep", ps.mkString("{", ", ", "}"),
            Seq("", ", 'y'")(rnd.nextInt(2)))
        case _ => // root patch referencing nested reads
          val ps = Seq(s"'top': ${numv(Seq("top"))}",
            s"'flag': (${numv(Seq("top"))} > ${rnd.nextInt(20)})")
          ("$", ps.mkString("{", ", ", "}"), "")
      }
      val expr = s"value ~> |$pat|$upd$dels|"
      JsonataCompiler.transformCompiled(df, expr) match {
        case None => fail(s"[nest-transform-fuzz #$n] expected compile: $expr")
        case Some(c) =>
          compiled += 1
          val ddl = c.schema.toDDL
          val a = c.orderBy("k").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("k").collect().map(_.toSeq).toSeq
          assert(a.size == b.size, s"[nest-transform-fuzz #$n] row count differs: $expr")
          a.zip(b).foreach { case (ra, rb) =>
            assert(ra == rb, s"[nest-transform-fuzz #$n] $expr\n  compiled:    $ra\n  interpreted: $rb")
          }
      }
    }
    assertRate(compiled, 100, s"nested transform compile rate dropped: $compiled/100")
  }

  test("120 seeded ** descendant shapes agree with the interpreter on nested NULL-bearing rows") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(73561L + seedOff)
    val ddlIn = "id BIGINT, price BIGINT, " +
      "meta STRUCT<price: BIGINT, tag: STRING, " +
      "  deep: STRUCT<price: BIGINT, tag: STRING, qty: BIGINT>>, " +
      "items ARRAY<STRUCT<price: BIGINT, tag: STRING, sub: STRUCT<price: BIGINT>>>, " +
      "bags ARRAY<ARRAY<STRUCT<qty: BIGINT>>>"
    def mbL(p: Int): java.lang.Long =
      if (rnd.nextInt(p) == 0) null else java.lang.Long.valueOf(rnd.nextInt(90).toLong)
    def mbS(p: Int): String = if (rnd.nextInt(p) == 0) null else s"t${rnd.nextInt(5)}"
    val rows = (1 to 50).map { i =>
      val deep = if (rnd.nextInt(5) == 0) null else Row(mbL(6), mbS(6), mbL(6))
      val meta = if (rnd.nextInt(6) == 0) null else Row(mbL(6), mbS(6), deep)
      val items =
        if (rnd.nextInt(7) == 0) null
        else Seq.fill(rnd.nextInt(3))(
          Row(mbL(5), mbS(5), if (rnd.nextInt(4) == 0) null else Row(mbL(5))))
      val bags =
        if (rnd.nextInt(8) == 0) null
        else Seq.fill(rnd.nextInt(2))(Seq.fill(rnd.nextInt(3))(Row(mbL(4))))
      Row(i.toLong, mbL(8), meta, items, bags)
    }
    val df = spark.createDataFrame(rows.asJava, StructType.fromDDL(ddlIn))

    // (base, target) pairs with >= 1 static occurrence, per the schema above
    val numeric = Seq(
      ("value", "price"), ("value", "qty"),
      ("value.meta", "price"), ("value.meta", "qty"),
      ("value.meta.deep", "price"), ("value.meta.deep", "qty"),
      ("value.items", "price"), ("value.bags", "qty"))
    val stringy = Seq(("value", "tag"), ("value.meta", "tag"), ("value.items", "tag"))
    var compiled = 0
    (1 to 120).foreach { n =>
      val (expr, ddl) =
        if (rnd.nextInt(4) == 0) {
          val (b, t) = stringy(rnd.nextInt(stringy.length))
          if (rnd.nextBoolean())
            (s"{'id': value.id, 'r': $$join($b.**.$t, '|')}", "id BIGINT, r STRING")
          else (s"{'id': value.id, 'r': $$count($b.**.$t)}", "id BIGINT, r BIGINT")
        } else {
          val (b, t) = numeric(rnd.nextInt(numeric.length))
          rnd.nextInt(5) match {
            case 0 => (s"{'id': value.id, 'r': $$count($b.**.$t)}", "id BIGINT, r BIGINT")
            case 1 => (s"{'id': value.id, 'r': $$sum($b.**.$t)}", "id BIGINT, r BIGINT")
            case 2 => (s"{'id': value.id, 'r': $$max($b.**.$t)}", "id BIGINT, r BIGINT")
            case 3 => (s"{'id': value.id, 'r': $$min($b.**.$t)}", "id BIGINT, r BIGINT")
            case _ =>
              val (b2, t2) = numeric(rnd.nextInt(numeric.length))
              (s"{'id': value.id, 'r': ($$count($b.**.$t) + $$count($b2.**.$t2))}",
                "id BIGINT, r BIGINT")
          }
        }
      JsonataCompiler.transformCompiled(df, expr) match {
        case None => fail(s"[desc-fuzz #$n] expected descendant shape to compile: $expr")
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("id").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("id").collect().map(_.toSeq).toSeq
          assert(a.size == b.size, s"[desc-fuzz #$n] row count differs: $expr")
          a.zip(b).foreach { case (ra, rb) =>
            assert(ra == rb, s"[desc-fuzz #$n] $expr\n  compiled:    $ra\n  interpreted: $rb")
          }
      }
    }
    assertRate(compiled, 120, s"descendant compile rate dropped: $compiled/120")
  }

  test("150 seeded * wildcard shapes agree with the interpreter on NULL-bearing rows") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(90412L + seedOff)
    // arrays may be ABSENT (null field) but never carry null ELEMENTS here:
    // an explicit null item makes the engine's $sum/$max raise T0412 where
    // the fuzz grammar wants value agreement — DifferentialSpec pins the
    // null-element emission class separately with $count
    val ddlIn = "id BIGINT, " +
      "num STRUCT<a: BIGINT, b: BIGINT, xs: ARRAY<BIGINT>, yss: ARRAY<ARRAY<BIGINT>>>, " +
      "mix STRUCT<i: INT, d: DOUBLE>, " +
      "strs STRUCT<t: STRING, u: STRING>, " +
      "items ARRAY<STRUCT<p: BIGINT, q: BIGINT>>, " +
      "deep STRUCT<x: STRUCT<p: BIGINT, t: STRING>, y: STRUCT<p: BIGINT, t: STRING>, " +
      "  junk: STRING, zs: ARRAY<STRUCT<p: BIGINT, t: STRING>>>"
    def mbL(p: Int): java.lang.Long =
      if (rnd.nextInt(p) == 0) null else java.lang.Long.valueOf(rnd.nextInt(90).toLong)
    def mbS(p: Int): String = if (rnd.nextInt(p) == 0) null else s"t${rnd.nextInt(5)}"
    def arr(): Seq[Long] = Seq.fill(rnd.nextInt(3))(rnd.nextInt(50).toLong)
    val rows = (1 to 50).map { i =>
      val num = if (rnd.nextInt(6) == 0) null
        else Row(mbL(5), mbL(5),
          if (rnd.nextInt(4) == 0) null else arr(),
          if (rnd.nextInt(4) == 0) null else Seq.fill(rnd.nextInt(2))(arr()))
      val mix = if (rnd.nextInt(6) == 0) null
        else Row(if (rnd.nextInt(5) == 0) null else java.lang.Integer.valueOf(rnd.nextInt(40)),
          if (rnd.nextInt(5) == 0) null else java.lang.Double.valueOf(rnd.nextInt(80) / 4.0))
      val strs = if (rnd.nextInt(7) == 0) null else Row(mbS(4), mbS(4))
      val items = if (rnd.nextInt(7) == 0) null
        else Seq.fill(rnd.nextInt(3))(Row(mbL(5), mbL(5)))
      def ds(): Row = if (rnd.nextInt(5) == 0) null else Row(mbL(5), mbS(5))
      val deep = if (rnd.nextInt(7) == 0) null
        else Row(ds(), ds(), mbS(4),
          if (rnd.nextInt(4) == 0) null else Seq.fill(rnd.nextInt(3))(Row(mbL(5), mbS(5))))
      Row(i.toLong, num, mix, strs, items, deep)
    }
    val df = spark.createDataFrame(rows.asJava, StructType.fromDDL(ddlIn))

    var compiled = 0
    (1 to 150).foreach { n =>
      val (expr, ddl) = rnd.nextInt(10) match {
        case 0 => ("{'id': value.id, 'r': $count(value.num.*)}", "id BIGINT, r BIGINT")
        case 1 =>
          val f = Seq("sum", "max", "min")(rnd.nextInt(3))
          (s"{'id': value.id, 'r': $$$f(value.num.*)}", "id BIGINT, r BIGINT")
        case 2 => ("{'id': value.id, 'r': $sum(value.mix.*)}", "id BIGINT, r DOUBLE")
        case 3 => ("{'id': value.id, 'r': $count(value.strs.*)}", "id BIGINT, r BIGINT")
        case 4 => ("{'id': value.id, 'r': $join(value.strs.*, '|')}", "id BIGINT, r STRING")
        case 5 =>
          val f = Seq("sum", "count", "max")(rnd.nextInt(3))
          (s"{'id': value.id, 'r': $$$f(value.items.*)}", "id BIGINT, r BIGINT")
        case 6 =>
          ("{'id': value.id, 'r': ($count(value.num.*) + $count(value.items.*))}",
            "id BIGINT, r BIGINT")
        case 7 =>
          ("{'id': value.id, 'r': $count(value.num.*) > $count(value.mix.*)}",
            "id BIGINT, r BOOLEAN")
        // name variant: the step maps over struct emissions (incl. array
        // splices), skips the scalar `junk`, drops absent keys
        case 8 =>
          val f = Seq("sum", "count", "max", "min")(rnd.nextInt(4))
          (s"{'id': value.id, 'r': $$$f(value.deep.*.p)}", "id BIGINT, r BIGINT")
        case _ =>
          if (rnd.nextBoolean())
            ("{'id': value.id, 'r': $join(value.deep.*.t, '|')}", "id BIGINT, r STRING")
          else ("{'id': value.id, 'r': $count(value.deep.*.t)}", "id BIGINT, r BIGINT")
      }
      JsonataCompiler.transformCompiled(df, expr) match {
        case None => fail(s"[wc-fuzz #$n] expected wildcard shape to compile: $expr")
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("id").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("id").collect().map(_.toSeq).toSeq
          assert(a.size == b.size, s"[wc-fuzz #$n] row count differs: $expr")
          a.zip(b).foreach { case (ra, rb) =>
            assert(ra == rb, s"[wc-fuzz #$n] $expr\n  compiled:    $ra\n  interpreted: $rb")
          }
      }
    }
    assertRate(compiled, 150, s"wildcard compile rate dropped: $compiled/150")
  }

  test("120 seeded MAP-base / ARRAY-target wildcard shapes agree with the interpreter") {
    // The round-13 compiled-wildcard extensions: a MAP base (`value.attrs.*`
    // — the schemaless envelope) enumerates map VALUES with rowToJson's
    // EXPLICIT nulls kept as items, and an ARRAY-typed name target
    // (`base.*.f` where some f is ARRAY) splices one level with null
    // ELEMENTS kept. Aggregate draws over null-bearing emissions use
    // $count only ($sum/$max/$min over a null item RAISES T0412 in the
    // engine — that skip-vs-raise class is pinned in DifferentialSpec, not
    // fuzzed); the numeric draws run over the null-free twin columns.
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(130915L + seedOff)
    val ddlIn = "id BIGINT, " +
      "attrs MAP<STRING, BIGINT>, nn MAP<STRING, BIGINT>, " +
      "mixm MAP<STRING, DOUBLE>, " +
      "marr MAP<STRING, ARRAY<BIGINT>>, marrnn MAP<STRING, ARRAY<BIGINT>>, " +
      "mstr MAP<STRING, STRUCT<p: BIGINT, t: STRING, zs: ARRAY<BIGINT>>>, " +
      "tg STRUCT<a: STRUCT<p: ARRAY<BIGINT>>, b: STRUCT<p: BIGINT>, junk: STRING, " +
      "  xs: ARRAY<STRUCT<p: ARRAY<BIGINT>, w: BIGINT>>>, " +
      "tgnn STRUCT<a: STRUCT<p: ARRAY<BIGINT>>, b: STRUCT<p: BIGINT>, junk: STRING, " +
      "  xs: ARRAY<STRUCT<p: ARRAY<BIGINT>, w: BIGINT>>>"
    def mbL(p: Int): java.lang.Long =
      if (rnd.nextInt(p) == 0) null else java.lang.Long.valueOf(rnd.nextInt(90).toLong)
    def keys(n: Int): Seq[String] = (0 until rnd.nextInt(n)).map(k => s"k$k")
    def arrN(): Seq[java.lang.Long] = Seq.fill(rnd.nextInt(3))(mbL(4))
    def arrC(): Seq[java.lang.Long] =
      Seq.fill(rnd.nextInt(3))(java.lang.Long.valueOf(rnd.nextInt(50).toLong))
    def mp[A](n: Int, v: () => A): Map[String, A] =
      if (rnd.nextInt(6) == 0) null.asInstanceOf[Map[String, A]]
      else keys(n).map(_ -> v()).toMap
    val rows = (1 to 50).map { i =>
      def tgRow(clean: Boolean): Row = if (rnd.nextInt(7) == 0) null
        else Row(
          if (rnd.nextInt(5) == 0) null else Row(if (clean) arrC() else arrN()),
          if (rnd.nextInt(5) == 0) null else Row(mbL(4)),
          if (rnd.nextInt(4) == 0) null else s"j$i",
          if (rnd.nextInt(4) == 0) null
          else Seq.fill(rnd.nextInt(3))(Row(
            if (rnd.nextInt(4) == 0) null else (if (clean) arrC() else arrN()),
            mbL(4))))
      Row(i.toLong,
        mp(4, () => mbL(3)),
        mp(4, () => java.lang.Long.valueOf(rnd.nextInt(70).toLong)),
        mp(3, () => java.lang.Double.valueOf(rnd.nextInt(60) / 4.0)),
        mp(3, () => if (rnd.nextInt(4) == 0) null else arrN()),
        mp(3, () => arrC()),
        mp(3, () => if (rnd.nextInt(5) == 0) null
          else Row(mbL(4), if (rnd.nextInt(4) == 0) null else s"t${rnd.nextInt(4)}", arrN())),
        tgRow(clean = false),
        tgRow(clean = true))
    }
    val df = spark.createDataFrame(rows.asJava, StructType.fromDDL(ddlIn))

    var compiled = 0
    (1 to 120).foreach { n =>
      val (expr, ddl) = rnd.nextInt(10) match {
        case 0 => ("{'id': value.id, 'r': $count(value.attrs.*)}", "id BIGINT, r BIGINT")
        case 1 =>
          val f = Seq("sum", "max", "min")(rnd.nextInt(3))
          (s"{'id': value.id, 'r': $$$f(value.nn.*)}", "id BIGINT, r BIGINT")
        case 2 => ("{'id': value.id, 'r': $sum(value.mixm.*)}", "id BIGINT, r DOUBLE")
        case 3 => ("{'id': value.id, 'r': $count(value.marr.*)}", "id BIGINT, r BIGINT")
        case 4 =>
          val f = Seq("sum", "max")(rnd.nextInt(2))
          (s"{'id': value.id, 'r': $$$f(value.marrnn.*)}", "id BIGINT, r BIGINT")
        // map-of-struct + trailing name: scalar f (null p = absent key,
        // dropped by BOTH tiers, so numeric draws are safe here)
        case 5 =>
          val f = Seq("sum", "count", "max")(rnd.nextInt(3))
          (s"{'id': value.id, 'r': $$$f(value.mstr.*.p)}", "id BIGINT, r BIGINT")
        // map-of-struct + ARRAY-typed f: null elements kept -> count only
        case 6 => ("{'id': value.id, 'r': $count(value.mstr.*.zs)}", "id BIGINT, r BIGINT")
        // struct base, MIXED scalar+array f occurrences (one-level splice)
        case 7 =>
          val f = Seq("sum", "max", "min")(rnd.nextInt(3))
          (s"{'id': value.id, 'r': $$$f(value.tgnn.*.p)}", "id BIGINT, r BIGINT")
        case 8 => ("{'id': value.id, 'r': $count(value.tg.*.p)}", "id BIGINT, r BIGINT")
        case _ =>
          ("{'id': value.id, 'r': $count(value.attrs.*) > $count(value.marr.*)}",
            "id BIGINT, r BOOLEAN")
      }
      JsonataCompiler.transformCompiled(df, expr) match {
        case None => fail(s"[wcmap-fuzz #$n] expected wildcard shape to compile: $expr")
        case Some(c) =>
          compiled += 1
          val a = c.orderBy("id").collect().map(_.toSeq).toSeq
          val b = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
            .orderBy("id").collect().map(_.toSeq).toSeq
          assert(a.size == b.size, s"[wcmap-fuzz #$n] row count differs: $expr")
          a.zip(b).foreach { case (ra, rb) =>
            assert(ra == rb, s"[wcmap-fuzz #$n] $expr\n  compiled:    $ra\n  interpreted: $rb")
          }
      }
    }
    assertRate(compiled, 120, s"map/array wildcard compile rate dropped: $compiled/120")
  }

  test("150 seeded tuple-stream shapes (#$i / @$v / % compositions) are row-order independent") {
    // The one §2.B corner no other family touches: positional (`#$i`) and
    // context (`@$v`) binds run ONLY on the tuple-stream interpreter, so
    // there is no second engine to differential against. The property that
    // CAN be pinned is purity: per-record evaluation must not depend on
    // row order or partitioning (cross-record evaluator state would show
    // up exactly here). Each draw therefore runs the interpreter over the
    // fixture in its recorded order and over a seeded permutation with
    // different partitioning, and compares per-id. The compile GATE is
    // pinned too: bind shapes must keep falling back to the interpreter
    // (compiled == 0 at the recorded seeds) — and if the compiler ever
    // starts claiming one, the draw auto-upgrades to a real differential
    // so the claim is checked, not trusted.
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(618233L + seedOff)
    val ddlIn = "id BIGINT, " +
      "items ARRAY<STRUCT<k: STRING, v: BIGINT>>, " +
      "dims ARRAY<STRUCT<ref: STRING, tag: STRING, w: BIGINT>>, " +
      "meta STRUCT<thr: BIGINT, grp: STRING>"
    def mbS(p: Int): String = if (rnd.nextInt(p) == 0) null else s"t${rnd.nextInt(4)}"
    def key(): String = Seq("a", "b", "c")(rnd.nextInt(3))
    val rows = (1 to 50).map { i =>
      // v and w stay NON-NULL (null-in-arithmetic raise classes belong to
      // DifferentialSpec; this family wants value agreement), but arrays,
      // k/tag, and the whole meta struct may be absent
      val items = if (rnd.nextInt(8) == 0) null
        else Seq.fill(rnd.nextInt(4))(Row(
          if (rnd.nextInt(6) == 0) null else key(),
          java.lang.Long.valueOf(rnd.nextInt(40).toLong)))
      val dims = if (rnd.nextInt(8) == 0) null
        else Seq.fill(rnd.nextInt(3))(Row(key(), mbS(5),
          java.lang.Long.valueOf(rnd.nextInt(30).toLong)))
      val meta = if (rnd.nextInt(6) == 0) null
        else Row(java.lang.Long.valueOf(rnd.nextInt(25).toLong), mbS(5))
      Row(i.toLong, items, dims, meta)
    }
    val schema = StructType.fromDDL(ddlIn)
    val df = spark.createDataFrame(rows.asJava, schema)

    var compiled = 0
    (1 to 150).foreach { n =>
      def pred(): String = rnd.nextInt(3) match {
        case 0 => s"v >= ${rnd.nextInt(20)}"
        case 1 => s"k = '${key()}'"
        case _ => "v >= %.meta.thr" // parent hop out of the predicate context
      }
      val (expr, ddl) = rnd.nextInt(10) match {
        case 0 => (s"{'id': value.id, 'r': $$sum(value.items#$$i[${pred()}].($$i))}",
          "id BIGINT, r BIGINT")
        case 1 => (s"{'id': value.id, 'r': $$count(value.items#$$i[${pred()}].($$i))}",
          "id BIGINT, r BIGINT")
        case 2 => (s"{'id': value.id, 'r': $$join(value.items#$$i.($$string($$i) & k), '${if (rnd.nextBoolean()) "|" else ""}')}",
          "id BIGINT, r STRING")
        case 3 => ("{'id': value.id, 'r': $join(value.dims@$d.items[k = $d.ref].($d.tag & ':' & $string(v)), ',')}",
          "id BIGINT, r STRING")
        case 4 => ("{'id': value.id, 'r': $count(value.dims@$d.items[k = $d.ref])}",
          "id BIGINT, r BIGINT")
        case 5 => (s"{'id': value.id, 'r': $$sum(value.items[${pred()}].v)}",
          "id BIGINT, r BIGINT")
        case 6 => ("{'id': value.id, 'r': $join(value.items.%.meta.grp, '|')}",
          "id BIGINT, r STRING")
        case 7 => ("{'id': value.id, 'r': $sum(value.dims@$d.items#$i[k = $d.ref].($i + $count(value.dims)))}",
          "id BIGINT, r BIGINT")
        case 8 => ("{'id': value.id, 'r': $join(value.items#$i[v >= %.meta.thr].($string($i)), '')}",
          "id BIGINT, r STRING")
        case _ => ("{'id': value.id, 'r': $count(value.dims@$d.items[v >= $d.w])}",
          "id BIGINT, r BIGINT")
      }
      // seeded permutation + different partitioning: same rows, new order
      val perm = rnd.shuffle(rows)
      val dfPerm = spark.createDataFrame(perm.asJava, schema)
        .repartition(1 + rnd.nextInt(4))
      val a = JsonataDF.transformAs(df, expr, StructType.fromDDL(ddl))
        .orderBy("id").collect().map(_.toSeq).toSeq
      val b = JsonataDF.transformAs(dfPerm, expr, StructType.fromDDL(ddl))
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(a.size == b.size, s"[ts-fuzz #$n] row count differs under permutation: $expr")
      a.zip(b).foreach { case (ra, rb) =>
        assert(ra == rb, s"[ts-fuzz #$n] $expr\n  recorded order: $ra\n  permuted:       $rb")
      }
      JsonataCompiler.transformCompiled(df, expr).foreach { c =>
        if (expr.contains("#$") || expr.contains("@$")) compiled += 1
        val cc = c.orderBy("id").collect().map(_.toSeq).toSeq
        assert(cc.size == a.size, s"[ts-fuzz #$n] compiled row count differs: $expr")
        cc.zip(a).foreach { case (rc, ra) =>
          assert(rc == ra, s"[ts-fuzz #$n] $expr\n  compiled:    $rc\n  interpreted: $ra")
        }
      }
    }
    // today's gate, pinned: every BIND-bearing draw must fall back to the
    // tuple-stream interpreter (cases 5/6 — `%` without binds — may
    // compile, and then the differential above already ran). If the
    // compiler ever learns binds, the auto-differential keeps the claim
    // honest and this pin gets consciously retired.
    if (seedOff == 0L) assert(compiled == 0,
      s"$compiled bind-bearing shape(s) claimed by the compiler — " +
        "the tuple-stream gate moved; retire this pin only with the " +
        "differential above green")
  }
}
