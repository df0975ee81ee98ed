package graft.spark

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd one-pass numeric-array fold — the engine for the compiled
  * tier's `$sum`/`$min`/`$max`/`$average` over ARRAY results (wildcard and
  * descendant enumerations, staged-path survivors, HOF outputs). The
  * `filter(isNotNull) → transform(cast) → aggregate(seed, +)` compose it
  * replaces is three `LambdaFunction`-bearing HOFs, every one a
  * CodegenFallback that also blocks subexpression elimination — measured at
  * ~1M rows the $sum consumer alone held the compiled wildcard row to
  * parity with the interpreted engine.
  *
  * Exact semantics of the replaced compose, pinned by ArrayFoldSpec on both
  * eval paths:
  *  - NULL array → NULL; null ELEMENTS are skipped (the tier's
  *    undefined-item rule at these call sites);
  *  - SUM: seed 0 (so empty / all-null arrays fold to 0, matching
  *    `aggregate` with a seed); long accumulation wraps (the legacy
  *    non-ANSI add the compose used), double accumulation is
  *    left-to-right in element order (bit-identical to the fold);
  *  - MIN/MAX: empty / all-null arrays → NULL (array_min/array_max);
  *    float/double compares replicate Spark's NaN-GREATEST ordering
  *    (max picks NaN over any number, min never picks NaN unless all
  *    elements are NaN) — Java's compares-false NaN would diverge;
  *  - CNT: the non-null element count as a long (the $average divisor).
  *
  * `resType` is the accumulator/result type the compose produced: LongType
  * for integral elements, DoubleType for float/double SUM, the element
  * type itself for float/double MIN/MAX.
  */
case class NumArrayFold(child: Expression, op: Int, resType: DataType)
  extends UnaryExpression {

  import NumArrayFold._

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(et, _) if okElem(et) && okPair(et, op, resType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric array compatible with op=$op/" +
        s"${resType.catalogString}, got ${other.catalogString}")
  }

  override def dataType: DataType = if (op == Cnt) LongType else resType
  override def nullable: Boolean = true
  override def prettyName: String = "num_array_fold"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val et = elemType
    op match {
      case Cnt =>
        var c = 0L; var i = 0
        while (i < n) { if (!a.isNullAt(i)) c += 1L; i += 1 }
        c
      case Sum if resType == LongType =>
        var acc = 0L; var i = 0
        while (i < n) { if (!a.isNullAt(i)) acc += longAt(a, i, et); i += 1 }
        acc
      case Sum =>
        var acc = 0.0; var i = 0
        while (i < n) { if (!a.isNullAt(i)) acc += doubleAt(a, i, et); i += 1 }
        acc
      case _ if resType == LongType =>
        var found = false; var best = 0L; var i = 0
        while (i < n) {
          if (!a.isNullAt(i)) {
            val x = longAt(a, i, et)
            if (!found) { best = x; found = true }
            else if (if (op == Min) x < best else x > best) best = x
          }
          i += 1
        }
        if (found) best else null
      case _ if resType == FloatType =>
        var found = false; var best = 0.0f; var i = 0
        while (i < n) {
          if (!a.isNullAt(i)) {
            val x = a.getFloat(i)
            if (!found) { best = x; found = true }
            else {
              val wins =
                if (op == Min) !x.isNaN && (best.isNaN || x < best)
                else if (x.isNaN) !best.isNaN
                else !best.isNaN && x > best
              if (wins) best = x
            }
          }
          i += 1
        }
        if (found) best else null
      case _ =>
        var found = false; var best = 0.0; var i = 0
        while (i < n) {
          if (!a.isNullAt(i)) {
            val x = doubleAt(a, i, et)
            if (!found) { best = x; found = true }
            else {
              val wins =
                if (op == Min) !x.isNaN && (best.isNaN || x < best)
                else if (x.isNaN) !best.isNaN
                else !best.isNaN && x > best
              if (wins) best = x
            }
          }
          i += 1
        }
        if (found) best else null
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val et = elemType
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      // Locals MUST be fresh: when child.nullable is false, nullSafeExec
      // inlines this body without its own braces, so two NumArrayFold
      // instances in one generated function (the $average cnt+sum pair over
      // a non-nullable array) would otherwise declare duplicate `acc`/
      // `best`/`found` and fail Janino, silently losing codegen.
      val acc = ctx.freshName("acc")
      val get = CodeGenerator.getValue(arr, et, i)
      val body = op match {
        case Cnt =>
          s"""long $acc = 0L;
             |for (int $i = 0; $i < $n; $i++) {
             |  if (!$arr.isNullAt($i)) $acc += 1L;
             |}
             |${ev.value} = $acc;""".stripMargin
        case Sum if resType == LongType =>
          s"""long $acc = 0L;
             |for (int $i = 0; $i < $n; $i++) {
             |  if (!$arr.isNullAt($i)) $acc += (long) $get;
             |}
             |${ev.value} = $acc;""".stripMargin
        case Sum =>
          s"""double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  if (!$arr.isNullAt($i)) $acc += (double) $get;
             |}
             |${ev.value} = $acc;""".stripMargin
        case _ =>
          val (jt, nan, cast) = resType match {
            case LongType => ("long", null, "(long)")
            case FloatType => ("float", "java.lang.Float.isNaN", "(float)")
            case _ => ("double", "java.lang.Double.isNaN", "(double)")
          }
          val found = ctx.freshName("found")
          val best = ctx.freshName("best")
          val x = ctx.freshName("x")
          val cmp =
            if (nan == null) { if (op == Min) s"$x < $best" else s"$x > $best" }
            else if (op == Min) s"!$nan($x) && ($nan($best) || $x < $best)"
            else s"$nan($x) ? !$nan($best) : (!$nan($best) && $x > $best)"
          s"""boolean $found = false;
             |$jt $best = ($jt) 0;
             |for (int $i = 0; $i < $n; $i++) {
             |  if (!$arr.isNullAt($i)) {
             |    $jt $x = $cast $get;
             |    if (!$found) { $best = $x; $found = true; }
             |    else if ($cmp) { $best = $x; }
             |  }
             |}
             |if ($found) { ${ev.value} = $best; } else { ${ev.isNull} = true; }""".stripMargin
      }
      s"""final int $n = $arr.numElements();
         |$body""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NumArrayFold {
  val Sum = 0
  val Min = 1
  val Max = 2
  val Cnt = 3

  private def okElem(et: DataType): Boolean = et match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  }
  private def isIntegral(et: DataType): Boolean = et match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def okPair(et: DataType, op: Int, res: DataType): Boolean = op match {
    case Cnt => res == LongType
    // a DOUBLE sum accepts any element type (the $average path sums
    // integral elements in double, replaying the compose's cast-then-add)
    case Sum => res == DoubleType || (isIntegral(et) && res == LongType)
    case _ => if (isIntegral(et)) res == LongType else res == et
  }

  private def longAt(a: ArrayData, i: Int, et: DataType): Long = et match {
    case ByteType => a.getByte(i).toLong
    case ShortType => a.getShort(i).toLong
    case IntegerType => a.getInt(i).toLong
    case _ => a.getLong(i)
  }
  private def doubleAt(a: ArrayData, i: Int, et: DataType): Double = et match {
    case ByteType => a.getByte(i).toDouble
    case ShortType => a.getShort(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  import org.apache.spark.sql.Column
  def sum(c: Column, long: Boolean): Column = Shims.column(
    NumArrayFold(Shims.expression(c), Sum, if (long) LongType else DoubleType))
  def min(c: Column, res: DataType): Column =
    Shims.column(NumArrayFold(Shims.expression(c), Min, res))
  def max(c: Column, res: DataType): Column =
    Shims.column(NumArrayFold(Shims.expression(c), Max, res))
  def cnt(c: Column): Column =
    Shims.column(NumArrayFold(Shims.expression(c), Cnt, LongType))
}
