package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType}

/** Shared kernel for [[ExactDecimal]] — one implementation for both the
  * interpreted and generated paths (the [[RowDigest]] discipline).
  *
  * `Cast(x AS DECIMAL(p,s))` on a double is defined as: parse
  * `D = Double.toString(x)` as a BigDecimal, HALF_UP it to scale `s`,
  * and reject (null, or an ANSI error) a result of more than `p` digits.
  * [[unscaled]] computes the same HALF_UP'd unscaled long in primitive
  * arithmetic whenever that provably gives Cast's answer, and returns
  * [[Fallback]] otherwise.
  *
  * The fast-path bound. Let `y = fl(x·10^s)` (10^s is exact as a double
  * for s ≤ 18). The kernel answers only when `|y| < 2^40`, the fraction
  * of `|y|` is at least 1e-3 away from .5, and the rounded magnitude is
  * below 10^p. The proof uses only that `Double.toString(x)` parses back
  * to `x` — on JDK 17 the string is not always the shortest one, so
  * nothing may assume it is:
  *  - round-trip means `|D − x| ≤ ulp(x)/2 ≤ 2^-53·|x|`, so
  *    `|D·10^s − x·10^s| ≤ 2^-53·|x·10^s| < 2^-13` (`|y| < 2^40`
  *    implies `|x·10^s| < 2^40`: rounding is monotone and 2^40 is a
  *    double);
  *  - the product's own rounding is at most `ulp(y)/2 ≤ 2^-14`;
  *  - so `|y − D·10^s| < 2^-12 ≈ 2.4e-4 < 1e-3`. HALF_UP only jumps
  *    where the fraction is .5, so `sign(y)·⌊|y| + ½⌋` (exact: `|y| + ½`
  *    needs no rounding below 2^52) equals Cast's unscaled value, and a
  *    magnitude below 10^p passes Cast's precision check unchanged.
  *
  * Everything else — NaN and ±∞ (they fail `|y| < 2^40`), magnitudes at
  * or past 2^40/10^s, near-ties and results that reach 10^p — goes to
  * Cast itself. */
object ExactDecimalKernel {
  /** "Take Cast's path": never a valid answer, which is below 10^18. */
  final val Fallback = Long.MinValue

  private val FastLimit = (1L << 40).toDouble
  private val TieBand = 1e-3
  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  private val Pow10d: Array[Double] = Pow10.map(_.toDouble)

  /** Cast's unscaled `DECIMAL(p,s)` value of `x`, or [[Fallback]]. */
  def unscaled(x: Double, p: Int, s: Int): Long = {
    val y = x * Pow10d(s)
    val a = math.abs(y)
    if (!(a < FastLimit)) return Fallback
    val f = math.floor(a)
    val frac = a - f
    if (math.abs(frac - 0.5) < TieBand) return Fallback
    val m = (if (frac > 0.5) f + 1 else f).toLong
    if (m >= Pow10(p)) Fallback
    else if (y < 0) -m
    else m
  }
}

/** The already-evaluated double that [[ExactDecimal]]'s fallback Cast
  * reads: the generated class's field `name` (a field, not a local, so
  * the Cast's code stays valid if Spark splits it into its own method),
  * field 0 of the input row when interpreted. */
private[functions] case class DoubleSlot(name: String) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = input.getDouble(0)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode(FalseLiteral, JavaCode.variable(name, DoubleType))
}

/** `exact_decimal(child, p, s)` ≡ `CAST(child AS DECIMAL(p,s))`, p ≤ 18,
  * without Cast's per-row `Double.toString` + BigDecimal parse on a
  * double child.
  *
  * For a `DoubleType` child the HALF_UP'd unscaled long comes from
  * [[ExactDecimalKernel.unscaled]] in primitive arithmetic and is
  * returned as a compact `Decimal` (`Decimal.createUnsafe`); where the
  * kernel declines (see its bound) the value goes through Spark's own
  * Cast. Any other child type is that Cast outright. Value, nullability,
  * SQL text and ANSI errors are therefore Cast's by construction; the
  * fallback Casts carry this expression's origin so an ANSI error
  * points at the same query context. */
case class ExactDecimal(
    child: Expression,
    precision: Int,
    scale: Int,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
  extends UnaryExpression {

  require(precision <= Decimal.MAX_LONG_DIGITS && scale >= 0 && scale <= precision,
    s"exact_decimal needs 0 <= scale <= precision <= 18: ($precision, $scale)")

  override def dataType: DecimalType = DecimalType(precision, scale)
  override def prettyName: String = "exact_decimal"
  override protected def flatArguments: Iterator[Any] =
    Iterator(child, precision, scale)

  private def castOf(e: Expression): Cast =
    CurrentOrigin.withOrigin(origin)(Cast(e, dataType, None, evalMode))

  @transient private lazy val cast = castOf(child)
  @transient private lazy val valueCast = castOf(DoubleSlot("unused"))
  private def fast = child.dataType == DoubleType

  override def nullable: Boolean = cast.nullable
  override def checkInputDataTypes(): TypeCheckResult = cast.checkInputDataTypes()
  // auto-generated column names read `sql`, so they stay Cast's
  override def sql: String = cast.sql

  override def eval(input: InternalRow): Any =
    if (!fast) cast.eval(input)
    else {
      val v = child.eval(input)
      if (v == null) null
      else {
        val x = v.asInstanceOf[Double]
        val r = ExactDecimalKernel.unscaled(x, precision, scale)
        if (r != ExactDecimalKernel.Fallback) Decimal.createUnsafe(r, precision, scale)
        else valueCast.eval(InternalRow(x))
      }
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!fast) cast.genCode(ctx)
    else {
      val c = child.genCode(ctx)
      val x = ctx.freshName("x")
      val r = ctx.freshName("unscaled")
      val slot = ctx.addMutableState(CodeGenerator.JAVA_DOUBLE, "exactDecimalIn")
      val fb = castOf(DoubleSlot(slot)).genCode(ctx)
      val kernel = ExactDecimalKernel.getClass.getName.stripSuffix("$")
      ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = ${c.isNull};
        Decimal ${ev.value} = null;
        if (!${ev.isNull}) {
          double $x = ${c.value};
          long $r = $kernel.unscaled($x, $precision, $scale);
          if ($r != ${ExactDecimalKernel.Fallback}L) {
            ${ev.value} = Decimal.createUnsafe($r, $precision, $scale);
          } else {
            $slot = $x;
            ${fb.code}
            ${ev.isNull} = ${fb.isNull};
            ${ev.value} = ${fb.value};
          }
        }
      """)
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ExactDecimal {
  /** Column entry point: `CAST(c AS DECIMAL(p,s))`, exact, p ≤ 18. */
  def exactDecimal(c: Column, p: Int, s: Int): Column =
    ExprBridge.column(ExactDecimal(ExprBridge.expression(c), p, s))
}
