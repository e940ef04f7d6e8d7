package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Shared kernel for [[DotProduct]] — one implementation for both the
  * interpreted and generated paths, like [[SimHashScan]]. */
object DotScan extends Serializable {

  /** Whether `x·y` is defined: equal lengths and, when `checkNulls`, no
    * null element on either side. */
  def defined(x: ArrayData, y: ArrayData, checkNulls: Boolean): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return false
    if (checkNulls) {
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return false
        i += 1
      }
    }
    true
  }

  /** Sequential left-to-right sum of the element products from 0.0 —
    * callers check [[defined]] first. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }
}

/** Native Catalyst dot product over two double arrays, with `doGenCode` —
  * the one place (SURVEY §2.10) where a custom expression beats every
  * built-in alternative: `zip_with`/`aggregate` are CodegenFallback
  * (interpreted, ~3× slower at millions of pairs — round-1 bench), and a
  * literal `element_at` unroll fixes the dimensionality at plan time and
  * overflows janino's nesting depth when several chains share a codegen
  * method (round-2 ERROR CodeGenerator). The [[DotScan]] loop is tiny,
  * dimension-agnostic, and called from inside whole-stage codegen.
  *
  * Accumulation is sequential left-to-right from 0.0 — bit-identical to
  * the `aggregate(zip_with(...))` fold it replaces, so oracle hashes are
  * unchanged.
  *
  * Null contract (matches the `aggregate(zip_with(...))` form this
  * replaced): a null array, arrays of different lengths, or a null
  * element all yield NULL — never a silently-truncated partial sum. An
  * upstream dimensionality bug must surface as a visible null, not a
  * plausible wrong similarity (round-2 review finding). The per-element
  * null check only runs when an input's `containsNull` says it can
  * fire, so trusted pipelines pay nothing for it.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  /** Nullable even when both children are non-null: a length mismatch or
    * a null element produces null regardless of input nullability. */
  override def nullable: Boolean = true

  // manual check (ExpectsInputTypes is private[sql]): both sides must be
  // array<double>; callers cast, there is no implicit coercion here
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_product expects (array<double>, array<double>), got ($l, $r)")
    }

  /** Whether either input can legally hold null elements; parquet array
    * columns say true, literals (the LSH hyperplanes) say false. Lazy val,
    * not def: the interpreted path reads it per row (round-4 advice). */
  private lazy val elementsNullable: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, ln), ArrayType(_, rn)) => ln || rn
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (DotScan.defined(x, y, elementsNullable)) DotScan.dot(x, y) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val scan = ctx.addReferenceObj("dotScan", DotScan, DotScan.getClass.getName)
      s"""
         |if ($scan.defined($a, $b, $elementsNullable)) {
         |  ${ev.value} = $scan.dot($a, $b);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-level entry point: `dot(a, b)` over `array<double>` columns. */
  def dot(a: Column, b: Column): Column =
    ExprBridge.column(
      DotProduct(ExprBridge.expression(a), ExprBridge.expression(b)))
}
