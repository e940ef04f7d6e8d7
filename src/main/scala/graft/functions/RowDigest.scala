package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One row's md5 in progress: the typed-append kernel of the row hashes
  * ([[Md5ConcatWs]], [[RowChecksumMd5]]), which their interpreted and
  * generated paths both call. Each `put` streams one field's text —
  * exactly the bytes `CAST(field AS STRING)` gives — into this thread's
  * [[Md5]] digest, with no intermediate string:
  *  - an integral value as its ASCII digits (`Long.toString`);
  *  - a decimal as its unscaled long with the point placed by the scale
  *    (`Decimal.toPlainString`; for a scale of at most 6, which is all
  *    [[TypedRowHash]] sends here, also `Decimal.toString`: Java's
  *    BigDecimal only switches to exponent form past scale 6);
  *  - a string as its UTF-8 bytes.
  *
  * Fields join with `sep`. With `lengthPrefixed` each field is its
  * character count in ASCII digits, ':', then its text, and a null is
  * the prefix-less `~null~`; without it a null is skipped, as
  * `concat_ws` skips it. A row allocates this writer and the 32 bytes
  * that serve as the digit scratch and then hold the hex result. */
final class RowDigest(sep: Array[Byte], lengthPrefixed: Boolean) {
  import RowDigest._

  private val digest = Md5.get()
  digest.reset()
  private val buf = new Array[Byte](32)
  private var first = true

  private def next(): Unit = if (first) first = false else digest.update(sep)

  def putNull(): Unit = if (lengthPrefixed) { next(); digest.update(NullMarker) }

  def putLong(v: Long): Unit = putAscii(digits(v, buf, buf.length))

  def putDecimal(v: Decimal): Unit = putAscii(plain(v.toUnscaledLong, v.scale, buf))

  def putString(v: UTF8String): Unit = {
    next()
    if (lengthPrefixed) {
      buf(buf.length - 1) = ':'
      val s = digits(v.numChars, buf, buf.length - 1)
      digest.update(buf, s, buf.length - s)
    }
    // wraps the value's own bytes when it sits in a byte array
    digest.update(v.getByteBuffer)
  }

  /** The field whose ASCII text fills `buf` from `start` to the end:
    * its byte count is its character count, and the prefix goes in
    * front of it. */
  private def putAscii(start: Int): Unit = {
    next()
    var s = start
    if (lengthPrefixed) {
      s -= 1
      buf(s) = ':'
      s = digits(buf.length - start, buf, s)
    }
    digest.update(buf, s, buf.length - s)
  }

  /** Lowercase hex of the row's digest. */
  def hex(): UTF8String = Md5.hex(digest.digest(), buf)
}

object RowDigest {
  private val NullMarker = "~null~".getBytes(UTF_8)

  /** `v`'s decimal text, right-aligned to end before `end` in `buf`;
    * returns where it starts. Digits come off a non-positive copy, so
    * `Long.MinValue` needs no special case. */
  private def digits(v: Long, buf: Array[Byte], end: Int): Int = {
    var n = if (v < 0) v else -v
    var p = end
    do {
      p -= 1
      buf(p) = ('0' - n % 10).toByte
      n /= 10
    } while (n != 0)
    if (v < 0) { p -= 1; buf(p) = '-' }
    p
  }

  /** The plain text of `unscaled`·10^-`scale` (`scale` ≥ 0), right-
    * aligned to the end of `buf`; returns where it starts. */
  private def plain(unscaled: Long, scale: Int, buf: Array[Byte]): Int =
    if (scale == 0) digits(unscaled, buf, buf.length)
    else {
      var n = if (unscaled < 0) unscaled else -unscaled
      var p = buf.length
      var i = 0
      while (i < scale) { p -= 1; buf(p) = ('0' - n % 10).toByte; n /= 10; i += 1 }
      p -= 1
      buf(p) = '.'
      do {
        p -= 1
        buf(p) = ('0' - n % 10).toByte
        n /= 10
      } while (n != 0)
      if (unscaled < 0) { p -= 1; buf(p) = '-' }
      p
    }
}

/** The Catalyst shell of the typed row hashes: a string-valued, never-
  * null md5 over its children, each appended by [[RowDigest]] from its
  * own type. Integral children go in as longs, decimals of precision
  * ≤ 18 and scale 0–6 as compact decimals, default-collation strings as
  * their bytes; every other child goes through Spark's own
  * `CAST(child AS STRING)` (carrying this expression's time zone, eval
  * mode and origin) and is appended as that string, so each field's
  * bytes are the Cast's by construction. Both paths call the one kernel,
  * the generated code stays inside whole-stage codegen, and nothing
  * builds a per-row string or digest.
  *
  * Time-zone aware so the analyzer gives the fallback Casts the session
  * zone, as it gives a Cast written in the query. */
abstract class TypedRowHash(sepText: String, lengthPrefixed: Boolean)
  extends Expression with TimeZoneAwareExpression with Serializable {

  def evalMode: EvalMode.Value

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def flatArguments: Iterator[Any] = Iterator(sepText) ++ children

  private val sep = sepText.getBytes(UTF_8)

  // how each child is appended: 0 integral, 1 compact decimal, 2 string
  @transient private lazy val fields: Seq[(Int, Expression)] = children.map { c =>
    c.dataType match {
      case ByteType | ShortType | IntegerType | LongType => (0, c)
      case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS &&
        d.scale >= 0 && d.scale <= 6 => (1, c)
      case StringType => (2, c)
      case _ => (2, CurrentOrigin.withOrigin(origin)(
        Cast(c, StringType, timeZoneId, evalMode)))
    }
  }

  override def checkInputDataTypes(): TypeCheckResult =
    fields.map(_._2.checkInputDataTypes()).find(_.isFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  override def eval(input: InternalRow): Any = {
    val row = new RowDigest(sep, lengthPrefixed)
    fields.foreach { case (kind, e) =>
      val v = e.eval(input)
      if (v == null) row.putNull()
      else if (kind == 0) row.putLong(v.asInstanceOf[Number].longValue)
      else if (kind == 1) row.putDecimal(v.asInstanceOf[Decimal])
      else row.putString(v.asInstanceOf[UTF8String])
    }
    row.hex()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RowDigest].getName
    val row = ctx.freshName("row")
    val sepRef = ctx.addReferenceObj("sep", sep, "byte[]")
    val puts = fields.map { case (kind, e) =>
      val c = e.genCode(ctx)
      val put = Seq("putLong", "putDecimal", "putString")(kind)
      s"""${c.code}
         |if (${c.isNull}) $row.putNull(); else $row.$put(${c.value});""".stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      $cls $row = new $cls($sepRef, $lengthPrefixed);
      $puts
      UTF8String ${ev.value} = $row.hex();
      """, isNull = FalseLiteral)
  }
}
