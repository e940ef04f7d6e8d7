package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[CharNgrams]] — one implementation for interpreted
  * and generated paths (the [[EntropyScan]] discipline). */
class CharNgramScan(n: Int) extends Serializable {

  /** All width-`n` CHARACTER grams of `text` in one pass over the UTF-8
    * bytes. Character boundaries come from the leading-byte table (the
    * same rule `substring`/`split` follow), found once each; every gram
    * is a ZERO-COPY `UTF8String` wrapping its byte region of the input —
    * no per-gram allocation beyond the 16-byte wrapper. The quadratic
    * trap this exists to kill: `substring(text, i, n)` must re-scan from
    * byte 0 to locate char i (multi-byte safety), so gramming via a
    * position sequence is O(len²) per document. Texts shorter than `n`
    * chars yield the whole text as the single gram — matching
    * `substring(text, 1, n)` on a short string. */
  def grams(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    if (len == 0) return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    // char start offsets, found once
    var nChars = 0
    var i = 0
    while (i < len) {
      i += UTF8String.numBytesForFirstByte(bytes(i))
      nChars += 1
    }
    val starts = new Array[Int](nChars + 1)
    i = 0; var c = 0
    while (i < len) {
      starts(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    starts(nChars) = len
    if (nChars < n + 1) {
      return new GenericArrayData(Array[Any](UTF8String.fromBytes(bytes, 0, len)))
    }
    val out = new Array[Any](nChars - n + 1)
    var g = 0
    while (g < out.length) {
      out(g) = UTF8String.fromBytes(bytes, starts(g), starts(g + n) - starts(g))
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** Native character n-grams: `char_ngrams(text, n)` →
  * `array<string>` of every width-n character window.
  *
  * Why a custom expression (SURVEY §2.10 preference order): both
  * built-in formulations are wrong at corpus scale — the position-
  * sequence form (`transform(sequence(...), i -> substring(text, i,
  * n))`) is O(len²) because each substring re-scans for its char
  * offset, and the split/zip_with form is linear but runs its lambda
  * INTERPRETED per gram (higher-order functions do not participate in
  * whole-stage codegen) and allocates the full char array plus two
  * slices first. This expression finds each char boundary once and
  * wraps grams zero-copy; measured 3.4× over the zip_with form on the
  * langid gram pass (0.81 → 0.24 s sf0.1, same JVM) and 4.4× on the
  * whole text_langid query vs the original position form (5.0 → 1.14 s,
  * both gram passes replaced). */
case class CharNgrams(child: Expression, n: Int)
    extends NativeUnaryExpression("char_ngrams", StringType) {
  require(n >= 1, s"char_ngrams: n must be >= 1: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient override protected lazy val kernel: CharNgramScan = new CharNgramScan(n)

  override protected def scalaCall(input: Any): Any =
    kernel.grams(input.asInstanceOf[UTF8String])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.grams($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgrams {
  /** Column entry point: all width-n character grams of `text`. */
  def charNgrams(text: Column, n: Int): Column =
    ExprBridge.column(CharNgrams(ExprBridge.expression(text), n))
}
