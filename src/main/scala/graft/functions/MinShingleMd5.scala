package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[MinShingleMd5]] — one implementation for both the
  * interpreted and generated paths, hashing with the per-thread [[Md5]]
  * digest. */
object ShingleScan extends Serializable {

  /** Minimum MD5 over all `width`-CHAR shingles of `text`, as lowercase
    * hex — bit-identical to
    * `array_min(transform(sequence(1, greatest(length(text)-width+1, 1)),
    *            i -> md5(substring(text, i, width))))`:
    * windows step by character (substring semantics), each window hashes
    * its UTF-8 bytes, and unsigned byte-order comparison of digests is
    * exactly lexicographic order of their lowercase-hex strings (hex
    * digits ascend in ASCII), so only the winning digest is ever
    * hex-encoded. Texts shorter than `width` hash the whole text once,
    * matching substring's past-end clamp. */
  def minShingleMd5(text: UTF8String, width: Int): UTF8String = {
    val b = text.getBytes
    val n = b.length
    val digest = Md5.get()
    var min: Array[Byte] = null
    // end0 = byte offset after the first window's `width` chars
    var end = 0
    var chars = 0
    while (end < n && chars < width) {
      end += UTF8String.numBytesForFirstByte(b(end))
      chars += 1
    }
    var start = 0
    var done = false
    while (!done) {
      digest.reset()
      digest.update(b, start, end - start)
      val d = digest.digest()
      if (min == null || Md5.order.lt(d, min)) min = d
      if (end >= n) done = true
      else {
        start += UTF8String.numBytesForFirstByte(b(start))
        end += UTF8String.numBytesForFirstByte(b(end))
      }
    }
    Md5.hex(min)
  }
}

/** Native winnowing fingerprint: `min_shingle_md5(text, w)` ≡
  * `array_min(transform(sequence(1, greatest(length(text)-w+1, 1)),
  *            i -> md5(substring(text, i, w))))`.
  *
  * Why a custom expression (SURVEY §2.10, same preference order as
  * [[MinHashSig]]): the column form is an interpreted `transform` lambda
  * (higher-order functions are CodegenFallback) that materializes a
  * sequence array AND an array of 32-char md5 strings per row — for a
  * 4 KB document that is ~4 000 intermediate UTF8Strings — before
  * `array_min` scans them. This expression slides one two-cursor window
  * over the UTF-8 bytes, keeps the minimum 16-byte digest, and encodes
  * hex once per ROW, inside whole-stage codegen. */
case class MinShingleMd5(child: Expression, width: Int)
    extends NativeUnaryExpression("min_shingle_md5", StringType) {

  require(width > 0, s"min_shingle_md5: width must be positive: $width")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def kernel: ShingleScan.type = ShingleScan

  override protected def scalaCall(input: Any): Any =
    ShingleScan.minShingleMd5(input.asInstanceOf[UTF8String], width)
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.minShingleMd5($in, $width)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinShingleMd5 {
  /** Column entry point: min MD5 over `width`-char shingles of `text`. */
  def minShingleMd5(text: Column, width: Int): Column =
    ExprBridge.column(MinShingleMd5(ExprBridge.expression(text), width))
}
