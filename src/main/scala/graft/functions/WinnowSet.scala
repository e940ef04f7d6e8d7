package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[WinnowSet]] — the winnowing (MOSS) fingerprint
  * SET: the distinct minima of md5 over every `window`-shingle sliding
  * window of `width`-char shingles. Where [[ShingleScan.minShingleMd5]]
  * keeps ONE global minimum (a 1-value sketch good for identical-doc
  * detection), winnowing keeps one minimum PER WINDOW, which guarantees
  * any shared substring of ≥ width+window−1 chars contributes at least
  * one SHARED fingerprint — the published property that makes
  * substring-level overlap detectable from the set intersection. */
object WinnowScan extends Serializable {

  /** Distinct per-window md5 minima, sorted ascending, as lowercase-hex
    * strings. Shingle walk and clamp semantics are byte-identical to
    * [[ShingleScan.minShingleMd5]] (texts shorter than `width` hash once;
    * fewer than `window` shingles yield one window over all of them),
    * and digest comparison is unsigned byte order ≡ lexicographic order
    * of the hex strings — so the SQL twin (`min(h) OVER (ROWS BETWEEN
    * CURRENT ROW AND window−1 FOLLOWING)` over the shingle stream, full
    * windows only, then DISTINCT) reproduces the set exactly. */
  def winnowSet(text: UTF8String, width: Int, window: Int): ArrayData = {
    val b = text.getBytes
    val n = b.length
    val digest = Md5.get()
    val digs = mutable.ArrayBuffer.empty[Array[Byte]]
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
      digs += digest.digest()
      if (end >= n) done = true
      else {
        start += UTF8String.numBytesForFirstByte(b(start))
        end += UTF8String.numBytesForFirstByte(b(end))
      }
    }
    val m = digs.length
    val nwin = math.max(m - window + 1, 1)
    val mins = mutable.TreeSet.empty[Array[Byte]](Md5.order)
    var p = 0
    while (p < nwin) {
      var mn = digs(p)
      val lim = math.min(p + window, m)
      var j = p + 1
      while (j < lim) {
        if (Md5.order.lt(digs(j), mn)) mn = digs(j)
        j += 1
      }
      mins += mn
      p += 1
    }
    val out = new Array[AnyRef](mins.size)
    var i = 0
    mins.foreach { d =>
      out(i) = Md5.hex(d)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native winnowing fingerprint set: `winnow_set(text, width, window)` —
  * the distinct per-window minima of md5 over `width`-char shingles,
  * `window` shingles per window (SURVEY §2.10 preference order: the
  * column spelling is an interpreted higher-order-function stack that
  * materializes a per-position `list_slice` — measured 45× slower in the
  * DuckDB twin and CodegenFallback in Spark; this expression computes the
  * digests once and scans windows over the digest buffer in one pass
  * inside whole-stage codegen). */
case class WinnowSet(child: Expression, width: Int, window: Int)
    extends NativeUnaryExpression("winnow_set", StringType) {

  require(width > 0, s"winnow_set: width must be positive: $width")
  require(window > 0, s"winnow_set: window must be positive: $window")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override protected def kernel: WinnowScan.type = WinnowScan

  override protected def scalaCall(input: Any): Any =
    WinnowScan.winnowSet(input.asInstanceOf[UTF8String], width, window)
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.winnowSet($in, $width, $window)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowSet {
  /** Column entry point: distinct winnowing fingerprints of `text`. */
  def winnowSet(text: Column, width: Int, window: Int): Column =
    ExprBridge.column(WinnowSet(ExprBridge.expression(text), width, window))
}
