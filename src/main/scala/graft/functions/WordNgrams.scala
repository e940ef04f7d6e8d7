package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[WordNgrams]] — one implementation for interpreted
  * and generated paths (the [[CharNgramScan]] discipline, applied to
  * WORD windows). */
class WordNgramScan(n: Int) extends Serializable {

  /** DISTINCT word `n`-grams of `text` in first-occurrence order —
    * bit-identical to
    * `array_distinct(transform(sequence(1, m−n+1),
    *    i -> array_join(slice(toks, i, n), " ")))` over
    * `toks = filter(split(text, " "), t -> t != "")`, and an empty
    * array when fewer than `n` tokens (the sequence() descending-range
    * guard). One pass over the UTF-8 bytes: token boundaries are found
    * once by scanning for the 0x20 byte (no UTF-8 continuation byte
    * equals 0x20, so byte scanning is multi-byte-safe; empty runs from
    * consecutive spaces are skipped exactly like the filter); a gram
    * whose tokens are adjacent with single spaces — the common case —
    * is a ZERO-COPY wrapper over its byte region, and only grams
    * spanning a multi-space run allocate a joined buffer. */
  def grams(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val ts = new ArrayBuffer[Int]
    val te = new ArrayBuffer[Int]
    var i = 0
    var s = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        if (i > s) { ts += s; te += i }
        s = i + 1
      }
      i += 1
    }
    val m = ts.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]
    var g = 0
    while (g <= m - n) {
      var contiguous = true
      var j = g
      while (contiguous && j < g + n - 1) {
        contiguous = ts(j + 1) == te(j) + 1
        j += 1
      }
      val u =
        if (contiguous) UTF8String.fromBytes(bytes, ts(g), te(g + n - 1) - ts(g))
        else {
          var tot = n - 1
          j = g
          while (j < g + n) { tot += te(j) - ts(j); j += 1 }
          val out = new Array[Byte](tot)
          var o = 0
          j = g
          while (j < g + n) {
            if (j > g) { out(o) = ' '; o += 1 }
            System.arraycopy(bytes, ts(j), out, o, te(j) - ts(j))
            o += te(j) - ts(j)
            j += 1
          }
          UTF8String.fromBytes(out)
        }
      seen.add(u)
      g += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** Native distinct word n-grams: `word_ngrams(text, n)` →
  * `array<string>` (SURVEY §2.10 preference order): the column spelling
  * `array_distinct(transform(sequence(...), i -> array_join(slice(toks,
  * i, n), " ")))` runs its lambda INTERPRETED per position (higher-order
  * functions are CodegenFallback), allocating a slice array and a joined
  * string per gram before array_distinct rescans them — measured 3.3 s
  * on text_boilerplate_ngrams at sf0.1 where this one-pass scanner
  * (boundaries found once, common-case grams wrapped zero-copy over the
  * input bytes, dedup in the same pass) runs the identical contract
  * inside whole-stage codegen. */
case class WordNgrams(child: Expression, n: Int)
    extends NativeUnaryExpression("word_ngrams", StringType) {
  require(n >= 1, s"word_ngrams: n must be >= 1: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient override protected lazy val kernel: WordNgramScan = new WordNgramScan(n)

  override protected def scalaCall(input: Any): Any =
    kernel.grams(input.asInstanceOf[UTF8String])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.grams($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordNgrams {
  /** Column entry point: distinct word n-grams of `text`. */
  def wordNgrams(text: Column, n: Int): Column =
    ExprBridge.column(WordNgrams(ExprBridge.expression(text), n))
}
