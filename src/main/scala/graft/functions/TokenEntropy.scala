package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[TokenEntropy]] — one implementation for both the
  * interpreted and generated paths, like [[NgramScan]]. */
object EntropyScan extends Serializable {

  // StrictMath, matching Spark's Log2 (UnaryLogExpression) bit-for-bit
  private val LOG2 = StrictMath.log(2.0)

  /** Per-document token entropy and token count in ONE pass over the
    * UTF-8 bytes: words are the single-space split (empty words from
    * space runs count, matching `split(text, ' ')` with its -1 limit),
    * per-token counts accumulate in an open-addressed map keyed by the
    * XXH64 (seed 42) of each word's byte region — no token string, no
    * (doc, token) row, no shuffle ever exists. A 0x20 byte never occurs
    * inside a multi-byte UTF-8 sequence, so the byte scan finds exactly
    * the split boundaries.
    *
    * Entropy is the same algebraic form as the aggregate stack this
    * replaces: `log2(n) − Σ c·log2(c) / n`. Summation order differs
    * from the hash-aggregate's partition order only in final-ulp terms
    * (counts are small integers), well inside the 4-dp presentation
    * rounding. Counting hashes instead of exact tokens merges two
    * tokens only on a 64-bit collision (~t²/2⁶⁵ per doc — negligible,
    * same caveat as [[NgramScan]]). */
  def entropyRow(text: UTF8String): InternalRow = {
    val b = text.getBytes
    val len = b.length
    var words = 1
    var i = 0
    while (i < len) { if (b(i) == 0x20) words += 1; i += 1 }
    var cap = 4
    while (cap < words * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val counts = new Array[Int](cap)
    val mask = cap - 1
    // h == 0 needs its own counter: 0 marks an empty slot
    var zeroCount = 0
    var word = 0
    var start = 0
    var pos = 0
    while (word < words) {
      while (pos < len && b(pos) != 0x20) pos += 1
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + start, pos - start, 42L)
      if (h == 0L) zeroCount += 1
      else {
        var slot = (h & mask).toInt
        while (keys(slot) != 0L && keys(slot) != h) slot = (slot + 1) & mask
        keys(slot) = h
        counts(slot) += 1
      }
      pos += 1
      start = pos
      word += 1
    }
    var s = 0.0
    var j = 0
    while (j < cap) {
      if (keys(j) != 0L) s += counts(j) * (StrictMath.log(counts(j)) / LOG2)
      j += 1
    }
    if (zeroCount > 0) s += zeroCount * (StrictMath.log(zeroCount) / LOG2)
    val n = words.toDouble
    val entropy = StrictMath.log(n) / LOG2 - s / n
    new GenericInternalRow(Array[Any](entropy, words.toLong))
  }
}

/** Native per-document token entropy: `token_entropy(text)` →
  * `struct<entropy: double, n_tokens: bigint>`.
  *
  * Why a custom expression (SURVEY §2.10 preference order): the
  * aggregate form — `explode(split(text))` → count per (doc, token) →
  * entropy per doc — multiplies the row stream by the token count and
  * shuffles that token-sized stream TWICE before collapsing back to one
  * row per document. At corpus scale the shuffle dwarfs the arithmetic:
  * entropy is a pure per-row property of the text. This expression
  * computes it map-only inside whole-stage codegen; the only remaining
  * exchange in the query is the presentation sort. */
case class TokenEntropy(child: Expression)
    extends NativeUnaryExpression("token_entropy", StringType) {

  override def dataType: DataType = StructType(Seq(
    StructField("entropy", DoubleType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))
  override def nullable: Boolean = true

  override protected def kernel: EntropyScan.type = EntropyScan

  override protected def scalaCall(input: Any): Any =
    EntropyScan.entropyRow(input.asInstanceOf[UTF8String])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"(InternalRow) $k.entropyRow($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenEntropy {
  /** Column entry point: (entropy, n_tokens) of the space-split tokens. */
  def tokenEntropy(text: Column): Column =
    ExprBridge.column(TokenEntropy(ExprBridge.expression(text)))
}
