package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[NgramHashes]] — one implementation for both the
  * interpreted and generated paths, like [[ShingleScan]]. */
object NgramScan extends Serializable {

  /** Distinct XXH64 hashes (seed 42) of the word n-grams of `text`, where
    * words are the single-space split and each n-gram is the EXACT byte
    * region from the start of word i to the end of word i+n-1.
    *
    * Equivalent to the column stack it replaces —
    * `array_distinct(transform(sequence(1, size(split(text,' ')) - n + 1),
    *    i -> concat_ws(' ', slice(split(text,' '), i, n))))`
    * hashed with `xxhash64` — because splitting on a single space and
    * re-joining with a single space reproduces the original substring
    * byte-for-byte (empty words from runs of spaces round-trip too), and
    * a 0x20 byte never occurs inside a multi-byte UTF-8 sequence, so the
    * byte scan finds exactly the split boundaries. Distinct-of-hashes
    * equals hash-of-distinct up to 64-bit collisions (~p²/2⁶⁵ for p grams
    * — negligible at any realistic corpus size, and any collision only
    * merges two grams, never drops a document).
    *
    * Fewer than `n` words → empty array (callers explode, so such rows
    * simply vanish — same effect as the `size(split) >= n` pre-filter). */
  def distinctNgramHashes(text: UTF8String, n: Int): ArrayData = {
    val b = text.getBytes
    val len = b.length
    // word starts: 0 and every byte after a 0x20
    var words = 1
    var i = 0
    while (i < len) { if (b(i) == 0x20) words += 1; i += 1 }
    val grams = words - n + 1
    if (grams <= 0) return new GenericArrayData(Array.emptyLongArray)
    // ring buffer of the last n word-start offsets
    val starts = new Array[Int](n)
    // open-addressed distinct set; capacity = next pow2 >= 2*grams
    var cap = 4
    while (cap < grams * 2) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    var hasZero = false
    val out = new Array[Long](grams)
    var outN = 0
    var word = 0      // index of the word starting at the scan cursor
    var start = 0     // byte offset of word `word`
    var pos = 0       // scan cursor
    // iterate every word; the gram ENDING at word w (w >= n-1) spans
    // bytes [starts((w-n+1) % n), end of w)
    while (word < words) {
      starts(word % n) = start
      // advance to the end of word `word` (next 0x20 or EOF)
      while (pos < len && b(pos) != 0x20) pos += 1
      if (word >= n - 1) {
        val gs = starts((word - n + 1) % n)
        val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + gs, pos - gs, 42L)
        // insert-if-absent; 0 needs a flag since it is the empty slot marker
        if (h == 0L) {
          if (!hasZero) { hasZero = true; out(outN) = 0L; outN += 1 }
        } else {
          var slot = (h & mask).toInt
          while (table(slot) != 0L && table(slot) != h) slot = (slot + 1) & mask
          if (table(slot) == 0L) { table(slot) = h; out(outN) = h; outN += 1 }
        }
      }
      pos += 1        // skip the space
      start = pos
      word += 1
    }
    new GenericArrayData(if (outN == grams) out else java.util.Arrays.copyOf(out, outN))
  }
}

/** Native word-n-gram hasher: `ngram_hashes(text, n)` → the distinct
  * `xxhash64` values of the text's word n-grams, as `array<long>`.
  *
  * Why a custom expression (SURVEY §2.10, same preference order as
  * [[MinHashSig]]): the column form — split, `sequence`, `transform` with
  * `slice` + `concat_ws`, `array_distinct` — is a CodegenFallback lambda
  * stack that materializes the word array, an index array, and one STRING
  * per gram (for a 200-word document: ~200 intermediate UTF8Strings plus
  * three arrays) before the join even sees a key. This expression makes
  * one pass over the UTF-8 bytes, hashes each gram's byte region in
  * place (no gram string ever exists), dedups in an open-addressed long
  * set, and stays inside whole-stage codegen. Downstream joins then key
  * on 8-byte longs instead of multi-word strings — smaller broadcast,
  * cheaper probe. */
case class NgramHashes(child: Expression, n: Int)
    extends NativeUnaryExpression("ngram_hashes", StringType) {

  require(n > 0, s"ngram_hashes: n must be positive: $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def kernel: NgramScan.type = NgramScan

  override protected def scalaCall(input: Any): Any =
    NgramScan.distinctNgramHashes(input.asInstanceOf[UTF8String], n)
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.distinctNgramHashes($in, $n)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramHashes {
  /** Column entry point: distinct word-n-gram hashes of `text`. */
  def ngramHashes(text: Column, n: Int): Column =
    ExprBridge.column(NgramHashes(ExprBridge.expression(text), n))
}
