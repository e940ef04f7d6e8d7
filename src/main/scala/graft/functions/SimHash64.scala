package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Shared scanner for [[SimHash64]] — one implementation for both the
  * interpreted and generated paths, like [[ShingleScan]]. */
object SimHashScan extends Serializable {

  /** 64-bit SimHash of a token array: each token's 64-bit hash — the
    * first 16 hex chars of md5(t), i.e. the big-endian first 8 digest
    * bytes — votes +1/−1 per bit position; the result sets bit b iff the
    * vote sum is positive. md5 instead of the round-6..11 seeded
    * xxhash64 for the same reason as [[MinHashSig]]: every engine spells
    * md5 identically, so a SQL oracle can rebuild the exact fingerprint
    * from `substr(md5(t), …)` arithmetic (round 12; bit b<32 comes from
    * hex chars 9..16, b≥32 from chars 1..8 — two 32-bit halves, so the
    * oracle never touches a signed-overflow-prone 64-bit literal).
    * Null tokens are skipped (the md5 column stack maps them to null
    * votes an aggregate ignores); duplicates vote once per occurrence —
    * SimHash is frequency-weighted by definition. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    val md = Md5.get()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val dig = md.digest(arr.getUTF8String(j).getBytes)
        var h = 0L; var k = 0
        while (k < 8) { h = (h << 8) | (dig(k) & 0xffL); k += 1 }
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Native one-pass SimHash: `simhash64(toks)` over `array<string>` → the
  * 64-bit frequency-weighted fingerprint.
  *
  * Why a custom expression (SURVEY §2.10, same preference order as
  * [[MinHashSig]]): the column form explodes every token into a row and
  * runs a 64-buffer conditional-sum hash aggregate — the corpus's full
  * token stream shuffles to compute what is a per-document projection.
  * This expression hashes each token once and updates 64 vote counters
  * in-place inside whole-stage codegen: no explode, no shuffle, no
  * aggregation state. An empty array yields 0L (no votes); `split` never
  * produces one in practice (empty text → [""]). */
case class SimHash64(child: Expression)
    extends NativeUnaryExpression("simhash64", ArrayType(StringType)) {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def kernel: SimHashScan.type = SimHashScan

  override protected def scalaCall(input: Any): Any =
    SimHashScan.simhash64(input.asInstanceOf[ArrayData])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.simhash64($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** Column entry point: 64-bit SimHash of an `array<string>` column. */
  def simhash64(toks: Column): Column =
    ExprBridge.column(SimHash64(ExprBridge.expression(toks)))
}
