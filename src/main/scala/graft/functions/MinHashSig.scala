package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Shared scanner for [[MinHashSig]] — one implementation for both the
  * interpreted and generated paths, like [[ShingleScan]], hashing with
  * the per-thread [[Md5]] digest. */
object MinHashScan extends Serializable {

  /** The signature of `arr` under the coefficient pairs (`as(i)`,
    * `bs(i)`), or null when no token contributed. */
  def signature(arr: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](as.length)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = Md5.get()
    var contributed = false
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        contributed = true
        val dig = md.digest(arr.getUTF8String(j).getBytes)
        var b07 = 0L; var k = 0
        while (k < 8) { b07 = (b07 << 8) | (dig(k) & 0xffL); k += 1 }
        val x = b07 >>> 4 // first 15 hex chars (60 bits) — same slice the oracle takes
        var i = 0
        while (i < as.length) {
          val h = MinHashSig.affineModP(as(i), x, bs(i))
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    if (!contributed) null else new GenericArrayData(mins)
  }
}

/** Native one-pass MinHash signature over a token array: element i of the
  * result is `min over tokens t of ((a_i·x(t) + b_i) mod p)` with
  * `x(t)` = the first 60 bits of md5(t), `p` = 2^61−1 (Mersenne), and
  * (a_i, b_i) fixed pseudo-random coefficients — a pairwise-independent
  * linear hash family over a prime field, the textbook MinHash
  * construction.
  *
  * Two design constraints meet here (round 12):
  *  - CROSS-ENGINE: md5 is the one hash every engine spells identically,
  *    and `(a·x + b) mod p` is exact 128-bit integer arithmetic DuckDB
  *    evaluates natively on HUGEINT — so a SQL oracle rebuilds the exact
  *    signature and the whole MinHash+LSH pipeline hash-compares (DuckDB
  *    has no xxhash64, which kept dedup_minhash no-oracle for six rounds).
  *  - INDEPENDENCE: the first round-12 attempt derived h_i = h1 + i·h2
  *    from two md5 slices (Kirsch–Mitzenmacher). Fine for Bloom filters,
  *    WRONG for MinHash: for any token pair the comparison
  *    h_i(s) < h_i(t) is linear in i and flips at most once across
  *    i = 0..31, so the 32 agreement votes are near-perfectly correlated
  *    and the Jaccard estimate keeps O(1) variance — ScalaCheck falsified
  *    it with ({"s8"}, {"s8", ""}) estimating 0 against a true J = 0.5.
  *    Independent (a_i, b_i) per hash restore the 1/√32 concentration.
  *
  * The Spark side reduces `a·x mod p` with `Math.multiplyHigh` (a JIT
  * intrinsic) and two Mersenne folds — exact, no BigInteger on the hot
  * path; every output lies in [0, p).
  *
  * Null contract: null tokens are skipped; a null, empty, or all-null
  * array yields NULL. Token arrays are never empty in practice (`split`
  * returns [""] for empty text). */
case class MinHashSig(child: Expression, numHashes: Int)
    extends NativeUnaryExpression("minhash_sig", ArrayType(StringType), kernelReturnsNull = true) {

  require(numHashes > 0, s"minhash_sig: numHashes must be positive: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private lazy val as: Array[Long] = Array.tabulate(numHashes)(MinHashSig.coeffA)
  private lazy val bs: Array[Long] = Array.tabulate(numHashes)(MinHashSig.coeffB)

  override protected def kernel: MinHashScan.type = MinHashScan

  override protected def scalaCall(input: Any): Any =
    MinHashScan.signature(input.asInstanceOf[ArrayData], as, bs)
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.signature($in, ${ctx.addReferenceObj("minhashA", as, "long[]")}, " +
      s"${ctx.addReferenceObj("minhashB", bs, "long[]")})"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {

  /** 2^61 − 1, Mersenne: reduction is two shift-and-fold steps. */
  val P: Long = (1L << 61) - 1

  /** Exact `(a·x + b) mod P` for 0 ≤ a, b < P and 0 ≤ x < 2^60, via the
    * 128-bit product split (`Math.multiplyHigh` is a JIT intrinsic) and
    * Mersenne folding. DuckDB evaluates the same function as
    * `(CAST(a AS HUGEINT) * x + b) % 2305843009213693951`. */
  @inline def affineModP(a: Long, x: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, x) // a, x ≥ 0 so signed == unsigned high
    val lo = a * x                   // wrapped low 64 bits
    // a·x = hi·2^64 + lo = (hi·8 + lo>>>61)·2^61 + (lo & P)
    var m = (lo & P) + ((hi << 3) | (lo >>> 61))
    m = (m & P) + (m >>> 61)
    if (m >= P) m -= P
    m += b
    if (m >= P) m -= P
    m
  }

  /** SplitMix64 — the same public mixer the LSH planes use. */
  private def mix(k: Long): Long = {
    var x = k * 6364136223846793005L + 1442695040888963407L
    x ^= (x >>> 33); x *= -49064778989728563L; x ^= (x >>> 33)
    x
  }

  /** Deterministic coefficients in [1, P−1] (a must be nonzero for the
    * family to be pairwise independent). The VALUES are what the DuckDB
    * oracle inlines — see SparkEntry.minhashEstSqlCtes. */
  def coeffA(i: Int): Long = ((mix(2L * i + 1) >>> 3) % (P - 1)) + 1
  def coeffB(i: Int): Long = (mix(2L * i + 2) >>> 3) % P

  /** Column entry point:
    * `minhash(toks, n)` over an `array<string>` column → `array<long>`. */
  def minhash(toks: Column, numHashes: Int): Column =
    ExprBridge.column(MinHashSig(ExprBridge.expression(toks), numHashes))
}
