package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[GramLogProbSum]] — one implementation for the
  * interpreted and generated paths (the [[ProfileHitsScan]] discipline).
  * Gram extraction delegates to [[CharNgramScan]], so the scorer sees
  * EXACTLY the grams the vocabulary was counted over (including the
  * short-text whole-string gram and multi-byte boundaries). */
class GramLogProbScan(n: Int, micro: Map[String, Long]) extends Serializable {

  @transient private lazy val scan = new CharNgramScan(n)

  // UTF8String-keyed map so each zero-copy gram wrapper probes without a
  // String decode; rebuilt lazily on each executor after deserialization
  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](micro.size * 2)
    micro.foreach { case (g, v) => m.put(UTF8String.fromString(g), v) }
    m
  }

  /** (Σ micro-log-prob, gram count) of `text` in one linear pass — the
    * map-only twin of `explode(grams) JOIN logprobs GROUP BY doc`. The
    * micro values are EXACT longs, so the sum is order-free; a gram
    * absent from the table (impossible when the table was trained on
    * the same corpus) contributes zero rather than poisoning the sum,
    * mirroring the inner join dropping the row. */
  def score(text: UTF8String): InternalRow = {
    val grams = scan.grams(text)
    var sm = 0L
    var i = 0
    val total = grams.numElements()
    while (i < total) {
      val v = table.get(grams.getUTF8String(i))
      if (v != null) sm += v.longValue()
      i += 1
    }
    new GenericInternalRow(Array[Any](sm, total.toLong))
  }
}

/** Native corpus-LM surprisal scorer: `gram_logprob_sum(text)` →
  * `struct<sm: bigint, n: bigint>` — the exact micro-log-prob sum and
  * gram count of `text` against a vocabulary table fixed at plan time.
  *
  * Why a custom expression (SURVEY §2.10 preference order): the
  * composed form re-explodes the corpus's full bigram stream a second
  * time and probes a broadcast relation per gram before re-aggregating
  * per document — the gram stream crosses two more codegen stages for
  * what is a pure per-row property. The vocabulary is bounded by
  * alphabet² (not corpus size — the langid-profile contract), so the
  * whole join+aggregate collapses into one linear pass per document:
  * zero-copy gram wrappers probe a UTF8String-keyed table and bump two
  * longs. Map-only; after this only source-sized frames exist. */
case class GramLogProbSum(child: Expression, micro: Map[String, Long], n: Int)
    extends NativeUnaryExpression("gram_logprob_sum", StringType) {
  require(n >= 1, s"gram_logprob_sum: n must be >= 1: $n")

  override def dataType: DataType = StructType(Seq(
    StructField("sm", LongType, nullable = false),
    StructField("n", LongType, nullable = false)))

  @transient override protected lazy val kernel: GramLogProbScan = new GramLogProbScan(n, micro)

  override protected def scalaCall(input: Any): Any =
    kernel.score(input.asInstanceOf[UTF8String])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.score($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramLogProbSum {
  /** Column entry point: (micro-log-prob sum, gram count) of `text`
    * against `micro` (gram → round(round(log2(p), 6)·1e6) as long). */
  def gramLogProbSum(text: Column, micro: Map[String, Long], n: Int = 2): Column =
    ExprBridge.column(GramLogProbSum(ExprBridge.expression(text), micro, n))
}
