package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared scorer for [[ProfileHits]] — one implementation for interpreted
  * and generated paths (the [[CharNgramScan]] discipline). Gram
  * extraction delegates to [[CharNgramScan]] so the scorer sees EXACTLY
  * the grams the profile was trained on (including the short-text
  * whole-string gram and multi-byte boundaries). */
class ProfileHitsScan(n: Int, profile: Map[String, Seq[Int]], nLangs: Int)
    extends Serializable {

  @transient private lazy val scan = new CharNgramScan(n)

  // UTF8String-keyed map so each zero-copy gram wrapper probes without a
  // String decode; rebuilt lazily on each executor after deserialization
  @transient private lazy val table: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]](profile.size * 2)
    profile.foreach { case (g, langs) => m.put(UTF8String.fromString(g), langs.toArray) }
    m
  }

  /** Per-language occurrence counts of profile grams in `text` — the
    * map-only twin of `explode(grams) JOIN profile GROUP BY doc, lang`:
    * one linear scan, no shuffle, no per-gram rows. */
  def hits(text: UTF8String): GenericArrayData = {
    val counts = new Array[Int](nLangs)
    val grams = scan.grams(text)
    var i = 0
    val total = grams.numElements()
    while (i < total) {
      val langs = table.get(grams.getUTF8String(i))
      if (langs != null) {
        var j = 0
        while (j < langs.length) { counts(langs(j)) += 1; j += 1 }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }
}

/** Native profile scoring: `profile_hits(text)` → `array<int>` of
  * per-language profile-gram occurrence counts, for a profile fixed at
  * plan time.
  *
  * Why a custom expression (SURVEY §2.10 preference order): the
  * composed form explodes the corpus's full character-gram stream,
  * probes a broadcast hash relation per gram, and hash-aggregates
  * per-(doc, lang) counts — three codegen stages plus a shuffle whose
  * input is the gram stream itself. For a SMALL profile (top-k grams ×
  * n languages — bounded by construction, like a broadcast dim) the
  * whole join+aggregate collapses into one linear pass per document:
  * zero-copy gram wrappers probe a UTF8String-keyed table and bump an
  * int array. The profile's language lists are immutable `Seq`s, so the
  * expression prints, and compares, by value: two scorers over equal
  * profiles are equal, and plan text is the same in every JVM. Map-only, so at any corpus scale the only thing that
  * shuffles afterward is the language-pair confusion matrix. */
case class ProfileHits(child: Expression, profile: Map[String, Seq[Int]],
                       nLangs: Int, n: Int)
    extends NativeUnaryExpression("profile_hits", StringType) {
  require(nLangs >= 1, s"profile_hits: nLangs must be >= 1: $nLangs")
  require(n >= 1, s"profile_hits: n must be >= 1: $n")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient override protected lazy val kernel: ProfileHitsScan =
    new ProfileHitsScan(n, profile, nLangs)

  override protected def scalaCall(input: Any): Any =
    kernel.hits(input.asInstanceOf[UTF8String])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.hits($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ProfileHits {
  /** Column entry point: per-language hit counts of `text` against
    * `profile` (gram → ascending language indexes in [0, nLangs)). */
  def profileHits(text: Column, profile: Map[String, Seq[Int]],
                  nLangs: Int, n: Int = 2): Column =
    ExprBridge.column(ProfileHits(ExprBridge.expression(text), profile, nLangs, n))
}
