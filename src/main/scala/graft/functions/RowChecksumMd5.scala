package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[RowChecksumMd5]] — one implementation for both
  * the interpreted and generated paths, hashing with the per-thread
  * [[Md5]] digest. */
object ChecksumScan extends Serializable {

  private val nullMarker = "~null~".getBytes
  private val pipe = "|".getBytes

  /** md5 hex of the length-prefixed null-safe row encoding — BYTE
    * IDENTICAL to the Column spelling
    * `md5(concat_ws("|", cols.map(c => coalesce(
    *    concat(length(c)::string, ":", c), "~null~"))))`
    * for string-typed `cols`: per value, the CHARACTER count (Spark
    * `length` = UTF8String.numChars) in ASCII digits, ':', the value's
    * UTF-8 bytes; null becomes the prefix-less `~null~`; values join
    * with '|'; the digest is over the joined UTF-8 bytes. Every piece
    * streams straight into the digest — no intermediate length string,
    * concat, coalesce or concat_ws allocation, and no per-row
    * MessageDigest.getInstance (commons-codec's md5 path pays both;
    * measured 2.3x on the recon_stream_hash_diff checksum projection). */
  def rowChecksumMd5(vals: Array[UTF8String]): UTF8String = {
    val digest = Md5.get()
    digest.reset()
    // the row's 32-byte hex result doubles as the scratch for the
    // length-prefix digits (at most 10 for an int char count) until
    // the digest is encoded into it
    val buf = new Array[Byte](32)
    var i = 0
    while (i < vals.length) {
      if (i > 0) digest.update(pipe)
      val v = vals(i)
      if (v == null) digest.update(nullMarker)
      else {
        var n = v.numChars()
        // render n's decimal digits right-to-left into the scratch
        var pos = buf.length
        do {
          pos -= 1
          buf(pos) = ('0' + n % 10).toByte
          n /= 10
        } while (n > 0)
        digest.update(buf, pos, buf.length - pos)
        digest.update(':'.toByte)
        val b = v.getBytes
        digest.update(b, 0, b.length)
      }
      i += 1
    }
    Md5.hex(digest.digest(), buf)
  }
}

/** Native row checksum: `row_checksum_md5(s1, …, sn)` ≡
  * `md5(concat_ws("|", coalesce(concat(length(s1)::string, ":", s1),
  * "~null~"), …))` for string children — the null-safe,
  * injection-safe length-prefixed encoding every recon hash-diff
  * surface ships (see [[graft.ops.Recon.rowChecksumOf]] for the
  * forgery analysis).
  *
  * Why a custom expression (SURVEY §2.10 preference order, the
  * [[MinShingleMd5]] precedent): this is the per-row hot loop of the
  * whole reconciliation engine — at 100 TB every fact row on both
  * sides pays it once. The built-in chain allocates a length string,
  * two concats and the concat_ws result per column per row, then
  * commons-codec's md5 calls MessageDigest.getInstance PER ROW; this
  * expression streams each piece into a thread-local digest with zero
  * intermediate allocations, inside whole-stage codegen. Null children
  * are semantic (the `~null~` marker), so the expression itself is
  * never null. */
case class RowChecksumMd5(children: Seq[Expression]) extends Expression {

  require(children.nonEmpty, "row_checksum_md5 needs at least one column")

  override def dataType: DataType = StringType
  override def prettyName: String = "row_checksum_md5"
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != StringType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"row_checksum_md5 expects string children, got ${c.dataType}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any = {
    val arr = new Array[UTF8String](children.size)
    var i = 0
    while (i < arr.length) {
      arr(i) = children(i).eval(input).asInstanceOf[UTF8String]
      i += 1
    }
    ChecksumScan.rowChecksumMd5(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scan = ctx.addReferenceObj("checksumScan", ChecksumScan,
      ChecksumScan.getClass.getName)
    val arr = ctx.freshName("vals")
    val evals = children.map(_.genCode(ctx))
    val fills = evals.zipWithIndex.map { case (e, i) =>
      s"""${e.code}
         |$arr[$i] = ${e.isNull} ? null : ${e.value};""".stripMargin
    }.mkString("\n")
    ev.copy(code =
      code"""
        UTF8String[] $arr = new UTF8String[${children.size}];
        $fills
        UTF8String ${ev.value} = $scan.rowChecksumMd5($arr);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object RowChecksumMd5 {
  /** Column entry point: length-prefixed null-safe md5 over the given
    * (string-casted) columns. */
  def rowChecksumMd5(cols: Seq[Column]): Column =
    ExprBridge.column(RowChecksumMd5(cols.map(ExprBridge.expression)))
}
