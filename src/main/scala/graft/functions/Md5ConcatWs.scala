package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{EvalMode, Expression}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.internal.SQLConf

/** `md5_concat_ws(sep, c1, …, cn)` ≡
  * `md5(concat_ws(sep, CAST(c1 AS STRING), …, CAST(cn AS STRING)))`,
  * byte for byte: the lowercase hex md5 of the non-null values' string
  * forms joined by `sep`, nulls skipped as `concat_ws` skips them.
  *
  * The built-in chain formats every value into a string, joins them
  * into a second one, and hashes that through commons-codec, which
  * calls `MessageDigest.getInstance` per row. Here each value streams
  * into the thread's digest from its typed form ([[TypedRowHash]]):
  * longs and compact decimals as digits written into one scratch,
  * strings as their bytes, anything else through Spark's Cast. */
case class Md5ConcatWs(
    sep: String,
    children: Seq[Expression],
    timeZoneId: Option[String] = None,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
  extends TypedRowHash(sep, lengthPrefixed = false) {

  require(children.nonEmpty, "md5_concat_ws needs at least one column")

  override def prettyName: String = "md5_concat_ws"

  override def withTimeZone(timeZoneId: String): Md5ConcatWs =
    copy(timeZoneId = Option(timeZoneId))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object Md5ConcatWs {
  /** Column entry point: `md5(concat_ws(sep, cols cast to string))`. */
  def md5ConcatWs(sep: String, cols: Seq[Column]): Column =
    ExprBridge.column(Md5ConcatWs(sep, cols.map(ExprBridge.expression)))
}
