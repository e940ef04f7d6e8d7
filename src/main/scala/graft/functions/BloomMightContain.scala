package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd membership probe against a pre-built Bloom filter — the
  * scale lever that turns a broadcast-join-shaped semi-join into a pure
  * scan-side filter. A hash relation of p 64-bit keys broadcasts ~16 B
  * per key; the Bloom bitmap needs ~1.2 B per key at 1% fpp — 10–100×
  * smaller, which is the difference between "fits in the broadcast
  * budget" and "doesn't" when the filter side has billions of entries
  * (the n-gram decontamination case). The probe is approximate one-way:
  * no false negatives, fpp false positives.
  *
  * The filter ships as its serialized bytes (a plain `Array[Byte]` in
  * the expression tree, task-serialized once per executor like any
  * literal) and deserializes lazily per JVM; codegen probes the same
  * deserialized object through a reference slot, so the hot loop is one
  * virtual call + bitmap reads with no boxing.
  */
case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
    extends NativeUnaryExpression("bloom_might_contain", LongType) {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  @transient override protected lazy val kernel: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))
  // the runtime class is package-private
  override protected def kernelClass: String = classOf[BloomFilter].getName

  override protected def scalaCall(input: Any): Any =
    kernel.mightContainLong(input.asInstanceOf[Long])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.mightContainLong($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomMightContainLong {
  /** Column entry point: true iff `h` might be in `bloom` (no false
    * negatives; positives at the filter's fpp). */
  def mightContain(h: Column, bloom: BloomFilter): Column = {
    val bos = new ByteArrayOutputStream()
    bloom.writeTo(bos)
    ExprBridge.column(
      BloomMightContainLong(ExprBridge.expression(h), bos.toByteArray))
  }
}
