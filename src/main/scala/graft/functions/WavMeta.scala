package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StructField, StructType}

/** Shared parser for [[WavMeta]] — one implementation for interpreted and
  * generated paths (the [[EntropyScan]] discipline). */
object WavScan extends Serializable {

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** Parse a RIFF/WAVE container's fmt + data chunk headers — byte
    * arithmetic only, no codec, no decode of the sample payload. Walks
    * the chunk list (chunks are word-aligned: odd sizes pad one byte),
    * so files with LIST/INFO metadata ahead of `data` still parse.
    * Returns null for anything that is not a well-formed PCM-style
    * header: wrong magic, truncated chunk list, missing fmt/data, or a
    * fmt chunk whose rates are inconsistent (byte_rate must equal
    * sample_rate × block_align — the cross-check that catches most
    * corrupted headers without reading the payload). */
  def parse(b: Array[Byte]): InternalRow = {
    if (b.length < 44 ||
      b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
    var pos = 12
    var sampleRate = -1L; var channels = -1; var bits = -1
    var blockAlign = -1; var byteRate = -1L; var dataLen = -1L
    while (pos + 8 <= b.length && (sampleRate < 0 || dataLen < 0)) {
      val size = le32(b, pos + 4)
      val body = pos + 8
      if (body + size > b.length) return null
      if (b(pos) == 'f' && b(pos + 1) == 'm' && b(pos + 2) == 't' && b(pos + 3) == ' ') {
        if (size < 16) return null
        channels = le16(b, body + 2)
        sampleRate = le32(b, body + 4)
        byteRate = le32(b, body + 8)
        blockAlign = le16(b, body + 12)
        bits = le16(b, body + 14)
      } else if (b(pos) == 'd' && b(pos + 1) == 'a' &&
        b(pos + 2) == 't' && b(pos + 3) == 'a') {
        dataLen = size
      }
      pos = body + size.toInt + (size.toInt & 1)
    }
    if (sampleRate <= 0 || dataLen < 0 || channels <= 0 || bits <= 0 ||
      blockAlign != channels * bits / 8 ||
      byteRate != sampleRate * blockAlign) return null
    val frames = dataLen / blockAlign
    new GenericInternalRow(Array[Any](
      sampleRate.toInt, channels, bits, frames,
      frames * 1000L / sampleRate))
  }
}

/** Native WAV header reader: `wav_meta(bytes)` → `struct<sample_rate:
  * int, channels: int, bits: int, n_frames: bigint, duration_ms:
  * bigint>`, null for malformed input.
  *
  * The multimodal rule this module lives by: payload DECODE needs codec
  * libraries the container lacks and stays stubbed — but container
  * METADATA is plain byte arithmetic, and metadata is what a pipeline
  * filters on (drop clips under a second, partition by sample rate,
  * budget GPU batches by frame count) before any expensive decode runs.
  * As a codegen'd expression the parse runs inside the scan stage over
  * the binary column: at 100 TB of audio, the metadata pass reads only
  * the leading bytes of each blob and shuffles nothing. */
case class WavMeta(child: Expression)
    extends NativeUnaryExpression("wav_meta", BinaryType, kernelReturnsNull = true) {

  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))
  override def nullable: Boolean = true

  override protected def kernel: WavScan.type = WavScan

  override protected def scalaCall(input: Any): Any =
    WavScan.parse(input.asInstanceOf[Array[Byte]])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.parse($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WavMeta {
  /** Column entry point: header metadata of a RIFF/WAVE blob. */
  def wavMeta(bytes: Column): Column =
    ExprBridge.column(WavMeta(ExprBridge.expression(bytes)))
}
