package graft.functions

import java.security.MessageDigest

import org.apache.spark.unsafe.types.UTF8String

/** The one MD5 digest per thread that every md5 kernel uses, and the
  * lowercase-hex encoding and byte order of its 16-byte digests. A
  * MessageDigest is not thread-safe and tasks share the expressions'
  * kernels, so each executor thread keeps its own instance. The kernels
  * share it, so each must finish its digest before it returns. */
object Md5 {

  private val perThread =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** This thread's digest: one `ThreadLocal` lookup. */
  def get(): MessageDigest = perThread.get()

  private val hexDigits = "0123456789abcdef".getBytes

  /** Lowercase hex of the 16-byte digest `d`, written into `out` (32
    * bytes), which the result wraps without a copy. */
  def hex(d: Array[Byte], out: Array[Byte] = new Array[Byte](32)): UTF8String = {
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned byte order of digests: exactly the lexicographic order of
    * their lowercase-hex strings, since hex digits ascend in ASCII. */
  val order: Ordering[Array[Byte]] = (a, b) => java.util.Arrays.compareUnsigned(a, b)
}
