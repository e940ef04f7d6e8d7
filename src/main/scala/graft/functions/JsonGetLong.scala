package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared scanner for [[JsonGetLong]] — ONE implementation called by both
  * the interpreted and the generated path, so the two cannot drift.
  * Scans raw UTF-8 bytes (JSON structural chars are ASCII; multi-byte
  * sequences all have the high bit set, so byte-wise scanning is safe)
  * and never allocates a parser, token stream, or substring. */
object JsonScan extends Serializable {

  /** Value of top-level `key` as a boxed Long; null when the input is not
    * a WHOLE-DOCUMENT-VALID JSON object (see [[validJson]] — round-18
    * alignment with the oracle twins' `json_valid`; previously a
    * valid-prefix/malformed-tail document like `{"k":5}x` yielded 5
    * from the prefix scan while DuckDB's whole-document parse rejected
    * it, the one documented oracle boundary), the key is absent (or
    * appears only nested), the value is not a bare integer (quoted,
    * fractional, exponent, true/false/null, object, array), or the
    * integer overflows a long. First match wins — probed identical to
    * DuckDB's `$.k` path on duplicate keys. */
  def extractLong(json: UTF8String, key: Array[Byte]): java.lang.Long = {
    val n = json.numBytes()
    var i = skipWs(json, 0, n)
    if (i >= n || json.getByte(i) != '{') return null
    i += 1
    var first = true
    while (i < n) {
      i = skipWs(json, i, n)
      if (i >= n) return null
      if (json.getByte(i) == '}') return null // clean end, key absent
      if (!first) {
        if (json.getByte(i) != ',') return null
        i = skipWs(json, i + 1, n)
        if (i >= n) return null
      }
      first = false
      if (json.getByte(i) != '"') return null
      val keyStart = i + 1
      i = skipString(json, i, n)
      if (i < 0) return null
      val keyEnd = i - 1
      i = skipWs(json, i, n)
      if (i >= n || json.getByte(i) != ':') return null
      i = skipWs(json, i + 1, n)
      if (i >= n) return null
      if (matches(json, keyStart, keyEnd, key)) {
        // whole-document validity is required before a value may
        // surface, but only rows that WOULD yield pay the second pass
        // (round-18 review: gating up front double-scanned every row;
        // the reorder is exactly equivalent — a null prefix result is
        // null either way, and a non-null one from an invalid doc is
        // nulled here). Measured hot-path cost of that second pass on
        // all-yielding telemetry (json_extract_events, sf0.1 quiet
        // battery): 0.118 s pre-gate (r17) → 0.128 s gated (r18),
        // ~+8% — kept: a remainder-only validation would make the
        // lenient member scan part of the strictness contract the
        // 103-shape yyjson battery pins, for ~10 ms at this scale
        // (round-18 advice, resolved as documented-cost)
        val v = parseLong(json, i, n)
        return if (v != null && validJson(json)) v else null
      }
      i = skipValue(json, i, n)
      if (i < 0) return null
    }
    null
  }

  /** reusable per-thread container stack for [[validJson]] — documents
    * nest arbitrarily deep (DuckDB accepts 5000+ levels, probed), so
    * the validator is iterative, and the stack grows on demand. */
  @transient private lazy val stackTl = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](64)
  }

  /** Strict whole-document JSON validity, byte-for-byte matched to
    * DuckDB 1.0.0's `json_valid` (yyjson compiled with
    * ALLOW_TRAILING_COMMAS and ALLOW_INF_AND_NAN — every rule below
    * probed against the live engine; JsonGetLongSpec bakes the probe
    * battery): single value + optional surrounding ws, no trailing
    * garbage; strings reject raw control bytes (< 0x20) and unknown
    * escapes, `\\u` needs 4 hex digits, a high surrogate needs an
    * immediately following escaped low surrogate and a lone low
    * surrogate is invalid; numbers are strict RFC 8259 (no leading
    * zeros, no bare '.', no '+', exponent needs digits) PLUS the
    * case-insensitive `inf`/`infinity`/`nan` literals with optional
    * leading '-'; `true`/`false`/`null` are lowercase-exact; objects
    * and arrays allow ONE trailing comma before the closer. Known
    * boundary, documented not modeled: invalid UTF-8 byte sequences
    * (yyjson rejects; this scan passes high-bit bytes through) — both
    * engines read the same parquet text, and every corpus writer here
    * produces valid UTF-8. */
  def validJson(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = skipWs(s, 0, n)
    if (i >= n) return false
    var stack = stackTl.get()
    var sp = 0
    var expectValue = true
    while (true) {
      if (expectValue) {
        if (i >= n) return false
        val b = s.getByte(i)
        if (b == '{' || b == '[') {
          val closer = if (b == '{') '}' else ']'
          i = skipWs(s, i + 1, n)
          if (i >= n) return false
          if (s.getByte(i) == closer) { i += 1; expectValue = false }
          else {
            if (sp == stack.length) {
              stack = java.util.Arrays.copyOf(stack, sp * 2)
              stackTl.set(stack)
            }
            stack(sp) = b.toByte; sp += 1
            if (b == '{') {
              if (s.getByte(i) != '"') return false
              i = validString(s, i, n)
              if (i < 0) return false
              i = skipWs(s, i, n)
              if (i >= n || s.getByte(i) != ':') return false
              i = skipWs(s, i + 1, n)
            }
            // '[' falls through with expectValue still true
          }
        } else if (b == '"') {
          i = validString(s, i, n)
          if (i < 0) return false
          expectValue = false
        } else {
          i = validScalar(s, i, n)
          if (i < 0) return false
          expectValue = false
        }
      } else {
        // a value just finished
        i = skipWs(s, i, n)
        if (sp == 0) return i == n
        if (i >= n) return false
        val top = stack(sp - 1)
        val closer = if (top == '{') '}' else ']'
        val c = s.getByte(i)
        if (c == closer) { sp -= 1; i += 1 }
        else if (c == ',') {
          i = skipWs(s, i + 1, n)
          if (i >= n) return false
          if (s.getByte(i) == closer) { sp -= 1; i += 1 } // trailing comma
          else if (top == '{') {
            if (s.getByte(i) != '"') return false
            i = validString(s, i, n)
            if (i < 0) return false
            i = skipWs(s, i, n)
            if (i >= n || s.getByte(i) != ':') return false
            i = skipWs(s, i + 1, n)
            expectValue = true
          } else expectValue = true
        } else return false
      }
    }
    false // unreachable
  }

  /** `from` sits on the opening quote; returns the index just after the
    * closing quote, or -1 when the string violates the strict grammar
    * (see [[validJson]]). */
  private def validString(s: UTF8String, from: Int, n: Int): Int = {
    var i = from + 1
    while (i < n) {
      val b = s.getByte(i)
      if (b == '"') return i + 1
      else if (b == '\\') {
        if (i + 1 >= n) return -1
        val e = s.getByte(i + 1)
        if (e == '"' || e == '\\' || e == '/' || e == 'b' || e == 'f' ||
            e == 'n' || e == 'r' || e == 't') i += 2
        else if (e == 'u') {
          val cu = hex4(s, i + 2, n)
          if (cu < 0) return -1
          if (cu >= 0xD800 && cu <= 0xDBFF) {
            // high surrogate: an escaped low surrogate must follow
            if (i + 11 >= n || s.getByte(i + 6) != '\\' ||
                s.getByte(i + 7) != 'u') return -1
            val lo = hex4(s, i + 8, n)
            if (lo < 0xDC00 || lo > 0xDFFF) return -1
            i += 12
          } else if (cu >= 0xDC00 && cu <= 0xDFFF) return -1 // lone low
          else i += 6
        } else return -1
      }
      else if (b >= 0 && b < 0x20) return -1 // raw control byte
      else i += 1
    }
    -1
  }

  /** 4 hex digits starting at `from` → code unit, or -1. */
  private def hex4(s: UTF8String, from: Int, n: Int): Int = {
    if (from + 4 > n) return -1
    var v = 0
    var i = from
    while (i < from + 4) {
      val b = s.getByte(i)
      val d =
        if (b >= '0' && b <= '9') b - '0'
        else if (b >= 'a' && b <= 'f') b - 'a' + 10
        else if (b >= 'A' && b <= 'F') b - 'A' + 10
        else return -1
      v = v * 16 + d
      i += 1
    }
    v
  }

  /** `from` sits on the first byte of a non-string, non-container
    * value; returns the index after it, or -1. Covers strict numbers,
    * lowercase true/false/null, and the case-insensitive inf family. */
  private def validScalar(s: UTF8String, from: Int, n: Int): Int = {
    var i = from
    val b = s.getByte(i)
    if (b == 't') return literal(s, i, n, "true")
    if (b == 'f') return literal(s, i, n, "false")
    if (b == 'n') {
      // 'null' is lowercase-exact; 'nan' is case-insensitive, so try
      // the exact literal first, then the ci one
      val j = literal(s, i, n, "null")
      if (j >= 0) return j
      return literalCi(s, i, n, "nan")
    }
    if (b == '-') {
      i += 1
      if (i >= n) return -1
    }
    val c = s.getByte(i)
    if (c == 'i' || c == 'I') {
      val j = literalCi(s, i, n, "infinity")
      if (j >= 0) return j
      return literalCi(s, i, n, "inf")
    }
    if (c == 'n' || c == 'N') return literalCi(s, i, n, "nan")
    // strict number: int part
    if (c == '0') {
      i += 1
      if (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') return -1
    } else if (c >= '1' && c <= '9') {
      while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') i += 1
    } else return -1
    // fraction
    if (i < n && s.getByte(i) == '.') {
      i += 1
      if (i >= n || s.getByte(i) < '0' || s.getByte(i) > '9') return -1
      while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') i += 1
    }
    // exponent
    if (i < n && (s.getByte(i) == 'e' || s.getByte(i) == 'E')) {
      i += 1
      if (i < n && (s.getByte(i) == '+' || s.getByte(i) == '-')) i += 1
      if (i >= n || s.getByte(i) < '0' || s.getByte(i) > '9') return -1
      while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') i += 1
    }
    i
  }

  private def literal(s: UTF8String, from: Int, n: Int, lit: String): Int = {
    if (from + lit.length > n) return -1
    var i = 0
    while (i < lit.length) {
      if (s.getByte(from + i) != lit.charAt(i).toByte) return -1
      i += 1
    }
    from + lit.length
  }

  private def literalCi(s: UTF8String, from: Int, n: Int, lit: String): Int = {
    if (from + lit.length > n) return -1
    var i = 0
    while (i < lit.length) {
      val b = s.getByte(from + i)
      val lower = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      if (lower != lit.charAt(i).toByte) return -1
      i += 1
    }
    from + lit.length
  }

  private def skipWs(s: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n && { val b = s.getByte(i); b == ' ' || b == '\t' || b == '\n' || b == '\r' }) i += 1
    i
  }

  /** `from` sits on the opening quote; returns the index just after the
    * closing quote, or -1 if unterminated. Backslash escapes skipped. */
  private def skipString(s: UTF8String, from: Int, n: Int): Int = {
    var i = from + 1
    while (i < n) {
      val b = s.getByte(i)
      if (b == '\\') i += 2
      else if (b == '"') return i + 1
      else i += 1
    }
    -1
  }

  /** `from` sits on the first byte of a value at object depth 1; returns
    * the index of the byte after the value, or -1 on malformed input. */
  private def skipValue(s: UTF8String, from: Int, n: Int): Int = {
    val b = s.getByte(from)
    if (b == '"') skipString(s, from, n)
    else if (b == '{' || b == '[') {
      var depth = 1
      var i = from + 1
      while (i < n && depth > 0) {
        val c = s.getByte(i)
        if (c == '"') {
          i = skipString(s, i, n)
          if (i < 0) return -1
        } else {
          if (c == '{' || c == '[') depth += 1
          else if (c == '}' || c == ']') depth -= 1
          i += 1
        }
      }
      if (depth == 0) i else -1
    } else {
      // bare scalar: runs to the next member/object delimiter
      var i = from
      while (i < n && { val c = s.getByte(i); c != ',' && c != '}' }) i += 1
      i
    }
  }

  private def matches(s: UTF8String, start: Int, end: Int, key: Array[Byte]): Boolean = {
    if (end - start != key.length) return false
    var i = 0
    while (i < key.length) {
      if (s.getByte(start + i) != key(i)) return false
      i += 1
    }
    true
  }

  /** Bare-integer parse with overflow rejection; trailing content after
    * the digits must be a valid value terminator. */
  private def parseLong(s: UTF8String, from: Int, n: Int): java.lang.Long = {
    var i = from
    var neg = false
    if (i < n && s.getByte(i) == '-') { neg = true; i += 1 }
    if (i >= n || s.getByte(i) < '0' || s.getByte(i) > '9') return null
    // accumulate NEGATIVE, JDK Long.parseLong-style: the magnitude bound
    // is asymmetric (|Long.MinValue| = Long.MaxValue + 1), and the old
    // positive accumulator rejected exactly -9223372036854775808 while
    // DuckDB's json_type/TRY_CAST accepts it — a one-value cross-engine
    // divergence on the oracle's int64 boundary
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    val multmin = limit / 10
    var v = 0L
    while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') {
      val d = s.getByte(i) - '0'
      if (v < multmin) return null  // v*10 would overflow
      v *= 10
      if (v < limit + d) return null // v - d would overflow
      v -= d
      i += 1
    }
    // fractions/exponents/garbage are not integers; a valid value ends at
    // ws, ',' or '}' (depth 1)
    val j = skipWs(s, i, n)
    if (j < n && { val b = s.getByte(j); b != ',' && b != '}' }) return null
    java.lang.Long.valueOf(if (neg) v else -v)
  }
}

/** Native top-level JSON integer extraction:
  * `json_get_long(props, 'k')` ≡ `get_json_object(props, '$.k')` for bare
  * integer values, restricted to depth-1 keys without escape sequences.
  *
  * Why a custom expression (SURVEY §2.10, same preference order as
  * [[MinHashSig]]/[[DotProduct]]): `GetJsonObject` is a CodegenFallback —
  * one appearance knocks the ENTIRE enclosing stage out of whole-stage
  * codegen and pays a Jackson parser per row, which is exactly where the
  * telemetry-props hot path (`{"k": 76}`-shaped, millions of rows per
  * partition) spends its CPU. This expression scans the bytes once inside
  * whole-stage codegen, allocating nothing.
  *
  * Contract divergences from get_json_object, all deliberate and tested:
  * quoted numbers ({"k":"76"}), floats, and booleans yield NULL (the
  * typed contract is "bare integer or nothing"); keys written with JSON
  * escape sequences are not matched. Use `get_json_object` when the
  * documents are not flat telemetry. */
case class JsonGetLong(child: Expression, key: String)
    extends NativeUnaryExpression("json_get_long", StringType, kernelReturnsNull = true) {

  require(key.nonEmpty, "json_get_long: empty key")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private lazy val keyBytes: Array[Byte] =
    key.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override protected def kernel: JsonScan.type = JsonScan

  override protected def scalaCall(input: Any): Any =
    JsonScan.extractLong(input.asInstanceOf[UTF8String], keyBytes)
  // the key bytes ride along as a reference too
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.extractLong($in, ${ctx.addReferenceObj("jsonKey", keyBytes, "byte[]")})"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native whole-document JSON validity test: `json_valid_strict(s)` ≡
  * DuckDB 1.0.0's `json_valid(s)` (see [[JsonScan.validJson]] for the
  * probed grammar). Exists so ops can gate a lenient parser (Spark's
  * Jackson-PERMISSIVE `from_json` accepts a valid prefix + garbage
  * tail) behind the SAME validity rule the DuckDB oracles apply —
  * codegen-friendly, allocation-free beyond the reused per-thread
  * container stack. */
case class JsonValid(child: Expression)
    extends NativeUnaryExpression("json_valid_strict", StringType) {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  override protected def kernel: JsonScan.type = JsonScan

  override protected def scalaCall(input: Any): Any =
    JsonScan.validJson(input.asInstanceOf[UTF8String])
  override protected def javaCall(ctx: CodegenContext, k: String, in: String): String =
    s"$k.validJson($in)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonGetLong {
  /** Column entry point: top-level `key` of a JSON string column as long. */
  def jsonGetLong(json: Column, key: String): Column =
    ExprBridge.column(JsonGetLong(ExprBridge.expression(json), key))

  /** Column entry point: DuckDB-parity whole-document JSON validity. */
  def jsonValidStrict(json: Column): Column =
    ExprBridge.column(JsonValid(ExprBridge.expression(json)))
}
