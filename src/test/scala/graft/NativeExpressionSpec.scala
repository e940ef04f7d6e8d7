package graft

import java.nio.{ByteBuffer, ByteOrder}

import graft.functions._
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The shared shell of the native unary expressions
  * ([[graft.functions.NativeUnaryExpression]]) and the one per-thread
  * MD5 ([[graft.functions.Md5]]): for every expression, the interpreted
  * and the generated projection agree on a null, an empty and a sample
  * input, and a wrong-typed child fails analysis naming the function;
  * source scans keep new expressions on the shell and new digests on
  * the helper. */
class NativeExpressionSpec extends GraftSpec {

  private def utf8(s: String) = UTF8String.fromString(s)

  private val text = utf8("héllo wörld  hello wörld {} ab")
  private val tokens = new GenericArrayData(Array[Any](utf8("a"), null, utf8("漢字"), utf8("a")))
  private val bloomBytes = {
    val bloom = BloomFilter.create(100)
    bloom.putLong(42L)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray
  }
  // a 16-bit mono 8 kHz PCM container with four frames
  private val wav = {
    val b = ByteBuffer.allocate(52).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(44).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1.toShort).putShort(1.toShort)
      .putInt(8000).putInt(16000).putShort(2.toShort).putShort(16.toShort)
    b.put("data".getBytes).putInt(8)
    b.array()
  }

  /** One expression: its name, its constructor over a child of the
    * input type, an empty and a sample input, and a wrong-typed child
    * (a bigint unless the input type is one). */
  private case class Case(name: String, input: DataType, make: Expression => Expression,
                          empty: Any, sample: Any, wrong: Column = col("id"))

  private val stringArray = ArrayType(StringType)
  private val noText = UTF8String.EMPTY_UTF8
  private val noTokens = new GenericArrayData(Array.empty[Any])
  private val cases = Seq(
    Case("bloom_might_contain", LongType, BloomMightContainLong(_, bloomBytes), 0L, 42L,
      wrong = lit("42")),
    Case("char_ngrams", StringType, CharNgrams(_, 2), noText, text),
    Case("gram_logprob_sum", StringType, GramLogProbSum(_, Map("hé" -> -3L, "ll" -> -5L), 2),
      noText, text),
    Case("json_get_long", StringType, JsonGetLong(_, "k"),
      noText, utf8("""{"k": 76, "s": "wörld"}""")),
    Case("json_valid_strict", StringType, JsonValid(_),
      noText, utf8("""{"k": [1, 2.5, "x"]}""")),
    Case("minhash_sig", stringArray, MinHashSig(_, 8), noTokens, tokens),
    Case("min_shingle_md5", StringType, MinShingleMd5(_, 3), noText, text),
    Case("ngram_hashes", StringType, NgramHashes(_, 2), noText, text),
    Case("profile_hits", StringType,
      ProfileHits(_, Map("hé" -> Seq(0), "ll" -> Seq(0, 1)), 2, 2), noText, text),
    Case("simhash64", stringArray, SimHash64(_), noTokens, tokens),
    Case("token_entropy", StringType, TokenEntropy(_), noText, text),
    Case("wav_meta", BinaryType, WavMeta(_), Array.emptyByteArray, wav),
    Case("winnow_set", StringType, WinnowSet(_, 3, 2), noText, text),
    Case("word_ngrams", StringType, WordNgrams(_, 2), noText, text))

  test("the parity table covers every native unary expression") {
    val declared = scalaSources("src/main/scala/graft/functions").flatMap { case (_, lines) =>
      """case class (\w+)\([^)]*\)\s*extends NativeUnaryExpression\b""".r
        .findAllMatchIn(lines.mkString("\n")).map(_.group(1))
    }
    val covered = cases.map(c => c.make(BoundReference(0, c.input, nullable = true)))
    assert(covered.map(_.prettyName) === cases.map(_.name))
    assert(covered.map(_.getClass.getSimpleName).sorted === declared.sorted)
  }

  /** `e` after a Java serialization round trip, as a task receives it. */
  private def shipped(e: Expression): Expression = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(e)
    out.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[Expression]
  }

  cases.foreach { c =>
    test(s"${c.name}: interpreted and generated projections agree on null, empty and sample") {
      val e = c.make(BoundReference(0, c.input, nullable = true))
      // the interpreted side evaluates a shipped copy: its kernel is
      // rebuilt after deserialization
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(shipped(e)))
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val outs = Seq(null, c.empty, c.sample).map { v =>
        val row = InternalRow(v)
        val (i, g) = (interpreted(row).copy(), generated(row).copy())
        assert(i === g, s"${c.name} on $v")
        i
      }
      assert(outs.head.isNullAt(0), s"${c.name}: a null input gives NULL")
      assert(!outs.last.isNullAt(0), s"${c.name}: the sample gives a value")
    }

    test(s"${c.name}: a wrong-typed child fails analysis naming the function") {
      val err = intercept[AnalysisException] {
        spark.range(1).select(c.wrong.as("x"))
          .select(ExprBridge.column(c.make(ExprBridge.expression(col("x")))))
      }
      assert(err.getMessage.contains(s"${c.name} expects"), err.getMessage)
    }
  }

  test("row hashes: a shipped copy agrees with the generated projection") {
    import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, IntegerType}
    val in = Seq(BoundReference(0, IntegerType, nullable = true),
      BoundReference(1, DecimalType(12, 2), nullable = true),
      BoundReference(2, StringType, nullable = true),
      BoundReference(3, DoubleType, nullable = true))
    val rows = Seq(InternalRow(null, null, null, null),
      InternalRow(Int.MinValue, Decimal(-50L, 12, 2), utf8("a|b"), 2.5),
      InternalRow(0, Decimal(0L, 12, 2), noText, -0.0))
    Seq(Md5ConcatWs("|", in, Some("UTC")), RowChecksumMd5(in, Some("UTC"))).foreach { e =>
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(shipped(e)))
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val outs = rows.map { row =>
        val (i, g) = (interpreted(row).copy(), generated(row).copy())
        assert(i === g, s"${e.prettyName} on $row")
        i.getUTF8String(0).toString
      }
      assert(outs.distinct.size === rows.size, e.prettyName)
    }
  }

  test("profile_hits prints and compares its profile by value") {
    val in = BoundReference(0, StringType, nullable = true)
    assert(ProfileHits(in, Map("ab" -> Seq(0, 1)), 2, 2) ===
      ProfileHits(in, Map("ab" -> Array(0, 1).toSeq), 2, 2))
    Seq("text_langid", "langid_eval_metrics").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("profile_hits") && !plan.contains("[I@"), s"$q:\n$plan")
    }
  }

  test("no MessageDigest outside the per-thread Md5 helper") {
    // one digest per thread: a per-row getInstance pays a provider
    // lookup per row, and a second ThreadLocal is a second digest.
    // Comment lines may name them (docs contrast Spark's own md5).
    val files = scalaSources("src/main/scala/graft")
    assert(files.exists(_._1.endsWith("/functions/Md5.scala")),
      "sources not found under src/main/scala/graft")
    val offenders = files.filterNot(_._1.endsWith("/functions/Md5.scala"))
      .flatMap { case (path, lines) =>
        lines.zipWithIndex.collect {
          case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
            (l.contains("MessageDigest.getInstance") || l.contains("ThreadLocal[MessageDigest]")) =>
            s"$path:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty, s"use graft.functions.Md5:\n${offenders.mkString("\n")}")
  }

  test("no expression in functions/ extends UnaryExpression around the shell") {
    // the shell itself, and ExactDecimal: a Cast replacement whose
    // generated code inlines a fallback Cast and whose type check and
    // nullability are Cast's, not one call on a kernel
    val exempt = Set("NativeUnaryExpression", "ExactDecimal")
    val offenders = scalaSources("src/main/scala/graft/functions").flatMap { case (path, lines) =>
      val src = lines.mkString("\n")
      """\bextends\s+UnaryExpression\b""".r.findAllMatchIn(src).map { m =>
        """\bclass\s+(\w+)""".r.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }.filterNot(exempt).map(name => s"$path: $name")
    }
    assert(offenders.isEmpty,
      s"extend graft.functions.NativeUnaryExpression:\n${offenders.mkString("\n")}")
  }
}
