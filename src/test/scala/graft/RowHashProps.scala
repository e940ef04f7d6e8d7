package graft

import graft.functions.{ExactDecimal, Md5ConcatWs, RowChecksumMd5}
import graft.ops.Recon
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, ConcatWs, EvalMode, Expression, Literal, Md5, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions.{coalesce, col, concat, concat_ws, length, lit, md5, round}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.scalacheck.rng.Seed

/** ScalaCheck properties for the typed row hashes
  * ([[graft.functions.TypedRowHash]]): on every row, `md5_concat_ws` is
  * `md5(concat_ws(sep, CAST(c AS STRING), …))` and the typed
  * `row_checksum_md5` is the same expression over the string casts of
  * its columns, under ANSI and legacy evaluation, interpreted, generated
  * and in whole-stage codegen over a scan (there against the Column
  * spellings the DuckDB twins render). Rows mix every typed append —
  * ints and longs with their MIN_VALUEs, zero and negatives; DECIMAL
  * (12,2), (18,4), (18,6), (18,0) with `0.00`, `-0.50` and scale 0 — with
  * the Cast fallbacks: DECIMAL(18,7) and (38,10), whose legacy string
  * switches to exponent form, double, date, timestamp and boolean; and
  * strings with '|', `~null~`, empty and non-BMP text; NULL in every
  * position. A third property pins hashDiff's whole-dollar price:
  * `exact_decimal(exact_decimal(x, 12, 0), 12, 2)` against
  * `CAST(round(x, 0) AS DECIMAL(12,2))`. Seeded. */
object RowHashProps extends Properties("rowHash") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20).withInitialSeed(Seed(16L))

  private val modes = Seq(EvalMode.LEGACY, EvalMode.ANSI)
  private val tz = Some("UTC")

  private val schema = StructType(Seq(
    "i" -> IntegerType, "l" -> LongType, "d12" -> DecimalType(12, 2),
    "d184" -> DecimalType(18, 4), "d186" -> DecimalType(18, 6),
    "d180" -> DecimalType(18, 0), "d187" -> DecimalType(18, 7),
    "d38" -> DecimalType(38, 10), "s" -> StringType, "x" -> DoubleType,
    "dt" -> DateType, "ts" -> TimestampType, "b" -> BooleanType
  ).map { case (n, t) => StructField(n, t) })

  private def decimal(p: Int, s: Int): Gen[java.math.BigDecimal] = {
    val bound = BigInt(10).pow(p) - 1
    Gen.frequency(
      2 -> Gen.oneOf(0L, -50L, 50L, 1L, -1L).map(BigInt(_)),
      1 -> Gen.oneOf(bound, -bound),
      6 -> Gen.choose(-1000000L, 1000000L).map(BigInt(_)),
      4 -> Gen.listOfN(p, Gen.numChar).map(ds => BigInt(ds.mkString)),
      3 -> Gen.listOfN(p, Gen.numChar).map(ds => -BigInt(ds.mkString)))
      .map(u => new java.math.BigDecimal(u.bigInteger, s))
  }

  private val genText: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("|", "~null~", "", "a|b", "𝄞🦊", "héllo wörld", "1:x"),
    4 -> Gen.listOf(Gen.oneOf('a', '|', ':', '~', 'é', '漢')).map(_.mkString))

  /** One value per column of [[schema]], external (Row) form. */
  private val genCells: Seq[Gen[Any]] = Seq(
    Gen.oneOf(Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1, -10),
      Gen.choose(Int.MinValue, Int.MaxValue)),
    Gen.oneOf(Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, -100L),
      Gen.choose(Long.MinValue, Long.MaxValue)),
    decimal(12, 2), decimal(18, 4), decimal(18, 6), decimal(18, 0), decimal(18, 7),
    decimal(38, 10), genText,
    Gen.oneOf(Gen.oneOf(0.0, -0.0, 1e10, -2.5, 1e-7, Double.NaN, Double.NegativeInfinity),
      Gen.choose(-1e12, 1e12)),
    Gen.choose(-30000, 60000).map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))),
    Gen.choose(-2000000000L, 4000000000L).map(s => new java.sql.Timestamp(s * 1000 + 123)),
    Gen.oneOf(true, false))

  private val genRow: Gen[Row] = Gen.sequence[Seq[Any], Any](genCells.map(g =>
    Gen.frequency(1 -> Gen.const(null), 4 -> g))).map(Row.fromSeq)

  private val genRows: Gen[Seq[Row]] = Gen.listOfN(25, genRow)

  private val toInternal =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(schema)

  private val refs: Seq[Expression] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, nullable = true) }

  /** Column subsets: all, typed appends only, fallbacks only, one each. */
  private val subsets: Seq[Seq[Int]] =
    Seq(refs.indices, Seq(0, 1, 2, 3, 4, 5, 8), Seq(6, 7, 9, 10, 11, 12)) ++ refs.indices.map(Seq(_))

  private def str(mode: EvalMode.Value)(e: Expression): Expression =
    Cast(e, StringType, tz, mode)

  /** `got` and `want` agree, interpreted and generated, on every row. */
  private def agree(got: Expression, want: Expression, rows: Seq[Row], what: String): Prop = {
    val (g, w) = (GenerateUnsafeProjection.generate(Seq(got)), GenerateUnsafeProjection.generate(Seq(want)))
    val bad = rows.flatMap { r =>
      val in = toInternal(r).asInstanceOf[InternalRow]
      val outs = Seq(got.eval(in), g(in).getUTF8String(0), want.eval(in), w(in).getUTF8String(0))
        .map(String.valueOf)
      if (outs.distinct.size == 1) None else Some(s"$what on $r: $outs")
    }
    bad.isEmpty :| bad.take(3).mkString("\n")
  }

  property("md5_concat_ws is md5(concat_ws(sep, cast …)), interpreted and generated") =
    forAll(genRows) { rows =>
      Prop.all((for (mode <- modes; cols <- subsets) yield {
        val cs = cols.map(refs)
        val want = Md5(Cast(ConcatWs(Literal("|") +: cs.map(str(mode))), BinaryType))
        agree(Md5ConcatWs("|", cs, tz, mode), want, rows, s"$mode $cols")
      }): _*)
    }

  property("typed row_checksum_md5 is its string-cast form, interpreted and generated") =
    forAll(genRows) { rows =>
      Prop.all((for (mode <- modes; cols <- subsets) yield {
        val cs = cols.map(refs)
        agree(RowChecksumMd5(cs, tz, mode), RowChecksumMd5(cs.map(str(mode)), tz, mode),
          rows, s"$mode $cols")
      }): _*)
    }

  /** `body` with `spark.sql.ansi.enabled` set to `ansi`, restored after. */
  private def withAnsi[T](ansi: Boolean)(body: => T): T = {
    val conf = TestSpark.spark.conf
    val before = conf.getOption("spark.sql.ansi.enabled")
    conf.set("spark.sql.ansi.enabled", ansi.toString)
    try body
    finally before.fold(conf.unset("spark.sql.ansi.enabled"))(conf.set("spark.sql.ansi.enabled", _))
  }

  property("whole-stage codegen over a scan agrees with the Column spellings, ANSI on and off") =
    forAll(genRows) { rows =>
      val spark = TestSpark.spark
      Prop.all(Seq(true, false).map { ansi => withAnsi(ansi) {
        val cs = schema.fieldNames.toSeq.map(col)
        val strs = cs.map(_.cast("string"))
        val legacy = md5(concat_ws("|", strs.map(s =>
          coalesce(concat(length(s).cast("string"), lit(":"), s), lit("~null~"))): _*))
        // an RDD, not a local Seq: the optimizer would fold a projection
        // over a LocalRelation with interpreted eval
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
          .select(Md5ConcatWs.md5ConcatWs("|", cs), md5(concat_ws("|", strs: _*)),
            Recon.rowChecksumOf(cs), legacy)
        val plan = df.queryExecution.executedPlan.toString
        val bad = df.collect().filterNot(r => r.getString(0) == r.getString(1) &&
          r.getString(2) == r.getString(3))
        (plan.contains("*(1) Project [md5_concat_ws(") && bad.isEmpty) :|
          s"ansi=$ansi: ${bad.take(3).mkString("\n")}\n$plan"
      }}: _*)
    }

  private def stepUlps(x: Double, k: Int): Double =
    (0 until math.abs(k)).foldLeft(x)((v, _) => if (k > 0) math.nextUp(v) else math.nextDown(v))

  /** x.5 ties, then ±2 ulps; ±0.0, NaN, ±∞; magnitudes around 1e10 and
    * 1e12, where DECIMAL(12,2) and DECIMAL(12,0) overflow. */
  private val genPrice: Gen[Double] = Gen.frequency(
    6 -> (for (k <- Gen.choose(-100000000L, 100000000L); u <- Gen.choose(-2, 2))
      yield stepUlps(k + 0.5, u)),
    2 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity),
    3 -> (for (e <- Gen.oneOf(1e10, 1e12); d <- Gen.choose(-2.0, 2.0); neg <- Gen.oneOf(1, -1))
      yield neg * (e + d)),
    3 -> Gen.choose(-1e6, 1e6))

  private def outcome(f: => Any): Any =
    try f match {
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case other => other
    } catch {
      case e: SparkThrowable => s"error ${e.getCondition}"
    }

  property("exact_decimal(exact_decimal(x, 12, 0), 12, 2) is CAST(round(x, 0) AS DECIMAL(12,2))") =
    forAll(Gen.listOfN(200, genPrice)) { xs =>
      val x = BoundReference(0, DoubleType, nullable = true)
      Prop.all(modes.map { mode =>
        val want = Cast(Round(x, Literal(0)), DecimalType(12, 2), None, mode)
        val got = ExactDecimal(ExactDecimal(x, 12, 0, mode), 12, 2, mode)
        val (g, w) = (GenerateUnsafeProjection.generate(Seq(got)), GenerateUnsafeProjection.generate(Seq(want)))
        def gen(p: org.apache.spark.sql.catalyst.expressions.UnsafeProjection, row: InternalRow) = {
          val o = p(row)
          if (o.isNullAt(0)) null else o.getDecimal(0, 12, 2)
        }
        val bad = (xs.map(Some(_)) :+ None).flatMap { v =>
          val row = InternalRow(v.orNull)
          val outs = Seq(outcome(got.eval(row)), outcome(gen(g, row)),
            outcome(want.eval(row)), outcome(gen(w, row)))
          if (outs.distinct.size == 1) None else Some(s"$mode $v: $outs")
        }
        bad.isEmpty :| bad.take(5).mkString("\n")
      }: _*)
    }

  property("the whole-dollar price in a scan agrees with round(x, 0)") =
    forAll(Gen.listOfN(200, genPrice)) { xs =>
      val spark = TestSpark.spark
      import spark.implicits._
      // legacy: out-of-range and NaN prices are nulls here, where ANSI
      // would fail the whole query (the interpreted property compares
      // the errors)
      withAnsi(false) {
        val bad = spark.sparkContext.parallelize(xs, 2).toDF("x")
          .select(ExactDecimal.exactDecimal(ExactDecimal.exactDecimal(col("x"), 12, 0), 12, 2),
            round(col("x"), 0).cast(DecimalType(12, 2)))
          .collect().filterNot(r => r.get(0) == r.get(1))
        bad.isEmpty :| bad.take(5).mkString("\n")
      }
    }
}
