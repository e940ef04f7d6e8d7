package graft

import graft.functions.{ExactDecimal, ExactDecimalKernel}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.scalacheck.rng.Seed

/** ScalaCheck properties for [[graft.functions.ExactDecimal]]'s contract:
  * on every input it is `CAST(child AS DECIMAL(p,s))` — the same value,
  * the same null, or the same error condition — at (18,4), (12,2) and
  * (12,0), under ANSI and legacy evaluation, interpreted and generated.
  * Double inputs come from the shapes that can split a primitive
  * rounding from Cast's `Double.toString` + BigDecimal one: k/10^s and
  * printed-half points one digit past the scale, each ±2 ulps; ±0.0
  * and subnormals; the 2^40/10^s fast-path edge and the 10^(p−s)
  * overflow edge; NaN, ±∞ and null; and arbitrary bit patterns. Other
  * child types (int, long, float, decimal(12,2), decimal(38,10)) must
  * come out exactly as Cast leaves them. Seeded; expression-level
  * evaluation, plus one whole-stage-codegen pass through a session. */
object ExactDecimalProps extends Properties("exactDecimal") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(100).withInitialSeed(Seed(11L))

  private val shapes = Seq((18, 4), (12, 2), (12, 0))
  private val modes = Seq(EvalMode.LEGACY, EvalMode.ANSI)

  private def stepUlps(x: Double, k: Int): Double =
    (0 until math.abs(k)).foldLeft(x)((v, _) => if (k > 0) math.nextUp(v) else math.nextDown(v))

  private val genUlps = Gen.choose(-2, 2)
  private val genMagnitude: Gen[Long] = Gen.oneOf(
    Gen.choose(-1000L, 1000L),
    Gen.choose(-1000000000L, 1000000000L),
    Gen.choose(-1000000000000000L, 1000000000000000L))

  /** k/10^s, correctly rounded, then ±2 ulps. */
  private val genGrid: Gen[Double] = for {
    s <- Gen.oneOf(0, 2, 4); k <- genMagnitude; u <- genUlps
  } yield stepUlps(java.math.BigDecimal.valueOf(k, s).doubleValue, u)

  /** (10k + 5)/10^(s+1) — printed with a 5 one digit past the scale,
    * Cast's HALF_UP tie — then ±2 ulps. */
  private val genHalf: Gen[Double] = for {
    s <- Gen.oneOf(0, 2, 4); k <- genMagnitude; u <- genUlps
  } yield stepUlps(java.math.BigDecimal.valueOf(10 * k + 5, s + 1).doubleValue, u)

  private val genTiny: Gen[Double] = Gen.oneOf(
    Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL),
    Gen.choose(1L, (1L << 52) - 1).map(java.lang.Double.longBitsToDouble),
    Gen.choose(1L, (1L << 52) - 1).map(b => -java.lang.Double.longBitsToDouble(b)))

  /** The fast-path edge 2^40/10^s and the overflow edges 10^(p−s) and
    * (10^p − ½)/10^s, each ±3 ulps and ±1 unit of the last place. */
  private val genEdge: Gen[Double] = for {
    ps <- Gen.oneOf(shapes)
    (p, s) = ps
    base <- Gen.oneOf(
      java.math.BigDecimal.valueOf(1L << 40).scaleByPowerOfTen(-s),
      java.math.BigDecimal.ONE.scaleByPowerOfTen(p - s),
      java.math.BigDecimal.TEN.pow(p).subtract(new java.math.BigDecimal("0.5"))
        .scaleByPowerOfTen(-s))
    unit <- Gen.choose(-1, 1)
    u <- Gen.choose(-3, 3)
    neg <- Gen.oneOf(false, true)
  } yield {
    val x = stepUlps(base.add(java.math.BigDecimal.valueOf(unit, s)).doubleValue, u)
    if (neg) -x else x
  }

  private val genSpecial: Gen[Double] = Gen.oneOf(Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue, -Double.MaxValue)

  private val genBits: Gen[Double] =
    Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble)

  private val genDouble: Gen[Double] = Gen.frequency(
    6 -> genGrid, 6 -> genHalf, 2 -> genTiny, 3 -> genEdge, 1 -> genSpecial,
    2 -> genBits, 2 -> Gen.choose(-1e9, 1e9))

  private def batch[T](g: Gen[T]): Gen[Seq[Option[T]]] =
    Gen.listOfN(200, Gen.frequency(1 -> Gen.const(None), 30 -> g.map(Some(_))))

  /** One evaluation's outcome: the decimal (scale included), null, or
    * the error condition it raised. */
  private def outcome(f: => Any): Any =
    try f match {
      case d: Decimal => d.toJavaBigDecimal
      case other => other
    } catch {
      case e: SparkThrowable => s"error ${e.getCondition}"
      case e: Throwable => s"error ${e.getClass.getName}"
    }

  private type Eval = InternalRow => Any

  /** Interpreted and generated evaluation of `e`, compiled once. */
  private val evals = scala.collection.mutable.Map.empty[Expression, Seq[Eval]]
  private def paths(e: Expression, dt: DecimalType): Seq[Eval] = synchronized {
    evals.getOrElseUpdate(e, {
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      Seq(row => e.eval(row), row => {
        val out = proj(row)
        if (out.isNullAt(0)) null else out.getDecimal(0, dt.precision, dt.scale)
      })
    })
  }

  /** Every (shape, mode, path) of ExactDecimal agrees with Cast's on
    * every value of the batch. */
  private def agreesWithCast(from: DataType, values: Seq[Option[Any]]): Prop = {
    val in = BoundReference(0, from, nullable = true)
    val mismatches = for {
      (p, s) <- shapes; mode <- modes
      dt = DecimalType(p, s)
      (castPath, exactPath) <- paths(Cast(in, dt, None, mode), dt)
        .zip(paths(ExactDecimal(in, p, s, mode), dt))
      v <- values
      row = InternalRow(v.orNull)
      want = outcome(castPath(row))
      got = outcome(exactPath(row))
      if want != got
    } yield s"$from $v at ($p,$s) $mode: cast $want, exact $got"
    mismatches.isEmpty :| mismatches.take(5).mkString("\n")
  }

  property("doubles: same value, null or error as Cast") =
    forAll(batch(genDouble))(vs => agreesWithCast(DoubleType, vs))

  property("the primitive kernel answers on-grid values itself") =
    forAll(Gen.oneOf(0, 2, 4), Gen.choose(-100000000L, 100000000L)) { (s, k) =>
      val x = java.math.BigDecimal.valueOf(k, s).doubleValue
      ExactDecimalKernel.unscaled(x, 18, 4) == k * math.pow(10, 4 - s).toLong &&
        ExactDecimalKernel.unscaled(x, 12, s) == k
    }

  property("int and long children come out as Cast leaves them") =
    forAll(batch(Gen.choose(Int.MinValue, Int.MaxValue)),
      batch(Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue), genMagnitude))) { (is, ls) =>
      agreesWithCast(IntegerType, is) && agreesWithCast(LongType, ls)
    }

  property("float children come out as Cast leaves them") =
    forAll(batch(Gen.oneOf(genBits.map(_.toFloat), genGrid.map(_.toFloat),
      Gen.choose(Int.MinValue, Int.MaxValue).map(java.lang.Float.intBitsToFloat))))(
      fs => agreesWithCast(FloatType, fs))

  property("decimal(12,2) and decimal(38,10) children come out as Cast leaves them") =
    forAll(batch(Gen.choose(-999999999999L, 999999999999L)),
      batch(for (sign <- Gen.oneOf("", "-"); ds <- Gen.listOfN(38, Gen.numChar))
        yield sign + ds.mkString)) { (d12, d38) =>
      agreesWithCast(DecimalType(12, 2), d12.map(_.map(Decimal(_, 12, 2)))) &&
        agreesWithCast(DecimalType(38, 10), d38.map(_.map(digits =>
          Decimal(new java.math.BigDecimal(new java.math.BigInteger(digits), 10), 38, 10))))
    }

  property("whole-stage codegen over a scan agrees with Cast") =
    forAll(batch(genDouble)) { vs =>
      val spark = TestSpark.spark
      import spark.implicits._
      val x = ExprBridge.expression(col("x"))
      val cols = shapes.flatMap { case (p, s) =>
        Seq(ExprBridge.column(Cast(x, DecimalType(p, s), None, EvalMode.LEGACY)),
          ExprBridge.column(ExactDecimal(x, p, s, EvalMode.LEGACY)))
      }
      // an RDD, not a local Seq: the optimizer would fold a projection
      // over a LocalRelation with interpreted eval
      val rows = spark.sparkContext.parallelize(vs.zipWithIndex, 2).toDF("x", "i")
        .select(cols :+ col("i"): _*).collect()
      rows.forall(r => shapes.indices.forall(j => r.get(2 * j) == r.get(2 * j + 1))) :|
        rows.filterNot(r => shapes.indices.forall(j => r.get(2 * j) == r.get(2 * j + 1)))
          .take(5).mkString("\n")
    }
}
