package graft.ops

import graft.functions.ExactDecimal.exactDecimal
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, UnscaledValue}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.DecimalType

/** The exact-number formats every oracle-matched answer rests on
  * (SURVEY §7.4, Appendix A), each defined once: DECIMAL(18,4) cents in
  * longs, 6-dp micro-unit longs, DECIMAL(38,0) ≡ HUGEINT intermediates
  * and half-away integer ratios. The DuckDB oracle SQL keeps its own
  * spellings: it is the independent reference these are checked against. */
private[graft] object Exact {
  /** DECIMAL(38,0), Spark's spelling of DuckDB's 128-bit HUGEINT. */
  val Huge: DecimalType = DecimalType(38, 0)

  /** Exact scale-4 fixed-point representation of a numeric column: the
    * value is first rounded through DECIMAL(18,4) — the SAME rounding
    * decision the decimal-sum formulation makes, so downstream results
    * cannot move by an ulp — then carried as a plain long (value × 10⁴),
    * extracted by Catalyst's own `UnscaledValue` (a codegen'd field read
    * on the compact decimal).
    *
    * The rounding is [[graft.functions.ExactDecimal]], not a Cast. A
    * Cast of a double builds a BigDecimal per row (it prints the double
    * with `Double.toString` and parses the string); ExactDecimal
    * computes the same HALF_UP'd long in primitive arithmetic whenever
    * `|x·10⁴| < 2^40` and its fraction is not within 1e-3 of .5, and
    * hands every other value — NaN, ±∞, near-ties, large magnitudes —
    * and every non-double column to Spark's own Cast. The value is
    * `CAST(c AS DECIMAL(18,4))`'s in every case (ExactDecimalProps
    * checks it against Cast, ANSI on and off).
    * Longs aggregate through Spark's primitive hash-agg buffers (8-byte
    * UnsafeRow slots, no BigDecimal allocation per update/merge), where a
    * DECIMAL(18,4) sum forces a precision-28 buffer onto the interpreted
    * BigDecimal path for every row. */
  def cents(c: Column): Column =
    ExprBridge.column(UnscaledValue(ExprBridge.expression(exactDecimal(c, 18, 4))))

  /** Inverse of [[cents]] on an aggregated long: exact decimal division
    * (never double division, so the value is exact at ANY long magnitude,
    * not just below 2^53) then one presentation cast. */
  def uncents(c: Column): Column =
    (c.cast(DecimalType(38, 4)) / lit(10000)).cast("double")

  /** Money-exact aggregation: fixed-point long sum so partial-aggregation
    * order cannot change final ulps (SURVEY §7.4.1), surfaced as double.
    * Bit-identical to `sum(cast(c as DECIMAL(18,4)))` — same per-row
    * rounding, exact integer addition — while keeping the aggregation
    * buffer primitive. Envelope: the long holds |Σ| ≤ 9.2×10¹⁴ in value
    * units (2⁶³ / 10⁴); a single group exceeding that (≳ $10¹⁴ of
    * revenue in one group) needs the wide-decimal form
    * `sum(c.cast(DecimalType(38,4)))` instead — at that magnitude the
    * sum is no longer bench-floor-bound and the decimal buffer is the
    * right trade. */
  def decSum(c: Column): Column = uncents(sum(cents(c)))

  /** The 6-dp micro-unit format: `x` rounded to 6 dp as an exact long
    * (value × 10⁶) that sums order-free; not [[micro]], which scales a
    * HUGEINT denominator. Oracle twin: `CAST(round(round(x, 6) * 1e6) AS BIGINT)`. */
  def micros(x: Column): Column = round(round(x, 6) * 1e6, 0).cast("long")

  /** The half-away magnitude [[ratioRound]] and [[ratioScaled]] share:
    * sign·((2·|num|·10^scale + den) div (2·den)) in DECIMAL(38,0). */
  private def halfAway(num: Column, den: Column, scale: Int): Column = {
    val p = lit(math.pow(10, scale).toLong)
    val b = den.cast(Huge)
    val mag = intDiv(abs(num.cast(Huge)) * p * 2 + b, b * 2)
    when(num >= 0, mag).otherwise(-mag)
  }

  /** round-half-away(num/den, scale) in EXACT 128-bit integer
    * arithmetic — the cross-engine-safe presentation round for
    * integer/integer ratios, replacing `round(num/den AS DOUBLE,
    * scale)`. The double spelling genuinely splits the engines on
    * tie-adjacent quotients: Spark's Round goes through
    * `BigDecimal.valueOf(double)` — the double's SHORTEST decimal
    * string — and HALF_UPs that, while DuckDB computes
    * `std::round(x·10^scale)`; a quotient whose shortest repr ends in
    * a trailing 5 one digit past the scale (64.6625, 0.0078125, any
    * odd/2^k…) rounds UP on Spark and DOWN on DuckDB whenever the
    * underlying double sits below the decimal boundary — caught live
    * by supplier_scorecard's sf0.001 sweep (round 15). Exact-integer
    * half-away — sign·((2·|num|·10^scale + den) div (2·den)) — cannot
    * tie and cannot split: both engines' integral division truncates
    * toward zero. Preconditions: `den` must be > 0 (group counts,
    * lengths) AND `num` must be INTEGRAL-VALUED (long/int columns or
    * scale-0 decimals — the DECIMAL(38,0) cast HALF_UP-rounds a
    * fractional numerator first, a hidden double rounding the
    * exactness claim does not cover; fractional inputs must be
    * micro-scaled into longs by the caller before the call);
    * DECIMAL(38,0) ≡ HUGEINT keeps the 2·10^scale-magnified products
    * exact at corpus scale. Oracle twin:
    * `CAST(sign·((2·|num|·10^s + den) // (2·den)) AS DOUBLE) / 1e{s}`. */
  def ratioRound(num: Column, den: Column, scale: Int): Column =
    halfAway(num, den, scale).cast("double") / lit(math.pow(10, scale))

  /** [[ratioRound]]'s integer magnitude WITHOUT the presentation
    * division: round-half-away(num·10^scale / den) as a LONG column —
    * the exact scaled-unit form micro-long SUMMATION sites need (a
    * per-row round that feeds `sum(...)` must stay integral; routing
    * through ratioRound's double and re-extracting with
    * `round(x·1e6, 0)` would reintroduce the very double-multiply tie
    * class this family exists to remove). Same contract as ratioRound:
    * `den` > 0, `num` integral-valued and either sign, DECIMAL(38,0)
    * ≡ HUGEINT intermediates (envelope: 2·|num|·10^s + den < 10³⁸).
    * Oracle twin: `CAST(sign·((2·|num|·10^s + den) // (2·den)) AS
    * BIGINT)`. */
  def ratioScaled(num: Column, den: Column, scale: Int): Column =
    halfAway(num, den, scale).cast("long")

  /** Corpus-proof micro-scaled denominator for [[ratioRound]]/
    * [[ratioScaled]] callers: den·10⁶ with the cast to DECIMAL(38,0)
    * BEFORE the multiply — a corpus-sized count times 10⁶ overflows
    * the long multiply past ~9.2×10¹² rows on the Spark side, where
    * every DuckDB twin already spells `CAST(den AS HUGEINT) * 1000000`
    * (round-16 review). Not [[micros]], which scales a value. */
  def micro(den: Column): Column = den.cast(Huge) * 1000000

  /** Integral division (Spark's `div`, DuckDB's `//`) — both truncate
    * toward zero, so the pair is cross-engine parity-safe on exact
    * integer operands. */
  def intDiv(a: Column, b: Column): Column =
    ExprBridge.column(IntegralDivide(ExprBridge.expression(a), ExprBridge.expression(b)))
}
