package graft

import graft.ops.Exact
import org.apache.spark.sql.functions._

/** The half-away integer ratios of [[graft.ops.Exact]] against a BigInt
  * reference that rounds by remainder (q = ⌊|num|·10^s / den⌋, one more
  * when 2·rem ≥ den, then the sign) — a different spelling of the same
  * rule, so a slip in either shows. The source scan keeps the formats
  * Exact owns from being spelled a second time. */
class ExactSpec extends GraftSpec {

  private def reference(num: BigInt, den: BigInt, scale: Int): BigInt = {
    val (q, r) = (num.abs * BigInt(10).pow(scale)) /% den
    val mag = if (r * 2 >= den) q + 1 else q
    if (num < 0) -mag else mag
  }

  // (num, den, scale): exact decimal ties, negative numerators, and a
  // numerator near the DECIMAL(38,0) envelope (2·|num|·10^s + den < 10³⁸)
  private val ties = Seq[(BigInt, BigInt, Int)](
    (5173, 80, 3),        // 64.6625 → 64.663, the supplierScorecard tie
    (10346, 160, 3),      // the same tie over a /2^k denominator
    (1, 128, 6),          // 0.0078125 → 0.007813
    (1, 8, 2), (5, 2, 0), (1, 3, 6), (2, 3, 6))
  private val negatives = ties.map { case (n, d, s) => (-n, d, s) } ++
    Seq[(BigInt, BigInt, Int)]((-1, 2, 0), (-7, 1, 4), (0, 7, 3))
  private val envelope = Seq[(BigInt, BigInt, Int)](
    (BigInt("40000000000000000000000000000007"), BigInt("30000000000000000000000001"), 6),
    (BigInt("-49998999999999999999999999999999"), BigInt("99999999999999999999999999"), 6))
  private val random = {
    val rnd = new scala.util.Random(20261019L)
    Seq.fill(200)((BigInt(rnd.nextLong() % 1000000000000L),
      BigInt(1 + rnd.nextInt(100000)), rnd.nextInt(7)))
  }
  private val cases = ties ++ negatives ++ envelope ++ random

  /** (ratioRound, ratioScaled) of every case, evaluated by Spark. */
  private lazy val evaluated: Seq[(Double, Long)] = {
    def dec(v: BigInt) = lit(new java.math.BigDecimal(v.bigInteger)).cast(Exact.Huge)
    val cols = cases.flatMap { case (n, d, s) =>
      Seq(Exact.ratioRound(dec(n), dec(d), s), Exact.ratioScaled(dec(n), dec(d), s))
    }
    val row = spark.range(1).select(cols: _*).head()
    cases.indices.map(i => (row.getDouble(2 * i), row.getLong(2 * i + 1)))
  }

  test("ratioScaled is the BigInt half-away reference: ties, negatives, the HUGEINT envelope") {
    val wrong = cases.zip(evaluated).collect {
      case ((n, d, s), (_, scaled)) if BigInt(scaled) != reference(n, d, s) =>
        s"$n/$d @ $s: $scaled, expected ${reference(n, d, s)}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    assert(evaluated.head._1 == 64.663)
  }

  test("ratioRound == ratioScaled / 10^scale") {
    val wrong = cases.zip(evaluated).collect {
      case ((n, d, s), (rounded, scaled)) if rounded != scaled.toDouble / math.pow(10, s) =>
        s"$n/$d @ $s: $rounded vs $scaled"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("no exact-number format is spelled outside Exact") {
    // the micro-unit format, HUGEINT, and the helpers' old home; comment
    // lines may name them, and the DuckDB oracle's SQL text (stripMargin
    // lines) keeps its own spellings as the independent reference
    val banned = """round\(round\(|DecimalType\(38, 0\)|""" +
      """\bRecon\.(cents|uncents|decSum|ratioRound|ratioScaled|micro|intDiv)\b"""
    val files = scalaSources("src/main/scala/graft")
    assert(files.exists(_._1.endsWith("/ops/Exact.scala")),
      "sources not found under src/main/scala/graft")
    val offenders = files.filterNot(_._1.endsWith("/ops/Exact.scala"))
      .flatMap { case (path, lines) =>
        lines.zipWithIndex.collect {
          case (l, i) if !Seq("*", "//", "|").exists(p => l.trim.startsWith(p)) &&
            banned.r.findFirstIn(l).isDefined =>
            s"$path:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty, s"use graft.ops.Exact:\n${offenders.mkString("\n")}")
  }
}
