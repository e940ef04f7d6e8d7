package graft.ops

import graft.{Checkpoint, Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational analytics block (SURVEY.md §2.3–§2.7).
  *
  * 100 TB posture: all plans are declarative so Catalyst's pushdown /
  * pruning / join-selection apply. Joins are written smallest-first;
  * region/nation/supplier stay under `autoBroadcastJoinThreshold` so the
  * multiway join degenerates to broadcast hash joins with a single shuffle
  * on the fact table. Top-k uses `orderBy().limit()` which plans as
  * `TakeOrderedAndProject` — no global sort materialization.
  */
object Relational {
  import Recon.decSum

  /** Size gate for dual-form (single-pass vs bounded-state) operators:
    * on-disk parquet below this routes to the 1-job exact form whose
    * per-group buffering is proportional to DISTINCT values (≤ 256 MiB
    * compressed input keeps the worst-case buffer comfortably inside one
    * executor); above it, the selection / bucket-refine plans whose
    * state is answer-sized at any input scale. */
  private[graft] val SinglePassBytes: Long = 256L * 1024 * 1024

  /** TPC-H-Q1-style pricing summary: filter → 5 aggregates → sort.
    *
    * The partial aggregation happens in the scan stage. When the five
    * sums carried DECIMAL buffers this was CPU-dense enough that
    * [[graft.FanOut]]'s round-robin spread won (0.72 → 0.50 s sf0.1);
    * with the long-backed cent sums the partials are primitive adds and
    * the fan-out exchange — a full shuffle of the projected scan BEFORE
    * any combining — costs more than it spreads (0.67 → 0.52 s median
    * without it). At production scale the scan is thousands of splits
    * and map-side combine runs wide with no exchange either way. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sq"),
        decSum(col("l_extendedprice")).as("sep"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc"),
        (decSum(col("l_quantity")) / count(lit(1))).as("aq"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** 3-way equi-join + group + top-10 (shipping priority).
    *
    * The fact-fact join hash-builds the segment-filtered orders side
    * (`shuffle_hash` on the customer⋈orders branch) instead of
    * sort-merging: the build is ~1/5 of orders pruned to three columns,
    * the 4×-bigger lineitem stream probes unsorted (0.64 → 0.39 s
    * sf0.1). Per-task build = that fraction / shuffle-partitions —
    * scales down as the cluster's partition count grows; drop the hint
    * to fall back to AQE's sort-merge if a deployment's build side
    * outgrows executor memory. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .hint("shuffle_hash")
      .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .select(col("l_orderkey"), col("rev"), col("o_orderdate"))
      .orderBy(col("rev").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)

  /** TPC-H-Q6-shaped forecast-revenue-change: pure filter → one scalar
    * aggregate, no join, no group — the query whose entire cost is how
    * much of the scan the predicates eliminate. All three filters
    * (shipdate range, discount BETWEEN, quantity bound) push into the
    * parquet scan as min/max-prunable PushedFilters; double literals
    * parse to identical IEEE values on both engines, so the BETWEEN
    * boundary classifies alike. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(decSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  /** TPC-H-Q14-shaped promotion share: one month of lineitem joined to
    * part, conditional revenue ratio. The part side broadcasts (it is
    * the bounded dimension); the month filter prunes the fact scan
    * before the join, so the join probes only the window's rows. The
    * ratio divides two exact-DECIMAL-derived doubles — 4-dp stable. */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp")
        && col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(
        Recon.ratioRound(
          coalesce(sum(Recon.cents(when(col("p_type").startsWith("PROMO"), rev))),
            lit(0L)) * 100,
          sum(Recon.cents(rev)), 4).as("promo_pct"),
        count(lit(1)).as("n"))
  }

  /** 6-way join through the dimension chain, extra equi-condition on the
    * customer's nation. Dims are tiny → broadcast; lineitem shuffles once. */
  def q5MultiwayJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir)
      .join(Tables.nation(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.lineitem(spark, dir), col("l_suppkey") === col("s_suppkey"))
      // no shuffle_hash hint on the orders join, unlike ship_lag_stats:
      // measured SLOWER here (0.90 s vs 0.70 s sf0.1 same-JVM) — this
      // plan's orders side feeds two further joins and the SMJ ordering
      // it produces is reused, so the hash build buys nothing back
      .join(Tables.orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir),
        col("c_custkey") === col("o_custkey") && col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .orderBy(col("rev").desc, col("n_name"))

  /** Ranking window: top-3 parts per brand by price. */
  def windowTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_name"), col("p_retailprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("p_brand", "rn")
  }

  /** Batch-parity anchor for the STREAMING bounded top-k twin — runs
    * [[graft.streaming.StreamingOps.streamingTopK]]'s LITERAL code path
    * (the [[graft.functions.MinK]] UDAF is mode-independent: the state
    * store invokes the same merge the batch partial-agg does) over
    * lineitem, so the driver's DuckDB oracle grounds the sorted
    * smallest-k multiset contract the streaming monitor ships; the
    * StreamingSpec parity test drives the same feed through
    * MemoryStream in complete mode and asserts identical rows (the
    * `recon_stream_hash_diff` recipe). Oracle re-derives the answer as
    * a per-group window rank — the very spelling MinK exists to beat at
    * scale, which is fine for a 600 k-row oracle.
    *
    * The registry artifact posexplodes MinK's sorted list into scalar
    * (l_returnflag, rank, value) rows: the driver's pandas comparator
    * sorts columns before hashing and cannot order array cells, so the
    * list-valued form (kept as-is for the streaming/library surface and
    * its MemoryStream parity spec) is presented element-wise here. */
  def minkTopkParity(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.streamingTopK(
        Tables.lineitem(spark, dir).select(col("l_returnflag"), col("l_quantity")),
        "l_returnflag", "l_quantity", 5)
      .select(col("l_returnflag"),
        posexplode(col("smallest")).as(Seq("pos", "value")))
      .select(col("l_returnflag"), (col("pos") + 1).as("rank"), col("value"))
      .orderBy("l_returnflag", "rank")

  /** Frame-spec window: running sum per customer over order date. */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"),
        Recon.uncents(sum(Recon.cents(col("o_totalprice"))).over(w)).as("run"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      .limit(100)
      .drop("o_orderkey")
  }

  /** Window-function battery: lead/lag/ntile/percent_rank/first over one
    * (custkey, orderdate) sort — all five share a single window spec, so
    * Spark plans ONE shuffle + ONE sort for the lot. */
  def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"),
        // percent_rank = (rank−1)/(n−1) respelled as the exact integer
        // ratio (Recon.ratioRound — the int/int tie class); single-row
        // partitions are 0.0 by the percent_rank contract
        when(count(lit(1)).over(Window.partitionBy(col("o_custkey"))) > 1,
          Recon.ratioRound(rank().over(w) - 1,
            count(lit(1)).over(Window.partitionBy(col("o_custkey"))) - 1, 6))
          .otherwise(lit(0.0)).as("prank"),
        first(col("o_orderkey")).over(w).as("first_key"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(200)
  }

  /** 2-D histogram: line items per (quantity band × price band) with
    * exact revenue per cell — the joint-distribution profile behind
    * pricing analysis, where the 1-D histograms ([[histogramAgg]]) hide
    * the correlation structure. One two-phase hash agg straight off the
    * scan; both band keys are integer `floor` buckets with fixed
    * data-independent widths (bit-identical across engines, comparable
    * across runs); output is band-grid-sized at any input scale. */
  def qtyPriceBands(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(floor(col("l_quantity") / 10).as("qty_band"),
        floor(col("l_extendedprice") / 20000).as("price_band"))
      .agg(count(lit(1)).as("n"),
        decSum(col("l_extendedprice")).as("revenue"))
      .orderBy("qty_band", "price_band")

  /** Whole-frame positional window battery — nth_value / first / last
    * over the UNBOUNDED-to-UNBOUNDED rows frame, the surface
    * [[windowFuncs]]'s default (growing) frame can't express: "this
    * customer's 2nd-ever and latest order" on every row. All three
    * share one whole-partition frame over the same (custkey; date, key)
    * spec — one shuffle, one sort; nth_value is null for customers with
    * fewer than 2 orders in both engines (no frame row 2). Per-customer
    * frames are order-count-sized (schema-constant fan-in), the q17
    * window argument. */
  def nthValueFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"),
        count(lit(1)).over(w).as("n_orders"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(200)
  }

  /** Exact interpolated percentiles per order status: the two values
    * straddling `p * (n-1)` come from [[Selection.valueAtRanks]]
    * (bucket-then-refine distributed selection), then the linear
    * interpolation — the same continuous-percentile definition Spark's
    * `percentile` aggregate and DuckDB's `quantile_cont` implement,
    * rounded 4 dp to absorb interpolation ulps.
    *
    * Three generations of this op, each bit-identical in output: the
    * `percentile` aggregate buffers an in-memory value map per group
    * (0.97 s sf0.1, unbounded state); the window-rank form externally
    * sorts the full stream per group (0.62 s, spillable but still a
    * row-count-sized sort); selection touches each row twice in
    * streaming scans and only ever sorts bucket- or group-sized frames
    * (no row-count-sized ANYTHING at any scale). Sub-percentile
    * accuracy at even smaller state is [[quantileApprox]] (GK sketch,
    * mergeable map-side).
    *
    * Size-gated dispatch (round-9 verdict #3): below
    * [[Relational.SinglePassBytes]] of on-disk parquet (driver-side
    * metadata, no job) the whole summary is ONE `percentile` aggregate
    * pass — the buffering the scaladoc above warns about is exactly
    * right when the table fits a reconciliation window, and it collapses
    * 3 jobs to 1. Above the gate, the bounded-state selection plan. Both
    * forms compute lo + (hi-lo)·frac at pos = q·(n-1) in double
    * arithmetic — bit-identical (spec-asserted). */
  def quantileSummary(spark: SparkSession, dir: String): DataFrame =
    if (Tables.tableBytes(spark, dir, "orders") <= SinglePassBytes)
      quantileSummarySmall(spark, dir)
    else quantileSummarySelection(spark, dir)

  /** Single-pass small-input form: one scan, one `percentile` aggregate
    * holding each group's (value → count) map in the agg buffer. */
  private[graft] def quantileSummarySmall(spark: SparkSession,
                                          dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_totalprice").cast("double").as("v"))
      .groupBy("o_orderstatus")
      .agg(expr("percentile(v, array(0.5D, 0.95D))").as("p"),
        count(lit(1)).as("n"))
      .select(col("o_orderstatus"),
        round(col("p")(0), 4).as("p50"), round(col("p")(1), 4).as("p95"),
        col("n"))
      .orderBy("o_orderstatus")

  /** Bounded-state large-input form of [[quantileSummary]]. */
  private[graft] def quantileSummarySelection(spark: SparkSession,
                                              dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_totalprice").cast("double").as("v"))
    val counts = base.groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
    val pos50 = lit(0.5) * (col("cnt") - 1)
    val pos95 = lit(0.95) * (col("cnt") - 1)
    // 1-based ranks of the four interpolation endpoints; floor==ceil
    // when pos lands on an integer, hence the distinct before selection
    val tagged = counts.select(col("o_orderstatus"), col("cnt"),
      explode(array(
        struct(lit("lo50").as("tag"), (floor(pos50) + 1).as("rank"), pos50.as("pos")),
        struct(lit("hi50").as("tag"), (ceil(pos50) + 1).as("rank"), pos50.as("pos")),
        struct(lit("lo95").as("tag"), (floor(pos95) + 1).as("rank"), pos95.as("pos")),
        struct(lit("hi95").as("tag"), (ceil(pos95) + 1).as("rank"), pos95.as("pos")))).as("t"))
      .select(col("o_orderstatus"), col("cnt"), col("t.tag"), col("t.rank"),
        col("t.pos"))
    val vals = Selection.valueAtRanks(base, Seq("o_orderstatus"), "v",
      tagged.select(col("o_orderstatus"), col("rank")).distinct())
    def pct(tag: String) = round(
      col(s"lo$tag") +
        (col(s"hi$tag") - col(s"lo$tag")) * (col(s"pos$tag") - floor(col(s"pos$tag"))),
      4).as(s"p$tag")
    tagged.join(vals, Seq("o_orderstatus", "rank"))
      .groupBy("o_orderstatus")
      .agg(
        max(when(col("tag") === "lo50", col("value"))).as("lo50"),
        max(when(col("tag") === "hi50", col("value"))).as("hi50"),
        max(when(col("tag") === "lo95", col("value"))).as("lo95"),
        max(when(col("tag") === "hi95", col("value"))).as("hi95"),
        max(when(col("tag") === "lo50", col("pos"))).as("pos50"),
        max(when(col("tag") === "lo95", col("pos"))).as("pos95"),
        max("cnt").as("n"))
      .select(col("o_orderstatus"), pct("50"), pct("95"), col("n"))
      .orderBy("o_orderstatus")
  }

  /** Bounded-state twin of [[quantileSummary]] for the 100 TB path:
    * `approx_percentile` keeps a fixed-size Greenwald-Khanna sketch per
    * group (rank error <= n/accuracy), mergeable map-side — constant
    * memory where exact `percentile` buffers the column. The raw
    * quantile VALUES have no SQL oracle (sketch internals are
    * engine-specific); the oracled harness shape is
    * [[quantileApproxCheck]]. */
  def quantileApprox(spark: SparkSession, dir: String,
                     accuracy: Int = 10000): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr(s"approx_percentile(o_totalprice, array(0.5D, 0.95D), $accuracy)").as("p"),
        count(lit(1)).as("n"))
      .select(col("o_orderstatus"), col("p")(0).as("p50"), col("p")(1).as("p95"), col("n"))
      .orderBy("o_orderstatus")

  /** Oracled form of [[quantileApprox]]: an approximate op's CONTRACT is
    * its error bound, so the harness row carries the exact group key,
    * the exact count, and a boolean per quantile asserting the GK rank
    * guarantee — the returned value must hold SOME rank inside
    * [(q−ε)·n, (q+ε)·n], ε = 1/accuracy. The value's feasible rank
    * interval is [count(<v)+1, count(≤v)] (exact integer counts from a
    * second scan, broadcast-joined against the |groups|-row sketch
    * output), so `ok` ⇔ the intervals overlap. DuckDB reproduces the
    * key/count columns exactly and the booleans as constants — a sketch
    * regression that breaks the bound flips a boolean and fails the
    * hash compare, which is precisely the property worth gating
    * (round-11 verdict #4: convert no-oracle ops by oracling the bound,
    * the r10 wav-meta precedent). Both scans are map-combined aggs; the
    * join is broadcast answer-sized — nothing row-proportional moves. */
  def quantileApproxCheck(spark: SparkSession, dir: String,
                          accuracy: Int = 10000): DataFrame = {
    val eps = 1.0 / accuracy
    val base = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_totalprice").cast("double").as("v"))
    val sketch = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(expr(
        s"approx_percentile(o_totalprice, array(0.5D, 0.95D), $accuracy)").as("p"))
      .select(col("o_orderstatus"),
        col("p")(0).as("p50"), col("p")(1).as("p95"))
    def inBound(q: Double, tag: String) =
      (col(s"lt$tag") + 1 <= ceil(lit(q + eps) * col("n")) &&
        col(s"le$tag") >= floor(lit(q - eps) * col("n")))
        .as(s"p${tag}_in_bound")
    base.join(broadcast(sketch), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count_if(col("v") < col("p50")).as("lt50"),
        count_if(col("v") <= col("p50")).as("le50"),
        count_if(col("v") < col("p95")).as("lt95"),
        count_if(col("v") <= col("p95")).as("le95"))
      .select(col("o_orderstatus"), col("n"),
        inBound(0.50, "50"), inBound(0.95, "95"))
      .orderBy("o_orderstatus")
  }

  /** String-function battery (trim/pad/regexp/position/reverse/repeat/
    * left) — row-local projections, codegen'd built-ins throughout.
    * Dialect note: Spark `regexp_replace` is global; DuckDB needs the
    * explicit 'g' flag. `instr` ↔ `strpos` share 1-based, 0-if-absent
    * semantics. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      trim(col("p_name")).as("t"),
      lpad(col("p_brand"), 12, "*").as("lp"),
      regexp_replace(col("p_type"), "[aeiou]", "_").as("rr"),
      instr(col("p_name"), "a").cast("long").as("pos_a"),
      reverse(col("p_brand")).as("rev"),
      expr("left(p_name, 5)").as("l5"),
      expr("repeat(left(p_brand, 3), 2)").as("rep"))
      .orderBy("p_partkey")
      .limit(100)

  /** Null/conditional battery: nullif creates the nulls deterministically,
    * coalesce fills them, greatest/least exercise null-safe n-ary compare.
    * Row-local, codegen'd. */
  def nullFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      nullif(col("o_orderstatus"), lit("O")).as("ns"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("none")).as("cs"),
      greatest(col("o_orderkey") % 7, col("o_custkey") % 5).as("g"),
      least(col("o_orderkey") % 7, col("o_custkey") % 5).as("l"))
      .orderBy("o_orderkey")
      .limit(200)

  /** Pivot: order counts and DECIMAL-exact revenue by priority, one
    * column group per order status. The pivot values are pinned
    * explicitly — letting Spark discover them costs an extra distinct
    * scan AND makes the output schema data-dependent, both wrong at
    * scale. Plans as one two-phase hash aggregate (pivot is a projection
    * over the grouped frame, not a shuffle of its own). */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("rev"))
      .orderBy("o_orderpriority")

  /** Statistical aggregate battery per return flag: sample stddev /
    * variance, Pearson correlation and sample covariance of quantity vs
    * price. All are one-pass mergeable aggregates (Welford-style partial
    * state) — constant memory at any scale, unlike exact percentile.
    * Values round to 4 dp: parallel partial-merge order moves the last
    * ulps vs a single-threaded engine, and the quantities are O(1..1e4)
    * so 4 dp absorbs that while still pinning the math. */
  def statsFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(safeCorr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qd"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Pearson correlation with DuckDB's degenerate-group semantics:
    * Spark 4's `corr` (ANSI on, the session default) THROWS
    * DIVIDE_BY_ZERO when either column has zero variance in a group,
    * where DuckDB returns NULL — the one cross-engine degenerate-group
    * divergence left after the round-13 probe (covar/stddev/var/skew/
    * kurt/regr_* already agree engine-to-engine: 0.0 on a constant
    * column where defined, NULL on a single row). Spelled over corr's
    * OWN sufficient statistics — `try_divide(covar_pop, σx·σy)` shares
    * the Welford accumulation (Covariance and CentralMomentAgg use the
    * identical update/merge as Corr), so the non-degenerate value
    * differs only in final-step rounding order (≪ the 4-dp surface) and
    * a zero-variance side gives try_divide(0, 0) → NULL, exactly
    * DuckDB's corr. Parity vs native corr pinned in
    * DegenerateStatsSpec. */
  private[graft] def safeCorr(x: Column, y: Column): Column =
    try_divide(covar_pop(x, y), stddev_pop(x) * stddev_pop(y))

  /** Fixed-width histogram of order totals — the numeric-binning staple
    * (distribution dashboards, spill-size planning, outlier triage) the
    * battery didn't cover. Bucketing is plain floor arithmetic on the
    * stored double (`floor(v / width)`), bit-identical across engines —
    * dialect-fork-free where `width_bucket` boundary conventions are not.
    * One two-phase hash agg on a row-local key: partial maps hold ≤ the
    * bucket count, so at 100 TB only (bucket, partials) rows shuffle.
    * Money sums go through DECIMAL before the double presentation cast
    * (Appendix A discipline). */
  def histogramAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        decSum(col("o_totalprice")).as("total"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      .orderBy("bucket")

  /** ROLLUP over (status, priority) incl. the grand-total row. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("s"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
        col("n"), col("s"))
      .orderBy("st", "pr")

  /** CUBE over (status, priority): all four grouping combinations in one
    * pass (Expand + two-phase hash agg, same family as rollup). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("s"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
        col("n"), col("s"))
      .orderBy("st", "pr")

  /** Explicit GROUPING SETS (Spark 4 `Dataset.groupingSets`): status
    * totals and priority totals in one pass — the subset of CUBE a
    * reconciliation report actually wants, at half CUBE's expansion. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("s"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
        col("n"), col("s"))
      .orderBy("st", "pr")

  /** Set difference: BUILDING customers who never placed an order over
    * 300 k (threshold chosen so the result is non-empty on the testdata —
    * an always-empty set can't tell a working EXCEPT from a broken one). */
  def setOpsExcept(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000).select(col("o_custkey").as("c_custkey"))
    building.except(bigOrders).orderBy("c_custkey").limit(50)
  }

  /** Set operation: BUILDING customers ∩ customers with orders > 1000. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 1000).select(col("o_custkey").as("c_custkey"))
    building.intersect(bigOrders).orderBy("c_custkey").limit(50)
  }

  /** Date/time scalar battery: extraction, truncation, arithmetic —
    * functions with identical semantics in both engines (dayofweek and
    * add_months are dialect traps: numbering and month-end clamping
    * differ, so days-based arithmetic is used instead). */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_trunc("quarter", col("o_orderdate")).as("q"),
        date_add(col("o_orderdate"), 30).as("plus30"),
        last_day(col("o_orderdate")).as("eom"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate")).as("days_to_98"))
      .orderBy("o_orderkey")
      .limit(200)

  /** String/math scalar battery; money math through DECIMAL for
    * engine-identical rounding. */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("u"),
        length(col("p_type")).cast("long").as("lt"),
        round(col("p_retailprice").cast(DecimalType(12, 2))
          * lit("1.1").cast(DecimalType(2, 1)), 2).cast("double").as("pr"),
        concat(col("p_brand"), lit("#"), col("p_size").cast("string")).as("ck"))
      .orderBy("p_partkey")
      .limit(100)

  /** TPC-H-Q17-shaped correlated aggregate: revenue from "small-quantity"
    * lineitems — rows whose quantity is below 20% of THEIR part's average
    * — rolled up per brand. The correlated scalar subquery decorrelates
    * to a whole-partition WINDOW aggregate on `l_partkey`: each row sees
    * its part's average in the same (single) shuffle that a
    * aggregate-then-rejoin plan would pay TWICE (threshold agg exchange
    * + probe-side exchange, with the fact scanned once per side). The
    * per-part frame the window sorts is the part fan-in — a constant of
    * the schema, not the table size — so the shape holds at 100 TB. The
    * part dimension broadcasts after the filter has shrunk the stream.
    * Thresholds derive from exact DECIMAL sums ÷ count, so both engines
    * compare against bit-identical doubles and the `<` boundary
    * classifies identically.
    *
    * Size-gated dual form (the [[quantileSummary]] pattern): while the
    * part DIMENSION fits the broadcast budget (driver-side parquet
    * footprint, no job), the per-part thresholds pre-aggregate —
    * map-side combine collapses the fact to one row per part BEFORE any
    * exchange — and broadcast back onto a second pruned scan, so the
    * fact never shuffles at all (0.71 → 0.58 s median sf0.1, same-JVM).
    * Past the gate the threshold frame is part-cardinality —
    * unbroadcastable — and the one-shuffle window form takes over. Both
    * forms build the identical threshold double from the same exact
    * cent-sums (spec-asserted equal), so the gate can never move a
    * result. */
  def q17AvgQuantity(spark: SparkSession, dir: String): DataFrame =
    if (Tables.tableBytes(spark, dir, "part") <= SinglePassBytes)
      q17Broadcast(spark, dir)
    else q17Window(spark, dir)

  /** Broadcast-threshold small-dimension form of [[q17AvgQuantity]]. */
  private[graft] def q17Broadcast(spark: SparkSession, dir: String): DataFrame = {
    val th = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(((Recon.uncents(sum(Recon.cents(col("l_quantity")))) / count(lit(1)))
        * 0.2).as("threshold"))
    q17Report(Tables.lineitem(spark, dir)
      .join(broadcast(th), Seq("l_partkey"))
      .where(col("l_quantity") < col("threshold")), spark, dir)
  }

  /** One-shuffle window form of [[q17AvgQuantity]] — any dimension size. */
  private[graft] def q17Window(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
    q17Report(Tables.lineitem(spark, dir)
      .withColumn("threshold",
        (Recon.uncents(sum(Recon.cents(col("l_quantity"))).over(w))
          / count(lit(1)).over(w)) * 0.2)
      .where(col("l_quantity") < col("threshold")), spark, dir)
  }

  /** Shared report tail: part join + per-brand revenue rollup. The part
    * dim broadcasts only under the same size gate that picks the
    * threshold form — the round-14 gate-crossing smoke caught the
    * unconditional `broadcast(part)` OOM-ing the driver the moment part
    * outgrew the gate (the window form had correctly stopped broadcasting
    * the THRESHOLD, but the report tail still pinned the dim). Past the
    * gate the join shuffles; AQE still broadcasts it if runtime stats
    * allow. */
  private def q17Report(below: DataFrame, spark: SparkSession, dir: String): DataFrame =
    below
      .join(gatedDim(spark, dir, "part", Tables.part(spark, dir)),
        col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand")
      .agg((decSum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n"))
      .orderBy("p_brand")

  /** Basket-size census: one row per distinct-parts-per-order count
    * with the number of baskets and their share — the orders twin of
    * `dup_size_distribution`, and the measurement that justifies (or
    * re-tunes) [[graft.ops.Graph.MaxBasketParts]]: the co-purchase
    * family's per-basket quadratic cost is driven by exactly this
    * histogram's tail. All integers except one identically-spelled
    * share division; histogram is ≤ max-basket-size rows, the 1-row
    * total broadcasts (answer-sized by construction); the only
    * corpus-sized pass is the (order, part) distinct collapse. */
  def basketSizeProfile(spark: SparkSession, dir: String): DataFrame = {
    // Round-21 (§2.4 — two operations keyed the same way share one
    // exchange): ONE orderkey-keyed explicit exchange satisfies both
    // the (ok, pk) distinct (ClusteredDistribution(ok, pk) is
    // satisfied by HashPartitioning(ok) — all of an order's rows
    // co-locate) and the per-order size count (already clustered),
    // replacing the (ok, pk)-keyed distinct exchange PLUS the bs-frame
    // ok-keyed exchange. The price — the distinct's map-side partial
    // combine — is near-free here ((ok, pk) is ~unique in lineitem;
    // the lineitem_price_index round-20 tradeoff, basket edition, same
    // honest caveat for a dup-heavy corpus). Same-JVM quiet reads:
    // shipped 0.751/0.781/0.787 vs this form 0.472/0.504/0.620 min.
    val nPart = spark.sessionState.conf.numShufflePartitions
    val bs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(nPart, col("l_orderkey"))
      .dropDuplicates("l_orderkey", "l_partkey")
      .groupBy("l_orderkey").agg(count(lit(1)).as("sz"))
    val hist = bs.groupBy(col("sz").as("basket_size"))
      .agg(count(lit(1)).as("n_baskets"))
    val tot = hist.agg(sum(col("n_baskets")).as("tb"))
    hist.crossJoin(broadcast(tot))
      .select(col("basket_size"), col("n_baskets"),
        Recon.ratioRound(col("n_baskets"), col("tb"), 6)
          .as("basket_share"))
      .orderBy("basket_size")
  }

  /** Growing-dimension broadcast, behind the same size gate that picks
    * dual query forms: part/supplier scale WITH the data (unlike the
    * spec-constant region/nation), so a pinned `broadcast()` is a
    * latent driver OOM — the round-14 10× gate-crossing smoke caught
    * exactly that in [[q17Report]]. Past the gate the join shuffles
    * (AQE still broadcasts at runtime if actual stats allow); the
    * on-disk byte probe is [[graft.Tables.tableBytes]], one uncached
    * driver-side content summary per call, no Spark job. */
  private[graft] def gatedDim(spark: SparkSession, dir: String,
                              name: String, dim: DataFrame): DataFrame =
    if (Tables.tableBytes(spark, dir, name) <= SinglePassBytes) broadcast(dim)
    else dim

  /** Array / higher-order-function battery over the document corpus —
    * the collection-type coverage the scalar batteries don't touch:
    * split, size, array_distinct, sort_array, slice, concat_ws,
    * array_contains, element_at (positive and negative index). All
    * row-local codegen'd projections; the only shuffle is the
    * presentation sort. DuckDB twin uses list_* functions (binary
    * collation on both sides, so sort_array ≡ list_sort). */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      concat_ws("|", slice(sort_array(array_distinct(toks)), 1, 3)).as("first3"),
      array_contains(toks, "the").as("has_the"),
      element_at(toks, 1).as("first_tok"),
      element_at(toks, -1).as("last_tok"))
      .orderBy("doc_id")
  }

  /** Key-skew profile for any keyed frame: the top-k heaviest keys with
    * their absolute count, share of all rows, and ratio to the mean key
    * load — the numbers that decide whether a planned join/groupBy on
    * `keyCol` needs salting, AQE skew-join handling, or a broadcast
    * restructure BEFORE the 100 TB run burns a day discovering it.
    *
    * Shape: one two-phase hash agg to (key, n) — only post-combine pairs
    * shuffle — then a 1-row global summary (count+sum over the already
    * tiny key frame) broadcast back, and a `TakeOrderedAndProject` top-k.
    * Nothing after the first combine is proportional to row count. */
  def skewProfile(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"skewProfile: topK must be positive: $topK")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val totals = counts.agg(
      sum(col("n")).as("total_rows"), count(lit(1)).as("distinct_keys"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("n"),
        Recon.ratioRound(col("n") * 100, col("total_rows"), 4).as("pct"),
        Recon.ratioRound(col("n") * col("distinct_keys"), col("total_rows"), 4)
          .as("x_avg"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(topK)
  }

  /** Harness op: the 20 heaviest users in the zipf-ish event stream —
    * the skew diagnosis you run before joining or sessionizing on
    * user_id. */
  def skewProfileEvents(spark: SparkSession, dir: String): DataFrame =
    skewProfile(Tables.events(spark, dir), "user_id", 20)

  /** Semi/anti-join battery: per market segment, customers with at least
    * one 400 k+ order (left-semi) and customers with no 250 k+ order at
    * all (left-anti). Both plan as broadcast/shuffled hash joins that
    * emit only the probe side — no fan-out, no dedup step afterwards,
    * which is why EXISTS-shaped filters at 100 TB should always be semi
    * joins rather than join+distinct. Segments with a zero count survive
    * via the left join from the distinct-segment spine. */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ords = Tables.orders(spark, dir)
    val semi = cust
      .join(ords.filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_semi"))
    val anti = cust
      .join(ords.filter(col("o_totalprice") > 250000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_anti"))
    cust.select(col("c_mktsegment")).distinct()
      .join(semi, Seq("c_mktsegment"), "left")
      .join(anti, Seq("c_mktsegment"), "left")
      .select(col("c_mktsegment"),
        coalesce(col("n_semi"), lit(0L)).as("n_semi"),
        coalesce(col("n_anti"), lit(0L)).as("n_anti"))
      .orderBy("c_mktsegment")
  }

  /** min_by/max_by battery: first and last order per status along the
    * (orderdate, orderkey) timeline. The ordering value is a single
    * unique BIGINT — epoch seconds × 10⁶ + orderkey — because argmin/
    * argmax over a non-unique instant is engine-dependent (and DuckDB's
    * max_by cannot take a struct), so the composite makes the answer a
    * pure function of the data. One hash agg, no window, no sort. */
  def minmaxByAgg(spark: SparkSession, dir: String): DataFrame = {
    val inst = unix_timestamp(col("o_orderdate")) * lit(1000000L) + col("o_orderkey")
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        min_by(col("o_orderkey"), inst).as("first_key"),
        min_by(col("o_totalprice"), inst).as("first_price"),
        max_by(col("o_orderkey"), inst).as("last_key"),
        max_by(col("o_totalprice"), inst).as("last_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Pairwise Pearson correlation matrix over the lineitem measures,
    * long format. All six coefficients come out of ONE scan + ONE
    * 1-row aggregate (Spark fuses the six corr() states into a single
    * partial-agg pass); the unpivot to (col_a, col_b, r) is driver-cheap
    * stack() over that single row. Rounded to 4 dp — corr is a ratio of
    * centered sums, stable at that precision across engines. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices
      j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      // safeCorr: NULL (not DIVIDE_BY_ZERO) on a zero-variance column —
      // DuckDB's semantics, required the day a regen produces one
      round(safeCorr(col(a), col(b)), 4).as(s"${a}__$b")
    }
    val stackArgs = pairs
      .map { case (a, b) => s"'$a', '$b', `${a}__$b`" }
      .mkString(", ")
    Tables.lineitem(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${pairs.size}, $stackArgs) as (col_a, col_b, r)"))
      .orderBy("col_a", "col_b")
  }

  /** LISTAGG / string_agg: the distinct statuses seen per priority as one
    * delimited string. Spark's native `listagg` leaves element order
    * unspecified (it concatenates in arrival order), so the portable form
    * is collect_set → array_sort → array_join — same hash agg, and the
    * sort runs on a ≤3-element array per group, not on rows. At 100 TB
    * the state per group is bounded by the DISTINCT value count, not the
    * row count, so this is safe exactly when the cardinality contract
    * (few distinct statuses) holds — the same contract string_agg has on
    * any engine. */
  def listaggStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"))
      .orderBy("o_orderpriority")

  /** Linear-regression aggregate battery: slope/intercept/R² of
    * extendedprice on quantity per returnflag. One scan, one hash agg —
    * Spark fuses the four regr_* states into a single partial-agg pass
    * (each is a few centered sums), so the cost is q1-shaped regardless
    * of group count. Rounded to 4 dp: the coefficients are ratios of
    * centered sums, stable at that precision across engines (the
    * corr_matrix discipline). */
  def regrFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
      .orderBy("l_returnflag")

  /** Rank-family battery not covered by window_funcs: cume_dist and
    * nth_value over the unique (totalprice, orderkey) order, dense_rank
    * over the genuinely tied priority order (ties are the point — rank
    * would gap, dense_rank must not). cume_dist over a unique ordering is
    * deterministic; dense_rank under ties assigns the tied value to every
    * peer, so both are pure functions of the data. Same scale shape as
    * every window op here: one shuffle on the partition key, per-group
    * sort, single pass — with the honest caveat that a LOW-CARDINALITY
    * partition key (3 statuses here) caps parallelism at the group
    * count; at 100 TB, rank against a 3-value key belongs in an
    * aggregation-based formulation (quantile sketch + broadcast
    * thresholds), not a window. */
  def cumeDistFuncs(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w1 = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    // dense_rank over a LOW-cardinality ordering (≤ 5 priorities per
    // status) is a pure function of the distinct (status, priority)
    // pairs: rank the answer-sized distinct frame, broadcast it back,
    // and the second full-data sort the round-8 form paid (two window
    // specs ⇒ two sorts of the whole stream) becomes a row-local hash
    // probe — the aggregation-based formulation the caveat above
    // prescribes at scale.
    val ranks = o.select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .withColumn("dr", dense_rank().over(
          Window.partitionBy(col("o_orderstatus"))
            .orderBy(col("o_orderpriority"))).cast("long"))
    o.join(broadcast(ranks), Seq("o_orderstatus", "o_orderpriority"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        // cume_dist = rank/n; the (price, key) order is total (unique
        // key) so rank ≡ row_number and the ratio is exact integers
        // through Recon.ratioRound (the int/int tie class)
        Recon.ratioRound(row_number().over(w1),
          count(lit(1)).over(Window.partitionBy(col("o_orderstatus"))), 6)
          .as("cd"),
        col("dr"),
        nth_value(col("o_orderkey"), 3).over(w1).as("nv"))
      .orderBy("o_orderkey").limit(200)
  }

  /** RANGE-frame window: 30-day trailing spend per customer. The frame is
    * a VALUE range over epoch seconds (−2 592 000 .. 0), not a row count —
    * the semantics ROWS frames cannot express when a customer has gaps or
    * bursts. Equal instants are peers and always share a frame, so the
    * result is order-independent under ties. Exact DECIMAL sums make the
    * moving total bit-identical across engines. One shuffle on custkey,
    * per-group sort, single sliding pass with O(1) state per row. */
  def rangeFrameWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-2592000L, 0L)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        Recon.uncents(sum(Recon.cents(col("o_totalprice"))).over(w))
          .as("trailing30d"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey").limit(200)
  }

  /** Bitwise aggregate battery (bit_and / bit_or / bit_xor) over the
    * order keys folded into a 12-bit space. XOR aggregation is the same
    * primitive the recon partition fingerprints build on (order-independent
    * set digest); and/or give the bit-envelope of the key set. One hash
    * agg, integer state, perfectly map-side-combinable. */
  def bitAgg(spark: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey") % 4096
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(bit_and(k).as("b_and"), bit_or(k).as("b_or"),
        bit_xor(k).as("b_xor"), count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Percent-of-total: each order's share of its status's total revenue.
    * The denominator is an exact cent-sum aggregate per status — a
    * 3-row frame broadcast back onto the scan, so the share divide is a
    * row-local hash probe. The earlier whole-partition-window form was
    * one scan but partitioned the full stream by a 3-VALUE key: a
    * 3-task parallelism cap that only worsens with data size (the same
    * caveat [[cumeDistFuncs]] documents), and measured SLOWER even at
    * sf0.1 (0.67 → 0.54 s median) — the agg branch map-side-combines to
    * 3 rows before anything shuffles, the probe side never shuffles at
    * all, and both scans prune to three columns. Both engines divide
    * the same stored double by the same exact total, so the 6-dp round
    * is bit-stable. */
  def percentOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val totals = o.groupBy(col("o_orderstatus"))
      .agg(sum(Recon.cents(col("o_totalprice"))).as("tot_cents"))
    o.join(broadcast(totals), Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        Recon.ratioRound(Recon.cents(col("o_totalprice")) * 100,
          col("tot_cents"), 6).as("pct"))
      .orderBy("o_orderkey").limit(200)
  }

  /** Distribution-shape battery: skewness and excess kurtosis per group
    * alongside the exact-DECIMAL mean — the moments a data-quality
    * monitor watches for drift that rowcounts and sums miss (a load that
    * doubles outliers moves kurtosis long before it moves the mean).
    * One-pass mergeable central-moment state (the stats_funcs shape);
    * both engines compute population moments, verified equal at 4 dp. */
  def shapeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(skewness(col("l_quantity")), 4).as("skew"),
        round(kurtosis(col("l_quantity")), 4).as("kurt"),
        (decSum(col("l_quantity")) / count(lit(1))).as("mean_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Approximate frequent items — the bounded-state twin of the exact
    * token top-k: `stat.freqItems` runs the Karp–Papadimitriou–Shenker
    * one-pass counter battery (state = O(1/support) per partition, merge
    * by counter subtraction), whose contract is NO FALSE NEGATIVES —
    * every value with frequency ≥ support appears; rare values may slip
    * in alongside. At 100 TB that asymmetry is exactly right for a
    * screening pass: the exact recount runs only over the candidate set.
    *
    * Oracled via the CONTRACT, not the candidate set (which may carry
    * engine-specific false positives DuckDB cannot reproduce): the
    * output rows are the EXACTLY-heavy items — frequency ≥ support·n by
    * exact count — with their exact counts and a `covered` boolean
    * asserting KPS found each one. DuckDB recomputes items and counts
    * exactly and the boolean as a constant; a sketch regression that
    * drops a true heavy hitter flips `covered` and fails the hash
    * (round-11 verdict #4). The exact side is one map-combined agg to a
    * |distinct|-row frame; the approx side is the KPS single pass; the
    * join is answer-sized broadcast. */
  def freqItemsApprox(spark: SparkSession, dir: String): DataFrame = {
    val support = 0.15
    val approx = Tables.orders(spark, dir)
      .select("o_orderpriority").stat.freqItems(Seq("o_orderpriority"), support)
      .select(explode(col("o_orderpriority_freqItems")).as("item"))
      .withColumn("covered", lit(true))
    val counts = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("item"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.join(broadcast(total))
      .filter(col("cnt") >= col("total") * support)
      .join(broadcast(approx), Seq("item"), "left")
      .select(col("item"), col("cnt"),
        coalesce(col("covered"), lit(false)).as("covered"))
      .orderBy("item")
  }

  /** Edit-distance battery — the fuzzy-matching primitive entity
    * resolution and schema-mapping tools reach for when keys are dirty.
    * `levenshtein` is row-local and codegen'd on both engines (integer
    * DP over the two strings), so the scan stays map-only; only the
    * presentation sort moves. Distances against fixed probes keep the
    * answer a pure function of each row. */
  def stringDistanceFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        levenshtein(col("p_brand"), lit("Brand#32")).as("d_brand"),
        levenshtein(substring(col("p_name"), 1, 10), lit("lavender p")).as("d_name"),
        (levenshtein(col("p_type"), lit("STANDARD")) <= 8).as("near_standard"))
      .orderBy("p_partkey").limit(200)

  /** Mean battery beyond the arithmetic: geometric (exp∘avg∘ln) and
    * harmonic (n / Σ 1/x) means per group — the right centers for
    * ratios and rates. Both reduce to one-pass mergeable sums, so the
    * plan is exactly q1's two-phase hash agg; 4-dp rounding absorbs
    * partial-merge ulps (the corr discipline). Zero/negative guard via
    * the positive-quantity filter on both engines. */
  def meanFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 0)
      .groupBy(col("l_returnflag"))
      .agg(
        round(exp(avg(log(col("l_quantity")))), 4).as("geo_mean"),
        round(count(lit(1)) / sum(lit(1.0) / col("l_quantity")), 4).as("harm_mean"),
        round(avg(col("l_quantity")), 4).as("arith_mean"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Multiset (ALL) set operations — INTERSECT ALL / EXCEPT ALL keep
    * duplicate cardinality, the semantics dedup-based set_ops cannot
    * express (a customer with three qualifying orders counts three
    * times). Spark plans both as aggregate-on-count + generate — one
    * shuffle each, no join — so the multiset answer costs the same
    * shape as the distinct one. Output is the portable count pair. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val a = o.filter(col("o_totalprice") > 100000).select("o_custkey")
    val b = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    a.intersectAll(b).agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("n"))
      .unionByName(a.exceptAll(b).agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("op"), col("n")))
      .orderBy("op")
  }

  /** try_cast battery — the dirty-data ingestion contract: parse
    * failures become NULL instead of failing the job (the ANSI-mode
    * default would abort a 100 TB load on one bad cell). Row-local,
    * codegen'd, nothing but the presentation sort moves. */
  def tryCastFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        expr("try_cast(substr(p_name, 1, 3) AS INT)").as("bad_int"),
        expr("try_cast(concat(cast(p_size AS STRING), '.25') AS DOUBLE)")
          .as("good_double"),
        expr("try_cast(p_brand AS DOUBLE)").as("brand_num"),
        expr("try_cast(substr(cast(p_retailprice AS STRING), 1, 4) AS DOUBLE)")
          .as("prefix_num"))
      .orderBy("p_partkey").limit(100)

  /** Smallest-5 order totals per status through the bounded-state
    * [[graft.functions.MinK]] typed Aggregator — the §2.10 UDAF surface
    * exercised end-to-end. Unlike the window-sort top-k (which shuffles
    * and sorts every group member), the aggregator's map side combines
    * each task down to ≤5 values per group before the exchange, so the
    * shuffle moves answer-sized state no matter the input size. The
    * array lands as five scalar columns (null-safe `get`) because a raw
    * array column has no portable cross-engine text form. */
  def topkValuesAgg(spark: SparkSession, dir: String): DataFrame = {
    val mink = udaf(new graft.functions.MinK(5), Encoders.scalaDouble)
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(mink(col("o_totalprice")).as("arr"))
      .select(col("o_orderstatus") +: (1 to 5).map(i =>
        get(col("arr"), lit(i - 1)).as(s"m$i")): _*)
      .orderBy("o_orderstatus")
  }

  /** Regular-expression battery beyond string_funcs' global replace:
    * group extraction, match counting (via extract-all size — portable
    * where regexp_count is not), partial-match predicate (rlike ↔
    * regexp_matches), and an anchored trailing-group extract. Row-local
    * and codegen'd; regex syntax restricted to the class/anchor/group
    * subset both engines' regex dialects agree on. */
  def regexpFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        size(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0)))
          .cast("long").as("n_vowels"),
        col("p_name").rlike("^[a-z]+ ").as("starts_word"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_caps"))
      .orderBy("p_partkey").limit(200)

  /** Date/timestamp CONSTRUCTION battery — the inverse of date_funcs'
    * extraction: make_date / make_timestamp from extracted parts, the
    * round-trip equality that proves the two directions compose, and
    * day-of-year. All row-local; the week-number family is deliberately
    * excluded (ISO-week conventions diverge across engines). */
  def makeFuncs(spark: SparkSession, dir: String): DataFrame = {
    val (y, m, d) = (year(col("o_orderdate")), month(col("o_orderdate")),
      dayofmonth(col("o_orderdate")))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        make_date(y, m, d).as("d"),
        make_timestamp(y, m, d, lit(12), lit(30), lit(0.0)).as("noon"),
        dayofyear(col("o_orderdate")).as("doy"),
        (make_date(y, m, d) === col("o_orderdate").cast("date")).as("roundtrip"))
      .orderBy("o_orderkey").limit(200)
  }

  /** Deterministic MODE: the most frequent status per priority. Spark's
    * native `mode()` (and DuckDB's) leave ties engine-dependent, so the
    * portable form is explicit: count per (group, value), then take the
    * (count DESC, value) head per group — the tie-break is part of the
    * contract, not an accident. Two stages: a hash agg that shrinks the
    * stream to one row per distinct (group, value) pair, then a window
    * over that TINY frame — the expensive row stream never sorts. */
  def modeAgg(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("n").desc, col("o_orderstatus"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"),
        col("n").as("n_mode"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H-Q13-shaped order-count distribution: how many customers
    * placed 0, 1, 2, … orders. The LEFT join is the point — inner
    * would silently drop zero-order customers and the 0 bucket, the
    * classic distribution-skewing bug. Two hash aggregates; the first
    * collapses the join stream to one row per customer. */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H-Q15-shaped top supplier: the supplier(s) whose quarterly
    * revenue equals the maximum. The max is a 1-row broadcast cross
    * join probed by a row-local equality — no second revenue scan, no
    * window. Equality on doubles is safe here because both sides come
    * from the SAME exact-DECIMAL sums surfaced as doubles. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_rev"))
    val top = rev.agg(max(col("total_rev")).as("mx"))
    Tables.supplier(spark, dir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(top))
      .filter(col("total_rev") === col("mx"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H-Q7-shaped volume shipping: bilateral trade between two
    * nations per year. Both nation dims broadcast (one aliased copy
    * per side); the pair predicate is row-local post-join; year comes
    * from the ship date so the aggregate groups on (cust_nation,
    * supp_nation, year). The two fact joins are the only shuffles. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val cn = n.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    val sn = n.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(gatedDim(spark, dir, "supplier", Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cnk"))
      .join(broadcast(sn), col("s_nationkey") === col("snk"))
      .where(
        (col("cust_nation") === "NATION_1" && col("supp_nation") === "NATION_2") ||
        (col("cust_nation") === "NATION_2" && col("supp_nation") === "NATION_1"))
      .groupBy(col("cust_nation"), col("supp_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n"))
      .orderBy("cust_nation", "supp_nation", "l_year")
  }

  /** Array set-algebra battery: intersect / union / overlap across
    * document token SETS (array_distinct first, so both engines count
    * set cardinalities, not bag ones). The pairwise theta join runs on
    * a 20-doc slice — broadcast-nested-loop on a bounded frame, the
    * same all-pairs-needs-a-bound contract ngramJaccard enforces. */
  def arraySetopsFuncs(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).filter(col("doc_id") < 20)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts"))
    base.select(col("doc_id").as("id1"), col("ts").as("ts1"))
      .join(base.select(col("doc_id").as("id2"), col("ts").as("ts2")),
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("ts1"), col("ts2"))).as("n_common"),
        size(array_union(col("ts1"), col("ts2"))).as("n_union"),
        arrays_overlap(col("ts1"), col("ts2")).as("has_common"))
      .orderBy("id1", "id2")
  }

  /** Higher-order-function battery: transform / filter / aggregate
    * lambdas over token arrays — the collection-lambda surface beyond
    * arrayFuncs' scalar ops. All row-local codegen'd projections, no
    * shuffle but the presentation sort; DuckDB twin uses list_* lambdas
    * (arrow syntax agrees on both dialects). */
  def hofFuncs(spark: SparkSession, dir: String): DataFrame = {
    val ts = split(col("text"), " ")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      array_join(transform(ts, t => length(t).cast("string")), ",").as("lens"),
      size(filter(ts, t => length(t) > 4)).as("n_long"),
      aggregate(transform(ts, t => length(t).cast("long")), lit(0L),
        (acc, x) => acc + x).as("tot_len"),
      array_join(filter(ts, t => t.startsWith("p")), "|").as("p_toks"))
      .orderBy("doc_id").limit(200)
  }

  /** Null-safe equality (`<=>`) as a JOIN KEY: the grouped status frame
    * (with a NULL group manufactured via nullif) self-joins on
    * IS-NOT-DISTINCT-FROM, so the NULL group matches ITSELF — an
    * equi-join no plain `=` can express (NULL = NULL is NULL, the row
    * vanishes). EqualNullSafe still hash-partitions like any equi key;
    * the output ordering pins NULLS FIRST because engine defaults
    * differ. */
  def nullsafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(spark, dir)
      .groupBy(nullif(col("o_orderstatus"), lit("P")).as("ns"))
      .agg(count(lit(1)).as("n"))
    g.join(g.select(col("ns").as("ns2"), col("n").as("n2")),
        col("ns") <=> col("ns2"))
      .select(col("ns"), col("n"), col("n2"))
      .orderBy(col("ns").asc_nulls_first)
  }

  /** Calendar-truncation battery: month/quarter/year date_trunc,
    * quarter number, last_day — the time-hierarchy keys every calendar
    * rollup groups by. Month/quarter/year boundaries are convention-free
    * across engines (unlike ISO weeks, deliberately excluded — see
    * make_funcs). Row-local; DuckDB's date_trunc returns DATE so its
    * twin casts to TIMESTAMP. */
  def dateTruncFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(col("o_orderkey"),
      date_trunc("month", col("o_orderdate")).as("mon"),
      date_trunc("quarter", col("o_orderdate")).as("qtr"),
      date_trunc("year", col("o_orderdate")).as("yr"),
      quarter(col("o_orderdate")).as("q_num"),
      last_day(col("o_orderdate").cast("date")).as("month_end"))
      .orderBy("o_orderkey").limit(200)

  /** Subquery surface through spark.sql: scalar subqueries in SELECT,
    * IN, and the NOT IN null trap — one NULL in the subquery makes
    * NOT IN unsatisfiable (three-valued logic), which Spark plans as a
    * null-aware anti join. The 0 answer IS the contract: both engines
    * pin the standard semantics, the single most common silent-wrong-
    * answer migration bug. */
  def subqueryFuncs(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("sq_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("sq_customer")
    spark.sql(
      """SELECT
        |  (SELECT count(*) FROM sq_orders WHERE o_totalprice > 400000) AS n_big,
        |  (SELECT count(*) FROM sq_customer WHERE c_custkey IN
        |    (SELECT o_custkey FROM sq_orders WHERE o_totalprice > 400000)) AS n_cust_big,
        |  (SELECT count(*) FROM sq_customer WHERE c_custkey NOT IN
        |    (SELECT nullif(o_custkey, 42) FROM sq_orders)) AS n_not_in_null
        |""".stripMargin)
  }

  /** TPC-H-Q19-shaped disjunctive-predicate aggregate: three (brand,
    * size-range, quantity-range) clauses OR'd together over the
    * part⋈lineitem join. The shape exists to exercise disjunction
    * pushdown: Catalyst extracts the per-side conjuncts common to all
    * branches (brand IN (...) ∨-union, the size and quantity range
    * unions) and pushes them into BOTH parquet scans as OR'd
    * PushedFilters, so row-group min/max stats prune before the join;
    * the exact 3-clause predicate then runs post-join, row-local and
    * codegen'd. Part broadcasts. */
  def q19DisjunctiveFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(gatedDim(spark, dir, "part", Tables.part(spark, dir)),
        col("p_partkey") === col("l_partkey"))
      .where(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
          && col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(16, 30)
          && col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(31, 50)
          && col("l_quantity").between(20, 40)))
      .agg(count(lit(1)).as("n"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))

  /** TPC-H-Q4-shaped order-priority check: orders with at least one
    * line item shipped ≥ 60 days after the order date, counted per
    * priority. The EXISTS is a left-semi join whose condition mixes the
    * equi key with a cross-table inequality — the planner keys the hash
    * join on l_orderkey and applies the date comparison as the join
    * residual, so no pair ever materializes and each order counts at
    * most once regardless of how many lines qualify.
    *
    * `shuffle_hash` hash-builds the EXISTS side — (key, shipdate) pairs
    * only — so neither stream sorts (0.66 → 0.41 s sf0.1; the
    * pre-aggregated `max(l_shipdate) >= threshold` twin measured 0.49 s
    * — its extra aggregation stage costs more than the wider build
    * saves at this fan-in, though it becomes the safer form if the
    * per-task build budget is ever the binding constraint). */
  def q4LateOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
          .hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late"))
      .orderBy("o_orderpriority")

  /** TPC-H Q21 "suppliers who kept orders waiting", adapted to this
    * corpus's columns (no commit/receipt dates — "late" is the house
    * q4 convention, shipdate ≥ orderdate + 60 days; no single-nation
    * filter — the nation lands in the output instead): count the late
    * lineitems of finished ('F') multi-supplier orders where the line's
    * supplier was the ONLY late supplier — EXISTS another supplier in
    * the order, NOT EXISTS another LATE supplier. The sole-blame
    * attribution query, and the board's showcase of a semi- AND an
    * anti-join against the same fact-derived frame.
    *
    * Determinism: pure integer counts; the group-by runs AFTER the
    * supplier join on BOTH engines (the literal Q21 shape), so a
    * corrupt dim with duplicate supplier keys fans counts out
    * identically instead of splitting one engine's rows (the 10×
    * gate-crossing corpus carries exactly that duplication);
    * (numwait DESC, s_name, nation) is a total order even then.
    *
    * 100 TB posture (round-19 rework, two steps — Probe decomposition
    * found the old DISTINCT pair frame was the measured bottleneck:
    * the (orderkey, supp) distinct alone cost 0.44 s of the op's
    * 0.70 s at sf0.1): BOTH EXISTS sides fold to min/max fixpoints,
    * because the line's own supplier is always a member of the order's
    * supplier set — "EXISTS another supplier" ⟺ min(supp) ≠ max(supp)
    * over the order, and "NOT EXISTS another LATE supplier" ⟺
    * min ＝ max over the order's LATE lines (the sole late supplier is
    * then s1 itself, so the late frame collapses to one row per
    * qualifying order carrying the late-line count — the l1
    * multiplicity the spec pins). Step two collapses the remaining two
    * fact passes into ONE: every qualifying key is an F order, and the
    * F filter applies to the ORDER, so the order's FULL supplier set
    * is visible in the li⋈ordF join output — both fixpoints (and the
    * late-line count) therefore fold in a single groupBy over that one
    * join, via conditional aggregates (min/max over all lines,
    * min/max/count over `when(late)` lines). No distinct expansion, no
    * pair-frame shuffle, no second fact aggregation, no semi join:
    * ONE fact-fact shuffle_hash join + ONE map-side-combinable
    * order-grained aggregate (0.70 → 0.45 → 0.40 s sf0.1 min-of-5
    * same-JVM across the two steps). supplier×nation rides
    * [[gatedDim]] (fact-scaled dim must not force-broadcast); the
    * final agg is supplier-sized.
    *
    * Fan-out equivalence under dup supplier keys holds for the
    * pre-aggregated frame too: a duplicated dim row duplicates the
    * (k, lmn, cnt) row exactly as it duplicated each raw l1 row, and
    * sum(cnt) ≡ count(*) under that fan-out. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val ordF = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    // cnt > 0: the order HAS a late line; lmn == lmx: s1 is the ONLY
    // late supplier; mns != mxs: another supplier exists in the order
    val per = li.join(ordF.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("k"), col("l_suppkey").as("s1"),
        (col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
      .groupBy("k")
      .agg(count(when(col("late"), 1)).as("cnt"),
        min(when(col("late"), col("s1"))).as("lmn"),
        max(when(col("late"), col("s1"))).as("lmx"),
        min(col("s1")).as("mns"), max(col("s1")).as("mxs"))
      .filter(col("cnt") > 0 && col("lmn") === col("lmx")
        && col("mns") =!= col("mxs"))
    val sup = gatedDim(spark, dir, "supplier",
      Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name")))
    per.join(sup, col("lmn") === col("s_suppkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(sum(col("cnt")).as("numwait"))
      .select(col("s_name"), col("n_name").as("nation"), col("numwait"))
      .orderBy(desc("numwait"), col("s_name"), col("nation")).limit(100)
  }

  /** TPC-H-Q8-shaped market share: of the revenue an ASIA customer base
    * generated each year, what fraction came from nation-1 suppliers.
    * The region filter reaches the fact stream as a broadcast chain
    * (region → nation → customer) BEFORE the two fact joins, so
    * non-ASIA revenue never shuffles; supplier (a thin key→nation map)
    * broadcasts too. Share = ratio of exact DECIMAL sums surfaced as
    * doubles, rounded 6 dp. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(gatedDim(spark, dir, "supplier", Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
      // aggregate cents ONCE and derive both the presentation doubles
      // and the exact share from the longs (round-16 review: the
      // earlier round(decSum·1e4) re-quantization was only exact below
      // ~2^51 unscaled units — the DuckDB twin derives the integer
      // from the decimal sum exactly at any magnitude)
      .agg(
        sum(Recon.cents(rev)).as("rc"),
        coalesce(sum(Recon.cents(when(col("s_nationkey") === 1, rev))),
          lit(0L)).as("nc"))
      .select(col("yr"),
        Recon.uncents(col("rc")).as("total_rev"),
        Recon.uncents(col("nc")).as("nation1_rev"),
        Recon.ratioRound(col("nc"), col("rc"), 6).as("mkt_share"))
      .orderBy("yr")
  }

  /** Generator battery: posexplode over the token array — each token
    * with its 0-based position, the WITH ORDINALITY surface. A pure
    * row-local generate (one Generate node, no shuffle but the
    * presentation sort); the doc_id bound prunes at the scan. */
  def posexplodeFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") <= 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .orderBy("doc_id", "pos")

  /** MapType surface: per-priority status→count maps built with
    * map_from_entries over the grouped counts, then key extraction,
    * cardinality, and sorted key list. collect_list's order is
    * nondeterministic but map lookup is by key, so every output column
    * is order-independent — the portable way to surface a map. ANSI
    * mode makes element_at throw on absent keys, so lookups go through
    * try_element_at (≡ DuckDB's NULL-on-missing map extraction). */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_orderpriority"))
      .agg(map_from_entries(
        collect_list(struct(col("o_orderstatus"), col("n")))).as("mp"))
      .select(col("o_orderpriority"),
        size(col("mp")).as("n_keys"),
        coalesce(try_element_at(col("mp"), lit("F")), lit(0L)).as("f_n"),
        coalesce(try_element_at(col("mp"), lit("O")), lit(0L)).as("o_n"),
        coalesce(try_element_at(col("mp"), lit("P")), lit(0L)).as("p_n"),
        concat_ws("|", array_sort(map_keys(col("mp")))).as("statuses"))
      .orderBy("o_orderpriority")

  /** ROLLUP with GROUPING flags — how a consumer tells a subtotal row's
    * NULL from a data NULL. grouping() is a bit off grouping_id, both
    * engines agree; the ORDER BY pins NULLS FIRST explicitly because
    * the engines' defaults differ (Spark first, DuckDB last). */
  def groupingIdAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).cast("long").as("gs"),
        grouping(col("o_orderpriority")).cast("long").as("gp"),
        count(lit(1)).as("n"))
      .orderBy(col("gs"), col("gp"),
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** TPC-H-Q10-shaped returned-item report: which customers returned the
    * most revenue in a quarter. Both filters (order-date window, R flag)
    * push into their scans before the joins, so the 3-way join runs over
    * a quarter of orders × the R third of lineitem, not the full tables;
    * nation broadcasts. Top-20 plans as TakeOrderedAndProject — no
    * global sort materialization. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H-Q18-shaped large-order report: HAVING over a fact aggregate,
    * then the qualifying orders join customer for the report columns.
    * Every report group column (c_name … o_totalprice) is functionally
    * dependent on o_orderkey, so the per-orderkey quantity sum that
    * drives the HAVING IS the report's total_qty — the textbook
    * semi-join-then-reaggregate shape pays a second lineitem scan and a
    * second fact aggregate for a number it already computed. One
    * lineitem scan, one fact shuffle; the surviving qualifier set is
    * tiny at any scale, so AQE broadcasts it into orders and the
    * customer join stays broadcast too. The > 300 threshold compares
    * the exact DECIMAL(18,4) sum surfaced as double, so both engines
    * classify boundary orders alike. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(decSum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Year-over-year revenue growth — the board-deck staple: yearly order
    * count and exact revenue, plus each year's growth vs the prior year.
    * The fact collapses to a |years|-row frame in one two-phase hash agg
    * BEFORE the unpartitioned lag window touches it — the window sorts an
    * answer-sized frame (7 rows here, decades at most), never the fact,
    * so the single-partition WindowExec is calendar-sized at any input
    * scale. Growth is computed on exact cent longs in both engines
    * ((c−p)/p — the 10⁻⁴ scaling cancels), so the 4-dp rounding can
    * never straddle an ulp boundary differently. */
  def yoyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val yearly = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(Recon.cents(col("o_totalprice"))).as("rc"),
        count(lit(1)).as("n_orders"))
    // answer-sized frame (one row per year); lit(0) names a partition
    // so the known-bounded sort stops tripping the WindowExec warning
    val w = Window.partitionBy(lit(0)).orderBy("yr")
    yearly
      .withColumn("prev_rc", lag(col("rc"), 1).over(w))
      .select(col("yr"), col("n_orders"),
        Recon.uncents(col("rc")).as("revenue"),
        when(col("prev_rc").isNotNull,
          Recon.ratioRound((col("rc") - col("prev_rc"))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 100,
            col("prev_rc"), 4)).as("yoy_pct"))
      .orderBy("yr")
  }

  /** Order→ship latency distribution per priority — the fulfillment-SLA
    * report: how long after ordering did line items actually ship, and
    * what share blew the 90-day SLA. One orderkey-shuffled join (the
    * q3/q10 exchange family — both sides hash the join key once) into a
    * priority-sized agg. A q17-style size-gated broadcast of the pruned
    * orders side was A/B'd and REJECTED on measurement (0.62 s vs
    * 0.52 s sf0.1): a 150 k-row broadcast build costs more than the
    * shuffle it saves, and at 100 TB orders is a fact — no broadcast
    * exists — so the shuffle join is both the faster small plan and the
    * only honest large one. Within the shuffle, the orders side builds
    * a per-partition hash map (`shuffle_hash` hint) instead of
    * sort-merge: neither side's orderkey order is wanted downstream,
    * so SMJ's two full sorts buy nothing (A/B sf0.1: 0.55 s SMJ →
    * 0.40 s SHJ); at scale the build side is the SMALLER fact sliced
    * 1/N per partition — the standard SHJ fit contract, with SMJ the
    * fallback if a deployment's partitions outgrow memory. Lags are
    * exact integer days, so only the final presentation divisions are
    * float and both engines round identical doubles (the
    * event_gap_stats discipline). */
  def shipLagStats(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(spark, dir)
      .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_d"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("lag_d").cast("long")).as("lag_sum"),
        min(col("lag_d")).as("mn_lag_d"), max(col("lag_d")).as("mx_lag_d"),
        count_if(col("lag_d") > 90).as("miss"))
      // the mean and the share round in EXACT INTEGER arithmetic
      // (Recon.ratioRound — the supplier_scorecard tie class; sign
      // handled inside, DECIMAL(38,0) products exact at any corpus)
      .select(col("o_orderpriority"), col("n"),
        Recon.ratioRound(col("lag_sum"), col("n"), 3).as("avg_lag_d"),
        col("mn_lag_d"), col("mx_lag_d"),
        Recon.ratioRound(col("miss"), col("n"), 6).as("sla_miss_share"))
      .orderBy("o_orderpriority")
  }

  /** Per-supplier delivery scorecard — [[shipLagStats]]'s global SLA
    * profile broken down to the ACTIONABLE grain (which suppliers to
    * call): lines shipped, late lines (the house q4 lateness,
    * shipdate ≥ orderdate + 60 days), late share, exact-integer-day
    * mean lag and the revenue at stake on late lines (exact 1e-4-unit
    * cents). Top-100 by (late lines DESC, s_name, nation) — a total
    * order even against a duplicate-key dim (the q21 lesson: the
    * scorecard groups AFTER the supplier join).
    *
    * Exactness: counts, day lags and cent revenues are exact integers;
    * the share and the mean round in EXACT INTEGER arithmetic —
    * round-half-away(a/b) = sign·((2·|a|·scale + b) div (2·b)) — not
    * via double round(): a quotient whose denominator is divisible by
    * a power of two (n = 16, 128, …) lands EXACTLY on a decimal tie in
    * binary, and there Spark's round (HALF_UP on the exact value) and
    * DuckDB's (half-to-even nearbyint) genuinely split — caught live
    * by this op's sf0.001 sweep (64.6625 → .663 vs .662). The integer
    * spelling kills the class; both engines' `div`/`//` truncate
    * toward zero identically.
    * 100 TB posture (round-19 rework): one fact-fact shuffle_hash join
    * on the orderkey (the shipLagStats contract), then the line stream
    * pre-aggregates by the INT suppkey — map-side combinable, so the
    * supplier×nation dim join and the two-STRING group key only ever
    * see a supplier-sized frame (when [[gatedDim]] un-broadcasts a
    * huge supplier dim, that join's fact side is the pre-agg, not the
    * line-grained stream — the q13-class at-scale saving). The name
    * regroup re-sums the pre-agg, which fans out identically to the
    * old line-grained count under a dup-key dim (sum(cnt) ≡ count(*)
    * per duplicated row), so the corrupt-dim determinism contract is
    * unchanged. sf0.1 same-JVM: 0.554 → 0.531 min-of-5 (the join
    * dominates locally at 0.35 — the win is the at-scale posture, the
    * local read is honest). TakeOrdered cut. */
  def supplierScorecard(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val perSupp = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_d"),
        (col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"),
        Recon.cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("rev_c"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("late"), 1)).as("n_late"),
        sum(col("lag_d").cast("long")).as("lag_sum"),
        sum(when(col("late"), col("rev_c")).otherwise(0L)).as("late_rev_c"))
    val sup = gatedDim(spark, dir, "supplier",
      Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name")))
    perSupp.join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(sum(col("n_lines")).as("n_lines"),
        sum(col("n_late")).as("n_late"),
        sum(col("lag_sum")).as("lag_sum"),
        sum(col("late_rev_c")).as("late_rev_c"))
      .select(col("s_name"), col("n_name").as("nation"), col("n_lines"),
        col("n_late"),
        Recon.ratioRound(col("n_late"), col("n_lines"), 6).as("late_share"),
        Recon.ratioRound(col("lag_sum"), col("n_lines"), 3).as("avg_lag_d"),
        Recon.uncents(col("late_rev_c")).as("late_revenue"))
      .orderBy(desc("n_late"), col("s_name"), col("nation")).limit(100)
  }

  /** Supplier revenue concentration per nation — the Herfindahl–
    * Hirschman index (Σ share², 1/n..1) plus the top-supplier share:
    * the market-structure screen behind supply-risk dashboards. The
    * fact collapses to per-supplier exact cent revenues in one
    * two-phase hash agg, the supplier→nation dim broadcasts, and the
    * nation rollup is dimension-sized — nothing input-scaled past the
    * first combine. Shares and HHI divide/square exact cent longs cast
    * to double (each term deterministic; the 6-dp round absorbs
    * summation-order ulps, the stats_funcs precedent). Squares are
    * computed double×double — a cents² long would overflow. */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val perSup = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum(Recon.cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("rc"))
      .join(gatedDim(spark, dir, "supplier", Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
    val dec = DecimalType(38, 0)
    val perNation = perSup.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_sup"),
        sum(col("rc")).as("tot"), max(col("rc")).as("mx"),
        // cents² in DECIMAL(38,0) ≡ HUGEINT (a long would overflow; the
        // old double sum was partial-agg-order-dependent in its ulps):
        // rc² ≤ 10³² even at ~$10¹⁰ per supplier, Σ stays inside 38
        // digits to ~10⁶ suppliers per nation
        sum(col("rc").cast(dec) * col("rc")).as("sq"))
    perNation
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_sup"),
        Recon.ratioRound(col("sq"), col("tot").cast(dec) * col("tot"), 6)
          .as("hhi"),
        Recon.ratioRound(col("mx"), col("tot"), 6).as("top_share"))
      .orderBy("n_name")
  }

  /** RFM segmentation — the classic customer-value grid: recency (days
    * since last order, vs the dataset's max date), frequency (order
    * count) and monetary (exact cent sum) per customer, bucketed by
    * fixed business thresholds into a segment × segment matrix.
    *
    * Fixed-edge buckets, NOT quantile buckets, on purpose: quantile
    * edges need a global order (the ntile trap this file's
    * [[ntileFuncsSelection]] exists to avoid) and make segment
    * membership shift whenever the population does — fixed thresholds
    * are what a marketing rule actually ships, and they keep the whole
    * op two map-side-combinable hash aggs (per-customer, then
    * segment-sized) plus one broadcast scalar. Monetary stays in
    * fixed-point cents end to end, so cross-engine totals are
    * bit-identical. */
  def customerRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val maxD = o.agg(max(col("o_orderdate")).as("mx"))
    o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_d"), count(lit(1)).as("freq"),
        sum(Recon.cents(col("o_totalprice"))).as("sp_cents"))
      .crossJoin(broadcast(maxD))
      .select(
        when(datediff(col("mx"), col("last_d")) <= 365, "active")
          .when(datediff(col("mx"), col("last_d")) <= 730, "warm")
          .otherwise("cold").as("r_seg"),
        when(col("freq") >= 12, "frequent").otherwise("occasional").as("f_seg"),
        col("freq"), col("sp_cents"))
      .groupBy("r_seg", "f_seg")
      .agg(count(lit(1)).as("n_cust"), sum("freq").as("n_orders"),
        Recon.uncents(sum(col("sp_cents"))).as("total_spend"))
      .orderBy("r_seg", "f_seg")
  }

  /** TPC-H-Q22-shaped lapsed-customer report: above-average balances with
    * no recent orders. The scalar average broadcasts as a 1-row cross
    * join (no correlated re-scan per row); the NOT EXISTS is a left-anti
    * join against the date-filtered order keys — the anti side is
    * pre-shrunk by the pushed date predicate before it shuffles. */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((decSum(col("c_acctbal")) / count(lit(1))).as("a"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("a"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), decSum(col("c_acctbal")).as("total_bal"))
      .orderBy("c_nationkey")
  }

  /** Conditional-aggregate battery: count_if, bool_and/bool_or, distinct
    * count — the predicate-aggregate surface FILTER clauses compile to.
    * All partial-aggregable, so the map side combines before the one
    * exchange; count(DISTINCT) expands to a two-phase partial-distinct
    * plan, not a global sort. */
  def condAggFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).groupBy(col("o_orderpriority"))
      .agg(
        count_if(col("o_totalprice") > 200000).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_pos"),
        bool_or(col("o_orderstatus") === "F").as("any_f"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Quartile assignment via ntile over a total order (price, key
    * tiebreak), then per-quartile stats. Both engines share the ntile
    * fill convention (larger buckets first), and the unique tiebreak
    * makes the assignment deterministic.
    *
    * Size-gated dispatch (round-10 verdict #6): below
    * [[SinglePassBytes]] the direct window form — a single-partition
    * sort is the cheapest correct plan when the table fits a
    * reconciliation window (1 job vs 5). Above the gate,
    * [[ntileFuncsSelection]] — the same answer with no row-count-sized
    * sort anywhere (per-quartile stats are tie-ORDER-invariant, so the
    * exact form distributes; see its scaladoc). Both forms are exact
    * and bit-identical (spec-asserted), so the gate is purely a plan
    * choice, never a semantics choice. */
  def ntileFuncs(spark: SparkSession, dir: String): DataFrame =
    if (Tables.tableBytes(spark, dir, "orders") <= SinglePassBytes)
      ntileFuncsSmall(spark, dir)
    else ntileFuncsSelection(spark, dir)

  /** Small-input form: ntile over a global window — an inherent
    * single-partition sort, acceptable only under the size gate. */
  private[graft] def ntileFuncsSmall(spark: SparkSession,
                                     dir: String): DataFrame = {
    // single-partition by design under the size gate; lit(0) silences
    // the WindowExec warning for this known-bounded form
    val w = Window.partitionBy(lit(0)).orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("q"))
      .groupBy("q")
      .agg(count(lit(1)).as("n"), min("o_totalprice").as("mn"),
        max("o_totalprice").as("mx"), decSum(col("o_totalprice")).as("total"))
      .orderBy("q")
  }

  /** Bounded-state large-input form of [[ntileFuncs]] — exact, not
    * approximate, with no single-partition sort.
    *
    * Key observation: the output aggregates (count, min, max, sum of
    * price per quartile) do not depend on WHICH of several equal-priced
    * rows lands on a quartile boundary — ties split across a boundary
    * contribute the same price either side — so the o_orderkey tiebreak
    * that makes per-row assignment deterministic is irrelevant to the
    * per-quartile stats, and the stats reduce to order statistics of
    * the price column alone:
    *   - boundary ranks r_1..r_3 are driver arithmetic from n (ntile
    *     fills larger buckets first: first n mod 4 buckets get
    *     ceil(n/4));
    *   - quartile k's max is value-at-rank r_k, its min is
    *     value-at-rank r_(k-1)+1 — both from [[Selection.valueAtRanks]]
    *     (bucket-then-refine, bucket-sized state);
    *   - quartile sums come from prefix sums at the boundary ranks:
    *     prefix(r) = sum(price < v_r) + (r - count(price < v_r)) · v_r,
    *     one conditional-aggregate scan against the 3 broadcast
    *     boundary values, all in exact fixed-point cents (longs), so
    *     the totals are bit-identical to the window form's decSum.
    * Every intermediate frame is bucket- or answer-sized; the scans are
    * map-side-combinable aggregates. The two driver collects are
    * answer-sized (8 rank values, one 1-row aggregate) — plan-time
    * reference objects, not data movement. */
  private[graft] def ntileFuncsSelection(spark: SparkSession,
                                         dir: String): DataFrame = {
    import spark.implicits._
    val price = Tables.orders(spark, dir)
      .select(col("o_totalprice").as("v"))
    val n = price.count()
    if (n < 4L) return ntileFuncsSmall(spark, dir)
    // ntile(4) bucket sizes and cumulative boundary ranks (1-based)
    val sizes = Array.tabulate(4)(k => n / 4 + (if (k < n % 4) 1L else 0L))
    val bounds = sizes.scanLeft(0L)(_ + _) // 0, r1, r2, r3, n
    val wantRanks = ((1 to 3).flatMap(k => Seq(bounds(k), bounds(k) + 1)) ++
      Seq(1L, n)).distinct
    val atRank: Map[Long, Double] = Selection.valueAtRanks(
        price.withColumn("g", lit(1)), Seq("g"), "v",
        wantRanks.toDF("rank").withColumn("g", lit(1)))
      .select(col("rank"), col("value"))
      .as[(Long, Double)].collect().toMap
    val bv = (1 to 3).map(k => atRank(bounds(k))) // boundary values v_1..v_3
    // one scan: cents-sum and count strictly below each boundary value,
    // plus the global cents total (everything partial-aggregable)
    val belowAgg = price.agg(
      coalesce(sum(when(col("v") < bv(0), Recon.cents(col("v")))), lit(0L)).as("s1"),
      count_if(col("v") < bv(0)).as("c1"),
      coalesce(sum(when(col("v") < bv(1), Recon.cents(col("v")))), lit(0L)).as("s2"),
      count_if(col("v") < bv(1)).as("c2"),
      coalesce(sum(when(col("v") < bv(2), Recon.cents(col("v")))), lit(0L)).as("s3"),
      count_if(col("v") < bv(2)).as("c3"),
      sum(Recon.cents(col("v"))).as("stot"),
      // boundary prices re-quantized through the same cents cast the
      // sums use, so prefix arithmetic stays in one fixed-point system
      max(Recon.cents(lit(bv(0)))).as("bc1"), max(Recon.cents(lit(bv(1)))).as("bc2"),
      max(Recon.cents(lit(bv(2)))).as("bc3"))
    val a = belowAgg.collect().head
    def L(i: Int): Long = a.getLong(i)
    val (s, c, bc) = ((0 to 2).map(k => L(2 * k)), (0 to 2).map(k => L(2 * k + 1)),
      Seq(L(7), L(8), L(9)))
    val prefix = (0 to 2).map(k => s(k) + (bounds(k + 1) - c(k)) * bc(k))
    val totCents = prefix :+ L(6) // prefix_4 = grand total
    val quartiles = (1 to 4).map { k =>
      val mn = if (k == 1) atRank(1L) else atRank(bounds(k - 1) + 1)
      val mx = if (k == 4) atRank(n) else atRank(bounds(k))
      val cents = totCents(k - 1) - (if (k == 1) 0L else totCents(k - 2))
      (k, sizes(k - 1), mn, mx, cents)
    }
    quartiles.toDF("q", "n", "mn", "mx", "tc")
      .select(col("q"), col("n"), col("mn"), col("mx"),
        Recon.uncents(col("tc")).as("total"))
      .orderBy("q")
  }

  /** Wide→long reshape through `Dataset.unpivot` (the inverse of
    * pivot_agg): a q1-style wide aggregate melts into (group, metric,
    * val) rows. Unpivot is a row-local Expand — 3 output rows per input
    * row, no shuffle beyond the source aggregate; the DuckDB twin is the
    * UNION ALL spelling of the same reshape. */
  def unpivotLong(spark: SparkSession, dir: String): DataFrame = {
    // No FanOut: with long-backed cent sums the partial agg is primitive
    // adds, cheaper run map-side in the scan stage than paid through a
    // pre-combine round-robin exchange (same A/B as q1_pricing_summary).
    val w = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("rf"))
      .agg(decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n"))
    w.unpivot(Array(col("rf")),
        Array(col("sum_qty"), col("sum_price"), col("n")), "metric", "val")
      .orderBy("rf", "metric")
  }

  /** PERCENTILE_DISC battery — the discrete quantile that returns an
    * actual data value (smallest value with cume_dist ≥ q), so unlike
    * the interpolating percentile_cont there is no float arithmetic to
    * diverge between engines: DuckDB's quantile_disc uses the same
    * ceil(n·q) convention (probe-verified at n=10, q=0.85).
    *
    * Computed by two-phase bucket-then-refine distributed selection,
    * NOT the built-in `percentile_disc` aggregate: the built-in buffers
    * every value per group in an imperative map (600 k buffered doubles
    * here; OOM at real scale), and a flat count-cumsum over DISTINCT
    * values is no better when the column is nearly unique (the probe
    * measured the 594 k-row distinct frame costing more than the
    * buffering it replaced). Phase 1 aggregates counts per coarse value
    * bucket — a few hundred groups, so the map side combines the whole
    * stream down to bucket-count rows — and a cumsum over that TINY
    * frame locates the one bucket containing rank ceil(q·n) (its
    * preceding-rank offset rides along). Phase 2 rescans, keeps only
    * rows in the target bucket (a broadcast-joined row-local filter,
    * ~1/buckets of the data), and picks the smallest value whose
    * offset-adjusted cumsum reaches the rank. Nothing row-count-sized
    * is ever sorted, buffered, or shuffled at any scale — both phases
    * end in answer-sized frames. Same result bit-for-bit as the
    * built-in (cume_dist ≥ q ⟺ cum ≥ ceil(q·n) for integer cum;
    * RelationalSpec asserts parity). */
  def percentileDiscFuncs(spark: SparkSession, dir: String): DataFrame =
    // NOT size-gated to a built-in `percentile_disc WITHIN GROUP`
    // single-pass form the way [[quantileSummary]] gates to
    // `percentile`: measured sf0.1 same-JVM the buffering built-in is
    // SLOWER than this 3-job bucketed plan (1.30 s vs 0.84 s median) —
    // three ObjectHashAggregate value-map buffers over the 600 k-row
    // fact with interpreted partial/final merges — so the bucketed plan
    // wins at every size and stays the only form.
    percentileDiscBucketed(spark, dir)

  /** Bucket-refine form of [[percentileDiscFuncs]] — bounded state at
    * any input scale. */
  private[graft] def percentileDiscBucketed(spark: SparkSession,
                                            dir: String): DataFrame = {
    // (column, quantile, bucket width⁻¹) per battery entry; widths give
    // O(100) buckets for each column's range. Battery members are INT
    // tags through the hot path (0=med_qty 1=p90_price 2=p25_disc) —
    // the Expand triples the fact stream, and hashing/copying a lit
    // string per expanded row through the partial agg measured ~0.05 s
    // over int tags at sf0.1 (same-JVM A/B); names reappear only in
    // the final pivot.
    def triples = Tables.lineitem(spark, dir).select(col("l_returnflag").as("rf"),
      explode(array(
        struct(lit(0).as("cname"), col("l_quantity").as("v"),
          lit(0.5).as("q"), lit(1.0).as("scale")),
        struct(lit(1).as("cname"), col("l_extendedprice").as("v"),
          lit(0.9).as("q"), lit(0.001).as("scale")),
        struct(lit(2).as("cname"), col("l_discount").as("v"),
          lit(0.25).as("q"), lit(100.0).as("scale")))).as("t"))
      .select(col("rf"), col("t.cname"), col("t.v"), col("t.q"),
        floor(col("t.v") * col("t.scale")).as("bucket"))
    val wCum = Window.partitionBy("rf", "cname").orderBy("bucket")
    val wTot = Window.partitionBy("rf", "cname")
    val target = triples
      .groupBy("rf", "cname", "q", "bucket").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wTot))
      .withColumn("rank", ceil(col("q") * col("n")))
      .filter(col("cum") >= col("rank"))
      .groupBy("rf", "cname")
      .agg(min_by(
        struct(col("bucket").as("tbucket"), (col("cum") - col("c")).as("prev"),
          col("rank"), col("n")),
        col("bucket")).as("tb"))
      .select(col("rf"), col("cname"), col("tb.tbucket"), col("tb.prev"),
        col("tb.rank"), col("tb.n"))
    // Phase 2 probes the raw rows, NOT the exploded triple stream: the
    // 9-row target pivots to one row per group (3 rows total), joins on
    // the group key alone, and three row-local bucket comparisons gate
    // the explode — the generator and everything after it see only the
    // ~1/buckets of rows inside some target bucket, where the explode-
    // first form paid the 3× Expand plus a (rf, cname) hash probe on
    // every expanded row before discarding 99% of them.
    val twide = target.groupBy("rf").agg(
      max(when(col("cname") === 0,
        struct(col("tbucket"), col("prev"), col("rank"), col("n")))).as("tq"),
      max(when(col("cname") === 1,
        struct(col("tbucket"), col("prev"), col("rank"), col("n")))).as("tp"),
      max(when(col("cname") === 2,
        struct(col("tbucket"), col("prev"), col("rank"), col("n")))).as("td"))
    val mq = floor(col("vq") * lit(1.0)) === col("tq.tbucket")
    val mp = floor(col("vp") * lit(0.001)) === col("tp.tbucket")
    val md = floor(col("vd") * lit(100.0)) === col("td.tbucket")
    def hit(m: Column, name: Int, v: Column, t: String) =
      when(m, struct(lit(name).as("cname"), v.as("v"),
        col(s"$t.prev").as("prev"), col(s"$t.rank").as("rank"),
        col(s"$t.n").as("n")))
    val picked = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("rf"), col("l_quantity").as("vq"),
        col("l_extendedprice").as("vp"), col("l_discount").as("vd"))
      .join(broadcast(twide), Seq("rf"))
      .filter(mq || mp || md)
      .select(col("rf"), explode(array(
        hit(mq, 0, col("vq"), "tq"),
        hit(mp, 1, col("vp"), "tp"),
        hit(md, 2, col("vd"), "td"))).as("t"))
      .filter(col("t").isNotNull)
      .select(col("rf"), col("t.cname"), col("t.v"), col("t.prev"),
        col("t.rank"), col("t.n"))
      .groupBy("rf", "cname", "v", "prev", "rank", "n")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum",
        col("prev") + sum("c").over(Window.partitionBy("rf", "cname").orderBy("v")))
      .filter(col("cum") >= col("rank"))
      .groupBy("rf", "cname").agg(min("v").as("pick"), max("n").as("n"))
    picked.groupBy(col("rf").as("l_returnflag"))
      .agg(
        max(when(col("cname") === 0, col("pick"))).as("med_qty"),
        max(when(col("cname") === 1, col("pick"))).as("p90_price"),
        max(when(col("cname") === 2, col("pick"))).as("p25_disc"),
        max(col("n")).as("n"))
      .orderBy("l_returnflag")
  }

  /** Market-basket association rules at BRAND granularity: for every
    * ordered brand pair (a < b), how often the pair co-occurs in an
    * order basket (support), how often baskets holding a also hold b
    * (confidence a→b), and whether the co-occurrence beats independence
    * (lift = P(ab)/(P(a)·P(b))). Top 30 pairs by lift.
    *
    * All three ratios derive from exact long counts with ONE double
    * division each, spelled identically in the oracle — IEEE ×,/ are
    * exactly-rounded deterministic ops, so even unrounded doubles match
    * bit-for-bit and the 4-dp round is pure presentation. Lift ties
    * break on (brand_a, brand_b).
    *
    * 100 TB posture: the part dim rides [[gatedDim]] (fact-sized dims
    * must not force-broadcast — the round-14 rule); baskets distinct
    * once, then the pair self-join reuses that exchange under both
    * aliases (AQE ReusedQueryStage, plan-guarded); pair volume is
    * quadratic in DISTINCT BRANDS PER BASKET, not basket size, and
    * bounded corpus-wide by brands² group keys, so the shuffle after
    * map-side combine is at most brands²-sized. The one-row totals
    * frame broadcasts (answer-sized by construction). */
  def marketBasketLift(spark: SparkSession, dir: String): DataFrame = {
    val brands = gatedDim(spark, dir, "part",
      Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    // round-18 plan rework (Probe A/B): the self-join is hinted
    // shuffle_hash — the old SortMergeJoin paid two corpus-sized
    // sorts for a brand-pair probe (1.31 → 1.14 min same-JVM).
    // Negative result, recorded: repartition(col("k")) before the
    // distinct (so the distinct and the join inherit ONE k-exchange)
    // measured another ~5% at sf0.1 but AQE does NOT reuse a
    // REPARTITION_BY_COL stage across the single/tot aggregate
    // branches — the plan materialized the scan+shuffle three times
    // (verified in the 4-partition test env), a 100×-scale regression
    // the sf0.1 win hid; the ENSURE_REQUIREMENTS exchange the plain
    // distinct() inserts is reliably reused by all four consumers.
    val ob = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
      .join(brands, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("k"), col("p_brand").as("brand"))
      .distinct()
    val tot = ob.agg(countDistinct(col("k")).as("n_orders"))
    val single = ob.groupBy("brand").agg(count(lit(1)).as("c"))
    val pairs = ob.toDF("k", "brand_a")
      .join(ob.toDF("k", "brand_b").hint("shuffle_hash"), "k")
      .where(col("brand_a") < col("brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(single.toDF("brand_a", "ca"), "brand_a")
      .join(single.toDF("brand_b", "cb"), "brand_b")
      .crossJoin(broadcast(tot))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        Recon.ratioRound(col("n_ab"), col("n_orders"), 6).as("support"),
        Recon.ratioRound(col("n_ab"), col("ca"), 6).as("confidence"),
        Recon.ratioRound(
          col("n_ab").cast(DecimalType(38, 0)) * col("n_orders"),
          col("ca").cast(DecimalType(38, 0)) * col("cb"), 6).as("lift"))
      .orderBy(desc("lift"), col("brand_a"), col("brand_b")).limit(30)
  }

  /** Per-priority monthly revenue trend: ordinary-least-squares fit of
    * monthly revenue against the month index, with the next-month
    * forecast and R² — the closed-form forecasting op a reporting
    * pipeline runs where regr_funcs stops at the raw coefficients.
    *
    * Exactness: every OLS sufficient statistic is an exact integer
    * (x = whole months since the group's first month, y = revenue in
    * 1e-4-unit longs; Σx, Σy, Σxy, Σx², Σy² as DECIMAL(38,0) ≡
    * HUGEINT), and the slope/intercept/forecast/R² denominators clear:
    * num = nΣxy − ΣxΣy and denx = nΣx² − (Σx)² are exact integers, so
    * the only doubles are the final identically-spelled divisions.
    * Degenerate single-month groups yield NULL via denx > 0 — same
    * CASE both engines. Σy² bounds the exactness: monthly revenue must
    * stay under ~1e18 micro-units (≈ $10¹⁴/month) before DECIMAL(38)
    * saturates — document-level bound, loud overflow past it.
    *
    * 100 TB posture: one map-side-combined groupBy to (priority,
    * month) cells, then a priority-sized stats agg — nothing after the
    * first collapse is corpus-sized. */
  def trendForecast(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val m = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"),
        date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(sum(Recon.cents(col("o_totalprice"))).as("y"))
    val fm = m.groupBy("pri").agg(min("mon").as("fm"))
    val s = m.join(broadcast(fm), "pri")
      .withColumn("x", months_between(col("mon"), col("fm")).cast("long"))
      .groupBy("pri").agg(
        count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"),
        max("x").as("mx"))
    val d = s.select(col("pri"), col("n"), col("mx"), col("sx"), col("sy"),
      (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
      (col("n") * col("sxx") - col("sx").cast(dec) * col("sx")).as("denx"),
      (col("n") * col("syy") - col("sy") * col("sy")).as("deny"))
    // slope/intercept/forecast are exact integer ratios once the mean
    // denominators clear — slope = num/(denx·10⁴), intercept =
    // (sy·denx − num·sx)/(10⁴·denx·n), forecast folds slope·(mx+1)
    // into the same denominator — and round through Recon.ratioRound
    // (the int/int tie class). r2 = num²/(denx·deny) deliberately
    // KEEPS the double spelling (RegistrySpec reviewed allowlist, the
    // weekly_spectrum class): num²·2·10⁶ overflows DECIMAL(38,0) ≡
    // HUGEINT at the 10× corpus (~10⁴¹ — caught by the gate-crossing
    // smoke), so the exact respell is unrepresentable; huge-integer
    // double products sit off the reachable decimal lattice
    d.select(col("pri").as("o_orderpriority"), col("n").as("n_months"),
        when(col("denx") > 0,
          Recon.ratioRound(col("num"), col("denx") * 10000, 6)).as("slope"),
        when(col("denx") > 0,
          Recon.ratioRound(col("sy") * col("denx") - col("num") * col("sx"),
            col("denx") * col("n") * 10000, 2)).as("intercept"),
        when(col("denx") > 0,
          Recon.ratioRound(
            col("sy") * col("denx") - col("num") * col("sx")
              + col("num") * col("n") * (col("mx") + 1),
            col("denx") * col("n") * 10000, 2)).as("forecast_next"),
        when(col("denx") > 0 && col("deny") > 0,
          round(col("num").cast("double") * col("num").cast("double")
            / (col("denx").cast("double") * col("deny").cast("double")), 6))
          .as("r2"))
      .orderBy("o_orderpriority")
  }

  /** Per-JVM memo of the derived Pareto state behind [[paretoAbc]] —
    * the round-21 eager-construction item (planall: 0.468 s of
    * construction jobs per call): the checkpointed per-customer revenue
    * frame plus the three derived scalars (t80, t95, total). The memo
    * holds derived INTERMEDIATES only (the bandedSignatures class —
    * no query's output is the raw per-customer revenue table or the
    * thresholds); the op's output, the 3-row ABC classification, is
    * still computed per call by the distributed classify+aggregate
    * over the memoized frame. Keyed by (session, dir) with the orders
    * relation IDENTITY as the staleness check — a corpus regen misses
    * naturally. Durability is [[graft.Checkpoint.truncate]]'s, like the
    * other frame memos (local blocks die with the executor unless the
    * deployment sets a checkpoint directory; a corpus-churning service
    * evicts via [[graft.MemoRegistry]]). */
  private[graft] val paretoMemo =
    new Memo[(SparkSession, String), (DataFrame, Long, Long, Long)]("Relational.pareto")

  /** The uncached builder the memo holds — the full derived-state
    * construction (revenue checkpoint, observed value histogram,
    * 1025-bin collect, one-row threshold agg). Separated so a spec can
    * audit the build against a memoized call (the winnowFpsPlan
    * discipline). */
  private[graft] def paretoState(spark: SparkSession,
                                 orders: DataFrame): (DataFrame, Long, Long, Long) = {
    val rev = Checkpoint.truncate(orders.groupBy(col("o_custkey"))
      .agg(sum(Recon.cents(col("o_totalprice"))).as("c")))
    // min/max/total ride the vals materialization as observe metrics
    // (round-20 — the connectedComponents observe discipline): the old
    // form paid a separate 1-row agg job over the just-checkpointed
    // frame
    val obs = new org.apache.spark.sql.Observation()
    val vals = Checkpoint.truncate(
      rev.groupBy(col("c").as("v")).agg(sum("c").as("w"))
        .observe(obs, min(col("v")).as("mn"), max(col("v")).as("mx"),
          sum(col("w")).as("t")))
    val (mn, mx, t) = (
      Option(obs.get("mn")).map(_.asInstanceOf[Long]).getOrElse(0L),
      Option(obs.get("mx")).map(_.asInstanceOf[Long]).getOrElse(0L),
      Option(obs.get("t")).map(_.asInstanceOf[Long]).getOrElse(0L))
    require(t > 0, "paretoAbc: no positive revenue in the orders input")
    val width = math.max(1L, (mx - mn) / 1024L + 1L)
    val bucketCol = expr(s"(v - ${mn}L) div ${width}L")
    // ≤1025 rows by construction: bin count is a compile-time constant
    val bins = vals.groupBy(bucketCol.as("b")).agg(sum("w").as("bw"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    /** Walks bins from the top: the threshold bin is the SMALLEST bin
      * whose top value still satisfies den·cumAbove < num·T. BigInt
      * products: den·cumAbove and num·T wrap a signed long once total
      * revenue passes 2⁶³/20 ≈ 4.6e17 micro-units — well inside the
      * money envelope the rest of the op supports (review finding). */
    def boundaryBin(num: Long, den: Long): (Long, Long) = {
      var cumAbove = BigInt(0)
      var best = (bins.head._1, 0L)
      val it = bins.iterator
      var going = true
      while (going && it.hasNext) {
        val (b, bw) = it.next()
        if (den * cumAbove < num * BigInt(t)) {
          best = (b, cumAbove.longValue); cumAbove += bw
        }
        else going = false
      }
      best
    }
    val (b80, off80) = boundaryBin(4L, 5L)
    val (b95, off95) = boundaryBin(19L, 20L)
    val wIn = Window.partitionBy("b").orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = vals.withColumn("b", bucketCol)
      .filter(col("b") === b80 || col("b") === b95)
      .withColumn("cumb", coalesce(sum("w").over(wIn), lit(0L)))
    // BOTH thresholds fold into ONE 1-row agg over the tiny boundary
    // frame (round-20: the per-threshold head() was a separate job each)
    // — 128-bit products (DECIMAL(38,0) ≡ the oracle's HUGEINT): the
    // long form overflows (ANSI throw) past 4.6e17 micro-units total
    val dec38 = DecimalType(38, 0)
    def thrCol(b: Long, off: Long, num: Long, den: Long) =
      min(when(col("b") === b &&
        lit(den) * (lit(off) + col("cumb")).cast(dec38)
          < lit(num) * lit(t).cast(dec38), col("v")))
    val thr = boundary
      .agg(thrCol(b80, off80, 4L, 5L).as("t80"),
        thrCol(b95, off95, 19L, 20L).as("t95")).head()
    require(!thr.isNullAt(0), s"paretoAbc: empty boundary bin $b80")
    require(!thr.isNullAt(1), s"paretoAbc: empty boundary bin $b95")
    (rev, thr.getLong(0), thr.getLong(1), t)
  }

  /** Pareto / ABC classification of customers by lifetime revenue:
    * class A = the top customers holding the first 80 % of total
    * revenue, B = the next 15 %, C = the tail. Classes are defined at
    * REVENUE-VALUE granularity (every customer with the same total
    * lands in the same class; the crossing value belongs wholly to the
    * upper class): v is A iff 5·cumBefore(v) < 4·T where cumBefore is
    * the revenue strictly above v and T the grand total — exact long
    * comparisons, no ratio doubles anywhere near a boundary.
    *
    * The naive spelling is a GLOBAL ordered running sum over every
    * customer — an unpartitioned window, the textbook all-to-one scale
    * cliff. This op instead finds the two value thresholds with the
    * [[Selection]] two-round histogram discipline: (1) per-value
    * weights bucketed into ≤1025 fixed-width bins whose per-bin sums
    * collect to the driver (bounded by the CONSTANT bin count — the
    * same class as valueAtRanks' bucket frame); the desc-cumulative
    * bin walk locates each threshold's bin and its exact weight
    * offset; (2) one pass over ONLY the boundary bins (≈1/1024 of
    * distinct values) with a bin-PARTITIONED window yields the exact
    * thresholds; (3) the final classification is a map-side CASE on
    * the checkpointed per-customer frame — no global sort, no
    * unpartitioned window, every shuffle group- or bin-sized.
    * Monotonicity of cumBefore in v proves the threshold form
    * (v ≥ t80 ⟺ 5·cumBefore(v) < 4T) equal to the oracle's direct
    * window spelling; the spec pins it on a boundary-splitting
    * fixture. Money in exact 1e-4-unit longs ([[Recon.cents]]). */
  def paretoAbc(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val (rev, t80, t95, t) = paretoMemo((spark, dir), orders)(paretoState(spark, orders))
    rev.select(
        when(col("c") >= t80, "A").when(col("c") >= t95, "B").otherwise("C")
          .as("abc_class"), col("c"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_customers"), sum("c").as("cents"))
      .select(col("abc_class"), col("n_customers"),
        Recon.ratioRound(col("cents"), lit(10000L), 2).as("revenue"),
        Recon.ratioRound(col("cents"), lit(t), 6).as("revenue_share"))
      .orderBy("abc_class")
  }

  /** Repeat-purchase survival curve: of the customers who ever ordered
    * twice, what share came back within 7/30/60/90 days of their first
    * order — the retention-curve op behind every cohort LTV model
    * (share_of_customers additionally folds in the never-returned).
    *
    * Exactness: first/second order dates are exact discrete order
    * statistics ((date, orderkey) tie-break), gaps are exact day
    * diffs, every survival point is an exact conditional count; the
    * two shares are identically-spelled double divisions of exact
    * longs, NULL-guarded for a zero-repeater corpus on both engines.
    *
    * 100 TB posture: one customer-partitioned window over orders
    * (high-cardinality partitioning — the ship_lag shape), then ONE
    * conditional-aggregate pass over the customers-sized gap frame
    * produces all four thresholds (no threshold × customer fan-out);
    * the rest is 1-row broadcasts and a 4-row literal frame. */
  def repeatSurvival(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val cust = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 2)
      .groupBy("o_custkey")
      .agg(max(when(col("rn") === 1, col("o_orderdate"))).as("da"),
        max(when(col("rn") === 2, col("o_orderdate"))).as("db"))
    val base = cust.agg(count(lit(1)).as("n_customers"),
      sum(when(col("db").isNotNull, 1L).otherwise(0L)).as("n_repeaters"))
    val thresholds = Seq(7, 30, 60, 90)
    val thCols = thresholds.map(t =>
      sum(when(col("g") <= t, 1L).otherwise(0L)).as(s"c$t"))
    val counts = cust.filter(col("db").isNotNull)
      .select(datediff(col("db"), col("da")).as("g"))
      .agg(thCols.head, thCols.tail: _*)
    thresholds.toDF("threshold_days")
      .crossJoin(broadcast(base)).crossJoin(broadcast(counts))
      .select(col("threshold_days"), col("n_customers"), col("n_repeaters"),
        coalesce(thresholds.map(t =>
          when(col("threshold_days") === t, col(s"c$t"))): _*)
          .as("n_repeat_within"))
      .select(col("threshold_days"), col("n_customers"), col("n_repeaters"),
        col("n_repeat_within"),
        when(col("n_repeaters") > 0,
          Recon.ratioRound(col("n_repeat_within"), col("n_repeaters"), 6))
          .as("share_of_repeaters"),
        when(col("n_customers") > 0,
          Recon.ratioRound(col("n_repeat_within"), col("n_customers"), 6))
          .as("share_of_customers"))
      .orderBy("threshold_days")
  }

  /** Monthly Laspeyres / Paasche / Fisher price indices over lineitem
    * unit prices (revenue/quantity per part), base = the corpus's
    * first month — the economics op a pricing dashboard runs:
    * base-basket inflation (Laspeyres), current-basket (Paasche), and
    * their geometric mean.
    *
    * Exactness: per-(part, month) revenue in exact 1e-4-unit longs
    * ([[graft.ops.Recon.cents]]) and quantity in 6-dp micro longs;
    * each index term (a unit-price × quantity cross product — one
    * ratio of exact longs) is an identically-spelled double chain
    * rounded 6dp into micro-unit longs before the EXACT sums (the
    * lm_score discipline), and every index is one double division of
    * exact longs (Fisher adds one correctly-rounded IEEE sqrt). The
    * base month indexes to exactly 1.0 on both engines — a built-in
    * sanity anchor.
    *
    * 100 TB posture: the only corpus-sized pass is the map-combined
    * (part, month) collapse; the base-basket join keys on partkey
    * (part-sized both sides, exchange reused from the same collapse),
    * and the result is months-sized. */
  def priceIndex(spark: SparkSession, dir: String): DataFrame = {
    // explicit not-null (vacuous on this data): the join branches
    // INFER isnotnull(l_partkey) and the b0 branch doesn't — spelling
    // it out keeps all three consumers on one identical scan subtree
    // so the (p,m) collapse exchange is computed once and reused
    val pm = Tables.lineitem(spark, dir)
      .filter(col("l_partkey").isNotNull)
      // ONE exchange for the whole head (round-20 Probe decomposition:
      // the old shape paid the (p,m) collapse exchange AND a second
      // by-p exchange for the base window — 1.08 → 0.66 same-JVM with
      // this form): partitioning by p alone satisfies BOTH the (p,m)
      // groupBy's ClusteredDistribution and the window's, so the
      // collapse aggregates post-shuffle and the window sorts in
      // place. Tradeoff, documented: the pre-shuffle partial combine
      // this forfeits merges (p,m) rows that met in one input split —
      // on basket-shaped data (bounded lines per part-month, scattered
      // across splits) that combine was worth ~nothing, while the
      // second exchange it bought cost a full extra pass of the frame.
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey").as("p"),
        date_trunc("month", col("l_shipdate")).as("m"))
      .agg(sum(Recon.cents(col("l_extendedprice"))).as("rev4"),
        sum(round(round(col("l_quantity"), 6) * 1e6, 0).cast("long"))
          .as("qty6"))
      // a zero-quantity basket has no unit price — and unguarded it is
      // the IEEE split (Spark x/0 → Inf-then-ANSI-throw, DuckDB → NULL)
      .filter(col("qty6") > 0)
    // min(struct) orders by m first, so m0 = min month exactly — the
    // struct exists to keep rev4/qty6 REFERENCED: a bare min(m) lets
    // column pruning shrink this branch's scan to 3 columns, which
    // breaks subtree equality and costs a third full (p,m) collapse
    // instead of a ReusedExchange (round-17 plan audit)
    val b0 = pm.agg(min(struct(col("m"), col("rev4"), col("qty6"))).as("s"))
      .select(col("s").getField("m").as("m0"))
    // the base basket rides a partition-by-part WINDOW, not a self-join
    // (round-17 plan rework): the old pm⋈base join recomputed the (p,m)
    // collapse per branch (subtree-equality breaks from inferred
    // filters) and left AQE free to broadcast the BIGGER derived side;
    // the window spelling costs exactly one exchange of the part-month
    // frame by p, reuses the collapse for b0, and never broadcasts a
    // data-sized frame at any SF. max(when(m = m0)) over the part is
    // the base row's value (null-safe <=> keeps the predicate from
    // inferring per-branch not-null filters); parts absent in the base
    // month drop, mirroring the old inner join.
    val w = Window.partitionBy("p")
    val withBase = pm.crossJoin(broadcast(b0))
      .withColumn("rev04",
        max(when(col("m") <=> col("m0"), col("rev4"))).over(w))
      .withColumn("qty06",
        max(when(col("m") <=> col("m0"), col("qty6"))).over(w))
      .filter(col("qty06").isNotNull)
    // Per-row long fast path (round-20, the pagerank allocation
    // lesson): the two real divisions here are half-away folds of
    // POSITIVE exact integers, and when rev·qty provably fits the
    // long envelope (rev < 3·10⁸ cents4 and qty < 1.5·10⁸ µ ⇒
    // 2·rev·qty·100 + den ≤ 9.2·10¹⁸) the fold runs in primitive
    // longs — no BigDecimal allocation on the ~(p,m)-sized frame.
    // The guard is PER ROW, so no caps job exists and a 100 TB
    // basket simply takes the 128-bit branch; values are identical
    // (same half-away integers; `div` truncates on both carriers)
    // and ANSI would throw loudly if the bound logic ever went stale.
    def term(revC: Column, qtyC: Column, wC: Column): Column =
      when(revC < 300000000L && wC < 150000000L,
        Recon.intDiv(revC * wC * 100 * 2 + qtyC, qtyC * 2))
      .otherwise(Recon.ratioScaled(
        revC.cast(DecimalType(38, 0)) * wC * 100, qtyC, 0))
    // lden and pnum are algebraic identities — ratioScaled(rev·q·100, q)
    // ≡ rev·100 exactly (the half-away round of an exact integer is
    // itself), so they are plain long multiplies, not 128-bit decimal
    // divisions (round-16 verdict: the two identity divisions were ~half
    // the op's per-row cost). Only lnum and pden divide.
    val j = withBase
      .select(col("m"),
        term(col("rev4"), col("qty6"), col("qty06")).as("lnum"),
        (col("rev04") * 100).as("lden"),
        (col("rev4") * 100).as("pnum"),
        term(col("rev04"), col("qty06"), col("qty6")).as("pden"))
    val lr = col("lnum").cast("double") / col("lden")
    val pr = col("pnum").cast("double") / col("pden")
    j.groupBy(col("m").as("month"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("lnum")).as("lnum"), sum(col("lden")).as("lden"),
        sum(col("pnum")).as("pnum"), sum(col("pden")).as("pden"))
      .select(col("month"), col("n_parts"),
        // the two index ratios are exact micro-long quotients
        // (Recon.ratioRound); fisher keeps the double sqrt chain —
        // the geometric mean leaves the dyadic lattice
        Recon.ratioRound(col("lnum"), col("lden"), 6).as("laspeyres"),
        Recon.ratioRound(col("pnum"), col("pden"), 6).as("paasche"),
        round(sqrt(lr * pr), 6).as("fisher"))
      .orderBy("month")
  }

  /** Cohort lifetime-value curve: customers grouped by first-order
    * month, revenue accumulated by cohort age — the
    * [[graft.ops.Events.cohortRetention]] sibling in money terms, and
    * the standard LTV artifact every growth dashboard plots.
    *
    * Exactness: revenue in exact 1e-4-unit longs
    * ([[graft.ops.Recon.cents]]); cohort ages are exact month diffs of
    * month-truncated dates; activity counts are exact (the per-customer
    * month frame is already (customer, month)-distinct); the two
    * presentation divisions are identically spelled. The cumulative
    * sum windows over the (cohort, age) frame — months² rows at any
    * scale.
    *
    * 100 TB posture: one map-combined (customer, month) collapse; the
    * first-month frame derives from it (customer-keyed join, exchange
    * reused); everything after the (cohort, age) aggregate is
    * answer-sized, including the running-sum window and the broadcast
    * cohort-size join. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val om = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("c"),
        date_trunc("month", col("o_orderdate")).as("m"))
      .agg(sum(Recon.cents(col("o_totalprice"))).as("rev4"))
    val coh = om.groupBy("c").agg(min(col("m")).as("cm"))
    val cs = coh.groupBy("cm").agg(count(lit(1)).as("cohort_size"))
    val agg = om.join(coh, "c")
      .select(col("cm"), months_between(col("m"), col("cm")).cast("long")
        .as("age"), col("rev4"))
      .groupBy("cm", "age")
      .agg(count(lit(1)).as("n_active"), sum(col("rev4")).as("rev4"))
    val wCum = Window.partitionBy("cm").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg
      .withColumn("crev4", sum(col("rev4")).over(wCum))
      .join(broadcast(cs), "cm")
      .select(col("cm").as("cohort_month"), col("age").as("age_months"),
        col("n_active"), col("cohort_size"),
        Recon.ratioRound(col("rev4"), lit(10000L), 2).as("revenue"),
        Recon.ratioRound(col("crev4"), lit(10000L), 2).as("cum_revenue"),
        Recon.ratioRound(col("crev4"), col("cohort_size") * lit(10000L), 6)
          .as("cum_ltv_per_customer"))
      .orderBy("cohort_month", "age_months")
  }

  /** Open-order backlog aging report: non-final orders bucketed by age
    * relative to the corpus's as-of date (its max order date), with
    * revenue and revenue share per (status, bucket) — the accounting
    * aging artifact (00-30 / 31-90 / 91-365 / 365+ days).
    *
    * Exactness: ages are exact day diffs against a 1-row as-of
    * broadcast; bucket edges are integer comparisons; revenue in exact
    * 1e-4-unit longs ([[graft.ops.Recon.cents]]); the share is one
    * identically-spelled double division.
    *
    * 100 TB posture: one scan → map-side CASE bucketing → one
    * map-combined (status, bucket) aggregate; the as-of date and the
    * open-revenue total are 1-row broadcasts; everything after the
    * aggregate is buckets-sized. */
  def backlogAging(spark: SparkSession, dir: String): DataFrame = {
    val ad0 = Tables.orders(spark, dir).agg(max(col("o_orderdate")).as("ad"))
    val agg = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") =!= "F")
      .crossJoin(broadcast(ad0))
      .select(col("o_orderstatus").as("st"),
        datediff(col("ad"), col("o_orderdate")).as("age"),
        Recon.cents(col("o_totalprice")).as("rev4"))
      .withColumn("bucket",
        when(col("age") <= 30, "00-030d")
          .when(col("age") <= 90, "031-090d")
          .when(col("age") <= 365, "091-365d")
          .otherwise("365d+"))
      .groupBy("st", "bucket")
      .agg(count(lit(1)).as("n_orders"), sum(col("rev4")).as("rev4"))
    val tot = agg.agg(sum(col("rev4")).as("t"))
    agg.crossJoin(broadcast(tot))
      .select(col("st").as("o_orderstatus"), col("bucket"), col("n_orders"),
        Recon.ratioRound(col("rev4"), lit(10000L), 2).as("open_revenue"),
        Recon.ratioRound(col("rev4"), col("t"), 6).as("revenue_share"))
      .orderBy("o_orderstatus", "bucket")
  }

  /** Classical month-of-year seasonal indices over monthly revenue —
    * the ratio-to-overall decomposition a demand planner reads before
    * deseasonalizing anything: index = (mean revenue of that calendar
    * month) / (overall monthly mean); 1.0 = no seasonality, and the
    * month-count-weighted mean of the indices is 1 by construction (a
    * built-in sanity identity).
    *
    * Exactness: monthly revenue in exact 1e-4-unit longs; the index
    * clears both means' denominators — rev_moy·n_months_total /
    * (rev_total·n_months_moy) as 128-bit integer products — leaving
    * one identically-spelled double division, round 6dp.
    *
    * 100 TB posture: one map-combined monthly collapse; everything
    * after is months-sized with a 1-row broadcast total. */
  def seasonalityIndex(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val mt = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(sum(Recon.cents(col("o_totalprice"))).as("rev4"))
    val tot = mt.agg(sum(col("rev4")).as("tr"), count(lit(1)).as("nm"))
    mt.groupBy(month(col("m")).as("moy"))
      .agg(count(lit(1)).as("n_months"), sum(col("rev4")).as("rev4"))
      .crossJoin(broadcast(tot))
      .select(col("moy").as("month_of_year"), col("n_months"),
        Recon.ratioRound(col("rev4"), col("n_months") * lit(10000L), 2)
          .as("avg_monthly_revenue"),
        Recon.ratioRound(col("rev4").cast(dec) * col("nm"),
          col("tr").cast(dec) * col("n_months"), 6)
          .as("seasonal_index"))
      .orderBy("month_of_year")
  }

  /** Customer spend-band migration matrix: the corpus splits at its
    * midpoint day, each period classifies every active customer into
    * low / mid / high relative to that period's mean customer spend,
    * and the matrix counts every (band_before → band_after) flow
    * including churn ('absent' after) and acquisition ('absent'
    * before) — the segment-migration artifact behind retention
    * reviews.
    *
    * Exactness: the cutoff is exact integer day arithmetic; per-period
    * revenue in exact 1e-4-unit longs; band edges are EXACT 128-bit
    * integer comparisons with the mean's denominator cleared
    * (2·rev·n < Σrev and 2·rev·n > 3·Σrev — never a ratio near a
    * boundary); counts exact, the share a single identical division.
    *
    * 100 TB posture: one map-combined (customer, period) collapse;
    * the 2-row period totals broadcast; the before/after full outer
    * join keys on customer; the matrix is ≤ 4×4 rows. */
  def spendMigration(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val o = Tables.orders(spark, dir)
    val b = o.agg(min(date_trunc("DAY", col("o_orderdate"))).as("d0"),
      max(date_trunc("DAY", col("o_orderdate"))).as("d1"))
    val cut = b.select(date_add(col("d0").cast("date"),
      (datediff(col("d1"), col("d0")) / 2).cast("int")).as("c"))
    val cp = o.crossJoin(broadcast(cut))
      .groupBy(col("o_custkey").as("k"),
        (date_trunc("DAY", col("o_orderdate")).cast("date") < col("c"))
          .as("pre"))
      .agg(sum(Recon.cents(col("o_totalprice"))).as("rev4"))
    val pt = cp.groupBy("pre")
      .agg(sum(col("rev4")).as("ts"), count(lit(1)).as("nc"))
    val cls = cp.join(broadcast(pt), "pre")
      .select(col("k"), col("pre"),
        when(lit(2) * col("rev4").cast(dec) * col("nc") < col("ts"), "low")
          .when(lit(2) * col("rev4").cast(dec) * col("nc")
            > lit(3) * col("ts").cast(dec), "high")
          .otherwise("mid").as("band"))
    // before/after fold as ONE conditional groupBy(k) — the q21 lesson
    // (round-20): each (k, pre) key holds exactly one row of cls, so
    // max(when(pre)) / max(when(!pre)) recover the two bands per
    // customer and the full-outer join (two exchanges + join on a
    // frame two filters re-derived) collapses into a single
    // map-combined aggregate over the cls pass
    val m = cls
      .groupBy(col("k"))
      .agg(max(when(col("pre"), col("band"))).as("ba"),
        max(when(!col("pre"), col("band"))).as("bb"))
      .groupBy(coalesce(col("ba"), lit("absent")).as("band_before"),
        coalesce(col("bb"), lit("absent")).as("band_after"))
      .agg(count(lit(1)).as("n_customers"))
    val tot = m.agg(sum(col("n_customers")).as("t"))
    m.crossJoin(broadcast(tot))
      .select(col("band_before"), col("band_after"), col("n_customers"),
        Recon.ratioRound(col("n_customers"), col("t"), 6).as("share"))
      .orderBy("band_before", "band_after")
  }

  /** Chi-square test of independence between order status and order
    * priority — the contingency-table screen ("does priority mix drift
    * by status?") that complements [[graft.ops.Recon.benfordDrift]]'s
    * goodness-of-fit: two-way independence instead of a fixed
    * reference law. Emits the full crosstab with per-cell expected
    * counts and contributions plus the χ², dof and Cramér's V
    * repeated per row.
    *
    * Exactness: observed counts, row/column totals and N are exact
    * integers; each cell's deviation clears the expected-count
    * denominator — dev = O·N − rt·ct as 128-bit integers — and the
    * per-cell χ² term dev²/(N·rt·ct) is one identically-spelled double
    * expression rounded at 6 dp into micro-unit longs before the EXACT
    * integer total (the lm_score per-term discipline). Cramér's V =
    * √(χ²/(N·min(r−1,c−1))) — IEEE sqrt is correctly rounded, so
    * bit-identical on both engines given the identical operand chain.
    *
    * 100 TB posture: the only corpus-sized pass is the map-side-
    * combined (status, priority) count; its exchange is reused by the
    * 1-row totals branches (answer-sized broadcasts by construction —
    * a crosstab is categories × categories), and the windows run over
    * the ≤ r·c-cell frame partitioned by status / priority. */
  def crosstabChisq(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
      .agg(count(lit(1)).as("o"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("st")).as("r"), countDistinct(col("pr")).as("c"))
    val m = cells
      .withColumn("rt", sum("o").over(Window.partitionBy("st")))
      .withColumn("ct", sum("o").over(Window.partitionBy("pr")))
      .crossJoin(broadcast(tot))
    val devC = col("o").cast(dec) * col("n") - col("rt").cast(dec) * col("ct")
    // both micro terms are exact integer ratios — Recon.ratioScaled
    // (the int/int tie class): e = rt·ct/n, contrib = dev²/(n·rt·ct);
    // envelope: dev²·2·10⁶ inside DECIMAL(38,0) to ~10¹⁵ orders
    val t = m
      .withColumn("e_micro",
        Recon.ratioScaled(col("rt").cast(dec) * col("ct"), col("n"), 6))
      .withColumn("contrib_micro",
        Recon.ratioScaled(devC * devC,
          col("n").cast(dec) * col("rt") * col("ct"), 6))
    val s = t.agg(sum(col("contrib_micro")).as("chi2_micro"))
    t.crossJoin(broadcast(s))
      .select(col("st").as("o_orderstatus"), col("pr").as("o_orderpriority"),
        col("o").as("n_obs"),
        round(col("e_micro") / 1e6, 6).as("expected"),
        round(col("contrib_micro") / 1e6, 6).as("contrib"),
        round(col("chi2_micro") / 1e6, 6).as("chi2_total"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        // degenerate one-row/one-column table ⇒ min(r−1,c−1) = 0: the
        // raw chain would IEEE-split (Spark Inf/NaN vs DuckDB NULL) —
        // guard like valueAnova's f_stat and emit NULL on both engines
        when(least(col("r") - 1, col("c") - 1) > 0,
          round(sqrt(col("chi2_micro").cast("double") / 1e6 / col("n")
            / least(col("r") - 1, col("c") - 1)), 6)).as("cramers_v"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }
}
