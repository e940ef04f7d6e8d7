package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of (temporal lookup) join — SURVEY §2.4's one deferred operator,
  * added in round 2. Spark has no native as-of join; the distributed
  * pattern here is union-then-window: tag both sides, union, sort each
  * key's timeline once, and carry the latest right-side payload forward
  * with `last(_, ignoreNulls)`.
  *
  * 100 TB posture: ONE shuffle (partition by key) + ONE sort per key's
  * timeline — the alternative (range-join then per-left-row argmax over
  * candidate pairs) explodes quadratically on busy keys. Skewed keys ride
  * on AQE; payloads travel as a single struct so the window state is one
  * value, not one per column.
  */
object Asof {

  /** Left rows enriched with the most recent right row (by `rightTime` ≤
    * the left row's `leftTime`) for the same `key` — DuckDB/pandas
    * `ASOF JOIN` semantics, inclusive on equality. Right columns (other
    * than key) are appended, null when no right row precedes. Column
    * names must be disjoint; callers dedupe right to one row per
    * (key, time) — order among exact duplicates is unspecified. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String): DataFrame = {
    val payloadCols = right.columns.filterNot(_ == key).toSeq
    val payloadType = StructType(payloadCols.map(c => right.schema(c)))
    val leftCols = left.columns.filterNot(_ == key).toSeq

    val lSide = left.select(
      col(key) +: col(leftTime).as("__t") +: lit(1).as("__side") +:
        lit(null).cast(payloadType).as("__r") +: leftCols.map(col): _*)
    val rSide = right.select(
      col(key) +: col(rightTime).as("__t") +: lit(0).as("__side") +:
        struct(payloadCols.map(col): _*).as("__r") +:
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)

    // at equal time the right row sorts first (__side 0 < 1), so a left
    // row sees a same-instant marker — the inclusive (>=) contract
    val w = Window.partitionBy(key).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col(key) +: leftCols.map(col) ++:
        payloadCols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Interval-containment (range) join: points matched to every interval
    * [start, end] that contains them — Spark plans a raw `BETWEEN` theta
    * join as BroadcastNestedLoop (per-point scan of ALL intervals), the
    * classic 100 TB cliff. The scale shape here is the bucket trick: a
    * point lives in exactly one width-`bucketWidth` bucket, an interval
    * is exploded across every bucket it overlaps, and the join becomes a
    * plain equi-join on the bucket followed by the exact containment
    * filter. Shuffle volume is O(points + intervals × span/width), never
    * points × intervals — and each matching (point, interval) pair meets
    * in exactly one bucket (the point's), so no dedup pass is needed.
    * `ptCol`/`startCol`/`endCol` are numeric (e.g. `unix_date`/epoch);
    * pick `bucketWidth` near the typical interval span so most intervals
    * explode into 1–2 buckets. The two frames' column names must be
    * disjoint (the output carries both sides' columns) and neither may
    * already use the `__bucket` scratch name — both fail fast rather
    * than silently overwriting a column or emitting ambiguous duplicates
    * (round-6 advice). */
  def rangeJoin(points: DataFrame, ptCol: String,
                intervals: DataFrame, startCol: String, endCol: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"rangeJoin: bucketWidth must be positive: $bucketWidth")
    require(!points.columns.contains("__bucket") && !intervals.columns.contains("__bucket"),
      "rangeJoin: inputs must not already contain a __bucket column")
    val shared = points.columns.toSet.intersect(intervals.columns.toSet)
    require(shared.isEmpty,
      s"rangeJoin: points/intervals column names must be disjoint, both have: ${shared.mkString(", ")}")
    val p = points.withColumn("__bucket", floor(col(ptCol) / bucketWidth))
    val i = intervals.withColumn("__bucket",
      explode(sequence(floor(col(startCol) / bucketWidth),
        floor(col(endCol) / bucketWidth))))
    p.join(i, Seq("__bucket"))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("__bucket")
  }

  /** Harness op over [[rangeJoin]]: orders landing in the first ten days
    * of each month, against a generated monthly interval grid — per
    * interval, order count and DECIMAL-exact revenue. Dates join as
    * epoch-day numbers; weekly buckets put each 10-day interval in 2–3
    * buckets. */
  def rangeJoinOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_totalprice"),
      unix_date(to_date(col("o_orderdate"))).as("d"))
    val iv = spark.range(1)
      .select(explode(expr(
        "sequence(to_date('1992-01-01'), to_date('1998-12-01'), interval 1 month)"))
        .as("mstart"))
      .select(col("mstart"), unix_date(col("mstart")).as("s"))
      .withColumn("e", col("s") + 9)
    rangeJoin(o, "d", iv, "s", "e", bucketWidth = 7L)
      .groupBy("mstart")
      .agg(count(lit(1)).as("n"), Exact.decSum(col("o_totalprice")).as("rev"))
      .orderBy("mstart")
  }

  /** Harness op: each event looks up the user's most recent purchase at
    * or before its own timestamp. Markers are deduped to one row per
    * (user, instant) with a deterministic max_by, matching the oracle's
    * CTE; emitted timestamps truncate to seconds (SURVEY §7.4.2). */
  def asofJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val markers = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value"), col("event_id"))
      .groupBy("user_id", "pts")
      .agg(max_by(col("value"), col("event_id")).as("pv"))
    asofJoin(ev.select(col("event_id"), col("user_id"), col("ts")),
        markers, "user_id", "ts", "pts")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ets"),
        date_trunc("second", col("pts")).as("pts"), col("pv"))
      .orderBy("event_id")
      .limit(500)
  }
}
