package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture surface (SURVEY §2.1 adjacency): applying an
  * upsert/delete feed to a base snapshot and building type-2 history —
  * the two operations a reconciliation pipeline runs right after it
  * finds a diff ("repair the target", "keep the audit trail").
  *
  * 100 TB posture: `applyChanges` is one anti-join plus a union — the
  * change feed is typically orders of magnitude smaller than the base
  * snapshot, so the anti-join broadcasts and the base table is touched
  * by exactly one scan-shaped pass (no shuffle of the 100 TB side).
  * `scd2` is one window per key timeline: one shuffle on the key, one
  * sort — the same discipline as sessionize.
  */
object Changes {

  /** Keep only the LAST change per key from a CDC feed (compaction):
    * one hash aggregate — `max_by(payload struct, seq)` — which
    * partial-combines map-side, so the exchange carries at most one
    * row per key per map task (round 21, guide §2.3 "aggregate before
    * you shuffle"; the previous window+row_number spelling shuffled
    * and sorted EVERY change row). Deterministic because a CDC log's
    * sequence column is unique per key by construction (duplicated
    * (key, seq) pairs would make "last" meaningless for any engine —
    * the same contract the old row_number-without-tiebreak spelling
    * leaned on). Column order preserved. */
  def compactChanges(changes: DataFrame, key: String, seqCol: String): DataFrame = {
    require(!changes.columns.contains("__last"),
      "compactChanges: input must not already contain a __last column")
    val payload = changes.columns.filterNot(_ == key)
    changes.groupBy(col(key))
      .agg(max_by(struct(payload.map(col): _*), col(seqCol)).as("__last"))
      .select(changes.columns.map(c =>
        if (c == key) col(key) else col(s"__last.$c").as(c)): _*)
  }

  /** Apply a compacted change feed (one row per key, `opCol` ∈ I/U/D) to
    * a base snapshot: rows whose key appears in the feed are superseded
    * (deleted for D, replaced for I/U), everything else passes through.
    *
    * Plan shape: left-anti join base⋉keys(changes) + union. The anti
    * join broadcasts whenever the feed fits under
    * `autoBroadcastJoinThreshold`, so the base side never shuffles —
    * the property that makes this viable when base is 100 TB and the
    * feed is a day of changes. */
  def applyChanges(base: DataFrame, changes: DataFrame, key: String,
                   opCol: String = "op"): DataFrame = {
    val dataCols = changes.columns.filter(_ != opCol)
    require(dataCols.sorted.sameElements(base.columns.sorted),
      s"applyChanges: changes columns ${dataCols.mkString(",")} must match base ${base.columns.mkString(",")}")
    val keys = changes.select(col(key))
    base.join(keys, Seq(key), "left_anti")
      .unionByName(changes.filter(col(opCol) =!= "D").drop(opCol))
  }

  /** Build a type-2 (SCD2) history from a versioned feed: per `key`,
    * versions ordered by (`versionCol`, `tiebreak`), each row valid from
    * its own instant until the next version's (`valid_to` null = current).
    * One shuffle on the key, one sort — lead() over the same window. */
  def scd2(df: DataFrame, key: String, versionCol: String,
           tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(versionCol), col(tiebreak))
    df.withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumnRenamed(versionCol, "valid_from")
  }

  /** Harness op: orders as a CDC feed over the customer's "latest order
    * state" — SCD2 history rows with validity ranges, first 500 by
    * (custkey, valid_from, orderkey). */
  def scd2Orders(spark: SparkSession, dir: String): DataFrame =
    scd2(Tables.orders(spark, dir), "o_custkey", "o_orderdate", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
      .limit(500)

  /** Harness op: a synthetic I/U/D feed applied to a base snapshot of
    * orders, verified by per-status rowcount + exact DECIMAL money sum +
    * restated-row count of the FINAL state (any misplaced row moves a
    * sum). Base = keys not ≡0 (mod 10); inserts are the missing tenth,
    * updates restate price to whole dollars on keys ≡0 (mod 7), deletes
    * drop keys ≡0 (mod 13). */
  def mergeUpsertOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val base = o.filter(col("o_orderkey") % 10 =!= 0)
    val inserts = o.filter(col("o_orderkey") % 10 === 0)
      .withColumn("op", lit("I"))
    val updates = o.filter(col("o_orderkey") % 10 =!= 0 &&
        col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
      .withColumn("o_totalprice", round(col("o_totalprice"), 0))
      .withColumn("o_orderpriority", lit("5-RESTATED"))
      .withColumn("op", lit("U"))
    val deletes = o.filter(col("o_orderkey") % 10 =!= 0 &&
        col("o_orderkey") % 13 === 0)
      .withColumn("op", lit("D"))
    restatedSummary(applyChanges(base,
      inserts.unionByName(updates).unionByName(deletes), "o_orderkey"))
  }

  /** Deterministic CDC micro-batch carrying SEVERAL seq'd changes per key
    * — the feed shape [[graft.streaming.StreamingOps.applyChangesBatch]]
    * compacts before applying. Keys ≡0 (mod 7, not 13): a stale seq-1
    * price restatement (+1e6, poisoned so any survival moves the sums)
    * superseded by the seq-2 whole-dollar restatement that must win;
    * keys ≡0 (mod 13): a poisoned seq-1 update superseded by a seq-2
    * delete (the delete must survive compaction); keys ≡0 (mod 10) (not
    * in the base): uncontested seq-1 inserts. */
  def cdcFeedOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val k = col("o_orderkey")
    // ONE scan of orders (round 21 — guide §2.4): each row emits its
    // 0–2 change rows from a row-local array+explode, where the old
    // form unioned FIVE filtered scans of the table (upd7 twice, del13
    // twice, inserts once — five parquet passes and a 5-leg union
    // plan). The when-chain is evaluated top-down, so the leg
    // membership is exactly the old filters': keys ≡0 (mod 10) are
    // inserts regardless of other divisors; the contested-update leg
    // then sees only keys with 7|k, ¬13|k (and ¬10|k by fall-through);
    // the delete leg only 13|k. Same row multiset, same types
    // (o_totalprice is DOUBLE end to end).
    val legs = when(k % 10 === 0, array(
        struct(lit("I").as("op"), lit(1L).as("seq"),
          col("o_totalprice").as("price"), col("o_orderpriority").as("prio"))))
      .when(k % 7 === 0 && k % 13 =!= 0, array(
        struct(lit("U").as("op"), lit(1L).as("seq"),
          (col("o_totalprice") + 1000000).as("price"),
          col("o_orderpriority").as("prio")),
        struct(lit("U").as("op"), lit(2L).as("seq"),
          round(col("o_totalprice"), 0).as("price"),
          lit("5-RESTATED").as("prio"))))
      .when(k % 13 === 0, array(
        struct(lit("U").as("op"), lit(1L).as("seq"),
          (col("o_totalprice") + 1000000).as("price"),
          col("o_orderpriority").as("prio")),
        struct(lit("D").as("op"), lit(2L).as("seq"),
          col("o_totalprice").as("price"),
          col("o_orderpriority").as("prio"))))
    // unmatched keys yield a NULL array, which explode drops
    o.select(o.columns.map(col) :+ explode(legs).as("__chg"): _*)
      .withColumn("o_totalprice", col("__chg.price"))
      .withColumn("o_orderpriority", col("__chg.prio"))
      .withColumn("op", col("__chg.op"))
      .withColumn("seq", col("__chg.seq"))
      .drop("__chg")
  }

  /** The final snapshot state [[graft.streaming.StreamingOps.applyChangesBatch]]
    * produces from [[cdcFeedOrders]]: its LITERAL transform core —
    * [[compactChanges]] (last change per key by seq) then
    * [[applyChanges]] — over the base of keys not ≡0 (mod 10). The
    * version/pointer I/O around the transform stays StreamingSpec-
    * verified (replay idempotence needs a real sink); the merge
    * semantics themselves are mode-independent and land here. */
  def cdcApplyFinal(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir).filter(col("o_orderkey") % 10 =!= 0)
    val compacted = compactChanges(cdcFeedOrders(spark, dir),
      "o_orderkey", "seq").drop("seq")
    applyChanges(base, compacted, "o_orderkey")
  }

  /** Batch-parity anchor for the CONTINUOUS CDC apply twin — summarizes
    * [[cdcApplyFinal]] per status (rowcount + exact decimal money sum +
    * restated count: a stale seq-1 row surviving compaction shifts
    * sum_price by ~1e6, a lost delete shifts n), so the driver's DuckDB
    * oracle grounds the compaction+merge semantics and the StreamingSpec
    * parity test asserts a real foreachBatch run over the same feed —
    * seqs split across two micro-batches — converges to the identical
    * snapshot (the `recon_stream_hash_diff` recipe). */
  def cdcApplyParity(spark: SparkSession, dir: String): DataFrame =
    restatedSummary(cdcApplyFinal(spark, dir))

  /** The CDC summary both harness ops end in: per o_orderstatus, the
    * rowcount, the exact decimal money sum and the restated-row count of
    * a final snapshot state. */
  private def restatedSummary(fin: DataFrame): DataFrame =
    fin.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        Recon.decSum(col("o_totalprice")).as("sum_price"),
        count(when(col("o_orderpriority") === "5-RESTATED", 1)).as("n_restated"))
      .orderBy("o_orderstatus")
}
