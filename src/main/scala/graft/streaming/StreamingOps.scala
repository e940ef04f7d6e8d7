package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming twins of the batch event-time ops
  * (SURVEY.md §2.8). Each takes any events-shaped frame — batch or
  * `readStream` — and returns the transformed frame; the caller picks the
  * sink (`writeStream` + checkpoint in production, memory sink in tests).
  *
  * Watermarks bound state: an event later than the watermark is dropped
  * rather than held forever — the only sane policy when the state store
  * would otherwise grow with the full 100 TB history.
  */
object StreamingOps {

  /** Tumbling 1-hour per-type counts/sums; 1-hour lateness tolerance. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("v"))

  /** Sliding 1-hour window every 15 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"))

  /** Streaming exact-dedup on an id column — the ingestion-time twin of
    * the batch `dedup_exact_docs` gate. `dropDuplicatesWithinWatermark`
    * keeps one state entry per id only until the watermark passes it, so
    * state is bounded by the lateness horizon instead of growing with the
    * full stream history — the only viable contract at 100 TB/day. */
  def dedupStream(events: DataFrame, idCol: String): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(idCol)

  /** 30-minute-gap sessions per user via the built-in session_window —
    * the streaming twin of the batch lag→running-sum sessionizer. */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("user_id"), col("n"))

  /** Continuous bounded top-k — [[graft.functions.MinK]] as a STREAMING
    * aggregate: per group, the smallest-k values seen so far across all
    * micro-batches. The state store keeps exactly the ≤k-element sorted
    * buffer per group (the Aggregator's merge is what the store invokes
    * on each batch's partials), so state is answer-sized forever —
    * the property that makes a top-k monitor viable on an unbounded
    * stream, where any sort-based formulation would buffer the history.
    * Complete/update output modes both work; no watermark needed because
    * state never grows past k per group. */
  def streamingTopK(rows: DataFrame, keyCol: String, valueCol: String,
                    k: Int = 5): DataFrame = {
    val mink = udaf(new graft.functions.MinK(k), Encoders.scalaDouble)
    rows.groupBy(col(keyCol))
      .agg(mink(col(valueCol).cast("double")).as("smallest"))
  }

  /** Continuous reconciliation — the ingestion-time twin of the batch
    * [[graft.ops.Recon.hashDiffDetail]]: every micro-batch of the stream
    * is checked against a static reference table as it arrives, emitting
    * (key, status) for rows whose checksum diverges ("mismatch") or that
    * have no reference counterpart ("missing_in_reference"). Uses the
    * same length-prefixed null-safe checksum as the batch APIs.
    *
    * Stateless by construction: a per-row stream-static LEFT join needs
    * no watermark and holds no state, so it runs forever at any rate. The
    * reference's extra-in-reference set is undefined until the stream
    * ends — a streaming full-outer against a static side would need
    * unbounded state — and stays a batch-API concern. At scale the
    * static side is broadcast (bounded dim) or bucketed on the key. */
  def streamingHashDiff(stream: DataFrame, reference: DataFrame,
                        key: String, cols: Seq[String]): DataFrame = {
    val s = stream.select(col(key).as("k"),
      graft.ops.Recon.rowChecksum(cols).as("h_src"))
    val r = reference.select(col(key).as("k"),
      graft.ops.Recon.rowChecksum(cols).as("h_tgt"))
    s.join(r, Seq("k"), "left_outer")
      .select(col("k"),
        when(col("h_tgt").isNull, "missing_in_reference")
          .when(col("h_src") =!= col("h_tgt"), "mismatch")
          .otherwise("match").as("status"))
      .filter(col("status") =!= "match")
  }

  /** Streaming z-score screen — the continuous twin of the batch
    * `zscore_outliers` op: each arriving event checked against a STATIC
    * per-type (mean, sd) reference frame (computed offline by
    * `Events.valueStats` over history, refreshed on redeploy), emitting
    * the rows beyond `threshold` standard deviations.
    *
    * Stateless by construction — the stats broadcast and the predicate
    * is a row-local codegen'd expression, so there is no watermark, no
    * state store, and the query runs forever at any rate. Learning the
    * stats FROM the stream itself would be a different op (and a
    * feedback loop an anomaly screen usually must avoid: an outlier
    * burst would inflate sd and mask itself). */
  def streamingZscore(stream: DataFrame, stats: DataFrame,
                      threshold: Double = 3.0): DataFrame =
    graft.ops.Events.zscoreScreen(stream, stats, threshold)

  /** Streaming composition-drift monitor — the continuous twin of the
    * batch `event_mix_daily` + `recon_psi_drift` pair: per event-time
    * window, the type mix's Population Stability Index against a STATIC
    * reference mix (computed offline from a trusted period — learning
    * the reference from the live stream would let drift normalize
    * itself). Emits one row per closed window: total count and PSI;
    * alert on PSI > 0.2, the standard threshold.
    *
    * Streaming-legal by construction: multiple stateful aggregations
    * are not allowed in append mode, so the per-type counts pivot into
    * ONE row per window via conditional `count_if` columns over the
    * reference's (bounded) type list — a single windowed aggregate,
    * watermark-evicted state, then the PSI is a row-local expression.
    * Reference shares clamp at 1e-6 (the standard PSI guard).
    *
    * Types ABSENT from the reference accumulate in an `other` bucket
    * whose reference share is the 1e-6 clamp floor: a novel event type
    * appearing in the stream is the classic composition-drift
    * signature, and excluding it from both the total and the PSI (the
    * round-11 form) produced exactly zero signal for it — now even a
    * small novel-type share contributes a large (p−1e-6)·ln(p/1e-6)
    * term and trips the 0.2 alert threshold. */
  def streamingMixDrift(events: DataFrame, refShares: Map[String, Double],
                        windowLen: String = "1 day",
                        watermark: String = "1 hour"): DataFrame = {
    require(refShares.nonEmpty, "streamingMixDrift: need a reference mix")
    val types = refShares.keys.toSeq.sorted
    val aggs = types.map(t =>
      count_if(col("event_type") === t).as(s"n_$t")) :+
      count_if(!col("event_type").isin(types: _*)).as("n_other")
    val counts = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(aggs.head, aggs.tail: _*)
    val total = (types.map(t => col(s"n_$t")) :+ col("n_other")).reduce(_ + _)
    val psi = types.map { t =>
      val p = greatest(col(s"n_$t").cast("double") / total, lit(1e-6))
      val q = lit(math.max(refShares(t), 1e-6))
      (p - q) * log(p / q)
    }.reduce(_ + _) + {
      val p = greatest(col("n_other").cast("double") / total, lit(1e-6))
      val q = lit(1e-6)
      (p - q) * log(p / q)
    }
    counts.select(col("w.start").as("window_start"),
      total.as("n"), round(psi, 6).as("psi"))
  }

  /** Idempotent parquet batch writer — the `foreachBatch` sink pattern
    * for exactly-once file output without a transactional table format:
    * each micro-batch lands in its own `batch_id=N` partition directory
    * with mode=overwrite, so a REPLAYED batch (failure before the
    * checkpoint commit → Spark re-runs the same batchId with the same
    * data) rewrites the same directory byte-for-byte instead of
    * appending duplicates. Readers scan the tree root; `batch_id` is an
    * ordinary partition column (prunable, and a consumer can checkpoint
    * its own high-water mark on it).
    *
    * At 100 TB/day the per-batch directory also bounds the blast radius
    * of a bad deploy: quarantining or re-emitting one batch is a
    * directory move, not a table rewrite. Pair with `Sources.compact`
    * once partitions age out of the replay window. */
  def writeBatchIdempotent(batch: DataFrame, path: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Stream-stream interval join — click attribution: every click joined
    * to the same user's views at most `horizon` before it (view first,
    * inclusive both ends). Both sides are live streams, so this is the
    * §2.8 surface none of the other twins cover: Spark buffers each side
    * in the state store and the JOIN CONDITION ITSELF bounds that state —
    * the event-time range `view_ts ∈ [click_ts − horizon, click_ts]`
    * plus the two watermarks lets the planner compute exactly when a
    * buffered row can never match again and evict it. Without the range
    * bound a stream-stream join is unbounded state, the 100 TB/day
    * failure mode; with it, state ≈ horizon + lateness of traffic.
    *
    * `joinType` "inner" (default): a view with no click inside the
    * horizon silently ages out. "left_outer": that view still emits —
    * with null click columns — but only once the watermark proves no
    * click can arrive for it (same state, deferred emission), giving the
    * unconverted-impressions feed an attribution pipeline also needs.
    * All qualifying (view, click) pairs emit — last-touch/first-touch
    * selection is a policy left to a downstream agg, as in batch. */
  def attributeClicks(views: DataFrame, clicks: DataFrame,
                      horizon: String = "30 minutes",
                      lateness: String = "10 minutes",
                      joinType: String = "inner"): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", lateness)
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    v.join(c, col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizon"), joinType)
      .select(col("v_user").as("user_id"), col("view_ts"), col("click_ts"),
        expr("(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000")
          .as("latency_s"))
  }

  /** One (key, instant, match-or-mismatch) observation of a continuously
    * reconciled key — the per-row feed a [[streamingHashDiff]]-style
    * check produces once "match" rows are kept. */
  case class DiffObs(k: Long, ts: java.sql.Timestamp, status: String)

  /** Alert emitted when a key's consecutive-mismatch run reaches the
    * threshold; `ts` is the observation that completed the streak. */
  case class StreakAlert(k: Long, ts: java.sql.Timestamp, streak: Int)

  /** Internal streak-run state (one row per live key). */
  case class StreakState(n: Int)

  /** Per-key consecutive-mismatch alerting over a continuous recon feed —
    * custom state that no windowed aggregation can express: "alert the
    * moment a key diverges `threshold` times IN A ROW, re-arm on the next
    * match" depends on unbounded-lookback order, not a time bucket. This
    * is the escalation policy of a production recon monitor (one blip is
    * replication lag; N consecutive blips is a broken pipeline).
    *
    * `flatMapGroupsWithState` (SURVEY §2.8's custom-state tool) keeps ONE
    * small state row (the current run length) per key. State is bounded
    * two ways: the watermark (`lateness`) gates how far back an
    * observation may arrive, and `EventTimeTimeout` drops a key's state
    * once the watermark passes its last observation by `idleGrace` — an
    * idle key costs nothing forever after. Alerts emit exactly at the
    * crossing (streak == threshold), not on every further mismatch, so
    * downstream paging is once per incident.
    *
    * Observations inside one micro-batch are sorted by `ts` before the
    * streak update (the iterator carries no order contract); cross-batch
    * order is the stream's own arrival order, as for any stateful op.
    * Streaming-only (event-time timeout needs the watermark the batch
    * planner strips); the spec drives it through MemoryStream across
    * multiple micro-batches. */
  def mismatchStreakAlerts(obs: Dataset[DiffObs], threshold: Int = 3,
                           lateness: String = "1 hour",
                           idleGrace: Long = 2 * 3600 * 1000L): Dataset[StreakAlert] = {
    require(threshold > 0, s"mismatchStreakAlerts: threshold must be positive: $threshold")
    import obs.sparkSession.implicits._
    obs.withWatermark("ts", lateness)
      .groupByKey(_.k)
      .flatMapGroupsWithState[StreakState, StreakAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[DiffObs], state: GroupState[StreakState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var n = state.getOption.map(_.n).getOrElse(0)
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            val alerts = sorted.flatMap { o =>
              if (o.status == "match") { n = 0; None }
              else { n += 1; if (n == threshold) Some(StreakAlert(k, o.ts, n)) else None }
            }
            state.update(StreakState(n))
            // Timeout anchors to the key's LAST OBSERVATION, not the
            // current watermark: on the first micro-batch the watermark
            // is still 0, and a watermark-relative stamp would read as
            // 1970 and expire every key before its second batch
            // (observed). The watermark floor keeps the stamp legal even
            // if idleGrace < lateness.
            state.setTimeoutTimestamp(
              (sorted.last.ts.getTime + idleGrace).max(state.getCurrentWatermarkMs() + 1))
            alerts.iterator
          }
      }
  }

  /** Batch twin of [[mismatchStreakAlerts]] — identical alert semantics
    * (alert exactly when a key's consecutive-mismatch run FIRST reaches
    * `threshold`, re-arm on the next match) re-expressed as the
    * gaps-and-islands window the batch planner can oracle: per key in
    * observation order, a row's streak is its row number minus the row
    * number of the key's most recent match (0 if none yet), so the
    * crossing row is the one mismatch with streak == threshold per
    * maximal run. One shuffle on `k`; the two window passes share the
    * (k, ts) sort. Equal to the streaming op whenever no state timeout
    * fires mid-stream (per-key observation gaps < `idleGrace`) — the
    * parity StreamingSpec drives both over the same seeded feed.
    *
    * Exists so the custom-state streaming surface is anchored to the
    * DuckDB oracle (the `recon_stream_hash_diff` recipe): the registry
    * op [[graft.ops.Recon.streakAlertsParity]] runs THIS code path over
    * a deterministic divergence feed, and the spec asserts the
    * `flatMapGroupsWithState` run emits identical rows. */
  def streakAlertsBatch(obs: DataFrame, threshold: Int = 3): DataFrame = {
    require(threshold > 0, s"streakAlertsBatch: threshold must be positive: $threshold")
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy("k").orderBy("ts")
    val byRn = Window.partitionBy("k").orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.withColumn("rn", row_number().over(byTs))
      .withColumn("streak", col("rn") -
        coalesce(max(when(col("status") === "match", col("rn"))).over(byRn), lit(0)))
      .filter(col("status") =!= "match" && col("streak") === threshold)
      .select(col("k"), col("ts"), col("streak"))
  }

  // ── continuous CDC apply: the repair loop closed ──────────────────────
  //
  // recon finds a diff → a change feed repairs the target → the stream
  // keeps the target repaired. The snapshot is a chain of immutable
  // parquet versions under `dir/v=<n>` plus a `_latest` pointer that
  // commits via atomic rename: readers always see a complete version,
  // a crash between the parquet write and the pointer flip leaves the
  // previous version current (the orphan v+1 directory is overwritten
  // on retry). Replay safety comes from recording the batch id IN the
  // pointer: a re-delivered foreachBatch batch (restart from checkpoint)
  // sees its own id is not newer and returns without touching anything —
  // the writeBatchIdempotent discipline, extended to read-modify-write.
  //
  // Per batch the work is one broadcast anti-join + union over the
  // current snapshot ([[graft.ops.Changes.applyChanges]]): the snapshot
  // is scanned once and never shuffled, so cost scales with snapshot
  // size × change cardinality exactly like the batch op. At 100 TB you
  // would partition the snapshot and rewrite only partitions the batch
  // touches; the version-chain + pointer protocol stays the same.

  private def fs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read `_latest` → (version, lastAppliedBatchId); (-1, -1) if absent. */
  private def latest(spark: org.apache.spark.sql.SparkSession,
                     dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_latest")
    val f = fs(spark, dir)
    if (!f.exists(p)) (-1L, -1L)
    else {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      val Array(v, b) = s.split(" ")
      (v.toLong, b.toLong)
    }
  }

  private def commitPointer(spark: org.apache.spark.sql.SparkSession,
                            dir: String, version: Long, batchId: Long): Unit = {
    val f = fs(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_latest.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$dir/_latest")
    val out = f.create(tmp, true)
    try out.write(s"$version $batchId".getBytes("UTF-8")) finally out.close()
    if (f.exists(dst)) f.delete(dst, false)
    require(f.rename(tmp, dst), s"snapshot pointer commit failed for $dir")
  }

  /** Seed the versioned snapshot with an initial state (v=0). */
  def initSnapshot(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/v=0")
    commitPointer(df.sparkSession, dir, 0L, -1L)
  }

  /** The current snapshot contents (whatever `_latest` points at). */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = {
    val (v, _) = latest(spark, dir)
    require(v >= 0, s"no snapshot at $dir — initSnapshot first")
    spark.read.parquet(s"$dir/v=$v")
  }

  /** foreachBatch body: merge one micro-batch of I/U/D changes into the
    * snapshot. Compacts the batch to last-change-per-key by `seqCol`
    * first (a micro-batch can carry several changes for one key), then
    * applies and commits version v+1. Idempotent under replay. */
  def applyChangesBatch(batch: DataFrame, dir: String, key: String,
                        seqCol: String, opCol: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val (v, lastBatch) = latest(spark, dir)
    require(v >= 0, s"no snapshot at $dir — initSnapshot first")
    if (batchId <= lastBatch) return // replayed batch: already applied
    val base = spark.read.parquet(s"$dir/v=$v")
    val compacted = graft.ops.Changes.compactChanges(batch, key, seqCol)
      .drop(seqCol)
    graft.ops.Changes.applyChanges(base, compacted, key, opCol)
      .write.mode("overwrite").parquet(s"$dir/v=${v + 1}")
    commitPointer(spark, dir, v + 1, batchId)
  }
}
