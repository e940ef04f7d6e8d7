package graft.ops

import graft.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time block (SURVEY.md §2.8), batch forms. Each op has a
  * Structured-Streaming twin in [[graft.streaming.StreamingOps]].
  *
  * Determinism: `events.ts` is ns in parquet; [[Tables.events]] normalizes
  * to µs so gap comparisons and truncations agree with the oracle engine
  * (SURVEY §7.4.2). Session ids come from the classic lag→break→running-sum
  * pattern — two windows over the same (user_id, ts) partitioning, so Spark
  * shuffles once and reuses the sort.
  *
  * 100 TB posture: events is the skewed table (zipf-ish user_id); the
  * per-user windows rely on AQE skew handling (OptimizeSkewedJoin's
  * hot-partition split is plan-asserted on a 95%-one-key fixture in
  * ScaleSpec), and the hour/type rollup is a plain two-phase hash
  * aggregate (map-side partials, one shuffle).
  */
object Events {
  import Recon.decSum

  /** Extract `$.k` from the JSON props column, aggregate per event type.
    * Uses the native [[graft.functions.JsonGetLong]] extractor:
    * `get_json_object` is a CodegenFallback that knocks the whole
    * scan→agg stage out of codegen and pays a Jackson parse per row —
    * on flat integer telemetry props the typed byte scanner is
    * equivalent (parity-tested in JsonGetLongSpec) and keeps the stage
    * fused. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        // no int32 narrowing: the scanner's contract is bare int64 or
        // NULL, and an ANSI long->int cast would THROW on a large value
        // where the oracle's TRY_CAST yields NULL
        sum(graft.functions.JsonGetLong.jsonGetLong(col("props"), "k"))
          .as("sk"))
      .orderBy("event_type")

  /** `from_json`/StructType surface — the typed half of the
    * semi-structured contract ([[jsonExtract]] covers the scalar-path
    * half): parse `events.props` into typed structs and flatten. The
    * per-field semantics are PINNED empirically (Spark 4.1.2
    * PERMISSIVE, probed against every planted fuzz class) and the
    * oracle reproduces them with the JsonGetLong contract generalized:
    * a LongType field is the bare in-range int64 or NULL (string "42",
    * 3.7, 1.0, true, null, absent key and out-of-range ints are ALL
    * NULL — oracle twin `json_type IN ('BIGINT','UBIGINT')` +
    * `TRY_CAST`); a StringType field is the raw JSON token text (69 →
    * '69', 3.7 → '3.7', true → 'true' — `json_extract_string`);
    * `unparsed` reports blank input only (`props IS NULL OR
    * trim(props) = ''`, pinned), and since round 18 every FIELD
    * additionally requires whole-document validity: from_json runs
    * behind [[graft.functions.JsonValid]] (the DuckDB-parity
    * validator), because Jackson-PERMISSIVE parses a valid prefix +
    * garbage tail ('{"k":5}x' → k=5) that the twin's `json_valid`
    * field gates reject — caught when fuzz02 planted the
    * malformed-tail matrix. Known oracle boundaries of the from_json
    * SURFACE, documented not planted (round-18 review; none is
    * expressible as a SQL gate, and none is reachable from any
    * corpus writer here — make_corpora.py carries the matching
    * planting discipline): (a) LENIENT-ONLY documents — shapes
    * DuckDB's yyjson accepts but Jackson's grammar rejects (trailing
    * commas '{"k":5,}', bare inf/nan literals) pass the gate yet
    * yield a struct of NULLs on Spark where the twin extracts a
    * value; the scalar [[jsonExtract]]/[[jsonPropsAudit]] path does
    * NOT share this boundary (JsonGetLong's own parser mirrors the
    * lenient grammar — battery-pinned, '{"k":5,}' → 5 on both
    * engines); (b) DUPLICATE top-level keys — from_json is
    * last-wins, DuckDB's `$.k` path (and JsonGetLong) first-wins;
    * (c) Spark returns a number's RAW spelling where DuckDB
    * re-renders canonically, so non-canonical JSON number text (1.50,
    * 1e2) under a StringType field is outside the oracle contract —
    * as is any integer past uint64 (DuckDB types it DOUBLE and
    * re-renders even through raw json_extract; probed when the
    * rebuilt fuzz02 planted one — its overflow row now stays inside
    * uint64, where DuckDB's UBIGINT rendering IS the raw digits).
    *
    * 100 TB posture: pure row-local projection over the scan (two
    * Jackson parses per row — from_json is the surface under test;
    * the hot-path extractor remains [[graft.functions.JsonGetLong]]);
    * output is TakeOrdered-bounded. */
  def jsonStructExtract(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val longSchema = StructType(Seq(
      StructField("k", LongType), StructField("notk", LongType)))
    val rawSchema = StructType(Seq(StructField("k", StringType)))
    // round 18: from_json parses only documents that pass the strict
    // DuckDB-parity validator — Jackson-PERMISSIVE accepts a valid
    // prefix + garbage tail ('{"k":5}x' → k=5) where the twin's
    // json_valid gate rejects, the one shape the planted fuzz02
    // matrix caught when the malformed-tail rows landed; `unparsed`
    // keeps its pinned blank-only meaning (a malformed-but-non-blank
    // record reports unparsed=false with all fields NULL, matching
    // the oracle's blank test + json_valid field gates)
    val ok = graft.functions.JsonGetLong.jsonValidStrict(col("props"))
    Tables.events(spark, dir)
      // materialize the gated column ONCE so the validator subtree
      // cannot run twice per row if codegen subexpression elimination
      // declines to dedupe across the projection (round-18 advice)
      .select(col("event_id"), col("props"),
        when(ok, col("props")).as("vp"))
      .select(col("event_id"),
        (col("props").isNull || trim(col("props")) === "").as("unparsed"),
        from_json(col("vp"), longSchema).as("p"),
        from_json(col("vp"), rawSchema).as("pr"))
      .select(col("event_id"),
        col("unparsed"),
        col("p.k").as("k_long"),
        col("p.notk").as("notk_long"),
        col("pr.k").as("k_raw"))
      .orderBy("event_id").limit(1000)
  }

  /** Semi-structured data-quality audit per event type — the
    * ingestion-health report over [[jsonExtract]]'s column: what share
    * of each type's `props` payloads is blank (NULL or
    * whitespace-only), what share yields the typed `$.k` int64 the
    * pipeline consumes, and what share is anything else (malformed
    * JSON, missing key, non-int value, out-of-range int — the classes
    * the pinned JsonGetLong contract maps to NULL). A type whose
    * usable share drifts down is a producer regression caught before
    * any downstream aggregate silently loses rows.
    *
    * The three classes are blank / yields-int64 / everything-else,
    * each decidable identically on both engines: blank is a trim
    * test; yields-int64 is the JsonGetLong contract, oracle twin
    * `json_valid` + `json_type IN ('BIGINT','UBIGINT')` + `TRY_CAST`.
    * Round 18 closed the last boundary between them: the scanner now
    * validates WHOLE-DOCUMENT JSON (JsonScan.validJson, matched
    * byte-for-byte to DuckDB 1.0.0's yyjson semantics over a 103-shape
    * probed battery in JsonGetLongSpec), so a valid-prefix/
    * malformed-tail document ('{"k":5' truncated, '{"k":5}x' garbage
    * tail, '{"k":5,"j":tru}' bad later member) is NULL on both
    * engines — previously the prefix scan yielded 5 where json_valid
    * rejected, a documented-not-planted divergence; fuzz02 now plants
    * all three shapes. Shares present through
    * [[graft.ops.Recon.ratioRound]]; k aggregates are exact longs
    * over the usable rows.
    *
    * 100 TB posture: one row-local classification projection over the
    * scan (the native byte scanner keeps the stage in codegen), one
    * type-keyed map-combined aggregate; output rows = event types. */
  def jsonPropsAudit(spark: SparkSession, dir: String): DataFrame = {
    val blank = col("props").isNull || trim(col("props")) === ""
    val kv = graft.functions.JsonGetLong.jsonGetLong(col("props"), "k")
    Tables.events(spark, dir)
      .select(col("event_type"),
        when(blank, 1L).otherwise(0L).as("b"),
        when(!blank && kv.isNotNull, 1L).otherwise(0L).as("i"),
        kv.as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("b")).as("n_blank"),
        sum(col("i")).as("n_int_k"),
        (count(lit(1)) - sum(col("b")) - sum(col("i"))).as("n_other"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .select(col("event_type"), col("n"), col("n_blank"), col("n_int_k"),
        col("n_other"),
        graft.ops.Recon.ratioRound(col("n_int_k"), col("n"), 6)
          .as("int_share"),
        graft.ops.Recon.ratioRound(col("n_blank"), col("n"), 6)
          .as("blank_share"),
        col("k_sum"), col("k_min"), col("k_max"))
      .orderBy("event_type")
  }

  /** Tumbling 1-hour window: per-hour, per-type count/sum. */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("v"))
      .orderBy("h", "event_type")
      .limit(200)

  /** 30-minute-gap sessionization: lag → break flag → running sum = session
    * id → per-session aggregates. Gap test is in exact microseconds. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(gapUs.isNull || gapUs > 1800000000L, 1).otherwise(0).as("brk"))
      .select(col("user_id"), col("ts"),
        sum(col("brk")).over(byUser).cast("int").as("sid"))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n"),
        date_trunc("second", min(col("ts"))).as("t0"),
        date_trunc("second", max(col("ts"))).as("t1"))
      .orderBy("user_id", "sid")
      .limit(200)
  }

  /** Native `session_window` sessionization — the same 30-minute-gap
    * semantics as [[sessionize]] but through Spark's dedicated session
    * operator (`UpdatingSessionsExec` + merging hash agg) instead of the
    * lag/sum window chain: sessions per group build and MERGE inside the
    * aggregate, which is the formulation that carries over verbatim to
    * Structured Streaming (state-store session merge across batches —
    * [[graft.streaming.StreamingOps.sessionCounts]] is this exact query
    * with a watermark). Window ends are last-event + gap by definition;
    * both engines' outputs truncate to whole seconds for the compare. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(date_trunc("second", col("session_window.start")).as("ss"),
        date_trunc("second", col("session_window.end")).as("se"),
        col("user_id"), col("n"))
      .orderBy("user_id", "ss").limit(200)

  /** Top session journeys: the first ≤3 event types of each 30-min-gap
    * session, joined into a path string, counted corpus-wide. Composes
    * [[sessionize]]'s break-flag derivation, then assembles each path
    * ROW-LOCALLY at the session's first event: within a user the events
    * are already in session-then-time order, so the session's 2nd and
    * 3rd types are just `lead(event_type, 1..2)` gated on the led rows
    * not starting a new session (`lead(brk) = 0`; a partition-end lead
    * is null and drops out the same way). `concat_ws` skips the nulls,
    * so short sessions produce short paths — identical strings to the
    * round-11 collect_list/array_sort form, without its per-session
    * ObjectHashAggregate (structs buffered + sorted per session, the
    * op's dominant cost at 0.62 s isolated; this form measures 0.41 s,
    * same JVM). Scale shape: ONE shuffle of the events stream — every
    * window shares the (user_id | ts, event_id) spec, so lag and the
    * leads pipeline inside one exchange + sort — then the only agg is
    * the path count over a |sessions|-row frame, finished by
    * TakeOrderedAndProject top-20. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(gapUs.isNull || gapUs > 1800000000L, 1).otherwise(0).as("brk"))
      .select(col("event_type"), col("brk"),
        lead(col("event_type"), 1).over(byUser).as("t1"),
        lead(col("brk"), 1).over(byUser).as("b1"),
        lead(col("event_type"), 2).over(byUser).as("t2"),
        lead(col("brk"), 2).over(byUser).as("b2"))
      .filter(col("brk") === 1)
      // 3rd leg needs BOTH led rows in-session: sessions are contiguous,
      // so b1=0 && b2=0 ⟺ the next two rows extend this session
      .select(concat_ws(">", col("event_type"),
        when(col("b1") === 0, col("t1")),
        when(col("b1") === 0 && col("b2") === 0, col("t2"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)
  }

  /** Inter-event dwell time: per event type, the mean and max seconds
    * until the SAME user's next event (any type) — the engagement-gap
    * profile. lead() over the per-user timeline (one shuffle, one sort —
    * the sessionize discipline), then a plain hash agg over (type, gap).
    * Cross-engine determinism: both sides floor timestamps to whole
    * seconds before differencing (unix_timestamp here, date_diff
    * 'second' there), the gap sum is an exact BIGINT, and the mean is
    * one double division of identical operands. */
  def dwellTime(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapS = unix_timestamp(lead(col("ts"), 1).over(byUser)) -
      unix_timestamp(col("ts"))
    Tables.events(spark, dir)
      .select(col("event_type"), gapS.as("gap"))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Recon.ratioRound(sum(col("gap")), count(lit(1)), 4).as("avg_gap_s"),
        max(col("gap")).as("max_gap_s"))
      .orderBy("event_type")
  }

  /** LOCF gap-fill (last observation carried forward) — the time-series
    * repair for sparse readings: each null value takes the user's most
    * recent non-null one. `last(ignoreNulls).over(rows unbounded
    * preceding..current)` is the canonical Spark form — one shuffle on
    * user_id, one sort, O(1) carried state per row; the demo nulls are
    * seeded deterministically (event_id % 3) so both engines fill the
    * same holes. Leading nulls (no prior observation) stay null — part
    * of the LOCF contract, not an artifact. */
  def locfFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")).as("vn"))
      .select(col("event_id"), col("user_id"), col("vn"),
        last(col("vn"), ignoreNulls = true).over(w).as("locf"))
      .orderBy("event_id").limit(500)
  }

  /** Sliding window (1 h every 15 min) — overlap semantics; oracled
    * round 8 via an epoch-aligned 15-min DuckDB grid joined on
    * containment (SURVEY §2.8). */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("v"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("v"))
      .orderBy("ws", "event_type")

  /** Ordered funnel conversion — the product-analytics staple: how many
    * users progressed view → click → purchase IN THAT ORDER? A user
    * counts for stage k+1 only with an event STRICTLY after their stage-k
    * instant (same-instant and out-of-order events do not convert), so
    * `purchase` before any post-view `click` correctly does not count.
    *
    * Implementation is stage-wise min-timestamps: t1 = first view per
    * user; t2 = first click after t1; t3 = first purchase after t2. Three
    * filtered aggregates joined on `user_id` — every shuffle hashes the
    * same key, so the exchanges align, and each stage's frame shrinks
    * monotonically (the classic funnel property). No window, no
    * per-user event sorting: at 100 TB the sort-based formulation pays a
    * full ordered shuffle of the events table; this one moves only
    * (user, min-ts) pairs after the first map-side combine. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "ts", "event_type")
    def first(typ: String, after: Option[DataFrame], tcol: String): DataFrame = {
      val base = ev.filter(col("event_type") === typ)
      val scoped = after match {
        case Some(prev) => base.join(prev, "user_id")
          .filter(col("ts") > col(prev.columns.last))
        case None => base
      }
      scoped.groupBy("user_id").agg(min(col("ts")).as(tcol))
    }
    val t1 = first("view", None, "t1")
    val t2 = first("click", Some(t1), "t2")
    val t3 = first("purchase", Some(t2), "t3")
    def stage(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
    stage("1_view", t1)
      .unionByName(stage("2_click_after_view", t2))
      .unionByName(stage("3_purchase_after_click", t3))
      .orderBy("stage")
  }

  /** Time-to-convert through the strict view→click→purchase funnel —
    * the metric the funnel COUNTS hide: among fully-converted users, how
    * long did the journey take? Reuses [[funnelConversion]]'s staged
    * first-event frames (per-user min aggregates, user-keyed exchanges,
    * each stage frame ≤ |users| rows), takes purchase−view in exact
    * integer microseconds per converted user, and aggregates to one
    * row: only the final presentation divisions are float (the
    * event_gap_stats discipline). */
  def funnelTimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "ts", "event_type")
    def first(typ: String, after: Option[DataFrame], tcol: String): DataFrame = {
      val base = ev.filter(col("event_type") === typ)
      val scoped = after match {
        case Some(prev) => base.join(prev, "user_id")
          .filter(col("ts") > col(prev.columns.last))
        case None => base
      }
      scoped.groupBy("user_id").agg(min(col("ts")).as(tcol))
    }
    val t1 = first("view", None, "t1")
    val t3 = first("purchase", Some(first("click", Some(t1), "t2")), "t3")
    t3.join(t1, "user_id")
      .select((unix_micros(col("t3")) - unix_micros(col("t1"))).as("us"))
      .agg(count(lit(1)).as("n_converted"), sum(col("us")).as("sm"),
        min(col("us")).as("mn_us"), max(col("us")).as("mx_us"))
      // mean rounds half-away in exact 128-bit integer arithmetic —
      // sm/(n·1e6) can land dyadic-exact on a 3-dp tie (62500 µs/1e6 =
      // 0.0625), the supplier_scorecard HALF_UP-vs-half-even class;
      // min/max have exactly 6 decimal digits, so their 6-dp rounds
      // have no tie digit and keep the double spelling
      .select(col("n_converted"),
        Recon.ratioRound(col("sm"), Recon.micro(col("n_converted")), 3)
          .as("avg_s"),
        round(col("mn_us") / lit(1000000.0), 6).as("mn_s"),
        round(col("mx_us") / lit(1000000.0), 6).as("mx_s"))
  }

  /** Daily event-type mix — the composition-drift monitor: each day's
    * share of traffic per event type. A pipeline whose click share
    * doubles overnight has a tracking bug long before any volume alarm
    * fires. Counts per (day, type) collapse map-side (two-phase hash
    * agg); the per-day totals come from a second tiny agg over the
    * CELL frame (never the stream) joined back cell-to-day; shares
    * divide exact integer counts, 6-dp round (`Events.eventMixDaily`). */
  def eventMixDaily(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("d").agg(sum("n").as("day_n"))
    cells.join(totals, "d")
      .select(col("d"), col("event_type"), col("n"),
        Recon.ratioRound(col("n"), col("day_n"), 6).as("pct"))
      .orderBy("d", "event_type")
  }

  /** Seeded static reference mix for the mix-drift parity pair — the
    * "trusted period" composition a production monitor computes offline.
    * `error` is DELIBERATELY absent: its ~20% live share lands in the
    * streaming op's novel-type `other` bucket (reference share = the
    * 1e-6 clamp floor), so the demo exercises the composition-drift
    * signature the round-11 fix was for and every window's PSI trips the
    * 0.2 alert threshold. */
  private[graft] val referenceMix: Map[String, Double] = Map(
    "click" -> 0.28, "purchase" -> 0.22, "signup" -> 0.20, "view" -> 0.30)

  /** Batch-parity anchor for the STREAMING composition-drift monitor —
    * runs [[graft.streaming.StreamingOps.streamingMixDrift]]'s LITERAL
    * code path (same function: watermark is a no-op under the batch
    * planner, the day-window groupBy and the clamped PSI expression are
    * mode-independent) over the events table with [[referenceMix]], so
    * the driver's DuckDB oracle grounds the exact per-window PSI
    * arithmetic the streaming twin ships; StreamingSpec asserts a
    * MemoryStream run over the same rows emits identical windows (the
    * `recon_stream_hash_diff` recipe). Day windows are epoch-aligned on
    * both engines (UTC session, `time_bucket` oracle). 30-row answer →
    * plain orderBy is fine, but keep the single-partition discipline. */
  def mixDriftParity(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.streamingMixDrift(
        Tables.events(spark, dir), referenceMix)
      .repartition(1).sortWithinPartitions("window_start")

  /** Batch-parity anchor for the STREAM-STREAM interval-join twin —
    * runs [[graft.streaming.StreamingOps.attributeClicks]]'s LITERAL
    * code path (watermarks are batch no-ops; the event-time range in
    * the join condition is mode-independent) over the events table's
    * view/click streams, so the driver's DuckDB oracle grounds the
    * attribution semantics — every (view, click) pair of the same user
    * with the click ≤ 30 min after the view, plus the floor-seconds
    * latency — and the StreamingSpec parity test asserts the
    * two-MemoryStream execution emits identical pairs (the
    * `recon_stream_hash_diff` recipe). In batch the range+equality
    * condition plans as a hash join on user_id with the range as a
    * post-filter: per-user pair volume is bounded by the horizon, the
    * same property that bounds the streaming state store. */
  def clickAttributionParity(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    graft.streaming.StreamingOps.attributeClicks(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"))
      .repartition(1).sortWithinPartitions("user_id", "view_ts", "click_ts")
  }

  /** Seeded at-least-once feed for the streaming-dedup batch-parity
    * anchor: every event with event_id ≡ 0 (mod 10) re-emitted VERBATIM
    * — the redelivery shape an ingest dedup exists to absorb. Copies
    * are bit-identical on purpose: which duplicate `dropDuplicates`
    * keeps is arbitrary, so only an identical-copy feed gives the
    * mode- and order-independent answer both the oracle and the
    * MemoryStream parity spec pin (EventsSpec independently recounts
    * that the echo introduces no new content). */
  private[graft] def dedupFeedEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.unionByName(e.filter(col("event_id") % 10 === 0))
  }

  /** Batch-parity anchor for the STREAMING exact-dedup twin — runs the
    * literal `dropDuplicates(id)` core of
    * [[graft.streaming.StreamingOps.dedupStream]] (the state-store
    * keep-first and the batch keep-any agree whenever duplicates are
    * verbatim copies, which [[dedupFeedEvents]] guarantees) over the
    * seeded feed, then summarizes per type: rows fed, rows kept, dupes
    * dropped, distinct users and the exact micro-unit value sum — a
    * lost duplicate moves n_kept, a DROPPED ORIGINAL moves n_users or
    * value_sum. The driver's DuckDB oracle grounds the dedup contract;
    * the StreamingSpec parity test drives the same feed through
    * MemoryStream + `dropDuplicatesWithinWatermark` split across
    * micro-batches (the `recon_stream_hash_diff` recipe) and asserts
    * the identical kept set — the watermark half that has no batch
    * meaning stays spec-verified (SURVEY §2.8 late-data exception).
    *
    * Data contract: base event_id uniqueness is the corpus PK contract
    * (audited by `recon_pk_uniqueness`). A corpus with duplicate base
    * ids carrying DIFFERENT payloads makes keep-any-per-id
    * nondeterministic in ANY engine — there is no oracle-able answer,
    * which is exactly why the feed's duplicates are verbatim copies.
    *
    * 100 TB posture: dedup is ONE id-keyed exchange (exactly the
    * shuffle the streaming state store pays), planned as a partial+
    * final SortAggregate pair — the string carry columns exclude a
    * mutable hash buffer, and the sort is per-partition, never global;
    * both summaries are map-side-combined type-keyed aggs, and the
    * fed-side frame joins back broadcast because it is types-sized BY
    * CONSTRUCTION. */
  def dedupStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val feed = dedupFeedEvents(spark, dir)
    val fed = feed.groupBy("event_type").agg(count(lit(1)).as("n_fed"))
    feed.dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("vm"))
      .join(broadcast(fed), Seq("event_type"))
      .select(col("event_type"), col("n_fed"), col("n_kept"),
        (col("n_fed") - col("n_kept")).as("n_dupes"), col("n_users"),
        (round(col("vm").cast("double") / 1e6, 6) + 0).as("value_sum"))
      .orderBy("event_type")
  }

  /** Event-time WATERMARK/late-data anchor — the batch-parity twin
    * that pins the DROP half of
    * [[graft.streaming.StreamingOps.tumblingCounts]] to a DuckDB
    * oracle (the [[dedupStreamParity]] recipe, late-data edition). The
    * seeded feed arrives in two deterministic micro-batches: batch 0 =
    * the base stream, batch 1 = "straggler" echoes of every
    * event_id % 17 row with event time shifted 2 DAYS back — far past
    * the 1-hour watermark the stream holds after batch 0, so watermark
    * semantics (drop iff event time < max-seen − delay, evaluated at
    * the row's ARRIVAL batch) are modeled exactly in batch: cutoff =
    * max(base ts) − 1 h from a 1-row broadcast, and a fed row drops
    * iff it is an echo AND ts < cutoff. By construction every echo
    * satisfies ts ≤ max − 2 d < max − 1 h, so the drop RULE (which the
    * op computes — not the echo flag) must discard all of them; a
    * single late row leaking through moves n_kept, value_sum or
    * n_windows. The streaming half that batch cannot express — state
    * eviction + numRowsDroppedByWatermark on a real micro-batch feed —
    * is pinned by StreamingSpec's MemoryStream parity test (SURVEY
    * §2.8 late-data exception, now anchored from both sides).
    *
    * Exactness: counts exact; kept-value sum in 6-dp micro-longs with
    * a NULL guard; the distinct kept 1-hour windows are exact
    * truncations; one long→double presentation division.
    *
    * 100 TB posture: one map-combined type-keyed aggregate over the
    * union (the echo branch reuses the scan); the cutoff is a 1-row
    * broadcast; output is types-sized. */
  def lateDataParity(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("value"), lit(0).as("lt"))
    val late = Tables.events(spark, dir)
      .filter(col("event_id") % 17 === 0)
      .select(col("event_type"),
        (col("ts") - expr("INTERVAL 2 DAYS")).as("ts"), col("value"),
        lit(1).as("lt"))
    val cutoff = Tables.events(spark, dir)
      .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("cutoff"))
    val dropped = col("lt") === 1 && col("ts") < col("cutoff")
    base.unionByName(late).crossJoin(broadcast(cutoff))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_fed"),
        sum(when(dropped, 1L).otherwise(0L)).as("n_late_dropped"),
        sum(when(!dropped, 1L).otherwise(0L)).as("n_kept"),
        sum(when(!dropped && col("value").isNotNull,
          round(round(col("value"), 6) * 1e6, 0).cast("long"))).as("vm"),
        countDistinct(when(!dropped, date_trunc("hour", col("ts"))))
          .as("n_windows"))
      .select(col("event_type"), col("n_fed"), col("n_late_dropped"),
        col("n_kept"), (col("vm").cast("double") / 1e6).as("value_sum"),
        col("n_windows"))
      .orderBy("event_type")
  }

  /** Cohort retention — the product-analytics companion to the funnel:
    * users grouped by the month of their FIRST event (the cohort), then
    * for each cohort × months-since-first, how many of its users were
    * active that month. Reads as the classic retention triangle
    * (months_since = 0 row is the cohort size).
    *
    * One distinct over (user, month) shrinks the event stream to at most
    * |users|×|months| rows before anything else happens; the per-user
    * cohort month then comes from a groupBy on the SAME user_id key, so
    * the self-join of activity months to cohort months aligns exchanges;
    * the final rollup is a small two-phase hash agg. Nothing after the
    * first distinct is proportional to event volume — the 100 TB shape.
    * Month arithmetic is `months_between` on month-truncated instants
    * (both sides day 1, 00:00), where Spark's fractional definition and
    * DuckDB's boundary-crossing `datediff` provably agree on integers —
    * the dialect trap that rules out raw-timestamp datediff (§7.4). */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val userMonths = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("month", col("ts")).as("m"))
      .distinct()
    val cohorts = userMonths.groupBy("user_id").agg(min(col("m")).as("cm"))
    userMonths.join(cohorts, "user_id")
      .groupBy(col("cm").as("cohort_month"),
        months_between(col("m"), col("cm")).cast("int").as("months_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_month", "months_since")
  }

  /** Event-type transition matrix — the Markov-chain view of the stream
    * (what users do NEXT after each action): per user, each event paired
    * with that user's next event by time, counted per (from, to) type.
    * Powers funnel discovery, anomaly triage ("error → error" spikes),
    * and next-action models.
    *
    * One `lead` window over (user_id; ts, event_id) — a single shuffle
    * hashing user_id, the same exchange family the sessionizer uses, and
    * the output collapses to |types|² rows in a small two-phase hash agg.
    * Ordering ties break on the unique event_id, so the pairing is
    * deterministic and engine-independent (same discipline as
    * [[sessionize]]). At 100 TB the skewed user key rides AQE skew
    * splitting, asserted once in ScaleSpec for this plan family. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(byUser).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Daily resample with gap fill — the time-series staple every metrics
    * pipeline needs: high-value events per (day, type) over a FIXED
    * calendar grid, absent cells emitted as explicit zeros (a downstream
    * chart/alert treats "no row" and "zero events" very differently).
    *
    * The dense grid comes from `sequence()` + `explode` — a generator,
    * not a table scan — crossed with the distinct types: |days|×|types|
    * rows, trivially broadcast. The fact stream collapses to per-cell
    * partials BEFORE the join (two-phase hash agg), so at 100 TB the
    * left join is grid-sized vs cell-count-sized — never row-sized.
    * The filter threshold rides the parquet scan as a pushed predicate. */
  def resampleDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val counts = ev.filter(col("value") > 200)
      .groupBy(to_date(col("ts")).as("d"), col("event_type").as("et"))
      .agg(count(lit(1)).as("cnt"), decSum(col("value")).as("vsum"))
    val days = spark.range(1).select(explode(sequence(
      lit("2024-01-01").cast("date"), lit("2024-01-30").cast("date"))).as("dy"))
    days.crossJoin(ev.select(col("event_type")).distinct())
      .join(counts, col("dy") === col("d") && col("event_type") === col("et"), "left")
      .select(col("dy"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("n"),
        coalesce(col("vsum"), lit(0.0)).as("sv"))
      .orderBy("dy", "event_type")
  }

  /** Inter-event gap distribution per event type — the cadence profile
    * behind heartbeat monitoring and engagement scoring: for consecutive
    * events of the same (user, type), how long between them?
    *
    * One `lag` window over (user_id, event_type; ts, event_id) — the
    * same single user-keyed exchange family as [[sessionize]] and
    * [[eventTransitions]] — then a |types|-row two-phase hash agg. Gaps
    * are computed in exact integer microseconds (`unix_micros` longs);
    * the only float arithmetic is the final presentation division of an
    * exactly-summed long, so both engines derive bit-identical doubles
    * (the same discipline as decSum). Ordering ties break on the unique
    * event_id, so gap attribution is deterministic. */
  def eventGapStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .as("gap_us"))
      .where(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sm"),
        min(col("gap_us")).as("mn_us"), max(col("gap_us")).as("mx_us"))
      // exact-integer half-away mean — the supplier_scorecard /2^k tie
      // class reaches through the /1e6 chain (see funnelTimeToConvert)
      .select(col("event_type"), col("n_gaps"),
        Recon.ratioRound(col("sm"), Recon.micro(col("n_gaps")), 3)
          .as("avg_gap_s"),
        round(col("mn_us") / lit(1000000.0), 6).as("mn_gap_s"),
        round(col("mx_us") / lit(1000000.0), 6).as("mx_gap_s"))
      .orderBy("event_type")
  }

  /** PERCENTILE_DISC p50/p90/p99 of `value` per event type — the
    * latency-percentile report shape every SLO dashboard runs, here as
    * discrete quantiles (actual data values, so no interpolation
    * arithmetic to diverge between engines). Ranks stay in EXACT
    * integer arithmetic — ceil(q·n) as `(p·n + 99) div 100` — because
    * the float spelling `ceil(0.9 * n)` overshoots by one whenever the
    * product lands an ulp above a true integer (0.9·20000 =
    * 18000.000000000004 in binary). Selection is
    * [[graft.ops.Selection.valueAtRanks]] (bucket-then-refine), so
    * nothing row-count-sized is sorted or buffered at any scale; the
    * ranks frame is built in-plan from the counts — no driver action.
    * NULL `value` rows are dropped BEFORE counting (and `n` reports the
    * non-null count): quantile_disc ignores NULLs, so ranking over
    * count(*) would aim ceil(q·n) at the wrong index the moment the
    * column ships a NULL (round-11 advice).
    *
    * Size-gated dispatch (the [[graft.ops.Relational.quantileSummary]]
    * discipline): below [[graft.ops.Relational.SinglePassBytes]] of
    * on-disk parquet the whole report is ONE `percentile_disc WITHIN
    * GROUP` aggregate pass — per-group value buffering is exactly right
    * when the table fits a reconciliation window, and it collapses 3
    * jobs to 1 (measured sf0.1 same-JVM: 0.91 s 3-pass → see scaladoc
    * of [[valuePercentilesSmall]]). Above the gate, the bounded-state
    * selection plan — at 100 TB nothing row-count-sized may buffer. */
  def valuePercentilesByType(spark: SparkSession, dir: String): DataFrame =
    if (Tables.tableBytes(spark, dir, "events") <= Relational.SinglePassBytes)
      valuePercentilesSmall(spark, dir)
    else valuePercentilesSelection(spark, dir)

  /** Single-pass small-input form: one scan, three `percentile_disc`
    * aggregates holding each group's values in the agg buffer — the
    * buffering is bounded by the size gate, never hit at scale. */
  private[graft] def valuePercentilesSmall(spark: SparkSession,
                                           dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("value").as("v"))
      .where(col("v").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY v)").as("p50"),
        expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY v)").as("p90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY v)").as("p99"))
      .orderBy("event_type")

  /** Bounded-state large-input form of [[valuePercentilesByType]]. */
  private[graft] def valuePercentilesSelection(spark: SparkSession,
                                               dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"), col("value").as("v"))
      .where(col("v").isNotNull)
    val counts = base.groupBy("event_type").agg(count(lit(1)).as("cnt"))
    val tagged = counts.select(col("event_type"), col("cnt"), explode(array(
        struct(lit("p50").as("tag"),
          expr("(50 * cnt + 99) div 100").as("rank")),
        struct(lit("p90").as("tag"),
          expr("(90 * cnt + 99) div 100").as("rank")),
        struct(lit("p99").as("tag"),
          expr("(99 * cnt + 99) div 100").as("rank")))).as("t"))
      .select(col("event_type"), col("cnt"), col("t.tag"), col("t.rank"))
    val vals = Selection.valueAtRanks(base, Seq("event_type"), "v",
      tagged.select(col("event_type"), col("rank")).distinct())
    tagged.join(vals, Seq("event_type", "rank"))
      .groupBy("event_type")
      .agg(max("cnt").as("n"),
        max(when(col("tag") === "p50", col("value"))).as("p50"),
        max(when(col("tag") === "p90", col("value"))).as("p90"),
        max(when(col("tag") === "p99", col("value"))).as("p99"))
      .orderBy("event_type")
  }


  /** Robust outlier screen per event type: median / MAD (median
    * absolute deviation) instead of mean / sd — the screen that stays
    * honest under heavy tails, where [[zscoreOutliers]]' moments are
    * themselves inflated by the very burst they should flag (one 1000×
    * spike moves the mean AND the sd, masking its siblings; it moves
    * the median not at all). A row is an outlier when its modified
    * z-score 0.6745·|v − med| / MAD exceeds 3.5 (the standard
    * Iglewicz–Hoaglin cut); a zero MAD (≥ half the values identical)
    * flags nothing — the robust score is undefined there, and the
    * spelling guards the division on both engines.
    *
    * Output is type-sized (n, median, MAD, n_outliers, max deviation)
    * — an alerting summary, not a row dump. Determinism: median and
    * MAD are DISCRETE order statistics (actual data values, the
    * `percentile_disc` convention — no interpolation arithmetic), the
    * deviation |v − med| is one exact double subtraction, and the
    * score compares with the identical left-to-right spelling on both
    * engines; max_dev is a max over exact doubles (no tie-break
    * needed).
    *
    * Size-gated like [[valuePercentilesByType]]: below the gate each
    * median is a one-pass `percentile_disc` aggregate; above it both
    * median passes run [[graft.ops.Selection.valueAtRanks]]
    * (bucket-then-refine, bounded state — the 100 TB branch). Two
    * medians = two selection passes by construction (MAD's rank
    * depends on the first median); each ends in a |types|-row frame
    * that broadcasts back onto the stream. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliersWith(spark, dir,
      selection = Tables.tableBytes(spark, dir, "events")
        > Relational.SinglePassBytes)

  /** Branch-forced form backing [[madOutliers]] — parity-spec'd
    * bit-identical across the gate. */
  private[graft] def madOutliersWith(spark: SparkSession, dir: String,
                                     selection: Boolean): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"), col("value").as("v"))
      .where(col("v").isNotNull)
    val med = medianByType(base, "v", "med", selection)
    val dev = base.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = medianByType(dev, "dev", "mad", selection)
    val score = col("dev") * lit(0.6745) / col("mad")
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("mad") > 0 && score > 3.5, 1L).otherwise(0L))
          .as("n_outliers"),
        max(col("dev")).as("max_dev"))
      .orderBy("event_type")
  }

  /** Per-type discrete median of `vcol` (rank ceil(n/2) in exact
    * integer arithmetic): the one-pass percentile_disc aggregate, or
    * the bounded-state selection plan when `selection` — the
    * [[valuePercentilesByType]] dispatch applied to a derived frame. */
  private def medianByType(frame: DataFrame, vcol: String, outName: String,
                           selection: Boolean): DataFrame =
    if (!selection)
      frame.groupBy("event_type")
        .agg(expr(s"percentile_disc(0.50) WITHIN GROUP (ORDER BY $vcol)")
          .as(outName))
    else {
      val ranks = frame.groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .select(col("event_type"), expr("(50 * cnt + 99) div 100").as("rank"))
      Selection.valueAtRanks(frame.select(col("event_type"), col(vcol)),
          Seq("event_type"), vcol, ranks)
        .select(col("event_type"), col("value").as(outName))
    }

  /** Trailing-7-day distinct active users per calendar day (plus the
    * same-day count) — the DAU/rolling-WAU staple of every growth
    * dashboard. The event stream collapses to the distinct (user, day)
    * frame FIRST (the cohort_retention discipline — |users|×|days|
    * rows, never the raw stream), then each activity row EXPLODES into
    * the ≤7 grid days it serves (`sequence(d, d+6)` — a row-local
    * generator, where the round-11 day-grid range join planned a
    * BroadcastNestedLoopJoin evaluating |grid| predicates per activity
    * row: A/B sf0.1 0.55 s BNLJ → 0.38 s explode). dau1 comes from its
    * own per-day single-distinct agg instead of a second
    * `countDistinct` on the exploded frame, so neither aggregate pays
    * the two-distinct Expand row-doubling. Both aggregate outputs are
    * day-grid-sized; the grid left-join keeps silent days as explicit
    * zero rows, the resample_daily convention. Nothing bigger than
    * |users|×|days|×7 exists anywhere in the plan.
    *
    * The day grid derives from min/max(day) IN-PLAN (a 1-row aggregate
    * exploded to the calendar span) rather than a hard-coded date
    * range: a constant grid plus a testdata regeneration with a
    * different event span would yield all-zero rows on BOTH engines and
    * hash-match vacuously (round-11 advice) — deriving the bounds from
    * the data keeps the op meaningful on any span, and the extra
    * aggregate collapses map-side to one row per partition. */
  def rollingDau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val bounds = ud.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val grid = bounds.select(explode(sequence(col("lo"), col("hi"))).as("dy"))
    val dau7 = ud.select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("dy"))
      .crossJoin(broadcast(bounds)).filter(col("dy") <= col("hi"))
      .groupBy("dy").agg(countDistinct(col("user_id")).as("c7"))
    val dau1 = ud.groupBy(col("d").as("dy"))
      .agg(countDistinct(col("user_id")).as("c1"))
    // grid and both agg outputs are day-grid-sized — no broadcast hint:
    // broadcast-left of a left join is unsupported (it would only warn)
    grid.join(dau7, Seq("dy"), "left").join(dau1, Seq("dy"), "left")
      .select(col("dy"), coalesce(col("c7"), lit(0L)).as("dau7"),
        coalesce(col("c1"), lit(0L)).as("dau1"))
      .orderBy("dy")
  }

  /** Burstiness per event type — is the cadence regular (heartbeat),
    * Poisson, or bursty? B = (σ−μ)/(σ+μ) over inter-event gaps: −1 for
    * a metronome, 0 for Poisson, →1 for heavy bursts. Gaps come from
    * the same (user, type) lag window as [[eventGapStats]], floored to
    * integer seconds; mean and variance derive from exact integer sums
    * of gap and gap² (the [[zscoreOutliers]] discipline — a streaming
    * `stddev_samp` would differ in summation order across engines), so
    * both engines compute identical doubles into the 4-dp round. One
    * window exchange + a |types|-row agg; constant state per type. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("event_type"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .as("gap_us"))
      .where(col("gap_us").isNotNull)
      // integer `div`, not `/` + cast: double division of a 2.6e12-µs gap
      // can land at x.99999 and truncate off-by-one
      .select(col("event_type"), expr("gap_us div 1000000").as("gap_s"))
    val mean = col("sm").cast("double") / col("n")
    val variance = (col("sq").cast("double") -
      col("sm").cast("double") * col("sm").cast("double") / col("n")) /
      (col("n") - 1)
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("sm"),
        sum(col("gap_s") * col("gap_s")).as("sq"))
      .select(col("event_type"), col("n").as("n_gaps"),
        // mean rounds in EXACT INTEGER arithmetic (Recon.ratioRound —
        // the supplier_scorecard tie class; the helper's DECIMAL(38,0)
        // keeps 2000·Σgap_s exact past the long range a 100 TB type's
        // second-sums would overflow); sd and burstiness pass through
        // sqrt, which leaves the dyadic lattice, so their rounds keep
        // the double spelling
        Recon.ratioRound(col("sm"), col("n"), 3).as("mean_gap_s"),
        round(sqrt(variance), 3).as("sd_gap_s"),
        round((sqrt(variance) - mean) / (sqrt(variance) + mean), 4)
          .as("burstiness"))
      .orderBy("event_type")
  }

  /** Activity heatmap — the (ISO weekday × hour) grid behind every
    * "when are users active" dashboard: event count, distinct users and
    * exact value sum per cell. One two-phase hash agg straight off the
    * scan (the distinct count expands to the standard partial-distinct
    * plan); the output is calendar-sized (≤ 7×24 rows) at any input
    * scale. ISO weekday (Mon=1) because both engines can derive it
    * without locale assumptions (`weekday()+1` ↔ `isodow()`). The one
    * input-scaled intermediate is the exact distinct's (cell, user)
    * pair stream — at billions of users swap `countDistinct` for the
    * mergeable sketch [[approxDistinctHll]] uses; the cells stay the
    * same. */
  def hourlyHeatmap(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy((weekday(col("ts")) + 1).as("dow"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        decSum(col("value")).as("v_sum"))
      .orderBy("dow", "hr")

  /** Per-type z-score outliers — the anomaly screen over a metric stream:
    * events whose value sits more than 3 standard deviations from their
    * type's mean. The mean/variance come from EXACT decimal sums of value
    * and value² (one two-phase hash agg, constant state per type), so
    * both engines derive bit-identical doubles and the |z| > 3 boundary
    * classifies identically — a running `stddev_samp` would differ in
    * summation order across engines and flip borderline rows.
    *
    * The 5-row stats frame broadcasts back onto the stream; the outlier
    * filter is then a row-local codegen'd predicate — one scan for stats,
    * one for the screen, nothing row-sized ever shuffles. */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    zscoreScreen(ev, valueStats(ev)).orderBy("event_id")
  }

  /** Batch-parity anchor for the STREAMING z-score twin — calls
    * [[graft.streaming.StreamingOps.streamingZscore]] by name (it
    * delegates to [[zscoreScreen]] verbatim — same function object, the
    * stateless-by-construction design), so the registry chains the
    * streaming entry point itself to the DuckDB oracle rather than
    * leaving the link implicit in [[zscoreOutliers]]'s shared helper;
    * the StreamingSpec parity test drives the same events through
    * MemoryStream and asserts identical outliers. */
  def streamingZscoreParity(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    graft.streaming.StreamingOps.streamingZscore(ev, valueStats(ev))
      .orderBy("event_id")
  }

  /** Per-type (mean, sd) of `value` from exact decimal moment sums —
    * the reference-stats half of the z-score screen, reusable against a
    * live stream (see `StreamingOps.streamingZscore`). */
  def valueStats(events: DataFrame): DataFrame =
    events.groupBy(col("event_type").as("et"))
      .agg(decSum(col("value")).as("sm"),
        decSum(col("value") * col("value")).as("sq"),
        count(lit(1)).as("cnt"))
      .select(col("et"), (col("sm") / col("cnt")).as("mean"),
        sqrt((col("sq") - col("sm") * col("sm") / col("cnt")) / (col("cnt") - lit(1)))
          .as("sd"))

  /** The screen half: rows more than `threshold` standard deviations
    * from their type's mean, given a (et, mean, sd) stats frame. The
    * stats broadcast; the predicate is row-local and codegen'd, so the
    * screen is stateless — it runs identically over a batch frame or an
    * unbounded stream. */
  def zscoreScreen(events: DataFrame, stats: DataFrame,
                   threshold: Double = 3.0): DataFrame =
    events.join(broadcast(stats), col("event_type") === col("et"))
      .where(abs((col("value") - col("mean")) / col("sd")) > threshold)
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - col("mean")) / col("sd"), 4).as("z"))

  /** HyperLogLog distinct users per type, calibrated against the exact
    * count in the same pass. Oracled since round 12 by its CONTRACT (the
    * quantile_summary_approx precedent): the exact distinct count is
    * engine-independent and `hll_ok` asserts the sketch landed within
    * 3×rsd (6%) of it — DuckDB emits the exact count and `true`, so a
    * sketch drifting out of bound hash-mismatches. The estimate itself is
    * Spark's HLL++ with fixed hashing — deterministic per dataset, so
    * this is a stable assertion, not a flaky statistical test; at small
    * cardinalities HLL++'s sparse mode is exact. At 100 TB the exact
    * countDistinct side is the one you'd drop: the sketch is the
    * mergeable, constant-state scale path. */
  def approxDistinctHll(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // one (type, user) pre-distinct instead of countDistinct+HLL in a
      // single agg: the combined form plans an Expand that doubles the
      // shuffled rows (0.94 s → 0.28 s at sf0.1, same-JVM A/B). The HLL
      // registers are insert-idempotent, so sketching the distinct pair
      // stream yields the identical estimate to sketching the raw one.
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(1L), round(col("exact_users") * lit(0.06)).cast("long")))
          .as("hll_ok"))
      .orderBy("event_type")

  /** ROWS-frame window battery over the daily rollup: centered 5-day
    * moving average, trailing 7-day sum, centered 3-day min — the
    * physical-row frame type rangeFrameWindow's VALUE frame doesn't
    * touch. The window runs over the DAY-sized aggregate (the raw
    * event stream collapses first), so the unpartitioned sort is
    * calendar-sized, never data-sized. */
  def rowsFrameWindow(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(col("ts").cast("date").as("d_day"))
      .agg(count(lit(1)).as("n"), Recon.decSum(col("value")).as("v"))
    // lit(0) partition key: the frame is the calendar-day grid
    // (answer-sized), and naming a partition silences the WindowExec
    // single-partition warning that otherwise buries real ones
    val w = Window.partitionBy(lit(0)).orderBy("d_day")
    d.select(col("d_day"), col("n"), col("v"),
        round(avg("v").over(w.rowsBetween(-2, 2)), 4).as("ma5"),
        sum("n").over(w.rowsBetween(-6, 0)).as("wk_n"),
        round(min("v").over(w.rowsBetween(-1, 1)), 4).as("mn3"))
      .orderBy("d_day")
  }

  /** Gaps-and-islands: per-user consecutive-day activity streaks. The
    * classic idiom — day-number minus row_number is constant within a
    * run of consecutive days — with the day number anchored to a fixed
    * epoch so both engines derive the identical integer group key. Two
    * hash aggregates around one user-partitioned window; the distinct
    * day frame (≤ users × days rows) is what sorts, never the raw
    * event stream. */
  def streakIslands(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    days
      .withColumn("grp",
        datediff(col("d"), lit("2020-01-01").cast("date"))
          - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max("len").as("max_streak"), count(lit(1)).as("n_streaks"),
        sum("len").as("active_days"))
      .orderBy("user_id")
  }

  /** Seasonal-naive forecast evaluation per event type: does "same day
    * last week" (lag 7 on the daily series) beat "same as yesterday"
    * (lag 1)? MASE = MAE_seasonal / MAE_naive — the scale-free
    * forecast-quality ratio; < 1 means the weekly pattern carries real
    * signal, which is the go/no-go check before trusting seasonal
    * models on the stream.
    *
    * Exactness: daily sums in 6-dp micro-unit longs; both absolute-
    * error sums are exact longs; MASE clears its denominators as the
    * 128-bit integer ratio e7·n1 / (d1·n7) (one double division,
    * identically spelled) and the seasonal_wins flag is a pure integer
    * comparison. NULL guards (n7 > 0, d1 > 0) identical on both
    * engines — a constant series has d1 = 0 and reports no MASE
    * rather than an engine-dependent ∞/NULL.
    *
    * 100 TB posture: the cusumChangepoint shape — one map-side-
    * combined daily collapse, then type-partitioned lags over the
    * (types × days) frame. */
  def seasonalNaive(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("d"))
      .agg(sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("y"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val s = daily
      .withColumn("y7", lag(col("y"), 7).over(w))
      .withColumn("y1", lag(col("y"), 1).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("y7").isNotNull, abs(col("y") - col("y7")))).as("e7"),
        sum(when(col("y7").isNotNull, 1L).otherwise(0L)).as("n7"),
        sum(when(col("y1").isNotNull, abs(col("y") - col("y1")))).as("d1"),
        sum(when(col("y1").isNotNull, 1L).otherwise(0L)).as("n1"))
    s.select(col("event_type"), col("n_days"),
        when(col("n7") > 0,
          Recon.ratioRound(col("e7"), Recon.micro(col("n7")), 6))
          .as("mae_seasonal"),
        when(col("n1") > 0,
          Recon.ratioRound(col("d1"), Recon.micro(col("n1")), 6))
          .as("mae_naive"),
        when(col("n7") > 0 && col("d1") > 0,
          Recon.ratioRound(col("e7").cast(dec) * col("n1"),
            col("d1").cast(dec) * col("n7"), 6)).as("mase"),
        when(col("n7") > 0 && col("d1") > 0,
          col("e7").cast(dec) * col("n1") < col("d1").cast(dec) * col("n7"))
          .as("seasonal_wins"))
      .orderBy("event_type")
  }

  /** DAU/MAU stickiness per month — the engagement ratio every product
    * dashboard keys on: average daily active users over monthly active
    * users (1.0 = everyone active every day). Exact throughout: both
    * counts are exact distincts and the ratio is exact longs with one
    * identically-spelled division: Σdau / (n_days · mau). Catalyst
    * collapses the monthly distinct-of-the-deduped-pairs into a direct
    * (month, user) aggregate over the scan, so the plan is two
    * map-side-deduped aggregation passes.
    *
    * 100 TB posture: each corpus-sized pass partial-dedups map-side
    * before its shuffle; everything downstream is day- or
    * month-sized. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(date_trunc("month", col("ts")).as("mon"),
        date_trunc("day", col("ts")).as("d"), col("user_id"))
      .distinct()
    val dau = ud.groupBy("mon", "d").agg(count(lit(1)).as("dau"))
    val mau = ud.select(col("mon"), col("user_id")).distinct()
      .groupBy("mon").agg(count(lit(1)).as("mau"))
    dau.join(broadcast(mau), "mon")
      .groupBy(col("mon").as("month"), col("mau"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_total"))
      .select(col("month"), col("n_days"), col("dau_total"), col("mau"),
        Recon.ratioRound(col("dau_total"), col("n_days") * col("mau"), 6)
          .as("stickiness"))
      .orderBy("month")
  }

  /** State-space cap for [[markovStationary]]: the transition matrix
    * collects driver-side, so its size must be bounded by a CONSTANT,
    * not by the data's type cardinality (the lm_score lesson) — top-K
    * types by total count, (count DESC, type) tie-break, mirrored in
    * the oracle's cap CTE (the BpeWordCap discipline). */
  private[graft] val MarkovTypeCap = 16

  /** Fixed power-iteration depth — part of the result contract (the
    * oracle unrolls the same count), not a convergence knob. */
  private[graft] val MarkovIters = 12

  /** Per-JVM memo of the COLLECTED capped transition matrix behind
    * [[markovStationary]] — the round-21 eager-construction item: the
    * op re-ran its two construction-time collect jobs (top-K types,
    * then the (f, t, w) matrix) identically per call, ~0.2 s of serial
    * driver time each. The matrix is a derived model INPUT bounded at
    * [[MarkovTypeCap]]² rows (the lmMicroMemo class — the op's OUTPUT,
    * the π/observed-mix join, is still computed from the corpus per
    * call: π re-iterates from the matrix driver-side and the observed
    * mix is a fresh distributed agg over events). Keyed by (session,
    * dir) with the events relation IDENTITY as the staleness check —
    * a corpus regen misses naturally (the edgeMemo discipline). */
  private[graft] val markovTransMemo =
    new Memo[(SparkSession, String), Array[(String, String, Long)]]("Events.markovTrans")

  /** The uncached two-job build the memo holds: top-[[MarkovTypeCap]]
    * types by (count DESC, type), then the capped transition counts.
    * Separated so a spec can audit the build against a memoized call. */
  private[graft] def markovTransitions(ev: DataFrame): Array[(String, String, Long)] = {
    val types = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("event_type")).limit(MarkovTypeCap)
      .select("event_type").collect().map(_.getString(0)).toSeq
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("event_type").as("f"),
        lead(col("event_type"), 1).over(byUser).as("t"))
      .where(col("t").isNotNull &&
        col("f").isin(types: _*) && col("t").isin(types: _*))
      .groupBy("f", "t").agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** Long-run (stationary) event mix implied by the user-journey
    * transition chain, versus the mix actually observed — the Markov
    * sibling of [[eventTransitions]]: if users keep behaving like
    * their transitions say, what does the event stream converge to,
    * and how far is today's mix from that equilibrium?
    *
    * State space: the capped top-[[MarkovTypeCap]] types restricted to
    * states with OUTGOING transitions, transitions restricted to both
    * ends in the space, and a retained state stripped of ALL its
    * out-rows by that restriction gets a unit SELF-LOOP so its mass
    * holds (every row stays stochastic over the retained mass — an
    * absorbing out-of-space target would otherwise evaporate π at
    * round 1). π starts uniform in exact
    * parts-per-billion and runs [[MarkovIters]] integer power
    * iterations: contribution = π_f·w div ow_f with 128-bit
    * intermediates — the pagerank arithmetic without damping, driver-
    * side over the ≤cap² collected matrix (bounded like the IVF/BPE
    * trainers, replicated verbatim by the oracle's unrolled CTEs).
    * The observed-mix join and shares stay distributed. */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val trans = markovTransMemo((spark, dir), ev)(markovTransitions(ev))
    val nodes = trans.map(_._1).distinct.sorted
    require(nodes.nonEmpty, s"markovStationary: no transitions under $dir")
    // a retained state whose every target fell OUT of the state space
    // would otherwise keep no out-row and its π mass would evaporate at
    // round 1 (review finding) — a unit self-loop holds the mass, which
    // is what "stochastic over the retained mass" means for such rows
    val kept = trans.filter(x => nodes.contains(x._2))
    val stranded = nodes.filterNot(kept.map(_._1).toSet)
      .map(n => (n, n, 1L))
    val tr = kept ++ stranded
    val ow = tr.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var pi = nodes.map(_ -> 1000000000L / nodes.length).toMap
    for (_ <- 1 to MarkovIters) {
      val nxt = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
      tr.foreach { case (f, t, w) =>
        nxt(t) += (BigInt(pi(f)) * w / ow(f)).toLong
      }
      pi = nxt.toMap
    }
    val piDf = nodes.toSeq.map(n => (n, pi(n))).toDF("event_type", "pi_ppb")
    val obs = ev.filter(col("event_type").isin(nodes: _*))
      .groupBy("event_type").agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum("n_obs").as("n_tot"))
    broadcast(piDf).join(obs, "event_type").crossJoin(broadcast(tot))
      .select(col("event_type"), col("pi_ppb"),
        Recon.ratioRound(col("pi_ppb"), lit(1000000000L), 6).as("pi"),
        Recon.ratioRound(col("n_obs"), col("n_tot"), 6).as("obs_share"))
      .orderBy("event_type")
  }

  /** CUSUM changepoint detection per event type: where in the daily
    * value series does the cumulative deviation from the series mean
    * peak? The classic offline-CUSUM statistic S_i = Σ_{j≤i}(x_j − x̄)
    * is kept EXACT by clearing the mean's denominator: with P_i the
    * integer prefix sum, T the total and n the day count (all in 6-dp
    * micro-unit longs), n·S_i = n·P_i − i·T — pure 128-bit integer
    * arithmetic (DECIMAL(38,0) ≡ HUGEINT, the ks_drift recipe), so the
    * argmax day and the tie-break (earliest day at equal |n·S|) are
    * bit-deterministic on both engines; the three doubles at the end
    * are single identically-spelled divisions.
    *
    * 100 TB posture: the only corpus-sized work is the daily groupBy
    * (map-side partial sums); every window below it partitions by
    * event_type over a (types × days)-sized frame. Divisions are
    * structurally guarded: n ≥ 1 and i ≥ 1 always, and mean_after is
    * NULL exactly when the peak sits on the last day (n−i = 0) — same
    * CASE on both engines. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("d"))
      .agg(sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("x"))
    val wOrd = Window.partitionBy("event_type").orderBy("d")
    val wAll = Window.partitionBy("event_type")
    daily
      .withColumn("p", sum("x").over(wOrd))
      .withColumn("i", row_number().over(wOrd))
      .withColumn("t", sum("x").over(wAll))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("cv", abs(expr(
        "CAST(n AS DECIMAL(38,0)) * p - CAST(i AS DECIMAL(38,0)) * t")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("cv").desc, col("d"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_days"), col("d").as("cp_day"),
        Recon.ratioRound(col("cv"), Recon.micro(col("n")), 6)
          .as("cusum_max"),
        Recon.ratioRound(col("p"), Recon.micro(col("i")), 6)
          .as("mean_before"),
        when(col("i") < col("n"),
          Recon.ratioRound(col("t") - col("p"),
            Recon.micro(col("n") - col("i")), 6)).as("mean_after"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz runs test per event type — the classical
    * RANDOMNESS screen completing the test battery (ANOVA = level
    * differences, KS/W₁ = distribution drift, ACF = linear memory;
    * runs = serial dependence of ANY form): split each type's non-NULL
    * value sequence (event order: ts, event_id) into above-mean /
    * at-or-below-mean flags, count the runs of equal flags, and
    * z-score the count against its null distribution (too FEW runs =
    * clumping/trend, too many = oscillation). `nonrandom` flags
    * |z| > 1.96 (α = 0.05 two-sided).
    *
    * Exactness: values quantize to 6-dp micro-longs; above-mean
    * clears the denominator (vµ·n > Σvµ — exact 128-bit integers, no
    * mean double ever materializes); n₁/n₂/runs are exact counts;
    * expected runs (2n₁n₂ + n)/n presents via [[Recon.ratioRound]];
    * the z-score is sqrt-chained (Class B per §7.4.9) — ONE
    * identically-spelled double expression over exact integer inputs
    * (a = 2n₁n₂: z = (R − 1 − a/n) / sqrt(a(a−n) / (n²(n−1)))),
    * rounded 6 dp with the −0.0 `+0` oracle guard, and NULL unless
    * the variance is strictly positive (n > 1, a > n — the
    * sqrt(≤0)-split guard class).
    *
    * 100 TB posture: one 5-row stats broadcast back onto the scan (no
    * corpus-wide window for the mean), then the lag window sorts each
    * type's timeline once — the sessionize shuffle shape; output rows
    * = event types. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val vm = round(round(col("value"), 6) * 1e6, 0).cast("long")
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"), vm.as("vm"))
    val stats = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("vm").cast(dec)).as("s"))
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val flagged = base.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("ts"), col("event_id"), col("n"),
        (col("vm").cast(dec) * col("n") > col("s")).as("up"))
    val runs = flagged
      .select(col("event_type"), col("n"), col("up"),
        when(lag(col("up"), 1).over(w).isNull ||
          lag(col("up"), 1).over(w) =!= col("up"), 1L).otherwise(0L)
          .as("brk"))
      .groupBy("event_type")
      .agg(first(col("n")).as("n"),
        sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("up"), 1L).otherwise(0L)).as("n2"),
        sum(col("brk")).as("runs"))
    val a = (col("n1").cast(dec) * col("n2") * 2).cast("double")
    val nD = col("n").cast("double")
    val z = (col("runs").cast("double") - lit(1.0) - a / nD) /
      sqrt(a * (a - nD) / (nD * nD * (nD - lit(1.0))))
    runs.select(col("event_type"), col("n"), col("n1"), col("n2"),
        col("runs"),
        graft.ops.Recon.ratioRound(
          col("n1").cast(dec) * col("n2") * 2 + col("n"), col("n"), 6)
          .as("exp_runs"),
        when(col("n") > 1 &&
          col("n1").cast(dec) * col("n2") * 2 > col("n"),
          round(z, 6)).as("z"),
        when(col("n") > 1 &&
          col("n1").cast(dec) * col("n2") * 2 > col("n"),
          abs(z) > lit(1.96)).as("nonrandom"))
      .orderBy("event_type")
  }

  /** Lag-1 and lag-7 autocorrelation of the daily value series per
    * event type — the memory/seasonality screen run before any
    * forecasting model: acf1 ≈ 0 says yesterday carries no signal,
    * acf7 > 0 says a weekly cycle survives differencing by mean.
    *
    * Exactness: daily sums in 6-dp micro-unit longs; the mean's
    * denominator clears — acf_k = Σ(n·yₜ−S)(n·yₜ₋ₖ−S) / Σ(n·yₜ−S)²
    * with every term an exact 128-bit integer (DECIMAL(38,0) ≡
    * HUGEINT) and one identically-spelled double division per lag,
    * round 6dp +0. A constant series has den = 0 and reports NULL on
    * both engines, never an engine-dependent 0/0.
    *
    * 100 TB posture: the seasonalNaive shape — one map-side-combined
    * daily collapse, then type-partitioned windows over the
    * (types × days) frame; nothing corpus-sized sorts. */
  def autocorrelation(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("d"))
      .agg(sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("y"))
    val pw = Window.partitionBy("event_type").orderBy("d")
    val aw = Window.partitionBy("event_type")
    val dev = (yc: org.apache.spark.sql.Column) =>
      col("n").cast(dec) * yc - col("s")
    val a = daily
      .withColumn("y1", lag(col("y"), 1).over(pw))
      .withColumn("y7", lag(col("y"), 7).over(pw))
      .withColumn("n", count(lit(1)).over(aw))
      .withColumn("s", sum(col("y")).over(aw))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_days"),
        sum(dev(col("y")) * dev(col("y"))).as("den"),
        sum(when(col("y1").isNotNull, dev(col("y")) * dev(col("y1"))))
          .as("num1"),
        sum(when(col("y7").isNotNull, dev(col("y")) * dev(col("y7"))))
          .as("num7"))
    a.select(col("event_type"), col("n_days"),
        when(col("den") > 0,
          Recon.ratioRound(col("num1"), col("den"), 6)).as("acf1"),
        when(col("den") > 0,
          Recon.ratioRound(col("num7"), col("den"), 6)).as("acf7"))
      .orderBy("event_type")
  }

  /** User-set overlap between every pair of event types — Jaccard and
    * overlap coefficient of the distinct-user audiences ("do purchasers
    * also click?"), the audience-venn number behind funnel design.
    *
    * Exactness: all three set sizes are exact distinct counts; the two
    * ratios are single identically-spelled double divisions of exact
    * longs, round 6dp (non-negative by construction).
    *
    * 100 TB posture: the corpus-sized pass is the map-side-deduped
    * (type, user) distinct; the self-join keys on user_id (shuffle
    * both sides once — Catalyst reuses the deduped exchange), and the
    * per-type audience counts are a types-sized frame AQE broadcasts.
    * Nothing all-pairs: the join fans out only by types-per-user. */
  def userOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tu = Tables.events(spark, dir)
      .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
    val n = tu.groupBy("t").agg(count(lit(1)).as("nu"))
    val inter = tu.as("a").join(tu.as("b"),
        col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(n.select(col("t"), col("nu").as("n_a")), col("ta") === col("t"))
      .drop("t")
      .join(n.select(col("t"), col("nu").as("n_b")), col("tb") === col("t"))
      .drop("t")
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_a"), col("n_b"), col("i").as("n_common"),
        Recon.ratioRound(col("i"),
          col("n_a") + col("n_b") - col("i"), 6).as("jaccard"),
        Recon.ratioRound(col("i"), least(col("n_a"), col("n_b")), 6)
          .as("overlap_coef"))
      .orderBy("type_a", "type_b")
  }

  /** 6-dp fixed-point DFT coefficient tables for period 7 —
    * round(cos/sin(2πk/7)·1e6) as INTEGER LITERALS embedded identically
    * in the oracle (the recon_benford discipline: never call engine
    * trig on constants). Index k = days-since-1970-01-01 mod 7. */
  private[graft] val WeeklyCos = Seq(1000000L, 623490L, -222521L,
    -900969L, -900969L, -222521L, 623490L)
  private[graft] val WeeklySin = Seq(0L, 781831L, 974928L,
    433884L, -433884L, -974928L, -781831L)

  /** Spectral power of the weekly cycle in the daily value series per
    * event type — the single-frequency periodogram bin at period 7:
    * weekly_amp is the fitted sinusoid's amplitude in value units,
    * weekly_power_share the fraction of the series' variance that the
    * weekly component explains (1.0 = a pure weekly sinusoid).
    *
    * Exactness: daily sums in micro-unit longs; the DFT projections
    * use the fixed-point literal tables [[WeeklyCos]]/[[WeeklySin]]
    * (no engine trig), and the mean's leakage clears exactly —
    * A = n·Σy·c − Σy·Σc, B likewise — as 128-bit integers. The only
    * doubles are the final identically-spelled chain (casts, squares,
    * one IEEE sqrt — correctly rounded, so bit-identical), round 6dp.
    * A constant series has den = 0 and reports NULL share on both
    * engines.
    *
    * 100 TB posture: the seasonalNaive shape — one map-side-combined
    * daily collapse, one type-partitioned window pass for the variance
    * clearing, one types-sized aggregate. */
  def weeklySpectrum(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("d"))
      .agg(sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("y"))
    val aw = Window.partitionBy("event_type")
    val cosArr = array(WeeklyCos.map(lit): _*)
    val sinArr = array(WeeklySin.map(lit): _*)
    val g = daily
      .withColumn("n", count(lit(1)).over(aw))
      .withColumn("s", sum(col("y")).over(aw))
      .withColumn("dow",
        pmod(datediff(col("d"), lit("1970-01-01").cast("date")), lit(7)))
      .withColumn("c", element_at(cosArr, col("dow") + 1))
      .withColumn("sv", element_at(sinArr, col("dow") + 1))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), sum(col("y")).as("sy"),
        sum(col("y").cast(dec) * col("c")).as("a0"),
        sum(col("y").cast(dec) * col("sv")).as("b0"),
        sum(col("c")).as("cs"), sum(col("sv")).as("ss"),
        sum((col("n").cast(dec) * col("y") - col("s"))
          * (col("n").cast(dec) * col("y") - col("s"))).as("den"))
      .withColumn("aa", col("n").cast(dec) * col("a0")
        - col("sy").cast(dec) * col("cs"))
      .withColumn("bb", col("n").cast(dec) * col("b0")
        - col("sy").cast(dec) * col("ss"))
    g.select(col("event_type"), col("n").as("n_days"),
        round(lit(2) * sqrt(col("aa").cast("double") * col("aa").cast("double")
          + col("bb").cast("double") * col("bb").cast("double"))
          / (col("n").cast("double") * col("n") * lit(1e12)), 6)
          .as("weekly_amp"),
        when(col("den") > 0,
          round(lit(2) * (col("aa").cast("double") * col("aa").cast("double")
            + col("bb").cast("double") * col("bb").cast("double"))
            / (lit(1e12) * col("n").cast("double") * col("den").cast("double")), 6))
          .as("weekly_power_share"))
      .orderBy("event_type")
  }

  /** Behavioral predictability per event type: the Shannon entropy of
    * each state's outgoing-transition distribution (0 bits = the next
    * event is certain, log₂(k) = uniform over k targets) plus its
    * weighted contribution to the chain's overall entropy rate — the
    * information-theoretic sibling of [[eventTransitions]] /
    * [[markovStationary]].
    *
    * Exactness: transition counts are exact; each entropy term
    * −p·log₂(p) (p = c/cf, an integer-ratio double) rounds at 6 dp
    * into micro-unit longs before the EXACT per-state sum (the
    * lm_score/JSD log-family discipline), and the rate contribution
    * re-rounds the exact-micro H_f scaled by the integer ratio cf/N.
    *
    * 100 TB posture: one user-partitioned lead window (the
    * eventTransitions shape), then everything is transitions-matrix-
    * sized; cf comes from a from-state window over that matrix, N from
    * a 1-row broadcast. */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("f"),
        lead(col("event_type"), 1).over(byUser).as("t"))
      .where(col("t").isNotNull)
      .groupBy("f", "t").agg(count(lit(1)).as("c"))
    val tot = trans.agg(sum(col("c")).as("nn"))
    val p = col("c").cast("double") / col("cf")
    val h = trans
      .withColumn("cf", sum(col("c")).over(Window.partitionBy("f")))
      .withColumn("t6", round(-p * log2(p), 6))
      .groupBy("f")
      .agg(max(col("cf")).as("cf"), count(lit(1)).as("n_targets"),
        sum(round(col("t6") * 1e6, 0).cast("long")).as("hm"))
    h.crossJoin(broadcast(tot))
      .select(col("f").as("from_type"), col("cf").as("n_trans"),
        col("n_targets"),
        round(col("hm") / 1e6, 6).as("entropy_bits"),
        Recon.ratioRound(
          col("cf").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("hm"),
          Recon.micro(col("nn")), 6).as("rate_contrib_bits"))
      .orderBy("from_type")
  }

  /** Rolling week-over-week churn: of the users active in week w, how
    * many came back in w+1 — the month-over-month churn dashboard at
    * the granularity this corpus's ~weeks-long event span supports,
    * and the rolling sibling of [[cohortRetention]] (cohort-anchored)
    * and [[stickiness]] (within-month).
    *
    * Weeks are ENGINE-NEUTRAL epoch weeks — days-since-1970 div 7 as
    * exact integer floor division — never the engines' week-truncation
    * conventions. The last (right-censored) week is excluded: its
    * users had no w+1 to return in. Counts exact, the two rates are
    * identically-spelled double divisions of exact longs.
    *
    * 100 TB posture: one map-deduped (week, user) distinct; the
    * next-week probe is a user-keyed self-join of that deduped frame
    * (exchange reused — never broadcast: both sides are user-scale);
    * everything after the week aggregate is weeks-sized. */
  def weeklyChurn(spark: SparkSession, dir: String): DataFrame = {
    val mu = Tables.events(spark, dir)
      .select(expr("datediff(cast(ts as date), date '1970-01-01') div 7")
        .as("wk"), col("user_id").as("u"))
      .distinct()
    val nxt = mu.as("a")
      .join(mu.as("b"),
        col("b.u") === col("a.u") && col("b.wk") === col("a.wk") + 1, "left")
      .groupBy(col("a.wk").as("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("b.u").isNull, 1L).otherwise(0L)).as("n_churned"),
        sum(when(col("b.u").isNotNull, 1L).otherwise(0L)).as("n_retained"))
    val lastw = mu.agg(max(col("wk")).as("mx"))
    nxt.crossJoin(broadcast(lastw))
      .filter(col("wk") < col("mx"))
      .select(date_add(lit("1970-01-01").cast("date"),
          (col("wk") * 7).cast("int")).as("week_start"),
        col("n_active"), col("n_retained"), col("n_churned"),
        Recon.ratioRound(col("n_churned"), col("n_active"), 6)
          .as("churn_rate"),
        Recon.ratioRound(col("n_retained"), col("n_active"), 6)
          .as("retention_rate"))
      .orderBy("week_start")
  }

  /** Per-user feature extraction — the feature-store op a training
    * pipeline runs over the raw stream: activity volume, breadth
    * (distinct types), calendar span/density and mean event value per
    * user, ready to join onto labels. Limit 200 keeps the registry
    * artifact bounded; the library form is the unlimited frame.
    *
    * Exactness: all counts exact (the distinct-day/type counts are
    * exact distincts); mean value sums 6-dp micro-unit longs with a
    * NULL guard identical on both engines; span and density are exact
    * day arithmetic with one identically-spelled division.
    *
    * 100 TB posture: ONE corpus pass through a single per-user hash
    * aggregate (Spark plans the two distinct-counts via expand — still
    * map-side partials, one shuffle on user_id); output is users-sized
    * and the registry form truncates deterministically by user_id. */
  def userFeatures(spark: SparkSession, dir: String): DataFrame = {
    val d = date_trunc("DAY", col("ts"))
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(d).as("active_days"),
        countDistinct(col("event_type")).as("n_types"),
        sum(when(col("value").isNotNull,
          round(round(col("value"), 6) * 1e6, 0).cast("long"))).as("sv"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("nv"),
        min(d).as("first_day"), max(d).as("last_day"))
      .select(col("user_id"), col("n_events"), col("active_days"),
        col("n_types"),
        when(col("nv") > 0,
          Recon.ratioRound(col("sv"), Recon.micro(col("nv")), 6))
          .as("mean_value"),
        (datediff(col("last_day"), col("first_day")) + 1).cast("long")
          .as("span_days"),
        Recon.ratioRound(col("active_days"),
          datediff(col("last_day"), col("first_day")) + 1, 6)
          .as("activity_density"))
      .orderBy("user_id")
      .limit(200)
  }

  /** Difference-in-differences screen per event type: split the corpus
    * at its midpoint day, take each type as treatment and ALL OTHER
    * types as control, and report Δtype − Δcontrol — the first-pass
    * causal read ("did this event's value move more than the ambient
    * trend?") behind every launch/incident review.
    *
    * Exactness: the cutoff is exact integer day arithmetic from the
    * corpus min/max; per-cell sums are 6-dp micro-unit longs and every
    * MEAN rounds 6dp back into micro-longs before the exact
    * subtractions (the lm_score per-term discipline — so delta,
    * control_delta and did are pure integer differences). A type
    * absent from a period reports NULL through identical NULL algebra;
    * control denominators are guarded > 0 on both engines (the 0/0
    * IEEE-split class).
    *
    * 100 TB posture: one map-combined (type, period) pass; everything
    * after is types-sized with 1-row broadcast bounds/totals. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
    val b = ev.agg(min(date_trunc("DAY", col("ts"))).as("d0"),
      max(date_trunc("DAY", col("ts"))).as("d1"))
    val cut = b.select(date_add(col("d0").cast("date"),
      (datediff(col("d1"), col("d0")) / 2).cast("int")).as("c"))
    val pt = ev.crossJoin(broadcast(cut))
      .select(col("event_type").as("t"),
        (date_trunc("DAY", col("ts")).cast("date") < col("c")).as("pre"),
        round(round(col("value"), 6) * 1e6, 0).cast("long").as("v6"))
      .groupBy("t", "pre")
      .agg(sum(col("v6")).as("sv"), count(lit(1)).as("n"))
    def m6(svC: org.apache.spark.sql.Column,
           nC: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Recon.ratioScaled(svC, nC, 0)
    val w = pt.groupBy("t")
      .agg(max(when(col("pre"), m6(col("sv"), col("n")))).as("mb"),
        max(when(!col("pre"), m6(col("sv"), col("n")))).as("ma"),
        max(when(col("pre"), col("n"))).as("nb"),
        max(when(!col("pre"), col("n"))).as("na"),
        max(when(col("pre"), col("sv"))).as("sb"),
        max(when(!col("pre"), col("sv"))).as("sa"))
    val tot = pt.agg(sum(when(col("pre"), col("sv"))).as("tsb"),
      sum(when(col("pre"), col("n"))).as("tnb"),
      sum(when(!col("pre"), col("sv"))).as("tsa"),
      sum(when(!col("pre"), col("n"))).as("tna"))
    val ctl = w.crossJoin(broadcast(tot))
      .withColumn("cnb", col("tnb") - coalesce(col("nb"), lit(0L)))
      .withColumn("cna", col("tna") - coalesce(col("na"), lit(0L)))
      .withColumn("cb", when(col("cnb") > 0,
        m6(col("tsb") - coalesce(col("sb"), lit(0L)), col("cnb"))))
      .withColumn("ca", when(col("cna") > 0,
        m6(col("tsa") - coalesce(col("sa"), lit(0L)), col("cna"))))
    ctl.select(col("t").as("event_type"),
        col("nb").as("n_before"), col("na").as("n_after"),
        (round(col("mb") / 1e6, 6) + 0).as("mean_before"),
        (round(col("ma") / 1e6, 6) + 0).as("mean_after"),
        (round((col("ma") - col("mb")) / 1e6, 6) + 0).as("delta"),
        (round((col("ca") - col("cb")) / 1e6, 6) + 0).as("control_delta"),
        (round(((col("ma") - col("mb")) - (col("ca") - col("cb"))) / 1e6, 6)
          + 0).as("did"))
      .orderBy("event_type")
  }

  /** One-way ANOVA of event value across event types — the remaining
    * classical test next to the suite's χ² (independence), KS/W₁
    * (distribution drift) and DiD (causal screen): does TYPE explain
    * value variance? Per-type group stats plus the shared F statistic
    * and effect size η² = SSB/SST.
    *
    * Exactness: values quantize to 6-dp micro longs; each group's
    * within-SS term has an EXACT 128-bit numerator (Q·n − S²) and one
    * identically-spelled division rounded 6dp into micro-longs before
    * the exact sums (the lm_score discipline); the total SS uses the
    * same chain, so SSB = SST − SSW is a pure integer difference and
    * F = SSB·(n−k) / (SSW·(k−1)) is one double division of 128-bit
    * products. Degenerate boards (one group, constant corpus) NULL
    * through identical guards.
    *
    * 100 TB posture: ONE map-combined (type) moment pass; everything
    * after is types-sized with a 1-row broadcast F frame. */
  def valueAnova(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("t"),
        round(round(col("value"), 6) * 1e6, 0).cast("long").as("v6"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"), sum(col("v6")).as("s"),
        sum(col("v6").cast(dec) * col("v6")).as("q"))
    def ss6(qC: org.apache.spark.sql.Column, nC: org.apache.spark.sql.Column,
            sC: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Recon.ratioScaled(qC * nC - sC.cast(dec) * sC, Recon.micro(nC), 0)
    val gw = g.withColumn("ssw_micro", ss6(col("q"), col("n"), col("s")))
    val tot = gw.agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"),
      sum(col("q")).as("qq"), count(lit(1)).as("k"),
      sum(col("ssw_micro")).as("ssw"))
    val f = tot
      .withColumn("sst", ss6(col("qq"), col("nn"), col("ss")))
      .withColumn("ssb", col("sst") - col("ssw"))
      // ratio presentations in exact integer half-away arithmetic
      // (Recon.ratioRound — the supplier_scorecard tie class): f_stat,
      // eta², the mean and var_pop are all integer/integer quotients
      .withColumn("f_stat", when(col("ssw") > 0 && col("k") > 1
          && col("nn") > col("k"),
        Recon.ratioRound(col("ssb").cast(dec) * (col("nn") - col("k")),
          col("ssw").cast(dec) * (col("k") - 1), 6)))
    gw.crossJoin(broadcast(f.select("k", "sst", "ssb", "f_stat")))
      .select(col("t").as("event_type"), col("n"),
        Recon.ratioRound(col("s"), Recon.micro(col("n")), 6)
          .as("mean_value"),
        Recon.ratioRound(col("ssw_micro"), Recon.micro(col("n")), 6)
          .as("var_pop"),
        col("k").as("k_groups"), col("f_stat"),
        when(col("sst") > 0, Recon.ratioRound(col("ssb"), col("sst"), 6))
          .as("eta_squared"))
      .orderBy("event_type")
  }

  /** Engagement-inequality Gini per event type over per-user event
    * counts — the "does 1% of users generate 90% of the traffic"
    * dashboard number (0 = uniform, →1 = one user is the firehose).
    *
    * Exactness: the grouped-value closed form. With distinct count
    * values v ascending, block weights w and the cumulative weight wp
    * before each block, Σᵢ i·xᵢ over any ascending ordering is
    * invariant under tie permutation and equals
    * Σ_blocks v·(w·wp + w(w+1)/2); Gini = (2Σᵢi·xᵢ − (n+1)Σx)/(n·Σx).
    * Every term is an exact 128-bit integer (DECIMAL(38,0) ≡ HUGEINT);
    * one identically-spelled double division at the end, round 6dp +0.
    *
    * 100 TB posture: the pareto_abc histogram discipline — the only
    * corpus-sized pass is the (type, user) count (map-side combined);
    * the window runs over the DISTINCT-count-value histogram
    * (≤ types × distinct activity levels, thousands of rows at any
    * scale), never over a per-user frame, so there is no users-sized
    * sort behind a 5-partition window. */
  def userGini(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cnts = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val hist = cnts.groupBy(col("event_type"), col("c").as("v"))
      .agg(count(lit(1)).as("w"))
    val wCum = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("wp", coalesce(sum("w").over(wCum), lit(0L)))
      .groupBy("event_type")
      .agg(sum(col("w")).as("n"),
        sum(col("v").cast(dec) * col("w")).as("sx"),
        // w and wp promote to DECIMAL(38,0) BEFORE their products —
        // w·wp in raw longs overflows once a type's user count nears
        // ~3e9 (round-14 advice), breaking the exact-128-bit claim
        sum(col("v").cast(dec) * (col("w").cast(dec) * col("wp") * 2
          + col("w").cast(dec) * (col("w") + 1))).as("six2"))
      .select(col("event_type"),
        col("n").as("n_users"), col("sx").cast("long").as("total_events"),
        Recon.ratioRound(col("six2") - (col("n") + 1) * col("sx"),
          col("n").cast(dec) * col("sx"), 6).as("gini"))
      .orderBy("event_type")
  }
}
