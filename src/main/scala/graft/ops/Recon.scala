package graft.ops

import graft.{Checkpoint, Tables}
import graft.functions.ExactDecimal.exactDecimal
import graft.functions.Md5ConcatWs.md5ConcatWs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One (source, target) pair in a [[Recon.reconcileAll]] run config.
  * Mirrors the reference's lifecycle (SURVEY §3.1 [D]): config — table
  * list, join key, compared columns, optional load-window predicate —
  * drives the nightly checks; the window lands on both scans so a
  * partitioned layout prunes to the one load window under compare. */
case class TablePair(
    name: String,
    src: DataFrame,
    tgt: DataFrame,
    key: String,
    cols: Seq[String],
    window: Option[Column] = None)

/** Reconciliation core — the reference's own capability surface
  * (SURVEY.md §2.1; reference reconstruction [D], repo empty at survey time).
  *
  * 100 TB posture: every op here is a pure scan→agg/join pipeline with no
  * driver-side state. Row-hash compare (`hashDiff`) shuffles both sides on
  * the key — at scale the two sides would be bucketed on the key so the
  * join is co-located; the checksum itself is computed map-side so only
  * (key, hash) pairs ever move, not full rows.
  */
object Recon {
  import Exact.{Huge, cents, decSum, ratioRound, uncents}

  /** A row hash's price field: `CAST(price AS DECIMAL(12,2))`, through
    * the same exact kernel as [[Exact.cents]] — the one spelling every
    * orders row hash in this object uses (the stream parity op keeps
    * `StreamingOps`' literal Cast). */
  private def hashPrice(price: Column): Column = exactDecimal(price, 12, 2)

  /** [[hashPrice]] of `round(price, 0)`, without Round's per-row
    * `BigDecimal.valueOf(x).setScale(0, HALF_UP)`: both round the same
    * `Double.toString(x)` HALF_UP to whole units, so
    * `CAST(price AS DECIMAL(12,0))` — [[ExactDecimal]]'s primitive
    * kernel — widened to DECIMAL(12,2) is the same value, the same null
    * past DECIMAL(12,2)'s range and, under ANSI, the same error class
    * (RowHashProps checks it). */
  private def wholeHashPrice(price: Column): Column = hashPrice(exactDecimal(price, 12, 0))

  /** The orders demo row hash: (o_custkey, o_orderstatus, [[hashPrice]])
    * through the in-flight [[rowHash64]], or through `hash` where a demo
    * exercises another row-hash path. */
  private def ordersRowHash(price: Column,
                            hash: Seq[Column] => Column = rowHash64): Column =
    hash(Seq(col("o_custkey"), col("o_orderstatus"), hashPrice(price)))

  /** Per-table row counts — the most basic source/target compare. */
  def rowcount(spark: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("tbl"), col("n"))
    one("orders", Tables.orders(spark, dir))
      .unionByName(one("lineitem", Tables.lineitem(spark, dir)))
      .orderBy("tbl")
  }

  /** Per-column fingerprint: count / distinct / sum / min / max — localizes
    * which column diverged between source and target.
    *
    * Plan: the distinct-key count runs as its OWN branch (a scan pruned
    * to the key column → two-phase distinct → count) crossed with the
    * plain global aggregate (map-side partials collapse to one row
    * before anything shuffles). The three shapes were all measured
    * same-JVM at sf0.1: fused `agg(count, countDistinct, …)` pays a
    * 2-projection Expand that doubles the stream through the partial
    * phase (1.08–1.12 s); a single two-level keyed aggregate — groupBy
    * the key, then globally merge the per-key partials — keeps one scan
    * but pushes EVERY row through a 150 k-key hash aggregate plus a
    * key-cardinality shuffle just to make the distinct count a free
    * count(1) (0.64–0.68 s); the split form shuffles only the distinct
    * branch's post-combine keys and one 1-row aggregate (0.31–0.38 s).
    * Both branches prune to exactly the columns they need, so total
    * I/O matches a fused single scan, and each branch is the canonical
    * bounded-state plan for its aggregate at any input scale. The
    * cross join is two singleton frames — a broadcast nested loop over
    * one row, not a data join. */
  def colaggFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val agg = li.agg(
      count(lit(1)).as("cnt"),
      decSum(col("l_quantity")).as("sq"),
      min(col("l_extendedprice")).as("mn"),
      max(col("l_extendedprice")).as("mx"),
      decSum(col("l_extendedprice") * col("l_discount")).as("rev"))
    val dk = li.select(col("l_orderkey")).distinct().agg(count(lit(1)).as("dk"))
    agg.crossJoin(dk)
      .select(col("cnt"), col("dk"), col("sq"), col("mn"), col("mx"), col("rev"))
  }

  /** Row-level checksum compare. The harness op simulates the "target"
    * side by rounding the price on the SAME table — so both hashes are
    * computed in one scan projection and compared row-locally: zero joins,
    * zero shuffles (round 1 self-joined the table with itself and paid a
    * double scan plus a key shuffle for nothing). Doubles are normalized
    * through DECIMAL(12,2) so the concat text is identical in any engine.
    * Each hash is the typed kernel [[graft.functions.Md5ConcatWs]] —
    * `md5(concat_ws("|", CAST(… AS STRING)))` byte for byte, with the
    * custkey and the decimal price digested from their typed values
    * instead of formatted into strings — and the rounded side's price
    * is [[wholeHashPrice]], not a double `round`. For genuinely
    * two-sided recon (source ≠ target) use [[hashDiffTables]]. */
  def hashDiff(spark: SparkSession, dir: String): DataFrame = {
    def rowHash(price: Column) =
      md5ConcatWs("|", Seq(col("o_custkey"), col("o_orderstatus"), price))
    Tables.orders(spark, dir)
      .select(rowHash(hashPrice(col("o_totalprice"))).as("h_src"),
        rowHash(wholeHashPrice(col("o_totalprice"))).as("h_tgt"))
      .filter(col("h_src") =!= col("h_tgt"))
      .agg(count(lit(1)).as("mismatches"))
  }

  /** The expected-schema contract the [[schemaDriftDisk]] harness op
    * reports against: the pinned catalog ([[graft.Tables.pinnedTypes]])
    * with a SEEDED drift overlay so every status appears
    * deterministically — documents.n_chars is omitted (→ extra_on_disk),
    * part.p_retailprice expects decimal(12,2) against the double on disk
    * (→ type_mismatch), and a phantom orders.o_phantom is expected
    * (→ missing_on_disk). The same Seq generates the DuckDB oracle's
    * expected VALUES, so both engines read one source of truth. */
  private[graft] def schemaDriftExpected: Seq[(String, String, String)] =
    Tables.pinnedTypes
      .filterNot { case (t, c, _) => t == "documents" && c == "n_chars" }
      .map {
        case ("part", "p_retailprice", _) =>
          ("part", "p_retailprice", "decimal(12,2)")
        case x => x
      } :+ (("orders", "o_phantom", "string"))

  /** Cross-engine type-name normalization for the drift report: Spark's
    * simpleString vocabulary is the canon; the only Spark-side fold is
    * timestamp_ntz → timestamp (pandas-written parquet infers NTZ under
    * Spark 4's inferTimestampNTZ while DuckDB reads one TIMESTAMP — the
    * stored int64 is identical, so unit drift is not type drift). */
  private def normType(t: String): String =
    if (t == "timestamp_ntz") "timestamp" else t

  /** Schema-drift report against the on-disk parquet tree — the
    * metadata-only pre-flight a reconciliation run executes BEFORE
    * touching data: for every (table, column) in the expected contract
    * or on disk, the expected type, the actual footer type, and a
    * status in {ok, type_mismatch, missing_on_disk, extra_on_disk}.
    * Nine footer probes (driver-side, no job — the 100 TB cost is nine
    * metadata reads, not nine scans); `events` is deliberately out of
    * scope: its PHYSICAL unit is allowed to drift round-to-round and is
    * normalized by the footer sniff (Tables.events), which is a unit
    * concern, not a schema-drift one. */
  def schemaDriftDisk(spark: SparkSession, dir: String): DataFrame = {
    val expected = schemaDriftExpected
      .map { case (t, c, ty) => (t, c) -> ty }.toMap
    val actual = Tables.driftAuditTables.flatMap { t =>
      Tables.diskSchema(spark, dir, t).fields
        .map(f => (t, f.name) -> normType(f.dataType.simpleString))
    }.toMap
    val rows = (expected.keySet ++ actual.keySet).toSeq.sorted.map {
      case k @ (t, c) =>
        val status = (expected.get(k), actual.get(k)) match {
          case (Some(e), Some(a)) if e == a => "ok"
          case (Some(_), Some(_))           => "type_mismatch"
          case (Some(_), None)              => "missing_on_disk"
          case _                            => "extra_on_disk"
        }
        (t, c, expected.get(k).orNull, actual.get(k).orNull, status)
    }
    import spark.implicits._
    rows.toDF("tbl", "col", "expected_type", "actual_type", "status")
  }

  /** Batch-parity anchor for the STREAMING hash-diff surface — the one
    * registry op that runs [[graft.streaming.StreamingOps.streamingHashDiff]]'s
    * literal code path (same function, same [[rowChecksum]] expression)
    * over a seeded divergence, so the driver's DuckDB oracle grounds the
    * checksum semantics the streaming twin ships: every 97th order key's
    * price rounds on the "stream" side (→ mismatch), every 101st key is
    * dropped from the reference (→ missing_in_reference). StreamingSpec
    * asserts a MemoryStream run over the same seed emits byte-identical
    * rows, converting the previously test-only-trust streaming surface
    * into an oracle-anchored one (round-13 verdict #6).
    *
    * The checksummed price goes through DECIMAL(12,2) BEFORE the
    * length-prefixed text checksum — double→string formatting is the
    * one engine-dependent step, decimal text is not (the [[hashDiff]]
    * rule). Plan shape: two projections of the same scan, one key
    * equi-join, row-local status. Round 18: the reference side carries
    * a `shuffle_hash` hint (attached to the frame BEFORE it enters
    * [[graft.streaming.StreamingOps.streamingHashDiff]], so the anchor
    * still runs the streaming function's literal code path and the
    * hint rides its join) — the reference here is ORDERS-sized, i.e.
    * data-sized, so AQE's broadcast pick was a latent 100×-scale
    * hazard (the lineitem_price_index class) AND the measured
    * bottleneck at sf0.1: the driver-side collect + single-threaded
    * HashedRelation build of 148k checksummed rows cost ~0.4 s where
    * the shuffle pair costs ~0.1 s, and under SHJ both checksum scans
    * materialize in PARALLEL as independent shuffle stages (0.66 →
    * 0.42 same-JVM A/B; with the native RowChecksumMd5 the op is
    * 0.84 → ~0.36 ambient-scaled overall). A deployment whose
    * reference IS a small dim passes an un-hinted frame and gets the
    * broadcast; the hint is the anchor's own scale posture, not the
    * API's. */
  def streamHashDiffParity(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
    val stream = base.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"),
      when(col("o_orderkey") % 97 === 0, round(col("o_totalprice"), 0))
        .otherwise(col("o_totalprice")).cast(DecimalType(12, 2)).as("p"))
    val ref = base.filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("p"))
      .hint("shuffle_hash")
    // answer-sized divergence report → single-partition in-partition
    // sort, NOT a global orderBy: range partitioning's sampling pass
    // re-executes the whole join subtree (no shuffle boundary to
    // resume from; 0.82 vs 0.73 s sf0.1), and coalesce(1) would
    // serialize the probe scan into one task
    graft.streaming.StreamingOps
      .streamingHashDiff(stream, ref, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "p"))
      .repartition(1).sortWithinPartitions("k")
  }

  /** Deterministic continuous-recon observation feed for the streak-alert
    * parity pair: one observation per order row, keyed k = orderkey mod
    * 499, at a unique synthetic instant (epoch 800000000 s + orderkey —
    * orderkeys are unique, so no per-key ts ties and per-key spacing is
    * exactly 499 s, far inside the streaming op's idle grace), mismatch
    * iff the first md5 hex digit of the orderkey text is < 'c' (12/16 of
    * keys — dense enough that ≥threshold runs are common). Content-keyed
    * (no rand()), so both engines and both execution modes derive the
    * identical feed. */
  private[graft] def streakFeedOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      (col("o_orderkey") % 499).as("k"),
      timestamp_seconds(lit(800000000L) + col("o_orderkey")).as("ts"),
      when(substring(md5(col("o_orderkey").cast("string")), 1, 1) < "c", "mismatch")
        .otherwise("match").as("status"))

  /** Batch-parity anchor for the STREAMING consecutive-mismatch alerting
    * surface ([[graft.streaming.StreamingOps.mismatchStreakAlerts]]) —
    * the `recon_stream_hash_diff` recipe applied to custom state: the
    * `flatMapGroupsWithState` op itself is streaming-only (event-time
    * timeout needs a real watermark), so the registry runs its batch
    * twin [[graft.streaming.StreamingOps.streakAlertsBatch]] — provably
    * the same alert semantics, DuckDB-oracled as a gaps-and-islands
    * window — over [[streakFeedOrders]], and StreamingSpec asserts the
    * MemoryStream execution of the seeded feed emits identical rows.
    * Answer-sized alert report → single-partition in-partition sort
    * (the [[streamHashDiffParity]] rule). */
  def streakAlertsParity(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.streakAlertsBatch(streakFeedOrders(spark, dir), 3)
      .repartition(1).sortWithinPartitions("k", "ts")

  /** Null-safe, injection-safe row checksum for the generic recon APIs.
    * Plain `concat_ws` is forgeable two ways: it drops NULLs (rows
    * differing only in which column is null collide), and a value
    * containing the delimiter shifts content between columns
    * (("a|b","c") vs ("a","b|c")). Each value is length-prefixed --
    * "3:a|b" cannot be confused with "1:a" -- and null maps to a
    * prefix-less marker distinct from any length-prefixed string. */
  private[graft] def rowChecksum(cols: Seq[String]): Column =
    rowChecksumOf(cols.map(col))

  /** [[rowChecksum]] over already-built column expressions — the form the
    * fused single-scan harness ops use to checksum BOTH sides' derived
    * columns in one projection. Since round 18 the encoding+digest is
    * the native [[graft.functions.RowChecksumMd5]] expression —
    * byte-identical to the Column spelling
    * `md5(concat_ws("|", coalesce(concat(length(s)::string, ":", s),
    * "~null~"), …))` with `s = CAST(c AS STRING)` that every DuckDB twin
    * still renders (ReconSpec and RowHashProps assert the equivalence
    * on nulls/emoji/pipes and typed columns), but it streams each piece
    * into a thread-local digest inside whole-stage codegen instead of
    * allocating four intermediate strings and a fresh MessageDigest per
    * row — this is the recon engine's per-row hot loop at any scale
    * (2.3x measured on the checksum projection). The columns go in
    * uncast: the typed kernel ([[graft.functions.TypedRowHash]]) writes
    * integral and compact-decimal values' digits itself and casts only
    * the other types, so the length prefix is still the cast string's
    * character count. */
  private[graft] def rowChecksumOf(cols: Seq[Column]): Column =
    graft.functions.RowChecksumMd5.rowChecksumMd5(cols)

  /** Null-safe 64-bit row hash for IN-FLIGHT compares (both sides hashed
    * by this session, nothing persisted): each column contributes its
    * native binary value AND its null flag to the xxhash64 seed chain, so
    * the two [[rowChecksum]] forgeries — null-shift (("a",null) vs
    * (null,"a"); a bare null column is skipped by the chain, its flag is
    * not) and delimiter injection (there is no delimiter: values never
    * meet in one string) — cannot collide. Codegen'd, zero per-row
    * allocation, and the (key, hash) shuffle payload is 8 bytes where the
    * md5 hex form is 32 chars. Cross-engine/persisted artifacts (the
    * [[fingerprintSnapshot]] snapshots a later run or another tool must
    * reproduce) stay on md5. */
  private[graft] def rowHash64(cols: Seq[Column]): Column =
    xxhash64(cols.flatMap(c => Seq(c, c.isNull)): _*)

  /** Map-side (key, hash) projection shared by the two-sided in-flight
    * APIs — [[rowHash64]], not md5: nothing here is persisted, so the
    * cheap codegen'd hash with the 8-byte shuffle payload is the right
    * engineering at any scale. */
  private def keyedChecksum(df: DataFrame, key: String,
                            cols: Seq[String], alias: String): DataFrame =
    df.select(col(key).as("k"), rowHash64(cols.map(col)).as(alias))

  /** Load-window scoping for the two-sided APIs: the predicate lands
    * directly on each scan, so on a partitioned layout it becomes a
    * `PartitionFilters` entry and unrelated load windows are never read
    * (plan-asserted in ReconSpec). This is how the reference's per-window
    * lifecycle runs: reconcile ONE load window, not the whole history. */
  private def windowed(df: DataFrame, window: Option[Column]): DataFrame =
    window.map(df.filter).getOrElse(df)

  /** Two-sided row-hash reconciliation between distinct source and target
    * frames: checksum `cols` on each side map-side (only (key, hash) pairs
    * shuffle, never full rows), join on `key`, count mismatches. At scale,
    * bucket both sides on `key` so the join is co-located. `window` scopes
    * both sides to one load window (partition-prunable). */
  def hashDiffTables(src: DataFrame, tgt: DataFrame,
                     key: String, cols: Seq[String],
                     window: Option[Column] = None): DataFrame =
    keyedChecksum(windowed(src, window), key, cols, "h_src")
      .join(keyedChecksum(windowed(tgt, window), key, cols, "h_tgt"), "k")
      .filter(col("h_src") =!= col("h_tgt"))
      .agg(count(lit(1)).as("mismatches"))

  /** Sample-based reconciliation — the cheap continuous smoke check that
    * runs BEFORE (or instead of, on off days) a full compare at 100 TB:
    * diff only the keys whose content hash falls under the sampling
    * threshold. The sample is CONTENT-keyed (`xxhash64(key, seed)` — the
    * [[graft.ops.Sampling]] discipline), which is what makes sampled
    * recon sound: both sides select EXACTLY the same key set by
    * construction, with no coordination, no broadcast of a key list, and
    * no layout/retry sensitivity — where a `rand()` sample of each side
    * would compare disjoint rows and report garbage. Every downstream
    * cost (shuffle, join, state) shrinks by the fraction; a fraction-f
    * sample catches a corruption touching proportion p of keys with
    * probability 1 − (1 − p)^(f·n), so daily f = 1% on a billion-row
    * table still pins p ≥ 10⁻⁶ with near-certainty. Same full-outer
    * classification as [[hashDiffDetail]], scoped to the sample. */
  def sampleDiff(src: DataFrame, tgt: DataFrame,
                 key: String, cols: Seq[String],
                 fraction: Double, seed: Long = 42L,
                 window: Option[Column] = None): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      s"sampleDiff: fraction must be in (0,1]: $fraction")
    val thresh = lit((fraction * SampleBuckets).toLong)
    def sampled(df: DataFrame) = windowed(df, window)
      .filter(pmod(xxhash64(col(key), lit(seed)), lit(SampleBuckets)) < thresh)
    hashDiffDetail(sampled(src), sampled(tgt), key, cols)
  }

  private val SampleBuckets = 1000000L

  /** Tolerance-based numeric compare — the recon check for columns where
    * bit-exactness is the wrong contract (floating-point re-loads,
    * currency conversion, unit rescaling): counts keys whose numeric
    * value diverges by MORE than `tol` (absolute). The hash compare
    * ([[hashDiffTables]]) flags every representation change; this flags
    * only material divergence. Same scale shape as the hash APIs:
    * map-side (key, value) projections, one key equi-join, `window`
    * prunes both scans to one load window.
    *
    * Null/NaN contract (round-6 advice): a key where exactly one side is
    * null, or exactly one side is NaN, IS a divergence and counts — the
    * naive `abs(a-b) > tol` evaluates to null/false there and would
    * silently report those keys as within tolerance. Null-vs-null and
    * NaN-vs-NaN agree on both sides and do not count. */
  def toleranceDiff(src: DataFrame, tgt: DataFrame, key: String,
                    valueCol: String, tol: Double,
                    window: Option[Column] = None): DataFrame = {
    require(tol >= 0, s"toleranceDiff: tol must be non-negative: $tol")
    windowed(src, window)
      .select(col(key).as("k"), col(valueCol).cast("double").as("v_src"))
      .join(windowed(tgt, window)
        .select(col(key).as("k"), col(valueCol).cast("double").as("v_tgt")), "k")
      // isNull/isnan are never-null predicates, so the three-way OR cannot
      // hide a divergence behind SQL null logic. The numeric clause is
      // gated on neither side being NaN: Spark orders NaN above every
      // double, so abs(NaN-NaN) > tol would be TRUE and double-count the
      // agreeing-NaN case the second clause already cleared.
      .filter((col("v_src").isNull =!= col("v_tgt").isNull)
        || (isnan(col("v_src")) =!= isnan(col("v_tgt")))
        || (!isnan(col("v_src")) && !isnan(col("v_tgt"))
          && abs(col("v_src") - col("v_tgt")) > tol))
      .agg(count(lit(1)).as("mismatches"))
  }

  /** Harness op over [[toleranceDiff]]: original vs whole-dollar-rounded
    * prices at tol 0.3 — only rows whose cents diverge materially
    * (|Δ| ∈ (0.3, 0.5]) count, the rest are within tolerance. Both
    * engines compute the IEEE-double difference of identical stored
    * doubles, so the boundary compare is bit-stable. */
  def toleranceDiffDemo(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    toleranceDiff(o, o.withColumn("o_totalprice", round(col("o_totalprice"), 0)),
      "o_orderkey", "o_totalprice", tol = 0.3)
  }

  /** Schema-drift check — the column-level contract compare a recon tool
    * runs before any data compare: one row per column present on either
    * side, with both types and a status (type_mismatch / missing_in_target
    * / extra_in_target / ok). Pure metadata, no scan. */
  def schemaDrift(src: DataFrame, tgt: DataFrame): DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    schemaStatuses(src, tgt).toDF("column", "src_type", "tgt_type", "status")
  }

  /** Per-column (name, src type, tgt type, status) — pure metadata, shared
    * by [[schemaDrift]] and [[reconcileAll]]'s drift check. */
  private def schemaStatuses(src: DataFrame, tgt: DataFrame): Seq[(String, String, String, String)] = {
    val s = src.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val t = tgt.schema.map(f => f.name -> f.dataType.simpleString).toMap
    (s.keySet ++ t.keySet).toSeq.sorted.map { c =>
      val status = (s.get(c), t.get(c)) match {
        case (Some(a), Some(b)) if a == b => "ok"
        case (Some(_), Some(_))           => "type_mismatch"
        case (Some(_), None)              => "missing_in_target"
        case _                            => "extra_in_target"
      }
      (c, s.get(c).orNull, t.get(c).orNull, status)
    }
  }

  /** Reconciliation report — the reference's §0.5 "report emission"
    * surface: one summary row per check (rowcount, column aggregate,
    * null count, row-hash), each with source/target values and pass flag.
    * Target side simulates a bad load (rounded prices), so the report
    * shows exactly which checks localize it. */
  def report(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // Target side simulates the bad load row-locally (rounded prices), so
    // every check — including the row-hash compare, since o_orderkey is
    // unique and both sides derive from the same row — reduces to ONE
    // multi-aggregate pass over one scan. The round-8 form ran each check
    // as its own scan→agg pipeline (4 checks × 2 sides ⇒ 9 jobs of the
    // same 150 k-row file); fused it is a single job, and the report rows
    // fall out of a row-local explode of the 1-row aggregate (the
    // [[reconcileAll]] shape). For genuinely two-sided reports over
    // distinct tables, [[reconcileAll]] IS the surface — one scan per
    // side, one join per pair.
    def chk(name: String, v: Column, tgtV: Column, ok: Column) =
      struct(lit(name).as("check"), v.as("src_v"), tgtV.as("tgt_v"), ok.as("ok"))
    o.agg(
        count(lit(1)).cast("double").as("cnt"),
        decSum(col("o_totalprice")).as("sum_src"),
        decSum(round(col("o_totalprice"), 0)).as("sum_tgt"),
        count(when(col("o_custkey").isNull, 1)).cast("double").as("nulls"),
        count(when(ordersRowHash(col("o_totalprice"))
          =!= ordersRowHash(round(col("o_totalprice"), 0)), 1))
          .cast("double").as("mism"))
      .select(explode(array(
        chk("hash_mismatches", col("mism"), lit(0.0), col("mism") === lit(0.0)),
        // src ≡ tgt for these two BY CONSTRUCTION (the demo target
        // derives row-locally from the same rows), so the pass flag is
        // the literal truth, not a self-comparison: `c === c` spellings
        // fired Spark's trivially-true-predicate WARN on every run,
        // and a warning class that cries on known-benign sites hides
        // the day a real silently-true join predicate appears
        chk("null_custkey", col("nulls"), col("nulls"), lit(true)),
        chk("rowcount", col("cnt"), col("cnt"), lit(true)),
        chk("sum_totalprice", col("sum_src"), col("sum_tgt"),
          col("sum_src") === col("sum_tgt")))).as("c"))
      .select(col("c.check").as("check"), col("c.src_v").as("src_v"),
        col("c.tgt_v").as("tgt_v"), col("c.ok").as("ok"))
      .orderBy("check")
  }

  /** The row-status rule: `status` of each row of a frame carrying
    * (h_src, h_tgt), a side's hash null where that side lacks the key —
    * extra_in_target, missing_in_target, mismatch or match — after the
    * `keep` columns. Both the generic APIs' full-outer joins and the
    * same-base twins' [[sameBaseKeys]] produce that shape. */
  private def classified(keyed: DataFrame, keep: String*): DataFrame =
    keyed.select(keep.map(col) :+
      when(col("h_src").isNull, "extra_in_target")
        .when(col("h_tgt").isNull, "missing_in_target")
        .when(col("h_src") =!= col("h_tgt"), "mismatch")
        .otherwise("match").as("status"): _*)

  /** The per-key (k, h_src, h_tgt) shape for a same-base pair, whose two
    * sides derive ROW-LOCALLY from one scan of `base`: a side's hash is
    * null where the key is absent from that side, exactly what the
    * full-outer join of two (k, h) projections gives when the key is
    * unique — one scan, no join. `carry` columns ride along. */
  private def sameBaseKeys(base: DataFrame, key: Column,
                           inSrc: Column, inTgt: Column,
                           hSrc: Column, hTgt: Column, carry: Column*): DataFrame =
    base.filter(inSrc || inTgt)
      .select(carry ++ Seq(key.as("k"),
        when(inSrc, hSrc).as("h_src"), when(inTgt, hTgt).as("h_tgt")): _*)

  /** The seeded orders diff fixture: the source drops every 991st key,
    * the target drops every 997th and rounds prices, so all three
    * divergence statuses appear. */
  private def ordersDiffKeys(orders: DataFrame): DataFrame =
    sameBaseKeys(orders, col("o_orderkey"),
      col("o_orderkey") % 991 =!= 0, col("o_orderkey") % 997 =!= 0,
      ordersRowHash(col("o_totalprice")),
      ordersRowHash(round(col("o_totalprice"), 0)))

  /** Row-level diff detail — the reference's full §0.3 surface: the actual
    * key sets, not just counts. One full-outer join of map-side (key, hash)
    * pairs, classifying each key as mismatch / missing_in_target /
    * extra_in_target (matches are dropped). At scale both sides should be
    * bucketed on `key` (see [[graft.sources.Sources.writeBucketed]]) so
    * the join co-locates with zero shuffle. */
  def hashDiffDetail(src: DataFrame, tgt: DataFrame,
                     key: String, cols: Seq[String],
                     window: Option[Column] = None): DataFrame =
    classified(keyedChecksum(windowed(src, window), key, cols, "h_src")
      .join(keyedChecksum(windowed(tgt, window), key, cols, "h_tgt"),
        Seq("k"), "full_outer"), "k")
      .filter(col("status") =!= "match")

  /** Harness twin of [[hashDiffDetail]] over [[ordersDiffKeys]]. Prices
    * normalize through DECIMAL(12,2) before hashing.
    *
    * Both sides derive row-locally from the SAME orders row and the join
    * key is unique, so the full-outer join over two filtered projections
    * of one file is equivalent to classifying each base row in place
    * ([[sameBaseKeys]]). One scan, both hashes computed once, no join,
    * and the sort+limit plans as TakeOrderedAndProject — where the
    * round-8 form scanned the file twice and shuffled both hash sets.
    * Distinct-table diffs keep the generic [[hashDiffDetail]] full-outer
    * (parity-tested in ReconSpec). */
  def diffDetail(spark: SparkSession, dir: String): DataFrame =
    classified(ordersDiffKeys(Tables.orders(spark, dir)), "k")
      .filter(col("status") =!= "match")
      .orderBy("status", "k")
      .limit(200)

  /** Registry anchor for the SAMPLE-then-diff recon shape
    * ([[sampleDiff]] — the cheap continuous smoke check at 100 TB):
    * diff only a content-keyed fraction of the key space, so every
    * downstream cost shrinks by f while any key-uniform corruption of
    * rate p ≥ 1/(f·rows) is still caught with near-certainty. The
    * library samples on xxhash64 (cheapest); this harness twin samples
    * on an md5-prefix (first hex digit '0', f = 1/16) SOLELY so the
    * DuckDB oracle can recompute the identical membership — both are
    * content-keyed, which is the actual contract: both sides select
    * exactly the same keys with no coordination (a rand() sample per
    * side would diff disjoint rows and report phantom missing keys).
    *
    * Seeded divergence (the diffDetail recipe, fresh moduli): %97 keys'
    * price rounds (mismatch — unless the price was already integral,
    * which the checksum compare, not the modulus, decides), %101 keys
    * vanish from the target (missing), %89 keys vanish from the source
    * (extra); keys on both drop moduli are in neither side. Both sides
    * derive row-locally from the same orders row, so the op classifies
    * in ONE scan with no join ([[diffDetail]]'s argument); the checksum
    * compare runs the [[rowChecksumOf]] md5 path. Answer-sized summary:
    * per-status sampled-key counts + key span. */
  def sampleDiffOrders(spark: SparkSession, dir: String): DataFrame = {
    val member =
      substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0"
    val srcPrice = when(col("o_orderkey") % 97 === 0,
      round(col("o_totalprice"), 0)).otherwise(col("o_totalprice"))
    classified(sameBaseKeys(Tables.orders(spark, dir).filter(member),
        col("o_orderkey"), col("o_orderkey") % 89 =!= 0,
        col("o_orderkey") % 101 =!= 0, ordersRowHash(srcPrice, rowChecksumOf),
        ordersRowHash(col("o_totalprice"), rowChecksumOf)), "k")
      .groupBy("status")
      .agg(count(lit(1)).as("n_keys"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("status")
  }

  /** Load-freshness audit per event type — the "is the feed alive"
    * check a recon suite runs BEFORE any content compare is meaningful
    * (a stale partition passes every hash check against its equally
    * stale snapshot): per type, the last event instant, staleness
    * behind the corpus-wide latest instant, and the share of the
    * type's rows inside the global last-24h window. `stale` flags
    * types more than 6 h behind — a producer whose feed died shows up
    * here a day before its rowcount drifts.
    *
    * Everything is exact integer microseconds (unix_micros ↔
    * epoch_us): staleness is one truncating integral division (div ≡
    * //), the 24-h share rides [[Exact.ratioRound]], and the presented
    * instant truncates to whole seconds (the §7.4.2 timestamp rule).
    * One 1-row global-max broadcast onto the scan, one type-keyed
    * map-combined aggregate; output rows = event types. */
  def freshness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val g = ev.agg(max(col("us")).as("gmax"))
    val a = ev.crossJoin(broadcast(g))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("us")).as("mus"),
        sum(when(col("us") >= col("gmax") - 86400000000L, 1L)
          .otherwise(0L)).as("n24"),
        first(col("gmax")).as("gmax"))
    a.select(col("event_type"), col("n"),
        date_trunc("second", timestamp_micros(col("mus"))).as("last_ts"),
        expr("(gmax - mus) div 1000000").as("staleness_s"),
        col("n24"),
        ratioRound(col("n24"), col("n"), 6).as("share_last_24h"),
        (expr("(gmax - mus) div 1000000") > 21600L).as("stale"))
      .orderBy("event_type")
  }

  /** Config-driven multi-table reconciliation — the daily-run driver
    * surface: N [[TablePair]] entries in, ONE consolidated report out
    * (table, check, src_v, tgt_v, ok; six checks per pair: rowcount,
    * hash_mismatch, missing_in_target, extra_in_target, dup_keys,
    * schema_drift).
    *
    * All five data checks fall out of a single full-outer join of the
    * per-key (checksum, row count) aggregates — one scan per side and one
    * key shuffle per pair, NOT one job per check; the one-row agg is then
    * unpivoted row-locally (explode of a 6-struct array — no extra pass,
    * no plan duplication). Each side pre-aggregates per key BEFORE the
    * join (round-6 advice): duplicate keys therefore cannot fan out
    * through the full-outer join and silently inflate every count —
    * rowcount still reports true source rows (the sum of per-key counts),
    * and the dup_keys check reports how many keys are duplicated per side
    * (ok only when both are zero), flagging the broken-precondition
    * condition itself the way reference recon tools do. The pre-aggregate
    * shares the join's hash partitioning on `k`, so it costs no extra
    * exchange. Schema drift is pure metadata. Pairs are independent plans
    * unioned at the end, so a 50-table nightly run is 50 parallel
    * scan→join→agg pipelines; at scale bucket both sides of each pair on
    * its key ([[graft.sources.Sources.writeBucketed]]) and every join
    * co-locates with zero shuffle. */
  def reconcileAll(pairs: Seq[TablePair]): DataFrame = {
    require(pairs.nonEmpty, "reconcileAll: empty config")
    pairs.map(reconcilePair).reduce(_ unionByName _).orderBy("table", "check")
  }

  /** Per-key (checksum, row count) for one side: with unique keys this is
    * the plain map-side projection plus a pass-through agg; with dup keys
    * the checksum of the max-sorting row survives (deterministic) and the
    * count records the fan-in. */
  private def sideChecksum(df: DataFrame, window: Option[Column], key: String,
                           cols: Seq[String], h: String, n: String): DataFrame =
    keyedChecksum(windowed(df, window), key, cols, h)
      .groupBy("k").agg(max(col(h)).as(h), count(lit(1)).as(n))

  private def reconcilePair(p: TablePair): DataFrame = {
    val joined =
      sideChecksum(p.src, p.window, p.key, p.cols, "h_src", "n_src")
        .join(sideChecksum(p.tgt, p.window, p.key, p.cols, "h_tgt", "n_tgt"),
          Seq("k"), "full_outer")
    pairReport(p.name,
      schemaStatuses(p.src, p.tgt).count(_._4 != "ok").toDouble, joined)
  }

  /** Six-check report rows from a per-key (h_src, n_src, h_tgt, n_tgt)
    * frame — the shape both [[reconcilePair]]'s full-outer join and
    * [[reconcileSameBase]]'s single-scan groupBy produce. A side's h/n
    * are null for keys it lacks. */
  private def pairReport(name: String, drift: Double,
                         perKey: DataFrame): DataFrame = {
    def chk(cname: String, v: Column, tgtV: Column, ok: Column) =
      struct(lit(cname).as("check"), v.as("src_v"), tgtV.as("tgt_v"), ok.as("ok"))
    def keys(status: String) =
      count(when(col("status") === status, 1)).cast("double")
    classified(perKey, "n_src", "n_tgt").agg(
        coalesce(sum(col("n_src")), lit(0L)).cast("double").as("src_n"),
        coalesce(sum(col("n_tgt")), lit(0L)).cast("double").as("tgt_n"),
        keys("mismatch").as("mism"),
        keys("missing_in_target").as("miss"),
        keys("extra_in_target").as("extra"),
        count(when(col("n_src") > 1, 1)).cast("double").as("dup_src"),
        count(when(col("n_tgt") > 1, 1)).cast("double").as("dup_tgt"))
      .select(lit(name).as("table"), explode(array(
        chk("rowcount", col("src_n"), col("tgt_n"), col("src_n") === col("tgt_n")),
        chk("hash_mismatch", col("mism"), lit(0.0), col("mism") === 0.0),
        chk("missing_in_target", col("miss"), lit(0.0), col("miss") === 0.0),
        chk("extra_in_target", col("extra"), lit(0.0), col("extra") === 0.0),
        chk("dup_keys", col("dup_src"), col("dup_tgt"),
          col("dup_src") === 0.0 && col("dup_tgt") === 0.0),
        chk("schema_drift", lit(drift), lit(0.0), lit(drift == 0.0)))).as("c"))
      .select(col("table"), col("c.check").as("check"),
        col("c.src_v").as("src_v"), col("c.tgt_v").as("tgt_v"), col("c.ok").as("ok"))
  }

  /** One-scan twin of [[reconcilePair]] for the same-base case: when
    * both sides derive ROW-LOCALLY from one frame (a pre/post-transform
    * audit, or a seeded demo), the per-key (h, n) pair of each side
    * falls out of a single groupBy over the shared scan — side
    * membership and per-side hashes are plain conditional aggregates —
    * so the two side scans, two shuffles, and the full-outer join of
    * the generic path collapse to one scan and one map-side-combined
    * shuffle. Dup detection stays honest (per-key fan-in is counted,
    * not assumed); schema drift is 0 by construction (one schema).
    * Distinct-table recon keeps [[reconcileAll]]. */
  def reconcileSameBase(name: String, base: DataFrame, key: Column,
                        inSrc: Column, inTgt: Column,
                        hSrc: Column, hTgt: Column): DataFrame =
    reconcileKeys(name, sameBaseKeys(base, key, inSrc, inTgt, hSrc, hTgt))

  /** [[reconcileSameBase]] over a [[sameBaseKeys]] frame: one groupBy
    * gives each side's per-key (h, n), a side's n null where it lacks
    * the key. */
  private def reconcileKeys(name: String, keyed: DataFrame): DataFrame =
    pairReport(name, 0.0,
      keyed.groupBy("k")
        .agg(max(col("h_src")).as("h_src"), count(col("h_src")).as("ns"),
          max(col("h_tgt")).as("h_tgt"), count(col("h_tgt")).as("nt"))
        .select(col("h_src"), col("h_tgt"),
          when(col("ns") > 0, col("ns")).as("n_src"),
          when(col("nt") > 0, col("nt")).as("n_tgt")))

  /** Harness twin of [[reconcileAll]]: two pairs with seeded divergence —
    * orders ([[ordersDiffKeys]], scoped to the 1995+ load window) and
    * customer (tgt drops every 500th key). Both pairs' sides derive
    * row-locally from one table, so each rides [[reconcileSameBase]] —
    * one scan and one shuffle per TABLE where the generic config-driven
    * [[reconcileAll]] (the surface for genuinely distinct tables) pays
    * one per SIDE plus a join (parity-tested in ReconSpec). */
  def reconcileAllDemo(spark: SparkSession, dir: String): DataFrame = {
    val orders = reconcileKeys("orders", ordersDiffKeys(Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))))
    val cHash = rowHash64(Seq(
      col("c_name"), col("c_mktsegment"), col("c_acctbal")))
    val customer = reconcileSameBase("customer",
      Tables.customer(spark, dir), col("c_custkey"),
      lit(true), col("c_custkey") % 500 =!= 0, cHash, cHash)
    orders.unionByName(customer).orderBy("table", "check")
  }

  /** Column profile — the recon-tool "profile before compare" surface:
    * one row per column with null count, exact distinct count, and
    * min/max (cast to string so heterogeneous column types share one
    * report schema).
    *
    * Plan: one independent single-column aggregate per column, unioned.
    * Parquet prunes each branch's scan to its one column, so total I/O
    * equals a single all-column pass, while each branch's distinct is a
    * plain two-phase hash agg over ONE value stream. The tempting
    * alternative — one aggregate with N countDistincts — plans as
    * Expand × (N+1): every input row is replicated per distinct column
    * and the partial-agg hash state holds all columns' value sets at
    * once. Measured same-JVM at sf0.1 (orders, 6 columns): 3.0–3.5 s
    * Expand vs 0.41–0.47 s union — 7×. The branches are independent
    * stages, so a cluster runs them concurrently. At 100 TB swap the
    * exact distinct counts for `approx_count_distinct` — the plan shape
    * is unchanged; the exact form is kept here as the oracle baseline. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: no columns")
    cols.map { c =>
      df.select(col(c)).agg(
        count(when(col(c).isNull, 1)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_v"),
        max(col(c)).cast("string").as("max_v"))
        .select(lit(c).as("column"), col("n_nulls"), col("n_distinct"),
          col("min_v"), col("max_v"))
    }.reduce(_ unionByName _).orderBy("column")
  }

  /** Harness op over [[profile]]: all six orders columns. The money
    * column pre-normalizes through DECIMAL(12,2) so its min/max string
    * forms are engine-identical (double→string shortest-repr rules
    * differ across engines; decimal→string does not). */
  def profileOrders(spark: SparkSession, dir: String): DataFrame =
    profile(
      Tables.orders(spark, dir)
        .withColumn("o_totalprice", col("o_totalprice").cast(DecimalType(12, 2))),
      Tables.orders.fieldNames.toSeq)

  /** Key-multiplicity profile — the duplicate-key audit that must run
    * BEFORE any keyed compare is trusted: every join-based recon check
    * (hash diff, missing rows, reconcileAll) silently fans out on
    * duplicate keys and inflates its counts, so the first question about
    * a key column is its multiplicity histogram. Output is one row per
    * multiplicity (1 = unique, 2+ = duplicated) with the number of keys
    * at that multiplicity — a table that stays tiny no matter the input.
    * Two chained hash aggs on the same key: the first shrinks the row
    * stream to one row per key (map-side combinable), the second groups
    * the already-small key stream by count; nothing re-shuffles wide. */
  def keyProfile(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("m"))
      .groupBy(col("m").as("multiplicity"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy("multiplicity")

  /** Harness op over [[keyProfile]]: l_orderkey multiplicities in
    * lineitem (1–7 lines per order in TPC-H-shaped data). */
  def keyProfileLineitem(spark: SparkSession, dir: String): DataFrame =
    keyProfile(Tables.lineitem(spark, dir), "l_orderkey")

  /** Month-over-month aggregate drift — the trend layer over
    * [[partitionDrill]]: per (status, load month), exact-DECIMAL revenue
    * and its relative change vs the previous month. A recon monitor
    * alerts on |mom_change| spikes instead of eyeballing absolute sums.
    * The lag window runs on the POST-aggregate frame (one row per
    * status-month), so the window cost is trivial no matter the input
    * size; the drift ratio divides two exact-sum-derived doubles, so the
    * 6-dp round is bit-stable across engines. */
  def momDrift(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("mo"),
        col("o_orderstatus").as("st"))
      .agg(sum(cents(col("o_totalprice"))).as("rc"))
    val w = Window.partitionBy(col("st")).orderBy(col("mo"))
    m.select(col("mo"), col("st"), uncents(col("rc")).as("rev"),
        // (rev − prev)/prev in exact cents (ratioRound — int/int class)
        ratioRound(col("rc") - lag(col("rc"), 1).over(w),
          lag(col("rc"), 1).over(w), 6).as("mom_change"))
      .orderBy("st", "mo").limit(200)
  }

  /** Keys present in source but absent in target (anti-join).
    *
    * The `shuffle_hash` hint hash-builds the target's key set instead of
    * sort-merging both streams — an anti join probes existence, so the
    * build carries ONLY the pruned join key and the probe side streams
    * unsorted (measured 0.37 → 0.29 s sf0.1). Per-task build is
    * |target keys| / shuffle-partitions, which scales down with the
    * cluster's partition count; if a deployment's target side outgrows
    * that budget, dropping the hint reverts to AQE's sort-merge choice. */
  def missingRows(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir).hint("shuffle_hash"),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n"))

  /** Partition drill-down: counts + sums per load month, to attribute a
    * mismatch to a specific load window. */
  def partitionDrill(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("s"))
      .orderBy("mo")

  /** Order-independent per-partition fingerprint — the unit of
    * INCREMENTAL reconciliation: persist one snapshot per run (a few
    * rows per partition, parquet), and the next run diffs snapshots
    * ([[snapshotDiff]]) to scope the expensive row-level drill
    * ([[hashDiffDetail]] + `window`) to partitions that actually moved.
    * At 100 TB this is the difference between re-verifying the full
    * history nightly and re-verifying one day's loads.
    *
    * Channels per partition, all insensitive to row order and partial-agg
    * grouping: row count, XOR of the 60-bit row-hash prefix (overflow-
    * free; a corruption that swaps two IDENTICAL rows cancels here, which
    * is exactly a no-op change), and the exact sum of the same hashes
    * (duplicate-pair insertions/deletions that XOR away still move the
    * sum and the count). The sum is carried as TWO long sums over the
    * hash's unsigned 32-bit halves — a refinement of a single wide sum
    * (pair equality implies sum equality, and the halves stay primitive
    * in the agg buffer where a DECIMAL(38) sum walks the BigDecimal path
    * per row). Exact while each partition holds < 2³¹ ≈ 2.1×10⁹ rows — a
    * load window bigger than that should be partitioned finer regardless.
    * The hash prefix parses the first 15 md5 hex chars — `conv(_, 16,
    * 10)` here, `'0x' || substr` cast on the DuckDB oracle side,
    * bit-identical. */
  def fingerprintSnapshot(df: DataFrame, partCol: Column,
                          cols: Seq[String]): DataFrame =
    fingerprintOfHash64(df.select(partCol.as("part"),
      conv(substring(rowChecksum(cols), 1, 15), 16, 10).cast("long").as("__h")))

  /** The fingerprint-channel format, in the persisted snapshot's column
    * order: row count, XOR, and the sums of the unsigned high and low
    * 32-bit halves of a long row hash. */
  private val Channels = Seq("n", "fp_xor", "fp_sum_hi", "fp_sum_lo")

  /** The [[Channels]] aggregates of long hash `h`, named with `suffix`.
    * Every channel skips null hashes, so over a side's conditional hash
    * (null for rows that side lacks) they fingerprint that side alone.
    * The split sums stay exact while each partition holds < 2³¹ rows —
    * beyond that a single load window is too coarse to reconcile as one
    * unit anyway. */
  private def channels(h: Column, suffix: String = ""): Seq[Column] =
    Seq(count(h), bit_xor(h), sum(shiftrightunsigned(h, 32)),
      sum(h.bitwiseAND(lit(0xffffffffL))))
      .zip(Channels).map { case (c, name) => c.as(name + suffix) }

  /** The snapshot of a (part, __h long-hash) projection. */
  private def fingerprintOfHash64(keyed: DataFrame): DataFrame = {
    val c = channels(col("__h"))
    keyed.groupBy("part").agg(c.head, c.tail: _*)
  }

  /** Partitions whose fingerprint moved, from per-partition channels
    * suffixed `_prev` and `_curr` (a side's `n` is null where it lacks
    * the partition): `new`, `dropped` or `changed` (any channel
    * differs), with the `keep` columns. Unchanged partitions emit
    * nothing. */
  private def movedParts(perPart: DataFrame, keep: String*): DataFrame =
    perPart.select(col("part") +: (when(col("n_prev").isNull, "new")
        .when(col("n_curr").isNull, "dropped")
        .when(Channels.map(c => col(c + "_prev") =!= col(c + "_curr"))
          .reduce(_ || _), "changed")
        .otherwise("unchanged").as("status")) +: keep.map(col): _*)
      .filter(col("status") =!= "unchanged")

  /** Diff two [[fingerprintSnapshot]] frames → one row per partition
    * whose state moved: `changed` (any channel differs), `new` (absent
    * in prev), `dropped` (absent in curr). Unchanged partitions emit
    * nothing — the output IS the next run's work list. Snapshots are
    * partition-count-sized, so this join is trivially small at any data
    * scale. */
  def snapshotDiff(prev: DataFrame, curr: DataFrame): DataFrame = {
    def side(snap: DataFrame, suffix: String) =
      snap.select(col("part") +: Channels.map(c => col(c).as(c + suffix)): _*)
    movedParts(side(prev, "_prev").join(side(curr, "_curr"), Seq("part"), "full_outer"),
      "n_prev", "n_curr")
  }

  /** Key-space coverage per fixed-width key range — the load-completeness
    * screen: for each bucket of the surrogate-key space, how many keys
    * are present vs the bucket's observed span, and how many are missing
    * inside it. A loader that dropped a file leaves a crater (coverage
    * collapse in one bucket) that a global rowcount hides; TPC-H-style
    * sparse keys show as uniformly partial coverage instead. One
    * two-phase hash agg off the scan (count/min/max per bucket — all
    * partial-aggregable), output bucket-count-sized at any scale;
    * missing = span − present is exact long arithmetic. */
  def keyCoverage(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_orderkey") / 2000).as("key_bucket"))
      .agg(count(lit(1)).as("n_present"),
        min(col("o_orderkey")).as("k_min"), max(col("o_orderkey")).as("k_max"))
      .select(col("key_bucket"), col("n_present"),
        (col("k_max") - col("k_min") + 1).as("span"),
        (col("k_max") - col("k_min") + 1 - col("n_present")).as("n_missing"),
        ratioRound(col("n_present"),
          col("k_max") - col("k_min") + 1, 6).as("coverage"))
      .orderBy("key_bucket")

  /** Population Stability Index per price bucket — the standard
    * distribution-drift metric an ML/recon monitor runs between two
    * snapshots of a numeric column: PSI = Σ (p_src−p_tgt)·ln(p_src/p_tgt)
    * over fixed buckets (>0.2 conventionally = investigate). The harness
    * twin drifts the target deterministically (prices ×1.02 from 1997 on
    * — the snapshotDiffOrders replica pattern), so the op demonstrates a
    * real drift signature against the oracle.
    *
    * One scan: each row emits its (side, bucket) pair through a 2-way
    * explode, collapses map-side to the ≤2·|buckets| cell frame, pivots
    * to per-bucket (n_src, n_tgt), and shares divide the exact total.
    * Fixed-width buckets (50 k) — data-independent edges, so two RUNS
    * are comparable, which is the whole point of a drift monitor.
    * Shares clamp at 1e-6 before the ln (the standard PSI guard for
    * empty cells); all inputs to the float arithmetic are exact integer
    * counts, so both engines compute identical doubles into the 6-dp
    * round. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val price = col("o_totalprice")
    val tgtPrice = when(
      col("o_orderdate") >= lit("1997-01-01").cast("timestamp"),
      price * 1.02).otherwise(price)
    val cells = Tables.orders(spark, dir)
      .select(explode(array(
        struct(lit("src").as("side"), floor(price / 50000).as("bucket")),
        struct(lit("tgt").as("side"), floor(tgtPrice / 50000).as("bucket"))))
        .as("t"))
      .select(col("t.side"), col("t.bucket"))
      .groupBy("bucket")
      .agg(count_if(col("side") === "src").as("n_src"),
        count_if(col("side") === "tgt").as("n_tgt"))
    val total = Tables.orders(spark, dir).agg(count(lit(1)).as("n_total"))
    val ps = greatest(col("n_src").cast("double") / col("n_total"), lit(1e-6))
    val pt = greatest(col("n_tgt").cast("double") / col("n_total"), lit(1e-6))
    cells.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_src"), col("n_tgt"),
        round((ps - pt) * log(ps / pt), 6).as("psi_contrib"))
      .orderBy("bucket")
  }

  /** The per-type half-split cell frame of [[ksDrift]] and
    * [[wassersteinDrift]]: `events` (event_type, t_us, v) drops null
    * values, splits each type at its midpoint instant (side 1 up to and
    * including it, side 2 after; types whose events share one instant
    * drop out) and counts each (type, v) cell per side as c1 and c2. */
  private def halfSplitCells(events: DataFrame): DataFrame = {
    val base = events.where(col("v").isNotNull)
    val bounds = base.groupBy("event_type")
      .agg(min(col("t_us")).as("lo"), max(col("t_us")).as("hi"))
      .where(col("lo") < col("hi"))
      .select(col("event_type"), expr("(lo + hi) div 2").as("mid"))
    val sided = base.join(broadcast(bounds), "event_type")
      .select(col("event_type"), col("v"),
        when(col("t_us") <= col("mid"), 1).otherwise(2).as("side"))
    sided.groupBy("event_type", "v")
      .agg(count_if(col("side") === 1).as("c1"),
        count_if(col("side") === 2).as("c2"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test per event type: the
    * value distribution of each type's FIRST time-half against its
    * SECOND (split at the per-type midpoint instant) — the
    * distribution-shape drift screen that [[psiDrift]]'s fixed buckets
    * can miss (a within-bucket shape shift leaves every PSI cell
    * count unchanged; the KS statistic is bucket-free). `drifted`
    * compares against the 95% two-sample critical value
    * 1.36·√((n1+n2)/(n1·n2)).
    *
    * Exactness: KS = max |CDF₁ − CDF₂| evaluated at observed values is
    * spelled max |cum1·n2 − cum2·n1| / (n1·n2) — INTEGER arithmetic to
    * the very last division (cross products as 38-digit decimals —
    * Spark decimal ≡ DuckDB HUGEINT — so ~10⁹ rows per side cannot
    * overflow), then one double division and the identical
    * critical-value spelling on both engines. Types whose events all
    * share one instant have no second half and drop out (lo < hi
    * guard) — the same-instant corpus would otherwise divide by an
    * empty side on one engine and by zero on the other.
    *
    * Scale shape: per-type bounds broadcast back onto the stream; the
    * (type, value, side) collapse partial-combines map-side to the
    * distinct-value frame; the CDF window sorts only that collapsed
    * frame within each type partition; the final max is a type-sized
    * agg. Nothing row-count-sized sorts or buffers. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = halfSplitCells(Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("t_us"),
        col("value").as("v")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
    // totals ride the SAME type-partitioned window pass as the CDFs
    // (whole-partition frame — sum(c1) over the full partition IS the
    // old totals-branch sum(c1), value-identical by definition): the
    // round-21 restructure. The previous separate `totals` aggregate
    // referenced `cells` a second time, and Spark plans common
    // subtrees by duplication, so the WHOLE events→sided→cells
    // pipeline ran twice (before-plan: 4 parquet scans, 10 exchanges;
    // after: 2 scans, 5 exchanges — guide §7.2 duplicated subtrees,
    // §2.4 same-key window shares the aggregation's partitioning).
    val wAll = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = cells.select(col("event_type"),
      sum(col("c1")).over(w).as("cum1"), sum(col("c2")).over(w).as("cum2"),
      sum(col("c1")).over(wAll).as("n1"), sum(col("c2")).over(wAll).as("n2"))
    val ksRaw = col("ks_num").cast("double") /
      (col("n1").cast("double") * col("n2"))
    cum.groupBy("event_type")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("cum1").cast(Huge) * col("n2")
          - col("cum2").cast(Huge) * col("n1"))).as("ks_num"))
      .select(col("event_type"), col("n1"), col("n2"),
        // the presentation round goes through exact integer half-away
        // arithmetic (the ratioRound class); the critical-value COMPARE
        // keeps the raw identically-spelled double chain — both engines
        // evaluate the same doubles and sqrt is correctly rounded
        ratioRound(col("ks_num"), col("n1").cast(Huge) * col("n2"), 6).as("ks"),
        (ksRaw > lit(1.36) * sqrt((col("n1").cast("double") + col("n2"))
          / (col("n1").cast("double") * col("n2")))).as("drifted"))
      .orderBy("event_type")
  }

  /** 1-D Wasserstein (earth-mover) drift per event type between the
    * first and second time halves — the magnitude-sensitive sibling of
    * [[ksDrift]]: KS reports the worst CDF gap, W₁ integrates ALL of
    * it (W₁ = ∫|F₁−F₂|), so a broad small shift that never trips the
    * KS critical value still moves W₁ proportionally.
    *
    * Exactness: values quantize to 6-dp micro-unit longs, and over the
    * distinct-value grid W₁ = Σᵢ |F₁(vᵢ)−F₂(vᵢ)|·(vᵢ₊₁−vᵢ) clears both
    * denominators as Σ |cum1·n2 − cum2·n1| · gap — pure 128-bit integer
    * arithmetic (DECIMAL(38,0) ≡ HUGEINT, the ksDrift recipe) summed
    * order-free; the two output doubles are single identically-spelled
    * divisions (w1 in value units, w1_norm scaled by the value range).
    * Same structural guards as KS: same-instant types drop via
    * lo < hi, empty sides and zero range drop via the totals filter —
    * identical HAVING on both engines.
    *
    * 100 TB posture: identical to ksDrift — one corpus-sized groupBy
    * to (type, value) cells with map-side partials, everything after
    * windows over the cell frame partitioned by type. */
  def wassersteinDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = halfSplitCells(Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("t_us"),
        Exact.micros(col("value")).as("v")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
    // totals ride the SAME type-partitioned window pass as the CDFs
    // (the ksDrift round-21 restructure — §7.2/§2.4): the old separate
    // `totals` aggregate re-ran the whole events→sided→cells subtree
    // (4 parquet scans, 10 exchanges → 2 scans, 5 exchanges). The
    // whole-partition sums/extrema are value-identical to the old
    // per-type aggregate by definition; its HAVING (n1/n2/rng > 0 —
    // per-type constants) moves verbatim to after the final agg, where
    // the inner join used to enforce it. A type whose cell frame is a
    // single row (rng would be 0) loses all rows to the nxt filter
    // before the agg under BOTH spellings — output identical.
    val wAll = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = cells.select(col("event_type"), col("v"),
      sum(col("c1")).over(w).as("cum1"), sum(col("c2")).over(w).as("cum2"),
      lead(col("v"), 1).over(w).as("nxt"),
      sum(col("c1")).over(wAll).as("n1"), sum(col("c2")).over(wAll).as("n2"),
      (max(col("v")).over(wAll) - min(col("v")).over(wAll)).as("rng"))
    cum.where(col("nxt").isNotNull)
      .groupBy("event_type")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("rng")).as("rng"),
        sum(abs(col("cum1").cast(Huge) * col("n2")
            - col("cum2").cast(Huge) * col("n1"))
          * (col("nxt") - col("v")).cast(Huge)).as("w1num"))
      .where(col("n1") > 0 && col("n2") > 0 && col("rng") > 0)
      .select(col("event_type"), col("n1"), col("n2"),
        // both presentations are exact integer ratios (ratioRound —
        // the int/int tie class); envelope: w1num·2·10⁶ ≤ n1·n2·rng·2·10⁶
        // stays inside DECIMAL(38,0) to ~10¹¹ events per side
        ratioRound(col("w1num"),
          col("n1").cast(Huge) * col("n2") * 1000000L, 6).as("w1"),
        ratioRound(col("w1num"),
          col("n1").cast(Huge) * col("n2") * col("rng"), 6).as("w1_norm"))
      .orderBy("event_type")
  }

  /** The seeded snapshot fixture: last night's snapshot is the clean
    * orders table by load month; tonight's is a bad replica (prices
    * rounded from 1997 on, the 1995-01 load missing). Per orders row:
    * (part, k, h_src, h_tgt) over the in-flight [[rowHash64]] of
    * (o_orderkey, o_custkey, o_orderstatus, [[hashPrice]]), h_tgt null
    * for rows outside the replica. */
  private def ordersSnapshotKeys(spark: SparkSession, dir: String): DataFrame = {
    val month = date_trunc("month", col("o_orderdate"))
    val pSrc = hashPrice(col("o_totalprice"))
    val pTgt = when(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"),
      wholeHashPrice(col("o_totalprice"))).otherwise(pSrc)
    def h(p: Column) = rowHash64(Seq(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), p))
    sameBaseKeys(Tables.orders(spark, dir), col("o_orderkey"), lit(true),
      month =!= lit("1995-01-01").cast("timestamp"), h(pSrc), h(pTgt),
      month.as("part"))
  }

  /** Both sides' [[channels]] per partition from ONE groupBy over a
    * row-local (part, h_src, h_tgt) frame, plus the `extra` aggregates.
    * A side's `n` is nulled where it has no rows in the partition, as
    * the full-outer join of two snapshots leaves it. */
  private def fusedChannels(keyed: DataFrame, extra: Column*): DataFrame = {
    val aggs = channels(col("h_src"), "_prev") ++ channels(col("h_tgt"), "_curr") ++ extra
    keyed.groupBy("part").agg(aggs.head, aggs.tail: _*)
      .withColumn("n_prev", when(col("n_prev") > 0, col("n_prev")))
      .withColumn("n_curr", when(col("n_curr") > 0, col("n_curr")))
  }

  /** Harness twin of snapshot recon over [[ordersSnapshotKeys]]: the diff
    * must name exactly the moved months.
    *
    * The replica derives row-locally from the same orders row, so BOTH
    * snapshots' channels (the [[fingerprintSnapshot]] format over the
    * in-flight [[rowHash64]] — this demo persists nothing, so the
    * portable-md5 form stays with the cross-run API) aggregate in ONE
    * groupBy(month) pass over one scan ([[fusedChannels]]). The round-8
    * form built two snapshot pipelines and full-outer-joined them: two
    * scans, two shuffles, two md5 passes over the same file. Cross-run
    * diffs against a PERSISTED snapshot keep the generic [[snapshotDiff]]
    * (parity-tested in ReconSpec). */
  def snapshotDiffOrders(spark: SparkSession, dir: String): DataFrame =
    movedParts(fusedChannels(ordersSnapshotKeys(spark, dir)), "n_prev", "n_curr")
      .orderBy("part")

  /** Incremental reconciliation end-to-end — the composition the whole
    * snapshot machinery exists for: diff cheap per-partition fingerprints
    * first ([[snapshotDiff]] — partition-count-sized), then run the
    * expensive row-level classification ONLY over partitions that moved.
    * The moved-partition list is tiny by construction, so it broadcasts
    * into a left-semi join that prunes BOTH detail scans (on a
    * partitioned layout this is dynamic partition pruning — unrelated
    * load windows are never read). At 100 TB with one bad daily window,
    * the detail join touches 1/3650 of the table instead of all of it.
    * Both inputs must carry a `part` column; output is the per-partition
    * divergence profile (part, status, n) — missing/extra/mismatch
    * counts attributed to the load window that caused them. */
  def incrementalDiff(src: DataFrame, tgt: DataFrame,
                      key: String, cols: Seq[String]): DataFrame = {
    require(src.columns.contains("part") && tgt.columns.contains("part"),
      "incrementalDiff: both frames must carry a 'part' partition column")
    // Each side's (part, key, row-hash) projection is computed ONCE and
    // materialized (Checkpoint.truncate: one eager job per side over the
    // narrow projection, lineage truncated), then
    // REUSED by both consumers — the snapshot fingerprints and the scoped
    // row-level detail. The round-8 form re-derived it per consumer: four
    // scans and four checksum passes over the same files per run. The
    // hash is the in-flight [[rowHash64]] (both consumers live in this
    // session); a PERSISTED snapshot workflow — write
    // [[fingerprintSnapshot]] nightly, diff against it tomorrow — keeps
    // the portable md5 form. At 100 TB only the detail pass touches raw
    // rows, and only in moved partitions.
    def side(df: DataFrame, alias: String) =
      Checkpoint.truncate(df.select(col("part"), col(key).as("k"),
        rowHash64(cols.map(col)).as(alias)))
    val s = side(src, "h_src")
    val t = side(tgt, "h_tgt")
    val moved = snapshotDiff(
      fingerprintOfHash64(s.select(col("part"), col("h_src").as("__h"))),
      fingerprintOfHash64(t.select(col("part"), col("h_tgt").as("__h"))))
      .select("part")
    def scoped(df: DataFrame) =
      df.join(broadcast(moved), Seq("part"), "left_semi")
    classified(scoped(s).join(scoped(t), Seq("part", "k"), "full_outer"), "part")
      .filter(col("status") =!= "match")
      .groupBy("part", "status").agg(count(lit(1)).as("n"))
      .orderBy("part", "status")
  }

  /** Harness twin of [[incrementalDiff]] over [[ordersSnapshotKeys]]:
    * snapshot, moved-partition work list, scoped detail, ending in the
    * per-month divergence profile.
    *
    * Like [[snapshotDiffOrders]], the demo's target derives ROW-LOCALLY
    * from the same orders row, so BOTH phases of the incremental design
    * collapse into ONE groupBy(month) pass over one scan: the snapshot
    * channels for both sides AND the per-status detail counts
    * (conditional counts of the same row-local status) aggregate
    * together, the moved-partition predicate filters the tiny
    * aggregated frame, and the per-status rows explode row-locally —
    * no join, no broadcast, no second scan (the round-9 form checkpointed
    * each side, built two snapshot pipelines, full-outer-joined them,
    * then re-joined the work list into a scoped detail pass: four+ jobs).
    * Output is bit-identical to routing through [[incrementalDiff]]
    * (parity-tested in ReconSpec). The two-phase pruned design is NOT
    * dead — it lives in the generic [[incrementalDiff]], whose point is
    * the cross-run workflow (diff today's table against a PERSISTED
    * snapshot, re-scan only moved partitions); this op demos the
    * composition in-flight, where one fused pass is strictly cheaper at
    * any scale (the detail counts add a few longs of agg state per
    * partition to a scan the fingerprints pay for anyway). Unmoved
    * partitions carry zero detail by definition. */
  def incrementalDiffOrders(spark: SparkSession, dir: String): DataFrame = {
    val diverged = Seq("extra_in_target", "mismatch", "missing_in_target")
    val perPart = fusedChannels(
      classified(ordersSnapshotKeys(spark, dir), "part", "h_src", "h_tgt"),
      diverged.map(s => count(when(col("status") === s, 1)).as(s)): _*)
    movedParts(perPart, diverged: _*)
      .select(col("part"), explode(array(diverged.map(s =>
        struct(lit(s).as("status"), col(s).as("n"))): _*)).as("e"))
      .select(col("part"), col("e.status").as("status"), col("e.n").as("n"))
      .filter(col("n") > 0)
      .orderBy("part", "status")
  }

  /** Free load metrics via Spark's `Observation` — the recon-native way
    * to fingerprint a load WITHOUT a second scan: `df.observe` attaches
    * accumulator-backed aggregates that the load's own action (the
    * parquet write, the stream sink) computes as a side effect. At
    * 100 TB the alternative — write, then re-scan to profile — doubles
    * the I/O of every load; this costs nothing beyond the write itself.
    * The returned metrics row (rowcount, exact DECIMAL sum, null count,
    * min/max key) is exactly a [[fingerprintSnapshot]]-grade check the
    * next recon run can diff against, available the moment the action
    * finishes. Usage: `val (df2, obs) = observedLoad(df, key, value);
    * df2.write.parquet(...); obs.get`. */
  def observedLoad(df: DataFrame, key: String, valueCol: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      count(lit(1)).as("rows"),
      decSum(col(valueCol)).as("value_sum"),
      count(when(col(valueCol).isNull, 1)).as("value_nulls"),
      min(col(key)).as("key_min"),
      max(col(key)).as("key_max"))
    (observed, obs)
  }

  /** The nine Benford first-digit probabilities log10(1 + 1/d) as
    * LITERALS, not engine log10 calls: libm implementations may differ
    * in the last ulp between engines, and a constant lookup is the
    * deterministic spelling (the oracle carries the identical list). */
  private val BenfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  /** Benford's-law first-digit drift test over `l_extendedprice` —
    * the fraud/corruption screen a financial recon suite runs: a load
    * whose leading-digit mix departs from log10(1+1/d) signals
    * fabricated or truncated amounts (here TPC-H's uniform-ish prices
    * drift by construction — the test exists to catch CHANGE in the
    * statistic between loads). χ² against the literal expectations,
    * per-digit contributions rounded 6-dp then summed as exact
    * micro-unit longs (order-free — the playbook's small-sum
    * determinism trick), df = 8 critical value 15.507 at α = 0.05.
    *
    * First significant digit comes from the DECIMAL(18,4)-unscaled
    * long's leading character — integer-string arithmetic, no float
    * log anywhere. 100 TB posture: one map-side-combined 9-group
    * aggregate over the scan; everything after is 9-row frames and
    * singleton broadcasts. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = BenfordP.toDF("digit", "p")
    val obs = Tables.lineitem(spark, dir)
      .filter(col("l_extendedprice") > 0)
      .select(substring(cents(col("l_extendedprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("o"))
    // build side must be the RIGHT (9-row-aggregated obs) — a broadcast
    // hint on the LEFT of a left-outer join is unsupported (build-left
    // can't preserve unmatched left rows) and only logs a warning
    val j = b.join(broadcast(obs), Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("o"), lit(0L)).as("o"), col("p"))
    val tot = j.agg(sum("o").as("n"))
    val dev = col("o").cast("double") - col("n").cast("double") * col("p")
    val parts = j.crossJoin(broadcast(tot))
      .withColumn("chi2_part",
        round(dev * dev / (col("n").cast("double") * col("p")), 6))
    val ct = parts.agg(
      sum(round(col("chi2_part") * 1e6, 0).cast("long")).as("ctm"))
    parts.crossJoin(broadcast(ct))
      .select(col("digit"), col("o").as("n_obs"),
        ratioRound(col("o"), col("n"), 6).as("obs_share"),
        round(col("p"), 4).as("exp_share"),
        col("chi2_part"),
        round(col("ctm").cast("double") / 1e6, 6).as("chi2_total"),
        (col("ctm").cast("double") / 1e6 > 15.507).as("drifted"))
      .orderBy("digit")
  }

  /** One foreign-key integrity check: rows of `child` whose non-NULL
    * `key` has no match in `parent.pkey` (a left-anti join — the
    * distributed spelling of NOT EXISTS; NULL keys are not orphans,
    * they are [[keyProfile]]'s department). Emits one row. */
  private def fkCheck(label: String, child: DataFrame, key: String,
                      parent: DataFrame, pkey: String): DataFrame = {
    val orphans = child.filter(col(key).isNotNull)
      .join(parent.select(col(pkey)), col(key) === col(pkey), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    child.agg(count(lit(1)).as("n_rows"))
      .crossJoin(orphans)
      .select(lit(label).as("fk"), col("n_rows"), col("n_orphans"))
  }

  /** Primary-key uniqueness audit across every table in the corpus —
    * [[referentialIntegrity]]'s sibling (keys must be unique before
    * orphan checks mean anything): per declared key, row count,
    * distinct-key count, surplus rows and a uniqueness flag. On the
    * current synthetic corpus this is the op that REPORTS lineitem's
    * (l_orderkey, l_linenumber) as non-unique — a real data finding,
    * not a bug.
    *
    * Exactness: all counts exact. The composite key counts DISTINCT
    * STRUCTS on both engines (Spark `countDistinct(struct(...))` ≡
    * DuckDB `count(DISTINCT (a, b))` — the struct is non-NULL even if
    * a field is NULL, unlike multi-arg countDistinct which drops such
    * rows).
    *
    * 100 TB posture: one map-combined count-distinct pass per table
    * (partial dedup before the shuffle), ten 1-row frames unioned. */
  def pkUniqueness(spark: SparkSession, dir: String): DataFrame = {
    def one(label: String, df: DataFrame, key: Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), countDistinct(key).as("n_distinct"))
        .select(lit(label).as("pk"), col("n_rows"), col("n_distinct"))
    val checks = Seq(
      one("customer.c_custkey", Tables.customer(spark, dir), col("c_custkey")),
      one("documents.doc_id", Tables.documents(spark, dir), col("doc_id")),
      one("embeddings.vec_id", Tables.embeddings(spark, dir), col("vec_id")),
      one("events.event_id", Tables.events(spark, dir), col("event_id")),
      one("lineitem.(l_orderkey,l_linenumber)", Tables.lineitem(spark, dir),
        struct(col("l_orderkey"), col("l_linenumber"))),
      one("nation.n_nationkey", Tables.nation(spark, dir), col("n_nationkey")),
      one("orders.o_orderkey", Tables.orders(spark, dir), col("o_orderkey")),
      one("part.p_partkey", Tables.part(spark, dir), col("p_partkey")),
      one("region.r_regionkey", Tables.region(spark, dir), col("r_regionkey")),
      one("supplier.s_suppkey", Tables.supplier(spark, dir), col("s_suppkey")))
    checks.reduce(_ unionByName _)
      .select(col("pk"), col("n_rows"), col("n_distinct"),
        (col("n_rows") - col("n_distinct")).as("n_extra_rows"),
        (col("n_rows") === col("n_distinct")).as("is_unique"))
      .orderBy("pk")
  }

  /** Full referential-integrity audit over the star schema's seven
    * foreign-key edges — the recon op a warehouse runs after every
    * load: per edge, row count, orphan count (non-NULL keys with no
    * parent), orphan rate and an intact flag.
    *
    * Everything is an exact count; the rate is one identically-spelled
    * double division. 100 TB posture: each edge is ONE left-anti join
    * on its key (AQE picks broadcast vs shuffle per parent size —
    * fact-derived parents are never pinned), each fact scans once per
    * edge with only its key column read, and every branch collapses to
    * a 1-row frame before the 7-row union. */
  def referentialIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val checks = Seq(
      fkCheck("customer.c_nationkey -> nation",
        Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"),
      fkCheck("lineitem.l_orderkey -> orders",
        Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey"),
      fkCheck("lineitem.l_partkey -> part",
        Tables.lineitem(spark, dir), "l_partkey",
        Tables.part(spark, dir), "p_partkey"),
      fkCheck("lineitem.l_suppkey -> supplier",
        Tables.lineitem(spark, dir), "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"),
      fkCheck("nation.n_regionkey -> region",
        Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir), "r_regionkey"),
      fkCheck("orders.o_custkey -> customer",
        Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"),
      fkCheck("supplier.s_nationkey -> nation",
        Tables.supplier(spark, dir), "s_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
    checks.reduce(_ unionByName _)
      .select(col("fk"), col("n_rows"), col("n_orphans"),
        // an empty child table has no orphan rate (0/0 is the NaN-vs-
        // NULL engine split) — NULL on both engines instead
        when(col("n_rows") > 0,
          ratioRound(col("n_orphans"), col("n_rows"), 6))
          .as("orphan_rate"),
        (col("n_orphans") === 0).as("intact"))
      .orderBy("fk")
  }
}
