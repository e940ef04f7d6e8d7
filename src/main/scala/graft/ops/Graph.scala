package graft.ops

import graft.{Memo, Tables}
import graft.Checkpoint.truncate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Exact.Huge

/** Connected components over a near-duplicate pair list — the clustering
  * step a dedup pipeline runs AFTER MinHash/SimHash emit candidate
  * pairs: transitive closure groups pairs into clusters, then one
  * canonical document survives per cluster. (Pairwise output alone
  * over-deletes: a~b and b~c must not delete both b and c against
  * different survivors.)
  *
  * Algorithm: min-label propagation. Every node starts labeled with its
  * own id; each round takes the min of its own and its neighbors'
  * labels; at convergence every node carries the min id of its
  * component. All state lives in DataFrames — the driver holds only the
  * loop counter and a scalar changed-count per round (the same contract
  * as [[Vectors]]' distributed k-means; no node data ever concentrates).
  *
  * 100 TB posture: one shuffle join per round, rounds bounded by the
  * component DIAMETER — near-dup clusters are dense and shallow (a
  * flood of k identical docs has diameter 1), so a handful of rounds
  * closes real corpora; `maxIter` caps pathological chains.
  */
object Graph {

  /** (id, label) for every node appearing in `pairs`(a_id, b_id), where
    * label = min id of the node's connected component.
    *
    * Throws `IllegalStateException` if labels are still changing when
    * `maxIter` is exhausted (round-6 advice): a capped run has components
    * split across multiple labels, so returning it silently would make a
    * downstream dedup report wrong canonical ids and cluster sizes with
    * no signal. Raise `maxIter` (rounds needed ≤ component diameter) on
    * failure — real near-dup clusters are dense and shallow, so hitting
    * the cap means the pair graph contains a pathological chain worth
    * seeing, not suppressing. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    require(maxIter > 0, s"connectedComponents: maxIter must be positive: $maxIter")
    val edges = truncate(pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionByName(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .distinct())
    // Size-gated broadcast for the per-round joins (round-20 Probe
    // decomposition): the checkpointed label frame is a LogicalRDD
    // carrying its origin plan's ESTIMATED statistics (terabytes for
    // a few thousand rows), so AQE never discovers that a small graph's
    // label/neighbor-min frames are broadcastable and every round pays
    // full shuffle-join exchanges — on the sf0.1 strong co-purchase
    // graph (14k undirected edges, 6k nodes, 8 rounds) that is most of
    // the op (same-JVM: 2.08 → 1.77 min with the hint, q1 control
    // 0.41). The gate is a MEASURED edge count off the just-
    // materialized blocks (~ms scan): labels/nbrMin hold ≤ 2·edges
    // rows, so under the gate the broadcast build is ≤ ~16 MB; above
    // it the plan is byte-identical to before — at 100 TB the gate
    // fails and the loop keeps its shuffle-join shape. Two-hop,
    // pointer-jump and skip-the-union-distinct variants all measured
    // SLOWER (2.19 / 2.74 / 3.71 vs 1.77 — the non-deduped union
    // checkpoints into 2× tiny partitions and doubles per-round
    // tasks); numbers in OPTIMIZATION_r21.md's Probe appendix.
    val gateBcast = edges.count() <= CcBroadcastEdgeGate
    def gated(df: DataFrame): DataFrame = if (gateBcast) broadcast(df) else df
    // labels init stays LAZY off the materialized edge frame (one-hop
    // lineage, a cheap distinct) — round 11 checkpointed it too, paying
    // a whole extra materialization job for a frame round 1 rebuilds
    // anyway; round 1's own checkpoint truncates the lineage
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(gated(labels.select(col("id").as("v"), col("label").as("vl"))), "v")
        .groupBy(col("u").as("id")).agg(min(col("vl")).as("nl"))
      // carry the previous label through the round so the change count
      // needs no second full-label-set shuffle join; the count itself
      // rides the checkpoint's materialization job as an `observe`
      // metric (round 12) — one Spark job per round instead of the
      // round-11 checkpoint-then-count pair, which halved the loop's
      // fixed job overhead at test SF and saves a full scan of the
      // label set per round at scale.
      // Round-20: materialize (checkpoint + observe) only every SECOND
      // round — min-label propagation is monotone, so a round that
      // moves zero labels is a fixpoint regardless of when it is
      // checked, and the odd rounds chain lazily into the next
      // materialization (2-round lineage, ~5 operators — the pagerank
      // every-4th-round lesson applied at the cadence the convergence
      // check allows). Worst case runs ONE extra no-op round past
      // convergence, whose joins ride the same materialization job;
      // output is identical (propagation is confluent, extra rounds
      // are no-ops past the fixpoint).
      iter += 1
      val next = labels.join(gated(nbrMin), Seq("id"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          col("label").as("prev"))
      if (iter % 2 == 0 || iter == maxIter) {
        val obs = new org.apache.spark.sql.Observation()
        val ckpt = truncate(
          next.observe(obs,
            sum(when(col("label") =!= col("prev"), 1L).otherwise(0L)).as("moved")))
        changed = Option(obs.get("moved")).map(_.asInstanceOf[Long]).getOrElse(0L)
        labels = ckpt.drop("prev")
      } else labels = next.drop("prev")
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents: labels still changing after maxIter=$maxIter rounds " +
          s"($changed nodes moved last round) — output would split components; raise maxIter")
    labels
  }

  /** Edge-count gate under which [[connectedComponents]] broadcasts the
    * per-round label / neighbor-min frames (each ≤ 2·edges rows, so the
    * broadcast build stays ≤ ~16 MB at the gate): a measured count of
    * the just-materialized edge blocks, NOT a pinned broadcast — at
    * 100 TB the gate fails and every round keeps the shuffle-join
    * shape AQE would pick for big frames (the round-14 fact-derived-
    * frame broadcast rule). */
  private[graft] val CcBroadcastEdgeGate = 500000L

  /** Union-find over an ANSWER-SIZED pair list (driver-side). Only legal
    * when the caller can PROVE the input is bounded — here the pair list
    * is the output of a `limit(n)` plan, so collecting it moves at most
    * n 16-byte rows, the same class as the repo's other answer-sized
    * plan-time collects. Unbounded pair streams must go through
    * [[connectedComponents]]; this path exists because a 4-round
    * DataFrame loop over a ≤100-row frame is pure fixed job overhead
    * (measured ~0.45 s at sf0.1 vs ~0 for the local fold). */
  private[graft] def unionFindLocal(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Per-JVM memo of the collected dup-pair list — the round-21
    * eager-construction item (planall: dedup_clusters 0.334 s +
    * dedup_savings 0.424 s of construction jobs per call, each
    * re-running the minhash top-100 collect). The pair list is a
    * derived candidate INPUT read as a dictionary by the two cluster
    * ops (the bpe_merges→bpe_segment discipline: `dedup_minhash`, the
    * op whose output the list derives from, always re-computes its
    * frame and never reads this memo); both consumers still run their
    * own per-call work from it (union-find + toDF for clusters, the
    * broadcast label join + corpus agg for savings). Keyed by
    * (session, dir) with the documents relation IDENTITY as the
    * staleness check — a corpus regen misses naturally. */
  private[graft] val minhashPairsMemo =
    new Memo[(SparkSession, String), Seq[(Long, Long)]]("Graph.minhashPairs")

  /** The uncached build the memo holds (spec-auditable). */
  private[graft] def minhashClusterPairsBuild(spark: SparkSession,
                                              dir: String): Seq[(Long, Long)] =
    Text.dedupMinhash(spark, dir)
      .filter(col("est_jaccard") >= 0.8)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The answer-sized dup-pair list behind [[dedupClusters]] and
    * [[dedupSavings]]: dedupMinhash's top-100 frame at est ≥ 0.8,
    * collected. ONE definition on purpose (the saltedSourcePairs
    * lesson) — a threshold or contract tune reaches both ops. */
  private def minhashClusterPairs(spark: SparkSession,
                                  dir: String): Seq[(Long, Long)] =
    minhashPairsMemo((spark, dir), Tables.documents(spark, dir)) {
      minhashClusterPairsBuild(spark, dir)
    }

  /** Harness op: MinHash candidate pairs at estimated Jaccard ≥ 0.8 →
    * components → one row per dup cluster with its size and canonical
    * (minimum) doc id. The pair list is `dedupMinhash`'s top-100 frame —
    * answer-sized by construction (a `limit`) — so the transitive
    * closure runs as a driver-side union-find over ≤100 edges instead
    * of paying the distributed loop's per-round job overhead; an
    * unbounded pair stream (the 100 TB path) uses
    * [[connectedComponents]], which stays the tested scale
    * implementation. Both produce min-label components, asserted
    * equivalent in GraphSpec. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashClusterPairs(spark, dir)
    val clusters = unionFindLocal(pairs).groupBy(_._2)
      .map { case (label, members) => (label, members.size.toLong) }.toSeq
      .sortBy { case (label, size) => (-size, label) }.take(100)
    import spark.implicits._
    clusters.toDF("canonical_id", "cluster_size")
  }

  /** What acting on [[dedupClusters]] actually BUYS — per cluster: the
    * canonical (min-id) representative kept, every other member
    * deleted, and the characters that deletion saves. The missing last
    * step of the dedup story (detect → cluster → ACT): dedup_audit
    * says how much duplication exists, this says what removing it is
    * worth, ranked by savings. Same answer-sized union-find over the
    * minhash top-100 pair frame as dedupClusters (an unbounded stream
    * goes through [[connectedComponents]]); the label map joins back
    * BROADCAST (≤ 2·pairs rows by construction) onto the documents
    * scan, and the agg is cluster-sized. All integers — lengths, sums,
    * counts — nothing to round. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashClusterPairs(spark, dir)
    import spark.implicits._
    val lab = unionFindLocal(pairs).toSeq.toDF("doc_id", "canonical_id")
    Tables.documents(spark, dir).join(broadcast(lab), "doc_id")
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("cluster_size"),
        sum(length(col("text"))).as("total_chars"),
        sum(when(col("doc_id") =!= col("canonical_id"),
          length(col("text"))).otherwise(0L)).as("saved_chars"))
      .orderBy(desc("saved_chars"), col("canonical_id")).limit(100)
  }

  /** Fixed number of PageRank power iterations — part of the result
    * CONTRACT (the oracle unrolls the same count), not a convergence
    * knob: 8 rounds move the co-purchase ranking well past the 6-dp
    * presentation surface on this graph family. */
  private[graft] val PagerankIters = 8

  /** Node-count gate under which [[pagerankRanks]] broadcasts the
    * node-sized rank/contribution frames into its 8 per-round joins
    * (3 longs/row, so ≤ ~12 MB built at the gate): read off the caps
    * row the iteration already measures, NOT a pinned broadcast — at
    * 100 TB the gate fails and every round keeps the shuffle-join
    * shape (the [[CcBroadcastEdgeGate]] discipline). */
  private[graft] val PrBroadcastNodeGate = 500000L

  /** The iteration core over an arbitrary weighted edge list
    * `(s, t, w)` — separated from the harness op so the spec can drive
    * a hand-built graph through the EXACT production arithmetic and
    * compare against an independent driver-side recount. Returns the
    * FULL `(node, r)` rank frame in rank_ppb units. */
  private[graft] def pagerankRanks(edgesRaw: DataFrame,
                                   iters: Int = PagerankIters,
                                   forceDecimal: Boolean = false): DataFrame = {
    // ow is a per-SOURCE-NODE quantity (Σw over s), so it rides the
    // node-sized rank frame, NOT the edge frame (round-20: the old
    // form joined outw back onto the edges and localCheckpointed that
    // edge-sized frame on EVERY call — a full edge materialization,
    // a distinct for the node set and a caps scan over the edge frame,
    // all per run, all deleted here). groupBy(s) IS the node set (the
    // old distinct over the ow-joined edges produced exactly the keys
    // of this agg), max(w) rides the same pass so the long-envelope
    // caps read off the 1-row head of the NODE-sized frame, and the
    // per-round contribution join gets ow from the rank side — the
    // join output is the same rows and the arithmetic is unchanged,
    // so the integer trajectory is bit-identical (GraphSpec recount).
    // The caps (node count, max w, max ow) ride the checkpoint's
    // materialization job as observe metrics (round-21 continuation —
    // the connectedComponents/kcore observe discipline): the old
    // separate `nodesOw.agg(...).head()` was one more driver action at
    // plan-construction time (the VERDICT #3 eager class), and mw no
    // longer needs to live in the checkpointed frame at all — the
    // observe sees it before the projection drops it.
    val obs = new org.apache.spark.sql.Observation()
    val nodes = truncate(edgesRaw.groupBy(col("s").as("node"))
      .agg(sum("w").as("ow"), max("w").as("mw"))
      .observe(obs, count(lit(1)).as("n"),
        max(col("mw")).as("mw"), max(col("ow")).as("ow"))
      .select(col("node"), col("ow")))
    val caps = obs.get
    val n = caps("n").asInstanceOf[Long] // driver scalar: the node count
    require(n > 0, "pagerankRanks: empty edge list")
    // Allocation gate (round-20, verdict #4 — the row's 4.6–26 s bench
    // VARIANCE is GC churn, not plan cost): the decimal spelling
    // allocates BigDecimals for every one of the ~2.4M join-output rows
    // × 8 rounds, and under ambient contention those GC pauses land in
    // the timed window. When the MEASURED caps off the just-
    // materialized edge frame prove r·85·w and ow·100 fit a long
    // (r ≤ 10⁹ ppb by mass conservation, so w ≤ 1.08·10⁸ and
    // ow ≤ 9.2·10¹⁶ — exactly the documented decimal-path envelope),
    // the contribution runs in PRIMITIVE longs: zero allocation,
    // identical integers (`div` is IntegralDivide → LONG either way,
    // and both operand chains are exact). Past the caps — the ~10⁸
    // co-occurrence corpus the scaladoc names — the 128-bit spelling
    // keeps the op correct; ANSI throws rather than wraps if the gate
    // logic ever goes stale. `forceDecimal` pins the 128-bit spelling
    // so GraphSpec can check both paths agree.
    val longSafe = !forceDecimal &&
      caps("mw").asInstanceOf[Long] <= 100000000L &&
      caps("ow").asInstanceOf[Long] <= 92000000000000000L
    // Per-EDGE arithmetic halved on the long path (round-21
    // continuation, §1.2 per-task work): r·85 and ow·100 are per-NODE
    // quantities, so they compute once per node per round on the
    // rank-side projection ([[pagerankRound]]'s preScale) and the
    // ~2.4M-row contribution stage does ONE multiply + ONE div per edge
    // instead of three multiplies + one div. Bit-identical integers:
    // `r * 85 * w` is left-associative — (r·85)·w — so hoisting (r·85)
    // moves WHERE the same product is computed, never its value, and
    // r·85 ≤ 8.5·10¹⁰ can never overflow a long (r ≤ 10⁹ ppb by mass
    // conservation) while ow·100 is exactly the gated envelope. The
    // decimal (over-envelope) path keeps the unhoisted spelling — ow·100
    // must stay 128-bit there.
    val contribC =
      if (longSafe) expr("r85 * w div ow100")
      else expr(
        "CAST(r AS DECIMAL(38,0)) * 85 * w div (CAST(ow AS DECIMAL(38,0)) * 100)")
    val init = 1000000000L / n
    val base = 150000000L / n
    // Node-count broadcast gate (round-21, verdict #4 — the same
    // measured-gate pattern as [[CcBroadcastEdgeGate]], read off the
    // caps row so it costs NO extra job): the rank/contrib frames are
    // node-sized (3 longs/row, ≤ ~12 MB at the gate) but derive from a
    // checkpointed LogicalRDD whose statistics are its origin plan's
    // terabyte-scale estimates, so the planner gave every
    // one of the 8 contribution joins a full SortMergeJoin — re-sorting
    // and re-exchanging the EDGE-sized side every round. Under the gate
    // the rank side broadcasts (edges are never shuffled at all; the
    // groupBy(t) partial agg collapses to ≤ n rows per partition before
    // its exchange) and the node-sized left-outer builds broadcast too.
    // Above the gate the plan is byte-identical to before — at 100 TB
    // the gate fails and the loop keeps the shuffle-join shape.
    // Arithmetic is unchanged (exact longs, order-free sums), so the
    // integer trajectory is bit-identical (GraphSpec recount).
    val gateB = n <= PrBroadcastNodeGate
    var ranks = nodes.withColumn("r", lit(init))
    for (i <- 1 to iters) {
      // ow rides the rank frame (one extra long on a node-sized frame)
      // so no round ever re-joins outw. Lineage truncates every FOURTH
      // round, not every round (round-20 A/B, quiet windows: per-round
      // 6.9–8.3 / every-2nd 4.8–5.0 / every-4th 4.45–4.58 / never
      // 5.3–7.1 min same-JVM): each eager localCheckpoint is its own
      // job plus a block-manager copy of the frame, and at 8 rounds
      // those materializations, not the joins, were most of the row's
      // cost AND its bench variance. Four un-truncated rounds keep the
      // optimizer's tree small (~12 operators) while the groupBy
      // shuffle boundaries inside it still persist map outputs for
      // failure recovery. Durability follows the deployment, like
      // Spark's PeriodicCheckpointer: with a checkpoint directory set
      // the truncation is a reliable checkpoint, without one its
      // local blocks die with the executor.
      val next =
        pagerankRound(edgesRaw, nodes, ranks, contribC, base, gateB, longSafe)
      ranks = if (i % 4 == 0 || i == iters) truncate(next) else next
    }
    ranks.select(col("node"), col("r"))
  }

  /** ONE contribution round — the loop body of [[pagerankRanks]],
    * separated (the saltedSourcePairs one-definition lesson) so the
    * gate's per-round join shape can be audited as a plan: the final
    * rank frame is checkpoint-truncated, so `explain` on the op shows
    * only an ExistingRDD scan and the round shape would otherwise be
    * uninspectable. */
  private[graft] def pagerankRound(edgesRaw: DataFrame, nodes: DataFrame,
                                   ranks: DataFrame, contribC: Column,
                                   base: Long, gateB: Boolean,
                                   preScale: Boolean = false): DataFrame = {
    def gated(df: DataFrame): DataFrame = if (gateB) broadcast(df) else df
    // preScale (long path only): the per-node r·85 / ow·100 hoist —
    // see the contribC comment in [[pagerankRanks]]. Same join keys,
    // same row count, identical integers.
    val rside =
      if (preScale) ranks.select(col("node"),
        (col("r") * 85).as("r85"), (col("ow") * 100).as("ow100"))
      else ranks
    val contrib = edgesRaw.join(gated(rside), col("s") === col("node"))
      .select(col("t"), contribC.as("c"))
      .groupBy(col("t").as("node")).agg(sum("c").as("sm"))
    nodes.join(gated(contrib), Seq("node"), "left_outer")
      .select(col("node"), col("ow"),
        (lit(base) + coalesce(col("sm"), lit(0L))).as("r"))
  }

  /** Diagnostic plan surface for the broadcast gate (ScaleSpec): one
    * UN-truncated round over the harness edges with the gate forced to
    * the given value — `gateB = false` rebuilds the pre-round-21
    * (above-gate) shuffle-join shape verbatim. Literal
    * init/base stand in for the measured scalars; the join/exchange
    * shape does not depend on them. */
  private[graft] def pagerankRoundPlan(spark: SparkSession, dir: String,
                                       gateB: Boolean): DataFrame = {
    val edgesRaw = copurchaseEdges(spark, dir)
    val nodesOw = truncate(edgesRaw.groupBy(col("s").as("node"))
      .agg(sum("w").as("ow"), max("w").as("mw")))
    val nodes = nodesOw.select(col("node"), col("ow"))
    val ranks = nodes.withColumn("r", lit(1000000L))
    pagerankRound(edgesRaw, nodes, ranks,
      expr("r85 * w div ow100"), 1L, gateB, preScale = true)
  }

  /** Per-basket fan-out cap for [[copurchaseEdges]]: the pair build is
    * quadratic PER BASKET, so one thousand-part cart on a real corpus
    * mints ~10⁶ pairs from a single key — the LSH-bucket flood bomb in
    * join clothing ([[graft.ops.Text.MaxBucketDocs]] precedent). The
    * cap keeps the `MaxBasketParts` smallest part ids per basket
    * (deterministic; WindowGroupLimit prunes BEFORE the join's key
    * exchange), bounding any basket's cost at cap². TPC-H baskets hold
    * ≤ 7 parts, so the cap never engages on the oracle corpora
    * (GraphSpec asserts both halves: no-op at ≤ cap, deterministic
    * smallest-id keep above it), and all four DuckDB graph twins MODEL
    * the cap (an interpolated QUALIFY row_number ≤ cap), so the two
    * engines compute the SAME graph on any corpus — an over-cap basket
    * diverges nowhere instead of silently splitting the board. */
  private[graft] val MaxBasketParts = 64

  /** The UNCACHED co-purchase edge plan — [[copurchaseEdges]] is this
    * plus the per-JVM materialization; ScaleSpec audits THIS form (the
    * memoized frame's plan is just the checkpoint scan). */
  private[graft] def copurchaseEdgesPlan(li0: DataFrame): DataFrame = {
    val li = li0.select(col("l_orderkey"), col("l_partkey")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("l_partkey"))
    val capped = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MaxBasketParts).drop("rn")
    val a = capped.toDF("k", "s")
    val b = capped.toDF("k", "t")
    a.join(b, "k").where(col("s") =!= col("t"))
      .groupBy("s", "t").agg(count(lit(1)).as("w"))
  }

  /** Per-JVM memo of the MATERIALIZED edge frame: all four graph ops
    * (pagerank, components, triangles, degree distribution) derive from
    * the same (s, t, w) build, which each used to recompute from scratch
    * (~1.5 s repeated across the sf0.1 battery — the round-14 verdict's
    * top perf_weak cluster). Keyed by the session, the dir AND the
    * IDENTITY of the stamped lineitem relation — the `Tables.relation`
    * memo returns the same instance until the underlying files change,
    * so a corpus regen or a test overwriting its fixture dir naturally
    * misses. A service that churns corpora evicts through
    * [[graft.MemoRegistry.evict]] on retire. */
  private[graft] val edgeMemo =
    new Memo[(SparkSession, String), DataFrame]("Graph.edge")

  /** Directed weighted co-purchase edges: s→t with w = number of order
    * baskets containing both parts (symmetric by construction). Shared
    * by [[pagerankParts]] and [[copurchaseComponents]]. Baskets are
    * capped at [[MaxBasketParts]] parts — see the cap's scaladoc.
    * Materialized once per JVM ([[graft.Checkpoint.truncate]]) and
    * reused by every graph op over the same data. */
  private[graft] def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li0 = Tables.lineitem(spark, dir)
    edgeMemo((spark, dir), li0) {
      // Round-21 continuation NEGATIVE result (recorded so it is not
      // retried): pinning the artifact to numShufflePartitions
      // (REPARTITION_BY_NUM before the checkpoint — the containment
      // §2.5 pattern) was A/B'd same-JVM and LOST: pagerank over the
      // 32-part pinned frame read 3.99 min vs 3.14 over this
      // AQE-coalesced (16-part) build — at this scale factor per-task
      // fixed cost outweighs the extra parallelism, and at 100 TB the
      // artifact is large enough that AQE's advisory sizing already
      // yields full parallelism. The coalesced build stands.
      truncate(copurchaseEdgesPlan(li0))
    }
  }

  /** Fixed oracle depth for [[copurchaseComponents]]: the DuckDB twin
    * unrolls exactly this many min-label rounds, and the Spark side
    * passes it as `maxIter`, whose non-convergence THROW is the
    * coupling that keeps a fixed-depth oracle honest — if a regen ever
    * produces a component of diameter > 24 the board goes loudly red
    * on the Spark side instead of silently diverging (measured
    * convergence on the current corpus family: ≤ 11 rounds at all
    * three SFs, 2× headroom). */
  private[graft] val ComponentsIters = 24

  /** Component-size census of the STRONG co-purchase graph (pairs
    * co-occurring in ≥ 2 order baskets — singleton co-occurrences are
    * noise at any scale): one row per distinct component size with the
    * number of components and the smallest canonical (min-id) label.
    *
    * This is the registry anchor for the DISTRIBUTED
    * [[connectedComponents]] path — the 100 TB clustering shape whose
    * only other registry coverage (`dedup_clusters`) legitimately
    * takes the answer-sized driver shortcut. Here the full
    * min-label-propagation loop runs (one shuffle join per round,
    * per-round lineage truncation, driver holds a loop counter and a
    * changed-count) and its converged labels are DuckDB-oracled via
    * [[ComponentsIters]] unrolled MATERIALIZED CTE rounds — converged
    * min-label fixpoints are canonical, so algorithm-vs-unroll
    * equality is exact. Everything is integer ids and counts: nothing
    * to round anywhere. */
  def copurchaseComponents(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select(col("s").as("a_id"), col("t").as("b_id"))
    connectedComponents(pairs, maxIter = ComponentsIters)
      .groupBy("label").agg(count(lit(1)).as("cs"))
      .groupBy(col("cs").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), min("label").as("min_canonical"))
      .orderBy(desc("cluster_size"), col("min_canonical"))
  }

  /** Triangle census of the strong co-purchase graph (same w ≥ 2 edge
    * set as [[copurchaseComponents]]): total triangles, wedge count and
    * the global clustering coefficient (transitivity = 3·triangles /
    * wedges — how often two parts co-bought with a common third are
    * also co-bought with each other, the standard cohesion statistic
    * of a co-occurrence graph). One summary row.
    *
    * The classic distributed spelling: orient every undirected edge
    * low→high (a < b), build wedges by joining the edge list with
    * itself on the middle vertex (a < b < c guarantees each triangle
    * is generated exactly once as its sorted vertex triple), then
    * close each wedge with a semi-join back to the edge list. Two
    * hash-join shuffles on vertex keys, each map-side combinable —
    * the join-based plan a SQL engine would pick, and the right one at
    * scale (no adjacency lists concentrated per node). Wedges =
    * Σ deg·(deg−1)/2 over the degree frame — exact longs; the one
    * double division is identically spelled. */
  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame = {
    val e = truncate(copurchaseEdges(spark, dir)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select(col("s").as("a"), col("t").as("b")))
    val nEdges = e.count() // driver scalar for the summary row
    // the count above doubles as the census-family broadcast gate
    // (round-20, nodeJaccard's comment): under it the wedge build and
    // the closing semi-join broadcast the edge frame instead of paying
    // shuffle exchanges; above it the shuffle-join shape is unchanged
    val gateB = nEdges <= CcBroadcastEdgeGate
    def gated(df: DataFrame): DataFrame = if (gateB) broadcast(df) else df
    val deg = degreesOf(e)
    val wedgeAgg = deg.agg(
      sum(expr("d * (d - 1) div 2")).as("wedges"),
      count(lit(1)).as("n_nodes"))
    val wedges = e.toDF("a", "b").join(gated(e.toDF("b", "c")), "b")
      .select(col("a"), col("b"), col("c"))
    val triangles = wedges.join(gated(e.toDF("a", "c")), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("triangles"))
    triangles.crossJoin(broadcast(wedgeAgg))
      .select(col("n_nodes"), lit(nEdges).as("n_edges"),
        col("triangles"), col("wedges"),
        when(col("wedges") > 0,
          Exact.ratioRound(col("triangles") * 3, col("wedges"), 6))
          .as("transitivity"))
  }

  /** Degree distribution of the strong co-purchase graph (same w ≥ 2
    * edge set as [[copurchaseComponents]]/[[copurchaseTriangles]]):
    * one row per distinct degree with the node count and share — the
    * first diagnostic of any graph's shape (hub-dominated vs flat),
    * and the input to every power-law eyeball.
    *
    * Everything is exact integers except the share, a single
    * identically-spelled double division rounded at 6 dp. The
    * histogram frame is ≤ max-degree rows; the 1-row node total
    * broadcasts (answer-sized by construction).
    *
    * 100 TB posture: degrees are a map-combinable count over the edge
    * list (each endpoint once — no adjacency concentration), and the
    * distribution collapses node-sized → degree-sized immediately. */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(spark, dir)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select(col("s").as("a"), col("t").as("b"))
    val deg = degreesOf(e)
    val hist = deg.groupBy(col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum(col("n_nodes")).as("tn"))
    hist.crossJoin(broadcast(tot))
      .select(col("degree"), col("n_nodes"),
        Exact.ratioRound(col("n_nodes"), col("tn"), 6)
          .as("node_share"))
      .orderBy("degree")
  }

  /** Endpoint-degree frame of an (a, b) edge list — the map-combinable
    * count every census op shares (one row per endpoint occurrence, no
    * adjacency concentration). */
  private[graft] def degreesOf(e: DataFrame): DataFrame =
    // explode(array(a, b)) — ONE scan of the edge frame feeding the
    // count, where the union spelling scanned it once PER SIDE
    // (round-21 continuation same-JVM A/B: 0.306 vs 0.486 min for the
    // build+agg over the strong edge set; same multiset of endpoint
    // occurrences, so the degree frame is identical row-for-row)
    e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))

  /** Neighborhood Jaccard similarity of connected part pairs in the
    * strong co-purchase graph (same w ≥ 2 edge set as the other graph
    * ops): for each EDGE (a, b), J = |N(a)∩N(b)| / |N(a)∪N(b)| — the
    * "do these two products sell into the same basket neighborhood"
    * score behind substitutability/link-prediction heuristics, one
    * level finer than [[copurchaseTriangles]]' global cohesion number.
    * Top-100 by (jaccard, a, b).
    *
    * Common neighbors per edge use the triangle wedge spelling (join
    * the undirected adjacency on the shared endpoint — two hash-join
    * shuffles, no per-node adjacency lists); degrees are the map-
    * combinable endpoint count; the union clears as deg(a)+deg(b)−
    * common (never 0 on an edge: both degrees ≥ 1). Everything is
    * exact integers; the one ratio presents through
    * [[Exact.ratioRound]], and ORDER BY uses the rounded value (bit-
    * identical on both engines) with the (a, b) tiebreak.
    *
    * 100 TB posture: cost is the wedge frame Σ deg² — bounded by the
    * same [[MaxBasketParts]] cap that bounds the triangle census; a
    * hub-heavy graph caps per-node neighbor lists upstream, not here. */
  def nodeJaccard(spark: SparkSession, dir: String): DataFrame = {
    val e = truncate(copurchaseEdges(spark, dir)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select(col("s").as("a"), col("t").as("b")))
    // Measured broadcast gate (round-20, the CcBroadcastEdgeGate
    // precedent spread to the census family): the checkpointed edge
    // frame is a LogicalRDD carrying its origin plan's ESTIMATED stats
    // (2.7–4.1 TiB for thousands of rows), so AQE never discovers that
    // a small graph's adjacency / degree / common-count frames (each
    // ≤ 2·edges rows) are broadcastable, and all five joins here paid
    // full shuffle exchanges. The count is a ~ms scan of the
    // just-materialized blocks; above the gate the plan is
    // byte-identical shuffle joins — at 100 TB the gate fails and
    // nothing is pinned broadcast.
    val gateB = e.count() <= CcBroadcastEdgeGate
    def gated(df: DataFrame): DataFrame = if (gateB) broadcast(df) else df
    val adj = e.select(col("a").as("v"), col("b").as("n"))
      .unionByName(e.select(col("b").as("v"), col("a").as("n")))
    val deg = degreesOf(e)
    val common = e
      .join(gated(adj.select(col("v").as("a"), col("n").as("x"))), "a")
      .join(gated(adj.select(col("v").as("b"), col("n").as("x"))), Seq("b", "x"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    e.join(gated(common), Seq("a", "b"), "left_outer")
      .na.fill(0L, Seq("common"))
      .join(gated(deg.select(col("v").as("a"), col("d").as("deg_a"))), "a")
      .join(gated(deg.select(col("v").as("b"), col("d").as("deg_b"))), "b")
      .select(col("a"), col("b"), col("deg_a"), col("deg_b"), col("common"),
        Exact.ratioRound(col("common"),
          col("deg_a") + col("deg_b") - col("common"), 6).as("jaccard"))
      .orderBy(desc("jaccard"), col("a"), col("b")).limit(100)
  }

  /** Fixed oracle depth for [[kcoreSummary]]: the DuckDB twin unrolls
    * exactly this many peel rounds, and the Spark loop throws past it
    * (the ComponentsIters coupling). Peeling is confluent — once the
    * Spark side converges in ≤ this many rounds, extra oracle rounds
    * are no-ops, so fixed-depth equality is exact. Measured depth on
    * the current corpus family: ≤ 10 rounds (sf0.01's 935-node 3-core
    * is the deepest; sf0.1's strong graph fully peels in 2), so 24
    * keeps the ComponentsIters-style ≥ 2× headroom against a regen
    * with a longer peel cascade. */
  private[graft] val KcoreIters = 24

  /** The k of the k-core — a SHARED constant (round-16 advice), not a
    * free parameter: the unrolled [[graft.SparkEntry]] kcoreSql twin
    * renders its `d < k` peel predicate and output column from this
    * value, so an op-side k the oracle did not also get would silently
    * break cross-engine parity. Change it HERE and the oracle text
    * follows. */
  private[graft] val KcoreK = 3

  /** k-core summary of the strong co-purchase graph (k = 3): peel
    * nodes of degree < k until none remain, report the surviving core
    * — nodes, edges, minimum core degree (≥ k by construction) and the
    * rounds the peel took. The k-core is the standard "dense nucleus"
    * screen over a co-occurrence graph: triangles say how clustered
    * the graph is, the 3-core says how much of it survives when every
    * weakly-attached product is stripped (recursively — a node kept
    * only by other peeled nodes peels too, which no single degree
    * histogram can tell you).
    *
    * Distributed spelling: each round one map-combinable degree
    * aggregate over the current edge frame + two left-anti joins
    * against the (small) sub-k node set, lineage truncated per round
    * ([[connectedComponents]]' discipline); the driver holds only the
    * loop counter and the per-round sub-k count. Rounds are data-
    * bounded (each peels ≥ 1 node or stops) and the [[KcoreIters]]
    * throw keeps the fixed-depth oracle honest. All-integer output —
    * nothing rounds. */
  def kcoreSummary(spark: SparkSession, dir: String): DataFrame = {
    val k = KcoreK
    var e = truncate(copurchaseEdges(spark, dir)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select(col("s").as("a"), col("t").as("b")))
    var deg = degreesOf(e)
    var rounds = 0
    var converged = false
    while (!converged) {
      // the sub-k count rides the materialization job as an observe
      // metric (round-20 — the connectedComponents observe discipline):
      // the old spelling paid a separate isEmpty action per round
      val obs = new org.apache.spark.sql.Observation()
      val bad = truncate(deg.filter(col("d") < k).select("v")
        .observe(obs, count(lit(1)).as("nbad")))
      val nbad = Option(obs.get("nbad")).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (nbad == 0) converged = true
      else {
        // throw only when a FURTHER peel past the oracle depth is
        // actually needed: a graph converging in exactly KcoreIters
        // rounds is inside the unrolled oracle's reach (review catch —
        // the old top-of-loop guard rejected it one round early)
        if (rounds >= KcoreIters)
          throw new IllegalStateException(
            s"kcore peel did not converge in $KcoreIters rounds — raise " +
              "Graph.KcoreIters AND regenerate the unrolled oracle depth")
        // the measured nbad gates the anti-joins to broadcast (the
        // census-family gate): a small peel set builds a ≤ ~16 MB hash
        // side and the edge frame never exchanges; a 100 TB round that
        // peels more than the gate keeps the shuffle anti-join shape
        val badSide = (c: String) =>
          if (nbad <= CcBroadcastEdgeGate) broadcast(bad.select(col("v").as(c)))
          else bad.select(col("v").as(c))
        e = truncate(
          e.join(badSide("a"), Seq("a"), "left_anti")
            .join(badSide("b"), Seq("b"), "left_anti")
            .select("a", "b"))
        rounds += 1
        deg = degreesOf(e)
      }
    }
    // `deg` is the final round's frame — no post-loop recompute
    val nodeAgg = deg.agg(
      count(lit(1)).as("core_nodes"), min(col("d")).as("min_core_degree"))
    e.agg(count(lit(1)).as("core_edges"))
      .crossJoin(broadcast(nodeAgg))
      .select(lit(k).as("k"), lit(rounds.toLong).as("rounds"),
        coalesce(col("core_nodes"), lit(0L)).as("core_nodes"),
        col("core_edges"),
        col("min_core_degree"))
  }

  /** Degree assortativity of the strong co-purchase graph — the SHAPE
    * statistic completing the family (pagerank = centrality,
    * components = reachability, triangles = cohesion, kcore = nucleus,
    * node_jaccard = local similarity): Newman's r = Pearson
    * correlation of endpoint degrees over the directed edge list
    * (each undirected edge in both orientations). r < 0 =
    * hub-and-spoke (high-degree nodes attach to low-degree ones —
    * typical of co-occurrence graphs), r > 0 = core-periphery
    * layering.
    *
    * Exactness: the symmetric double-counting makes the x and y
    * marginals IDENTICAL, so Pearson's two sqrt factors collapse into
    * one integer denominator — r = (M·Sxy − Sx²) / (M·Sxx − Sx²) with
    * every term an exact DECIMAL(38,0) ≡ HUGEINT integer and ONE
    * [[Exact.ratioRound]] presentation. No sqrt, no double, no tie
    * class anywhere — rare for a correlation statistic. NULL when the
    * denominator is 0 (degree-regular graph: zero variance).
    *
    * 100 TB posture: two broadcast-joinable degree lookups onto the
    * edge frame (degrees are map-combinable endpoint counts), one
    * 1-row aggregate. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(spark, dir)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select(col("s").as("a"), col("t").as("b"))
    // census-family measured broadcast gate (round-20, see nodeJaccard):
    // one cheap filter-count off the memoized edge blocks; under the
    // gate both degree lookups broadcast, above it the shuffle joins
    // the scaladoc describes are unchanged
    val gateB = e.count() <= CcBroadcastEdgeGate
    def gated(df: DataFrame): DataFrame = if (gateB) broadcast(df) else df
    val deg = degreesOf(e)
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val dd = e.join(gated(deg.select(col("v").as("a"), col("d").as("da"))), "a")
      .join(gated(deg.select(col("v").as("b"), col("d").as("db"))), "b")
    val agg = dd.agg(
      count(lit(1)).as("ne"),
      sum((col("da") + col("db")).cast(Huge)).as("sx"),
      sum(col("da").cast(Huge) * col("da")
        + col("db").cast(Huge) * col("db")).as("sxx"),
      sum(col("da").cast(Huge) * col("db")).as("sxy_half"))
    val m = col("ne").cast(Huge) * 2
    val num = m * (col("sxy_half") * 2) - col("sx") * col("sx")
    val den = m * col("sxx") - col("sx") * col("sx")
    agg.crossJoin(broadcast(nodes))
      .select(col("n_nodes"), col("ne").as("n_edges"),
        when(den > 0, Exact.ratioRound(num, den, 6))
          .as("assortativity"))
  }

  /** Weighted PageRank over the part co-purchase graph: nodes are
    * parts, a directed edge s→t weighted by the number of orders whose
    * baskets contain both s and t (symmetric by construction, so the
    * graph has no dangling nodes and no rank mass escapes). Damping
    * 0.85, [[PagerankIters]] power iterations, top 20 parts by rank.
    *
    * Every rank is an exact INTEGER in parts-per-billion of total mass
    * (the playbook's micro-unit-long discipline, taken to its
    * conclusion: the entire iteration is integer arithmetic, so the
    * trajectory is bit-identical on any engine and any partitioning):
    * init = 1e9/N (integer division), per-edge contribution
    * r·85·w div (ow·100) with 128-bit intermediates (DECIMAL(38,0) ≡
    * DuckDB HUGEINT — r·85·w overflows a long once an edge co-occurs
    * in ~10⁸ orders, which a 100 TB corpus reaches), new rank =
    * 0.15e9/N + Σ contributions (an exact long sum — order-free, so
    * map-side partial aggregation stays legal). Truncation loses <1%
    * of total mass over 8 rounds (measured 0.994e9 at sf0.1) and is
    * part of the contract, applied identically in the oracle.
    *
    * 100 TB posture: basket pairing is quadratic in basket size
    * (bounded at 7 lineitems in TPC-H; a real corpus caps baskets
    * first — the skew_profile op is the audit for that). The edge
    * frame materializes ONCE (the per-JVM [[copurchaseEdges]]
    * checkpoint — callers of the bare iteration core pass a
    * materialized frame, since the loop scans it every round) and is
    * reused by all 8 rounds; each round is one broadcast-or-shuffle
    * join of the node-sized rank frame against edges plus a groupBy(t) whose
    * partial sums collapse to ≤N rows per partition before the
    * shuffle. Ranks are NOT force-broadcast (fact-derived — the
    * round-14 broadcast rule): AQE sees the checkpointed frame's real
    * size each round and picks broadcast while N is small, shuffle
    * join once it is not. Rounds are fixed at 8, so the driver holds
    * only N — no per-round convergence count is needed. */
  def pagerankParts(spark: SparkSession, dir: String): DataFrame = {
    val edgesRaw = copurchaseEdges(spark, dir)
    pagerankRanks(edgesRaw)
      .select(col("node").as("l_partkey"), col("r").as("rank_ppb"),
        Exact.ratioRound(col("r"), lit(1000000000L), 6).as("rank"))
      .orderBy(desc("rank_ppb"), col("l_partkey")).limit(20)
  }
}
