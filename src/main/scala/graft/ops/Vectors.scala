package graft.ops

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Vector / embedding block (SURVEY.md §2.9): brute-force cosine kNN,
  * per-label centroids, LSH- and IVF-bucketed approximate NN, cosine
  * near-dup detection.
  *
  * The hot-path dot product is the native codegen'd
  * [[graft.functions.DotProduct]] expression — a generated loop inside
  * whole-stage codegen. (Spark's `zip_with`/`aggregate` higher-order
  * functions are CodegenFallback and evaluate interpreted; at 2 M pairs ×
  * 64 floats that costs ~3× — round-1 bench data.) Its sequential
  * accumulation is bit-identical to a fold, so results are stable across
  * plans. Division by the two norms happens once per pair rather than
  * pre-normalizing elements: one extra multiply+divide per pair, in
  * exchange for bit-identical similarity values to the `dot/(|a||b|)`
  * form the oracle's rounding analysis assumed. Norms are computed once
  * per row before the join, never per pair. Argmax is a `max_by`
  * two-phase hash aggregate — no sort exchange.
  *
  * 100 TB posture: brute force is the small-n baseline; the scale path is
  * [[annLshTopk]] — random-hyperplane buckets make the self-join shuffle
  * O(n × probes) instead of O(n²).
  */
object Vectors {

  /** Embedding dimensionality of the testdata (FIXTURES.md) — used only
    * to generate the LSH hyperplanes; the dot product itself is
    * dimension-agnostic. */
  private val Dim = 64

  /** Native codegen'd dot product ([[graft.functions.DotProduct]]):
    * a generated loop inside whole-stage codegen, bit-identical in
    * accumulation order to a sequential fold. */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** Zero-norm vectors (all-zero padding rows) are EXCLUDED from every
    * cosine-family op: a zero vector has no direction, and dividing by
    * its norm is the one spot where the engines' IEEE semantics part
    * ways (Spark double/0 → NaN, DuckDB double/0 → NULL — probed round
    * 13), so the filter is both the correct contract and the parity
    * guard. The oracles carry the identical `> 0` predicate. */
  private def normalized(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)

  /** Argmax by (sim desc, nn asc) as a hash aggregate: `max_by` over the
    * ordering struct (sim, -nn) — highest similarity, ties to lowest id.
    * Deterministic because sim is already rounded; no sort exchange. */
  private def bestNeighbor(pairs: DataFrame): DataFrame =
    pairs.groupBy("vec_id")
      .agg(max_by(struct(col("nn"), col("sim")),
        struct(col("sim"), -col("nn"))).as("best"))
      .select(col("vec_id"), col("best.nn").as("nn"), col("best.sim").as("sim"))

  /** Largest corpus [[cosineKnn]] will brute-force before refusing:
    * n² pair cost crosses from "exact oracle baseline" to "cluster
    * killer" around here (50 k² = 2.5 G dot products). */
  private[graft] val MaxBruteForceRows = 50000L

  /** Nearest neighbor per vector by cosine similarity over the upper
    * triangle (vec_id < nn), exact brute force. Similarity is rounded to
    * 4 dp *before* the argmax so float-associativity noise cannot flip the
    * winner between engines (SURVEY §7.4 / Appendix A note).
    *
    * Fail-fast at scale: this is the deliberate O(n²) exact baseline, so
    * it refuses to run past `maxRows` rather than silently becoming the
    * 100 TB bottleneck — [[annLshTopk]] / [[annIvfTopk]] are the bucketed
    * scale paths. The count comes from parquet footers (driver-side
    * metadata, memoized under the table's content stamp —
    * [[graft.Tables.rowCount]]), not a Spark job: round 4's eager
    * `count()` ran a job per invocation inside the benchmarked region. */
  def cosineKnn(spark: SparkSession, dir: String,
                maxRows: Long = MaxBruteForceRows): DataFrame = {
    val n = Tables.rowCount(spark, dir, "embeddings")
    require(n <= maxRows,
      s"cosineKnn is exact O(n^2) brute force: n=$n exceeds maxRows=$maxRows; " +
        "use Vectors.annLshTopk or Vectors.annIvfTopk (bucketed, recall-tested) at this scale")
    val e = normalized(spark, dir)
    // the join broadcasts the right side and streams the left: fan the
    // streamed (probe) side out across the cores, or a single-split scan
    // runs all n^2/2 dot products on one task (round-5 bench, 1.89 s)
    val a = graft.FanOut(e)
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("nn"), col("v").as("vb"), col("nrm").as("nb"))
    val sim = round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
    val pairs = a.join(b, col("vec_id") < col("nn"))
      .select(col("vec_id"), col("nn"), sim.as("sim"))
    bestNeighbor(pairs).orderBy("vec_id").limit(50)
  }

  /** Embedding-quality eval: leave-one-out k-NN label agreement — the
    * canonical use of similarity search as a measurement. Each vector's
    * k=5 nearest neighbors (exact cosine, self excluded) vote on its
    * label (majority, ties to the smallest label); output is per-label
    * n / n_correct / accuracy. A label-shuffled or collapsed embedding
    * space scores at chance, so this is the go/no-go check a pipeline
    * runs before trusting [[dedupEmbedding]] / ANN dedup decisions.
    *
    * Same exact-O(n²) contract as [[cosineKnn]]: an EVAL op runs on a
    * bounded sample by design, so it inherits the fail-fast row guard
    * rather than pretending to scale — at 100 TB you evaluate on a
    * sample and search with the ANN ops. The top-5 rank runs as a
    * WindowGroupLimit (partial per-partition top-k before the
    * exchange), so the n² pair stream collapses map-side; the majority
    * vote and accuracy rollup are (n×k)- then label-sized hash aggs.
    * Similarity is rounded to 4 dp before ranking (the cosineKnn
    * determinism rule), vote counts are integers — every tie-break is
    * exact, which is what lets the DuckDB oracle reproduce the whole
    * eval verbatim. */
  def knnLabelAccuracy(spark: SparkSession, dir: String, k: Int = 5,
                       maxRows: Long = MaxBruteForceRows): DataFrame = {
    val n = Tables.rowCount(spark, dir, "embeddings")
    require(n <= maxRows,
      s"knnLabelAccuracy is exact O(n^2) brute force: n=$n exceeds maxRows=$maxRows; " +
        "evaluate on a sample — the eval's contract — or use the ANN ops for search")
    // label rides the scan directly — a vec_id join-back would shuffle
    // both sides of the n² pair join just to fetch a column the source
    // already has
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0) // the normalized() zero-norm contract
    val a = graft.FanOut(e)
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"), col("label").as("la"))
    val b = e.select(col("vec_id").as("nn"), col("v").as("vb"), col("nrm").as("nb"),
      col("label").as("lb"))
    val sim = round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
    val topW = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nn"))
    // evaluate each unordered pair ONCE (vec_id < nn halves the n² probe
    // volume and its dots) and emit both directions with a row-local
    // generator (round-20, the annIvfRecall symmetrize lesson) — the
    // window sees the identical full pair stream either way
    val top = a.join(b, col("vec_id") < col("nn"))
      .select(col("vec_id"), col("la"), col("nn"), col("lb"), sim.as("sim"))
      .select(explode(array(
          struct(col("vec_id"), col("la"), col("nn"), col("lb"), col("sim")),
          struct(col("nn").as("vec_id"), col("lb").as("la"),
            col("vec_id").as("nn"), col("la").as("lb"), col("sim"))))
          .as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.la").as("la"),
        col("p.nn").as("nn"), col("p.lb").as("lb"), col("p.sim").as("sim"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= k)
    val pred = top.groupBy(col("vec_id"), col("la"), col("lb"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("vec_id"), col("la"))
      .agg(max_by(col("lb"), struct(col("c"), -col("lb"))).as("pred"))
    pred.groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n"),
        count_if(col("pred") === col("la")).as("n_correct"),
        Recon.ratioRound(count_if(col("pred") === col("la")),
          count(lit(1)), 4).as("acc"))
      .orderBy("label")
  }

  /** Per-label centroid, emitted long-form as (label, pos, c) — 64 rows per
    * label. Each element quantizes to an exact NANO long via the house
    * `round(v·10⁹)` pattern (one correctly-rounded IEEE multiply + one
    * half-away round of the identical product on both engines — the
    * events.value micro-long rule at 9 dp), the sums are exact longs so
    * partial-agg order cannot move the result, and the mean is one
    * half-away integer division surfaced by a long→double /1e9.
    *
    * Round 17 (strict-gate find at sf0.1): the previous spelling summed
    * DECIMAL(18,9) casts of the doubles — and the two engines break an
    * EXACT 9-dp tie differently: a float that is an odd multiple of
    * 2⁻¹⁰ (here 0.1494140625 = 153/1024, label 8 pos 59 in the v64
    * corpus) has x·10⁹ = integer + exactly ½, and Spark's
    * double→decimal cast rounds HALF_UP (away) while DuckDB's rounds
    * half-to-EVEN — the sums split by 1e-9 and the raw-mean output by
    * 5e-12, invisible to the old ~6-sig-fig gate. round(x·1e9) is safe
    * where the cast is not because BOTH engines' round() is half-AWAY
    * on the identical IEEE product (odd/2¹⁰ is the ONLY float shape
    * that lands exactly on a 9-dp tie: x = p/2^q ties iff q = 10 with
    * p odd). The cast remains in the OTHER decimal-sum sites (ivf
    * means over NORMALIZED doubles — no longer dyadic-short, exposure
    * ≈ 0; dim stats — 6-dp output rounds absorb the 1e-9) —
    * watch-listed in BASELINE v121. */
  def embedCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("label"), (col("pos0") + 1).as("pos"))
      .agg(sum(round(col("v").cast("double") * 1e9, 0).cast("long")).as("ns"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (Recon.ratioScaled(col("ns"), col("n"), 0).cast("double") / 1e9)
          .as("c"))
      .orderBy("label", "pos")

  /** Per-JVM memo of the COLLECTED [[embedCentroids]] rows read by
    * [[labelSeparability]] — the round-21 eager-construction item: the
    * op re-ran the centroid aggregation job at construction time per
    * call. The centroid table IS the `embed_centroids` query's output,
    * so that op always re-computes (and never reads this memo) — the
    * [[graft.ops.Text]] bpe_merges→bpe_segment boundary discipline;
    * labelSeparability reads it as a labels×d dictionary input and
    * still streams every corpus vector against the centroid literals
    * per call. Keyed by (session, dir) with the embeddings relation
    * IDENTITY as the staleness check. */
  private[graft] val centroidRowsMemo =
    new Memo[(SparkSession, String), Array[(Int, Int, Double)]]("Vectors.centroidRows")

  /** Label separability audit — the embedding-quality diagnostic that
    * decides whether labels are LEARNABLE from the vectors before
    * anyone trains on them (the centroid-margin complement of
    * [[knnLabelAccuracy]]'s instance-level vote): per label, the mean
    * squared distance of its vectors to their OWN centroid (cohesion),
    * the nearest OTHER centroid and its distance (margin), and the
    * separation ratio inter/intra — ratios near or below 1 mean the
    * label clouds overlap.
    *
    * Determinism: centroids are the [[embedCentroids]] exact nano-long
    * means (oracled bit-exact; round 17 spelling); every distance is the
    * identical chain x·x − 2·(x·c) + c·c with sequential dots (the
    * native [[graft.functions.DotProduct]] ≡ DuckDB
    * `list_inner_product`, the ann_ivf-proven parity); per-vector
    * distances round 6 dp into micro-longs before the exact mean (the
    * mean and the separation ratio are integer/integer quotients —
    * [[graft.ops.Recon.ratioRound]] half-away exact arithmetic);
    * inter-centroid distances compute driver-side over the SAME
    * centroid doubles with the same association, rounded by the
    * oracle's OWN operational semantics (std::round(x·1e6)/1e6);
    * nearest = (d2, other-label) tie-break; intra = 0 (an
    * identical-vector label) NULL-guards the ratio on both engines.
    *
    * 100 TB posture: the centroid frame is labels × d — the
    * embed_centroids answer class — and is the ONLY thing collected;
    * vectors stream row-local against their label's literal centroid
    * (a when-chain, no join, no shuffle before the label-sized agg);
    * the label² inter table is driver-trivial. */
  def labelSeparability(spark: SparkSession, dir: String): DataFrame = {
    val centRows = centroidRowsMemo((spark, dir), Tables.embeddings(spark, dir)) {
      embedCentroids(spark, dir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    }
    require(centRows.nonEmpty,
      "labelSeparability: no non-null embeddings to audit")
    // dimensionality from the data, not the corpus constant — the op
    // (and its fixtures) must work on any vector width
    val dim = centRows.iterator.map(_._2).max
    val cents: Seq[(Int, Array[Double])] = centRows.groupBy(_._1).toSeq
      .map { case (l, rows) =>
        val arr = new Array[Double](dim)
        rows.foreach { case (_, p, c) => arr(p - 1) = c }
        (l, arr)
      }.sortBy(_._1)
    // mirror DuckDB's round(x, 6) = std::round(x·1e6)/1e6 operationally
    // (multiply, half-away, divide) rather than BigDecimal-on-the-exact-
    // binary-value: the two disagree in the ±1-ulp window around every
    // .5 boundary of the MULTIPLIED value, and the oracle computes the
    // DuckDB side; operands here are non-negative squared distances
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val cc = cents.map { case (l, c) => l -> dotSeq(c, c) }.toMap
    val nearest = cents.map { case (la, ca) =>
      // near-coincident centroids can cancel cc(a) − 2·dot + cc(b) to
      // a tiny NEGATIVE (round-15 advice): clamp to ≥ 0 before the
      // half-up r6 — a negative operand would round -0.0 here where
      // the oracle (mirrored with greatest(..., 0)) rounds +0.0, and
      // half-up vs half-away also differ below zero
      val cands = cents.collect { case (lb, cb) if lb != la =>
        (r6(math.max(0.0, cc(la) - 2 * dotSeq(ca, cb) + cc(lb))), lb)
      }
      if (cands.isEmpty) (la, None: Option[Int], None: Option[Double])
      else {
        val (d2, lb) = cands.min
        (la, Some(lb), Some(d2))
      }
    }
    import spark.implicits._
    val near = nearest.map { case (l, nl, d2) =>
      (l, nl.map(Integer.valueOf).orNull, d2.map(Double.box).orNull)
    }.toDF("label", "nearest_label", "inter_d2")
    val cvExpr = cents.tail.foldLeft(
        when(col("label") === cents.head._1, typedlit(cents.head._2.toSeq))) {
      case (acc, (l, c)) => acc.when(col("label") === l, typedlit(c.toSeq))
    }
    val d2 = dot(col("x"), col("x")) - lit(2.0) * dot(col("x"), col("cv")) +
      dot(col("cv"), col("cv"))
    Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("label"), col("embedding").cast("array<double>").as("x"))
      .withColumn("cv", cvExpr)
      .withColumn("d6m", round(round(d2, 6) * 1e6, 0).cast("long"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum(col("d6m")).as("sm"))
      .join(broadcast(near), Seq("label"))
      // intra mean and the separation ratio are integer/integer
      // quotients (micro-long sums, micro-long means) — Recon.ratioRound
      // half-away exact arithmetic, the supplier_scorecard tie class;
      // im6 is the mean recovered as its exact micro-long so the ratio
      // clears both denominators, and im6 > 0 guards the division
      .withColumn("im6",
        round(Recon.ratioRound(col("sm"), Recon.micro(col("n_vecs")), 6)
          * 1e6, 0).cast("long"))
      .select(col("label"), col("n_vecs"),
        (col("im6").cast("double") / 1e6).as("intra_mean_d2"),
        col("nearest_label"), col("inter_d2"),
        when(col("im6") > 0 && col("inter_d2").isNotNull,
          Recon.ratioRound(round(col("inter_d2") * 1e6, 0).cast("long"),
            col("im6"), 6))
          .as("separation"))
      .orderBy("label")
  }

  private val NumPlanes = 8

  /** Deterministic pseudo-random hyperplanes (SplitMix64-style mix — no RNG
    * at plan time, so the plan is stable across runs/sessions). */
  private[graft] val planes: Seq[Seq[Double]] =
    (0 until NumPlanes).map { j =>
      (0 until Dim).map { i =>
        var x = (j * 64L + i + 1) * 6364136223846793005L + 1442695040888963407L
        x ^= (x >>> 33); x *= -49064778989728563L; x ^= (x >>> 33)
        x.toDouble / Long.MaxValue  // ∈ [-1, 1]
      }
    }

  /** Per-LSH-bucket cap for the vector ops — same skew bomb as
    * [[Text.MaxBucketDocs]]: k identical embeddings in one sign-bucket
    * otherwise cost k²/2 pairs on one task. First `MaxBucketVecs` vectors
    * by vec_id survive per bucket, deterministically. */
  private[graft] val MaxBucketVecs = 200

  private def capBucket(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("vec_id"))
    e.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MaxBucketVecs).drop("rk")
  }

  /** Embedding-cosine near-duplicate detection: vector pairs above a
    * similarity threshold, candidates from the same LSH sign-buckets as
    * [[annLshTopk]] — O(n·bucket) shuffle, never all pairs, buckets
    * capped at [[MaxBucketVecs]] against identical-embedding floods.
    * No oracle (bucketing is approximate by design); recall on planted
    * near-dupes is unit-tested. At 100 TB this is the dedup gate a
    * training pipeline runs after minhash: text-different but
    * embedding-identical documents. */
  def dedupEmbedding(spark: SparkSession, dir: String, threshold: Double = 0.95): DataFrame = {
    val e = capBucket(normalized(spark, dir).withColumn("bucket", lshBucket))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"), col("bucket"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb"), col("bucket"))
    a.hint("shuffle_hash").join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("sim"))
      // top candidates with the dup verdict as a flag rather than a hard
      // filter: corpora with no near-dupes still emit their closest pairs
      // (an all-or-nothing filter made a clean corpus indistinguishable
      // from a broken pipeline)
      .withColumn("is_dup", col("sim") >= threshold)
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(100)
  }

  /** 8 sign bits against the fixed hyperplanes → bucket id 0..255. Each
    * plane dot is one native [[graft.functions.DotProduct]] loop, so the
    * whole projection stays small enough for janino (the round-2 unrolled
    * form overflowed its nesting depth and fell back to interpreted).
    *
    * Dimension bugs fail loudly: a plane dot is NULL when the vector's
    * length ≠ [[Dim]] or an element is null ([[graft.functions.DotProduct]]
    * contract). Round 4 mapped that null to bucket 0 via `otherwise(0)` —
    * every malformed vector silently collapsed into one bucket and ANN
    * recall degraded invisibly (round-4 advice). Now each bit
    * null-propagates and a null bucket raises, so the ANN ops surface
    * dimensionality bugs as visibly as [[cosineKnn]] does. */
  private[ops] def lshBucket: Column = {
    val bucket = (0 until NumPlanes).map { j =>
      val d = dot(col("v"), typedlit(planes(j)))
      // two-sided when: null dot → null bit (otherwise(0) would absorb
      // it), and a NaN dot fails BOTH comparisons → null bit as well
      shiftleft(when(d > 0, lit(1L)).when(d <= 0, lit(0L)), j)
    }.reduce(_ bitwiseOR _)
    // coalesce evaluates the 8-plane projection ONCE (the round-5 isNull/
    // otherwise form referenced it twice); only a null result reaches the
    // error branch
    coalesce(bucket, raise_error(lit(
      s"lshBucket: null plane dot — embedding is not a clean $Dim-dim vector " +
        "(wrong dimensionality, null element, or NaN)")))
  }

  private[graft] val IvfClusters = 16
  private[graft] val IvfIterations = 3
  private[graft] val IvfProbes = 2

  /** Unit-normalized vectors: (vec_id, u). The division is a row-local
    * array transform — computed once per vector, never per pair. */
  private[graft] def unitVectors(spark: SparkSession, dir: String): DataFrame =
    normalized(spark, dir)
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u"))

  /** Largest training set the coarse quantizer will collect. Training an
    * IVF quantizer on a bounded sample is the standard contract (FAISS
    * trains on ~max(10k·k) points regardless of index size); past the
    * cap, the deterministic smallest-md5 rows ARE the sample. Below it —
    * every test SF — training sees the full corpus, which is what keeps
    * the DuckDB oracle a FULL-trajectory reproduction. */
  private[graft] val IvfTrainCap = 50000

  /** Spherical k-means trained on the driver: one bounded collect of
    * the [[IvfTrainCap]] unit vectors with the smallest md5(vec_id) —
    * the portable cross-engine hash, so the DuckDB oracle picks the
    * identical set; xxhash64 does not exist there, the same reason
    * MinHashSig moved off it — whose first [[IvfClusters]] rows by that
    * hash seed the centroids, then [[IvfIterations]] Lloyd rounds of
    * assign + elementwise-mean + renormalize run in a driver loop. No
    * Spark job runs after the collect. Cluster means are exact
    * DECIMAL(18,9)-scaled long sums (the embed_centroids rule): a float
    * `avg` depends on summation order, which would make the centroids
    * — and every downstream assignment — unreproducible across engines.
    * Dots accumulate in index order like the native
    * [[graft.functions.DotProduct]], bit-identical to DuckDB's
    * `list_inner_product`, so the whole training trajectory is
    * deterministic. Returns (cid, cvec) with unit-norm cvec. */
  private def kmeansCentroidsLocal(u: DataFrame): Seq[(Int, Seq[Double])] = {
    // Train the k×Dim quantizer DRIVER-SIDE from one bounded collect:
    // the distributed Lloyd loop (one job per round, Dim decimal-sum
    // agg columns) was 3 × ~0.43 s of fixed job/plan cost against ~5 ms
    // of arithmetic on the same data — at any corpus size the training
    // set is capped ([[IvfTrainCap]] — sampled quantizer training is
    // the standard IVF contract), so the collect is bounded like a
    // broadcast dim, and assignment/probing below stays fully
    // distributed against the literal centroid table. The driver loop
    // REPLICATES the engine arithmetic bit-for-bit ([[lloydMeans]],
    // [[dotSeq]]), which is what the oracle then verifies end-to-end;
    // ties take the lowest cid.
    val train = trainingSample(u, "u", IvfTrainCap)
    var cents: Seq[(Int, Array[Double])] =
      train.take(IvfClusters).zipWithIndex.map { case (c, cid) => (cid, c) }
    for (_ <- 1 to IvfIterations) {
      cents = lloydMeans(train, Dim) { v =>
        var bestCid = -1
        var best = Double.NegativeInfinity
        cents.foreach { case (cid, c) =>
          val s = dotSeq(v, c)
          if (s > best) { best = s; bestCid = cid }
        }
        bestCid
      }.map { case (cid, m) =>
        val mn = math.sqrt(dotSeq(m, m))
        (cid, m.map(_ / mn))
      }
    }
    cents.map { case (cid, c) => (cid, c.toIndexedSeq) }
  }

  /** Approximate NN, IVF flavor: k-means coarse quantizer, each vector
    * searched against the members of its `IvfProbes` nearest clusters —
    * candidate volume ≈ n · probes · n/k instead of n². The scale knobs
    * are k (≈√n keeps build and probe balanced) and probes (recall vs
    * cost); the LSH sibling [[annLshTopk]] trades the training pass for
    * data-independent buckets. Recall vs brute force is asserted in unit
    * tests, AND the whole pipeline is oracled since round 12: exact
    * decimal cluster means + bit-stable sequential dots make the k-means
    * trajectory deterministic, so DuckDB re-derives seeds, three Lloyd
    * rounds, probes and the final argmax verbatim (the last registry
    * entry to convert — 153/153). */
  def annIvfTopk(spark: SparkSession, dir: String): DataFrame =
    bestNeighbor(ivfCandidates(spark, dir)).orderBy("vec_id").limit(50)

  /** Per-JVM memo of the TRAINED k×Dim coarse quantizer — the Graph
    * edge-memo / BPE-segment pattern for the ANN family: the bounded
    * training collect + driver Lloyd fold (~0.55–0.65 s per call,
    * round-20 `plan:` phase split — 60% of ann_ivf_topk's row) is a
    * derived dictionary input shared by [[annIvfTopk]] AND
    * [[annIvfRecall]], re-trained identically on every call. Keyed by
    * session, dir and the IDENTITY of the stamped embeddings relation
    * (the `Tables.relation` memo), so a corpus regen misses naturally;
    * the check-then-put race is benign (the trainer is deterministic —
    * md5 seeds, exact decimal means). */
  private val ivfCentroidMemo =
    new Memo[(SparkSession, String), Seq[(Int, Seq[Double])]]("Vectors.ivfCentroid")

  // the training frame derives HERE, not from the caller (round-20
  // advice: a caller-supplied frame could silently seed the memo with
  // centroids trained on another call site's projection)
  private def ivfCentroids(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    ivfCentroidMemo((spark, dir), Tables.embeddings(spark, dir)) {
      kmeansCentroidsLocal(unitVectors(spark, dir))
    }

  /** The IVF candidate pair stream (vec_id, nn, sim) — the whole
    * pipeline short of the per-vector argmax, shared by [[annIvfTopk]]
    * and the [[annIvfRecall]] calibration. */
  private[graft] def ivfCandidates(spark: SparkSession, dir: String): DataFrame = {
    val u = unitVectors(spark, dir)
    val cents = ivfCentroids(spark, dir)
    // probe assignment is ROW-LOCAL against the literal centroid table:
    // sort the (−score, cid) pairs and take the first IvfProbes — the
    // same (score DESC, cid ASC) order the oracle's window rank spells,
    // with no crossJoin, no 16×-replicated frame and no per-vector
    // window exchange (2.26 s → 1.1x s sf0.1 official methodology with
    // the one shuffle left being the member join itself)
    val scored = array(cents.map { case (cid, c) =>
      struct((-dot(col("u"), typedlit(c))).as("ns"), lit(cid).as("cid"))
    }: _*)
    val probes = u
      .select(col("vec_id"), col("u"),
        posexplode(slice(array_sort(scored), 1, IvfProbes)).as(Seq("rk0", "p")))
      .select(col("vec_id"), col("u"), col("p.cid").as("cid"),
        (col("rk0") + 1).as("rk"))
    val members = probes.filter(col("rk") === 1)
      .select(col("cid"), col("vec_id").as("nn"), col("u").as("un"))
    probes.join(members.hint("shuffle_hash"), Seq("cid"))
      .filter(col("vec_id") =!= col("nn"))
      .select(col("vec_id"), col("nn"),
        round(dot(col("u"), col("un")), 4).as("sim"))
  }

  /** Recall@1 calibration of the IVF index against exact brute force —
    * the measurement [[annIvfTopk]]'s docs promise ("recall-tested"):
    * per vector, does the IVF candidate set contain the TRUE nearest
    * neighbor (strict id match), or one exactly as near (4-dp-sim tie
    * match — the standard recall-with-ties reading)? One summary row.
    *
    * The exact side recomputes cosine with the SAME unit-vector dot
    * the IVF probe uses (NOT [[cosineKnn]]'s raw-dot/norms spelling —
    * a different float path whose 4-dp rounds can differ in ulps), so
    * esim and asim are comparable bit-for-bit; both argmaxes use the
    * (sim DESC, nn ASC) tie rule. Inherits [[cosineKnn]]'s exact-O(n²)
    * fail-fast contract: a recall EVAL runs on a bounded sample by
    * design — at 100 TB you calibrate on the capped sample and serve
    * with the index. Ratios are exact-int / n with one identically-
    * spelled double division each. */
  def annIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.rowCount(spark, dir, "embeddings")
    require(n <= MaxBruteForceRows,
      s"annIvfRecall brute-forces the exact side: n=$n exceeds $MaxBruteForceRows; " +
        "calibrate on a bounded sample at this scale")
    val u = unitVectors(spark, dir)
    val a = graft.FanOut(u).select(col("vec_id"), col("u").as("ua"))
    val b = u.select(col("vec_id").as("nn"), col("u").as("ub"))
    val upper = a.join(b, col("vec_id") < col("nn"))
      .select(col("vec_id"), col("nn"),
        round(dot(col("ua"), col("ub")), 4).as("sim"))
    // symmetrize ROW-LOCALLY with a generator, not a self-union: the
    // union's two branches shared no exchange boundary, so the physical
    // plan duplicated the whole n²/2 brute-force subtree — every dot
    // product ran TWICE (round-20 plan audit; the explode emits both
    // directions from one pass and the agg below is unchanged)
    val sym = upper.select(explode(array(
        struct(col("vec_id"), col("nn"), col("sim")),
        struct(col("nn").as("vec_id"), col("vec_id").as("nn"), col("sim"))))
        .as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.nn").as("nn"),
        col("p.sim").as("sim"))
    val exact = bestNeighbor(sym)
      .select(col("vec_id"), col("nn").as("enn"), col("sim").as("esim"))
    val approx = bestNeighbor(ivfCandidates(spark, dir))
      .select(col("vec_id"), col("nn").as("ann"), col("sim").as("asim"))
    exact.join(approx, Seq("vec_id"), "left_outer")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("ann").isNotNull, 1L).otherwise(0L)).as("n_found"),
        sum(when(col("ann") === col("enn"), 1L).otherwise(0L)).as("n_id_match"),
        sum(when(col("asim") === col("esim"), 1L).otherwise(0L)).as("n_tie_match"))
      .select(col("n_vectors"), col("n_found"), col("n_id_match"),
        col("n_tie_match"),
        Recon.ratioRound(col("n_id_match"), col("n_vectors"), 6)
          .as("recall_id"),
        Recon.ratioRound(col("n_tie_match"), col("n_vectors"), 6)
          .as("recall_tie"))
  }

  /** Approximate NN: 8 random-hyperplane sign bits → 256 buckets; exact
    * cosine only within a bucket; top-1 per vector. Recall vs. brute force
    * is asserted in unit tests (no oracle — approximate by design).
    * At scale: more planes per band + multiple bands (same pattern as
    * MinHash-LSH) trade recall for bucket size. The bucket join is hinted
    * to shuffled-hash: sort-merge would sort both sides on a hash bucket
    * key whose order is meaningless. */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = capBucket(normalized(spark, dir).withColumn("bucket", lshBucket))
    val left = e.select(col("vec_id"), col("v").as("va"), col("nrm").as("na"), col("bucket"))
    val right = e.select(col("vec_id").as("nn"), col("v").as("vb"), col("nrm").as("nb"), col("bucket"))
    val sim = round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
    val pairs = left.join(right.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("vec_id") =!= col("nn"))
      .select(col("vec_id"), col("nn"), sim.as("sim"))
    bestNeighbor(pairs).orderBy("vec_id").limit(50)
  }

  /** Int8 quantization audit — the compression sanity check before an
    * embedding store ships 4x-smaller vectors: symmetric per-vector
    * scalar quantization (scale = max |x|, q_i = round(127 x_i/scale),
    * dequant q_i·scale/127) and, per label, the reconstruction MSE and
    * the cosine similarity retained against the original vectors.
    *
    * Everything per-row is the proven deterministic kernel: doubles end
    * to end (the float column casts up first), all inner sums via the
    * sequential-accumulation native [[graft.functions.DotProduct]]
    * (bit-identical to DuckDB's list_inner_product), and MSE spelled as
    * (v·v − 2 v·d + d·d)/dim on BOTH engines — algebraically the error
    * norm, floating-point-identical only because both engines run this
    * exact spelling; MSE reports in 1e-6 units (avg_mse_x1e6) so the
    * 6-dp rounding keeps resolution on a ~1e-6-magnitude metric.
    * Per-label averages use the lm_score micro-unit
    * discipline: each row's metric rounds to 6 dp, scales to an exact
    * long, sums order-free, divides once at the end. Row-local map +
    * one label-sized hash agg — nothing else shuffles at any scale. */
  def quantizeStats(spark: SparkSession, dir: String): DataFrame = {
    val v = col("v")
    val scale = array_max(transform(v, x => abs(x)))
    val deq = transform(v,
      x => round(lit(127) * x / col("scale")) * col("scale") / lit(127))
    def micro(c: Column) =
      round(round(c, 6) * 1e6, 0).cast("long")
    val perRow = Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", scale)
      .filter(col("scale") > 0)
      .withColumn("d", deq)
      .select(col("label"),
        micro(col("scale")).as("sc6"),
        micro((dot(v, v) - lit(2) * dot(v, col("d")) + dot(col("d"), col("d")))
          / size(v) * lit(1e6)).as("mse6"),
        micro(dot(v, col("d"))
          / (sqrt(dot(v, v)) * sqrt(dot(col("d"), col("d"))))).as("cos6"))
    perRow.groupBy("label")
      .agg(count(lit(1)).as("n"),
        Recon.ratioRound(sum(col("sc6")),
          Recon.micro(count(lit(1))), 6).as("avg_scale"),
        Recon.ratioRound(sum(col("mse6")),
          Recon.micro(count(lit(1))), 6).as("avg_mse_x1e6"),
        Recon.ratioRound(sum(col("cos6")),
          Recon.micro(count(lit(1))), 6).as("avg_cosine"))
      .orderBy("label")
  }

  /** Per-DIMENSION embedding-health audit: mean, population variance,
    * min/max and a dead-dimension flag for each coordinate of the
    * embedding column. The failure modes this catches — dead dimensions
    * (an encoder unit stuck at a constant, variance ≈ 0) and collapsed
    * or saturated coordinates (variance or range far off the others) —
    * silently degrade every downstream consumer (LSH planes lose a bit
    * of discrimination, int8 quantization wastes range, cosine distances
    * compress), so this audit runs BEFORE [[annLshTopk]] /
    * [[quantizeStats]] ever see the vectors.
    *
    * Determinism: the embed_centroids rule — each float widens to double
    * (exact), per-dim Σx and Σx² accumulate as DECIMAL(18,9) (exact,
    * order-free), and variance derives once in double as E[x²] − mean²
    * with the identical left-to-right spelling in the oracle. Rounded
    * presentation columns append `+ 0` (the −0.0 rule; E[x²] − mean² can
    * also round to −0.0 from ulp-negative true zeros). `is_dead`
    * compares the UNROUNDED variance to 1e-6 — deterministic because its
    * inputs are decimal-exact.
    *
    * Scale shape: posexplode is row-local (dim × n rows, no state), the
    * aggregate partial-combines map-side into exactly `dim` groups, and
    * everything after the 64-row frame is free. One shuffle of dim-sized
    * partials at any corpus size. */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 9)
    val mean = col("s1") / col("n")
    val varPop = col("s2") / col("n") - mean * mean
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select((col("pos0") + 1).as("pos"), col("v").cast("double").as("vd"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("vd").cast(dec)).cast("double").as("s1"),
        sum((col("vd") * col("vd")).cast(dec)).cast("double").as("s2"),
        min(col("vd")).as("mn"), max(col("vd")).as("mx"))
      .select(col("pos").cast("int").as("pos"), col("n"),
        (round(mean, 6) + lit(0)).as("mean_v"),
        (round(varPop, 6) + lit(0)).as("var_v"),
        (round(col("mn"), 6) + lit(0)).as("min_v"),
        (round(col("mx"), 6) + lit(0)).as("max_v"),
        (varPop < lit(1e-6)).as("is_dead"))
      .orderBy("pos")
  }

  /** Product-quantization codebook geometry: subspaces × centroids per
    * subspace × sub-dimensions. K and M are part of the result
    * contract (the oracle re-derives the same grid); PqIterations is a
    * FIXED Lloyd depth, not a convergence knob — both engines run
    * exactly one round. */
  private[graft] val PqSubspaces = 8
  private[graft] val PqSubDim = Dim / PqSubspaces
  private[graft] val PqCentroids = 8
  private[graft] val PqTrainCap = IvfTrainCap

  /** Per-JVM memo of the TRAINED PQ codebook behind [[pqCodebook]] —
    * the round-21 eager-construction item: the trainer (capped
    * content-ordered sample collect + per-subspace Lloyd round) re-ran
    * identically per call, ~0.15 s of serial driver time. The codebook
    * is a derived model input bounded at [[PqSubspaces]]·[[PqCentroids]]
    * rows (the ivfCentroidMemo class — the op's OUTPUT, the per-cell
    * population/distortion table, is still computed per call by the
    * distributed assignment pass over every corpus vector). Keyed by
    * (session, dir) with the embeddings relation IDENTITY as the
    * staleness check. */
  private[graft] val pqBooksMemo =
    new Memo[(SparkSession, String), Seq[(Int, Int, Array[Double])]]("Vectors.pqBooks")

  /** Product-quantization codebook audit — the OTHER workhorse ANN
    * sketch next to IVF/LSH: the vector splits into [[PqSubspaces]]
    * sub-vectors, each subspace trains its own [[PqCentroids]]-entry
    * codebook (seeded from the content-ordered sample, one fixed Lloyd
    * round), and every corpus vector is assigned per subspace by exact
    * L2 argmin. Output: per (subspace, centroid) population and mean
    * squared distortion — the table an index designer reads to size
    * codebooks (empty cells = wasted codes, hot cells + high
    * distortion = underfit subspace).
    *
    * Determinism: the IVF trainer discipline verbatim — the capped
    * driver sample is content-ordered (md5(vec_id), vec_id); cluster
    * means are nearest-double-of-exact-DECIMAL(18,9) sums over counts
    * (NO normalization — PQ centroids live in the raw subspace);
    * every distance is the identical IEEE chain
    * x·x − 2·(x·c) + c·c with sequential-fold dots, ties to the lowest
    * centroid id; per-vector distortions round 6dp into micro-longs
    * before the exact population sums. The oracle re-derives seeds,
    * the Lloyd round and the assignment entirely in SQL — nothing is
    * interpolated.
    *
    * 100 TB posture: training is bounded by [[PqTrainCap]] (the
    * broadcast-dim argument); the corpus-sized pass is one explode to
    * M sub-vectors joined against the M·K-row literal codebook
    * (broadcast by construction) and immediately aggregated — shuffle
    * is (M·K)-keyed. */
  def pqCodebook(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val rel = Tables.embeddings(spark, dir)
    val v0 = rel
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val books = pqBooksMemo((spark, dir), rel)(pqTrainBooks(v0))
    val bookDf = books.map { case (m, cid, c) => (m, cid, c.toSeq) }
      .toDF("m", "cid", "cvec")
    // distributed final assignment: explode to sub-vectors, broadcast
    // the M·K-row codebook, exact-L2 argmin with (d2, cid) tie-break
    val subs = v0.select(col("vec_id"),
        explode(typedlit((0 until PqSubspaces).toArray)).as("m"), col("v"))
      .select(col("vec_id"), col("m"),
        slice(col("v"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("sub"))
    val d2 = dot(col("sub"), col("sub")) - lit(2) * dot(col("sub"), col("cvec")) +
      dot(col("cvec"), col("cvec"))
    val wArg = Window.partitionBy("vec_id", "m").orderBy(col("d2"), col("cid"))
    subs.join(broadcast(bookDf), "m")
      .select(col("vec_id"), col("m"), col("cid"), d2.as("d2"))
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .groupBy(col("m").as("subspace"), col("cid").as("centroid"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(round(round(col("d2"), 6) * 1e6, 0).cast("long")).as("dm"))
      .select(col("subspace"), col("centroid"), col("n_assigned"),
        Recon.ratioRound(col("dm"), Recon.micro(col("n_assigned")), 6)
          .as("mean_distortion"))
      .orderBy("subspace", "centroid")
  }

  /** The uncached trainer the memo holds — bounded sample collect +
    * one exact-decimal Lloyd round per subspace (the IVF contract).
    * Separated so a spec can audit the build against a memoized call. */
  private[graft] def pqTrainBooks(v0: DataFrame): Seq[(Int, Int, Array[Double])] = {
    val train = trainingSample(v0, "v", PqTrainCap)
    // per-subspace: seed, one exact-decimal Lloyd round
    (0 until PqSubspaces).flatMap { m =>
      val subs = train.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim))
      val cents = subs.take(PqCentroids).zipWithIndex.map { case (c, cid) => (cid, c) }
      lloydMeans(subs, PqSubDim) { x =>
        val xx = dotSeq(x, x)
        var bestCid = -1
        var best = Double.PositiveInfinity
        cents.foreach { case (cid, c) =>
          val d2 = xx - 2 * dotSeq(x, c) + dotSeq(c, c)
          if (d2 < best) { best = d2; bestCid = cid }
        }
        bestCid
      }.map { case (cid, mean) => (m, cid, mean) }
    }
  }

  /** The driver-side trainers' bounded, content-ordered training sample:
    * the `cap` rows of (vec_id, `vec`) with the smallest md5(vec_id) —
    * the portable cross-engine hash, so the DuckDB oracles pick the
    * identical set — in (md5, vec_id) order. */
  private def trainingSample(df: DataFrame, vec: String,
                             cap: Int): IndexedSeq[Array[Double]] =
    df.select(col("vec_id"), col(vec), md5(col("vec_id").cast("string")).as("h"))
      .orderBy("h", "vec_id").limit(cap)
      .collect().toIndexedSeq
      .sortBy(r => (r.getString(2), r.getLong(0)))
      .map(_.getSeq[Double](1).toArray)

  /** One Lloyd update on the driver: each point joins the cluster
    * `assign` picks, and each cluster's mean is the nearest double of its
    * exact DECIMAL(18,9) sum over its count — per-element
    * round-half-up(x·1e9) longs, the SQL's CAST(x AS DECIMAL(18,9)) sums
    * (BigDecimal(x) rounds the exact binary value, not the shortest
    * string), so summation order cannot move a bit. Clusters come back
    * in cid order; empty ones drop, as a GROUP BY loses groups. */
  private def lloydMeans(points: Seq[Array[Double]], dim: Int)(
      assign: Array[Double] => Int): Seq[(Int, Array[Double])] =
    points.groupBy(assign).toSeq.sortBy(_._1).map { case (cid, xs) =>
      (cid, Array.tabulate(dim) { i =>
        val sum = xs.iterator.map(x => new java.math.BigDecimal(x(i))
          .setScale(9, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()).sum
        new java.math.BigDecimal(java.math.BigInteger.valueOf(sum), 9)
          .doubleValue() / xs.length
      })
    }

  /** Sequential index-order dot product — the accumulation order of the
    * native [[graft.functions.DotProduct]] and of DuckDB's
    * `list_inner_product`, so driver-side scores match both bit-for-bit. */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The one-pass [[graft.functions.GramAgg]] state frame shared by
    * [[dimCorrelation]] and [[pcaPower]]: ≤ 1 row holding the flat
    * `[d, n, s₁..s_d, G upper triangle]` long array. Rows with a null
    * vector OR a null ELEMENT drop up front (round-16 review: the
    * primitive Array[Long] encoder would otherwise throw on a null
    * element where the old inline form null-skipped it) — mirrored in
    * both oracles' base CTEs; an EMPTY input leaves GramAgg's zero
    * state (an empty array), dropped here so callers answer with an
    * empty frame instead of an element_at index error. */
  private def gramFrame(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull &&
        !exists(col("embedding"), v => v.isNull))
      .select(transform(col("embedding"), v =>
        round(round(v.cast("double"), 6) * 1e6, 0).cast("long")).as("value"))
    gramOf(em)
  }

  /** GramAgg collapse tail shared by [[gramFrame]] (quantized values)
    * and [[spearmanRedundancy]] (rank vectors): one typed one-pass
    * aggregate over an Array[Long] `value` column, empty-state rows
    * dropped (review catch — the tail was duplicated). */
  private def gramOf(values: DataFrame): DataFrame =
    values.as(org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
      .select(new graft.functions.GramAgg().toColumn)
      .toDF("g")
      .filter(size(col("g")) > 0)

  /** Shared unpack of [[graft.functions.GramAgg]]'s flat state into
    * per-dim-pair cleared-denominator Pearson moments (num, denx,
    * deny): [d, n, s1..sd, G(1,1)..G(d,d) row-major upper triangle] —
    * G(i,j) sits at 2 + d + (i−1)(2d−i+2)/2 + (j−i+1); (i−1)(2d−i+2)
    * is always even, so the /2 is exact. Outer range stops at d − 1:
    * Spark `sequence(a, b)` DESCENDS when a > b, so an i = d leg would
    * mint a phantom j = d + 1 pair. Used by [[dimCorrelation]] (value
    * moments) and [[spearmanRedundancy]] (rank moments). */
  private def gramPairMoments(gram: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    gram.select(expr(
      "inline(flatten(transform(sequence(1, d - 1), i -> " +
        "transform(sequence(i + 1, d), j -> struct(i, j, " +
        "element_at(g, 2) AS n, " +
        "element_at(g, cast(2 + i AS int)) AS sxi, " +
        "element_at(g, cast(2 + j AS int)) AS sxj, " +
        "element_at(g, cast(2 + d + (i-1)*(2*d-i+2) div 2 + 1 AS int)) AS sxxi, " +
        "element_at(g, cast(2 + d + (j-1)*(2*d-j+2) div 2 + 1 AS int)) AS sxxj, " +
        "element_at(g, cast(2 + d + (i-1)*(2*d-i+2) div 2 + (j-i+1) AS int)) AS sij" +
        ")))))"))
      .select(col("i"), col("j"),
        (col("n").cast(dec) * col("sij")
          - col("sxi").cast(dec) * col("sxj")).as("num"),
        (col("n").cast(dec) * col("sxxi")
          - col("sxi").cast(dec) * col("sxi")).as("denx"),
        (col("n").cast(dec) * col("sxxj")
          - col("sxj").cast(dec) * col("sxj")).as("deny"))
  }

  /** Top-20 presentation shared by the Gram-moment correlation ops:
    * Pearson over the cleared-denominator moments, 6-dp round with the
    * −0.0 guard, zero-variance dims excluded, sorted by the ROUNDED
    * magnitude with the (i, j) tie-break. */
  private def pearsonTop20(c: DataFrame, name: String): DataFrame =
    c.filter(col("denx") > 0 && col("deny") > 0)
      .select(col("i").cast("long").as("dim_i"), col("j").cast("long").as("dim_j"),
        (round(col("num").cast("double")
          / (sqrt(col("denx").cast("double")) * sqrt(col("deny").cast("double"))),
          6) + 0).as(name))
      .withColumn(s"abs_$name", abs(col(name)) + 0)
      .orderBy(col(s"abs_$name").desc, col("dim_i"), col("dim_j"))
      .limit(20)

  /** Top-20 most correlated embedding-dimension pairs — the redundancy
    * audit behind dimensionality reduction and PQ subspace design:
    * |corr| → 1 means two dimensions carry the same signal and the
    * index wastes capacity.
    *
    * Exactness: elements quantize to 6-dp micro-unit longs; every
    * sufficient statistic (Σxᵢ, Σxᵢ², Σxᵢxⱼ) is an exact 128-bit
    * integer, Pearson's denominators clear — num = n·Sij − Si·Sj,
    * den = n·Sii − Si² — and the only doubles are the final
    * identically-spelled chain (two IEEE sqrts, one division), round
    * 6dp +0. Zero-variance dims drop via den > 0 on both engines.
    * Ranking sorts the ROUNDED |corr| with (i, j) tie-break, so the
    * top-20 cut is engine-independent.
    *
    * 100 TB posture (round 16 — the one-pass Gram rewrite): the whole
    * sufficient-statistic set (n, Σxᵢ and the FULL upper-triangle
    * Σxᵢxⱼ) accumulates in ONE typed
    * [[graft.functions.GramAgg]] pass — a flat long array per task, so
    * nothing row-count-sized ever fans out (the previous inline
    * expansion emitted d(d−1)/2 pair structs per row into a d²-keyed
    * hash aggregate: scale-safe but ~2 000 aggregate-map probes per
    * row; the bench halved its 2.28 s). Only ~(d²/2 + d) longs per
    * task shuffle; the pair frame then unpacks from the SINGLE state
    * row via a sequence/inline transform (answer-sized by the schema's
    * dimensionality) into the identical exact decimal chain, so the
    * oracle is unchanged. Overflow is loud, not silent — GramAgg
    * accumulates with Math.addExact (envelope in its scaladoc). */
  def dimCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val gram = gramFrame(spark, dir)
      .withColumn("d", element_at(col("g"), 1).cast("int"))
    pearsonTop20(gramPairMoments(gram), "corr")
  }

  /** Spearman rank redundancy between embedding dimensions — the
    * MONOTONE-relation sibling of [[dimCorrelation]]: Pearson on
    * per-dim average ranks catches nonlinearly coupled dims (d_j =
    * f(d_i) for any monotone f scores ±1) that linear correlation
    * underweights, the redundancy PQ/PCA subspace design actually
    * cares about. Top-20 pairs by |rho|.
    *
    * Exactness: ties take AVERAGE ranks, doubled into integers
    * (2·avgrank = 2·rank + tiecount − 1 — rank() plus a count window,
    * both engines agree on float ordering of identical stored
    * values); the rank vectors feed the same one-pass
    * [[graft.functions.GramAgg]] collapse and the same
    * cleared-denominator Pearson as dimCorrelation (sqrt-chained
    * Class-B round, zero-variance dims excluded — a constant dim has
    * all-tied ranks and drops on both engines).
    *
    * 100 TB posture: ranking is one window sort per dimension over the
    * exploded (dim, value) frame — the honest cost of exact ranks
    * (distributed sort per dim key); the Gram collapse and everything
    * after is the dimCorrelation shape (d²-sized, corpus-independent).
    * GramAgg's addExact envelope bounds n·(2n)² — past ~10⁸ vectors
    * rank products need binned ranks; the guard fails loud. */
  def spearmanRedundancy(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull &&
        !exists(col("embedding"), v => v.isNull))
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("col").as("v"))
    val wr = Window.partitionBy("dim").orderBy("v")
    val wt = Window.partitionBy("dim", "v")
    val ranked = em.select(col("vec_id"), col("dim"),
      (rank().over(wr).cast("long") * 2
        + count(lit(1)).over(wt) - 1).as("r2"))
    val arr = ranked.groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("r2")))),
        x => x.getField("r2")).as("value"))
      .select("value")
    val gram = gramOf(arr)
      .withColumn("d", element_at(col("g"), 1).cast("int"))
    pearsonTop20(gramPairMoments(gram), "rho")
  }

  /** Power-iteration rounds for [[pcaPower]] — a CONSTANT (the IVF/BPE
    * capped-trainer discipline) replicated verbatim by the oracle's
    * unrolled CTEs; 8 rounds of a rescaled integer iteration separate
    * the top component decisively on every tested corpus. */
  private[graft] val PcaIters = 8

  /** Per-round eigenvector rescale target for [[pcaPower]]: after each
    * multiply the vector renormalizes to max |vᵢ| = 1000 by EXACT
    * truncating integer division (Spark `div` ≡ DuckDB `//`, BigInt
    * `/` on sign-normalized operands) — the engine-neutral substitute
    * for the usual float L2 normalization, and the loading columns'
    * exact 3-dp denominator. */
  private[graft] val PcaVScale = 1000L

  /** Per-JVM memo of the COLLECTED [[graft.functions.GramAgg]] state
    * read by [[pcaPower]] — the round-21 eager-construction item: the
    * op re-ran the one-pass distributed Gram collapse at construction
    * time per call, ~0.2 s of corpus-sized work for a ≤
    * (d²/2+d+2)-long flat state (~17 KB at d = 64 — bounded by the
    * SCHEMA's dimensionality, the ivfCentroidMemo collect class). The
    * state is a derived statistic INPUT — the op's output (the
    * rk/loading/λ frame) is still computed per call by the full
    * [[PcaIters]]-round BigInt power iteration over it; embed_dim_
    * correlation keeps its own distributed gramFrame (its plan is the
    * corpus pass, untouched). Empty-corpus calls (empty state) are
    * memoized too — `None` is a valid answer, not a miss. Keyed by
    * (session, dir) with the embeddings relation IDENTITY as the
    * staleness check — a corpus regen misses naturally. */
  private[graft] val gramStateMemo =
    new Memo[(SparkSession, String), Option[Seq[Long]]]("Vectors.gramState")

  /** Top principal component of the embedding cloud by EXACT-INTEGER
    * power iteration — the spectrum headline behind [[dimCorrelation]]
    * (which pair of dims is redundant) and [[pqCodebook]] (how to
    * split subspaces): the leading eigenvalue of the covariance in
    * value² units, the share of total variance it explains
    * (λ/trace C), and the top-8 loading dims of its eigenvector.
    *
    * Determinism (the markov/pagerank integer-trajectory discipline,
    * eigensolve edition): the covariance clears its mean denominator —
    * C = n·G − s·sᵀ from [[graft.functions.GramAgg]]'s exact sums — and
    * the whole iteration stays on integers: w = C·v exactly, then
    * v ← (w·[[PcaVScale]]) div max|w| (truncation identical on both
    * engines), [[PcaIters]] fixed rounds from the all-ones start. λ and
    * the share present through ratioRound's half-away integer
    * arithmetic (num = vᵀCv ≥ 0 — covariance is PSD); loadings are
    * exact v/1000 3-dp lattice values. No float enters before the
    * presentation casts, so there is NO tie class anywhere.
    *
    * 100 TB posture: the only corpus-sized work is the distributed
    * one-pass GramAgg collapse; the d×d eigensolve runs driver-side on
    * the collected ≤ (d²/2+d+2)-long state (~17 KB at d = 64 — bounded
    * by the SCHEMA's dimensionality, the IVF-trainer collect class) in
    * BigInt, so no overflow envelope at all. A degenerate cloud
    * (constant or empty — C ≡ 0) answers with an empty frame on both
    * engines (the oracle's d2 > 0 guard). */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(Int, Int, Double, Double, Double)]
      .toDF("rk", "dim", "loading", "lambda", "explained_share")
    val stOpt = gramStateMemo((spark, dir), Tables.embeddings(spark, dir)) {
      gramFrame(spark, dir).collect().headOption.map(_.getSeq[Long](0))
    }
    if (stOpt.isEmpty) return empty
    val g = stOpt.get
    val d = g(0).toInt
    val n = BigInt(g(1))
    val s = Array.tabulate(d)(i => BigInt(g(2 + i)))
    val gm = Array.ofDim[BigInt](d, d)
    var idx = 2 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) { gm(i)(j) = BigInt(g(idx)); gm(j)(i) = gm(i)(j); idx += 1; j += 1 }
      i += 1
    }
    val c = Array.tabulate(d, d)((i, j) => n * gm(i)(j) - s(i) * s(j))
    var v = Array.fill(d)(BigInt(PcaVScale))
    var degenerate = false
    for (_ <- 1 to PcaIters if !degenerate) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      if (m.signum == 0) degenerate = true
      else v = w.map(x =>
        if (x.signum >= 0) x * PcaVScale / m else -(-x * PcaVScale / m))
    }
    val den = v.map(x => x * x).sum
    if (degenerate || den.signum == 0) return empty
    val num = (for (i <- 0 until d; j <- 0 until d) yield v(i) * c(i)(j) * v(j)).sum
    val trace = (0 until d).map(i => c(i)(i)).sum
    def rr(num: BigInt, den: BigInt, scale: Int): Double = {
      val p = BigInt(10).pow(scale)
      val mag = (num.abs * p * 2 + den) / (den * 2)
      (if (num.signum >= 0) mag else -mag).toDouble / p.toDouble
    }
    val lambda = rr(num, den * BigInt(10).pow(12), 6)
    val share = rr(num, den * trace, 6)
    (0 until d).sortBy(i => (-v(i).abs, i)).take(8).zipWithIndex
      .map { case (dim0, r) =>
        (r + 1, dim0 + 1, v(dim0).toDouble / 1000.0, lambda, share) }
      .toDF("rk", "dim", "loading", "lambda", "explained_share")
  }
}
