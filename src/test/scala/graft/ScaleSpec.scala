package graft

import graft.ops.Relational
import org.apache.spark.sql.functions._

/** Scale-mechanics evidence: partition pruning on date-partitioned
  * layouts, spark.sql entry-point parity, and plan-shape regression
  * guards for the joins the bench depends on. */
class ScaleSpec extends GraftSpec {

  test("date-partitioned writes prune: only matching partitions are scanned") {
    val path = s"$tmpDir/orders_part"
    Tables.orders(spark, sf)
      .withColumn("mo", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.partitionBy("mo").mode("overwrite").parquet(path)
    val pruned = spark.read.parquet(path).filter(col("mo") === "1995-03")
    val exec = pruned.queryExecution.executedPlan.toString
    assert(exec.contains("PartitionFilters: [isnotnull(mo"), exec)
    // the scan must touch exactly the one matching partition directory
    val scanned = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("mo=1995-03")))
    val allMonths = spark.read.parquet(path).select("mo").distinct().count()
    assert(allMonths > 1, "fixture must actually be multi-partition")
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    val spark0 = spark
    import spark0.implicits._
    val path = s"$tmpDir/orders_dpp"
    Tables.orders(spark, sf)
      .withColumn("mo", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.partitionBy("mo").mode("overwrite").parquet(path)
    val fact = spark.read.parquet(path)
    // the filter lives on a dim ATTRIBUTE, not the partition column, so
    // only runtime (dynamic) pruning can skip fact partitions; the dim
    // must be a real scan — a local relation folds the filter away and
    // the DPP rule sees no selective predicate
    val dimPath = s"$tmpDir/mo_dim"
    fact.select("mo").distinct().collect().map(_.getString(0))
      .map(mo => (mo, if (mo == "1995-03") "target" else "other")).toSeq
      .toDF("mo", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = fact.join(dim.filter(col("tag") === "target"), "mo")
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"fact scan must carry a DPP filter:\n$plan")
    // and the runtime effect is real: only the one month's files are read
    // (input_file_name binds to the fact scan before the join)
    val files = fact.withColumn("f", input_file_name())
      .join(dim.filter(col("tag") === "target"), "mo")
      .select("f").distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("mo=1995-03")), files.mkString("\n"))
    val expected = Tables.orders(spark, sf)
      .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1995-03").count()
    assert(q.collect().head.getLong(0) === expected)
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // production thresholds assume multi-GB scans; lower them to demo the
    // mechanism on the fixture, with broadcast off so the join shuffles
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 300000)
      val l = Tables.lineitem(spark, sf)
      val q = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("might_contain"),
        s"selective probe side must inject a bloom filter:\n$plan")
      assert(q.collect().head.getLong(0) > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (OptimizeSkewedJoin)") {
    val spark0 = spark
    import spark0.implicits._
    // the scale claim Events/Text lean on for zipf keys, demonstrated:
    // production thresholds assume 256MB partitions; lower them so the
    // fixture's hot key crosses the skew bar, with broadcast off so the
    // join shuffles and coalescing off so the median partition stays small
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // zipf-ish: key 0 carries 95% of the rows (the hot-user shape); the
      // payload is md5 text so shuffle compression cannot shrink the hot
      // partition below the skew bar, and max(pad) keeps it alive through
      // the join — count(pad) gets rewritten to count(1) (non-nullable)
      // and pruned, leaving only highly-compressible repeated keys
      val left = spark.range(100000).select(
        when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        md5(col("id").cast("string")).as("pad"))
      val right = spark.range(100).select(col("id").as("k"))
      val q = left.join(right, "k")
        .agg(count(lit(1)).as("n"), max(col("pad")).as("mx"))
      // matches: hot key 0 (95 001 rows) + k ∈ {20,40,60,80} (4 rows)
      assert(q.collect().head.getLong(0) === 95005L)
      // the FINAL adaptive plan (post-execution) must carry the skew split
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"OptimizeSkewedJoin must split the hot partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("skew profile computes the per-key counts once (exchange reuse at runtime)") {
    // the static plan shows the (scan → partial count → exchange) subtree
    // twice — once under the top-k branch, once under the 1-row totals —
    // but the two exchanges canonicalize identically, so at runtime the
    // scan+shuffle must run ONCE and the second branch read the reused
    // stage; at 100 TB this is the difference between one and two full
    // passes over the fact table
    val q = Relational.skewProfileEvents(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
      s"per-key count stage must be reused, not recomputed:\n$plan")
  }

  test("spark.sql over registered views equals the DataFrame plan (E3 ≡ E1)") {
    graft.sources.Sources.registerTempViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) sq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) sep,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) disc,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*) aq,
        |  count(*) n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin).collect()
    val viaDf = Relational.q1PricingSummary(spark, sf).collect()
    assert(viaSql.map(_.toString).toSeq === viaDf.map(_.toString).toSeq)
  }

  test("bench-critical join shapes hold") {
    def plan(q: String) =
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
    // dimension chains must broadcast, never sort-merge
    Seq("q3_shipping_priority", "q5_multiway_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), q)
    }
    // the salted pair join must distribute, not broadcast onto one split
    assert(plan("dedup_ngram_jaccard").contains("ShuffledHashJoin"))
    // top-k must not globally sort
    assert(plan("q3_shipping_priority").contains("TakeOrderedAndProject"))
  }

  test("q19: the OR-of-ANDs predicate pushes into BOTH parquet scans") {
    // Catalyst must extract each side's clause union from the
    // disjunction: the quantity range-union reaches the lineitem scan
    // and the brand+size union reaches the part scan as OR'd
    // PushedFilters — row-group stats then prune before the join
    val exec = Relational.q19DisjunctiveFilter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("PushedFilters: [IsNotNull(l_partkey), Or("))
    assert(exec.contains("PushedFilters: [IsNotNull(p_partkey), Or("))
    assert(exec.contains("EqualTo(p_brand,Brand#12)"))
    assert(exec.contains("GreaterThanOrEqual(l_quantity,1.0)"))
  }

  test("q8: region filter reaches facts as a broadcast chain; q10/q18 broadcast") {
    def plan(q: String) =
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
    // q8: nation/region/supplier all broadcast; the only sort-merge
    // allowed is the two-fact orders⋈lineitem spine
    val p8 = plan("q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p8).size >= 3)
    // q10: every join broadcasts at this scale, top-20 avoids global sort
    val p10 = plan("q10_returned_items")
    assert(p10.contains("TakeOrderedAndProject"))
    // q18: the HAVING aggregate IS the report aggregate — lineitem is
    // scanned once (no fact re-join) and the report keeps top-k shape
    val p18 = plan("q18_large_orders")
    assert("Scan parquet".r.findAllIn(p18).length === 3, p18) // l, o, c once each
    assert(p18.contains("TakeOrderedAndProject"), p18)
  }

  test("round-10 fusions: same-base recon ops run one scan and no join") {
    def exec(q: String) =
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
    // each op's sides derive row-locally from ONE table, so the executed
    // plan must contain exactly the base scans and zero joins
    Seq("recon_report" -> 1, "recon_diff_detail" -> 1,
        "recon_snapshot_diff" -> 1, "recon_reconcile_all" -> 2,
        "recon_incremental" -> 1)
      .foreach { case (q, nScans) =>
      val p = exec(q)
      assert("Scan parquet".r.findAllIn(p).length === nScans, s"$q:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
    // colagg runs TWO column-pruned branches (global agg + keyed
    // distinct) crossed at one row each: the only join must be the
    // singleton-frame nested loop, never a data-sized join
    val pc = exec("recon_colagg_fingerprint")
    assert("Scan parquet".r.findAllIn(pc).length === 2, pc)
    assert(pc.contains("BroadcastNestedLoopJoin"), pc)
    assert(!pc.contains("SortMergeJoin") && !pc.contains("ShuffledHashJoin"), pc)
    // q17 under the size gate (part dimension small here): per-part
    // thresholds pre-aggregate and broadcast — the fact NEVER shuffles
    // (no Window sort, no exchange between scan and join); both joins
    // broadcast. The above-gate window form's shape is covered by the
    // parity test in RelationalSpec.
    val p17 = exec("q17_avg_quantity")
    assert("Scan parquet".r.findAllIn(p17).length === 3, p17)
    assert(!p17.contains("Window"), p17)
    assert(p17.contains("BroadcastHashJoin") && !p17.contains("SortMergeJoin"), p17)
  }

  test("applyChanges: the base side never shuffles — feed-keys anti-join broadcasts") {
    val p = SparkEntry.queries("merge_upsert")(spark, sf)
      .queryExecution.executedPlan.toString
    // change feeds are small next to the base snapshot: the anti join
    // must be a BroadcastHashJoin LeftAnti (base stays scan-shaped), not
    // a sort-merge that shuffles the 100 TB side
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("corr matrix: six coefficients from ONE lineitem scan") {
    val exec = Relational.corrMatrix(spark, sf).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(exec).length
    assert(scans === 1, s"expected a single fused scan, got $scans:\n$exec")
  }

  test("tfidf: only vocabulary-sized frames move after the first combine") {
    val exec = graft.ops.Text.tfidfTopTerms(spark, sf, 10)
      .queryExecution.executedPlan.toString
    // corpus-sized explode output must partial-aggregate BEFORE the
    // exchange (two-phase agg), and the tiny n_src frame must broadcast
    assert(exec.contains("partial_count"), exec)
    assert(exec.contains("BroadcastExchange") || exec.contains("BroadcastNestedLoopJoin"), exec)
  }

  test("AQE coalesces the 4-partition shuffle of a tiny aggregate at runtime") {
    // static shuffle.partitions is sized for the big queries; a small
    // group-by must not pay 4 near-empty reducers — AQE folds them into
    // fewer post-shuffle partitions once the map output sizes are known
    val df = Tables.orders(spark, sf)
      .groupBy("o_orderstatus").count()
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("AQEShuffleRead coalesced"),
      s"runtime partition coalescing must appear in the final plan:\n$exec")
  }

  test("q6: all three predicates reach the parquet scan as pushed filters") {
    val exec = Relational.q6ForecastRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    // the plan string truncates scan metadata at ~100 chars, so match the
    // un-truncated prefix naming all three pushed columns
    assert(exec.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity)"),
      s"every q6 predicate must push to the scan:\n$exec")
    assert(exec.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp>"),
      s"column pruning must reach the scan:\n$exec")
  }

  test("incremental recon: the moved-partition work list broadcasts into semi joins") {
    // the GENERIC cross-run API (distinct src/tgt frames — the persisted-
    // snapshot workflow) must prune BOTH detail scans via broadcast
    // left-semi on the tiny work list — a shuffled join against it would
    // re-shuffle the full table the whole design exists to avoid. (The
    // harness op recon_incremental is the same-base fused form — one
    // scan, no join — covered by the round-10 fusion test above.)
    val month = date_trunc("month", col("o_orderdate"))
    val src = Tables.orders(spark, sf).withColumn("part", month)
    val tgt = src.filter(col("o_orderkey") % 97 =!= 0)
    val exec = graft.ops.Recon.incrementalDiff(
        src, tgt, "o_orderkey", Seq("o_orderkey", "o_totalprice"))
      .queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastExchange"), exec)
    assert(exec.contains("LeftSemi"), exec)
  }

  test("multiset set-ops plan as count-aggregates + generate, never a join") {
    val exec = Relational.setOpsAll(spark, sf).queryExecution.executedPlan.toString
    // INTERSECT/EXCEPT ALL via per-key count pairs + Generate replication:
    // the multiset answer must not cost a row-level join of the two sides
    assert(exec.contains("Generate"), exec)
    assert(!exec.contains("SortMergeJoin") && !exec.contains("ShuffledHashJoin"),
      s"multiset set-op must not plan a row-level join:\n$exec")
  }

  test("locf gap-fill: one shuffle, top-k presentation without a global sort") {
    val exec = graft.ops.Events.locfFill(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(exec).length
    assert(hashExchanges === 1,
      s"LOCF needs exactly the user_id shuffle, got $hashExchanges:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"ordered LIMIT must plan as distributed top-k, not a global sort:\n$exec")
    assert(!exec.contains("Exchange rangepartitioning"), exec)
  }

  test("session paths: one shuffle of the event stream serves windows and session agg") {
    val exec = graft.ops.Events.sessionPaths(spark, sf)
      .queryExecution.executedPlan.toString
    // the sid derivation, per-session ranking, and per-session path agg
    // all cluster by user_id: HashPartitioning(user_id) satisfies the
    // (user_id, sid) requirements, so the only hash exchanges are the
    // event stream's user_id shuffle and the tiny final path count —
    // a (user_id, sid) re-shuffle of the full stream would betray that
    // EnsureRequirements stopped reusing the first exchange
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(exec).length
    assert(hashExchanges === 2,
      s"expected 2 hash exchanges (user_id + final path count), got $hashExchanges:\n$exec")
    assert(!exec.contains("hashpartitioning(user_id#" ) ||
      !"hashpartitioning\\(user_id#\\d+L?, sid".r.findFirstIn(exec).isDefined,
      s"full stream re-shuffled on (user_id, sid):\n$exec")
  }

  test("gap stats: one (user, type) window exchange, partial agg before types shuffle") {
    val exec = graft.ops.Events.eventGapStats(spark, sf)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(user_id#\\d+L?, event_type".r.findFirstIn(exec).isDefined,
      s"window must partition on (user_id, event_type):\n$exec")
    assert(exec.contains("partial_count"),
      s"the types rollup must combine map-side before its exchange:\n$exec")
  }

  test("rolling DAU: bounds broadcast, no BNLJ, activity never re-sorts globally") {
    val exec = graft.ops.Events.rollingDau(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("Broadcast"),
      s"the 1-row bounds frame must broadcast into the grid clamp:\n$exec")
    assert(!exec.contains("SortMergeJoin"),
      s"a sort-merge join would sort a day-grid-sized frame for nothing:\n$exec")
    // the round-11 day-grid RANGE join planned a BroadcastNestedLoopJoin
    // with |grid| predicate evaluations per activity row; the explode
    // form must not reintroduce one (the only BNLJ-legal frame here is
    // the 1-row bounds clamp)
    assert(!exec.contains("Window"),
      s"no window belongs in the explode formulation:\n$exec")
  }

  test("knn label eval: partial top-k before the exchange, label off the scan") {
    val exec = graft.ops.Vectors.knnLabelAccuracy(spark, sf)
      .queryExecution.executedPlan.toString
    // WindowGroupLimit Partial collapses the n^2 pair stream map-side;
    // without it the full pair matrix crosses the wire
    assert(exec.contains("WindowGroupLimit"),
      s"top-5 must run as a group-limit, not a full rank:\n$exec")
    // exactly one embeddings relation feeds each join side — a label
    // join-back (the 9.0s round-12 first cut) would add a third scan
    val scans = "embeddings.parquet".r.findAllIn(exec).length
    assert(scans <= 2, s"label must ride the scan, not a join-back ($scans scans):\n$exec")
  }

  test("lm score: scoring is map-only — no join, no generate, one scan") {
    // round 12 second pass: the native gram_logprob_sum scorer folds the
    // explode → broadcast-join → per-doc agg into one linear pass, so
    // the scoring plan may contain NO join of any kind and no Generate;
    // only source-sized aggregates may shuffle
    val exec = graft.ops.Text.lmScore(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("gram_logprob_sum"),
      s"scoring must run through the native one-pass scorer:\n$exec")
    assert(!exec.contains("Join") && !exec.contains("Generate"),
      s"the gram stream must not re-materialize in the scoring plan:\n$exec")
  }

  test("customer RFM: both aggs partial-combine; the max-date scalar broadcasts") {
    val exec = graft.ops.Relational.customerRfm(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"the 1-row max-date frame must broadcast:\n$exec")
    assert("partial_(count|max|sum)".r.findFirstIn(exec).isDefined,
      s"per-customer agg must combine map-side:\n$exec")
  }

  test("bpe segment: application is map-only — no UDF, generate, or join") {
    val exec = graft.ops.Text.bpeSegment(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Generate") && !exec.contains("Join") &&
      !exec.toLowerCase.contains("batchevalpython"),
      s"segmentation must stay a row-local replace chain:\n$exec")
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the source rollup must combine map-side:\n$exec")
  }

  test("quantize stats: one scan, row-local kernel, label-sized agg only") {
    val exec = graft.ops.Vectors.quantizeStats(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Join") && !exec.contains("Generate"),
      s"per-row metrics must not re-materialize the vectors:\n$exec")
    assert(exec.contains("dot_product"),
      s"inner sums must run through the native sequential kernel:\n$exec")
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"label agg must combine map-side:\n$exec")
  }

  test("cdc apply parity: compaction prunes map-side, base never shuffles") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = SparkEntry.queries("streaming_cdc_apply")(spark, sf)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    val p = plan.toString
    // the merge half: the compacted feed's keys broadcast into a
    // LeftAnti against the base (the 100 TB side stays scan-shaped)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the compaction half: latest-per-key is a max_by aggregate whose
    // PARTIAL half combines each key's changes below the o_orderkey
    // exchange and whose FINAL half sits above it — no window, and no
    // sort of whole feeds after the shuffle
    def maxBy(a: BaseAggregateExec, mode: Any) = a.aggregateExpressions
      .exists(e => e.mode == mode && e.aggregateFunction.prettyName == "max_by")
    val keyExchanges = plan.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references).exists(_.name == "o_orderkey")
        case _ => false
      }) => e
    }
    val compaction = keyExchanges.filter(e => e.child.exists {
      case a: BaseAggregateExec => maxBy(a, Partial)
      case _ => false
    })
    assert(compaction.nonEmpty, s"partial max_by must combine below the key exchange:\n$p")
    assert(plan.exists {
      case a: BaseAggregateExec =>
        maxBy(a, Final) && compaction.exists(e => a.exists(_ eq e))
      case _ => false
    }, s"the final max_by must merge above the key exchange:\n$p")
    assert(!p.contains("Window") && !p.contains("row_number"), p)
    // one orders scan each for the base, the broadcast feed keys and
    // the compacted feed: the change feed is ONE exploded scan
    assert("Scan parquet".r.findAllIn(p).length === 3, p)
  }

  test("q21: single-pass min/max EXISTS folding — one fact join, no semi/anti, no fact sort") {
    val p = SparkEntry.queries("q21_waiting_suppliers")(spark, sf)
      .queryExecution.executedPlan.toString
    // round-19 rework: both EXISTS sides fold to map-side-combinable
    // conditional min/max aggregates over the SINGLE li⋈ordF join
    // output (the old distinct pair frame was the measured bottleneck
    // — 0.44 of 0.70 s; the intermediate two-pass form still paid a
    // full-lineitem aggregation plus a semi probe), so the plan must
    // carry NO semi/anti join and no sort-merge anywhere; the partial
    // min/max aggregates must combine before the exchange
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"), p)
    assert(p.contains("partial_min") || p.contains("partial min"), p)
  }

  test("substring spans: no pair join — scan-side explode, keyed windows, TakeOrdered") {
    val p = SparkEntry.queries("dedup_substring_spans")(spark, sf)
      .queryExecution.executedPlan.toString
    // the exact-substring audit must stay linear: position explode in
    // the scan stage (Generate), gram- and doc-keyed windows, and a
    // TakeOrdered cut — never a pair-forming join
    assert(p.contains("Generate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("copurchase basket cap prunes with WindowGroupLimit before the pair join") {
    // the per-basket quadratic pair build must be bounded by
    // MaxBasketParts with rank-limit pushdown (partial WindowGroupLimit
    // collapses over-cap baskets map-side, before the key exchange) —
    // the guard that keeps one thousand-part cart from minting 10^6
    // pairs at 100 TB; audited on the uncached plan form — the memoized
    // copurchaseEdges frame is a checkpoint scan
    val p = graft.ops.Graph.copurchaseEdgesPlan(Tables.lineitem(spark, sf))
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("streaming dedup parity: id-keyed dedup exchange, types-sized fed frame broadcasts") {
    val p = SparkEntry.queries("streaming_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    // the summary join's fed side is types-sized by construction and
    // must broadcast — a sort-merge there would shuffle the whole
    // deduped summary for a handful of rows
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the dedup itself must partial-aggregate BEFORE its id exchange
    // (two SortAggregates — string carry columns exclude hash buffers)
    assert("SortAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("streaming top-k parity: MinK partial-aggregates before the key exchange") {
    val p = SparkEntry.queries("streaming_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    // the UDAF must run as a two-phase ObjectHashAggregate — the ≤k
    // buffer merges map-side so only k-sized state crosses the wire
    // (the same property that bounds the streaming state store)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("click attribution parity: type filters reach both scans, range stays a join predicate") {
    val p = SparkEntry.queries("streaming_click_attribution")(spark, sf)
      .queryExecution.executedPlan.toString
    // each side scans only its event type (pushed EqualTo), and the
    // pair volume is bounded by the equality+range join, never a
    // cartesian of the user's events
    assert("EqualTo\\(event_type,(view|click)\\)".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("stream hash-diff parity: hash join without data-sized broadcast, no global sort") {
    val exec = graft.ops.Recon.streamHashDiffParity(spark, sf)
      .queryExecution.executedPlan.toString
    // round 18: the reference is ORDERS-sized (data-sized, not a dim),
    // so the anchor hints shuffle_hash — a broadcast of it was the
    // lineitem_price_index-class 100x hazard and the sf0.1 bottleneck
    // (single-threaded 148k-row HashedRelation build)
    assert(exec.contains("ShuffledHashJoin") && !exec.contains("SortMergeJoin")
        && !exec.contains("BroadcastHashJoin"),
      s"the data-sized checksummed reference must hash-join via " +
        s"shuffle, not broadcast or sort-merge:\n$exec")
    assert(!exec.contains("rangepartitioning"),
      s"report ordering must be the in-partition sort, not a sampled " +
        s"range exchange that re-executes the join subtree:\n$exec")
  }

  test("cents and row-hash prices round through ExactDecimal, not a double Cast") {
    import graft.functions.ExactDecimal
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    Seq("q1_pricing_summary", "recon_hash_diff").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
      assert(exprs.exists(_.isInstanceOf[ExactDecimal]), s"$q:\n$plan")
      // the per-row Double.toString + BigDecimal parse this replaced
      val doubleCasts = exprs.collect {
        case c: Cast if c.child.dataType == DoubleType &&
          (c.dataType == DecimalType(18, 4) || c.dataType == DecimalType(12, 2)) => c
      }
      assert(doubleCasts.isEmpty, s"$q:\n$plan")
      val text = plan.toString.toLowerCase
      assert(!text.contains("as decimal(18,4)") && !text.contains("as decimal(12,2)"),
        s"$q:\n$plan")
    }
  }

  test("recon_hash_diff hashes typed values: no Md5, ConcatWs, Round or cast to string") {
    import graft.functions.Md5ConcatWs
    import org.apache.spark.sql.catalyst.expressions.{Cast, ConcatWs, Md5, Round}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.types.StringType
    val plan = SparkEntry.queries("recon_hash_diff")(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.count(_.isInstanceOf[Md5ConcatWs]) >= 2, plan)
    val formatted = exprs.collect {
      case e @ (_: Md5 | _: ConcatWs | _: Round) => e
      case c: Cast if c.dataType == StringType => c
    }
    assert(formatted.isEmpty, s"$formatted\n$plan")
  }

  test("scd2_history cuts to the first 500 keys in the scan tasks: no key exchange") {
    val exec = SparkEntry.queries("scd2_history")(spark, sf)
      .queryExecution.executedPlan.toString
    val partial = "WindowGroupLimit \\[o_custkey#\\d+L ASC NULLS FIRST\\], rank\\(o_custkey#\\d+L\\), 500, Partial"
      .r.findFirstMatchIn(exec)
    assert(partial.isDefined, exec)
    val exchanges = "Exchange SinglePartition".r.findAllMatchIn(exec).map(_.start).toSeq
    assert(exchanges.size == 1 && exchanges.head < partial.get.start,
      s"the partial limit must run below the one single-partition exchange:\n$exec")
    assert(!exec.contains("hashpartitioning(o_custkey"),
      s"the history window must reuse the single partition:\n$exec")
  }

  test("dim stats: single-column scan, one dim-sized exchange, no join") {
    val exec = graft.ops.Vectors.dimStats(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Join"),
      s"per-dimension audit is scan -> explode -> agg only:\n$exec")
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the dim agg must combine map-side:\n$exec")
    assert("ReadSchema:[^\n]*embedding".r.findFirstIn(exec).isDefined &&
      !exec.contains("vec_id#"),
      s"only the embedding column may be read:\n$exec")
  }

  test("filter funnel: one scan, no window, map-side-combined single agg row") {
    val exec = graft.ops.Text.filterFunnel(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Window") && !exec.contains("Join"),
      s"the funnel must be one conditional-sum aggregate, no window:\n$exec")
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the 8-sum agg must combine map-side:\n$exec")
  }

  test("winnow dedup: memoized fingerprint frame, shuffled-hash buckets") {
    val q = graft.ops.Text.dedupWinnow(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    // round 20: the fingerprint pass moved into the per-JVM winnow memo
    // (built once per corpus — stronger than the exchange reuse this
    // test used to assert), so the per-call plan must NOT re-run the
    // scanner: both join sides read the materialized frame
    assert(!exec.contains("winnow_set"),
      s"the winnow pass must come from the memoized frame, not re-run " +
        s"per call:\n$exec")
    assert(exec.contains("ExistingRDD"),
      s"both join sides must scan the checkpointed fingerprint frame:\n$exec")
    assert(exec.contains("ShuffledHashJoin") && !exec.contains("SortMergeJoin"),
      s"bucket order is meaningless — no sort-merge:\n$exec")
    // round-20 advice: "contains ExistingRDD" is satisfied by ANY
    // checkpointed input — prove both join sides read the SAME
    // materialized fingerprint RDD (the property the pre-memo
    // ReusedExchange assertion pinned) by collecting every RDDScanExec
    // under the final adaptive plan (unwrapping query-stage leaves) and
    // asserting exactly one distinct RDD identity feeds the plan
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def rddScanIds(p: SparkPlan): Seq[Int] =
      p.collect { case r: RDDScanExec => r.rdd.id } ++
        p.collect { case qs: QueryStageExec => qs }.flatMap(s => rddScanIds(s.plan))
    val finalPlan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val ids = rddScanIds(finalPlan)
    assert(ids.nonEmpty && ids.distinct.size == 1,
      s"every ExistingRDD scan must reference the ONE memoized " +
        s"fingerprint RDD, got ids $ids:\n$exec")
    // the memo BUILD plan is audited directly (the copurchaseEdgesPlan
    // discipline): native one-pass scanner present
    val build = graft.ops.Text.winnowFpsPlan(
      graft.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(build.contains("winnow_set"),
      s"fingerprints must come from the native one-pass scanner:\n$build")
  }

  test("ks drift: bounds broadcast, totals ride the CDF window, one cells pass") {
    val exec = graft.ops.Recon.ksDrift(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin") && !exec.contains("SortMergeJoin"),
      s"the type-sized bounds frame must broadcast:\n$exec")
    // round 21: n1/n2 are whole-partition window sums over the SAME
    // type-partitioned exchange as the CDFs — the old separate totals
    // aggregate re-ran the whole events→cells subtree and joined it
    // back (2 extra scans, 1 extra join). Exactly ONE join (bounds)
    // and ONE events→cells pipeline may remain.
    assert("BroadcastHashJoin".r.findAllIn(exec).size == 1,
      s"only the bounds join may remain — totals must not join:\n$exec")
    assert("count\\(if".r.findAllIn(exec).size <= 4,
      s"the (type, v) cell collapse must be planned once:\n$exec")
    assert(!exec.contains("Window [")
      || !exec.contains("windowspecdefinition()"),
      s"the CDF window must be partitioned by event_type:\n$exec")
    assert("partial_(count|sum|min|max)".r.findFirstIn(exec).isDefined,
      s"the cell collapse must combine map-side:\n$exec")
  }

  test("ivf recall: exact side fans out, no cartesian beyond the range join") {
    val exec = graft.ops.Vectors.annIvfRecall(spark, sf)
      .queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the four counters must combine map-side:\n$exec")
    assert(exec.contains("dot_product"),
      s"similarities must come from the native codegen'd dot:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"the exact side is a RANGE join (vec_id < nn), never a cross:\n$exec")
  }

  test("triangles: hash-join wedges over the materialized edge frame") {
    val exec = graft.ops.Graph.copurchaseTriangles(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("ExistingRDD"),
      s"the oriented edge frame materializes once and feeds degree, " +
        s"wedge and closure passes:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"wedge build and closure are key joins, never a cross:\n$exec")
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"degree/wedge sums must combine map-side:\n$exec")
  }

  test("copurchase components: census rides the checkpointed label frame") {
    val exec = graft.ops.Graph.copurchaseComponents(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("ExistingRDD"),
      s"labels must come from the converged checkpointed frame, not a " +
        s"re-derived per-round lineage:\n$exec")
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"both census aggregations must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct"), s"no cross anywhere:\n$exec")
  }

  test("pagerank: answer-sized selection over materialized iteration frames") {
    val q = graft.ops.Graph.pagerankParts(spark, sf)
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded-state selection, not a global sort:\n$exec")
    assert(exec.contains("ExistingRDD"),
      s"the final ranks must come from the checkpointed iteration frame " +
        s"(one materialization per round, no re-derived 8-join lineage):\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"nothing in the presentation tail may shuffle-sort or cross:\n$exec")
  }

  test("market basket: basket exchange reused under both pair aliases") {
    val q = graft.ops.Relational.marketBasketLift(spark, sf)
    q.collect() // AQE inserts the reuse marker in the FINAL plan
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("ReusedQueryStage") || exec.contains("ReusedExchange"),
      s"the distinct basket frame must materialize once under both " +
        s"self-join aliases:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"top-30 must be a bounded-state selection:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"only the one-row totals broadcast may cross:\n$exec")
    assert(exec.contains("BroadcastHashJoin"),
      s"the gated part dim must broadcast at test SF:\n$exec")
    // round 18: the basket self-join is hash, never two corpus-sized
    // sorts (the brand-pair probe has nothing to gain from sort
    // order); judge the FINAL adaptive plan — the pre-AQE initial
    // plan section legitimately carries SMJ picks for the brand joins
    // that AQE re-plans to broadcasts
    val finalPlan = exec.split("== Initial Plan ==").head
    assert(finalPlan.contains("ShuffledHashJoin")
        && !finalPlan.contains("SortMergeJoin"),
      s"the basket self-join must be a shuffled hash join:\n$finalPlan")
  }

  test("seasonal naive: daily collapse map-combines, lags partition by type") {
    val exec = graft.ops.Events.seasonalNaive(spark, sf)
      .queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the daily collapse must combine map-side:\n$exec")
    assert(!exec.contains("windowspecdefinition()"),
      s"both lags must partition by event_type:\n$exec")
    assert(!exec.contains("Join"),
      s"lags and the error rollup ride one daily frame, no join:\n$exec")
  }

  test("autocorrelation: daily collapse map-combines, windows partition by type") {
    val exec = graft.ops.Events.autocorrelation(spark, sf)
      .queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the daily collapse must combine map-side:\n$exec")
    assert(!exec.contains("windowspecdefinition()"),
      s"lags and totals must partition by event_type:\n$exec")
    assert(!exec.contains("Join"),
      s"one daily frame carries lags and totals, no join:\n$exec")
  }

  test("crosstab chisq: one corpus pass, answer-sized totals broadcast") {
    val q = graft.ops.Relational.crosstabChisq(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"the (status, priority) count must combine map-side:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin") ||
      exec.contains("BroadcastHashJoin"),
      s"the 1-row totals frames must broadcast:\n$exec")
    assert(!exec.contains("SortMergeJoin") && !exec.contains("CartesianProduct"),
      s"nothing corpus-sized may join:\n$exec")
    assert(!exec.contains("windowspecdefinition()"),
      s"rt/ct windows partition by status/priority over the cells frame:\n$exec")
  }

  test("user overlap: dedup map-combines, join keys on user — no all-pairs") {
    val q = graft.ops.Events.userOverlap(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_(count|first)".r.findFirstIn(exec).isDefined ||
      exec.contains("HashAggregate"),
      s"the (type,user) dedup must be a hash aggregate:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"the audience join keys on user_id, never cartesian:\n$exec")
  }

  test("weekly spectrum: daily collapse map-combines, one typed window pass") {
    val exec = graft.ops.Events.weeklySpectrum(spark, sf)
      .queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the daily collapse must combine map-side:\n$exec")
    assert(!exec.contains("windowspecdefinition()"),
      s"the variance window must partition by event_type:\n$exec")
    assert(!exec.contains("Join"),
      s"projections and variance ride one daily frame, no join:\n$exec")
  }

  test("repeat survival: custkey-partitioned window, answer-sized broadcasts") {
    val q = graft.ops.Relational.repeatSurvival(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("windowspecdefinition()"),
      s"the rank window must partition by o_custkey:\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"only the two 1-row frames may cross, as broadcasts:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"base/counts are 1-row broadcast frames:\n$exec")
  }

  test("dim correlation: one-pass Gram aggregate combines map-side, top-20 is TakeOrdered") {
    // round 16: the inline d²-pair fan-out became the typed GramAgg —
    // the plan must show the partial/final typed-aggregate pair (the
    // map-side combine carries one flat long array per task), no join
    // at all (the pair frame unpacks from the single state row), and a
    // TakeOrdered top-20
    val q = graft.ops.Vectors.dimCorrelation(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_gramagg".r.findFirstIn(exec).isDefined,
      s"the Gram state must combine map-side:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"the top-20 cut must be a bounded-state selection:\n$exec")
    assert(!exec.contains("SortMergeJoin") && !exec.contains("CartesianProduct"),
      s"no join belongs in the one-pass plan:\n$exec")
  }

  test("degree distribution: map-combined counts, degree-sized histogram") {
    val q = graft.ops.Graph.degreeDistribution(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"degree and histogram counts must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"only the 1-row total may cross, as a broadcast:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("keyword rake: doc-partitioned windows only, top-20 is TakeOrdered") {
    val q = graft.ops.Text.keywordRake(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("windowspecdefinition()"),
      s"island windows must partition by doc_id:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"the top-20 cut must be a bounded-state selection:\n$exec")
    assert("partial_(count|sum|max)".r.findFirstIn(exec).isDefined,
      s"phrase and word aggregates must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct"), s"no cartesian:\n$exec")
  }

  test("entropy rate: one user lead window, matrix-sized everything after") {
    val q = graft.ops.Events.entropyRate(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("windowspecdefinition()"),
      s"both windows partition (user_id for lead, f for cf):\n$exec")
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"the transition count must combine map-side:\n$exec")
    assert(exec.contains("BroadcastNestedLoopJoin") ||
      exec.contains("BroadcastHashJoin"),
      s"the 1-row total must broadcast:\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"nothing matrix-sized may shuffle-join:\n$exec")
  }

  test("price index: collapse computed once and reused, part-keyed window") {
    val q = graft.ops.Relational.priceIndex(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_sum".r.findFirstIn(exec).isDefined,
      s"the (part, month) collapse must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"only the 1-row base-month frame may cross, as a broadcast:\n$exec")
    // round 17: the base basket rides a partition-by-part window (never
    // a global one), replacing the self-join that recomputed the
    // collapse per branch and let AQE broadcast a data-sized side
    assert(!exec.contains("windowspecdefinition()"),
      s"the base-basket window must partition by part:\n$exec")
    assert(exec.contains("ReusedExchange") || exec.contains("ReusedQueryStage"),
      s"b0 must reuse the (part, month) collapse exchange:\n$exec")
    // round-18 advice fix: the old (!SMJ && !BHJ) || !broadcastMode
    // spelling passed whenever an SMJ WAS present (first conjunct
    // false, fallback true) — assert each hazard directly
    assert(!exec.contains("SortMergeJoin"),
      s"no part-keyed data-sized shuffle join may remain:\n$exec")
    assert(!exec.contains("BroadcastHashJoin") ||
      !exec.contains("HashedRelationBroadcastMode(List(input[0, bigint"),
      s"no part-keyed data-sized broadcast may remain:\n$exec")
  }

  test("cohort ltv: map-combined collapse, answer-sized window and joins") {
    val q = graft.ops.Relational.cohortLtv(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_sum".r.findFirstIn(exec).isDefined,
      s"the (customer, month) collapse must combine map-side:\n$exec")
    assert(!exec.contains("windowspecdefinition()"),
      s"the cumulative window partitions by cohort month:\n$exec")
    assert(!exec.contains("CartesianProduct"), s"no cartesian:\n$exec")
    assert(exec.contains("BroadcastHashJoin"),
      s"the months-sized cohort-size frame must broadcast:\n$exec")
  }

  test("weekly churn: deduped self-join keys on user, no broadcast left") {
    val q = graft.ops.Events.weeklyChurn(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_(count|first)".r.findFirstIn(exec).isDefined ||
      exec.contains("HashAggregate"),
      s"the (week, user) dedup must be a hash aggregate:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"only the 1-row max-week frame may cross, as a broadcast:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("backlog aging: map-side bucketing, 1-row broadcasts only") {
    val q = graft.ops.Relational.backlogAging(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the (status, bucket) aggregate must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"as-of and total are 1-row broadcasts:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("containment: salted shuffle join, fail-fast bound, TakeOrdered") {
    val q = graft.ops.Text.dedupContainment(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("ShuffledHashJoin") || exec.contains("SortMergeJoin"),
      s"the salted pair join must distribute, not broadcast-probe-on-one-split:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"the top-20 cut must be a bounded-state selection:\n$exec")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Text.dedupContainment(spark, sf, maxDocs = 1)
    }
    assert(e.getMessage.contains("dedupMinhash"),
      "the fail-fast must point at the scale path")
  }

  test("langid eval: everything after the map-only scorer is matrix-sized") {
    val q = graft.ops.Text.langidEval(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"the confusion-cell count must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"only the 1-row totals may cross, as a broadcast:\n$exec")
    assert(!exec.contains("windowspecdefinition"),
      s"no window anywhere — the scorer is the native expression:\n$exec")
  }

  test("user features: single per-user aggregate pass, bounded output") {
    val q = graft.ops.Events.userFeatures(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_(count|sum|min|max)".r.findFirstIn(exec).isDefined,
      s"the per-user aggregate must combine map-side:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"the registry truncation must be a bounded selection:\n$exec")
    assert(!exec.contains("Join") && !exec.contains("Window"),
      s"one aggregate pass, no join or window:\n$exec")
  }

  test("pq codebook: literal codebook broadcasts, argmin windows per vector") {
    val q = graft.ops.Vectors.pqCodebook(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin") && !exec.contains("SortMergeJoin"),
      s"the M·K-row codebook must broadcast:\n$exec")
    assert(!exec.contains("windowspecdefinition()"),
      s"the argmin window partitions by (vec_id, m):\n$exec")
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the cell aggregate must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct"), s"no cartesian:\n$exec")
  }

  test("referential integrity: key-only anti joins, 1-row branches") {
    val q = graft.ops.Recon.referentialIntegrity(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"only 1-row count frames may cross:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
    // every fact scan in an anti-join branch reads only its key column
    assert(!exec.contains("l_extendedprice") && !exec.contains("o_totalprice"),
      s"anti-join branches must prune to key columns:\n$exec")
  }

  test("temperature mix: one map-combined source aggregate, 1-row total") {
    val q = graft.ops.Sampling.temperatureMix(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the per-source token count must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"only the 1-row normalizer may cross, as a broadcast:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("diff in diff: one map-combined cell pass, 1-row broadcasts only") {
    val q = graft.ops.Events.diffInDiff(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the (type, period) collapse must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"cutoff and totals are 1-row broadcasts:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("pk uniqueness: map-deduped distinct counts, 1-row branches only") {
    val q = graft.ops.Recon.pkUniqueness(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"distinct counts must partial-aggregate map-side:\n$exec")
    assert(!exec.contains("Join") && !exec.contains("Window"),
      s"ten independent 1-row branches, union only:\n$exec")
  }

  test("seasonality index: map-combined monthly collapse, 1-row total") {
    val q = graft.ops.Relational.seasonalityIndex(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_sum".r.findFirstIn(exec).isDefined,
      s"the monthly collapse must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"only the 1-row total may cross, as a broadcast:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("value anova: one map-combined moment pass, 1-row F broadcast") {
    val q = graft.ops.Events.valueAnova(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the per-type moment pass must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct") && !exec.contains("SortMergeJoin"),
      s"the 1-row F frame broadcasts; the stats self-join is types-sized:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("spend migration: customer-keyed flows, 2-row totals broadcast") {
    val q = graft.ops.Relational.spendMigration(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    assert("partial_sum".r.findFirstIn(exec).isDefined,
      s"the (customer, period) collapse must combine map-side:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"cutoff/totals broadcast; the flow join keys on customer:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("user gini: histogram window only — no users-sized sort frame") {
    val exec = graft.ops.Events.userGini(spark, sf)
      .queryExecution.executedPlan.toString
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"the (type,user) count must combine map-side:\n$exec")
    // the only Window must run over the distinct-count-value histogram
    // (keyed by v), never over the per-user count frame directly
    assert(exec.contains("windowspecdefinition(event_type"),
      s"the cumulative-weight window partitions by type:\n$exec")
    assert(!exec.contains("Join"),
      s"one linear pipeline, no join:\n$exec")
  }

  test("stickiness: map-deduped passes only, month-sized mau broadcasts") {
    val q = graft.ops.Events.stickiness(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    // Catalyst collapses distinct-of-projection-of-distinct, so the mau
    // branch is its own (month, user) aggregate over the scan — assert
    // both dedup passes combine map-side instead of demanding reuse
    assert(exec.split("HashAggregate\\(keys=\\[mon").length >= 3,
      s"both dedup passes must be hash aggregates:\n$exec")
    assert(exec.contains("BroadcastHashJoin") && !exec.contains("SortMergeJoin"),
      s"the month-sized mau frame must broadcast:\n$exec")
    assert(!exec.contains("Window"), s"no window anywhere:\n$exec")
  }

  test("markov stationary: literal pi broadcasts, observed agg map-combines") {
    val exec = graft.ops.Events.markovStationary(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin") && !exec.contains("SortMergeJoin"),
      s"the cap²-bounded pi frame must broadcast against the mix agg:\n$exec")
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"the observed-mix count must combine map-side:\n$exec")
  }

  test("cusum changepoint: type-partitioned windows over a daily-sized frame") {
    val exec = graft.ops.Events.cusumChangepoint(spark, sf)
      .queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the daily collapse must combine map-side:\n$exec")
    assert(!exec.contains("Join"),
      s"prefix/total/argmax all ride windows on the daily frame, no join:\n$exec")
    assert(!exec.contains("windowspecdefinition()"),
      s"every window must partition by event_type:\n$exec")
  }

  test("jsd: one token exchange, partitioned windows, no broadcast builds") {
    // round-20 small-path shape (the fixture sits under JsCoalesceDocsGate,
    // so this pins the gated plan; the over-gate branch is the pre-round-20
    // join+broadcast spelling verbatim, retired from guard coverage when the
    // gate landed): cg/na/ng fold as window sums over the coalesced
    // single-partition count frame — no joins, no broadcast-build jobs, no
    // second aggregation of sc — and SinglePartition carries through the
    // lattice projection, per-source aggregate and sort, so the WHOLE op
    // is one exchange / two stages (ng's unpartitioned window is the
    // size-gated allowlisted site)
    val q = graft.ops.Text.jsDivergence(spark, sf)
    // initial (non-final) adaptive plan: exchanges inserted, each node once
    val exec = q.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(exec).length
    assert(shuffles == 1,
      s"exactly one exchange (the (source, tok) count shuffle), got $shuffles:\n$exec")
    assert(!exec.contains("Exchange rangepartitioning"),
      s"the 5-row presentation sort must stay a local sort:\n$exec")
    assert(!exec.contains("BroadcastExchange") && !exec.contains("Join"),
      s"the single-partition path must not pay joins or broadcast builds:\n$exec")
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"token counts must combine map-side:\n$exec")
  }

  test("readability: map-only scan, bounded presentation selection") {
    val exec = graft.ops.Text.readability(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Join") && !exec.contains("Window"),
      s"three regex counts are row-local projections:\n$exec")
    assert(exec.contains("TakeOrderedAndProject"),
      s"the presentation sort must be a bounded selection:\n$exec")
    assert("ReadSchema:[^\n]*text".r.findFirstIn(exec).isDefined &&
      !exec.contains("embedding#"),
      s"only doc_id/text may be read:\n$exec")
  }

  test("benford: one 9-group map-combined scan, all joins broadcast") {
    val exec = graft.ops.Recon.benford(spark, sf)
      .queryExecution.executedPlan.toString
    assert("partial_count".r.findFirstIn(exec).isDefined,
      s"the digit histogram must combine map-side:\n$exec")
    assert(!exec.contains("SortMergeJoin") && !exec.contains("ShuffledHashJoin"),
      s"expectations frame and singleton totals must broadcast:\n$exec")
    assert(!exec.contains("Window"),
      s"the chi2 total rides a 9-row re-aggregate, not a window:\n$exec")
  }

  test("trend forecast: month cells map-combine, first-month frame broadcasts") {
    val exec = graft.ops.Relational.trendForecast(spark, sf)
      .queryExecution.executedPlan.toString
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the (priority, month) collapse must combine map-side:\n$exec")
    assert(exec.contains("BroadcastHashJoin") && !exec.contains("SortMergeJoin"),
      s"the priority-sized first-month frame must broadcast:\n$exec")
    assert(!exec.contains("Window"),
      s"OLS rides sufficient statistics, not a window:\n$exec")
  }

  test("pareto abc: no unpartitioned window, map-side classification") {
    val exec = graft.ops.Relational.paretoAbc(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("windowspecdefinition()") && !exec.contains("Window ["),
      s"the final classify/agg must be windowless (thresholds are " +
        s"pre-resolved literals — the whole point of the histogram pass):\n$exec")
    assert("partial_(count|sum)".r.findFirstIn(exec).isDefined,
      s"the class rollup must combine map-side:\n$exec")
    assert(exec.contains("ExistingRDD"),
      s"the per-customer frame must be the checkpointed one, not a " +
        s"re-derived scan:\n$exec")
  }

  test("pagerank round: gated round broadcasts the node frames; above-gate keeps the shuffle shape") {
    // round-21 verdict #4: under the node-count gate the rank/contrib
    // frames broadcast into the contribution round (edges never
    // shuffle), and with the gate OFF the plan is the pre-gate
    // shuffle-join form — the 100 TB posture
    val on = graft.ops.Graph.pagerankRoundPlan(spark, sf, gateB = true)
      .queryExecution.executedPlan.toString
    assert(on.contains("BroadcastHashJoin") && !on.contains("SortMergeJoin"),
      s"gated round must broadcast both node-sized joins:\n$on")
    val off = graft.ops.Graph.pagerankRoundPlan(spark, sf, gateB = false)
      .queryExecution.executedPlan.toString
    assert(!off.contains("BroadcastHashJoin"),
      s"above the gate nothing may be force-broadcast:\n$off")
    // both shapes compute the same round: same node/ow/r output columns
    assert(Seq(on, off).forall(_.contains("node")), "round output shape")
  }

  test("wasserstein drift: bounds broadcast, totals ride the CDF window") {
    val exec = graft.ops.Recon.wassersteinDrift(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin") && !exec.contains("SortMergeJoin"),
      s"the type-sized bounds frame must broadcast:\n$exec")
    // round 21: same single-pipeline pin as ksDrift — totals/rng are
    // whole-partition window aggregates, not a re-planned cells branch
    assert("BroadcastHashJoin".r.findAllIn(exec).size == 1,
      s"only the bounds join may remain — totals must not join:\n$exec")
    assert("count\\(if".r.findAllIn(exec).size <= 4,
      s"the (type, v) cell collapse must be planned once:\n$exec")
    assert(!exec.contains("windowspecdefinition()"),
      s"the CDF/gap windows must partition by event_type:\n$exec")
    assert("partial_(count|sum|min|max)".r.findFirstIn(exec).isDefined,
      s"the cell collapse must combine map-side:\n$exec")
  }

  test("lsh calibration: memoized pair frame, token joins stay hash joins") {
    val q = graft.ops.Text.lshCalibration(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan.toString
    // round 21 (continuation): the candidate side reads the per-JVM
    // memoized minhash pair frame (built once per corpus — stronger
    // than the exchange reuse this test used to assert), so the
    // per-call plan must NOT re-run the band-bucket self-join (the
    // band/bh key columns are its signature in any plan string)
    assert(!exec.contains("band"),
      s"the candidate pairs must come from the memoized pair frame, " +
        s"not a per-call band-bucket self-join:\n$exec")
    assert(exec.contains("ExistingRDD"),
      s"the candidate side must scan the checkpointed pair frame:\n$exec")
    assert(!exec.contains("SortMergeJoin") && !exec.contains("CartesianProduct"),
      s"token-set probes are hash joins on doc_id:\n$exec")
    // the memo BUILD plan is audited directly (the winnowFpsPlan
    // discipline): the band-bucket shuffled-hash self-join is still
    // what the memo materializes
    val build = graft.ops.Text.minhashPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(build.contains("band") && build.contains("ShuffledHashJoin"),
      s"the pair-frame build must be the banded self-join pipeline:\n$build")
  }
}
