package graft

import graft.ops.{Recon, TablePair}
import org.apache.spark.sql.functions._

/** Reconciliation invariants (SURVEY §5.3): self-compare is clean, a
  * k-row perturbation is detected as exactly k mismatches, and the
  * missing/matched split partitions the source. */
class ReconSpec extends GraftSpec {

  test("rowcount reports the true per-table counts") {
    val rows = Recon.rowcount(spark, sf).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("orders") === Tables.orders(spark, sf).count())
    assert(rows("lineitem") === Tables.lineitem(spark, sf).count())
  }

  test("native rowChecksum is byte-identical to the md5(concat_ws) spelling") {
    // the DuckDB twins still render the Column spelling; the round-18
    // native expression must digest the SAME bytes — probe the attack
    // alphabet (null vs "~null~" vs "", '|' and ':' injection) plus
    // multi-byte chars (length() counts CHARS, not bytes) and the
    // numeric casts the parity anchor ships
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (Option("a|b"), Option("c"), Option(1L), Option(2.5)),
      (None: Option[String], Option("~null~"), Option(0L), None: Option[Double]),
      (Option(""), Option("3:a"), None: Option[Long], Option(1234.5)),
      (Option("héllo 🦊"), Option("日本語"), Option(-7L), Option(-0.125)),
      (Option("x" * 300), None: Option[String], Option(Long.MaxValue), Option(1e12)))
      .toDF("s1", "s2", "n1", "d1")
    val cols = Seq(col("s1"), col("s2"), col("n1"),
      col("d1").cast(org.apache.spark.sql.types.DecimalType(20, 3)))
    val legacy = md5(concat_ws("|", cols.map { c =>
      val s = c.cast("string")
      coalesce(concat(length(s).cast("string"), lit(":"), s), lit("~null~"))
    }: _*))
    val rows = df.select(Recon.rowChecksumOf(cols).as("native"),
      legacy.as("legacy")).collect()
    rows.foreach(r => assert(r.getString(0) === r.getString(1)))
    // and the interpreted (non-codegen) eval agrees with the codegen
    // path on the same attack-alphabet values
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def l(s: String) = Literal(
      if (s == null) null else UTF8String.fromString(s), StringType)
    val interp = graft.functions.RowChecksumMd5(
      Seq(l("a|b"), l("c"), l("1"), l("2.500"))).eval(null).toString
    val viaSpark = Seq(("a|b", "c", "1", "2.500")).toDF("a", "b", "c", "d")
      .select(Recon.rowChecksumOf(Seq(col("a"), col("b"), col("c"),
        col("d"))).as("h")).collect().head.getString(0)
    assert(interp === viaSpark)
    val interpNull = graft.functions.RowChecksumMd5(
      Seq(l(null), l("~null~"), l(""), l("héllo 🦊"))).eval(null).toString
    val viaSparkNull = Seq((Option.empty[String], "~null~", "", "héllo 🦊"))
      .toDF("a", "b", "c", "d")
      .select(Recon.rowChecksumOf(Seq(col("a"), col("b"), col("c"),
        col("d"))).as("h")).collect().head.getString(0)
    assert(interpNull === viaSparkNull)
  }

  test("hashDiffTables(t, t) = 0 for any table") {
    for (t <- Seq("orders", "customer", "part")) {
      val df = Tables.read(spark, sf, t)
      val key = df.columns.head
      val n = Recon.hashDiffTables(df, df, key, df.columns.toSeq)
        .collect().head.getLong(0)
      assert(n === 0L, s"self-compare of $t")
    }
  }

  test("perturbing k rows yields exactly k mismatches") {
    val o = Tables.orders(spark, sf)
    val k = 7
    val keys = o.select("o_orderkey").orderBy("o_orderkey").limit(k)
      .collect().map(_.getLong(0)).toSeq
    val perturbed = o.withColumn("o_totalprice",
      when(col("o_orderkey").isin(keys: _*), col("o_totalprice") + 1.0)
        .otherwise(col("o_totalprice")))
    val n = Recon.hashDiffTables(o, perturbed, "o_orderkey",
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))
      .collect().head.getLong(0)
    assert(n === k)
  }

  test("missing + matched partitions the source rowset") {
    val o = Tables.orders(spark, sf)
    val l = Tables.lineitem(spark, sf)
    val missing = Recon.missingRows(spark, sf).collect().head.getLong(0)
    val matched = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    assert(missing + matched === o.count())
  }

  test("partition drill-down counts sum to the table count") {
    val drill = Recon.partitionDrill(spark, sf)
    assert(drill.agg(sum("n")).collect().head.getLong(0) === Tables.orders(spark, sf).count())
  }

  test("hashDiffDetail classifies mismatched, missing and extra keys") {
    val o = Tables.orders(spark, sf)
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice")
    val keys = o.select("o_orderkey").orderBy("o_orderkey").limit(9)
      .collect().map(_.getLong(0)).toSeq
    val (perturb, drop, onlyTgt) = (keys.slice(0, 3), keys.slice(3, 6), keys.slice(6, 9))
    val src = o.filter(!col("o_orderkey").isin(onlyTgt: _*))
    val tgt = o.filter(!col("o_orderkey").isin(drop: _*))
      .withColumn("o_totalprice",
        when(col("o_orderkey").isin(perturb: _*), col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
    val got = Recon.hashDiffDetail(src, tgt, "o_orderkey", cols).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(perturb.forall(k => got.get(k).contains("mismatch")))
    assert(drop.forall(k => got.get(k).contains("missing_in_target")))
    assert(onlyTgt.forall(k => got.get(k).contains("extra_in_target")))
    assert(got.size === 9)
  }

  test("null-position swaps are detected as mismatches") {
    val spark0 = spark
    import spark0.implicits._
    // same key, same non-null value, but in different columns — a naive
    // concat_ws hash would collide and miss the difference
    val src = Seq((1L, Option("x"), Option.empty[String])).toDF("k", "a", "b")
    val tgt = Seq((1L, Option.empty[String], Option("x"))).toDF("k", "a", "b")
    val n = Recon.hashDiffTables(src, tgt, "k", Seq("a", "b"))
      .collect().head.getLong(0)
    assert(n === 1L)
  }

  test("schemaDrift classifies type, missing, and extra columns") {
    val spark0 = spark
    import spark0.implicits._
    val src = Seq((1L, "x", 2.0)).toDF("k", "a", "b")
    val tgt = Seq((1, "x", true)).toDF("k", "a", "c")
    val got = Recon.schemaDrift(src, tgt).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(got === Map("k" -> "type_mismatch", "a" -> "ok",
      "b" -> "missing_in_target", "c" -> "extra_in_target"))
  }

  test("schemaDriftDisk reports exactly the seeded drift, everything else ok") {
    val rows = Recon.schemaDriftDisk(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (Option(r.getString(2)), Option(r.getString(3)), r.getString(4)))
      .toMap
    val nonOk = rows.filter(_._2._3 != "ok")
    assert(nonOk.keySet === Set(("documents", "n_chars"),
      ("orders", "o_phantom"), ("part", "p_retailprice")))
    assert(rows(("documents", "n_chars")) ===
      ((None, Some("bigint"), "extra_on_disk")))
    assert(rows(("orders", "o_phantom")) ===
      ((Some("string"), None, "missing_on_disk")))
    assert(rows(("part", "p_retailprice")) ===
      ((Some("decimal(12,2)"), Some("double"), "type_mismatch")))
    // every pinned non-seeded column reads back its contract type
    assert(rows(("lineitem", "l_orderkey")) ===
      ((Some("bigint"), Some("bigint"), "ok")))
    assert(rows(("embeddings", "embedding")) ===
      ((Some("array<float>"), Some("array<float>"), "ok")))
  }

  test("report localizes the simulated bad load to the right checks") {
    val rows = Recon.report(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(rows("rowcount")._3, "row counts agree")
    assert(rows("null_custkey")._3, "null counts agree")
    assert(!rows("sum_totalprice")._3, "rounded prices must fail the sum check")
    assert(!rows("hash_mismatches")._3 && rows("hash_mismatches")._1 > 0,
      "row hashes must catch the perturbation")
  }

  test("reconcileAll: one consolidated report across pairs, all checks localized") {
    val o = Tables.orders(spark, sf)
    val keys = o.select("o_orderkey").orderBy("o_orderkey").limit(6)
      .collect().map(_.getLong(0)).toSeq
    val (perturb, drop, onlySrc) = (keys.slice(0, 2), keys.slice(2, 4), keys.slice(4, 6))
    val src = o.filter(!col("o_orderkey").isin(onlySrc: _*))
    val tgt = o.filter(!col("o_orderkey").isin(drop: _*))
      .withColumn("o_totalprice",
        when(col("o_orderkey").isin(perturb: _*), col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
    val c = Tables.customer(spark, sf)
    val rep = Recon.reconcileAll(Seq(
      TablePair("orders", src, tgt, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "o_totalprice")),
      TablePair("customer", c, c, "c_custkey", Seq("c_name", "c_acctbal")),
      TablePair("cust_drift", c, c.drop("c_mktsegment"), "c_custkey", Seq("c_name"))))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(rep.size === 18, "6 checks x 3 pairs")
    // orders: 2 perturbed, 2 dropped from tgt, 2 dropped from src — and
    // rowcount alone cannot see it (n-2 on both sides)
    assert(rep(("orders", "hash_mismatch")) === ((2.0, 0.0, false)))
    assert(rep(("orders", "missing_in_target"))._1 === 2.0)
    assert(rep(("orders", "extra_in_target"))._1 === 2.0)
    assert(rep(("orders", "rowcount"))._3, "equal counts mask the divergence")
    assert(rep(("orders", "schema_drift")) === ((0.0, 0.0, true)))
    // identical pair: everything green
    Seq("rowcount", "hash_mismatch", "missing_in_target", "extra_in_target",
      "dup_keys", "schema_drift").foreach(chk => assert(rep(("customer", chk))._3, chk))
    // drift pair: one column missing in target, flagged
    assert(rep(("cust_drift", "schema_drift")) === ((1.0, 0.0, false)))
    assert(rep(("cust_drift", "hash_mismatch"))._3, "compared cols still match")
  }

  test("reconcileAll: duplicate keys are flagged, never inflate the other checks") {
    val spark0 = spark
    import spark0.implicits._
    // key 2 appears twice in src; all values identical across sides
    val src = Seq((1L, "a"), (2L, "b"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val tgt = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val rep = Recon.reconcileAll(Seq(TablePair("t", src, tgt, "k", Seq("v"))))
      .collect()
      .map(r => r.getString(1) -> ((r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // rowcount reports TRUE row counts (4 vs 3), not join-result rows —
    // a naive full-outer join would fan key 2 out and report 4 vs 4
    assert(rep("rowcount") === ((4.0, 3.0, false)))
    assert(rep("dup_keys") === ((1.0, 0.0, false)), "one duplicated key in src")
    // the dup fan-out must not leak into the value checks
    assert(rep("hash_mismatch")._3 && rep("missing_in_target")._3
      && rep("extra_in_target")._3)
  }

  test("sampleDiff: both sides sample the same keys; hits are the exact intersection") {
    val o = Tables.orders(spark, sf)
    // target diverges on every 10th key and drops every 97th
    val tgt = o.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
    val cols = Seq("o_custkey", "o_totalprice")
    // fraction 1 degenerates to the full detail diff
    val full = Recon.sampleDiff(o, tgt, "o_orderkey", cols, 1.0).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val detail = Recon.hashDiffDetail(o, tgt, "o_orderkey", cols).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full === detail)
    // fractional sample: findings must be exactly (all divergent keys) ∩
    // (content-keyed sample) — nothing sampled-but-clean, nothing
    // divergent-but-unsampled, and both sides agreed on the key set
    val seed = 7L
    val sampledKeys = o.filter(
        pmod(xxhash64(col("o_orderkey"), lit(seed)), lit(1000000L)) < lit(300000L))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val got = Recon.sampleDiff(o, tgt, "o_orderkey", cols, 0.3, seed).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = detail.filter { case (k, _) => sampledKeys(k) }
    assert(got === expected)
    assert(got.nonEmpty && got.size < detail.size,
      s"fixture must make the sample a strict, non-empty subset: ${got.size}/${detail.size}")
    // content-keyed membership is layout-stable: a repartitioned source
    // reports the identical finding set
    val reshuffled = Recon.sampleDiff(o.repartition(13), tgt, "o_orderkey",
      cols, 0.3, seed).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reshuffled === got)
  }

  test("toleranceDiff: within-tolerance drift passes, material drift counts") {
    val o = Tables.orders(spark, sf)
    val keys = o.select("o_orderkey").orderBy("o_orderkey").limit(4)
      .collect().map(_.getLong(0)).toSeq
    val (small, big) = (keys.take(2), keys.drop(2))
    val tgt = o.withColumn("o_totalprice",
      when(col("o_orderkey").isin(small: _*), col("o_totalprice") + 0.2)
        .when(col("o_orderkey").isin(big: _*), col("o_totalprice") + 0.5)
        .otherwise(col("o_totalprice")))
    def diff(tol: Double) =
      Recon.toleranceDiff(o, tgt, "o_orderkey", "o_totalprice", tol)
        .collect().head.getLong(0)
    assert(diff(0.3) === 2L, "only the +0.5 perturbations are material at tol 0.3")
    assert(diff(0.1) === 4L, "all four perturbations exceed tol 0.1")
    assert(diff(1.0) === 0L, "everything within tol 1.0")
  }

  test("toleranceDiff: one-sided null and NaN divergences count as mismatches") {
    val spark0 = spark
    import spark0.implicits._
    val src = Seq((1L, Option(1.0)), (2L, None), (3L, Option(Double.NaN)),
      (4L, None), (5L, Option(Double.NaN)), (6L, Option(2.0))).toDF("k", "v")
    val tgt = Seq((1L, None), (2L, Option(1.0)), (3L, Option(1.0)),
      (4L, Option.empty[Double]), (5L, Option(Double.NaN)), (6L, Option(2.0))).toDF("k", "v")
    val n = Recon.toleranceDiff(src, tgt, "k", "v", tol = 0.5)
      .collect().head.getLong(0)
    // keys 1,2 (null vs value) and 3 (NaN vs value) diverge;
    // 4 (null=null), 5 (NaN=NaN), 6 (equal) agree
    assert(n === 3L)
  }

  test("profile: null/distinct/min/max per column on seeded data") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, Option("a"), Option(2.5)),
      (2L, Option("b"), None),
      (3L, Option("a"), Option(-1.0)),
      (4L, None, Option(2.5))).toDF("k", "s", "d")
    val got = Recon.profile(df, Seq("k", "s", "d")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(got("k") === ((0L, 4L, "1", "4")))
    assert(got("s") === ((1L, 2L, "a", "b")))
    assert(got("d") === ((1L, 2L, "-1.0", "2.5")))
    // report is sorted by column name
    assert(Recon.profile(df, Seq("s", "k")).collect().map(_.getString(0)).toSeq
      === Seq("k", "s"))
  }

  test("window scopes recon to one load window and prunes partitions") {
    val path = s"$tmpDir/orders_mo"
    Tables.orders(spark, sf)
      .withColumn("mo", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.partitionBy("mo").mode("overwrite").parquet(path)
    val src = spark.read.parquet(path)
    // one perturbed key inside the 1995-03 window, one outside it
    val Array(kIn, kOut) = Array("1995-03", "1996-03").map(mo =>
      src.filter(col("mo") === mo).agg(min("o_orderkey")).collect().head.getLong(0))
    val tgt = src.withColumn("o_totalprice",
      when(col("o_orderkey").isin(kIn, kOut), col("o_totalprice") + 1)
        .otherwise(col("o_totalprice")))
    val diff = Recon.hashDiffTables(src, tgt, "o_orderkey", Seq("o_totalprice"),
      window = Some(col("mo") === "1995-03"))
    // only the in-window perturbation is visible
    assert(diff.collect().head.getLong(0) === 1L)
    // and the predicate reached the scan as a partition filter: unrelated
    // load windows are never read
    val plan = diff.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(mo"), plan)
  }

  test("hash_diff single-scan plan: no join, one scan") {
    val plan = Recon.hashDiff(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "hashDiff must not self-join")
  }

  test("snapshot diff: exactly the mutated/new/dropped partitions surface") {
    val spark0 = spark
    import spark0.implicits._
    val cols = Seq("v")
    def snap(rows: Seq[(String, Long, String)]) = Recon.fingerprintSnapshot(
      rows.toDF("part0", "id", "v"), col("part0"), cols)
    val prev = snap(Seq(
      ("p1", 1L, "a"), ("p1", 2L, "b"),
      ("p2", 3L, "c"),
      ("p3", 4L, "d")))
    // p1 mutated (one value changed), p2 untouched, p3 dropped, p4 new
    val curr = snap(Seq(
      ("p1", 1L, "a"), ("p1", 2L, "B"),
      ("p2", 3L, "c"),
      ("p4", 5L, "e")))
    val got = Recon.snapshotDiff(prev, curr).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("p1" -> "changed", "p3" -> "dropped", "p4" -> "new"),
      "p2 must not surface")
    // same rows, different arrival order → identical fingerprints
    val reordered = snap(Seq(
      ("p2", 3L, "c"), ("p1", 2L, "b"), ("p1", 1L, "a"), ("p3", 4L, "d")))
    assert(Recon.snapshotDiff(prev, reordered).count() === 0L,
      "fingerprints must be row-order independent")
  }

  test("snapshot diff catches a duplicate-pair insertion the XOR channel misses") {
    val spark0 = spark
    import spark0.implicits._
    val prev = Recon.fingerprintSnapshot(
      Seq(("p1", "a")).toDF("part0", "v"), col("part0"), Seq("v"))
    // two extra IDENTICAL rows XOR to zero — count and sum still move
    val curr = Recon.fingerprintSnapshot(
      Seq(("p1", "a"), ("p1", "x"), ("p1", "x")).toDF("part0", "v"),
      col("part0"), Seq("v"))
    val got = Recon.snapshotDiff(prev, curr).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("p1" -> "changed"))
  }

  test("fingerprint snapshots round-trip through parquet across runs") {
    val spark0 = spark
    import spark0.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val day1 = Seq(("p1", 1L, "a"), ("p2", 2L, "b")).toDF("part", "k", "v")
    // run 1 persists its snapshot — the only thing the next run needs
    Recon.fingerprintSnapshot(day1, col("part"), Seq("k", "v"))
      .write.mode("overwrite").parquet(s"$tmp/snap")
    // run 2: p2's value moved; diff TONIGHT's data against the STORED
    // snapshot — no access to day-1 rows at all
    val day2 = Seq(("p1", 1L, "a"), ("p2", 2L, "CHANGED")).toDF("part", "k", "v")
    val got = Recon.snapshotDiff(
        spark.read.parquet(s"$tmp/snap"),
        Recon.fingerprintSnapshot(day2, col("part"), Seq("k", "v")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(("p2", "changed")),
      "the persisted snapshot must carry everything a later run needs")
  }

  test("incrementalDiff: divergence attributed only to the corrupted partition") {
    val spark0 = spark
    import spark0.implicits._
    val src = Seq(
      ("p1", 1L, "x"), ("p1", 2L, "y"),
      ("p2", 3L, "a"), ("p2", 4L, "b"),
      ("p3", 5L, "q")).toDF("part", "k", "v")
    // p2 corrupted: one value mutated, one row dropped; p1/p3 intact
    val tgt = Seq(
      ("p1", 1L, "x"), ("p1", 2L, "y"),
      ("p2", 3L, "MUTATED"),
      ("p3", 5L, "q")).toDF("part", "k", "v")
    val got = Recon.incrementalDiff(src, tgt, "k", Seq("v")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(("p2", "mismatch", 1L), ("p2", "missing_in_target", 1L)),
      "untouched partitions must contribute nothing to the detail output")
  }

  test("incrementalDiffOrders: fused same-base path matches the generic API bit-for-bit") {
    // the harness op runs one fused scan + row-local classification; it
    // must produce exactly what routing the two sides through the
    // generic two-frame incrementalDiff produces
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val month = date_trunc("month", col("o_orderdate"))
    val o = Tables.orders(spark, sf)
      .withColumn("o_totalprice",
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
      .withColumn("part", month)
    val tgt = o
      .withColumn("o_totalprice",
        when(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"),
          round(col("o_totalprice"), 0)
            .cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .otherwise(col("o_totalprice")))
      .filter(col("part") =!= lit("1995-01-01").cast("timestamp"))
    val generic = Recon.incrementalDiff(o, tgt, "o_orderkey", cols)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSeq
    val fused = Recon.incrementalDiffOrders(spark, sf)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSeq
    assert(fused === generic)
    assert(fused.nonEmpty, "the corruption fixture must surface divergence")
  }

  /** Orders with the demo row hash's price normalization applied up
    * front, so the generic APIs hash what the fused ops hash. */
  private def decimalPrice(price: org.apache.spark.sql.Column) =
    price.cast(org.apache.spark.sql.types.DecimalType(12, 2))

  test("snapshotDiffOrders: fused same-base path matches fingerprintSnapshot + snapshotDiff") {
    // the same corruption fixture as incrementalDiffOrders: prices
    // rounded from 1997 on, the 1995-01 load missing from tonight's
    // replica; the generic route persists md5 fingerprints, the fused
    // op compares in-flight hashes, and both must name the same months
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val month = date_trunc("month", col("o_orderdate"))
    val o = Tables.orders(spark, sf)
    val prev = o.withColumn("o_totalprice", decimalPrice(col("o_totalprice")))
    val curr = o
      .withColumn("o_totalprice", decimalPrice(
        when(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"),
          round(col("o_totalprice"), 0)).otherwise(col("o_totalprice"))))
      .filter(month =!= lit("1995-01-01").cast("timestamp"))
    val generic = Recon.snapshotDiff(
        Recon.fingerprintSnapshot(prev, month, cols),
        Recon.fingerprintSnapshot(curr, month, cols))
      .orderBy("part").collect().toSeq
    val fused = Recon.snapshotDiffOrders(spark, sf).collect().toSeq
    assert(fused === generic)
    assert(fused.map(_.getString(1)).toSet === Set("changed", "dropped"),
      "the fixture must surface both a changed and a dropped month")
  }

  test("diffDetail: fused same-base path matches hashDiffDetail") {
    // source drops every 991st key, target every 997th and rounds prices
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice")
    val o = Tables.orders(spark, sf)
    val src = o.filter(col("o_orderkey") % 991 =!= 0)
      .withColumn("o_totalprice", decimalPrice(col("o_totalprice")))
    val tgt = o.filter(col("o_orderkey") % 997 =!= 0)
      .withColumn("o_totalprice", decimalPrice(round(col("o_totalprice"), 0)))
    val generic = Recon.hashDiffDetail(src, tgt, "o_orderkey", cols)
      .orderBy("status", "k").limit(200).collect().toSeq
    val fused = Recon.diffDetail(spark, sf).collect().toSeq
    assert(fused === generic)
    // the first 200 by (status, k) end inside the mismatch block
    assert(fused.map(_.getString(1)).toSet === Set("extra_in_target", "mismatch"))
  }

  test("reconcileAllDemo: fused same-base path matches reconcileAll") {
    val o = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
    val src = o.filter(col("o_orderkey") % 991 =!= 0)
      .withColumn("o_totalprice", decimalPrice(col("o_totalprice")))
    val tgt = o.filter(col("o_orderkey") % 997 =!= 0)
      .withColumn("o_totalprice", decimalPrice(round(col("o_totalprice"), 0)))
    val c = Tables.customer(spark, sf)
    val generic = Recon.reconcileAll(Seq(
      TablePair("orders", src, tgt, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "o_totalprice")),
      TablePair("customer", c, c.filter(col("c_custkey") % 500 =!= 0),
        "c_custkey", Seq("c_name", "c_mktsegment", "c_acctbal"))))
      .collect().toSeq
    val fused = Recon.reconcileAllDemo(spark, sf).collect().toSeq
    assert(fused === generic)
    assert(fused.exists(r => r.getString(0) == "orders" && !r.getBoolean(4)),
      "the orders fixture must fail at least one check")
  }

  test("observedLoad: the write action itself yields the load fingerprint") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-obs").toString
    val (observed, obs) = Recon.observedLoad(
      Tables.orders(spark, sf), "o_orderkey", "o_totalprice")
    observed.write.mode("overwrite").parquet(tmp)   // the ONLY scan
    val m = obs.get
    assert(m("rows") === 1500L)
    assert(m("value_nulls") === 0L)
    assert(m("key_min") === 0L && m("key_max") === 1499L)
    // the observed sum must equal an independent exact recount
    val expect = Tables.orders(spark, sf)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
        .cast("double")).collect().head.getDouble(0)
    assert(m("value_sum") === expect)
    // and the written parquet carries exactly the observed rowcount
    assert(spark.read.parquet(tmp).count() === 1500L)
  }

  test("keyProfile: multiplicity histogram flags duplicated keys") {
    val spark0 = spark
    import spark0.implicits._
    // k=1 once, k=2 twice, k=3 three times, k=4 once → {1→2, 2→1, 3→1}
    val df = Seq(1L, 2L, 2L, 3L, 3L, 3L, 4L).toDF("k")
    val got = Recon.keyProfile(df, "k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    // a unique-key frame collapses to the single multiplicity-1 row —
    // the precondition every keyed recon check assumes
    val uniq = Recon.keyProfile(Tables.orders(spark, sf), "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uniq.toSeq === Seq((1L, 1500L)))
  }

  test("key coverage: a synthesized crater is localized to its bucket") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/craterfix"
    // dense keys 0..9999 with 2500..3499 dropped — a crater strictly
    // INSIDE bucket 1 (keys 2000..3999), since span derives from the
    // observed min/max: bucket 1 shows coverage 0.5, the rest stay full
    (0L until 10000L).filterNot(k => k >= 2500 && k < 3500)
      .map(k => (k, k, "O", 10.0,
        new java.sql.Timestamp(820454400000L), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val got = Recon.keyCoverage(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got(1L) === ((1000L, 1000L, 0.5)), "the crater bucket")
    (Seq(0L, 2L, 3L, 4L)).foreach { b =>
      assert(got(b)._2 === 0L && got(b)._3 === 1.0, s"bucket $b must be full")
    }
  }

  test("psi drift: totals conserve, identical halves contribute zero") {
    val rows = Recon.psiDrift(spark, sf).collect()
    val n = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === n, "src counts must total")
    assert(rows.map(_.getLong(2)).sum === n, "tgt counts must total")
    // pre-1997 rows are undrifted, so the only nonzero contributions come
    // from buckets whose post-1997 mass moved; every contribution must be
    // >= 0 (the PSI integrand is (p-q)ln(p/q), nonnegative for p,q > 0)
    rows.foreach { r =>
      assert(r.getDouble(3) >= -1e-9, s"bucket ${r.getLong(0)} negative PSI")
    }
    assert(rows.map(_.getDouble(3)).sum > 0.0,
      "the 1.02x drift must register as positive total PSI")
  }

  test("ks drift: planted shift flagged, stationary type is not, " +
      "same-instant type drops out, exact driver recompute") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/ksfix"
    def at(id: Long, typ: String, minute: Long, v: Double) =
      EventsFixture.RawEv(id, (1735689600L + minute * 60) * 1000000000L,
        1L, typ, v, "{}")
    // shift: second half +100 -> KS 1.0, far past crit; flat: halves
    // from overlapping but different supports -> small KS; solo: all
    // five events share one instant -> no second half, dropped
    val rows =
      (0 until 20).map(i => at(i.toLong, "shift", i.toLong, (i % 10).toDouble)) ++
      (20 until 40).map(i => at(i.toLong, "shift", i.toLong, (i % 10) + 100.0)) ++
      (0 until 20).map(i => at(100 + i.toLong, "flat", i.toLong, (i % 10).toDouble)) ++
      (20 until 40).map(i => at(100 + i.toLong, "flat", i.toLong, (i % 5) * 2.0)) ++
      (0 until 5).map(i => at(200 + i.toLong, "solo", 7, i.toDouble))
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Recon.ksDrift(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got.keySet === Set("shift", "flat"), "solo must drop out")
    // exact integer recompute of KS = max |cum1*n2 - cum2*n1| / (n1*n2)
    def ks(h1: Seq[Double], h2: Seq[Double]): (Double, Boolean) = {
      val (n1, n2) = (h1.length.toLong, h2.length.toLong)
      val vals = (h1 ++ h2).distinct.sorted
      val num = vals.map { x =>
        math.abs(h1.count(_ <= x) * n2 - h2.count(_ <= x) * n1)
      }.max
      val k = num.toDouble / (n1.toDouble * n2)
      (k, k > 1.36 * math.sqrt((n1.toDouble + n2) / (n1.toDouble * n2)))
    }
    val (ksShift, drShift) =
      ks((0 until 20).map(i => (i % 10).toDouble),
        (20 until 40).map(i => (i % 10) + 100.0))
    val (ksFlat, drFlat) =
      ks((0 until 20).map(i => (i % 10).toDouble),
        (20 until 40).map(i => (i % 5) * 2.0))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("shift") === ((20L, 20L, r6(ksShift), drShift)))
    assert(got("shift")._3 === 1.0 && got("shift")._4, "total shift: KS 1, drifted")
    assert(got("flat") === ((20L, 20L, r6(ksFlat), drFlat)))
    assert(!got("flat")._4, "stationary type must not be flagged")
  }

  test("wasserstein drift: planted shift = exact distance, identical halves = 0") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/wsfix"
    def at(id: Long, typ: String, minute: Long, v: Double) =
      EventsFixture.RawEv(id, (1735689600L + minute * 60) * 1000000000L,
        1L, typ, v, "{}")
    // shift: second half = first half + 100 → W₁ exactly 100 (mass
    // moves 100 units); same: identical halves → W₁ exactly 0
    val rows =
      (0 until 20).map(i => at(i.toLong, "shift", i.toLong, (i % 10).toDouble)) ++
      (20 until 40).map(i => at(i.toLong, "shift", i.toLong, (i % 10) + 100.0)) ++
      (0 until 20).map(i => at(100 + i.toLong, "same", i.toLong, (i % 10).toDouble)) ++
      (20 until 40).map(i => at(100 + i.toLong, "same", i.toLong, (i % 10).toDouble))
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Recon.wassersteinDrift(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("shift")._3 === 100.0, "translation by 100 has W1 = 100")
    // w1_norm = 100 / range(0..109) in micro units = 100/109
    assert(got("shift")._4 ===
      BigDecimal(100.0 / 109.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(got("same") === ((20L, 20L, 0.0, 0.0)), "identical halves: W1 = 0")
  }

  test("wasserstein drift: sf values recompute via a driver BigInt fold") {
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts")),
        round(round(col("value"), 6) * 1e6, 0).cast("long"))
      .where(col("value").isNotNull)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = raw.groupBy(_._1).flatMap { case (t, rows) =>
      val (lo, hi) = (rows.map(_._2).min, rows.map(_._2).max)
      if (lo >= hi) None else {
        val mid = (lo + hi) / 2
        val h1 = rows.filter(_._2 <= mid).map(_._3)
        val h2 = rows.filter(_._2 > mid).map(_._3)
        val vals = (h1 ++ h2).distinct.sorted
        val rng = vals.max - vals.min
        if (h1.isEmpty || h2.isEmpty || rng <= 0) None else {
          val (n1, n2) = (BigInt(h1.length), BigInt(h2.length))
          val num = vals.zip(vals.tail).map { case (v, nxt) =>
            (BigInt(h1.count(_ <= v)) * n2 - BigInt(h2.count(_ <= v)) * n1).abs *
              BigInt(nxt - v)
          }.sum
          Some(t -> (num, n1, n2, rng))
        }
      }
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Recon.wassersteinDrift(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet === expect.keySet)
    got.foreach { r =>
      val (num, n1, n2, rng) = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2)) === ((n1.toLong, n2.toLong)))
      assert(r.getDouble(3) ===
        r6(num.toDouble / (n1.toDouble * n2.toDouble * 1e6)),
        s"w1 for ${r.getString(0)}")
      assert(r.getDouble(4) ===
        r6(num.toDouble / (n1.toDouble * n2.toDouble * rng.toDouble)),
        s"w1_norm for ${r.getString(0)}")
    }
  }

  test("benford: a conforming population is not flagged; counts recount") {
    val spark0 = spark
    import spark0.implicits._
    // counts = round(10000·p_d) sum to exactly 10000; χ² is then the
    // pure rounding residue (≪ 15.507) — drifted must be false
    val p = Seq(0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val counts = p.map(x => math.round(x * 10000).toInt)
    assert(counts.sum === 10000)
    val dir = s"$tmpDir/benford"
    counts.zipWithIndex.flatMap { case (c, i) =>
      // price (i+1)·10^k varies magnitude; first digit stays i+1
      (0 until c).map(j => (j.toLong, (i + 1) * math.pow(10, j % 3)))
    }.toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Recon.benford(spark, dir).collect()
    assert(got.length === 9)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) === i + 1)
      assert(r.getLong(1) === counts(i).toLong, s"n_obs digit ${i + 1}")
      assert(!r.getBoolean(6), "conforming population flagged as drifted")
    }
    // χ² total is the sum of the 6-dp parts (micro-unit-long exactness)
    val expTotal = got.map(r => math.round(r.getDouble(4) * 1e6)).sum / 1e6
    assert(got.head.getDouble(5) ===
      math.round(expTotal * 1e6) / 1e6)
  }

  test("benford: sf digit counts recompute from the raw prices") {
    val raw = Tables.lineitem(spark, sf).select("l_extendedprice")
      .collect().map(_.getDouble(0)).filter(_ > 0)
    val expect = raw.groupBy(p =>
        BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .underlying.unscaledValue.toString.head.asDigit)
      .view.mapValues(_.length.toLong).toMap
    val got = Recon.benford(spark, sf).collect()
    assert(got.map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      (1 to 9).map(d => d -> expect.getOrElse(d, 0L)).toMap)
    assert(got.map(_.getLong(1)).sum === raw.length.toLong)
  }

  test("referential integrity: planted orphans and NULL keys count right") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/ri"
    // minimal star: nation {1}, region {1}; customer 10 (ok), 20
    // (orphan nationkey 99), 30 (NULL key — NOT an orphan); orders:
    // two ok, one orphan custkey; single-row lineitem/part/supplier
    // keep the other edges intact
    Seq((1, 1)).toDF("n_nationkey", "n_regionkey")
      .write.mode("overwrite").parquet(s"$d/nation.parquet")
    Seq(Tuple1(1)).toDF("r_regionkey")
      .write.mode("overwrite").parquet(s"$d/region.parquet")
    Seq((10L, Some(1)), (20L, Some(99)), (30L, None))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$d/customer.parquet")
    Seq((1L, 10L), (2L, 10L), (3L, 777L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    Seq((1L, 1L, 1L)).toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    Seq(Tuple1(1L)).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    Seq((1L, 1)).toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$d/supplier.parquet")
    val got = Recon.referentialIntegrity(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got.size === 7)
    assert(got("customer.c_nationkey -> nation") === ((3L, 1L, 0.333333, false)),
      "NULL key is not an orphan; 99 is")
    assert(got("orders.o_custkey -> customer") === ((3L, 1L, 0.333333, false)))
    Seq("lineitem.l_orderkey -> orders", "lineitem.l_partkey -> part",
      "lineitem.l_suppkey -> supplier", "nation.n_regionkey -> region",
      "supplier.s_nationkey -> nation").foreach { fk =>
      assert(got(fk)._2 === 0L && got(fk)._4, s"$fk intact")
    }
    // sf recount of one edge from collected key sets
    val custKeys = Tables.customer(spark, sf)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val orphans = Tables.orders(spark, sf).select("o_custkey").collect()
      .count(r => !r.isNullAt(0) && !custKeys.contains(r.getLong(0)))
    val sfGot = Recon.referentialIntegrity(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(sfGot("orders.o_custkey -> customer") === orphans.toLong)
  }

  test("pk uniqueness: planted duplicate and NULL-field composite count right") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/pku"
    // composite key: (1,1) twice (a real dup), (2,NULL) twice (NULL
    // field — still two IDENTICAL structs, so a dup under the struct
    // contract), (3,1) unique → 6 rows, 3 distinct
    Seq((1L, Some(1), 1.0), (1L, Some(1), 2.0), (2L, None, 3.0),
      (2L, None, 4.0), (3L, Some(1), 5.0), (1L, Some(2), 6.0))
      .toDF("l_orderkey", "l_linenumber", "l_quantity")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    Seq(Tuple1(1L)).toDF("o_orderkey")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    Seq(Tuple1(1L)).toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$d/customer.parquet")
    Seq(Tuple1(1L)).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    Seq(Tuple1(1L)).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    Seq((1L, 1735689600L * 1000000000L, 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    Seq(Tuple1(1)).toDF("n_nationkey")
      .write.mode("overwrite").parquet(s"$d/nation.parquet")
    Seq(Tuple1(1L)).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    Seq(Tuple1(1)).toDF("r_regionkey")
      .write.mode("overwrite").parquet(s"$d/region.parquet")
    Seq(Tuple1(1L)).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$d/supplier.parquet")
    val got = Recon.pkUniqueness(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got("lineitem.(l_orderkey,l_linenumber)") === ((6L, 4L, 2L, false)),
      "two dup groups collapse: 6 rows, 4 distinct structs")
    assert(got("orders.o_orderkey") === ((1L, 1L, 0L, true)))
    // sf recount of the flagged composite
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
    val sfGot = Recon.pkUniqueness(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sfGot("lineitem.(l_orderkey,l_linenumber)") ===
      ((li.length.toLong, li.distinct.length.toLong)))
  }

  test("freshness: staleness, 24h share and the stale flag from planted instants") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/freshfix"
    val b = 1735689600L
    def ev(id: Long, typ: String, hour: Long) =
      EventsFixture.RawEv(id, (b + hour * 3600) * 1000000000L, 1L, typ, 1.0, null)
    // a: hours 0/30/50 (gmax anchor, 2 of 3 rows inside the last 24 h);
    // b: hour 10 only → 40 h behind (stale), nothing in the window
    Seq(ev(1, "a", 0), ev(2, "a", 30), ev(3, "a", 50), ev(4, "b", 10))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Recon.freshness(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
    assert(got.toSeq === Seq(
      ("a", 3L, (b + 50 * 3600) * 1000L, 0L, 2L, 0.666667, false),
      ("b", 1L, (b + 10 * 3600) * 1000L, 144000L, 0L, 0.0, true)))
  }

  test("sample diff: driver md5-membership recount reproduces every status count") {
    // independent reimplementation: same md5-prefix membership, drop
    // moduli, and decimal mismatch rule in plain Scala over the
    // collected sf orders — counts and key spans must agree exactly
    val rows = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = rows.iterator
      .filter { case (k, _) => md5hex(k.toString).startsWith("0") }
      .filter { case (k, _) => k % 89 != 0 || k % 101 != 0 }
      .map { case (k, p) =>
        // valueOf = the double's SHORTEST decimal repr — Spark Round's
        // BigDecimal path, not the exact binary expansion
        val sv = BigDecimal(java.math.BigDecimal.valueOf(p))
        val dec = sv.setScale(2, BigDecimal.RoundingMode.HALF_UP)
        val rounded = sv.setScale(0, BigDecimal.RoundingMode.HALF_UP)
          .setScale(2)
        val status =
          if (k % 101 == 0) "missing_in_target"
          else if (k % 89 == 0) "extra_in_target"
          else if (k % 97 == 0 && rounded != dec) "mismatch"
          else "match"
        (status, k)
      }.toSeq
    val want = expected.groupBy(_._1).map { case (s, xs) =>
      s -> ((xs.length.toLong, xs.map(_._2).min, xs.map(_._2).max))
    }
    val got = Recon.sampleDiffOrders(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === want)
    assert(got.contains("match") && got.contains("mismatch"),
      "sf corpus must exercise the live classes")
  }
}
