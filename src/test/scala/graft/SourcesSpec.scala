package graft

import graft.ops.Recon
import graft.sources.Sources
import org.apache.spark.sql.functions.col

/** CSV/JSON round-trips (VERDICT r1 §missing-4) and the Hive-metastore
  * mode (§missing-2): saveAsTable + catalog read + recon over catalog
  * tables against a real (derby-backed) metastore. */
class SourcesSpec extends GraftSpec {

  private def roundTrip(format: String): Unit = {
    val orders = Tables.orders(spark, sf)
    val path = s"$tmpDir/orders_$format"
    Sources.write(orders, path, format)
    val back = Sources.read(spark, path, Tables.orders, format)
    assert(back.count() === orders.count())
    val mism = Recon.hashDiffTables(orders, back, "o_orderkey", orders.columns.toSeq)
      .collect().head.getLong(0)
    assert(mism === 0L, s"$format round-trip must be lossless")
  }

  test("Tables relation cache: same frame per path, re-probes an in-place regen") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/relcache"
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("r_regionkey", "r_name", "pad")
      .select($"r_regionkey".cast("int").as("r_regionkey"), $"r_name")
      .write.mode("overwrite").parquet(s"$d/region.parquet")
    assert(Tables.region(spark, d).count() === 2)
    // identical stats → the SAME resolved plan comes back (cache hit)
    assert(Tables.region(spark, d) eq Tables.region(spark, d))
    // regen IN PLACE with different content + stats → fresh relation,
    // new data visible (the events ts-sniff staleness class, round 12).
    // Deliberately NO sleep: the content stamp (file count + total
    // length + max mtime, round 13) must catch a same-second regen —
    // the class the old (mtime, len)-of-the-directory key missed.
    Seq((7L, "x"), (8L, "y"), (9L, "z")).toDF("r_regionkey", "r_name")
      .select($"r_regionkey".cast("int").as("r_regionkey"), $"r_name")
      .write.mode("overwrite").parquet(s"$d/region.parquet")
    assert(Tables.region(spark, d).count() === 3,
      "an in-place regen must not serve the stale cached relation")
  }

  test("content stamp detects a same-length, same-mtime value-only rewrite") {
    // the adversarial staleness case a pure stat stamp cannot see:
    // identical file count, identical byte length, and every mtime
    // pinned to one fixed instant — only the footer-tail probe (parquet
    // stats bytes) can tell the generations apart
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/stampfix"
    val fixed = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
    def writeVal(v: String): Unit = {
      Seq((1, v)).toDF("r_regionkey", "r_name")
        .select($"r_regionkey".cast("int").as("r_regionkey"), $"r_name")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$d/region.parquet")
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$d/region.parquet"))
        .forEach(p => java.nio.file.Files.setLastModifiedTime(p, fixed))
    }
    def bytes = Tables.tableBytes(spark, d, "region")
    writeVal("aa")
    val len1 = bytes
    assert(Tables.region(spark, d).collect().head.getString(1) === "aa")
    writeVal("bb")
    assert(bytes === len1,
      "fixture must produce an identical byte length or it tests nothing")
    assert(Tables.region(spark, d).collect().head.getString(1) === "bb",
      "a same-length same-mtime rewrite must still evict the cached relation")
  }

  test("content stamp sees through a partitioned layout (no direct file children)") {
    // hive-partitioned dirs have only SUBDIRS at the top level — a
    // non-recursive listing saw length-0 children and a same-tick
    // partition rewrite kept the stamp; the recursive leaf walk + edge
    // probes must evict
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/stamppart"
    val fixed = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
    def writeVal(v: String): Unit = {
      Seq((1, v, "p1"), (2, v, "p2")).toDF("r_regionkey", "r_name", "part")
        .select($"r_regionkey".cast("int").as("r_regionkey"), $"r_name", $"part")
        .coalesce(1)
        .write.mode("overwrite").partitionBy("part")
        .parquet(s"$d/region.parquet")
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$d/region.parquet"))
        .forEach(pp => java.nio.file.Files.setLastModifiedTime(pp, fixed))
    }
    writeVal("aa")
    // partitioned read needs schema inference for the partition column;
    // go through the raw reader the stamp guards rather than the pinned
    // Tables.region schema (which has no `part` column)
    def readVals() = spark.read.parquet(s"$d/region.parquet")
      .select("r_name").distinct().collect().map(_.getString(0)).toSeq
    assert(Tables.diskSchema(spark, d, "region")
      .fieldNames.contains("part"))
    val len1 = Tables.tableBytes(spark, d, "region")
    writeVal("bb")
    assert(Tables.tableBytes(spark, d, "region") === len1,
      "fixture must keep an identical total byte length or it tests nothing")
    // the stamped footer-schema cache must re-probe (stale would throw
    // or silently keep serving gen-1 metadata); diskSchema is the
    // surface that shares pathStamp with the relation cache
    assert(Tables.diskSchema(spark, d, "region")
      .fieldNames.contains("part"))
    assert(readVals() === Seq("bb"))
  }

  test("CSV write → read → hash-reconcile is lossless")(roundTrip("csv"))
  test("JSON write → read → hash-reconcile is lossless")(roundTrip("json"))
  test("ORC write → read → hash-reconcile is lossless")(roundTrip("orc"))

  test("round-trip fingerprint harness ops equal the direct-parquet fingerprint") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DateType, DecimalType}
    // the same projection the harness ops checksum, but over the
    // original parquet — the in-engine twin of the DuckDB oracle, so a
    // format regression is caught by `sbt test` without the driver
    val direct = Recon.fingerprintSnapshot(
      Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("p"),
        col("o_orderdate").cast(DateType).as("d"), col("o_orderpriority")),
      col("o_orderstatus"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "p", "d",
        "o_orderpriority")).orderBy("part").collect().map(_.toSeq).toSeq
    for (op <- Seq(Sources.csvRoundtripFingerprint _,
                   Sources.jsonRoundtripFingerprint _)) {
      val got = op(spark, sf).collect().map(_.toSeq).toSeq
      assert(got === direct)
    }
  }

  test("cross-format recon: parquet source vs ORC target localizes a seeded diff") {
    import org.apache.spark.sql.functions._
    // the Hive-migration scenario: the source stays parquet, the target
    // was rewritten as ORC (Hive's default), and one row was corrupted
    val orders = Tables.orders(spark, sf)
    val corrupted = orders.withColumn("o_totalprice",
      when(col("o_orderkey") === 7L, col("o_totalprice") + 1).otherwise(col("o_totalprice")))
    val path = s"$tmpDir/orders_orc_tgt"
    Sources.write(corrupted, path, "orc")
    val tgt = Sources.read(spark, path, Tables.orders, "orc")
    val diff = Recon.hashDiffDetail(orders, tgt, "o_orderkey", orders.columns.toSeq)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(diff === Seq((7L, "mismatch")),
      "exactly the seeded key must mismatch across formats")
  }

  test("temp views make every table reachable through spark.sql") {
    Sources.registerTempViews(spark, sf)
    assert(spark.sql("SELECT count(*) FROM lineitem").collect().head.getLong(0) === 6000L)
    assert(spark.sql("SELECT count(*) FROM events").collect().head.getLong(0) === 1000L)
  }

  test("bucketed tables reconcile with a zero-shuffle co-located join") {
    Sources.writeBucketed(Tables.orders(spark, sf), "orders_bsrc", "o_orderkey")
    Sources.writeBucketed(Tables.orders(spark, sf), "orders_btgt", "o_orderkey")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val diff = Recon.hashDiffTables(
        spark.table("orders_bsrc"), spark.table("orders_btgt"),
        "o_orderkey", Seq("o_custkey", "o_orderstatus", "o_totalprice"))
      val plan = diff.queryExecution.executedPlan.toString
      // the join itself must read bucket-aligned inputs: the only exchange
      // allowed is the final single-row aggregate's
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      val joinPart = plan.substring(plan.indexOf("Join"))
      assert(!joinPart.contains("Exchange hashpartitioning(k"),
        s"bucketed join must not shuffle on the key:\n$plan")
      assert(diff.collect().head.getLong(0) === 0L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    spark.sql("DROP TABLE orders_bsrc")
    spark.sql("DROP TABLE orders_btgt")
  }

  test("reconcileAll over bucketed catalog tables: co-located joins, no key shuffle") {
    import graft.ops.TablePair
    Sources.writeBucketed(Tables.orders(spark, sf), "ra_bsrc", "o_orderkey")
    Sources.writeBucketed(Tables.orders(spark, sf), "ra_btgt", "o_orderkey")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rep = Recon.reconcileAll(Seq(TablePair("orders",
        spark.table("ra_bsrc"), spark.table("ra_btgt"),
        "o_orderkey", Seq("o_custkey", "o_orderstatus", "o_totalprice"))))
      val plan = rep.queryExecution.executedPlan.toString
      // the nightly-run posture: the one full-outer join per pair reads
      // bucket-aligned inputs, so no exchange on the join key anywhere
      assert(!plan.contains("Exchange hashpartitioning(k"),
        s"bucketed reconcileAll must not shuffle on the key:\n$plan")
      val rows = rep.collect().map(r => r.getString(1) -> r.getBoolean(4)).toMap
      assert(rows.size === 6 && rows.values.forall(identity), "identical tables all green")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      // in the finally: an assertion failure above must not leak the
      // managed tables + warehouse dirs into later tests (round-17
      // advice)
      spark.sql("DROP TABLE IF EXISTS ra_bsrc")
      spark.sql("DROP TABLE IF EXISTS ra_btgt")
    }
  }

  test("bucketedJoinFingerprint: zero key shuffle, values match a direct recompute") {
    val fp = Sources.bucketedJoinFingerprint(spark, sf)
    val got = fp.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // values: the same join + fingerprint straight off the parquet
    // tables (no bucketing anywhere) must agree channel-for-channel
    val direct = {
      import org.apache.spark.sql.types.DecimalType
      val j = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
          col("o_totalprice").cast(DecimalType(12, 2)).as("p"),
          col("c_acctbal").cast(DecimalType(12, 2)).as("b"))
      Recon.fingerprintSnapshot(j, col("c_mktsegment"),
        Seq("o_orderkey", "o_custkey", "c_mktsegment", "p", "b"))
        .orderBy("part").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    assert(got.toSeq === direct.toSeq)
    assert(got.nonEmpty && got.map(_._2).sum > 0)
    // plan: with broadcast off, the co-located join must not exchange
    // on the key (the bucketed layout IS the distribution)
    val (ot, ct) = Sources.bucketedJoinTables(sf)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table(ot).join(spark.table(ct),
        col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange hashpartitioning(o_custkey")
        && !plan.contains("Exchange hashpartitioning(c_custkey"),
        s"bucketed join must not shuffle on the key:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql(s"DROP TABLE IF EXISTS $ot")
      spark.sql(s"DROP TABLE IF EXISTS $ct")
    }
  }

  test("footerRowcounts: ten sorted tables, footer equals a real count") {
    val got = Sources.footerRowcounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(_._1).toSeq === got.map(_._1).sorted.toSeq)
    assert(got.length === 10)
    val byName = got.toMap
    // independent recount: the footer number must equal a real scan
    assert(byName("orders") === Tables.orders(spark, sf).count())
    assert(byName("lineitem") === Tables.lineitem(spark, sf).count())
    assert(byName("documents") === Tables.documents(spark, sf).count())
  }

  test("Tables.rowCount: recursive, refuses empty, invalidates on overwrite") {
    val orders = Tables.orders(spark, sf)
    orders
      .withColumn("mo", org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("o_orderdate"), "yyyy-MM"))
      .write.partitionBy("mo").mode("overwrite")
      .parquet(s"$tmpDir/orders_bymonth.parquet")
    // partitioned = part files in SUBdirectories: a non-recursive listing
    // saw 0 here and would have waved the O(n^2) guards through
    assert(Tables.rowCount(spark, tmpDir, "orders_bymonth") === orders.count())
    // a dir with no part files must throw, never report 0
    new java.io.File(s"$tmpDir/empty_dir.parquet").mkdirs()
    val e = intercept[IllegalArgumentException] {
      Tables.rowCount(spark, tmpDir, "empty_dir")
    }
    assert(e.getMessage.contains("no parquet part files"), e.getMessage)
    // overwriting a path must invalidate the memoized count
    val flat = s"$tmpDir/orders_flat.parquet"
    orders.limit(100).write.mode("overwrite").parquet(flat)
    assert(Tables.rowCount(spark, tmpDir, "orders_flat") === 100L)
    orders.limit(37).write.mode("overwrite").parquet(flat)
    assert(Tables.rowCount(spark, tmpDir, "orders_flat") === 37L,
      "stale count after overwrite")
  }

  test("Tables.rowCount: a same-tick, same-file-count overwrite re-counts") {
    // the hole a (path, max mtime, file count) key leaves: one part file
    // before and after, every mtime pinned to one instant — only the
    // content stamp tells the generations apart
    val orders = Tables.orders(spark, sf)
    val d = s"$tmpDir/rowcount_tick"
    val fixed = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
    def write(n: Int): Unit = {
      orders.limit(n).coalesce(1).write.mode("overwrite").parquet(s"$d/orders.parquet")
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$d/orders.parquet"))
        .forEach(p => java.nio.file.Files.setLastModifiedTime(p, fixed))
    }
    def parts = new java.io.File(s"$d/orders.parquet").listFiles
      .count(_.getName.startsWith("part-"))
    write(100)
    assert(Tables.rowCount(spark, d, "orders") === 100L)
    val files = parts
    write(37)
    assert(parts === files, "fixture must keep the file count or it tests nothing")
    assert(Tables.rowCount(spark, d, "orders") === 37L,
      "a same-tick, same-file-count overwrite must re-count")
  }

  test("partitioned catalog tables: windowed recon prunes through the metastore") {
    import org.apache.spark.sql.functions._
    // the reference's Hive-table lifecycle end-to-end: two PARTITIONED
    // metastore tables, a load-window recon, and the window predicate
    // must prune partitions via the CATALOG (not a file listing)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_recon")
    val orders = Tables.orders(spark, sf)
      .withColumn("mo", date_format(col("o_orderdate"), "yyyy-MM"))
    // one perturbed key inside the 1995-03 window, one outside it
    val Array(kIn, kOut) = Array("1995-03", "1996-03").map(mo =>
      orders.filter(col("mo") === mo).agg(min("o_orderkey")).collect().head.getLong(0))
    orders.write.mode("overwrite").format("parquet")
      .partitionBy("mo").saveAsTable("graft_recon.orders_psrc")
    orders.withColumn("o_totalprice",
        when(col("o_orderkey").isin(kIn, kOut), col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      .write.mode("overwrite").format("parquet")
      .partitionBy("mo").saveAsTable("graft_recon.orders_ptgt")
    val diff = Recon.hashDiffTables(
      spark.table("graft_recon.orders_psrc"), spark.table("graft_recon.orders_ptgt"),
      "o_orderkey", Seq("o_custkey", "o_totalprice"),
      window = Some(col("mo") === "1995-03"))
    // only the in-window perturbation is visible
    assert(diff.collect().head.getLong(0) === 1L)
    // the predicate reached both catalog scans as a partition filter, and
    // the files actually read all come from the one window's directory
    val plan = diff.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(mo"), plan)
    val files = spark.table("graft_recon.orders_psrc")
      .filter(col("mo") === "1995-03")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("mo=1995-03")))
    spark.sql("DROP TABLE graft_recon.orders_psrc")
    spark.sql("DROP TABLE graft_recon.orders_ptgt")
  }

  test("compact: small-files rewrite shrinks file count, content reconciles to zero") {
    val orders = Tables.orders(spark, sf)
    val fragmented = s"$tmpDir/frag"
    orders.repartition(40).write.mode("overwrite").parquet(fragmented)
    val out = s"$tmpDir/compacted"
    val (before, after) = Sources.compact(spark, fragmented, out)
    assert(before === 40)
    assert(after === 1, "1500 rows fit one 128 MB target file")
    val got = spark.read.parquet(out)
    assert(got.count() === 1500L)
    // content equality is a recon check, not a count: zero hash mismatches
    val mism = Recon.hashDiffTables(orders, got, "o_orderkey",
      orders.columns.toSeq).collect().head.getLong(0)
    assert(mism === 0L)
  }

  test("compact: partitioned rewrite gets one file per partition, capped on hot values") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .withColumn("et", col("event_type"))
    val fragmented = s"$tmpDir/pfrag"
    ev.repartition(20).write.mode("overwrite")
      .partitionBy("et").parquet(fragmented)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(fragmented)
    val fs = root.getFileSystem(conf)
    val types = fs.listStatus(root).count(_.getPath.getName.startsWith("et="))
    val out = s"$tmpDir/pcompacted"
    val (before, after) = Sources.compact(spark, fragmented, out,
      partitionCols = Seq("et"))
    assert(before > types, s"fixture must start fragmented: $before files, $types partitions")
    assert(after === types, "exactly one file per partition value")
    // partition column round-trips and content reconciles
    val got = spark.read.parquet(out)
    val mism = Recon.hashDiffTables(ev, got, "event_id",
      Seq("user_id", "et", "value")).collect().head.getLong(0)
    assert(mism === 0L)
    // a tiny per-file cap splits the hottest partition into several files
    val (_, capped) = Sources.compact(spark, fragmented, s"$tmpDir/pcapped",
      targetFileBytes = 8 * 1024, partitionCols = Seq("et"))
    assert(capped > types, "maxRecordsPerFile must split partitions past the byte target")
  }

  test("z-order layout: file stats prune BOTH dimensions; sorted layout only one") {
    import org.apache.spark.sql.functions._
    // sf0.01: enough rows (15 k) that 64 range partitions sit well below
    // the z-curve's cell granularity — at fixture scale the sampled
    // boundaries cut mid-cell and smear every file's envelope
    val df = Tables.orders(spark, "/root/testdata/sf0.01")
      .select(col("o_orderkey"), col("o_custkey"),
        unix_date(col("o_orderdate").cast("date")).as("o_days"))
    val sortedPath = s"$tmpDir/sorted_layout"
    val zPath = s"$tmpDir/z_layout"
    df.repartitionByRange(64, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(sortedPath)
    Sources.writeZOrdered(df, "o_custkey", "o_days", 64, zPath)
    // content survives the reorder
    assert(spark.read.parquet(zPath).count() === df.count())
    def overlap(path: String, column: String, qlo: Double, qhi: Double): Int = {
      val ranges = Sources.fileColumnRanges(spark, path, column)
      val (dlo, dhi) = (ranges.map(_._1).min.toDouble, ranges.map(_._2).max.toDouble)
      val (lo, hi) = (dlo + (dhi - dlo) * qlo, dlo + (dhi - dlo) * qhi)
      ranges.count { case (mn, mx) => mx >= lo && mn <= hi }
    }
    // a 10%-of-domain range filter on each dimension
    val zCust = overlap(zPath, "o_custkey", 0.45, 0.55)
    val zDays = overlap(zPath, "o_days", 0.45, 0.55)
    val sCust = overlap(sortedPath, "o_custkey", 0.45, 0.55)
    val sDays = overlap(sortedPath, "o_days", 0.45, 0.55)
    info(s"overlapping files for a 10% slab — z-order: custkey $zCust/64, " +
      s"days $zDays/64; custkey-sorted: custkey $sCust/64, days $sDays/64")
    // the sorted layout prunes its sort column hard but its second
    // dimension not at all — every file spans the full date range
    assert(sCust <= 12, s"sorted layout must prune its own column: $sCust/64")
    assert(sDays >= 60, s"sorted layout cannot prune the second column: $sDays/64")
    // the z-order layout prunes BOTH to a fraction of the files — the
    // √-locality of the curve (a 10% slab touches ~1 of 8 cell-columns)
    assert(zCust <= 24, s"z-order must prune dim 1: $zCust/64")
    assert(zDays <= 24, s"z-order must prune dim 2: $zDays/64")
  }

  test("Hive metastore: saveAsTable + catalog read + recon round-trip") {
    assert(spark.conf.get("spark.sql.catalogImplementation") === "hive")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_recon")
    val orders = Tables.orders(spark, sf)
    orders.write.mode("overwrite").saveAsTable("graft_recon.orders_src")
    orders.write.mode("overwrite").saveAsTable("graft_recon.orders_tgt")
    assert(spark.catalog.tableExists("graft_recon.orders_src"))
    val src = spark.table("graft_recon.orders_src")
    val tgt = spark.table("graft_recon.orders_tgt")
    assert(src.count() === 1500L)
    val mism = Recon.hashDiffTables(src, tgt, "o_orderkey", src.columns.toSeq)
      .collect().head.getLong(0)
    assert(mism === 0L)
    spark.sql("DROP TABLE graft_recon.orders_src")
    spark.sql("DROP TABLE graft_recon.orders_tgt")
  }

  test("schema evolution: mergeSchema unions versions; drift check names the delta") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // v1 load: two columns; v2 load adds a third (the additive evolution
    // a long-lived table accumulates)
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.parquet(s"$tmp/load=1")
    Seq((3L, "c", 9.5)).toDF("k", "v", "score")
      .write.parquet(s"$tmp/load=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(merged.columns.sorted.toSeq === Seq("k", "load", "score", "v"))
    // pre-evolution rows surface the new column as null, not an error
    val byK = merged.collect().map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(byK === Map(1L -> true, 2L -> true, 3L -> false))
    // and the drift check reports exactly the added column against v1
    val v1 = spark.read.parquet(s"$tmp/load=1")
    val drift = Recon.schemaDrift(v1, merged.drop("load")).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(drift("score") === "extra_in_target")
    assert(drift("k") === "ok" && drift("v") === "ok")
  }

  test("overwritePartitions: re-loading one window replaces only that partition") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dynpart").toString
    val orders = Tables.orders(spark, sf)
      .withColumn("mo", date_format(col("o_orderdate"), "yyyy-MM"))
    Sources.overwritePartitions(orders, tmp, Seq("mo"))
    val full = spark.read.parquet(tmp)
    val months = full.select("mo").distinct().collect().map(_.getString(0))
    assert(months.length > 10, "fixture must span many partitions")
    val target = months.sorted.apply(1)
    val untouched = full.filter(col("mo") =!= target)
      .agg(bit_xor(xxhash64(col("o_orderkey"), col("o_totalprice"))).as("h"))
      .collect().head.getLong(0)
    // re-load ONLY the target month with restated prices — the batch
    // carries a single partition value, so dynamic overwrite must
    // replace that directory alone
    val reload = orders.filter(col("mo") === target)
      .withColumn("o_totalprice", round(col("o_totalprice"), 0))
    Sources.overwritePartitions(reload, tmp, Seq("mo"))
    val after = spark.read.parquet(tmp)
    assert(after.select("mo").distinct().count() === months.length.toLong,
      "static overwrite semantics would have dropped every other partition")
    assert(after.filter(col("mo") =!= target)
      .agg(bit_xor(xxhash64(col("o_orderkey"), col("o_totalprice"))).as("h"))
      .collect().head.getLong(0) === untouched,
      "partitions outside the re-loaded window must be byte-stable")
    val restated = after.filter(col("mo") === target)
      .filter(col("o_totalprice") =!= round(col("o_totalprice"), 0)).count()
    assert(restated === 0L, "the re-loaded window must carry the new rows")
  }

  test("partitioned roundtrip: lossless per-status fingerprints, filtered reads prune") {
    import org.apache.spark.sql.functions._
    // content half: the round-trip fingerprint equals the library's own
    // fingerprint over the ORIGINAL orders (the same per-partition md5
    // xor the DuckDB oracle recomputes)
    val rt = graft.sources.Sources.parquetPartitionedRoundtrip(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    import org.apache.spark.sql.types.{DateType, DecimalType}
    val direct = graft.ops.Recon.fingerprintSnapshot(
      Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("p"),
        col("o_orderdate").cast(DateType).as("d"),
        col("o_orderpriority")),
      col("o_orderstatus"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "p", "d",
        "o_orderpriority"))
      .orderBy("part")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rt === direct, "the partitioned layout must be lossless")
    // scale half: a status-filtered read must touch ONLY that
    // partition's files (partition pruning — the first 100 TB scan
    // lever the layout exists for). inputFiles lists the RELATION's
    // files pre-pruning, so assert on the executed scan instead: the
    // filter must land in partitionFilters and the numFiles metric
    // must count a strict subset of the layout's files
    val dest = graft.sources.Sources.partitionedRoundtripDest(sf)
    val back = spark.read.parquet(dest)
    val one = back.filter(col("o_orderstatus") === rt.head._1)
    // materialize the INSPECTED QueryExecution (count() would build a
    // fresh aggregate plan and leave these metrics untouched)
    val qe = one.queryExecution
    assert(qe.toRdd.count() > 0)
    val scan = qe.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty, "expected a FileSourceScan leaf")
    assert(scan.get.partitionFilters.nonEmpty,
      "the status predicate must become a partition filter")
    val pruned = scan.get.metrics("numFiles").value
    assert(pruned > 0 && pruned < back.inputFiles.length,
      s"pruned scan must touch a strict subset of the layout's files " +
        s"($pruned of ${back.inputFiles.length})")
  }
}
