package graft.sources

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface beyond the primary parquet path (SURVEY.md §2.2):
  * CSV and JSON ingest (typical recon-tool source extracts), ORC — the
  * Hive-default storage format a Hive reconciliation tool meets most
  * often, and the cross-format case (parquet source vs ORC target)
  * reconciliation must handle — parquet write-back, bucketed catalog
  * tables, and temp-view registration so every op is also reachable
  * through `spark.sql`. The driver harness reads raw parquet paths;
  * Hive-metastore mode (`enableHiveSupport` + `saveAsTable`/catalog
  * reads, including [[writeBucketed]]) is exercised against a
  * derby-backed metastore in the test suite. (No Avro: the spark-avro
  * datasource module is not among the environment's Spark jars.)
  */
object Sources {

  /** Schema-pinned read of any supported format. Schema is mandatory:
    * inference is a full extra pass at scale and invites type drift. */
  def read(spark: SparkSession, path: String, schema: StructType,
           format: String = "parquet"): DataFrame = {
    val r = spark.read.schema(schema)
    format match {
      case "parquet" => r.parquet(path)
      case "orc"     => r.orc(path)
      case "csv"     => r.option("header", "true").csv(path)
      case "json"    => r.json(path)
      case other     => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  def write(df: DataFrame, path: String, format: String = "parquet",
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    format match {
      case "parquet" => w.parquet(path)
      case "orc"     => w.orc(path)
      case "csv"     => w.option("header", "true").csv(path)
      case "json"    => w.json(path)
      case other     => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** Catalog-managed bucketed table: rows are hash-distributed into
    * `buckets` files per partition on `key` and sorted within each. Two
    * tables bucketed the same way join on `key` with ZERO shuffle — the
    * 100 TB posture for recurring source/target reconciliation, where the
    * one-time bucketed write amortizes over every nightly compare.
    * Requires a catalog (in-memory or Hive); plain path-writes cannot
    * carry bucketing metadata. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 8): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Idempotent partitioned load — dynamic partition overwrite, the
    * write-side discipline a reconciliation pipeline assumes: re-running
    * a load for one window must replace EXACTLY the partitions the batch
    * carries and leave every other partition untouched. Spark's default
    * (static) overwrite drops the WHOLE table root first — a re-run of
    * one day's load would silently delete the other 3 649 days; the
    * per-write `partitionOverwriteMode=dynamic` option scopes the delete
    * to the partitions present in `df`. The retry story composes with
    * [[graft.ops.Recon.snapshotDiff]]: re-load a bad window, then the
    * partition fingerprints confirm only that window moved. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Compact a parquet dataset into ~`targetFileBytes` files — the
    * small-files maintenance job every streaming or micro-batch ingest
    * needs at scale: a sink that commits a file per trigger per partition
    * leaves HDFS/object stores with millions of KB-sized files, and scan
    * planning, footer reads, and name-node pressure all degrade with file
    * COUNT, not byte volume.
    *
    * The output file count is sized from the INPUT's actual bytes (free
    * driver-side listing — no data read), so the rewrite is one shuffle
    * to exactly the right width. With `partitionCols` the rewrite
    * re-partitions by those columns so each output directory is written
    * by one task (fewest files), with `maxRecordsPerFile` — derived from
    * the observed bytes-per-row — capping hot partitions so a skewed
    * value cannot produce one giant file. Returns (filesBefore,
    * filesAfter). Equality of content is the caller's recon check:
    * compacted-vs-source `hashDiffTables` must be zero — the test does
    * exactly that. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              partitionCols: Seq[String] = Nil): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val in = new Tables.Listing(spark, inPath)
    val parts = in.files
    require(parts.nonEmpty, s"compact: no data files under $inPath")
    val totalBytes = in.bytes
    val df = spark.read.parquet(inPath)
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (partitionCols.isEmpty) {
      df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(outPath)
    } else {
      val bytesPerRow = math.max(1L, totalBytes / math.max(1L, in.footerRows))
      df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", math.max(1L, targetFileBytes / bytesPerRow))
        .partitionBy(partitionCols: _*)
        .parquet(outPath)
    }
    (parts.length, new Tables.Listing(spark, outPath).files.length)
  }

  /** Z-order (Morton) clustered write on two numeric columns — the data-
    * layout lever for 100 TB scans that filter on EITHER of two
    * dimensions: lexicographic sorting clusters only its leading column
    * (a range filter on the second column overlaps every file), while
    * interleaving the bits of both coordinates gives every file a tight
    * min/max envelope in BOTH, so parquet row-group/file statistics prune
    * scans on each dimension to ~√(files) instead of all of them. This is
    * the same layout trick behind Delta/Iceberg Z-ordering, built from
    * plain Spark: scale each column to 16 bits against its global
    * min/max (one tiny agg job), interleave via shift/mask bit-spreading
    * (codegen'd, row-local), then range-repartition + sort on the Morton
    * code so files tile the 2-D grid. The test proves the pruning claim
    * from the written footers' per-file statistics.
    *
    * Columns must be numeric (cast dates to days first); rows with a null
    * coordinate sort to the grid origin rather than being dropped. */
  def writeZOrdered(df: DataFrame, c1: String, c2: String,
                    files: Int, outPath: String): Unit = {
    import org.apache.spark.sql.functions._
    require(files > 0, s"writeZOrdered: files must be positive: $files")
    val Seq(mn1, mx1, mn2, mx2) = {
      val r = df.agg(min(col(c1)).cast("double"), max(col(c1)).cast("double"),
        min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
      (0 until 4).map(i => if (r.isNullAt(i)) 0.0 else r.getDouble(i))
    }
    def scale16(c: String, mn: Double, mx: Double): Column = {
      val range = if (mx > mn) mx - mn else 1.0
      floor((coalesce(col(c).cast("double"), lit(mn)) - mn) / range * 65535.0)
        .cast("long")
    }
    // spread the 16 bits of x to even bit positions (classic Morton mask
    // cascade); z = spread(c1) | spread(c2) << 1
    def spread(x: Column): Column = {
      val a = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
      val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      val c = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
      c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
    }
    val z = spread(scale16(c1, mn1, mx1))
      .bitwiseOR(shiftleft(spread(scale16(c2, mn2, mx2)), 1))
    // Partition on the CELL id (top bits of z, 4^k cells ≈ files), not the
    // continuous code: range-partitioning full z puts sampled boundaries
    // mid-cell, so adjacent files straddle two grid cells and their
    // min/max envelopes smear to the union (measured: a 10% slab matched
    // 39% of files instead of ~25%). Equal cell-id values cannot split
    // across range partitions, so every file holds whole cells and its
    // envelope is the cell's own tight square; the full code stays the
    // intra-partition sort key so row groups within a file tile too.
    val cellBits = {
      var k = 2
      while ((1L << k) < files.toLong) k += 2
      k
    }
    df.withColumn("__z", z)
      .withColumn("__zc", shiftright(col("__z"), 32 - cellBits))
      .repartitionByRange(files, col("__zc"))
      .sortWithinPartitions("__z")
      .drop("__z", "__zc")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Per-file (min, max) of a long-valued column from parquet footers —
    * driver-side metadata only, the statistics a scan's file/row-group
    * pruning consults. Used by the Z-order test to measure layout
    * quality without trusting the writer. */
  def fileColumnRanges(spark: SparkSession, path: String,
                       column: String): Seq[(Long, Long)] = {
    val listing = new Tables.Listing(spark, path)
    listing.files
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, listing.conf))
        try {
          val stats = r.getFooter.getBlocks.toArray.map { b =>
            b.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData]
              .getColumns.toArray
              .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
              .find(_.getPath.toDotString == column)
              .getOrElse(throw new IllegalArgumentException(
                s"fileColumnRanges: no column $column in ${st.getPath}"))
              .getStatistics
          }
          (stats.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
            stats.map(_.genericGetMax.asInstanceOf[Number].longValue).max)
        } finally r.close()
      }
  }

  /** Register all ten driver tables as temp views for spark.sql access. */
  def registerTempViews(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "supplier", "part", "customer", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => Tables.read(spark, dir, n).createOrReplaceTempView(n))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  /** CSV round trip, proven lossless end-to-end: orders → CSV files →
    * schema-pinned read-back → the library's own per-partition
    * [[graft.ops.Recon.fingerprintSnapshot]]. The DuckDB oracle computes
    * the SAME fingerprint over the ORIGINAL parquet, so the driver's
    * hash compare fails on any value the text format mangles (double
    * formatting, timestamp precision, quoting/escaping) — the harness op
    * that graduates the CSV source from "exercised in tests" to oracled.
    * Lossless because Spark writes doubles as their shortest uniquely-
    * identifying decimal (read-back parses to the same IEEE value) and
    * the fixture's timestamps are date-granular; the fingerprint
    * normalizes price through DECIMAL(12,2) and the date through DATE so
    * the md5 text is engine-independent (SURVEY §7.4.1). */
  def csvRoundtripFingerprint(spark: SparkSession, dir: String): DataFrame =
    roundtripFingerprint(spark, dir, "csv")

  /** JSON-lines round trip — same contract as
    * [[csvRoundtripFingerprint]], exercising the schema-pinned JSON
    * source/sink pair instead. */
  def jsonRoundtripFingerprint(spark: SparkSession, dir: String): DataFrame =
    roundtripFingerprint(spark, dir, "json")

  /** Footer-metadata row counts for every corpus table — the §2.2
    * "don't scan 100 TB to count it" path ([[graft.Tables.rowCount]],
    * the same footer reads every fail-fast guard trusts, memoized under
    * the table's content stamp), chained to the DuckDB oracle's REAL
    * count(*) scans: a footer that lies about num_rows (truncated
    * write, botched compaction) fails this row before it silently
    * mis-sizes a guard. Driver-side by design — the footer read IS the
    * operation; no Spark job runs at all. */
  def footerRowcounts(spark: SparkSession, dir: String): DataFrame = {
    val tables = Seq("region", "nation", "supplier", "part", "customer",
      "orders", "lineitem", "events", "documents", "embeddings")
    import spark.implicits._
    tables.sorted
      .map(t => (t, Tables.rowCount(spark, dir, t)))
      .toDF("tbl", "n_rows")
  }

  /** PARTITIONED-parquet round trip — the partitioned-sink half of the
    * §2.2 surface the flat CSV/JSON round trips don't touch: orders →
    * `partitionBy(o_orderstatus)` parquet layout → partition-DISCOVERY
    * read-back (the partition column re-materializes from directory
    * values; status strings survive type inference verbatim) → the
    * library's own per-partition fingerprint. The DuckDB oracle
    * computes the SAME fingerprint over the ORIGINAL parquet, so a
    * partitioned layout that mangles anything — dropped rows at the
    * directory split, a partition-column type flip, double formatting
    * through the column's removal-and-restoration — fails the driver's
    * hash compare. This is also the layout every 100 TB deployment
    * actually writes (partition pruning is the first scan lever), so
    * SourcesSpec additionally asserts a status-filtered read prunes to
    * that partition's files alone. */
  def parquetPartitionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DateType, DecimalType}
    val dest = partitionedRoundtripDest(dir)
    Tables.orders(spark, dir).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(dest)
    val back = spark.read.parquet(dest)
    val proj = back.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("p"),
      col("o_orderdate").cast(DateType).as("d"),
      col("o_orderpriority"))
    graft.ops.Recon.fingerprintSnapshot(proj, col("o_orderstatus"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "p", "d",
        "o_orderpriority"))
      .orderBy("part")
  }

  /** Deterministic scratch path for [[parquetPartitionedRoundtrip]],
    * shared with its pruning spec. */
  private[graft] def partitionedRoundtripDest(dir: String): String =
    new Path(new Path(sys.props("java.io.tmpdir")),
      "graft_roundtrip_part_" + Integer.toHexString(dir.hashCode)).toString

  /** Bucketed-catalog co-located-join anchor — the last §2.2 surface
    * without a registry row (round-16 verdict #7, the
    * parquet_partitioned_roundtrip recipe applied to bucketing):
    * orders and customer each written as catalog tables bucketed
    * 8-ways on the customer key ([[writeBucketed]]), read back through
    * the catalog, joined on that key — the join the bucketed layout
    * serves with ZERO key exchange (SourcesSpec asserts the plan;
    * nightly source/target reconciliation at 100 TB is exactly this
    * shape) — and fingerprinted per market segment with the library's
    * own order-free channel aggregation. The DuckDB oracle computes
    * the SAME join + fingerprint from the ORIGINAL parquet, so a
    * bucketed write that drops or duplicates rows, mangles a value in
    * flight, or mis-routes a bucket fails the driver's hash compare.
    * Verify-only like the other round trips: the op's cost is the
    * one-time bucketed sink write, which the bench's repeated-
    * materialization timing cannot meaningfully time and whose DuckDB
    * twin pays no equivalent I/O. */
  def bucketedJoinFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    val sfx = Integer.toHexString(dir.hashCode)
    val ot = s"graft_bkt_orders_$sfx"
    val ct = s"graft_bkt_customer_$sfx"
    // a PREVIOUS JVM's managed-table directory survives under the
    // warehouse while the fresh in-memory catalog knows nothing of the
    // table — saveAsTable then throws LOCATION_ALREADY_EXISTS (seen on
    // the first full-board Verify after this op landed). Drop both the
    // catalog entry and any stale on-disk location before writing.
    Seq(ot, ct).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    writeBucketed(Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice"), ot, "o_custkey")
    writeBucketed(Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_acctbal"), ct, "c_custkey")
    val j = spark.table(ot)
      .join(spark.table(ct), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("p"),
        col("c_acctbal").cast(DecimalType(12, 2)).as("b"))
    graft.ops.Recon.fingerprintSnapshot(j, col("c_mktsegment"),
      Seq("o_orderkey", "o_custkey", "c_mktsegment", "p", "b"))
      .orderBy("part")
  }

  /** The co-located join inside [[bucketedJoinFingerprint]], exposed so
    * SourcesSpec can assert its executed plan reads bucket-aligned
    * inputs with no key exchange (the tables must already exist —
    * i.e., call the fingerprint op first, or write them in the
    * test). */
  private[graft] def bucketedJoinTables(dir: String): (String, String) = {
    val sfx = Integer.toHexString(dir.hashCode)
    (s"graft_bkt_orders_$sfx", s"graft_bkt_customer_$sfx")
  }

  /** Write orders to `format` under the JVM temp dir (deterministic
    * per-(format, source-dir) location, overwrite mode — idempotent under
    * harness re-runs), read it back schema-pinned, fingerprint per
    * status. The write is a bounded side effect at plan-build time:
    * sf-sized, replaced on every call, never read by any other op. */
  private def roundtripFingerprint(spark: SparkSession, dir: String,
                                   format: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DateType, DecimalType}
    val dest = new Path(new Path(sys.props("java.io.tmpdir")),
      s"graft_roundtrip_${format}_" + Integer.toHexString(dir.hashCode)).toString
    write(Tables.orders(spark, dir), dest, format)
    val back = read(spark, dest, Tables.orders, format)
    val proj = back.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("p"),
      col("o_orderdate").cast(DateType).as("d"),
      col("o_orderpriority"))
    graft.ops.Recon.fingerprintSnapshot(proj, col("o_orderstatus"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "p", "d",
        "o_orderpriority"))
      .orderBy("part")
  }
}
