package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pinned schemas + readers for the ten driver tables.
  *
  * Schemas are hard-coded (FIXTURES.md ground truth) rather than inferred:
  * at 100 TB a schema-inference pass is a full extra scan, and pinning also
  * protects against type drift between scale factors.
  *
  * `events.ts` has shipped as BOTH parquet `timestamp[ns]` and
  * `timestamp[us]` across testdata generations, so its unit is sniffed from
  * the parquet footer (one driver-side schema probe, memoized per table —
  * no job) rather than assumed. `timestamp[ns]` is read as nanos-since-epoch
  * (long) via `spark.sql.legacy.parquet.nanosAsLong` and converted with
  * integral division (`div`, not `/` — double division would lose µs
  * precision at 1e18 ns); `timestamp[us]` loads directly as TimestampType
  * with no rescale. DuckDB truncates ns to µs on read, so both engines see
  * identical microsecond timestamps either way — a determinism requirement
  * for the oracle compare (SURVEY.md §7.4.2).
  */
object Tables {
  val region = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val supplier = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val customer = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val orders = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Raw on-disk schema for events when ts is TIMESTAMP(NANOS): it surfaces
    * as nanos-since-epoch long (under `nanosAsLong=true`). */
  val eventsRaw = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Pinned schema for events when ts is on-disk TIMESTAMP_MICROS. */
  val eventsMicros = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The pinned per-table contract as (table, column) → Spark
    * simpleString type names — the EXPECTED side of the schema-drift
    * report (and the single source of truth the DuckDB oracle's
    * expected VALUES are generated from). Insertion order preserved =
    * declared column order. */
  private[graft] def pinnedTypes: Seq[(String, String, String)] =
    driftAuditTables.flatMap(t =>
      schemas(t).fields.map(f => (t, f.name, f.dataType.simpleString)))

  /** The nine stable tables the schema-drift pre-flight audits (events
    * excluded: its physical unit may drift and is the ts-sniff's
    * concern). The SINGLE list the Spark op and the DuckDB oracle's
    * DESCRIBE union both derive from. */
  private[graft] val driftAuditTables: Seq[String] =
    Seq("region", "nation", "supplier", "part", "customer", "orders",
      "lineitem", "documents", "embeddings")

  private val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "supplier" -> supplier,
    "part" -> part, "customer" -> customer, "orders" -> orders,
    "lineitem" -> lineitem, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Resolved relations per (session, dir, table): repeated reads of the
    * same table return the SAME DataFrame (an immutable logical plan),
    * so each query skips re-listing the path and re-resolving the
    * relation — the catalog behavior a real deployment gets from a
    * metastore table. Every read computes the path's content stamp
    * ([[pathStamp]]) afresh and rebuilds when it differs from the
    * stored one: a directory path's own getFileStatus reports length 0
    * and an mtime with possibly 1 s granularity, so a stat-of-the-path
    * key missed a same-second in-place regen. Stamping the VALUE rather
    * than the key also replaces the prior plan on refresh instead of
    * leaking one DataFrame per regen, and [[MemoRegistry.evict]] drops a
    * retired corpus's relations. A vanished path stamps as "missing" and
    * the build fails with the reader's own error. */
  private val relationMemo =
    new Memo[(SparkSession, String, String), DataFrame]("Tables.relation")

  /** The ACTUAL on-disk schema per (session, dir, table), under the same
    * stamp: `spark.read.parquet(path).schema` is driver-only but still
    * pays a file listing + footer read (~60 ms) per call — the
    * schema-drift pre-flight probes nine tables, and the events reader
    * sniffs its ts unit here. */
  private[graft] val footerSchemaMemo =
    new Memo[(SparkSession, String, String), StructType]("Tables.footerSchema")

  /** Footer row counts per (session, dir, table), under the same stamp
    * — see [[rowCount]]. */
  private[graft] val rowCountMemo =
    new Memo[(SparkSession, String, String), Long]("Tables.rowCount")

  /** The data files of one parquet path, listed once: the path itself
    * when it is a file, else every leaf under it, recursively (a
    * hive-partitioned tree has no direct file children), skipping any
    * name that starts with `_` or `.` (`_SUCCESS`, `.crc` checksums,
    * `_temporary`) — the hidden-file rule Hadoop's and Spark's readers
    * apply. The content stamp, [[tableBytes]] and [[rowCount]] all come
    * from this one listing; it throws `FileNotFoundException` for a
    * missing path. */
  private[graft] final class Listing(spark: SparkSession, path: String) {
    val conf = spark.sessionState.newHadoopConf()
    private val fs = new Path(path).getFileSystem(conf)
    private val root = fs.getFileStatus(new Path(path))
    val files: Seq[FileStatus] = {
      def walk(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          .filterNot { c =>
            val n = c.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          }
          .sortBy(_.getPath.getName).flatMap(walk)
      walk(root)
    }
    def bytes: Long = files.map(_.getLen).sum

    /** Sum of the files' footer row counts — driver-side metadata reads
      * only, no Spark job, no data page touched. */
    def footerRows: Long = files.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum

    /** Content stamp: file → mtime + length + a hash of the file's EDGE
      * bytes; directory → data-file count + total length + max mtime +
      * the edge hash of the data files. The edge probe reads the first
      * and last [[StampEdgeBytes]] bytes: the head lands inside the
      * first column chunk's data pages (value bytes — a tail-only probe
      * missed value edits whose footer tail, schema + created_by, is
      * unchanged), the tail inside the footer. Together they close the
      * one hole a pure stat stamp leaves: a value-only in-place regen of
      * identical byte length landing inside the same coarse mtime tick
      * (regression-tested with pinned mtimes in SourcesSpec,
      * single-file and partitioned). Layouts up to [[StampAllProbeFiles]]
      * data files probe EVERY file (2 preads/file, driver-cheap);
      * past that, a deterministic spread (the first and last files in
      * listing order, which is by name). Residual accepted risk: past the threshold a
      * same-total-length same-tick rewrite confined to INTERIOR files
      * evades the spread probe. A file path costs one getFileStatus
      * and two preads. */
    def stamp: String =
      if (root.isFile)
        s"f:${root.getModificationTime}:${root.getLen}:${edgeHash(root)}"
      else {
        val mt = (root +: files).map(_.getModificationTime).max
        val data = files.filter(_.getLen > 0)
        val picks =
          if (data.size <= StampAllProbeFiles) data
          else (data.take(StampTailFiles / 2) ++
            data.takeRight(StampTailFiles / 2)).distinct
        s"d:${files.size}:$bytes:$mt:${picks.map(edgeHash).mkString(",")}"
      }

    private def edgeHash(st: FileStatus): Long = {
      val n = math.min(st.getLen, StampEdgeBytes.toLong).toInt
      if (n <= 0) 0L
      else {
        val head = new Array[Byte](n)
        val tail = new Array[Byte](n)
        val in = fs.open(st.getPath)
        try {
          in.readFully(0L, head, 0, n)
          in.readFully(st.getLen - n, tail, 0, n)
        } finally in.close()
        (head ++ tail).foldLeft(1125899906842597L)((h, b) => 31 * h + b)
      }
    }
  }
  private val StampEdgeBytes = 64
  private val StampTailFiles = 4
  private val StampAllProbeFiles = 16

  /** The path's content stamp, or "missing" when it cannot be listed —
    * the build then fails with the reader's own error. */
  private def pathStamp(spark: SparkSession, path: String): String =
    try new Listing(spark, path).stamp
    catch { case _: java.io.IOException => "missing" }

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    relationMemo((spark, dir, name), pathStamp(spark, path))(
      spark.read.schema(schemas(name)).parquet(path))
  }

  /** On-disk footprint of one table's data files — pure driver-side
    * filesystem metadata, no Spark job. Missing path reads as
    * Long.MaxValue so a misconfigured dir fails toward the conservative
    * (bounded-state) plan. */
  def tableBytes(spark: SparkSession, dir: String, name: String): Long =
    try new Listing(spark, s"$dir/$name.parquet").bytes
    catch { case _: java.io.FileNotFoundException => Long.MaxValue }

  /** Size gate for dual-form (single-pass vs bounded-state) operators:
    * on-disk parquet below this routes to the 1-job exact form whose
    * per-group buffering is proportional to DISTINCT values (≤ 256 MiB
    * compressed input keeps the worst-case buffer comfortably inside one
    * executor); above it, the selection / bucket-refine plans whose
    * state is answer-sized at any input scale. */
  private val SinglePassBytes: Long = 256L * 1024 * 1024

  /** Whether one table is small enough for the single-pass form of a
    * dual-form operator (fewer jobs, per-group buffering acceptable)
    * rather than the bounded-state large-input plan: at 100 TB the gate
    * routes to the scale form, on a sub-GB reconciliation window it
    * avoids paying 3 jobs where 1 is exact. Driver-side metadata, no
    * job. */
  def singlePass(spark: SparkSession, dir: String, name: String): Boolean =
    tableBytes(spark, dir, name) <= SinglePassBytes

  /** Exact row count per (session, dir, table) from the parquet footers,
    * stamped with the content stamp of the same listing: a repeated
    * call re-lists and re-stamps but reads no footer, and any rewrite
    * the stamp sees — a same-tick, same-file-count overwrite included —
    * re-counts. Recursive, so a partitioned layout counts fully (a
    * non-recursive listing returned 0 there, which would wave
    * arbitrarily large data past the O(n²) guards); zero data files is
    * an error for the same reason, never a zero. Feeds the fail-fast
    * guards of the deliberately quadratic ops and every gate that needs
    * a raw table's row count, so none of them runs a `count()` job. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val path = s"$dir/$name.parquet"
    val l = new Listing(spark, path)
    rowCountMemo((spark, dir, name), l.stamp) {
      require(l.files.nonEmpty,
        s"rowCount: no parquet part files under $path — refusing to report 0")
      l.footerRows
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** The ACTUAL on-disk schema of one table (footer truth, not the
    * pinned contract) — what [[graft.ops.Recon.schemaDriftDisk]] audits.
    * An in-place regen changes the stamp and re-probes. */
  private[graft] def diskSchema(spark: SparkSession, dir: String,
                                name: String): StructType = {
    val path = s"$dir/$name.parquet"
    footerSchemaMemo((spark, dir, name), pathStamp(spark, path))(
      spark.read.parquet(path).schema)
  }

  /** events with `ts` normalized to Spark TimestampType at µs precision.
    *
    * The on-disk unit is sniffed from the parquet footer and branched on:
    * TIMESTAMP_MICROS loads as plain TimestampType with no rescale;
    * TIMESTAMP(NANOS) surfaces as long (requires
    * `spark.sql.legacy.parquet.nanosAsLong=true` in the session — set where
    * the session is built; `LocalSpark` and the suite's `TestSpark` do) and
    * is rescaled with integral `div 1000`. Assuming one unit and rescaling
    * unconditionally sent every event to January 1970 when the testdata
    * switched units — hence the sniff.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    relationMemo((spark, dir, "events"), pathStamp(spark, path)) {
      diskSchema(spark, dir, "events")("ts").dataType match {
        // TIMESTAMP_MICROS infers as LTZ when isAdjustedToUTC=true, NTZ when
        // false (pandas/pyarrow default). Either way the stored int64 is the
        // same µs count; pinning the LTZ schema reads it verbatim, and with
        // session tz fixed to UTC that matches DuckDB's naive read exactly.
        case TimestampType | TimestampNTZType =>
          spark.read.schema(eventsMicros).parquet(path)
        case LongType =>
          spark.read.schema(eventsRaw).parquet(path)
            .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case other => throw new IllegalStateException(
          s"events.ts at $path has unsupported parquet type $other — " +
            "expected TIMESTAMP_MICROS (reads as timestamp) or " +
            "TIMESTAMP(NANOS) (reads as long under nanosAsLong=true)")
      }
    }
  }
}
