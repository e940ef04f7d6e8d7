package graft

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

  /** Content stamp for a parquet path: file → mtime + length + a hash
    * of the file's EDGE bytes; directory → child count + total child
    * length + max child mtime + the edge hash of the first few children.
    * The edge probe reads the first and last [[StampEdgeBytes]] bytes:
    * the head lands inside the first column chunk's data pages (value
    * bytes — a tail-only probe missed value edits whose footer tail,
    * schema + created_by, is unchanged), the tail inside the footer.
    * Together they close the one hole a pure stat stamp leaves: a
    * value-only in-place regen of identical byte length landing inside
    * the same coarse mtime tick (round-13 review; regression-tested
    * with pinned mtimes in SourcesSpec, single-file and partitioned).
    * Layouts up to [[StampAllProbeFiles]] files probe EVERY leaf (2
    * preads/file, driver-cheap — closes the interior-file hole for
    * every layout the testdata can take). Residual accepted risk: past
    * that threshold a same-total-length same-tick rewrite confined to
    * INTERIOR files evades the first-2/last-2 spread probe. Cost
    * today: ≤16 files × two ≤64-byte preads, driver-side. */
  private val StampEdgeBytes = 64
  private val StampTailFiles = 4
  private val StampAllProbeFiles = 16
  private def tailHash(fs: org.apache.hadoop.fs.FileSystem,
                       st: org.apache.hadoop.fs.FileStatus): Long = {
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
  private def pathStamp(spark: SparkSession, path: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val st = fs.getFileStatus(p)
      if (st.isFile)
        s"f:${st.getModificationTime}:${st.getLen}:${tailHash(fs, st)}"
      else {
        // RECURSIVE leaf listing (hive-partitioned trees have no direct
        // file children — a top-level listStatus saw only subdirs, whose
        // length is 0 and whose mtime may not move on an in-place
        // rewrite); same driver-side cost class as the file listing the
        // read itself performs
        val it = fs.listFiles(p, true)
        val files = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) files += it.next()
        var n = 0L; var len = 0L; var mt = st.getModificationTime
        files.foreach { c =>
          n += 1; len += c.getLen
          if (c.getModificationTime > mt) mt = c.getModificationTime
        }
        // edge-probe every non-empty leaf while the layout is small
        // (2 preads/file is driver-cheap and closes the interior-file
        // hole entirely — round-13 advice); past the threshold fall
        // back to a deterministic SPREAD (first and last by name —
        // probing only the head of the name order wasted slots on
        // _SUCCESS and left later part files unguarded)
        val data = files.filter(_.getLen > 0)
          .sortBy(_.getPath.toString).toSeq
        val picks =
          if (data.size <= StampAllProbeFiles) data
          else (data.take(StampTailFiles / 2) ++
            data.takeRight(StampTailFiles / 2)).distinct
        val th = picks.map(tailHash(fs, _)).mkString(",")
        s"d:$n:$len:$mt:$th"
      }
    } catch { case _: java.io.IOException => "missing" }

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    relationMemo((spark, dir, name), pathStamp(spark, path))(
      spark.read.schema(schemas(name)).parquet(path))
  }

  /** On-disk footprint of one table's parquet path — pure driver-side
    * filesystem metadata, no Spark job. This is the size gate the
    * dual-form ops use to pick between a single-pass small-input plan
    * (fewer jobs, per-group buffering acceptable) and the bounded-state
    * large-input plan: at 100 TB the gate routes to the scale form, on a
    * sub-GB reconciliation window it avoids paying 3 jobs where 1 is
    * exact. Missing path reads as Long.MaxValue so a misconfigured dir
    * fails toward the conservative (bounded-state) plan. */
  def tableBytes(spark: SparkSession, dir: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else Long.MaxValue
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
