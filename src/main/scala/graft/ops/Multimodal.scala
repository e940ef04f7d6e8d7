package graft.ops

import graft.Tables
import graft.functions.Md5
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A media record: opaque binary payload + typed metadata. In a real
  * pipeline `payload` holds image/audio/video bytes read from parquet
  * binary columns; here it is fabricated from document text so the Spark
  * plumbing (schema, partitioning, typed iteration) is real and testable. */
case class MediaRecord(doc_id: Long, kind: String, payload: Array[Byte])

/** Decoded per-item features a codec would produce. */
case class MediaFeatures(doc_id: Long, kind: String, nbytes: Long,
                         width: Int, height: Int, frames: Int)

/** Multimodal-column block: image/audio/video as opaque binary columns with
  * typed metadata (task north star). The container ships no media codecs,
  * so the decode step is a clearly-marked deterministic STUB — everything
  * around it (binary column handling, per-partition batch iteration, typed
  * Dataset schema, aggregation) is the real distributed plumbing.
  *
  * 100 TB posture: decode runs inside `mapPartitions` — per-partition
  * streaming, no driver collection, codec init amortized once per
  * partition (where a real decoder would be instantiated).
  */
object Multimodal {

  /** Byte-level stats over the payload column — fully oracle-checkable. */
  def bytesStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("nbytes"),
        md5(col("text")).as("sig"))
      .orderBy("doc_id")
      .limit(200)

  /** Fabricate binary media records from documents: payload = utf-8 bytes,
    * kind cycles image/audio/video by doc_id. */
  private[graft] def mediaRecords(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** STUB decode — deterministic shape fields derived from payload bytes.
    * A real implementation would hand `payload` to a codec here; the
    * signature, batch shape, and downstream schema would not change.
    *
    * The fake's mix is the first 32 bits of md5(payload) — switched from
    * `Arrays.hashCode` in round 12 so the fabricated shapes are
    * re-derivable from `md5(text)` in ANY engine, which turns all three
    * stub-decode ops into oracled entries (DuckDB recomputes width/
    * height/frames from the same hash) instead of trust-the-stub
    * no-oracle ones. A real codec replaces everything below `n`. */
  private[graft] def decodeStub(r: MediaRecord): MediaFeatures = {
    val n = r.payload.length
    val dig = Md5.get().digest(r.payload)
    val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
    r.kind match {
      case "image" => MediaFeatures(r.doc_id, r.kind, n,
        16 + (h % 64).toInt, 16 + ((h / 64) % 64).toInt, 1)
      case "audio" => MediaFeatures(r.doc_id, r.kind, n, 1, 1, (8000 + h % 8000).toInt)
      case _       => MediaFeatures(r.doc_id, r.kind, n,
        16 + (h % 64).toInt, 16 + ((h / 64) % 64).toInt, (24 + h % 240).toInt)
    }
  }

  /** STUB resize — pure shape arithmetic a real scaler would do; the
    * typed signature and per-partition batch shape are the real plumbing. */
  private[graft] def resizeStub(f: MediaFeatures, maxSide: Int): MediaFeatures =
    if (f.width <= maxSide && f.height <= maxSide) f
    else {
      val scale = maxSide.toDouble / math.max(f.width, f.height)
      f.copy(width = math.max(1, (f.width * scale).toInt),
        height = math.max(1, (f.height * scale).toInt))
    }

  /** Decode (stubbed) → resize (stubbed) → per-kind stats: the thumbnail
    * pass of a training pipeline. Same distributed shape as
    * [[decodeStats]]; the resize is a per-record map fused into the same
    * partition iteration — no extra shuffle. */
  def resizeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaRecords(spark, dir)
      .mapPartitions(_.map(r => resizeStub(decodeStub(r), maxSide = 32)))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        max(col("width")).as("max_w"), max(col("height")).as("max_h"))
      .orderBy("kind")
  }

  /** Frame sampling: one row per sampled frame index (every `stride`-th
    * frame), a typed 1→N generator via `flatMap` — the shape of a video
    * pipeline feeding frame batches downstream. Frame count comes from
    * the (stubbed) decode; sampling itself is real. */
  def frameSample(spark: SparkSession, dir: String, stride: Int = 10): DataFrame = {
    import spark.implicits._
    mediaRecords(spark, dir)
      .mapPartitions(_.map(decodeStub))
      .filter(col("kind") === "video").as[MediaFeatures]
      .flatMap(f => (0 until f.frames by stride).map(i => (f.doc_id, i)))
      .toDF("doc_id", "frame_idx")
      .groupBy("doc_id").agg(count(lit(1)).as("n_sampled"))
      .orderBy("doc_id")
      .limit(500)
  }

  /** Synthesize VALID RIFF/WAVE blobs from document fields — rate and
    * channel count seeded by doc_id, payload from the text bytes cut to
    * a whole number of frames. Unlike the decode stubs, nothing here is
    * faked downstream: the blobs are real WAV containers and the parse
    * is the real [[graft.functions.WavMeta]] byte scanner. */
  private[graft] def wavRecords(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val rate = Array(8000, 16000, 44100)((id % 3).toInt)
        val channels = 1 + (id % 2).toInt
        val bits = 16
        val blockAlign = channels * bits / 8
        val dataLen = payload.length / blockAlign * blockAlign
        val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
        bb.put("fmt ".getBytes).putInt(16).putShort(1.toShort)
          .putShort(channels.toShort).putInt(rate).putInt(rate * blockAlign)
          .putShort(blockAlign.toShort).putShort(bits.toShort)
        bb.put("data".getBytes).putInt(dataLen).put(payload, 0, dataLen)
        (id, bb.array())
      }.toDF("doc_id", "wav")
  }

  /** Audio-corpus profile via native header parsing: per (sample_rate,
    * channels) cohort, clip count, total frames, and total duration —
    * the filter/partition/batch-budget pass a training pipeline runs
    * BEFORE any expensive decode. [[graft.functions.WavMeta]] reads only
    * the container header inside whole-stage codegen, so at 100 TB of
    * audio this costs a metadata scan, not a decode. */
  def wavMetaStats(spark: SparkSession, dir: String): DataFrame =
    wavRecords(spark, dir)
      .select(graft.functions.WavMeta.wavMeta(col("wav")).as("m"))
      .select(col("m.sample_rate").as("sample_rate"),
        col("m.channels").as("channels"),
        col("m.n_frames").as("n_frames"),
        col("m.duration_ms").as("duration_ms"))
      .groupBy("sample_rate", "channels")
      .agg(count(lit(1)).as("n_clips"),
        sum(col("n_frames")).as("total_frames"),
        sum(col("duration_ms")).as("total_ms"))
      .orderBy("sample_rate", "channels")

  /** Decode (stubbed) then aggregate per-kind shape statistics. */
  def decodeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaRecords(spark, dir)
      .mapPartitions(_.map(decodeStub)) // codec init would live here, once per partition
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("nbytes")).as("total_bytes"),
        min(col("width")).as("min_w"), max(col("width")).as("max_w"),
        max(col("frames")).as("max_frames"))
      .orderBy("kind")
  }
}
