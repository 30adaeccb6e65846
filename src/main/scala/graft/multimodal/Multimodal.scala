package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns for a training-data pipeline.
  *
  * Media travels as opaque `binary` columns plus a typed metadata
  * struct — the layout every large multimodal corpus uses (the bytes
  * are never interpreted by the engine; only the decode/feature stages
  * touch them). The Spark-side plumbing here — schema, partition-wise
  * batch processing, feature extraction signatures — is real and
  * tested; decode is real too for all three synthesized modalities
  * (pure-JVM BMP/WAV/AVI parsers, [[MediaContainers]]); only payloads
  * in some OTHER format fall back to the deterministic stub (this
  * container ships no image/audio/video libraries — swap
  * [[MediaCodec.decodeStub]] for a JNI/JavaCV decoder and nothing else
  * changes).
  *
  * Batch shape: decode runs via `mapPartitions` over an iterator — one
  * codec context per PARTITION, not per row (the same economics that
  * make Python pipelines use mapInPandas batches). Output rows carry
  * fixed-size feature vectors, so downstream is ordinary columnar work.
  */
object Multimodal {

  /** Decoded-frame features (decode stage output). */
  case class MediaFeatures(
      media_id: Long, modality: String,
      width: Int, height: Int, n_frames: Int,
      byte_len: Long, content_hash: Long,
      feature: Array[Float])

  /** Media codec. REAL pure-JVM decoders for BMP (24bpp), WAV (PCM u8
    * mono), and AVI (uncompressed DIB frames) — header walk, row
    * padding, chunk traversal, frame iteration, features from actual
    * pixels/samples ([[MediaContainers]]); any other payload flavor
    * falls back to the deterministic stub. Swap the stub for a
    * JNI/JavaCV decoder and signature + batching stay identical.
    */
  object MediaCodec {
    val featureDim = 16

    def decode(mediaId: Long, modality: String, bytes: Array[Byte]): MediaFeatures = {
      // fail CLEAN per row on a null payload (r19 review): the only
      // in-repo producer (syntheticMedia over a null text) emits null
      // bytes, and isBmp/contentHash would NPE and abort the whole
      // stage — the hostile-input contract is per-row. content_hash 0
      // marks the null row distinctly from an EMPTY payload (whose
      // rolling hash is the nonzero seed).
      if (bytes == null)
        return MediaFeatures(mediaId, modality, 0, 0, 0, 0L, 0L,
          new Array[Float](featureDim))
      if (MediaContainers.isBmp(bytes)) {
        MediaContainers.decodeBmp(bytes) match {
          case Some((w, h, feat)) =>
            return MediaFeatures(mediaId, modality, w, h, 1,
              bytes.length.toLong, contentHash(bytes), feat)
          case None => ()                 // unsupported BMP flavor → stub
        }
      }
      if (MediaContainers.isWav(bytes)) {
        MediaContainers.decodeWav(bytes) match {
          case Some((rate, channels, nSamples, feat)) =>
            return MediaFeatures(mediaId, modality, rate, channels, nSamples,
              bytes.length.toLong, contentHash(bytes), feat)
          case None => ()
        }
      }
      if (MediaContainers.isAvi(bytes)) {
        MediaContainers.decodeAvi(bytes) match {
          case Some((w, h, nFrames, feat)) =>
            return MediaFeatures(mediaId, modality, w, h, nFrames,
              bytes.length.toLong, contentHash(bytes), feat)
          case None => ()
        }
      }
      decodeStub(mediaId, modality, bytes)
    }

    private def contentHash(bytes: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      h
    }

    def decodeStub(mediaId: Long, modality: String, bytes: Array[Byte]): MediaFeatures = {
      // the ONE hash spelling (shared with the real-decode path): a
      // drifted copy here would desynchronize stub content_hash from
      // real content_hash and break any dedup keyed on it
      val h = contentHash(bytes)
      val w = 64 + math.floorMod(h, 512).toInt
      val ht = 64 + math.floorMod(h >> 9, 512).toInt
      val frames = modality match {
        case "video" => 1 + math.floorMod(h >> 18, 300).toInt
        case _ => 1
      }
      val feat = Array.tabulate(featureDim) { d =>
        val hd = h * (2 * d + 1) + d
        (math.floorMod(hd, 2000) / 1000.0f) - 1.0f
      }
      MediaFeatures(mediaId, modality, w, ht, frames, bytes.length.toLong, h, feat)
    }
  }

  /** Synthesize a media table from the documents table — text bytes
    * become the PAYLOAD of a real container per modality (BMP pixels
    * for image rows, WAV samples for audio rows, AVI DIB frames for
    * video rows), so the decode stage parses genuine
    * headers/rows/chunks/frames end-to-end with driver-provided data
    * only. Encoding is a codegen'd expression ([[MediaEncode]]) inside
    * this projection.
    */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val modality = element_at(array(lit("image"), lit("audio"), lit("video")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    docs.select(
      col("doc_id").as("media_id"),
      modality.as("modality"),
      MediaContainerFunctions.media_encode(
        modality, encode(col("text"), "UTF-8")).as("bytes"),
      struct(
        col("source").as("source"),
        lit(640).as("declared_w"), lit(480).as("declared_h"),
        lit(16000).as("sample_rate")).as("meta"))
  }

  /** Decode stage: partition-wise batch decode → typed features.
    * `mapPartitions` (not per-row UDF) so a real codec amortizes its
    * context setup across the partition.
    */
  def decodeFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("modality"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // a heavier codec would open its context here, close after the
        // iterator — decode() itself is allocation-free per row
        it.map { case (id, mod, bytes) => MediaCodec.decode(id, mod, bytes) }
      }
  }

  /** Frame sampling plan for video rows: every `stride`-th frame index.
    * Pure column math — the decoder receives the indices and extracts
    * only those frames.
    */
  def frameSamplePlan(features: Dataset[MediaFeatures], stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive, got $stride " +
      "(sequence() would fail opaquely at execution)")
    features.toDF()
      .filter(col("modality") === "video")
      // n_frames <= 0 yields an EMPTY plan, not a crashed job (r18
      // review): decode keys on byte-sniffing, so a row LABELED video
      // whose bytes decode as something frameless (e.g. an empty-data
      // WAV) carries n_frames = 0, and sequence(0, -1, stride) throws
      // an IllegalArgumentException that aborts the whole stage
      // the frameless guard's sibling bound (r19 review): decode keys
      // on byte-sniffing, so a row LABELED video whose bytes decode as
      // AUDIO carries n_frames = nSamples — hundreds of millions for a
      // long PCM stream — and the sequence would materialize a
      // pathological per-row array (executor OOM / array-size throw).
      // No genuine video reaches MaxPlanFrames; rows above it get the
      // same empty plan as frameless rows, visibly (their n_frames
      // rides the output, sample_frames empty).
      .select(col("media_id"), col("n_frames"),
        when(col("n_frames") > 0 && col("n_frames") <= MaxPlanFrames,
          sequence(lit(0), col("n_frames") - 1, lit(stride)))
          .otherwise(array().cast("array<int>")).as("sample_frames"))
      .withColumn("n_sampled", size(col("sample_frames")))
  }

  /** [[frameSamplePlan]]'s per-row bound: no real video clip carries
    * this many frames (1e6 ≈ 9 hours at 30 fps); counts above it are
    * mislabeled non-video decodes.
    */
  val MaxPlanFrames = 1000000L

  /** Resize spec stage: target box per media row (pure metadata op; a
    * real resize happens inside the codec using this spec).
    */
  def resizeSpec(media: DataFrame, maxDim: Int): DataFrame =
    media.select(col("media_id"), col("modality"),
      col("meta.declared_w").as("w"), col("meta.declared_h").as("h"))
      .withColumn("scale",
        least(lit(1.0), lit(maxDim) / greatest(col("w"), col("h")).cast("double")))
      .withColumn("target_w", floor(col("w") * col("scale")).cast("int"))
      .withColumn("target_h", floor(col("h") * col("scale")).cast("int"))

  /** Modality-level feature statistics over the decoded output. */
  def featureStats(features: Dataset[MediaFeatures]): DataFrame = {
    features.toDF()
      .groupBy(col("modality"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("byte_len")).as("total_bytes"),
        round(avg(col("width")), 4).as("avg_w"),
        round(avg(col("height")), 4).as("avg_h"),
        max(col("n_frames")).as("max_frames"))
  }
}
