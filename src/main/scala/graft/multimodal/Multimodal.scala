package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column processing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded by REAL pure-JVM codecs
  * ([[MediaCodec]]: 24-bit BMP pixels, 16-bit PCM WAV samples, GFV1
  * frame container) in per-row UDFs.
  *
  * Scale notes: payloads travel ONLY through narrow UDF projections —
  * no shuffle ever carries the binary column; aggregations
  * happen after projection to small feature vectors. `repartitionForIo`
  * right-sizes partitions from CATALYST PLAN STATISTICS (no job, no
  * scan) — the knob that matters when rows are megabytes not kilobytes.
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  /** Deterministic payload synthesis: document text bytes become real
    * encoded media. Images are 16-wide 24-bit BMPs whose pixel bytes are
    * the text's UTF-8 bytes (zero-padded to fill the last row); audio is
    * 16-bit PCM WAV with samples packed from byte pairs; video is a GFV1
    * container of four 8×8 BMP frames cycling through the text bytes.
    * Every payload DECODES with any standard tool for its format. */
  private[multimodal] def synthesize(modality: String, text: String): Array[Byte] = {
    val b = if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
    modality match {
      case "image" =>
        val w = 16
        val h = math.max(1, (b.length + 47) / 48)
        val px = Array.tabulate(w * h * 3)(i => if (i < b.length) b(i) else 0: Byte)
        MediaCodec.encodeBmp(w, h, px)
      case "audio" =>
        val n = (b.length + 1) / 2
        val samples = Array.tabulate(n) { i =>
          val lo = b(2 * i) & 0xff
          val hi = if (2 * i + 1 < b.length) b(2 * i + 1) & 0xff else 0
          ((hi << 8) | lo).toShort
        }
        MediaCodec.encodeWav(samples, sampleRate = 8000)
      case _ => // video: 4 frames of 8×8, pixels cycle through the text
        val frames = (0 until 4).map { f =>
          val px = Array.tabulate(8 * 8 * 3) { i =>
            if (b.isEmpty) 0.toByte else b((f * 192 + i) % b.length)
          }
          MediaCodec.encodeBmp(8, 8, px)
        }
        MediaCodec.encodeVideo(frames)
    }
  }

  private val synthesizeUdf =
    udf((modality: String, text: String) => synthesize(modality, text))

  /** Build a media table from the documents table: texts rendered as
    * genuine BMP/WAV/GFV1 payloads — the deterministic stand-in for an
    * object-store scan of real media. Payload SIZES are closed-form in
    * the text's byte length (see q60's oracle), so the binary plumbing
    * stays oracle-checkable; meta carries the real decoded dimensions. */
  def mediaFromDocuments(docs: DataFrame): DataFrame = {
    val n = length(encode(col("text"), "UTF-8")) // octet length
    val modality = when(col("doc_id") % 3 === 0, "image")
      .when(col("doc_id") % 3 === 1, "audio")
      .otherwise("video")
    docs.select(
      col("doc_id").as("media_id"),
      modality.as("modality"),
      synthesizeUdf(modality, col("text")).as("content"),
      struct(
        col("source"),
        when(modality === "image", lit(16))
          .when(modality === "video", lit(8))
          .otherwise(lit(null)).cast(IntegerType).as("width"),
        when(modality === "image", greatest((n + 47).divide(48).cast("int"), lit(1)))
          .when(modality === "video", lit(8))
          .otherwise(lit(null)).cast(IntegerType).as("height"),
        // audio: nSamples/8000 Hz in ms; video: 4 frames @ 4 fps
        when(modality === "audio", ((n + 1).divide(2).cast("long") * 1000L).divide(8000).cast("long"))
          .when(modality === "video", lit(1000L))
          .otherwise(lit(null)).cast(LongType).as("duration_ms")).as("meta"))
  }

  /** Right-size partitions so executors get ~`targetBytes` of media
    * each, regardless of row count. Sizing comes from Catalyst plan
    * statistics (file-source stats / propagated estimates) — NO Spark
    * job runs at operator-build time; at 100 TB an eager payload scan
    * here would read the whole corpus before any work started. */
  def repartitionForIo(media: DataFrame, targetBytes: Long = 128L << 20): DataFrame = {
    val total = media.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = (total / targetBytes).min(10000).max(0).toInt + 1
    media.repartition(parts)
  }

  private val jpegUdf = udf { (text: String) =>
    val b = if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
    val w = 16
    val h = math.max(1, (b.length + 47) / 48)
    val px = Array.tabulate(w * h * 3)(i => if (i < b.length) b(i) else 0: Byte)
    MediaCodec.encodeJpeg(w, h, px)
  }

  /** Build a JPEG media table from the documents table: same pixel
    * content and dimensions as the BMP image path, compressed through
    * the real `javax.imageio` encoder. Payload sizes are encoder-
    * dependent (lossy format), so q68 oracle-checks DECODED facts —
    * dimensions and pixel-array shape — instead of byte accounting. */
  def jpegFromDocuments(docs: DataFrame): DataFrame = {
    val n = length(encode(col("text"), "UTF-8"))
    docs.select(
      col("doc_id").as("media_id"),
      lit("image").as("modality"),
      jpegUdf(col("text")).as("content"),
      struct(
        col("source"),
        lit(16).cast(IntegerType).as("width"),
        greatest((n + 47).divide(48).cast("int"), lit(1))
          .cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")).as("meta"))
  }

  private val mp3Udf = udf { (text: String) =>
    MediaCodec.encodeMp3(
      if (text == null) Array.emptyByteArray else text.getBytes("UTF-8"))
  }

  case class Mp3Meta(n_frames: Int, total_samples: Long, duration_ms: Long)

  private val mp3ProbeUdf = udf { (payload: Array[Byte]) =>
    val (f, s, d) = MediaCodec.probeMp3(payload)
    Mp3Meta(f, s, d)
  }

  /** Build an MP3 media table from the documents table: text bytes ride
    * in real MPEG-1 Layer III frames (MediaCodec.encodeMp3). Framing is
    * closed-form in the text's byte length, so q79 oracle-checks the
    * full probe arithmetic — frames, samples, duration — unlike the
    * lossy JPEG path. */
  def mp3FromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("lang"),
      lit("audio").as("modality"),
      mp3Udf(col("text")).as("content"))

  /** Header-walk every stream (MediaCodec.probeMp3 under one narrow
    * UDF pass — the binary column never shuffles): appends an `mp3`
    * struct column (n_frames, total_samples, duration_ms). */
  def probeMp3Streams(media: DataFrame): DataFrame =
    media.withColumn("mp3", mp3ProbeUdf(col("content")))

  /** Decode a payload with the REAL codec for its sniffed container and
    * histogram its decoded content into 16 bins:
    *  - image: pixel channel bytes, bin = v >> 4
    *  - audio: 16-bit samples, bin = (s + 32768) >> 12
    *  - video: pixel bytes of every frame, bin = v >> 4
    *  - unknown container: raw payload bytes (documented fallback)
    * Returns (payload length, histogram). */
  def decodeHistogram(payload: Array[Byte]): (Int, Array[Long]) = {
    val hist = new Array[Long](16)
    def addBytes(bs: Array[Byte]): Unit = {
      var i = 0
      while (i < bs.length) { hist((bs(i) & 0xff) >> 4) += 1; i += 1 }
    }
    MediaCodec.modalityOf(payload) match {
      case "image" => // BMP or JPEG, dispatched on magic
        val (_, _, rgb) = MediaCodec.decodeImage(payload)
        addBytes(rgb)
      case "audio" =>
        val (_, samples) = MediaCodec.decodeWav(payload)
        var i = 0
        while (i < samples.length) { hist((samples(i) + 32768) >> 12) += 1; i += 1 }
      case "video" =>
        MediaCodec.decodeVideoFrames(payload).foreach { f =>
          val (_, _, rgb) = MediaCodec.decodeBmp(f)
          addBytes(rgb)
        }
      case _ => addBytes(payload)
    }
    (payload.length, hist)
  }

  private val featuresUdf = udf { (payload: Array[Byte]) =>
    val (n, hist) = decodeHistogram(Option(payload).getOrElse(Array.emptyByteArray))
    val tot = math.max(1L, hist.sum).toDouble
    (n, hist, hist.map(_ / tot))
  }.withName("media_features")

  /** Decode + feature-extract each payload with the real codec in one
    * narrow UDF pass: emit the raw 16-bin histogram (exact longs —
    * what downstream aggregates should sum; integer counts stay
    * oracle-checkable where float sums wouldn't) plus its fixed-width
    * L1-normalized double form. The UDF is selected once and its
    * struct flattened above it, so it runs once per row. */
  def extractFeatures(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), col("modality"),
        featuresUdf(col("content")).as("f"))
      .select(col("media_id"), col("modality"), col("f._1").as("n_bytes"),
        col("f._2").as("hist"), col("f._3").as("features"))

  private val resizeUdf = udf { (payload: Array[Byte], newW: Int, newH: Int) =>
    if (payload != null && MediaCodec.modalityOf(payload) == "image") {
      val (w, h, rgb) = MediaCodec.decodeImage(payload)
      val resized = MediaCodec.resizeRgb(rgb, w, h, newW, newH)
      if (MediaCodec.isJpeg(payload)) MediaCodec.encodeJpeg(newW, newH, resized)
      else MediaCodec.encodeBmp(newW, newH, resized)
    } else payload
  }

  /** REAL nearest-neighbor image resize: decode pixels (BMP or JPEG),
    * resample, re-encode in the ORIGINAL container. Non-image payloads
    * pass through unchanged. Narrow per-row work — no shuffle. */
  def resizeImages(media: DataFrame, width: Int, height: Int): DataFrame =
    media.withColumn("content", resizeUdf(col("content"), lit(width), lit(height)))

  private val frameUdf = udf { (payload: Array[Byte], k: Int) =>
    if (payload == null || MediaCodec.modalityOf(payload) != "video") Seq.empty[Array[Byte]]
    else {
      val frames = MediaCodec.decodeVideoFrames(payload)
      // k evenly-spaced frames (all of them when k >= frame count)
      if (frames.length <= k) frames
      else (0 until k).map(i => frames(i * frames.length / k))
    }
  }

  /** REAL frame sampling: unpack the GFV1 container, keep k evenly
    * spaced frames (each a decodable BMP). Explode happens AFTER
    * selection, preserving the shuffle-free narrow shape. */
  def sampleFrames(media: DataFrame, k: Int = 4): DataFrame =
    media.filter(col("modality") === "video")
      .select(col("media_id"),
        posexplode(frameUdf(col("content"), lit(k))).as(Seq("frame_idx", "frame")))
}
