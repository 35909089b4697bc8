package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal queries over REAL encoded payloads (MediaCodec: BMP/WAV/
  * GFV1). q60 oracle-checks the binary-column pipeline — every payload
  * size is closed-form in the document's UTF-8 byte length (BMP:
  * 54 + 48·rows; WAV: 44 + 2·samples; GFV1: fixed 1008), so DuckDB
  * reproduces the exact byte accounting without decoding. q61 runs the
  * full decode+feature pass (real pixel/sample decode →
  * rows-only check; exact feature values for known payloads are
  * asserted in MultimodalSpec).
  */
object MultimodalQueries {

  // ---------------------------------------------------------------- q60
  /** Byte-volume rollup per modality over the binary media table. */
  def q60MediaBytes(spark: SparkSession, dir: String): DataFrame =
    Multimodal.mediaFromDocuments(Tables(spark, dir).documents)
      .groupBy("modality")
      .agg(
        count(lit(1)).as("n_media"),
        sum(length(col("content"))).as("total_bytes"),
        min(length(col("content"))).cast("long").as("min_bytes"),
        max(length(col("content"))).cast("long").as("max_bytes"))
      .orderBy("modality")

  // encoded sizes, closed-form per modality (n = utf-8 byte length):
  //   image: 16-wide 24-bit BMP, rows = max(ceil(n/48), 1) → 54 + 48·rows
  //   audio: 16-bit mono WAV, samples = ceil(n/2)          → 44 + 2·samples
  //   video: GFV1 of four 8×8 BMPs (246 each)              → 8 + 16 + 4·246
  val q60Sql: String =
    """SELECT modality, count(*) AS n_media,
      |  CAST(sum(sz) AS BIGINT) AS total_bytes,
      |  CAST(min(sz) AS BIGINT) AS min_bytes,
      |  CAST(max(sz) AS BIGINT) AS max_bytes
      |FROM (
      |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS modality,
      |    CASE WHEN doc_id % 3 = 0
      |           THEN 54 + 48 * greatest((octet_length(encode(text)) + 47) // 48, 1)
      |         WHEN doc_id % 3 = 1
      |           THEN 44 + 2 * ((octet_length(encode(text)) + 1) // 2)
      |         ELSE 1008 END AS sz
      |  FROM documents)
      |GROUP BY modality ORDER BY modality""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Full decode + feature extraction with the REAL codecs,
    * rolled up per modality. Aggregates are EXACT integer counts from the
    * raw 16-bin histogram (bin 0 exercises the BMP zero-padding path;
    * bin 7 is an arbitrary interior bin) with ONE final double division —
    * order-independent, so the DuckDB oracle can hash-match where a
    * float sum of per-doc normalized weights never deterministically
    * would. */
  def q61MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(Tables(spark, dir).documents))
    feats
      .groupBy("modality")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes").cast("long")).as("total_bytes"),
        sum(element_at(col("hist"), 1)).as("bin0_hits"),
        sum(element_at(col("hist"), 8)).as("bin7_hits"),
        sum(aggregate(col("hist"), lit(0L), (a, x) => a + x)).as("units"))
      .withColumn("bin7_mass", col("bin7_hits").cast("double") / col("units"))
      .orderBy("modality")
  }

  // The oracle mirrors decodeHistogram from `encode(text)` in closed
  // form, per modality (n = utf-8 byte length, hx = hex(bytes), byte j's
  // HIGH nibble is hex char 2j+1 1-based):
  //   image: pixel bytes are the text bytes zero-padded to 48*rows —
  //     bin(v) = v >> 4, so bin k counts hex digit k at odd positions;
  //     padding (48*rows - n zero bytes) lands in bin 0.
  //   audio: sample u = (b[2i+1] << 8) | b[2i] interpreted signed;
  //     bin = (s + 32768) >> 12 = ((hi >> 4) + 8) mod 16 — a function of
  //     the ODD byte's high nibble alone: bin 7 ⇔ 'F', bin 0 ⇔ '8'.
  //     Odd n implies hi = 0 for the last sample (bin 8) — the '00' pad.
  //   video: 768 pixel bytes cycling the text, byte p of the text used
  //     ceil((768 - p) / n) times for p < min(n, 768). range(768) is a
  //     CONSTANT table (older DuckDBs reject lateral column parameters
  //     to range()); the correlation rides in the p < nv filter.
  //     Empty text: the encoder emits 768 zero bytes — identical to
  //     cycling a single 0x00 byte, so nv = greatest(n, 1) with hx
  //     patched to '00' reproduces it (and keeps the // nv division
  //     well-defined). text is non-null by the documents contract.
  val q61Sql: String =
    """WITH m AS (
      |  SELECT doc_id % 3 AS md,
      |    hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n,
      |    CASE WHEN octet_length(encode(text)) = 0 THEN '00'
      |         ELSE hex(encode(text)) END AS hxv,
      |    greatest(octet_length(encode(text)), 1) AS nv
      |  FROM documents
      |), per AS (
      |  SELECT md, n,
      |    CASE WHEN md = 0 THEN 54 + 48 * greatest((n + 47) // 48, 1)
      |         WHEN md = 1 THEN 44 + 2 * ((n + 1) // 2)
      |         ELSE 1008 END AS n_bytes,
      |    regexp_replace(hx, '(.).', '\1', 'g') AS hi_all,
      |    regexp_replace(CASE WHEN n % 2 = 1 THEN hx || '00' ELSE hx END,
      |                   '..(.).', '\1', 'g') AS hi_odd,
      |    CASE WHEN md = 2 THEN (
      |      SELECT coalesce(sum(CASE WHEN p < nv AND substr(hxv, 2 * p + 1, 1) = '7'
      |        THEN (768 - p + nv - 1) // nv ELSE 0 END), 0)
      |      FROM range(768) t(p)) ELSE 0 END AS v7,
      |    CASE WHEN md = 2 THEN (
      |      SELECT coalesce(sum(CASE WHEN p < nv AND substr(hxv, 2 * p + 1, 1) = '0'
      |        THEN (768 - p + nv - 1) // nv ELSE 0 END), 0)
      |      FROM range(768) t(p)) ELSE 0 END AS v0
      |  FROM m
      |), counted AS (
      |  SELECT md, n_bytes,
      |    CASE WHEN md = 0 THEN length(hi_all) - length(replace(hi_all, '0', ''))
      |                        + 48 * greatest((n + 47) // 48, 1) - n
      |         WHEN md = 1 THEN length(hi_odd) - length(replace(hi_odd, '8', ''))
      |         ELSE v0 END AS h0,
      |    CASE WHEN md = 0 THEN length(hi_all) - length(replace(hi_all, '7', ''))
      |         WHEN md = 1 THEN length(hi_odd) - length(replace(hi_odd, 'F', ''))
      |         ELSE v7 END AS h7,
      |    CASE WHEN md = 0 THEN 48 * greatest((n + 47) // 48, 1)
      |         WHEN md = 1 THEN (n + 1) // 2
      |         ELSE 768 END AS u
      |  FROM per
      |)
      |SELECT
      |  CASE md WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |  count(*) AS n_media,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(sum(h0) AS BIGINT) AS bin0_hits,
      |  CAST(sum(h7) AS BIGINT) AS bin7_hits,
      |  CAST(sum(u) AS BIGINT) AS units,
      |  CAST(sum(h7) AS DOUBLE) / CAST(sum(u) AS BIGINT) AS bin7_mass
      |FROM counted GROUP BY md ORDER BY modality""".stripMargin

  // ---------------------------------------------------------------- q68
  private val jpegDimsUdf = udf { (payload: Array[Byte]) =>
    val (w, h, rgb) = graft.multimodal.MediaCodec.decodeJpeg(payload)
    (w.toLong, h.toLong, rgb.length.toLong)
  }.withName("jpeg_dims")

  /** REAL JPEG decode through `javax.imageio`: synthesize a JPEG per
    * document (same pixels/dims as the BMP path, lossy-compressed),
    * decode every payload back in one narrow UDF pass, and
    * emit the decoded facts that survive lossy compression EXACTLY —
    * dimensions and pixel-array shape. The oracle computes the same
    * facts closed-form from the text length; a broken encode or decode
    * path shifts dims/row counts and hash-fails. Pixel-VALUE fidelity
    * (MAE bounds, solid-color near-exactness) is pinned in
    * MultimodalSpec, where tolerance assertions belong. */
  def q68JpegDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.jpegFromDocuments(Tables(spark, dir).documents)
      .select(col("media_id"), jpegDimsUdf(col("content")).as("d"))
      .select(col("media_id"), col("d._1").as("jpeg_w"), col("d._2").as("jpeg_h"),
        col("d._3").as("n_px_bytes"))
      // hash-repartition (r18): the decode has no shuffle anywhere in its
      // lineage, so the orderBy's range sampler re-ran the ENTIRE
      // encode+decode pipeline; one hash exchange of the 4-long decoded
      // rows materializes it once and the sampler reads shuffle files
      // instead
      .repartition(col("media_id"))
      .orderBy("media_id")

  val q68Sql: String =
    """SELECT doc_id AS media_id,
      |  CAST(16 AS BIGINT) AS jpeg_w,
      |  CAST(greatest((octet_length(encode(text)) + 47) // 48, 1) AS BIGINT) AS jpeg_h,
      |  CAST(16 * 3 * greatest((octet_length(encode(text)) + 47) // 48, 1) AS BIGINT)
      |    AS n_px_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q79
  /** REAL MP3 header-walk metadata probe, rolled up per language:
    * synthesize an MPEG-1 Layer III stream per document (text bytes in
    * real frames — MediaCodec.encodeMp3), parse every frame header
    * back (sync, version/layer bits, bitrate/samplerate table lookups,
    * padding hop — MediaCodec.probeMp3), and aggregate streams,
    * frames, bytes, samples, and integer-exact duration. Framing is
    * closed-form in the text byte length, so unlike the lossy JPEG
    * path the WHOLE probe arithmetic is oracle-checked: a parser that
    * hops one byte short, misreads a table index, or drops the last
    * frame hash-fails. Malformed-stream behavior (lost sync, reserved
    * indices, truncation → loud failure) is pinned in MultimodalSpec. */
  def q79Mp3Probe(spark: SparkSession, dir: String): DataFrame =
    Multimodal.probeMp3Streams(
        Multimodal.mp3FromDocuments(Tables(spark, dir).documents))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_streams"),
        sum(col("mp3.n_frames").cast("long")).as("total_frames"),
        sum(length(col("content"))).cast("long").as("total_bytes"),
        sum(col("mp3.total_samples")).as("total_samples"),
        sum(col("mp3.duration_ms")).as("total_duration_ms"))
      .orderBy("lang")

  // per doc (n = utf-8 byte length): frames = max(ceil(n/413), 1),
  // bytes = 417·frames, samples = 1152·frames,
  // duration_ms = samples·1000 DIV 44100 — the identical integer ops
  // probeMp3 performs after its header walk
  val q79Sql: String =
    """SELECT lang, count(*) AS n_streams,
      |  CAST(sum(frames) AS BIGINT) AS total_frames,
      |  CAST(sum(417 * frames) AS BIGINT) AS total_bytes,
      |  CAST(sum(1152 * frames) AS BIGINT) AS total_samples,
      |  CAST(sum((1152 * frames * 1000) // 44100) AS BIGINT)
      |    AS total_duration_ms
      |FROM (
      |  SELECT lang,
      |    greatest((octet_length(encode(text)) + 412) // 413, 1) AS frames
      |  FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Every query of this module: name, Spark builder, DuckDB oracle. */
  val catalog: Seq[CatalogEntry] = Seq(
    CatalogEntry("q60_media_bytes", q60MediaBytes _, q60Sql),
    CatalogEntry("q61_media_features", q61MediaFeatures _, q61Sql),
    CatalogEntry("q68_jpeg_decode", q68JpegDecode _, q68Sql),
    CatalogEntry("q79_mp3_probe", q79Mp3Probe _, q79Sql)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    CatalogEntry.builders(catalog)
}
