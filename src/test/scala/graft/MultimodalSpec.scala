package graft

import graft.multimodal.{MediaCodec, Multimodal}
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  private lazy val media =
    Multimodal.mediaFromDocuments(Tables(spark, sf).documents).cache()

  // ------------------------------------------------------------ codecs

  test("BMP round-trip: encode/decode exact, including row padding") {
    val w = 5; val h = 3 // rowSize 16 ≠ w*3=15 → padding path exercised
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val bytes = MediaCodec.encodeBmp(w, h, rgb)
    assert(bytes.length == MediaCodec.bmpSize(w, h))
    assert(bytes(0) == 'B' && bytes(1) == 'M')
    val (dw, dh, drgb) = MediaCodec.decodeBmp(bytes)
    assert(dw == w && dh == h)
    assert(drgb.toSeq == rgb.toSeq)
  }

  test("WAV round-trip: 16-bit PCM samples exact, negatives included") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345)
    val bytes = MediaCodec.encodeWav(samples, sampleRate = 8000)
    assert(bytes.length == MediaCodec.wavSize(samples.length))
    val (rate, decoded) = MediaCodec.decodeWav(bytes)
    assert(rate == 8000)
    assert(decoded.toSeq == samples.toSeq)
  }

  test("GFV1 round-trip: frame payloads exact") {
    val frames = Seq(
      MediaCodec.encodeBmp(1, 1, Array[Byte](1, 2, 3)),
      MediaCodec.encodeBmp(2, 1, Array[Byte](4, 5, 6, 7, 8, 9)))
    val video = MediaCodec.encodeVideo(frames)
    val out = MediaCodec.decodeVideoFrames(video)
    assert(out.length == 2)
    assert(out(0).toSeq == frames(0).toSeq && out(1).toSeq == frames(1).toSeq)
    assert(MediaCodec.modalityOf(video) == "video")
  }

  // ----------------------------------------------------- media table

  test("JPEG round-trip: dims exact, smooth content within MAE bound") {
    // smooth horizontal gradient — JPEG's favorable case
    val (w, h) = (32, 16)
    val rgb = Array.tabulate(w * h * 3) { i =>
      val x = (i / 3) % w
      (x * 255 / (w - 1)).toByte
    }
    val jpg = MediaCodec.encodeJpeg(w, h, rgb)
    assert(MediaCodec.isJpeg(jpg) && MediaCodec.modalityOf(jpg) == "image")
    val (dw, dh, back) = MediaCodec.decodeJpeg(jpg)
    assert(dw == w && dh == h && back.length == rgb.length)
    val mae = rgb.indices.map(i => math.abs((rgb(i) & 0xff) - (back(i) & 0xff))).sum /
      rgb.length.toDouble
    assert(mae < 8.0, s"gradient MAE too high: $mae")
    // solid color decodes near-exactly (DC-only blocks)
    val solid = Array.fill[Byte](w * h * 3)(100)
    val (_, _, sBack) = MediaCodec.decodeJpeg(MediaCodec.encodeJpeg(w, h, solid))
    val sMae = solid.indices.map(i => math.abs(100 - (sBack(i) & 0xff))).sum /
      solid.length.toDouble
    assert(sMae < 3.0, s"solid-color MAE too high: $sMae")
    // decodeImage dispatches on magic: same pixels through either entry
    assert(MediaCodec.decodeImage(jpg)._3.sameElements(back))
  }

  test("JPEG media table: payloads decode at the meta dimensions; resize re-encodes JPEG") {
    val docs = Seq((0L, "a" * 100, "s"), (1L, "", "s"), (2L, "xy", "s"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.jpegFromDocuments(docs)
    val rows = media.select("media_id", "content", "meta.height").collect()
    rows.foreach { r =>
      val (w, h, rgb) = MediaCodec.decodeJpeg(r.getAs[Array[Byte]]("content"))
      assert(w == 16 && h == r.getAs[Int]("height"))
      assert(rgb.length == w * h * 3)
    }
    // resize keeps the JPEG container and the new dims really decode
    val resized = Multimodal.resizeImages(media, 8, 8)
      .select("content").head().getAs[Array[Byte]]("content")
    assert(MediaCodec.isJpeg(resized))
    val (rw, rh, _) = MediaCodec.decodeJpeg(resized)
    assert(rw == 8 && rh == 8)
  }

  test("media table: schema, modality assignment, payloads really decode") {
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "modality", "content", "meta"))
    assert(media.select("modality").distinct().count() == 3)
    // an image payload is a real BMP whose pixel bytes are the text's
    // UTF-8 bytes (zero-padded): decode and compare the prefix
    val doc = Tables(spark, sf).documents
      .filter(col("doc_id") % 3 === 0).orderBy("doc_id").first()
    val textBytes = doc.getAs[String]("text").getBytes("UTF-8")
    val payload = media.filter(col("media_id") === doc.getAs[Long]("doc_id"))
      .select("content").first().getAs[Array[Byte]](0)
    val (w, h, rgb) = MediaCodec.decodeBmp(payload)
    assert(w == 16 && h == math.max(1, (textBytes.length + 47) / 48))
    assert(rgb.take(textBytes.length).toSeq == textBytes.toSeq)
    assert(rgb.drop(textBytes.length).forall(_ == 0))
    // an audio payload's samples repack the text's byte pairs
    val adoc = Tables(spark, sf).documents
      .filter(col("doc_id") % 3 === 1).orderBy("doc_id").first()
    val ab = adoc.getAs[String]("text").getBytes("UTF-8")
    val apayload = media.filter(col("media_id") === adoc.getAs[Long]("doc_id"))
      .select("content").first().getAs[Array[Byte]](0)
    val (_, samples) = MediaCodec.decodeWav(apayload)
    assert(samples.length == (ab.length + 1) / 2)
    assert((samples(0) & 0xff).toByte == ab(0))
  }

  test("payload sizes match the q60 closed forms") {
    val bad = media
      .join(Tables(spark, sf).documents.select(col("doc_id").as("media_id"),
        length(encode(col("text"), "UTF-8")).as("n")), "media_id")
      .withColumn("expected",
        when(col("modality") === "image",
          lit(54) + lit(48) * greatest((col("n") + 47).divide(48).cast("long"), lit(1L)))
        .when(col("modality") === "audio",
          lit(44) + lit(2) * (col("n") + 1).divide(2).cast("long"))
        .otherwise(lit(1008L)))
      .filter(length(col("content")) =!= col("expected"))
    assert(bad.count() == 0)
  }

  // ------------------------------------------------------- features

  test("extractFeatures decodes real pixels/samples: exact known values") {
    val img = MediaCodec.encodeBmp(1, 1, Array[Byte](0x10, 0x25, 0x3a)) // bins 1,2,3
    val wav = MediaCodec.encodeWav(Array[Short](0, 0, -32768))           // bins 8,8,0
    val vid = MediaCodec.encodeVideo(Seq(
      MediaCodec.encodeBmp(1, 1, Array[Byte](0x10, 0x11, 0x12)),         // bin 1 ×3
      MediaCodec.encodeBmp(1, 1, Array[Byte](0xf0.toByte, 0xf1.toByte, 0xf2.toByte)))) // bin 15 ×3
    val df = Seq(
      (1L, "image", img), (2L, "audio", wav), (3L, "video", vid)
    ).toDF("media_id", "modality", "content")
    val rows = Multimodal.extractFeatures(df).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Int]("n_bytes"), r.getSeq[Double](r.fieldIndex("features")).toSeq)).toMap
    // image: three pixel-channel bytes, one in each of bins 1,2,3
    assert(rows(1L)._1 == img.length)
    assert(rows(1L)._2 == Seq(0.0, 1.0 / 3, 1.0 / 3, 1.0 / 3) ++ Seq.fill(12)(0.0))
    // audio: samples 0,0 → bin 8; -32768 → bin 0
    assert(rows(2L)._2(8) == 2.0 / 3 && rows(2L)._2(0) == 1.0 / 3)
    // video: both frames decoded — 3 bytes in bin 1, 3 in bin 15
    assert(rows(3L)._2(1) == 0.5 && rows(3L)._2(15) == 0.5)
  }

  test("extractFeatures over the media table: fixed width, L1-normalized") {
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() == media.count())
    assert(feats.filter(size(col("features")) =!= 16).count() == 0)
    val sums = feats.select(aggregate(col("features"), lit(0.0), (a, x) => a + x).as("s"))
      .filter(abs(col("s") - 1.0) > 1e-9)
    assert(sums.count() == 0)
    feats.unpersist()
  }

  test("q61 and q68 run their decode UDF once per row: one ScalaUDF per optimized plan") {
    // filter pushdown and CollapseProject substitute aliases, which can
    // copy a UDF call into every reference of its struct (the trap the
    // Dedup/FuzzyJoin comments record); each decode must stay a single
    // call whose struct is flattened above it
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    Seq("q61_media_features" -> "media_features", "q68_jpeg_decode" -> "jpeg_dims")
      .foreach { case (query, udfName) =>
        val plan = SparkEntry.queries(query)(spark, sf).queryExecution.optimizedPlan
        val calls = plan.flatMap(_.expressions.flatMap(_.collect {
          case u: ScalaUDF if u.udfName.contains(udfName) => u
        }))
        assert(calls.size == 1, s"$query: ${calls.size} $udfName calls in\n$plan")
      }
  }

  // ------------------------------------------------- partition sizing

  test("repartitionForIo sizes from plan stats and runs NO job") {
    val docs = Tables(spark, sf).documents
    val m = Multimodal.mediaFromDocuments(docs)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val tiny = Multimodal.repartitionForIo(m, targetBytes = 10000L)
    val one = Multimodal.repartitionForIo(m, targetBytes = Long.MaxValue >> 8)
    Thread.sleep(300) // let any (wrongly) submitted job reach the tracker
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "repartitionForIo must not trigger a Spark job")
    assert(tiny.rdd.getNumPartitions > 1)
    assert(one.rdd.getNumPartitions == 1)
  }

  // --------------------------------------------------- resize/frames

  test("resizeImages: real nearest-neighbor pixel resample") {
    val rgb = Array[Byte](
      1, 1, 1,  2, 2, 2,
      3, 3, 3,  4, 4, 4) // 2×2
    val df = Seq((1L, "image", MediaCodec.encodeBmp(2, 2, rgb)))
      .toDF("media_id", "modality", "content")
    val out = Multimodal.resizeImages(df, 1, 1)
      .select("content").first().getAs[Array[Byte]](0)
    val (w, h, px) = MediaCodec.decodeBmp(out)
    assert(w == 1 && h == 1)
    assert(px.toSeq == Seq[Byte](1, 1, 1)) // nearest-neighbor keeps (0,0)
    // non-image payloads pass through untouched
    val wav = MediaCodec.encodeWav(Array[Short](7))
    val df2 = Seq((2L, "audio", wav)).toDF("media_id", "modality", "content")
    val same = Multimodal.resizeImages(df2, 1, 1).select("content").first().getAs[Array[Byte]](0)
    assert(same.toSeq == wav.toSeq)
  }

  test("mp3: frames carry the bytes, probe matches closed form, malformed fails loudly") {
    import graft.multimodal.MediaCodec
    // closed-form frame count, including the empty-input single frame
    for (n <- Seq(0, 1, 412, 413, 414, 1000)) {
      val data = Array.tabulate(n)(i => (i % 251).toByte)
      val enc = MediaCodec.encodeMp3(data)
      val expFrames = math.max(1, (n + 412) / 413)
      assert(enc.length == expFrames * MediaCodec.Mp3FrameSize)
      assert(MediaCodec.isMp3(enc))
      val (frames, samples, durMs) = MediaCodec.probeMp3(enc)
      assert(frames == expFrames)
      assert(samples == expFrames.toLong * 1152)
      assert(durMs == samples * 1000L / 44100)
      // payload bytes survive framing verbatim
      val payload = (0 until frames).flatMap(f =>
        enc.slice(f * 417 + 4, (f + 1) * 417).toSeq).take(n)
      assert(payload == data.toSeq)
    }
    // corruption modes all fail loudly, never silently-wrong metadata
    val good = MediaCodec.encodeMp3(Array.tabulate(900)(_.toByte))
    def corrupt(mut: Array[Byte] => Unit): Array[Byte] = {
      val c = good.clone(); mut(c); c
    }
    intercept[IllegalArgumentException] { // lost sync mid-stream
      MediaCodec.probeMp3(corrupt(_(417) = 0x00))
    }
    intercept[IllegalArgumentException] { // reserved bitrate index 15
      MediaCodec.probeMp3(corrupt(_(2) = 0xF0.toByte))
    }
    intercept[IllegalArgumentException] { // truncated final frame
      MediaCodec.probeMp3(good.dropRight(1))
    }
    intercept[IllegalArgumentException] { // MPEG-2 version bits
      MediaCodec.probeMp3(corrupt(_(1) = 0xF3.toByte))
    }
  }

  test("sampleFrames: evenly spaced, every frame decodes as BMP") {
    val frames = (0 until 4).map(i =>
      MediaCodec.encodeBmp(1, 1, Array[Byte](i.toByte, i.toByte, i.toByte)))
    val df = Seq((9L, "video", MediaCodec.encodeVideo(frames)))
      .toDF("media_id", "modality", "content")
    val out = Multimodal.sampleFrames(df, k = 2).orderBy("frame_idx").collect()
    assert(out.length == 2)
    val picked = out.map(r => MediaCodec.decodeBmp(r.getAs[Array[Byte]]("frame"))._3(0))
    assert(picked.toSeq == Seq[Byte](0, 2)) // frames 0 and 2 of 4
    // every sampled frame over the real media table decodes
    val sampled = Multimodal.sampleFrames(media, k = 4)
    val videos = media.filter(col("modality") === "video").count()
    assert(sampled.count() == 4 * videos)
  }
}
