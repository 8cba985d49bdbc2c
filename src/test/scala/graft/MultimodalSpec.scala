package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaRow, FrameRef}

/** Pins the multimodal plumbing: schema, format sniffing, bounded-batch
  * decode shape, frame sampling, and size-aware partitioning. The codec is
  * the documented stub; everything around it is the real contract.
  */
class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 1, 2, 3).map(_.toByte)
  private val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A).map(_.toByte)
  private val mp4 = ("????ftypisom" + "x" * 20).getBytes("ASCII")
  private def blob(n: Int, seed: Int) =
    Array.tabulate(n)(i => ((i * 31 + seed) % 251).toByte)

  private def media = Seq(
      MediaRow(1L, "image", jpeg, 0, 0, 0),
      MediaRow(2L, "image", png, 0, 0, 0),
      MediaRow(3L, "video", mp4 ++ blob(3000, 7), 0, 0, 30),
      MediaRow(4L, "audio", blob(800, 3), 0, 0, 0))
    .toDS().repartition(2)

  test("sniffFormat recognizes magic bytes") {
    val out = media.toDF()
      .select($"media_id", Multimodal.sniffFormat($"bytes").as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "jpeg", 2L -> "png", 3L -> "mp4",
      4L -> "unknown"))
  }

  test("withBlobMeta: digests and sizes without shuffling blobs") {
    val df = Multimodal.withBlobMeta(media.toDF(), $"bytes")
    val row = df.filter($"media_id" === 4L).head
    assert(row.getAs[Int]("byte_len") === 800)
    assert(row.getAs[String]("content_md5").length === 32)
    assert(row.getAs[String]("content_sha256").length === 64)
    // narrow stage: metadata adds no Exchange beyond the input's own
    val flat = Seq(MediaRow(9L, "image", jpeg, 0, 0, 0)).toDS().toDF()
    val plan = Multimodal.withBlobMeta(flat, $"bytes")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("decodeAndEmbed: fixed-dim embeddings, deterministic, batched") {
    val feats = Multimodal.decodeAndEmbed(media, dim = 16, batchSize = 2)
    val rows = feats.collect().sortBy(_.media_id)
    assert(rows.length === 4)
    assert(rows.forall(_.embedding.length === 16))
    assert(rows.forall(r => r.out_width >= 64 && r.out_height >= 48))
    // deterministic: same bytes → same features on a second run
    val again = Multimodal.decodeAndEmbed(media, dim = 16, batchSize = 3)
      .collect().sortBy(_.media_id)
    assert(rows.map(_.embedding.toSeq).toSeq === again.map(_.embedding.toSeq).toSeq)
  }

  test("sampleFrames: k uniform byte-range refs per video, no byte copies") {
    val frames = Multimodal.sampleFrames(media, k = 4).collect()
      .sortBy(_.frame_idx)
    assert(frames.forall(_.media_id === 3L))   // only the video row
    assert(frames.length === 4)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 7, 15, 22))
    val blobLen = mp4.length + 3000
    assert(frames.forall(f => f.byte_start + f.byte_len <= blobLen + 100))
    assert(frames.forall(_.byte_len === blobLen / 30))
  }

  // ---- real header fixtures: minimal but spec-valid dimension headers ----
  private val png320x200 = Array[Int](
    0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,   // signature
    0, 0, 0, 0x0D, 'I', 'H', 'D', 'R',             // IHDR chunk len + tag
    0, 0, 0x01, 0x40,                              // width  = 320 (BE)
    0, 0, 0x00, 0xC8                               // height = 200 (BE)
  ).map(_.toByte)
  private val gif320x200 = Array[Int](
    'G', 'I', 'F', '8', '9', 'a',
    0x40, 0x01,                                    // width  = 320 (LE)
    0xC8, 0x00                                     // height = 200 (LE)
  ).map(_.toByte)
  private val jpeg320x240 = Array[Int](
    0xFF, 0xD8,                                    // SOI
    0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00,            // APP0 (len 4, skipped)
    0xFF, 0xC0, 0x00, 0x11, 0x08,                  // SOF0, len, precision
    0x00, 0xF0,                                    // height = 240 (BE)
    0x01, 0x40                                     // width  = 320 (BE)
  ).map(_.toByte)
  private val jpegProgressive = Array[Int](
    0xFF, 0xD8,
    0xFF, 0xC4, 0x00, 0x04, 0x00, 0x00,            // DHT — NOT a SOF marker
    0xFF, 0xC2, 0x00, 0x11, 0x08,                  // SOF2 (progressive)
    0x00, 0x64,                                    // height = 100
    0x00, 0xC8                                     // width  = 200
  ).map(_.toByte)

  test("ImageHeaders parses real PNG/GIF/JPEG dimensions from headers") {
    assert(Multimodal.ImageHeaders.dims(png320x200) === Some((320, 200)))
    assert(Multimodal.ImageHeaders.dims(gif320x200) === Some((320, 200)))
    assert(Multimodal.ImageHeaders.dims(jpeg320x240) === Some((320, 240)))
    assert(Multimodal.ImageHeaders.dims(jpegProgressive) === Some((200, 100)))
    // truncated / non-image bytes fall through to None
    assert(Multimodal.ImageHeaders.dims(jpeg) === None)
    assert(Multimodal.ImageHeaders.dims(png) === None)
    assert(Multimodal.ImageHeaders.dims(blob(100, 5)) === None)
    assert(Multimodal.ImageHeaders.dims(Array.empty[Byte]) === None)
  }

  test("decodeAndEmbed surfaces real header dimensions for images") {
    val ds = Seq(
        MediaRow(1L, "image", png320x200, 0, 0, 0),
        MediaRow(2L, "image", jpeg320x240, 0, 0, 0),
        MediaRow(3L, "image", gif320x200, 0, 0, 0))
      .toDS()
    val dims = Multimodal.decodeAndEmbed(ds, dim = 4).collect()
      .map(f => f.media_id -> ((f.out_width, f.out_height))).toMap
    assert(dims === Map(1L -> ((320, 200)), 2L -> ((320, 240)),
      3L -> ((320, 200))))
  }

  // a REAL PNG rendered through the JDK: 8×6, left half dark gray (64),
  // right half light gray (192) — known luminance structure
  private def realPng: Array[Byte] = {
    val im = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8) {
      val v = if (x < 4) 64 else 192
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  test("ImageIoCodec decodes real pixels: dims + luminance-grid embedding") {
    val bytes = realPng
    assert(Multimodal.ImageIoCodec.decodeDims(bytes) === ((8, 6)))
    // dim=4 → 2×2 grid; gray luma == the gray value exactly (BT.601 weights
    // sum to 1), so left cells ≈ 64/255-0.5, right cells ≈ 192/255-0.5
    val e = Multimodal.ImageIoCodec.embed(bytes, 4)
    assert(e.length === 4)
    val dark = 64f / 255f - 0.5f
    val light = 192f / 255f - 0.5f
    assert(math.abs(e(0) - dark) < 1e-3, s"e0=${e(0)}")
    assert(math.abs(e(1) - light) < 1e-3, s"e1=${e(1)}")
    assert(math.abs(e(2) - dark) < 1e-3)
    assert(math.abs(e(3) - light) < 1e-3)
    // deterministic
    assert(e.toSeq === Multimodal.ImageIoCodec.embed(bytes, 4).toSeq)
  }

  test("ImageIoCodec falls back to FakeCodec for non-decodable bytes") {
    val junk = blob(500, 11)
    assert(Multimodal.ImageIoCodec.embed(junk, 8).toSeq ===
      Multimodal.FakeCodec.embed(junk, 8).toSeq)
    assert(Multimodal.ImageIoCodec.decodeDims(junk) ===
      Multimodal.FakeCodec.decodeDims(junk))
  }

  test("ImageIoCodec leaves the JVM-global ImageIO cache flag alone") {
    val before = javax.imageio.ImageIO.getUseCache
    javax.imageio.ImageIO.setUseCache(true)
    try {
      val ds = Seq(MediaRow(1L, "image", realPng, 0, 0, 0)).toDS()
      val got = Multimodal.decodeAndEmbed(ds, dim = 4).collect()
      assert(got.map(f => (f.out_width, f.out_height)).toSeq === Seq((8, 6)))
      assert(javax.imageio.ImageIO.getUseCache,
        "decoding a row switched ImageIO's stream cache off for the JVM")
    } finally javax.imageio.ImageIO.setUseCache(before)
  }

  test("decodeAndEmbed is codec-pluggable and runs both codecs distributed") {
    val ds = Seq(MediaRow(1L, "image", realPng, 0, 0, 0),
        MediaRow(2L, "audio", blob(300, 5), 0, 0, 0))
      .toDS().repartition(2)
    val real = Multimodal.decodeAndEmbed(ds, dim = 4).collect()
      .map(f => f.media_id -> f).toMap
    val fake = Multimodal.decodeAndEmbed(ds, dim = 4,
        codec = Multimodal.FakeCodec).collect()
      .map(f => f.media_id -> f).toMap
    // the real PNG: real pixel dims either way, but only the default
    // (ImageIoCodec) embedding reflects pixel content
    assert(real(1L).out_width === 8 && real(1L).out_height === 6)
    assert(real(1L).embedding.toSeq !== fake(1L).embedding.toSeq)
    // non-image rows: both codecs agree (ImageIoCodec falls back)
    assert(real(2L).embedding.toSeq === fake(2L).embedding.toSeq)
  }

  test("gate PNG builder: stored-deflate PNG is JDK-decodable and yields " +
      "the exact formula pixels (the q_mm_embed_real_png contract)") {
    for (id <- Seq(0L, 1L, 7L, 123L, 4999L, 50000L)) {
      val b = graft.queries.TextPipeline.pngBytes(id)
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      assert(im != null, s"doc $id: ImageIO could not decode the PNG")
      assert(im.getWidth === 8 && im.getHeight === 8)
      for (y <- 0 until 8; x <- 0 until 8) {
        val rgb = im.getRGB(x, y)
        assert(((rgb >> 16) & 0xff) === ((5 * id + 3 * x + 17 * y) % 256).toInt,
          s"doc $id R($x,$y)")
        assert(((rgb >> 8) & 0xff) === ((3 * id + 5 * x + 13 * y) % 256).toInt,
          s"doc $id G($x,$y)")
        assert((rgb & 0xff) === ((id + 7 * x + 11 * y) % 256).toInt,
          s"doc $id B($x,$y)")
      }
      // deterministic under retry: same id -> same bytes
      assert(b.toSeq === graft.queries.TextPipeline.pngBytes(id).toSeq)
    }
  }

  test("repartitionBySize bounds blob bytes per partition") {
    val df = media.toDF()
    val out = Multimodal.repartitionBySize(df, $"bytes", targetBytes = 1000)
    assert(out.rdd.getNumPartitions >= 3)   // ~3.8KB total / 1KB target
    assert(out.count() === 4)
  }

  test("rebalance is scan-free: a REBALANCE exchange, no sizing aggregate") {
    val out = Multimodal.rebalance(media.toDF())
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("rebalance"))
    assert(out.count() === 4) // rows survive the AQE re-partitioning
  }
}
