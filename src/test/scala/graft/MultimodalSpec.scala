package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{ImageCodec, MediaContainers, Multimodal}

/** Multimodal binary-column plumbing: schema, batch shape, the image,
  * audio and video codecs, frame sampling layout.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("media records carry binary payloads with typed metadata") {
    val media = Multimodal.fromDocuments(docs)
    val r = media.head()
    assert(r.kind == "image" && r.bytes.nonEmpty && r.width >= 64 && r.height >= 48)
    assert(media.count() == docs.count())
  }

  test("BMP/PNG encode→decode roundtrips dimensions and format") {
    val pix: Int => Byte = i => (i % 251).toByte
    val bmp = ImageCodec.decodeMeta(ImageCodec.encodeBmp(33, 21, pix))
    assert(bmp.contains(ImageCodec.ImageMeta("bmp", 33, 21)))
    val png = ImageCodec.decodeMeta(ImageCodec.encodePng(64, 48, pix))
    assert(png.contains(ImageCodec.ImageMeta("png", 64, 48)))
    // PNG payload must be a real zlib stream: inflate and check layout
    val bytes = ImageCodec.encodePng(4, 2, pix)
    val idatLen = ((bytes(33) & 0xFF) << 24) | ((bytes(34) & 0xFF) << 16) |
      ((bytes(35) & 0xFF) << 8) | (bytes(36) & 0xFF)
    val idat = bytes.slice(41, 41 + idatLen)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat)
    val raw = new Array[Byte](2 * (1 + 3 * 4))
    assert(inf.inflate(raw) == raw.length && inf.finished())
    assert(raw(0) == 0 && raw(1 + 3 * 4) == 0, "filter bytes present per row")
  }

  test("decoder parses foreign headers (GIF, JPEG SOF scan) and rejects junk") {
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x40, 0x01, 0xF0.toByte, 0x00, 0, 0, 0, 0, 0, 0)
    assert(ImageCodec.decodeMeta(gif).contains(ImageCodec.ImageMeta("gif", 320, 240)))
    // JPEG: SOI, APP0 (16 bytes), SOF0 with h=480 w=640
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xE0.toByte, 0x00, 0x10) ++ new Array[Byte](14) ++
      Array[Byte](0xFF.toByte, 0xC0.toByte, 0x00, 0x11, 0x08,
        0x01, 0xE0.toByte, 0x02, 0x80.toByte) ++ new Array[Byte](20)
    assert(ImageCodec.decodeMeta(jpeg).contains(ImageCodec.ImageMeta("jpeg", 640, 480)))
    assert(ImageCodec.decodeMeta("not an image at all".getBytes).isEmpty)
    assert(ImageCodec.decodeMeta(Array[Byte](1, 2)).isEmpty)
  }

  test("decodePixels reconstructs the exact pixel stream (BMP and PNG)") {
    val px = Array.tabulate(3 * 20 * 13)(i => ((i * 31 + 7) % 251).toByte)
    val bmp = ImageCodec.decodePixels(ImageCodec.encodeBmp(20, 13, px(_)))
    assert(bmp.exists { case (w, h, p) => w == 20 && h == 13 && p.sameElements(px) })
    val png = ImageCodec.decodePixels(ImageCodec.encodePng(20, 13, px(_)))
    assert(png.exists { case (w, h, p) => w == 20 && h == 13 && p.sameElements(px) })
  }

  test("PNG de-filter reverses all four non-trivial filter types") {
    val w = 4; val h = 4; val stride = 3 * w
    val pixels = Array.tabulate(h * stride)(i => ((i * 17 + 3) % 256).toByte)
    // forward-filter row y with filter type y (Sub/Up/Average/Paeth order
    // shifted so every type 1-4 appears), per the PNG spec
    val raw = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h) {
      val ft = y + 1
      raw(y * (1 + stride)) = ft.toByte
      for (x <- 0 until stride) {
        val cur = pixels(y * stride + x) & 0xFF
        val a = if (x >= 3) pixels(y * stride + x - 3) & 0xFF else 0
        val b = if (y > 0) pixels((y - 1) * stride + x) & 0xFF else 0
        val cc = if (x >= 3 && y > 0) pixels((y - 1) * stride + x - 3) & 0xFF else 0
        val pred = ft match {
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - cc
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - cc)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else cc
        }
        raw(y * (1 + stride) + 1 + x) = ((cur - pred) & 0xFF).toByte
      }
    }
    val decoded = ImageCodec.decodePixels(ImageCodec.wrapPng(w, h, raw))
    assert(decoded.exists { case (dw, dh, p) =>
      dw == w && dh == h && p.sameElements(pixels)
    })
  }

  test("pixelStats channel sums equal a direct fold over the encoder's input") {
    val decoded = Multimodal.pixelStats(Multimodal.imageTable(docs))
    val bad = decoded.toDF().join(docs, $"media_id" === $"doc_id")
      .filter($"n_pixels" =!=
        (($"doc_id" % 64 + 16) * ($"doc_id" % 48 + 12)).cast("long"))
      .count()
    assert(bad == 0)
    // spot-check one doc end-to-end against a driver-side fold
    val one = docs.orderBy($"doc_id").select($"doc_id", $"text")
      .as[(Long, String)].head()
    val (id, text) = one
    val w = (id % 64).toInt + 16; val h = (id % 48).toInt + 12
    val tb = text.getBytes("UTF-8")
    val expect = new Array[Long](3)
    for (i <- 0 until 3 * w * h)
      expect(i % 3) += (if (tb.isEmpty) 0 else tb(i % tb.length) & 0xFF)
    val got = decoded.filter($"media_id" === id).head()
    assert((got.c0_sum, got.c1_sum, got.c2_sum) == ((expect(0), expect(1), expect(2))))
  }

  test("imageTable payloads decode to the dims the encoder derived from doc_id") {
    val decoded = Multimodal.decodeMetaTable(Multimodal.imageTable(docs))
    val bad = decoded.toDF().join(docs, $"media_id" === $"doc_id")
      .filter($"format" =!= when($"doc_id" % 2 === 0, "bmp").otherwise("png") ||
        $"width" =!= ($"doc_id" % 64 + 16).cast("int") ||
        $"height" =!= ($"doc_id" % 48 + 12).cast("int"))
      .count()
    assert(bad == 0)
    assert(decoded.count() == docs.count())
  }

  test("LZW encode→decode roundtrips exactly, through width growth and " +
      "dictionary reset") {
    // deterministic pseudo-random stream long and varied enough to push the
    // dictionary past every code-width boundary (512, 1024, 2048, 4096 →
    // clear + reset) — the paths tiny GIF frames never reach
    var seed = 0x9E3779B97F4A7C15L
    val data = Array.tabulate[Byte](60000) { _ =>
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (seed & 0xFF).toByte
    }
    val packed = MediaContainers.lzwEncode(8, data)
    val back = MediaContainers.lzwDecode(8, packed)
    assert(back.exists(_.sameElements(data)))
    // and a highly repetitive stream (exercises the KwKwK decode case)
    val rep = Array.tabulate[Byte](5000)(i => (i % 3).toByte)
    assert(MediaContainers.lzwDecode(8, MediaContainers.lzwEncode(8, rep))
      .exists(_.sameElements(rep)))
  }

  test("animated GIF encode→decode roundtrips frame count and every " +
      "frame's decoded pixels") {
    val frames = (0 until 4).map(f =>
      Array.tabulate[Byte](11 * 7)(j => ((f * 31 + j * 7) % 256).toByte))
    val gif = MediaContainers.encodeGif(11, 7, frames)
    assert(new String(gif, 0, 6, "US-ASCII") == "GIF89a")
    assert(MediaContainers.decodeGifMeta(gif)
      .contains(MediaContainers.GifMeta(11, 7, 4)))
    val back = MediaContainers.decodeGifFrames(gif).get
    assert(back.size == 4)
    frames.zip(back).foreach { case (want, got) =>
      assert(got.sameElements(want))
    }
  }

  test("gif frame sampling decodes every 2nd frame's pixels through LZW") {
    val sampled = Multimodal.sampleGifFrames(Multimodal.gifTable(docs)).toDF()
    // stride-2 sampling of (id%5)+2 frames: indices 0, 2, (4)
    val byDoc = sampled.groupBy("media_id")
      .agg(count(lit(1)).as("n"), max("frame_index").as("mx"))
      .join(docs, $"media_id" === $"doc_id")
    assert(byDoc.filter($"n" =!= expr("CAST((doc_id % 5 + 3) DIV 2 AS BIGINT)"))
      .count() == 0)
    assert(sampled.filter($"n_px" =!=
      (($"media_id" % 10 + 4) * ($"media_id" % 8 + 3)).cast("int"))
      .count() == 0)
  }

  test("WAV encode→decode roundtrips header fields and the exact samples") {
    val samples = Array.tabulate(777)(i => ((i * 131 - 9000) % 32768).toShort)
    val wav = MediaContainers.encodeWav(8000, samples)
    // canonical header layout: RIFF/WAVE magic + 44-byte preamble
    assert(new String(wav, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(wav, 8, 4, "US-ASCII") == "WAVE")
    assert(wav.length == 44 + 2 * samples.length)
    val meta = MediaContainers.decodeWavMeta(wav)
    assert(meta.contains(MediaContainers.WavMeta(1, 8000, 16, 777, 777 * 1000L / 8000)))
    val decoded = MediaContainers.decodeWavSamples(wav)
    assert(decoded.exists(_._2.sameElements(samples)))
    // decoder walks chunks, so junk before data must not break it
    assert(MediaContainers.decodeWavMeta("RIFFxxxxNOPE".getBytes).isEmpty)
    assert(MediaContainers.decodeWavMeta(Array[Byte](1, 2, 3)).isEmpty)
    assert(MediaContainers.decodeWavMeta(wav.take(30)).isEmpty) // truncated data chunk
  }

  test("AVI encode→decode roundtrips header fields and every frame payload") {
    val w = 11; val h = 7 // odd width exercises row padding
    val fsz = MediaContainers.dibFrameSize(w, h)
    assert(fsz == ((3 * 11 + 3) & ~3) * 7)
    val frames = (0 until 5).map(f =>
      Array.tabulate(fsz)(j => ((f * 37 + j * 11) % 251).toByte))
    val avi = MediaContainers.encodeAvi(w, h, 10, frames)
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val meta = MediaContainers.decodeAviMeta(avi)
    assert(meta.contains(MediaContainers.AviMeta(11, 7, 5, 100000, 500L)))
    val got = MediaContainers.decodeAviFrames(avi)
    assert(got.exists(fs => fs.length == 5 &&
      fs.zip(frames).forall { case (a, b) => a.sameElements(b) }))
    assert(MediaContainers.decodeAviMeta(avi.take(40)).isEmpty)
    assert(MediaContainers.decodeAviFrames("RIFF....AVI ".getBytes).isEmpty)
  }

  test("audioMetaTable fields come from the container, not a side channel") {
    val metas = Multimodal.audioMetaTable(Multimodal.audioTable(docs))
    val bad = metas.toDF().join(docs, $"media_id" === $"doc_id")
      .filter($"channels" =!= 1 || $"sample_rate" =!= 8000 ||
        $"bits_per_sample" =!= 16 ||
        $"n_samples" =!= ($"doc_id" % 500 + 100).cast("int"))
      .count()
    assert(bad == 0)
    // spot-check one sample_sum against a driver-side fold over the text
    val (id, text) = docs.orderBy($"doc_id").select($"doc_id", $"text")
      .as[(Long, String)].head()
    val tb = text.getBytes("UTF-8")
    val n = (id % 500).toInt + 100
    val expect = (0 until n).map(i =>
      if (tb.isEmpty) 0L else ((tb(i % tb.length) & 0xFF) - 96L) * 256L).sum
    assert(metas.filter($"media_id" === id).head().sample_sum == expect)
  }

  test("sampleContainerFrames walks real AVI movi chunks at the stride") {
    val frames = Multimodal.sampleContainerFrames(
      Multimodal.videoTable(docs), stride = 2).toDF()
    // only even frame indices; n_bytes = padded DIB size from doc_id
    assert(frames.filter($"frame_index" % 2 =!= 0).count() == 0)
    val rowSize = (($"doc_id" % 16 + 8) * 3 + 3).cast("int").bitwiseAND(lit(-4))
    val bad = frames.join(docs, $"media_id" === $"doc_id")
      .filter($"n_bytes" =!= (rowSize * ($"doc_id" % 12 + 6)).cast("int"))
      .count()
    assert(bad == 0)
    // frame count per doc = ceil((id%6+2) / 2)
    val counts = frames.groupBy("media_id").agg(count(lit(1)).as("n"))
      .join(docs, $"media_id" === $"doc_id")
      .filter($"n" =!= ceil(($"doc_id" % 6 + 2) / lit(2.0)).cast("long"))
    assert(counts.count() == 0)
  }

  test("resizeNearest: floor mapping, identity, and single-pixel clamp") {
    // 4x2 RGB: pixel (x,y) holds value (y*4+x) in all three channels
    val px = Array.tabulate(4 * 2 * 3)(i => (i / 3).toByte)
    // halve: (0,0)<-src(0,0)=0, (1,0)<-src(2,0)=2
    assert(Multimodal.resizeNearest(px, 4, 2, 2, 1).toSeq ==
      Seq(0, 0, 0, 2, 2, 2).map(_.toByte))
    // identity target returns the stream unchanged
    assert(Multimodal.resizeNearest(px, 4, 2, 4, 2).toSeq == px.toSeq)
    // 1x1 target samples the top-left pixel
    assert(Multimodal.resizeNearest(px, 4, 2, 1, 1).toSeq ==
      Seq(0, 0, 0).map(_.toByte))
    // upscale 2x duplicates source pixels (0,0,1,1 per row)
    assert(Multimodal.resizeNearest(px, 4, 2, 8, 1).map(_.toInt).toSeq ==
      Seq(0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 2, 2, 3, 3, 3, 3, 3, 3))
  }

  test("resizeStats halves fixture dims and matches a hand-recomputed sum") {
    val stats = Multimodal.resizeStats(Multimodal.imageTable(docs)).toDF()
    val badDims = stats.join(docs, $"media_id" === $"doc_id")
      .filter($"out_w" =!= greatest(($"doc_id" % 64 + 16).cast("int") / 2, lit(1)).cast("int") ||
        $"out_h" =!= greatest(($"doc_id" % 48 + 12).cast("int") / 2, lit(1)).cast("int"))
    assert(badDims.count() == 0)
    // hand-recompute channel-0 sum for one doc from its text bytes
    val row = docs.orderBy($"doc_id").select($"doc_id", $"text")
      .as[(Long, String)].head()
    val (id, text) = row
    val (w, h) = ((id % 64).toInt + 16, (id % 48).toInt + 12)
    val (w2, h2) = (math.max(1, w / 2), math.max(1, h / 2))
    val tb = text.getBytes("UTF-8")
    val expect = (0 until w2 * h2).map { j =>
      val pos = ((j / w2) * h / h2 * w + (j % w2) * w / w2) * 3
      if (tb.isEmpty) 0L else (tb(pos % tb.length) & 0xFF).toLong
    }.sum
    assert(stats.filter($"media_id" === id).head().getAs[Long]("c0_sum") == expect)
  }

  test("average hash: bits follow the integer mean compare on a synthetic grid") {
    // image 1: cells 0,3 bright (lum 100 over 1 px), 1,2 dark (lum 0) —
    // global mean 50 → bits {0,3} → hash 2^0 + 2^3 = 9
    val grid = Seq(
      (1L, 0, 1L, 100L), (1L, 1, 1L, 0L), (1L, 2, 1L, 0L), (1L, 3, 1L, 100L),
      // image 2: uniform — no cell strictly exceeds the mean → hash 0
      (2L, 0, 1L, 50L), (2L, 1, 1L, 50L), (2L, 2, 1L, 50L), (2L, 3, 1L, 50L),
      // failed decode sentinel must drop out
      (3L, -1, 0L, 0L))
      .toDF("media_id", "cell", "n_px", "lum_sum")
    val h = Multimodal.averageHash(grid).as[(Long, Long)].collect().toMap
    assert(h == Map(1L -> 9L, 2L -> 0L), s"unexpected hashes: $h")
  }

  test("ahash near-dup counts: pigeonhole bands find ≤maxDist pairs, no more") {
    val hashes = Seq(
      (1L, 0x00FFL), (2L, 0x00FEL), // distance 1 → partners
      (3L, 0x00FCL),                // distance 2 from id 1, 1 from id 2
      (4L, 0xFF00L))                // far from everything
      .toDF("media_id", "ahash")
    val got = Multimodal.ahashNearDupCounts(hashes, maxDist = 1)
      .select($"media_id", $"n_neardups").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L), got.toString)
  }

  test("jpeg: constant blocks round-trip integer-exactly through the DC path") {
    import graft.multimodal.JpegCodec
    // 4×2 blocks, values covering clamp-high (255), ties (odd values), 0
    val vals = Array(0, 37, 127, 128, 200, 255, 64, 99)
    val (w, h) = (32, 16)
    val enc = JpegCodec.encodeGray(w, h,
      (x, y) => vals((y / 8) * 4 + (x / 8)), quality = 50)
    val (dw, dh, nc, px) = JpegCodec.decodePixels(enc).get
    assert((dw, dh, nc) == ((w, h, 1)))
    // the closed-form DC round-trip at quality 50 (q00 = 16):
    // r = round_half_away((v−128)/2); pixel = clamp(2r + 128)
    def expect(v: Int): Int = {
      val r = java.math.BigDecimal.valueOf((v - 128) / 2.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).intValueExact()
      math.min(255, math.max(0, 2 * r + 128))
    }
    for (y <- 0 until h; x <- 0 until w) {
      val want = expect(vals((y / 8) * 4 + (x / 8)))
      assert((px(y * w + x) & 0xFF) == want, s"($x,$y)")
    }
  }

  test("jpeg: gradient gray round-trips within codec error bounds and " +
    "matches the PLATFORM decoder; odd dims edge-replicate correctly") {
    import graft.multimodal.JpegCodec
    val (w, h) = (37, 21) // forces edge replication on both axes
    def pix(x: Int, y: Int): Int = (x * 5 + y * 7) % 256
    val enc = JpegCodec.encodeGray(w, h, pix, quality = 90)
    val (dw, dh, nc, px) = JpegCodec.decodePixels(enc).get
    assert((dw, dh, nc) == ((w, h, 1)))
    val maxErr = (for (y <- 0 until h; x <- 0 until w)
      yield math.abs((px(y * w + x) & 0xFF) - pix(x, y))).max
    assert(maxErr <= 24, s"round-trip error too high: $maxErr")
    // independent reference: the JDK's libjpeg-based ImageIO reader must
    // agree with our decoder on OUR bitstream (different IDCTs → ±2)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc))
    assert(img.getWidth == w && img.getHeight == h)
    val iioErr = (for (y <- 0 until h; x <- 0 until w) yield {
      val ref = img.getRaster.getSample(x, y, 0)
      math.abs((px(y * w + x) & 0xFF) - ref)
    }).max
    assert(iioErr <= 2, s"platform-decoder disagreement: $iioErr")
  }

  test("jpeg: 4:4:4 color round-trips and the platform decoder agrees") {
    import graft.multimodal.JpegCodec
    val (w, h) = (24, 16)
    def rgb(x: Int, y: Int): (Int, Int, Int) =
      ((x * 11) % 256, (y * 13) % 256, (x * 3 + y * 5) % 256)
    val enc = JpegCodec.encodeRgb(w, h, rgb, quality = 90)
    val (dw, dh, nc, px) = JpegCodec.decodePixels(enc).get
    assert((dw, dh, nc) == ((w, h, 3)))
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc))
    val iioErr = (for (y <- 0 until h; x <- 0 until w) yield {
      val argb = img.getRGB(x, y)
      val refs = Seq((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF)
      (0 until 3).map(c =>
        math.abs((px((y * w + x) * 3 + c) & 0xFF) - refs(c))).max
    }).max
    // YCbCr→RGB conversions differ slightly across decoders (integer vs
    // float paths) — a small fixed tolerance is the honest contract
    assert(iioErr <= 4, s"platform-decoder disagreement: $iioErr")
    val rtErr = (for (y <- 0 until h; x <- 0 until w) yield {
      val (r, g, b) = rgb(x, y)
      Seq(math.abs((px((y * w + x) * 3) & 0xFF) - r),
        math.abs((px((y * w + x) * 3 + 1) & 0xFF) - g),
        math.abs((px((y * w + x) * 3 + 2) & 0xFF) - b)).max
    }).max
    assert(rtErr <= 48, s"color round-trip error too high: $rtErr")
  }

  test("jpeg 4:2:0: chroma-constant streams agree with the platform " +
    "decoder; varying chroma round-trips within subsampling bounds") {
    import graft.multimodal.JpegCodec
    // r=g=b gradient ⇒ Cb=Cr=128 everywhere: the chroma planes quantize
    // to exact DC-only 128 blocks, so the UPSAMPLING FILTER is irrelevant
    // and our box replicate must agree with libjpeg's fancy upsample
    val (w, h) = (35, 19) // odd dims: chroma plane edge-replicates
    def gray(x: Int, y: Int): (Int, Int, Int) = {
      val v = (x * 6 + y * 9) % 256; (v, v, v)
    }
    val enc = JpegCodec.encodeRgb420(w, h, gray, quality = 90)
    assert(JpegCodec.decodeMeta(enc).contains(JpegCodec.JpegMeta(w, h, 3)))
    val (dw, dh, nc, px) = JpegCodec.decodePixels(enc).get
    assert((dw, dh, nc) == ((w, h, 3)))
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc))
    assert(img.getWidth == w && img.getHeight == h)
    val iioErr = (for (y <- 0 until h; x <- 0 until w) yield {
      val argb = img.getRGB(x, y)
      val refs = Seq((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF)
      (0 until 3).map(c =>
        math.abs((px((y * w + x) * 3 + c) & 0xFF) - refs(c))).max
    }).max
    assert(iioErr <= 4, s"platform-decoder disagreement: $iioErr")
    // genuinely varying chroma: subsampling discards detail by design —
    // the contract is a BOUNDED round-trip error, tight on average
    val (w2, h2) = (24, 16)
    def colorful(x: Int, y: Int): (Int, Int, Int) =
      ((x * 7) % 256, (y * 11) % 256, (x * 3 + y * 5) % 256)
    val enc2 = JpegCodec.encodeRgb420(w2, h2, colorful, quality = 90)
    val (_, _, _, px2) = JpegCodec.decodePixels(enc2).get
    val errs = for (y <- 0 until h2; x <- 0 until w2; c <- 0 until 3) yield {
      val want = c match {
        case 0 => colorful(x, y)._1
        case 1 => colorful(x, y)._2
        case _ => colorful(x, y)._3
      }
      math.abs((px2((y * w2 + x) * 3 + c) & 0xFF) - want)
    }
    assert(errs.max <= 64, s"4:2:0 worst-pixel error: ${errs.max}")
    assert(errs.sum.toDouble / errs.size <= 12.0,
      s"4:2:0 mean error: ${errs.sum.toDouble / errs.size}")
  }

  test("jpeg meta: dims and components parse; non-baseline and junk reject") {
    import graft.multimodal.JpegCodec
    val g = JpegCodec.encodeGray(19, 7, (x, y) => x + y, quality = 75)
    assert(JpegCodec.decodeMeta(g).contains(JpegCodec.JpegMeta(19, 7, 1)))
    val c = JpegCodec.encodeRgb(8, 8, (_, _) => (1, 2, 3))
    assert(JpegCodec.decodeMeta(c).contains(JpegCodec.JpegMeta(8, 8, 3)))
    assert(JpegCodec.decodeMeta(Array[Byte](1, 2, 3, 4)).isEmpty)
    // flip SOF0 to SOF2 (progressive): an honest decoder REJECTS rather
    // than mis-reads
    val prog = g.clone()
    val sofAt = prog.indices.find(i =>
      (prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xC0).get
    prog(sofAt + 1) = 0xC2.toByte
    assert(JpegCodec.decodeMeta(prog).isEmpty)
    assert(JpegCodec.decodePixels(prog).isEmpty)
  }

  test("audioFrameFeatures: exact energy/zcr/peak on a hand-computed grid, " +
    "trailing partial frames included, 0-sample counts as positive") {
    // 10 samples, frameLen=4, hop=3 → frame starts 0,3,6,9 (last is len 1)
    val samples = Array[Short](100, -200, 0, -300, 400, 0, -1, 2, -2, 5)
    val wav = MediaContainers.encodeWav(8000, samples)
    val media = Seq(
      Multimodal.MediaRecord(7L, "audio", wav, "wav", 0, 0, 1L)).toDS()
    val got = Multimodal.audioFrameFeatures(media, frameLen = 4, hop = 3)
      .collect().sortBy(_.frame_index)
      .map(f => (f.frame_index, f.n_samples, f.energy, f.zero_crossings, f.peak))
    assert(got.toSeq == Seq(
      // [100,-200,0,-300]: 0 is "positive" so −200→0 and 0→−300 both flip
      (0, 4, 140000L, 3, 300),
      (1, 4, 250001L, 2, 400), // [-300,400,0,-1]: 400→0 is not a crossing
      (2, 4, 34L, 3, 5),       // [-1,2,-2,5]
      (3, 1, 25L, 0, 5)),      // trailing 1-sample frame: no pairs → zcr 0
      got.mkString(", "))
    // non-WAV payloads contribute no frames (decoder gate, not an error)
    val junk = Seq(
      Multimodal.MediaRecord(8L, "audio", Array[Byte](1, 2, 3), "wav", 0, 0, 0L)).toDS()
    assert(Multimodal.audioFrameFeatures(junk).count() == 0)
  }

  test("whtSpectrum: butterfly equals the popcount closed form, zero-pads " +
    "the tail block, and satisfies Parseval (ΣW² = block·Σs²)") {
    val samples = Array.tabulate(40)(i => ((i * 997 - 11000) % 20000).toShort)
    val wav = MediaContainers.encodeWav(8000, samples)
    val media = Seq(
      Multimodal.MediaRecord(3L, "audio", wav, "wav", 0, 0, 1L)).toDS()
    val bands = Multimodal.whtSpectrum(media).collect()
    assert(bands.length == 2 * 8) // 40 samples → 2 blocks of 32, 8 bands each
    // closed form: W(k) = Σ_j s(32b+j)·(−1)^popcount(j&k), pad s=0 past n
    def s(i: Int): Long = if (i < 40) samples(i).toLong else 0L
    def w(b: Int, k: Int): Long = (0 until 32).map(j =>
      s(32 * b + j) * (if (java.lang.Integer.bitCount(j & k) % 2 == 1) -1 else 1)).sum
    for (band <- bands) {
      val expect = (band.band * 4 until band.band * 4 + 4)
        .map(k => { val c = w(band.block_index, k); c * c }).sum
      assert(band.energy == expect, s"block ${band.block_index} band ${band.band}")
    }
    // Parseval per block: unnormalized Hadamard gives ΣW² = 32·Σs²
    for (b <- 0 to 1) {
      val lhs = bands.filter(_.block_index == b).map(_.energy).sum
      val rhs = 32L * (0 until 32).map(j => s(32 * b + j) * s(32 * b + j)).sum
      assert(lhs == rhs, s"Parseval block $b")
    }
  }

  test("grayHistogram: flat image fills one bucket; an exact half/half " +
    "two-tone splits 50/50 (entropy ln 2 downstream)") {
    val flat = Seq(Multimodal.MediaRecord(1L, "image",
      ImageCodec.encodeBmp(6, 4, _ => 50.toByte), "bmp", 6, 4, 0L)).toDS()
    val hf = Multimodal.grayHistogram(flat).collect()
    assert(hf.length == 1 && hf.head.n_px == 24)
    assert(hf.head.bucket == 150 * 8 / 766)
    // rows of 10s and rows of 90s: pixel p's row decides its tone
    val twoTone = Seq(Multimodal.MediaRecord(2L, "image",
      ImageCodec.encodeBmp(6, 4,
        i => if ((i / 3 / 6) % 2 == 0) 10.toByte else 90.toByte),
      "bmp", 6, 4, 0L)).toDS()
    val ht = Multimodal.grayHistogram(twoTone).collect().sortBy(_.bucket)
    assert(ht.length == 2 && ht.forall(_.n_px == 12), ht.mkString(", "))
  }

  test("gradientEnergy: flat image scores 0, a vertical step edge puts all " +
    "energy in gx, hand fold matches on a textured fixture") {
    def bmp(w: Int, h: Int, pix: Int => Byte) =
      ImageCodec.encodeBmp(w, h, pix)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", bmp(6, 5, _ => 77.toByte),
        "bmp", 6, 5, 0L),
      // left half dark, right half bright: gray jumps across x = 2|3
      Multimodal.MediaRecord(2L, "image",
        bmp(6, 5, i => if ((i / 3) % 6 < 3) 10.toByte else 90.toByte),
        "bmp", 6, 5, 0L),
      Multimodal.MediaRecord(3L, "image",
        bmp(4, 4, i => ((i * 37) % 101).toByte), "bmp", 4, 4, 0L))
      .toDS()
    val g = Multimodal.gradientEnergy(media).collect()
      .map(e => e.media_id -> e).toMap
    assert((g(1L).gx_energy, g(1L).gy_energy) == (0L, 0L))
    assert(g(2L).gx_energy > 0 && g(2L).gy_energy == 0L, g(2L).toString)
    // hand fold on the textured 4×4
    val px = Array.tabulate(4 * 4 * 3)(i => ((i * 37) % 101).toByte)
    def gray(x: Int, y: Int) = (0 until 3).map(c =>
      px((y * 4 + x) * 3 + c) & 0xFF).sum
    val wantGx = (for (y <- 0 until 4; x <- 1 to 2)
      yield math.abs(gray(x + 1, y) - gray(x - 1, y)).toLong).sum
    val wantGy = (for (x <- 0 until 4; y <- 1 to 2)
      yield math.abs(gray(x, y + 1) - gray(x, y - 1)).toLong).sum
    assert((g(3L).gx_energy, g(3L).gy_energy) == (wantGx, wantGy))
  }

  test("shotBoundaries: cut fires only across the planted discontinuity; " +
    "audioDecimate matches a hand fold of the [1,2,1] FIR") {
    // 4 frames: two dark, two bright → one cut at transition index 2
    val fsz = MediaContainers.dibFrameSize(4, 3)
    val frames = Seq(
      Array.fill(fsz)(10.toByte), Array.fill(fsz)(11.toByte),
      Array.fill(fsz)(90.toByte), Array.fill(fsz)(91.toByte))
    val avi = MediaContainers.encodeAvi(4, 3, 10, frames)
    val vids = Seq(Multimodal.MediaRecord(5L, "video", avi, "avi", 4, 3, 1L)).toDS()
    val cuts = Multimodal.shotBoundaries(vids).collect().sortBy(_.frame_index)
      .map(b => (b.frame_index, b.delta, b.is_cut))
    assert(cuts.toSeq == Seq(
      (1, fsz.toLong, false), (2, 79L * fsz, true), (3, fsz.toLong, false)),
      cuts.mkString(", "))
    // decimation: hand fold over 9 samples → centers i = 1..3
    val s = Array[Short](4, -8, 12, 0, -6, 10, 2, -4, 6)
    val wav = MediaContainers.encodeWav(8000, s)
    val aud = Seq(Multimodal.MediaRecord(6L, "audio", wav, "wav", 0, 0, 1L)).toDS()
    val got = Multimodal.audioDecimate(aud).collect().head
    val ys = (1 to 3).map(i => s(2 * i - 1) + 2L * s(2 * i) + s(2 * i + 1))
    assert((got.n_in, got.n_out, got.y_sum, got.y_abs_sum, got.y_peak) ==
      (9, 3, ys.sum, ys.map(math.abs).sum, ys.map(math.abs).max),
      got.toString)
  }

  test("differenceHash: bit layout matches a hand fold and the hash is " +
    "invariant to uniform brightness shifts") {
    // cell (r,c) average = r*4+c (strictly increasing left-to-right and
    // top-to-bottom) → every horizontal and vertical bit fires
    val grid = (0 until 16).map(c => (1L, c, 10L, (c * 10).toLong))
      .toDF("media_id", "cell", "n_px", "lum_sum")
    val all = Multimodal.differenceHash(grid).as[(Long, Long)].collect().head._2
    assert(all == (1L << 24) - 1, s"got $all") // 12 horiz + 12 vert bits
    // uniform shift: lum_sum += k·n_px leaves every gradient comparison
    val shifted = (0 until 16).map(c => (1L, c, 10L, (c * 10 + 7 * 10).toLong))
      .toDF("media_id", "cell", "n_px", "lum_sum")
    assert(Multimodal.differenceHash(shifted)
      .as[(Long, Long)].collect().head._2 == all)
    // hand fold on a mixed grid with uneven cell sizes (cross-multiply
    // correctness): avg = lum/n, bit fires iff left avg < right avg
    val lums = Array(5L, 3L, 9L, 9L, 1L, 8L, 2L, 6L, 7L, 7L, 0L, 4L,
      2L, 9L, 5L, 5L)
    val ns = Array(1L, 2L, 3L, 1L, 2L, 1L, 2L, 3L, 1L, 2L, 1L, 2L,
      3L, 1L, 2L, 1L)
    val mixed = (0 until 16).map(c => (9L, c, ns(c), lums(c) * ns(c)))
      .toDF("media_id", "cell", "n_px", "lum_sum")
    // direct recompute with the cross-multiplied integer rule
    // (lum_sum = avg·n, so lum_l·n_r < lum_r·n_l ⟺ avg_l·n_l·n_r < avg_r·n_r·n_l)
    var want = 0L
    for (r <- 0 until 4; c <- 0 until 3) {
      val i = r * 4 + c
      if (lums(i) * ns(i) * ns(i + 1) < lums(i + 1) * ns(i + 1) * ns(i))
        want |= 1L << (r * 3 + c)
    }
    for (i <- 0 until 12)
      if (lums(i) * ns(i) * ns(i + 4) < lums(i + 4) * ns(i + 4) * ns(i))
        want |= 1L << (12 + i)
    val got = Multimodal.differenceHash(mixed).as[(Long, Long)]
      .collect().head._2
    assert(got == want, s"$got vs $want")
  }

  test("audioFingerprint: identical clips collide, a lightly perturbed clip " +
    "stays within the Hamming budget, junk decodes to no row") {
    def wav(perturb: Int): Array[Byte] = {
      val s = Array.tabulate(320)(i => (((i * 131) % 200 - 100) * 64).toShort)
      if (perturb >= 0) s(perturb) = (s(perturb) + 20000).toShort
      MediaContainers.encodeWav(8000, s)
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", wav(-1), "wav", 0, 0, 1L),
      Multimodal.MediaRecord(2L, "audio", wav(-1), "wav", 0, 0, 1L), // exact dup
      Multimodal.MediaRecord(3L, "audio", wav(40), "wav", 0, 0, 1L), // 1 sample off
      Multimodal.MediaRecord(4L, "audio", Array[Byte](9, 9), "wav", 0, 0, 1L))
      .toDS()
    val fps = Multimodal.audioFingerprint(media)
      .as[(Long, Long)].collect().toMap
    assert(fps.keySet == Set(1L, 2L, 3L), "junk row must vanish")
    assert(fps(1L) == fps(2L))
    assert(fps.values.forall(_ >= 0), "63-bit fingerprints are non-negative")
    // one perturbed sample touches one block's energies, which feed the
    // delta bits at that block AND the next → at most 2·7 = 14 bits flip
    val d13 = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    assert(d13 >= 1 && d13 <= 14, s"distance 1↔3 = $d13")
    val pairs = Multimodal.audioNearDupPairs(media, maxDist = 14)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)), pairs.toString)
  }

  test("average hash is exact at grid=8 (64 bits): the sign bit sets " +
    "cleanly and the banded pair join still matches on high bands") {
    // one bright cell at index 63 (the sign bit) over an otherwise-dark
    // image: the old power(2,cell) double cast saturated here; shiftleft
    // must give exactly Long.MinValue (bit 63 alone)
    val grid = (0 until 64).map(c =>
      (1L, c, 1L, if (c == 63) 100L else 0L))
      .toDF("media_id", "cell", "n_px", "lum_sum")
    val h = Multimodal.averageHash(grid).as[(Long, Long)].collect().toMap
    assert(h == Map(1L -> Long.MinValue), s"bit-63 hash: $h")
    // negative hashes through the banded join: ids 1/2 differ only in bit
    // 0 (distance 1, both negative); id 3 is distance 2 away. Arithmetic
    // band extraction would sign-extend the high bands into garbage.
    val hashes = Seq(
      (1L, Long.MinValue | 0x01L), (2L, Long.MinValue),
      (3L, Long.MinValue | 0x03L))
      .toDF("media_id", "ahash")
    val pairs = Multimodal.ahashNearDupPairs(hashes, maxDist = 1)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L)), pairs.toString)
  }

  // sequential mirror of dctHash: same Q8 quantization, same Q10 basis,
  // same strict-median bit rule — an independent single-threaded derivation
  private def seqDctHash(cells: Map[Int, (Long, Long)], g: Int): Long = {
    val ct = Multimodal.dctTable(g)
      .map { case (u, x, w) => ((u, x), w) }.toMap
    val q = Array.tabulate(g, g) { (cy, cx) =>
      val (npx, lum) = cells(cy * g + cx); lum * 256 / npx
    }
    val f = Array.tabulate(g, g) { (u, v) =>
      (0 until g).map(cy => ct((v, cy)) *
        (0 until g).map(cx => ct((u, cx)) * q(cy)(cx)).sum).sum
    }
    val ac = for { u <- 0 until g; v <- 0 until g; if u != 0 || v != 0 }
      yield (u * g + v, f(u)(v))
    val med = ac.map(_._2).sorted.apply((g * g) / 2 - 1)
    ac.collect { case (pos, c) if c > med => 1L << (pos - 1) }.sum
  }

  test("dctHash: constant image hashes to 0; pseudo-random grids match " +
      "the sequential DCT mirror exactly") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    // image 0: constant luminance (every AC coefficient is exactly 0);
    // images 1-4: pseudo-random cell sums with uneven pixel counts
    val rows = (for {
      img <- 0 until 5
      cell <- 0 until 64
    } yield {
      val npx = 1L + Math.floorMod(lcg(img * 64L + cell).drop(1).next(), 9L)
      val lum = if (img == 0) npx * 300L
        else Math.floorMod(lcg(img * 64L + cell).drop(2).next(), 765L * npx)
      (img.toLong, cell, npx, lum)
    }).toDF("media_id", "cell", "n_px", "lum_sum")
    val got = Multimodal.dctHash(rows).as[(Long, Long)].collect().toMap
    val want = (0 until 5).map { img =>
      val cells = (0 until 64).map { cell =>
        val npx = 1L + Math.floorMod(lcg(img * 64L + cell).drop(1).next(), 9L)
        val lum = if (img == 0) npx * 300L
          else Math.floorMod(lcg(img * 64L + cell).drop(2).next(), 765L * npx)
        (cell, (npx, lum))
      }.toMap
      (img.toLong, seqDctHash(cells, 8))
    }.toMap
    assert(got(0L) == 0L, "constant image must hash to 0")
    assert(got === want)
  }

  test("mp3: header bit-fields, junk-prefix sync scan, padding-aware CBR " +
    "walk, truncated tail frame excluded, non-MPEG1 rejected") {
    import graft.multimodal.MediaContainers
    // 2 frames, 128 kbps / 44100, 3 junk bytes
    val b = MediaContainers.encodeMp3Cbr(9, 0, 2, 3, "abc".getBytes)
    val m = MediaContainers.parseMp3Meta(b).get
    assert(m.headerOffset == 3)
    assert(m.bitrateKbps == 128 && m.sampleRate == 44100)
    assert(m.channelMode == 0 && m.frameBytes == 144000 * 128 / 44100)
    assert(m.nFrames == 2)
    assert(m.durationMs == 2L * 1152 * 1000 / 44100)
    // truncated tail: drop the last byte — the walk must not count frame 2
    val trunc = b.dropRight(1)
    assert(MediaContainers.parseMp3Meta(trunc).get.nFrames == 1)
    // padding bit extends one frame by one byte; the walk follows it
    val f1 = 144000 * 128 / 44100
    val padded = b.clone()
    padded(3 + 2) = (padded(3 + 2) | 0x02).toByte // set padding on frame 1
    val grown = padded.take(3 + f1) ++ Array(0x55.toByte) ++ padded.drop(3 + f1)
    assert(MediaContainers.parseMp3Meta(grown).get.nFrames == 2)
    // 192 kbps / 48000: exact table + frame-size law
    val b2 = MediaContainers.encodeMp3Cbr(11, 1, 5, 0, Array.empty[Byte])
    val m2 = MediaContainers.parseMp3Meta(b2).get
    assert(m2.bitrateKbps == 192 && m2.sampleRate == 48000 &&
      m2.nFrames == 5 && m2.frameBytes == 576)
    // MPEG-2 (version bits 10) first header is a FALSE sync: the scan
    // resumes past it and locks onto the valid MPEG-1 frame that follows
    // (the APE-tag/corrupted-leader shape real crawls carry)
    val v2 = b.clone(); v2(3 + 1) = 0xF3.toByte
    val r = MediaContainers.parseMp3Meta(v2).get
    assert(r.headerOffset == 3 + f1 && r.nFrames == 1)
    // junk bytes containing raw 0xFF Ex candidates before the stream are
    // scanned past too
    val junked = Array(0x00.toByte, 0xFF.toByte, 0xE8.toByte) ++
      MediaContainers.encodeMp3Cbr(9, 0, 2, 0, "abc".getBytes)
    assert(MediaContainers.parseMp3Meta(junked).get.headerOffset == 3)
    // no valid MPEG-1 Layer III header anywhere: None
    val v2all = b.clone(); v2all(3 + 1) = 0xF3.toByte
    v2all(3 + f1 + 1) = 0xF3.toByte
    assert(MediaContainers.parseMp3Meta(v2all).isEmpty)
    assert(MediaContainers.parseMp3Meta(Array.fill(64)(0x00.toByte)).isEmpty)
  }

  test("mp4: box walk parses mvhd/tkhd, skips unknown boxes, honors " +
    "largesize framing, rejects truncation and non-v0 layouts") {
    import graft.multimodal.MediaContainers
    val b = MediaContainers.encodeMp4(1000, 4500L, 2, 640, 480,
      "payload".getBytes, audioRate = 44100)
    val m = MediaContainers.parseMp4Meta(b).get
    assert(m.timescale == 1000 && m.durationUnits == 4500L)
    assert(m.durationMs == 4500L && m.nTracks == 2)
    assert(m.width == 640 && m.height == 480)
    // track classification via mdia/hdlr, audio rate via mdia/mdhd
    assert(m.nVideoTracks == 1 && m.nAudioTracks == 1)
    assert(m.audioSampleRate == 44100)
    // 90 kHz timescale: ms division law; video-only file has no audio
    val m2 = MediaContainers.parseMp4Meta(
      MediaContainers.encodeMp4(90000, 123456L, 1, 160, 120,
        Array.empty[Byte])).get
    assert(m2.durationMs == 123456L * 1000 / 90000 && m2.nTracks == 1)
    assert(m2.nVideoTracks == 1 && m2.nAudioTracks == 0 &&
      m2.audioSampleRate == 0)
    // an extra unknown top-level box before moov is walked over
    val junkBox = {
      val sz = 12
      Array[Byte](0, 0, 0, sz.toByte) ++ "wide".getBytes ++
        Array[Byte](1, 2, 3, 4)
    }
    val withJunk = b.take(24) ++ junkBox ++ b.drop(24) // after ftyp
    assert(MediaContainers.parseMp4Meta(withJunk).get == m)
    // size=1 largesize framing on the leading ftyp still frames correctly
    val ftypLen = 24
    val large = Array[Byte](0, 0, 0, 1) ++ b.slice(4, 8) ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, (ftypLen + 8).toByte) ++
      b.slice(8, ftypLen) ++ b.drop(ftypLen)
    assert(MediaContainers.parseMp4Meta(large).get == m)
    // truncated mid-moov: malformed framing must return None
    val moovAt = {
      var i = 0; var at = -1
      while (at < 0) {
        val sz = ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
          ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
        if (new String(b, i + 4, 4, "US-ASCII") == "moov") at = i
        else i += sz
      }
      at
    }
    assert(MediaContainers.parseMp4Meta(b.take(moovAt + 20)).isEmpty)
    // mvhd version 1 (64-bit fields) is a different layout: reject, not
    // misparse
    val v1 = b.clone(); v1(moovAt + 16) = 1
    assert(MediaContainers.parseMp4Meta(v1).isEmpty)
  }

  test("mp4: short-but-well-framed boxes return None (no out-of-bounds " +
    "read); tkhd v1 geometry parses at its shifted offsets") {
    import graft.multimodal.MediaContainers
    def box(fourcc: String, payload: Array[Byte]): Array[Byte] = {
      val sz = payload.length + 8
      Array[Byte](((sz >> 24) & 0xFF).toByte, ((sz >> 16) & 0xFF).toByte,
        ((sz >> 8) & 0xFF).toByte, (sz & 0xFF).toByte) ++
        fourcc.getBytes("US-ASCII") ++ payload
    }
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    // a full well-formed file to splice malformed boxes into
    val good = MediaContainers.encodeMp4(1000, 4500L, 1, 640, 480,
      Array.empty[Byte])
    assert(MediaContainers.parseMp4Meta(good).get.width == 640)
    // mvhd framed with only 8 payload bytes: v0 needs ≥ 20 → None, not AIOOBE
    val shortMvhd = box("moov", box("mvhd", new Array[Byte](8)))
    assert(MediaContainers.parseMp4Meta(shortMvhd).isEmpty)
    // tkhd framed with size 16 (8 payload bytes): geometry read would run
    // past the box → None, not a wrong read
    val shortTkhd = {
      val mvhd = box("mvhd",
        be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(4500))
      box("moov", mvhd ++ box("trak", box("tkhd", new Array[Byte](8))))
    }
    assert(MediaContainers.parseMp4Meta(shortTkhd).isEmpty)
    // tkhd version 1: creation/modification/duration are 64-bit, so the
    // 16.16 geometry sits 12 bytes later — parsed, not misread
    val v1Tkhd = {
      val mvhd = box("mvhd",
        be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(4500))
      val p = new java.io.ByteArrayOutputStream()
      p.write(Array[Byte](1, 0, 0, 7)) // version 1 + flags
      p.write(new Array[Byte](16)) // creation, modification (64-bit each)
      p.write(be32(1)); p.write(be32(0)) // track_ID, reserved
      p.write(new Array[Byte](8)) // duration (64-bit)
      p.write(new Array[Byte](16)) // reserved, layer..volume+reserved
      Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
        .foreach(v => p.write(be32(v)))
      p.write(be32(320L << 16)); p.write(be32(240L << 16))
      box("moov", mvhd ++ box("trak", box("tkhd", p.toByteArray)))
    }
    val m1 = MediaContainers.parseMp4Meta(v1Tkhd).get
    assert(m1.width == 320 && m1.height == 240 && m1.nTracks == 1)
    // tkhd version ≥ 2 doesn't exist in ISO 14496-12: reject
    val v2Tkhd = {
      val mvhd = box("mvhd",
        be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(4500))
      val payload = new Array[Byte](96); payload(0) = 2
      box("moov", mvhd ++ box("trak", box("tkhd", payload)))
    }
    assert(MediaContainers.parseMp4Meta(v2Tkhd).isEmpty)
  }

  test("mp3 vbr + id3v2: tag skipped by syncsafe size despite all-0xFF " +
    "body, per-frame bitrate walk tracks min/max, cbr keeps vbr=false") {
    import graft.multimodal.MediaContainers
    // 4 frames cycling 128/160/192/128 at 48 kHz behind a 33-byte tag of
    // 0xFF bytes (every tag byte is a false sync candidate)
    val b = MediaContainers.encodeMp3Vbr(1, Seq(9, 10, 11, 9), 33,
      "xyz".getBytes)
    val m = MediaContainers.parseMp3Meta(b).get
    assert(m.headerOffset == 43, m.toString) // 10-byte header + 33 junk
    assert(m.nFrames == 4 && m.sampleRate == 48000)
    assert(m.minKbps == 128 && m.maxKbps == 192 && m.vbr)
    assert(m.bitrateKbps == 128) // first frame's nominal rate
    assert(m.durationMs == 4L * 1152 * 1000 / 48000)
    // the old CBR path keeps vbr=false and min==max
    val c = MediaContainers.parseMp3Meta(
      MediaContainers.encodeMp3Cbr(10, 0, 3, 0, Array.empty[Byte])).get
    assert(!c.vbr && c.minKbps == 160 && c.maxKbps == 160)
    // syncsafe size uses 7-bit bytes: 200-byte tag encodes as (1, 72)
    val big = MediaContainers.encodeMp3Vbr(0, Seq(9, 9, 9), 200,
      Array.empty[Byte])
    assert(MediaContainers.parseMp3Meta(big).get.headerOffset == 210)
  }
}
