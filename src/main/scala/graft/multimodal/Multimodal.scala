package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media (image/audio/video) as opaque `binary`
  * columns with typed metadata, processed by per-partition batch operators.
  *
  * The Spark-side shape is real and tested — schema, partition-batch
  * processing, deterministic output layout. The IMAGE path is real
  * end-to-end: [[imageTable]] emits genuine BMP/PNG payloads and
  * [[decodeMetaTable]] parses format/dimensions back out of the file
  * headers via [[ImageCodec]] (pure JVM, no libraries). The AUDIO and
  * VIDEO container paths are real too: [[audioTable]]/[[videoTable]] emit
  * genuine WAV (PCM16) and AVI (uncompressed DIB) files and
  * [[audioMetaTable]]/[[sampleContainerFrames]] parse metadata, samples,
  * and frames back out of the RIFF chunks via [[MediaContainers]].
  *
  * Scale posture: `mapPartitions` over a `Dataset[MediaRecord]` processes
  * records in partition-sized batches (the decoder amortizes init per
  * partition, like a Pandas-UDF batch); media bytes never shuffle — derived
  * features (small fixed-width vectors) do.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(
      media_id: Long,
      kind: String, // image | audio | video
      bytes: Array[Byte],
      format: String,
      width: Int,
      height: Int,
      duration_ms: Long)

  case class GifFrame(
      media_id: Long,
      frame_index: Int,
      n_px: Int,
      pix_sum: Long)

  /** Wrap a text/binary table into the media schema (for testdata, document
    * text bytes stand in for an encoded image payload).
    */
  def fromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      lit("image").as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      lit("fake/raw").as("format"),
      (pmod(col("doc_id"), lit(640L)).cast("int") + 64).as("width"),
      (pmod(col("doc_id"), lit(480L)).cast("int") + 48).as("height"),
      lit(0L).as("duration_ms")).as[MediaRecord]
  }

  /** Decoded header metadata — every field parsed from the payload bytes. */
  case class DecodedMeta(
      media_id: Long,
      format: String,
      width: Int,
      height: Int)

  /** REAL image payloads: each document becomes a genuine BMP (even ids) or
    * PNG (odd ids) whose pixel bytes derive from the text. Unlike
    * [[fromDocuments]] (opaque stand-in bytes), these payloads round-trip
    * through [[ImageCodec]]: the decode path below parses its metadata from
    * the file headers, not from side-channel columns.
    */
  def imageTable(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val w = (id % 64).toInt + 16
          val h = (id % 48).toInt + 12
          val tb = Option(text).getOrElse("").getBytes("UTF-8")
          val pix: Int => Byte = i => if (tb.isEmpty) 0 else tb(i % tb.length)
          val fmt = if (id % 2 == 0) "bmp" else "png"
          val bytes = if (id % 2 == 0) ImageCodec.encodeBmp(w, h, pix)
            else ImageCodec.encodePng(w, h, pix)
          MediaRecord(id, "image", bytes, fmt, w, h, 0L)
        }
      }
  }

  /** Header decode: format and dimensions parsed from the payload bytes by
    * [[ImageCodec.decodeMeta]] — the honest decode stage (per-partition
    * batch shape, bytes never shuffle). Unrecognized payloads surface as
    * ("unknown", -1, -1) rather than dropping rows.
    */
  def decodeMetaTable(media: Dataset[MediaRecord]): Dataset[DecodedMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        ImageCodec.decodeMeta(r.bytes) match {
          case Some(m) => DecodedMeta(r.media_id, m.format, m.width, m.height)
          case None => DecodedMeta(r.media_id, "unknown", -1, -1)
        }
      }
    }
  }

  /** Per-image statistics computed from GENUINELY DECODED pixels — BMP rows
    * de-padded, PNG inflated and de-filtered by [[ImageCodec.decodePixels]].
    * Exact integer channel sums, so the oracle can recompute them from the
    * source bytes and a hash match proves the decoder reconstructed the
    * pixel stream bit-for-bit. Undecodable payloads surface as (-1, -1, 0…).
    */
  case class PixelStats(
      media_id: Long,
      width: Int,
      height: Int,
      n_pixels: Long,
      c0_sum: Long,
      c1_sum: Long,
      c2_sum: Long)

  def pixelStats(media: Dataset[MediaRecord]): Dataset[PixelStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        ImageCodec.decodePixels(r.bytes) match {
          case Some((w, h, px)) =>
            val sums = new Array[Long](3)
            var i = 0
            while (i < px.length) { sums(i % 3) += px(i) & 0xFF; i += 1 }
            PixelStats(r.media_id, w, h, w.toLong * h, sums(0), sums(1), sums(2))
          case None => PixelStats(r.media_id, -1, -1, 0L, 0L, 0L, 0L)
        }
      }
    }
  }

  /** REAL compressed-codec payloads: each document becomes a genuine
    * BASELINE JPEG (grayscale, quality 50, standard tables — full DCT +
    * huffman bitstream via [[JpegCodec.encodeGray]]) whose 8×8 blocks are
    * CONSTANT, the block value cycling through the text bytes. Constant
    * blocks are what make a LOSSY codec oracle-checkable: the decode is a
    * closed-form integer function of the block value (see
    * [[JpegCodec]]'s exactness contract), so DuckDB recomputes the pixel
    * sums without a DCT. General-content decode (AC coefficients, color,
    * edge replication) is spec-verified against the platform decoder.
    */
  def jpegTable(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val w = 8 * ((id % 5).toInt + 2)
          val h = 8 * ((id % 3).toInt + 2)
          val tb = Option(text).getOrElse("").getBytes("UTF-8")
          val wb = w / 8
          val bytes = JpegCodec.encodeGray(w, h, (x, y) => {
            val bi = (y / 8) * wb + (x / 8)
            if (tb.isEmpty) 0 else tb(bi % tb.length) & 0xFF
          }, quality = 50)
          MediaRecord(id, "image", bytes, "jpeg", w, h, 0L)
        }
      }
  }

  /** Per-image pixel sums from a GENUINELY DECODED JPEG — huffman bits,
    * DC prediction, dequantization, and IDCT all through
    * [[JpegCodec.decodePixels]]. Undecodable payloads surface as
    * (-1, -1, 0).
    */
  case class JpegStats(media_id: Long, width: Int, height: Int, px_sum: Long)

  def jpegStats(media: Dataset[MediaRecord]): Dataset[JpegStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        JpegCodec.decodePixels(r.bytes) match {
          case Some((w, h, _, px)) =>
            var s = 0L
            var i = 0
            while (i < px.length) { s += px(i) & 0xFF; i += 1 }
            JpegStats(r.media_id, w, h, s)
          case None => JpegStats(r.media_id, -1, -1, 0L)
        }
      }
    }
  }

  /** Nearest-neighbor RGB resize of a decoded interleaved pixel stream:
    * output pixel (x, y) samples source (⌊x·w/rw⌋, ⌊y·h/rh⌋) — the standard
    * integer floor mapping, exact for up- and downscale. Pure function over
    * the decoded array; no allocation beyond the output buffer.
    */
  def resizeNearest(px: Array[Byte], w: Int, h: Int,
      rw: Int, rh: Int): Array[Byte] = {
    require(rw > 0 && rh > 0, s"bad target dims ${rw}x$rh")
    val out = new Array[Byte](rw * rh * 3)
    var y = 0
    var o = 0
    while (y < rh) {
      val sy = y * h / rh
      var x = 0
      while (x < rw) {
        val sx = x * w / rw
        val s = (sy * w + sx) * 3
        out(o) = px(s); out(o + 1) = px(s + 1); out(o + 2) = px(s + 2)
        o += 3
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL resize stage: decode (BMP de-pad / PNG inflate+defilter), halve
    * both axes with [[resizeNearest]], and report exact channel sums of the
    * RESIZED stream — recomputable by the oracle from (doc_id, text), so a
    * hash match proves decode AND resample byte-for-byte. Same per-partition
    * batch shape as the other decode stages; bytes never shuffle.
    */
  case class ResizeStats(
      media_id: Long,
      src_w: Int,
      src_h: Int,
      out_w: Int,
      out_h: Int,
      c0_sum: Long,
      c1_sum: Long,
      c2_sum: Long)

  def resizeStats(media: Dataset[MediaRecord]): Dataset[ResizeStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        ImageCodec.decodePixels(r.bytes) match {
          case Some((w, h, px)) =>
            val rw = math.max(1, w / 2)
            val rh = math.max(1, h / 2)
            val rp = resizeNearest(px, w, h, rw, rh)
            val sums = new Array[Long](3)
            var i = 0
            while (i < rp.length) { sums(i % 3) += rp(i) & 0xFF; i += 1 }
            ResizeStats(r.media_id, w, h, rw, rh, sums(0), sums(1), sums(2))
          case None => ResizeStats(r.media_id, -1, -1, 0, 0, 0L, 0L, 0L)
        }
      }
    }
  }

  /** REAL feature extraction over genuinely decoded pixels: per-cell
    * luminance sums on a grid×grid partition of the image (the classic
    * pooled-feature block a vision pipeline feeds downstream). Cell of
    * pixel (x, y) is (x·g/w, y·g/h) — the same closed-form floor mapping
    * as [[resizeNearest]], so the oracle recomputes every sum from the
    * source bytes. Integer sums only — no float pooling to drift.
    */
  case class GridFeature(media_id: Long, cell: Int, n_px: Long, lum_sum: Long)

  def gridFeatures(media: Dataset[MediaRecord], grid: Int = 4): Dataset[GridFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.flatMap { r =>
        ImageCodec.decodePixels(r.bytes) match {
          case Some((w, h, px)) =>
            val sums = new Array[Long](grid * grid)
            val cnts = new Array[Long](grid * grid)
            var y = 0
            while (y < h) {
              val cy = y * grid / h
              var x = 0
              while (x < w) {
                val c = cy * grid + x * grid / w
                val s = (y * w + x) * 3
                sums(c) += (px(s) & 0xFF) + (px(s + 1) & 0xFF) + (px(s + 2) & 0xFF)
                cnts(c) += 1
                x += 1
              }
              y += 1
            }
            (0 until grid * grid).map(c =>
              GridFeature(r.media_id, c, cnts(c), sums(c)))
          case None => Seq(GridFeature(r.media_id, -1, 0L, 0L))
        }
      }
    }
  }

  /** Perceptual AVERAGE-HASH (aHash) from pooled grid features: bit c is
    * set iff cell c's mean luminance exceeds the image's global mean —
    * the classic cheap image-dedup fingerprint (near-identical images
    * agree on almost every bit; brightness/scale shifts largely cancel
    * because both sides of the comparison shift together). The compare is
    * INTEGER cross-multiplication (`lum_c · N > lum_total · n_c`), so no
    * division ever happens and the oracle re-derives every bit exactly.
    * One narrow grid×grid-rows-per-image aggregation on top of
    * [[gridFeatures]]; failed decodes (cell −1) drop out.
    *
    * Output: (`media_id`, `ahash`) with grid² bits.
    */
  def averageHash(grid: DataFrame): DataFrame = {
    // staged: the grid input typically carries the real pixel decode; the
    // totals aggregation and the join side would otherwise each re-decode
    // the corpus (the Dedup.intersectionCounts convention)
    val g = grid.filter(col("cell") >= 0).localCheckpoint()
    val tot = g
      .groupBy(col("media_id"))
      .agg(sum(col("n_px")).as("__tn"), sum(col("lum_sum")).as("__tl"))
    g
      .join(tot, Seq("media_id"))
      .withColumn("__bit",
        (col("lum_sum") * col("__tn") > col("__tl") * col("n_px")).cast("long"))
      .groupBy(col("media_id"))
      // shiftleft, NOT pow()+cast: the double→bigint cast saturates at
      // 2^63 (cell 63 would silently become Long.MaxValue); a true bit
      // shift is exact for every cell 0..63 (cell 63 yields the sign bit —
      // fine, the pair join reads bands with a LOGICAL shift)
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), cell)")
        * col("__bit")).as("ahash"))
  }

  /** Per-image count of near-duplicate partners: images whose aHash is
    * within `maxDist` Hamming bits. Candidates come from a BANDED
    * equi-join — the hash splits into `maxDist + 1` byte-bands, and by
    * pigeonhole any pair within `maxDist` bits agrees on at least one
    * whole band — so the join never goes all-pairs; the exact
    * `bit_count(xor)` filter then keeps no false positives. (The oracle
    * recomputes the counts from a brute-force all-pairs compare — an
    * independent plan.)
    */
  /** The ≤maxDist-Hamming pair set itself: (id_a < id_b) via the banded
    * pigeonhole join. Shared core of [[ahashNearDupCounts]] and the
    * cluster-collapse query. Input `hashes` should already be staged.
    */
  /** Difference hash (dHash): the GRADIENT sibling of [[averageHash]] —
    * bit = "is this cell dimmer than its right neighbor" (and, below the
    * horizontal block, "than the cell beneath"), so the hash keys on local
    * luminance structure rather than the global mean and is insensitive to
    * uniform brightness shifts. On the g×g grid that is g·(g−1) horizontal
    * + g·(g−1) vertical bits (24 at g=4). Cell averages never materialize:
    * the comparison cross-multiplies integer (lum_sum, n_px) pairs, exact
    * for any uneven cell geometry.
    *
    * Scale: two narrow self-equi-joins on (media_id, cell) over ≤ g² rows
    * per image + one map-combinable sum — no pixel data, no skew (cell
    * cardinality is constant).
    */
  def differenceHash(grid: DataFrame, g: Int = 4): DataFrame = {
    require(g >= 2 && 2 * g * (g - 1) <= 63, s"bad grid: $g")
    val gf = grid.filter(col("cell") >= 0).localCheckpoint()
    val l = gf.select(col("media_id"), col("cell"),
      col("n_px").as("ln"), col("lum_sum").as("ls"))
    val right = gf.select(col("media_id"), (col("cell") - 1).as("cell"),
      col("n_px").as("rn"), col("lum_sum").as("rs"))
    val below = gf.select(col("media_id"), (col("cell") - g).as("cell"),
      col("n_px").as("rn"), col("lum_sum").as("rs"))
    val horiz = l.join(right, Seq("media_id", "cell"))
      .filter(col("cell") % g < g - 1)
      .select(col("media_id"),
        // integer row index: col / lit is DOUBLE division in Spark
        (floor(col("cell") / g) * (g - 1) + col("cell") % g)
          .cast("int").as("pos"),
        (col("ls") * col("rn") < col("rs") * col("ln")).cast("long").as("bit"))
    val vert = l.join(below, Seq("media_id", "cell"))
      .select(col("media_id"),
        (lit(g * (g - 1)) + col("cell")).cast("int").as("pos"),
        (col("ls") * col("rn") < col("rs") * col("ln")).cast("long").as("bit"))
    horiz.unionByName(vert)
      .groupBy(col("media_id"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), pos)") * col("bit"))
        .as("dhash"))
  }

  def ahashNearDupPairs(hashes: DataFrame, maxDist: Int = 1,
      bandBits: Int = 8): DataFrame = {
    require(maxDist >= 0, s"negative maxDist: $maxDist")
    val nBands = maxDist + 1
    val banded = hashes.select(col("media_id"), col("ahash"),
        explode(sequence(lit(0), lit(nBands - 1))).as("__band"))
      .withColumn("__key",
        // LOGICAL shift: an arithmetic >> would sign-extend a 64-bit hash
        // (cell 63 set ⇒ negative) and corrupt the high band keys
        expr(s"shiftrightunsigned(ahash, __band * $bandBits) & ${(1 << bandBits) - 1}"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.__band") === col("y.__band") && col("x.__key") === col("y.__key")
          && col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("x.ahash").as("ha"),
        col("y.media_id").as("id_b"), col("y.ahash").as("hb"))
      .distinct()
      .filter(expr("bit_count(ha ^ hb)") <= maxDist)
      .select(col("id_a"), col("id_b"))
  }

  /** Integer DCT-II basis table for [[dctHash]]: (u, x) → round(cos((2x+1)
    * ·u·π/2g)·1024) — fixed-point Q10 weights, computed ONCE here and
    * embedded verbatim in the oracle SQL, so both engines multiply the
    * identical integer matrix (the only float op is this driver-side
    * table build; everything per-row is exact long arithmetic).
    */
  def dctTable(g: Int): Seq[(Int, Int, Long)] =
    for { u <- 0 until g; x <- 0 until g } yield
      (u, x, math.round(math.cos((2 * x + 1) * u * math.Pi / (2.0 * g)) * 1024.0))

  /** Perceptual DCT hash (pHash): the frequency-domain sibling of
    * [[averageHash]] — quantized cell means (Q8 fixed point, truncating
    * div) run through a separable integer 2-D DCT-II (row pass then
    * column pass against the Q10 [[dctTable]]), and bit p is set iff AC
    * coefficient p exceeds the exact median of the g²−1 AC coefficients.
    * Keys on the image's coarse frequency structure, so it survives
    * brightness/contrast shifts AND mild blur/resize that flip aHash
    * bits. All arithmetic is long-exact (|F| ≤ g²·2¹⁰⁺¹⁰⁺¹⁸ ≪ 2⁶³), so a
    * SQL oracle replays every coefficient bit-for-bit.
    *
    * Scale: two broadcast joins against the g²-row basis table and three
    * map-combinable aggregations over ≤ g² rows per image — no pixel
    * data crosses an exchange (the grid input already pooled it), and the
    * per-image median sorts g²−1 longs inside one aggregation buffer.
    *
    * Output: (`media_id`, `phash`) — g²−1 ≤ 63 bits.
    */
  def dctHash(grid: DataFrame, g: Int = 8): DataFrame = {
    require(g >= 2 && g * g - 1 <= 63, s"bad grid for dctHash: $g")
    val spark = grid.sparkSession
    import spark.implicits._
    val ct = dctTable(g).toDF("u", "x", "w")
    val q = grid.filter(col("cell") >= 0)
      .select(col("media_id"), (col("cell") % g).as("cx"),
        expr(s"cell div $g").as("cy"),
        expr("(lum_sum * 256) div n_px").as("q"))
    val rowPass = q
      .join(broadcast(ct.withColumnRenamed("x", "cx")), Seq("cx"))
      .groupBy(col("media_id"), col("u"), col("cy"))
      .agg(sum(col("w") * col("q")).as("gv"))
    val colPass = rowPass
      .join(broadcast(ct.select(col("u").as("v"), col("x").as("cy"),
        col("w").as("w2"))), Seq("cy"))
      .groupBy(col("media_id"), col("u"), col("v"))
      .agg(sum(col("w2") * col("gv")).as("f"))
    val ac = colPass.filter(col("u") =!= 0 || col("v") =!= 0)
      .select(col("media_id"), (col("u") * g + col("v")).as("pos"), col("f"))
    val med = ac.groupBy(col("media_id"))
      .agg(element_at(array_sort(collect_list(col("f"))), (g * g) / 2)
        .as("med"))
    ac.join(med, Seq("media_id"))
      .groupBy(col("media_id"))
      .agg(sum(when(col("f") > col("med"),
          expr("shiftleft(CAST(1 AS BIGINT), pos - 1)")).otherwise(0L))
        .as("phash"))
  }

  def ahashNearDupCounts(hashes: DataFrame, maxDist: Int = 1,
      bandBits: Int = 8): DataFrame = {
    // staged: referenced by both self-join sides and the final left join —
    // without this the upstream hash computation (and whatever feeds it)
    // re-executes three times
    val h = hashes.localCheckpoint()
    val cand = ahashNearDupPairs(h, maxDist, bandBits)
    val partners = cand.select(col("id_a").as("media_id"))
      .unionByName(cand.select(col("id_b").as("media_id")))
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_neardups"))
    h.join(partners, Seq("media_id"), "left")
      .select(col("media_id"), col("ahash"),
        coalesce(col("n_neardups"), lit(0L)).as("n_neardups"))
  }

  /** REAL animated-GIF payloads: each document becomes a genuine GIF89a —
    * 256-entry grayscale color table and `(id mod 5) + 2` frames at
    * w = id%10+4, h = id%8+3, each frame LZW-COMPRESSED (variable-width
    * codes, see [[MediaContainers.lzwEncode]]). Frame f's pixel index j is
    * text byte ((f + j) mod len) — the AVI convention, so the oracle
    * recomputes every sampled frame's pixel sum from (doc_id, text), and a
    * hash match proves the LZW stream round-tripped through a real
    * dictionary decode.
    */
  def gifTable(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = Option(text).getOrElse("").getBytes("UTF-8")
          val w = (id % 10).toInt + 4
          val h = (id % 8).toInt + 3
          val nFrames = (id % 5).toInt + 2
          val frames = (0 until nFrames).map { f =>
            val px = new Array[Byte](w * h)
            var j = 0
            while (j < px.length) {
              px(j) = if (tb.isEmpty) 0 else tb((f + j) % tb.length)
              j += 1
            }
            px
          }
          val bytes = MediaContainers.encodeGif(w, h, frames)
          MediaRecord(id, "video", bytes, "gif", w, h, nFrames * 100L)
        }
      }
  }

  /** REAL frame sampling over animated GIFs: every `stride`-th frame's
    * pixel stream is reconstructed through the LZW dictionary decode
    * ([[MediaContainers.decodeGifFrames]]) and summed — decoded pixels,
    * not container byte slices. Undecodable payloads yield no rows.
    */
  def sampleGifFrames(media: Dataset[MediaRecord],
      stride: Int = 2): Dataset[GifFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      MediaContainers.decodeGifFrames(r.bytes) match {
        case Some(frames) =>
          frames.indices.by(stride).map { i =>
            val f = frames(i)
            var s = 0L
            var j = 0
            while (j < f.length) { s += f(j) & 0xFF; j += 1 }
            GifFrame(r.media_id, i, f.length, s)
          }
        case None => Seq.empty
      }
    }
  }

  /** REAL audio payloads: each document becomes a genuine mono PCM16 WAV
    * (RIFF/WAVE with fmt + data chunks) whose samples derive from the text
    * bytes — sample i = (byte(i mod len) − 96) · 256, so the oracle can
    * recompute the exact sample sum from the text. Empty text → silence.
    */
  def audioTable(docs: DataFrame, sampleRate: Int = 8000): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = Option(text).getOrElse("").getBytes("UTF-8")
          val n = (id % 500).toInt + 100
          val samples = new Array[Short](n)
          var i = 0
          while (i < n) {
            samples(i) = if (tb.isEmpty) 0
              else (((tb(i % tb.length) & 0xFF) - 96) * 256).toShort
            i += 1
          }
          val bytes = MediaContainers.encodeWav(sampleRate, samples)
          MediaRecord(id, "audio", bytes, "wav", 0, 0, n * 1000L / sampleRate)
        }
      }
  }

  /** REAL video payloads: each document becomes a genuine uncompressed AVI
    * (RIFF/'AVI ' with hdrl + movi) of `(id mod 6) + 2` raw 24bpp DIB
    * frames at 10 fps. Frame f's byte j (padding included) is
    * text byte ((f + j) mod len) — oracle-recomputable per frame.
    */
  def videoTable(docs: DataFrame, fps: Int = 10): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = Option(text).getOrElse("").getBytes("UTF-8")
          val w = (id % 16).toInt + 8
          val h = (id % 12).toInt + 6
          val nFrames = (id % 6).toInt + 2
          val frameSize = MediaContainers.dibFrameSize(w, h)
          val frames = (0 until nFrames).map { f =>
            val out = new Array[Byte](frameSize)
            var j = 0
            while (j < frameSize) {
              out(j) = if (tb.isEmpty) 0 else tb((f + j) % tb.length)
              j += 1
            }
            out
          }
          val bytes = MediaContainers.encodeAvi(w, h, fps, frames)
          MediaRecord(id, "video", bytes, "avi", w, h,
            nFrames * (1000000L / fps) / 1000L)
        }
      }
  }

  /** Audio header + sample decode — every field parsed from the WAV bytes,
    * and `sample_sum` recomputed from the decoded PCM stream (bit-for-bit
    * proof the data chunk round-tripped). Undecodable → (-1, …, 0).
    */
  case class AudioMeta(
      media_id: Long,
      channels: Int,
      sample_rate: Int,
      bits_per_sample: Int,
      n_samples: Int,
      duration_ms: Long,
      sample_sum: Long)

  def audioMetaTable(media: Dataset[MediaRecord]): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        MediaContainers.decodeWavSamples(r.bytes) match {
          case Some((m, samples)) =>
            var s = 0L
            var i = 0
            while (i < samples.length) { s += samples(i); i += 1 }
            AudioMeta(r.media_id, m.channels, m.sampleRate, m.bitsPerSample,
              m.nSamples, m.durationMs, s)
          case None => AudioMeta(r.media_id, -1, -1, -1, -1, 0L, 0L)
        }
      }
    }
  }

  case class Mp3Info(
      media_id: Long,
      bitrate_kbps: Int,
      sample_rate: Int,
      channel_mode: Int,
      n_frames: Int,
      frame_bytes: Int,
      duration_ms: Long)

  /** REAL compressed-audio payloads: each document becomes a genuine CBR
    * MPEG-1 Layer III frame stream — bitrate 128/160/192 kbps by
    * id mod 3, sample rate 44100/48000 by id mod 2, (id mod 7) + 3
    * frames, an (id mod 5)-byte junk prefix (proves the sync scan), and
    * payload bytes cycled from the text. Every field is oracle-
    * recomputable from doc_id alone.
    */
  def mp3Table(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = Option(text).getOrElse("").getBytes("UTF-8")
          val brIdx = 9 + (id % 3).toInt // 128 / 160 / 192 kbps
          val srIdx = (id % 2).toInt // 44100 / 48000
          val nFrames = (id % 7).toInt + 3
          val bytes = MediaContainers.encodeMp3Cbr(brIdx, srIdx, nFrames,
            (id % 5).toInt, tb)
          val sr = if (srIdx == 0) 44100 else 48000
          MediaRecord(id, "audio", bytes, "mp3", 0, 0,
            nFrames.toLong * 1152L * 1000L / sr)
        }
      }
  }

  /** Frame-header metadata parsed back out of the MP3 bytes by the real
    * header walk — format screens / duration binning / bitrate histograms,
    * the statistics media dedup needs from compressed audio. Pure
    * per-record map: bytes never shuffle.
    */
  def mp3MetaTable(media: Dataset[MediaRecord]): Dataset[Mp3Info] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        MediaContainers.parseMp3Meta(r.bytes) match {
          case Some(m) => Mp3Info(r.media_id, m.bitrateKbps, m.sampleRate,
            m.channelMode, m.nFrames, m.frameBytes, m.durationMs)
          case None => Mp3Info(r.media_id, -1, -1, -1, -1, -1, 0L)
        }
      }
    }
  }

  case class Mp3VbrInfo(
      media_id: Long,
      n_frames: Int,
      min_kbps: Int,
      max_kbps: Int,
      is_vbr: Int,
      duration_ms: Long,
      header_offset: Int)

  /** REAL VBR payloads behind ID3v2 false-sync traps: frame f of
    * document id carries bitrate index 9 + ((id + f) mod 3)
    * (128/160/192 kbps cycling), sample rate by id mod 2, (id mod 7)+3
    * frames, and an ID3v2 tag whose (id mod 100)+10 body bytes are all
    * 0xFF — a scanner that walks into the tag false-syncs; the parser
    * must skip by the declared syncsafe size.
    */
  def mp3VbrTable(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = Option(text).getOrElse("").getBytes("UTF-8")
          val srIdx = (id % 2).toInt
          val nFrames = (id % 7).toInt + 3
          val idxs = (0 until nFrames).map(f => 9 + ((id + f) % 3).toInt)
          val bytes = MediaContainers.encodeMp3Vbr(srIdx, idxs,
            (id % 100).toInt + 10, tb)
          val sr = if (srIdx == 0) 44100 else 48000
          MediaRecord(id, "audio", bytes, "mp3", 0, 0,
            nFrames.toLong * 1152L * 1000L / sr)
        }
      }
  }

  def mp3VbrMetaTable(media: Dataset[MediaRecord]): Dataset[Mp3VbrInfo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        MediaContainers.parseMp3Meta(r.bytes) match {
          case Some(m) => Mp3VbrInfo(r.media_id, m.nFrames, m.minKbps,
            m.maxKbps, if (m.vbr) 1 else 0, m.durationMs, m.headerOffset)
          case None => Mp3VbrInfo(r.media_id, -1, -1, -1, -1, 0L, -1)
        }
      }
    }
  }

  case class Mp4Info(
      media_id: Long,
      timescale: Int,
      duration_units: Long,
      duration_ms: Long,
      n_tracks: Int,
      width: Int,
      height: Int,
      n_video_tracks: Int,
      n_audio_tracks: Int,
      audio_sample_rate: Int)

  /** REAL MP4 payloads: each document becomes a genuine minimal ISO-BMFF
    * file (ftyp + free + moov{mvhd, trak{tkhd}×n} + mdat) with timescale
    * 600/1000/90000 by id mod 3, (id mod 4000) + 600 duration units,
    * (id mod 2) + 1 tracks, and ((id mod 5)+1)·160 × ((id mod 4)+1)·120
    * video geometry on track 1 — every field oracle-recomputable from
    * doc_id alone.
    */
  def mp4Table(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tb = Option(text).getOrElse("").getBytes("UTF-8")
          val tc = (id % 3) match {
            case 0 => 600; case 1 => 1000; case _ => 90000
          }
          val du = (id % 4000) + 600
          val bytes = MediaContainers.encodeMp4(tc, du, (id % 2).toInt + 1,
            ((id % 5).toInt + 1) * 160, ((id % 4).toInt + 1) * 120, tb,
            audioRate = 8000 * ((id % 6).toInt + 1))
          MediaRecord(id, "video", bytes, "mp4", 0, 0, du * 1000L / tc)
        }
      }
  }

  /** Movie metadata parsed back out of the MP4 bytes by the real box
    * walk — duration binning, resolution screens, track counting. Pure
    * per-record map: bytes never shuffle.
    */
  def mp4MetaTable(media: Dataset[MediaRecord]): Dataset[Mp4Info] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        MediaContainers.parseMp4Meta(r.bytes) match {
          case Some(m) => Mp4Info(r.media_id, m.timescale, m.durationUnits,
            m.durationMs, m.nTracks, m.width, m.height,
            m.nVideoTracks, m.nAudioTracks, m.audioSampleRate)
          case None => Mp4Info(r.media_id, -1, -1L, -1L, -1, -1, -1, -1, -1, -1)
        }
      }
    }
  }

  /** Per-frame audio features over the decoded PCM16 stream — the classic
    * speech-pipeline front end (framing + energy + zero-crossing rate + peak),
    * kept in exact integer arithmetic so the gate can recompute every value:
    *
    *  - frames start at `f*hop` for every start < nSamples and span
    *    `[start, min(n, start+frameLen))` — trailing partial frames included
    *    (their `n_samples` says how short they are);
    *  - `energy` = Σ s², `peak` = max |s| (PCM16 ⇒ 160·32767² fits a Long);
    *  - `zero_crossings` counts i with sign(s[i-1]) ≠ sign(s[i]) inside the
    *    frame, where sign is the predicate `s ≥ 0` (a 0-sample is positive).
    *
    * Scale: pure per-record flatMap — no shuffle, no state; fan-out is
    * bounded by n/hop frames per clip, so a 100 TB audio corpus streams
    * through at scan speed and downstream aggs see only the small numeric
    * frame rows, never the waveform bytes.
    */
  case class AudioFrame(
      media_id: Long,
      frame_index: Int,
      n_samples: Int,
      energy: Long,
      zero_crossings: Int,
      peak: Int)

  def audioFrameFeatures(media: Dataset[MediaRecord],
      frameLen: Int = 160, hop: Int = 80): Dataset[AudioFrame] = {
    require(frameLen > 0 && hop > 0, "frameLen and hop must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      MediaContainers.decodeWavSamples(r.bytes) match {
        case Some((_, samples)) =>
          val n = samples.length
          val nFrames = if (n == 0) 0 else (n - 1) / hop + 1
          (0 until nFrames).map { f =>
            val lo = f * hop
            val hi = math.min(n, lo + frameLen)
            var energy = 0L
            var zc = 0
            var peak = 0
            var i = lo
            while (i < hi) {
              val s = samples(i).toLong
              energy += s * s
              val a = math.abs(samples(i).toInt)
              if (a > peak) peak = a
              if (i > lo && ((samples(i - 1) >= 0) != (samples(i) >= 0))) zc += 1
              i += 1
            }
            AudioFrame(r.media_id, f, hi - lo, energy, zc, peak)
          }
        case None => Seq.empty
      }
    }
  }

  /** Walsh–Hadamard block spectrum over the decoded PCM16 stream — an exact
    * integer orthogonal transform (the workhorse of perceptual audio
    * fingerprinting, e.g. Haitsma & Kalker 2002's band-energy front end,
    * here with the ±1 Hadamard basis so every coefficient is an integer).
    *
    * The stream is cut into consecutive `block`-sample windows (last window
    * zero-padded); each window runs a fast O(n log n) WHT butterfly whose
    * coefficient k equals Σⱼ s[j]·(−1)^popcount(j AND k) (Hadamard order);
    * coefficients are grouped `bandsOf` at a time and emitted as per-band
    * energies Σ W². PCM16 bounds: |W| ≤ block·32768, W² ≤ 2⁴⁰ — Long-safe.
    *
    * Scale: per-record flatMap, no shuffle; the waveform collapses to
    * block·8 small integer rows per clip, so downstream joins/aggs never
    * see audio bytes.
    */
  case class WhtBand(media_id: Long, block_index: Int, band: Int, energy: Long)

  /** Per-block WHT band energies: blocks of `block` samples (tail
    * zero-padded, at most `maxBlocks` blocks), fast in-place butterfly,
    * coefficients grouped `bandsOf` at a time into Σ W² energies.
    */
  private def blockBandEnergies(samples: Array[Short], block: Int,
      bandsOf: Int, maxBlocks: Int): Array[Array[Long]] = {
    val n = samples.length
    val nBlocks = math.min((n + block - 1) / block, maxBlocks)
    Array.tabulate(nBlocks) { b =>
      val w = new Array[Long](block)
      var j = 0
      while (j < block) {
        val idx = b * block + j
        w(j) = if (idx < n) samples(idx).toLong else 0L
        j += 1
      }
      // in-place fast WHT (Hadamard order): len-span butterflies
      var len = 1
      while (len < block) {
        var i = 0
        while (i < block) {
          var k = i
          while (k < i + len) {
            val x = w(k); val y = w(k + len)
            w(k) = x + y; w(k + len) = x - y
            k += 1
          }
          i += 2 * len
        }
        len <<= 1
      }
      Array.tabulate(block / bandsOf) { g =>
        var e = 0L
        var k = g * bandsOf
        while (k < (g + 1) * bandsOf) { e += w(k) * w(k); k += 1 }
        e
      }
    }
  }

  def whtSpectrum(media: Dataset[MediaRecord],
      block: Int = 32, bandsOf: Int = 4): Dataset[WhtBand] = {
    require(block > 0 && (block & (block - 1)) == 0, "block must be a power of two")
    require(bandsOf > 0 && block % bandsOf == 0, "bandsOf must divide block")
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      MediaContainers.decodeWavSamples(r.bytes) match {
        case Some((_, samples)) =>
          val es = blockBandEnergies(samples, block, bandsOf, Int.MaxValue)
          es.indices.flatMap(b =>
            es(b).indices.map(g => WhtBand(r.media_id, b, g, es(b)(g))))
        case None => Seq.empty
      }
    }
  }

  /** Perceptual audio fingerprint in the Haitsma & Kalker 2002 shape: bit
    * (b−1)·7+m is set iff the band-energy difference E(b,m)−E(b,m+1)
    * INCREASED from block b−1 to block b (strictly; ties → 0). With 8 WHT
    * bands that is 7 bits per block over blocks 1..min(nBlocks,maxBlocks)−1
    * — up to 63 bits, so the fingerprint is a non-negative Long and slots
    * straight into [[ahashNearDupPairs]]' banded Hamming join.
    *
    * Scale: one map over the clips (no shuffle); the downstream dedup join
    * ships only (id, 8-byte fp) pairs, never audio.
    */
  def audioFingerprint(media: Dataset[MediaRecord], block: Int = 32,
      bandsOf: Int = 4, maxBlocks: Int = 10): DataFrame = {
    require(maxBlocks >= 2 && (maxBlocks - 1) * (block / bandsOf - 1) <= 63,
      "fingerprint must fit in 63 bits")
    val spark = media.sparkSession
    import spark.implicits._
    val nBands = block / bandsOf
    media.flatMap { r =>
      MediaContainers.decodeWavSamples(r.bytes).map { case (_, samples) =>
        val es = blockBandEnergies(samples, block, bandsOf, maxBlocks)
        var acc = 0L
        for (b <- 1 until es.length; m <- 0 until nBands - 1) {
          val diff = (es(b)(m) - es(b)(m + 1)) - (es(b - 1)(m) - es(b - 1)(m + 1))
          if (diff > 0) acc |= 1L << ((b - 1) * (nBands - 1) + m)
        }
        (r.media_id, acc)
      } // undecodable clips contribute no fingerprint row
    }.toDF("media_id", "afp")
  }

  /** Near-duplicate audio pairs: banded Hamming self-join over the
    * fingerprints (pigeonhole-complete for distance ≤ maxDist).
    */
  def audioNearDupPairs(media: Dataset[MediaRecord], maxDist: Int = 2): DataFrame =
    ahashNearDupPairs(
      audioFingerprint(media).withColumnRenamed("afp", "ahash"), maxDist)

  /** REAL frame sampling: every `stride`-th frame payload parsed out of the
    * AVI movi list (byte sums prove the frame bytes round-tripped), or
    * every `stride`-th PCM16 block of a WAV. `frame_index` is the index in
    * the CONTAINER's stream, not the sample sequence. Unrecognized
    * containers yield no rows.
    */
  case class ContainerFrame(
      media_id: Long,
      frame_index: Int,
      n_bytes: Int,
      byte_sum: Long)

  def sampleContainerFrames(media: Dataset[MediaRecord],
      stride: Int = 2, wavBlock: Int = 256): Dataset[ContainerFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    def sumBytes(b: Array[Byte]): Long = {
      var s = 0L; var i = 0
      while (i < b.length) { s += b(i) & 0xFF; i += 1 }
      s
    }
    media.flatMap { r =>
      MediaContainers.decodeAviFrames(r.bytes) match {
        case Some(frames) =>
          frames.indices.by(stride).map(i =>
            ContainerFrame(r.media_id, i, frames(i).length, sumBytes(frames(i))))
        case None =>
          MediaContainers.decodeWavSamples(r.bytes) match {
            case Some((_, samples)) =>
              val nBlocks = (samples.length + wavBlock - 1) / wavBlock
              (0 until nBlocks by stride).map { b =>
                val lo = b * wavBlock
                val hi = math.min(samples.length, lo + wavBlock)
                var s = 0L; var i = lo
                while (i < hi) { s += samples(i); i += 1 }
                ContainerFrame(r.media_id, b, (hi - lo) * 2, s)
              }
            case None => Seq.empty
          }
      }
    }
  }

  /** Central-difference gradient energy over the REAL pixel decode — the
    * classic sharpness / blur screen for image corpora (blurry or flat
    * crawl images score near 0 and get filtered before training). Gray is
    * the un-normalized channel sum r+g+b; energies are exact integers:
    * gx = Σ |gray(x+1,y) − gray(x−1,y)| over interior columns,
    * gy = Σ |gray(x,y+1) − gray(x,y−1)| over interior rows.
    * Full Sobel or Laplacian variants drop into the same per-partition
    * loop without changing the plan.
    */
  case class GradientEnergy(
      media_id: Long, width: Int, height: Int,
      gx_energy: Long, gy_energy: Long)

  def gradientEnergy(media: Dataset[MediaRecord]): Dataset[GradientEnergy] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      ImageCodec.decodePixels(r.bytes).map { case (w, h, px) =>
        def gray(x: Int, y: Int): Int = {
          val s = (y * w + x) * 3
          (px(s) & 0xFF) + (px(s + 1) & 0xFF) + (px(s + 2) & 0xFF)
        }
        var gx = 0L; var gy = 0L
        var y = 0
        while (y < h) {
          var x = 1
          while (x < w - 1) { gx += math.abs(gray(x + 1, y) - gray(x - 1, y)); x += 1 }
          y += 1
        }
        var x = 0
        while (x < w) {
          var yy = 1
          while (yy < h - 1) { gy += math.abs(gray(x, yy + 1) - gray(x, yy - 1)); yy += 1 }
          x += 1
        }
        GradientEnergy(r.media_id, w, h, gx, gy)
      }
    }
  }

  /** Per-image gray-level histogram (8 buckets over the r+g+b sum range
    * [0, 765]) — the front half of the entropy/contrast quality screen.
    * Bucket counts are exact integers from the real pixel decode; the
    * entropy itself is assembled downstream in SQL expressions (the
    * engine-log convention shared with the text entropy queries), so this
    * stays a pure integer scan.
    */
  case class GrayBucket(media_id: Long, bucket: Int, n_px: Long)

  def grayHistogram(media: Dataset[MediaRecord],
      buckets: Int = 8): Dataset[GrayBucket] = {
    require(buckets >= 2 && buckets <= 256, s"bad buckets: $buckets")
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      ImageCodec.decodePixels(r.bytes) match {
        case Some((w, h, px)) =>
          val counts = new Array[Long](buckets)
          var p = 0
          while (p < w * h) {
            val s = p * 3
            val gray = (px(s) & 0xFF) + (px(s + 1) & 0xFF) + (px(s + 2) & 0xFF)
            counts(gray * buckets / 766) += 1
            p += 1
          }
          counts.indices.filter(counts(_) > 0)
            .map(b => GrayBucket(r.media_id, b, counts(b)))
        case None => Seq.empty
      }
    }
  }

  /** Shot-boundary detection over REAL AVI frame payloads: the classic
    * frame-difference cut detector — per consecutive frame pair, the
    * absolute change in total frame intensity (here the exact byte sum of
    * the decoded DIB payload); a cut fires when the delta exceeds
    * `threshold`. Integer end to end.
    *
    * Scale: per-record flatMap over the container bytes (frames never
    * shuffle); emits one small row per frame transition. A smarter
    * detector (histogram distance, edge change ratio) slots into the same
    * per-partition loop without changing the plan shape.
    */
  case class ShotBoundary(
      media_id: Long, frame_index: Int, delta: Long, is_cut: Boolean)

  def shotBoundaries(media: Dataset[MediaRecord],
      threshold: Long = 40L): Dataset[ShotBoundary] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      MediaContainers.decodeAviFrames(r.bytes) match {
        case Some(frames) =>
          val sums = frames.map { f =>
            var s = 0L; var i = 0
            while (i < f.length) { s += f(i) & 0xFF; i += 1 }
            s
          }
          (1 until sums.length).map { f =>
            val d = math.abs(sums(f) - sums(f - 1))
            ShotBoundary(r.media_id, f, d, d > threshold)
          }
        case None => Seq.empty
      }
    }
  }

  /** Anti-aliased 2:1 audio decimation with the exact integer FIR
    * [1, 2, 1]: output sample i (in quarter-units — the ÷4 normalization
    * is deliberately NOT applied, keeping every value an exact integer) is
    * y(i) = s(2i−1) + 2·s(2i) + s(2i+1) for the interior centers
    * i = 1 .. (n−2)/2. Emitted as per-clip aggregates (count / sum /
    * |sum| / peak) so a 100 TB corpus produces one tiny row per clip; the
    * resampled waveform itself never needs to exist as a column.
    */
  case class DecimatedAudio(
      media_id: Long, n_in: Int, n_out: Int,
      y_sum: Long, y_abs_sum: Long, y_peak: Long)

  def audioDecimate(media: Dataset[MediaRecord]): Dataset[DecimatedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      MediaContainers.decodeWavSamples(r.bytes).map { case (_, samples) =>
        val n = samples.length
        var i = 1
        var s = 0L; var as = 0L; var pk = 0L; var cnt = 0
        while (2 * i + 1 < n) {
          val y = samples(2 * i - 1).toLong + 2L * samples(2 * i) +
            samples(2 * i + 1)
          s += y; as += math.abs(y)
          if (math.abs(y) > pk) pk = math.abs(y)
          cnt += 1; i += 1
        }
        DecimatedAudio(r.media_id, n, cnt, s, as, pk)
      }
    }
  }
}
