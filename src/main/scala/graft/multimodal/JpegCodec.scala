package graft.multimodal

/** Pure-JVM BASELINE JPEG codec (ITU-T T.81 sequential DCT, Annex F):
  * encoder + decoder for 8-bit grayscale and 3-component YCbCr 4:4:4,
  * standard Annex K quantization/Huffman tables, JFIF framing, byte
  * stuffing, DRI/RSTn restart handling. This upgrades the multimodal
  * suite from container-level work (BMP/PNG/WAV/AVI/GIF) to the one
  * genuinely ubiquitous COMPRESSED image codec — no library exists in
  * this environment, so both directions are implemented from the public
  * spec.
  *
  * Exactness contract (what lets a SQL oracle verify a lossy codec): the
  * DCT basis coefficient for (u,v) = (0,0) is pinned to EXACTLY 1/8 —
  * mathematically 0.25·(1/√2)² IS 1/8, but evaluating it in floating
  * point lands one ulp off, which would corrupt round-half ties. With the
  * exact constant, a CONSTANT 8×8 block round-trips through integer-exact
  * arithmetic end to end: F₀₀ = 8·(v−128) exactly (all cos terms are
  * cos 0 = 1), quantization is a decimal HALF_UP (away-from-zero — the
  * DuckDB round() convention used repo-wide), dequantized DC/8 is exact
  * in binary, and the final floor(x + 128.5) + clamp is integer-
  * expressible in SQL. The `m_jpeg_stats` gate exploits this with
  * constant-block synthetic images; GENERAL blocks (AC coefficients,
  * color, edge replication) are spec-verified via encode→decode
  * round-trip error bounds and hand-built bitstreams.
  */
object JpegCodec {

  final case class JpegMeta(width: Int, height: Int, components: Int)

  // zigzag position -> natural block index
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // Annex K.1 luminance / K.2 chrominance quantization tables
  private val StdLumaQ: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99)
  private val StdChromaQ: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99)

  // Annex K.3 typical Huffman tables: (bits[1..16], symbol values)
  private val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = (0 to 11).toArray
  private val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = (0 to 11).toArray
  private val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val AcLumaVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)
  private val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

  // DCT basis: coef(u)(v) = 0.25·C(u)·C(v) with coef(0)(0) pinned to the
  // exact 1/8 (see object scaladoc); cosTab(x)(u) = cos((2x+1)uπ/16),
  // column 0 exactly 1.0
  private val coef: Array[Array[Double]] = {
    val c = Array.tabulate(8)(u => if (u == 0) math.sqrt(0.5) else 1.0)
    val t = Array.tabulate(8, 8)((u, v) => 0.25 * c(u) * c(v))
    t(0)(0) = 0.125
    t
  }
  private val cosTab: Array[Array[Double]] = Array.tabulate(8, 8)((x, u) =>
    if (u == 0) 1.0 else math.cos((2 * x + 1) * u * math.Pi / 16.0))

  /** Repo-wide rounding convention: decimal HALF_UP, away from zero —
    * matches DuckDB round().
    */
  private def roundHalfAway(x: Double): Int =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).intValueExact()

  /** libjpeg quality scaling of a base table (public formula). */
  private def scaledQuant(base: Array[Int], quality: Int): Array[Int] = {
    require(quality >= 1 && quality <= 100, s"quality $quality")
    val scale = if (quality < 50) 5000 / quality else 200 - 2 * quality
    base.map(q => math.min(255, math.max(1, (q * scale + 50) / 100)))
  }

  // ----------------------------------------------------------------- bits

  private final class BitWriter(os: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def put(value: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((value >>> i) & 1)
        nbits += 1
        if (nbits == 8) {
          os.write(acc & 0xFF)
          if ((acc & 0xFF) == 0xFF) os.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nbits > 0) { // pad with 1s (spec convention)
      acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      os.write(acc & 0xFF)
      if ((acc & 0xFF) == 0xFF) os.write(0x00)
      acc = 0; nbits = 0
    }
  }

  private final class BitReader(bytes: Array[Byte], private var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var hitMarker: Int = -1 // marker byte seen mid-stream (RSTn, EOI, …)
    private def fill(): Boolean = {
      if (hitMarker >= 0) return false
      if (pos >= bytes.length) return false
      val b = bytes(pos) & 0xFF
      if (b == 0xFF) {
        if (pos + 1 >= bytes.length) return false
        val b2 = bytes(pos + 1) & 0xFF
        if (b2 == 0x00) { pos += 2; acc = (acc << 8) | 0xFF; nbits += 8; true }
        else { hitMarker = b2; false } // a real marker terminates the run
      } else { pos += 1; acc = (acc << 8) | b; nbits += 8; true }
    }
    def readBit(): Int = {
      if (nbits == 0 && !fill()) return -1
      nbits -= 1
      (acc >>> nbits) & 1
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val b = readBit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }
    /** Skip to just after an expected RST marker; resets bit state.
      * Handles both a marker already latched by [[fill]] and one sitting
      * unlatched at the current byte position (the previous MCU ended on
      * a byte boundary) — in both cases `pos` points at the 0xFF.
      */
    def resync(): Boolean = {
      acc = 0; nbits = 0
      if (hitMarker < 0 && pos + 1 < bytes.length &&
          (bytes(pos) & 0xFF) == 0xFF)
        hitMarker = bytes(pos + 1) & 0xFF
      if (hitMarker >= 0xD0 && hitMarker <= 0xD7) {
        pos += 2; hitMarker = -1
        true
      } else false
    }
  }

  // ------------------------------------------------------------- huffman

  /** Canonical code assignment from a (bits, vals) spec: symbol →
    * (codeLength, code).
    */
  private def encodeTable(bits: Array[Int],
      vals: Array[Int]): Array[(Int, Int)] = {
    val table = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len - 1)) {
        table(vals(k)) = (len, code)
        code += 1; k += 1; i += 1
      }
      code <<= 1
    }
    table
  }

  /** Decoder structure: per code length, (minCode, maxCode, first value
    * index) — the T.81 F.2.2.3 DECODE procedure.
    */
  private final class DecodeTable(bits: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      for (len <- 1 to 16) {
        if (bits(len - 1) == 0) { minCode(len) = 0; maxCode(len) = -1 }
        else {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.readBit()
      if (code < 0) return -1
      var len = 1
      while (len <= 16) {
        if (maxCode(len) >= minCode(len) && code <= maxCode(len) &&
            code >= minCode(len))
          return vals(valPtr(len) + code - minCode(len))
        val b = br.readBit()
        if (b < 0) return -1
        code = (code << 1) | b
        len += 1
      }
      -1
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def category(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  // ------------------------------------------------------------- encoder

  /** Forward DCT of one level-shifted block + quantization, in zigzag
    * order. `blk` is the 64 level-shifted samples (row-major).
    */
  private def fdctQuantZz(blk: Array[Double], quant: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var zz = 0
    while (zz < 64) {
      val nat = ZigZag(zz)
      val u = nat % 8 // frequency along x
      val v = nat / 8 // frequency along y
      var s = 0.0
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          s += blk(y * 8 + x) * cosTab(x)(u) * cosTab(y)(v)
          x += 1
        }
        y += 1
      }
      out(zz) = roundHalfAway(coef(u)(v) * s / quant(nat))
      zz += 1
    }
    out
  }

  private def writeBlock(bw: BitWriter, zz: Array[Int], dcPred: Int,
      dcTab: Array[(Int, Int)], acTab: Array[(Int, Int)]): Int = {
    val diff = zz(0) - dcPred
    val s = category(diff)
    val (dl, dc) = dcTab(s)
    bw.put(dc, dl)
    if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
    var run = 0
    var i = 1
    while (i < 64) {
      if (zz(i) == 0) run += 1
      else {
        while (run >= 16) { val (l, c) = acTab(0xF0); bw.put(c, l); run -= 16 }
        val sz = category(zz(i))
        val (l, c) = acTab((run << 4) | sz)
        bw.put(c, l)
        bw.put(if (zz(i) >= 0) zz(i) else zz(i) + (1 << sz) - 1, sz)
        run = 0
      }
      i += 1
    }
    if (run > 0) { val (l, c) = acTab(0x00); bw.put(c, l) } // EOB
    zz(0)
  }

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def segment(os: java.io.ByteArrayOutputStream, marker: Int,
      body: Array[Byte]): Unit = {
    os.write(0xFF); os.write(marker)
    os.write(be16(body.length + 2))
    os.write(body, 0, body.length)
  }

  private def dhtBody(tc: Int, th: Int, bits: Array[Int],
      vals: Array[Int]): Array[Byte] =
    (Array((tc << 4 | th).toByte) ++ bits.map(_.toByte) ++
      vals.map(_.toByte))

  /** Extract one block of component samples with edge replication, level
    * shifted to doubles.
    */
  private def blockOf(samples: Array[Int], w: Int, h: Int, bx: Int,
      by: Int): Array[Double] = {
    val blk = new Array[Double](64)
    var y = 0
    while (y < 8) {
      val sy = math.min(h - 1, by * 8 + y)
      var x = 0
      while (x < 8) {
        val sx = math.min(w - 1, bx * 8 + x)
        blk(y * 8 + x) = samples(sy * w + sx) - 128.0
        x += 1
      }
      y += 1
    }
    blk
  }

  /** Baseline grayscale JPEG (JFIF, standard tables, quality-scaled
    * luminance quant). `pix(x, y)` in 0..255.
    */
  def encodeGray(w: Int, h: Int, pix: (Int, Int) => Int,
      quality: Int = 50): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val quant = scaledQuant(StdLumaQ, quality)
    val samples = Array.tabulate(h * w)(i => pix(i % w, i / w) & 0xFF)
    val os = new java.io.ByteArrayOutputStream()
    os.write(0xFF); os.write(0xD8) // SOI
    segment(os, 0xE0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    segment(os, 0xDB, Array(0.toByte) ++
      ZigZag.map(nat => quant(nat).toByte)) // DQT in zigzag order
    segment(os, 0xC0, Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](1, 1, 0x11, 0))
    segment(os, 0xC4, dhtBody(0, 0, DcLumaBits, DcLumaVals))
    segment(os, 0xC4, dhtBody(1, 0, AcLumaBits, AcLumaVals))
    segment(os, 0xDA, Array[Byte](1, 1, 0x00, 0, 63, 0))
    val bw = new BitWriter(os)
    val (dcT, acT) = (encodeTable(DcLumaBits, DcLumaVals),
      encodeTable(AcLumaBits, AcLumaVals))
    var dcPred = 0
    val bh = (h + 7) / 8
    val bwid = (w + 7) / 8
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bwid) {
        dcPred = writeBlock(bw,
          fdctQuantZz(blockOf(samples, w, h, bx, by), quant), dcPred,
          dcT, acT)
        bx += 1
      }
      by += 1
    }
    bw.flush()
    os.write(0xFF); os.write(0xD9) // EOI
    os.toByteArray
  }

  /** Baseline 4:4:4 color JPEG from RGB (JFIF YCbCr, standard tables). */
  def encodeRgb(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      quality: Int = 50): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val qL = scaledQuant(StdLumaQ, quality)
    val qC = scaledQuant(StdChromaQ, quality)
    val n = w * h
    val ys = new Array[Int](n); val cbs = new Array[Int](n)
    val crs = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (r, g, b) = rgb(i % w, i / w)
      val y = 0.299 * r + 0.587 * g + 0.114 * b
      val cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
      val cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
      ys(i) = math.min(255, math.max(0, roundHalfAway(y)))
      cbs(i) = math.min(255, math.max(0, roundHalfAway(cb)))
      crs(i) = math.min(255, math.max(0, roundHalfAway(cr)))
      i += 1
    }
    val os = new java.io.ByteArrayOutputStream()
    os.write(0xFF); os.write(0xD8)
    segment(os, 0xE0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    segment(os, 0xDB, Array(0.toByte) ++ ZigZag.map(nat => qL(nat).toByte))
    segment(os, 0xDB, Array(1.toByte) ++ ZigZag.map(nat => qC(nat).toByte))
    segment(os, 0xC0, Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1))
    segment(os, 0xC4, dhtBody(0, 0, DcLumaBits, DcLumaVals))
    segment(os, 0xC4, dhtBody(1, 0, AcLumaBits, AcLumaVals))
    segment(os, 0xC4, dhtBody(0, 1, DcChromaBits, DcChromaVals))
    segment(os, 0xC4, dhtBody(1, 1, AcChromaBits, AcChromaVals))
    segment(os, 0xDA, Array[Byte](3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))
    val bw = new BitWriter(os)
    val dcL = encodeTable(DcLumaBits, DcLumaVals)
    val acL = encodeTable(AcLumaBits, AcLumaVals)
    val dcC = encodeTable(DcChromaBits, DcChromaVals)
    val acC = encodeTable(AcChromaBits, AcChromaVals)
    val preds = new Array[Int](3)
    val bh = (h + 7) / 8
    val bwid = (w + 7) / 8
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bwid) {
        preds(0) = writeBlock(bw,
          fdctQuantZz(blockOf(ys, w, h, bx, by), qL), preds(0), dcL, acL)
        preds(1) = writeBlock(bw,
          fdctQuantZz(blockOf(cbs, w, h, bx, by), qC), preds(1), dcC, acC)
        preds(2) = writeBlock(bw,
          fdctQuantZz(blockOf(crs, w, h, bx, by), qC), preds(2), dcC, acC)
        bx += 1
      }
      by += 1
    }
    bw.flush()
    os.write(0xFF); os.write(0xD9)
    os.toByteArray
  }

  // ------------------------------------------------------------- decoder

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def rd16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** Header-only parse: dimensions + component count from SOF0. */
  def decodeMeta(bytes: Array[Byte]): Option[JpegMeta] =
    parseHeaders(bytes).map { h =>
      JpegMeta(h.width, h.height, h.comps.length)
    }

  private case class Component(id: Int, hSamp: Int, vSamp: Int, quantId: Int,
      var dcTab: Int = 0, var acTab: Int = 0)
  private case class Headers(width: Int, height: Int,
      comps: Array[Component], quant: Map[Int, Array[Int]],
      dcTabs: Map[Int, DecodeTable], acTabs: Map[Int, DecodeTable],
      restartInterval: Int, scanStart: Int)

  private def parseHeaders(bytes: Array[Byte]): Option[Headers] = {
    if (bytes.length < 4 || u8(bytes, 0) != 0xFF || u8(bytes, 1) != 0xD8)
      return None
    var pos = 2
    var width = 0; var height = 0
    var comps: Array[Component] = null
    var quant = Map.empty[Int, Array[Int]]
    var dcTabs = Map.empty[Int, DecodeTable]
    var acTabs = Map.empty[Int, DecodeTable]
    var dri = 0
    while (pos + 4 <= bytes.length) {
      if (u8(bytes, pos) != 0xFF) return None
      val marker = u8(bytes, pos + 1)
      if (marker == 0xD9) return None // EOI before SOS
      val len = rd16(bytes, pos + 2)
      val body = pos + 4
      marker match {
        case 0xDB => // DQT: possibly several tables back to back
          var p = body
          while (p < pos + 2 + len) {
            val pq = u8(bytes, p) >> 4
            val tq = u8(bytes, p) & 0x0F
            if (pq != 0) return None // 8-bit tables only (baseline)
            val t = new Array[Int](64)
            var z = 0
            while (z < 64) { t(ZigZag(z)) = u8(bytes, p + 1 + z); z += 1 }
            quant += tq -> t
            p += 65
          }
        case 0xC0 => // SOF0 baseline
          height = rd16(bytes, body + 1)
          width = rd16(bytes, body + 3)
          val nc = u8(bytes, body + 5)
          if (u8(bytes, body) != 8) return None
          comps = Array.tabulate(nc) { c =>
            val o = body + 6 + 3 * c
            Component(u8(bytes, o), u8(bytes, o + 1) >> 4,
              u8(bytes, o + 1) & 0x0F, u8(bytes, o + 2))
          }
          // sampling factors 1..2 (gray, 4:4:4, 4:2:2, 4:2:0 — the real-
          // world formats); exotic factors are honestly rejected
          if (comps.exists(c => c.hSamp < 1 || c.hSamp > 2 ||
              c.vSamp < 1 || c.vSamp > 2)) return None
        case 0xC1 | 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
            0xCD | 0xCE | 0xCF =>
          return None // non-baseline SOF: progressive/arithmetic/lossless
        case 0xC4 => // DHT: possibly several tables
          var p = body
          while (p < pos + 2 + len) {
            val tc = u8(bytes, p) >> 4
            val th = u8(bytes, p) & 0x0F
            val bits = Array.tabulate(16)(i => u8(bytes, p + 1 + i))
            val nv = bits.sum
            val vals = Array.tabulate(nv)(i => u8(bytes, p + 17 + i))
            val t = new DecodeTable(bits, vals)
            if (tc == 0) dcTabs += th -> t else acTabs += th -> t
            p += 17 + nv
          }
        case 0xDD => dri = rd16(bytes, body)
        case 0xDA => // SOS
          val ns = u8(bytes, body)
          var p = body + 1
          var i = 0
          while (i < ns) {
            val cid = u8(bytes, p)
            comps.find(_.id == cid).foreach { c =>
              c.dcTab = u8(bytes, p + 1) >> 4
              c.acTab = u8(bytes, p + 1) & 0x0F
            }
            p += 2; i += 1
          }
          return Some(Headers(width, height, comps, quant, dcTabs, acTabs,
            dri, p + 3))
        case _ => () // APPn / COM / others: skip
      }
      pos += 2 + len
    }
    None
  }

  /** IDCT of one dequantized block (natural order) into clamped 0..255
    * samples. The (0,0)-pinned basis makes DC-only blocks integer-exact
    * (see object scaladoc); general blocks are deterministic doubles.
    */
  private def idctBlock(f: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            val fv = f(v * 8 + u)
            if (fv != 0) s += coef(u)(v) * fv * cosTab(x)(u) * cosTab(y)(v)
            u += 1
          }
          v += 1
        }
        val px = math.floor(s + 128.5).toInt
        out(y * 8 + x) = math.min(255, math.max(0, px))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode one entropy-coded block into dequantized natural-order
    * coefficients; returns false on a malformed stream.
    */
  private def decodeBlock(br: BitReader, dcT: DecodeTable, acT: DecodeTable,
      q: Array[Int], preds: Array[Int], c: Int, f: Array[Int]): Boolean = {
    java.util.Arrays.fill(f, 0)
    val s = dcT.decode(br)
    if (s < 0) return false
    val diffBits = if (s == 0) 0 else br.readBits(s)
    if (diffBits < 0) return false
    preds(c) += extend(diffBits, s)
    f(0) = preds(c) * q(0)
    var k = 1
    while (k < 64) {
      val rs = acT.decode(br)
      if (rs < 0) return false
      val run = rs >> 4
      val sz = rs & 0x0F
      if (sz == 0) {
        if (run == 15) k += 16 // ZRL
        else return true // EOB
      } else {
        k += run
        if (k > 63) return false
        val vb = br.readBits(sz)
        if (vb < 0) return false
        f(ZigZag(k)) = extend(vb, sz) * q(ZigZag(k))
        k += 1
      }
    }
    true
  }

  /** Full pixel decode: (width, height, nComponents, samples) — samples
    * are interleaved per pixel (gray: 1 byte; color: RGB via the JFIF
    * inverse transform). Handles gray, 4:4:4, 4:2:2, and 4:2:0 sampling
    * (subsampled chroma upsamples by pixel replication — the box filter);
    * anything else returns None.
    */
  def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    val h0 = parseHeaders(bytes).getOrElse(return None)
    val w = h0.width; val h = h0.height
    val nc = h0.comps.length
    if (w <= 0 || h <= 0 || (nc != 1 && nc != 3)) return None
    val maxH = h0.comps.map(_.hSamp).max
    val maxV = h0.comps.map(_.vSamp).max
    val mcusX = (w + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (h + 8 * maxV - 1) / (8 * maxV)
    // per-component plane: mcusX·8·hSamp wide, mcusY·8·vSamp tall
    val strides = h0.comps.map(c => mcusX * 8 * c.hSamp)
    val planes = h0.comps.zipWithIndex.map { case (c, i) =>
      new Array[Int](strides(i) * mcusY * 8 * c.vSamp)
    }
    val br = new BitReader(bytes, h0.scanStart)
    val preds = new Array[Int](nc)
    val f = new Array[Int](64)
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (h0.restartInterval > 0 && mcu > 0 &&
          mcu % h0.restartInterval == 0) {
        if (!br.resync()) return None
        java.util.Arrays.fill(preds, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var c = 0
      while (c < nc) {
        val comp = h0.comps(c)
        val dcT = h0.dcTabs.getOrElse(comp.dcTab, return None)
        val acT = h0.acTabs.getOrElse(comp.acTab, return None)
        val q = h0.quant.getOrElse(comp.quantId, return None)
        val stride = strides(c)
        val plane = planes(c)
        var byi = 0
        while (byi < comp.vSamp) {
          var bxi = 0
          while (bxi < comp.hSamp) {
            if (!decodeBlock(br, dcT, acT, q, preds, c, f)) return None
            val px = idctBlock(f)
            val ox = (mx * comp.hSamp + bxi) * 8
            val oy = (my * comp.vSamp + byi) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                plane((oy + yy) * stride + ox + xx) = px(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bxi += 1
          }
          byi += 1
        }
        c += 1
      }
      mcu += 1
    }
    // sample component planes at each output pixel (floor mapping — the
    // replicate upsample for subsampled chroma; full-res comps read 1:1)
    def sample(c: Int, x: Int, y: Int): Int = {
      val comp = h0.comps(c)
      val sx = x * comp.hSamp / maxH
      val sy = y * comp.vSamp / maxV
      planes(c)(sy * strides(c) + sx)
    }
    val out = new Array[Byte](w * h * nc)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (nc == 1) out(y * w + x) = sample(0, x, y).toByte
        else {
          val yv = sample(0, x, y)
          val cb = sample(1, x, y) - 128
          val cr = sample(2, x, y) - 128
          def cl(d: Double): Byte =
            math.min(255, math.max(0, math.floor(d + 0.5).toInt)).toByte
          out((y * w + x) * 3) = cl(yv + 1.402 * cr)
          out((y * w + x) * 3 + 1) = cl(yv - 0.344136 * cb - 0.714136 * cr)
          out((y * w + x) * 3 + 2) = cl(yv + 1.772 * cb)
        }
        x += 1
      }
      y += 1
    }
    Some((w, h, nc, out))
  }

  /** Baseline 4:2:0 color JPEG from RGB — the dominant real-world
    * sampling: luma at full resolution (4 blocks per MCU), chroma
    * box-downsampled 2×2 (one block each per MCU).
    */
  def encodeRgb420(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      quality: Int = 50): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val qL = scaledQuant(StdLumaQ, quality)
    val qC = scaledQuant(StdChromaQ, quality)
    val n = w * h
    val ys = new Array[Int](n)
    val cbF = new Array[Double](n)
    val crF = new Array[Double](n)
    var i = 0
    while (i < n) {
      val (r, g, b) = rgb(i % w, i / w)
      ys(i) = math.min(255, math.max(0,
        roundHalfAway(0.299 * r + 0.587 * g + 0.114 * b)))
      cbF(i) = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
      crF(i) = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
      i += 1
    }
    // chroma planes at half resolution: 2×2 box mean (edge-replicated)
    val cw = (w + 1) / 2
    val ch = (h + 1) / 2
    val cbs = new Array[Int](cw * ch)
    val crs = new Array[Int](cw * ch)
    var cy = 0
    while (cy < ch) {
      var cx = 0
      while (cx < cw) {
        var sb = 0.0; var sr = 0.0
        var k = 0
        while (k < 4) {
          val sx = math.min(w - 1, cx * 2 + (k & 1))
          val sy = math.min(h - 1, cy * 2 + (k >> 1))
          sb += cbF(sy * w + sx); sr += crF(sy * w + sx)
          k += 1
        }
        cbs(cy * cw + cx) = math.min(255, math.max(0, roundHalfAway(sb / 4)))
        crs(cy * cw + cx) = math.min(255, math.max(0, roundHalfAway(sr / 4)))
        cx += 1
      }
      cy += 1
    }
    val os = new java.io.ByteArrayOutputStream()
    os.write(0xFF); os.write(0xD8)
    segment(os, 0xE0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    segment(os, 0xDB, Array(0.toByte) ++ ZigZag.map(nat => qL(nat).toByte))
    segment(os, 0xDB, Array(1.toByte) ++ ZigZag.map(nat => qC(nat).toByte))
    segment(os, 0xC0, Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    segment(os, 0xC4, dhtBody(0, 0, DcLumaBits, DcLumaVals))
    segment(os, 0xC4, dhtBody(1, 0, AcLumaBits, AcLumaVals))
    segment(os, 0xC4, dhtBody(0, 1, DcChromaBits, DcChromaVals))
    segment(os, 0xC4, dhtBody(1, 1, AcChromaBits, AcChromaVals))
    segment(os, 0xDA, Array[Byte](3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))
    val bw = new BitWriter(os)
    val dcL = encodeTable(DcLumaBits, DcLumaVals)
    val acL = encodeTable(AcLumaBits, AcLumaVals)
    val dcC = encodeTable(DcChromaBits, DcChromaVals)
    val acC = encodeTable(AcChromaBits, AcChromaVals)
    val preds = new Array[Int](3)
    val mcusX = (w + 15) / 16
    val mcusY = (h + 15) / 16
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        // 4 luma blocks (2×2 within the 16×16 MCU tile), then Cb, Cr
        var byi = 0
        while (byi < 2) {
          var bxi = 0
          while (bxi < 2) {
            preds(0) = writeBlock(bw, fdctQuantZz(
              blockOf(ys, w, h, mx * 2 + bxi, my * 2 + byi), qL),
              preds(0), dcL, acL)
            bxi += 1
          }
          byi += 1
        }
        preds(1) = writeBlock(bw,
          fdctQuantZz(blockOf(cbs, cw, ch, mx, my), qC), preds(1), dcC, acC)
        preds(2) = writeBlock(bw,
          fdctQuantZz(blockOf(crs, cw, ch, mx, my), qC), preds(2), dcC, acC)
        mx += 1
      }
      my += 1
    }
    bw.flush()
    os.write(0xFF); os.write(0xD9)
    os.toByteArray
  }
}
