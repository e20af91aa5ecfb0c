package graft.corpus

import java.io.ByteArrayOutputStream

/** Real baseline JPEG encoder — the decode-grade counterpart of
  * kernel.JpegDecoder: forward DCT, quantization (standard Annex-K
  * tables scaled by quality, or all-ones "unit" tables for tight
  * round-trip bounds in specs), zigzag run-length + canonical Huffman
  * (the spec's example tables), DC prediction, byte stuffing, optional
  * restart intervals, gray / YCbCr 4:4:4 / 4:2:0 with box-downsampled
  * chroma, plus the corpus's APP1 EXIF Software tag so JpegKernel's
  * metadata contract is unchanged.
  */
object JpegWriterEx {

  /** subsample=true emits 4:2:0 (chroma box-downsampled 2x2).
    * unitQuant=true uses all-ones quantization (lossless up to DCT
    * rounding — the spec oracle mode). gray=true emits one component.
    * progressive=true emits SOF2 with a 6-to-10-scan script: interleaved
    * DC first pass (Al=1), per-component AC bands 1-5 and 6-63 (Al=1,
    * EOB-run coded), then DC and AC refinement passes (Ah=1, Al=0) —
    * exercising spectral selection, successive approximation and EOBn
    * in the decoder. Coefficients are identical to the baseline
    * encoding of the same spec (progressive transmission is lossless),
    * so JpegDecoder must produce the same plane for both modes.
    * restartInterval is a baseline-only knob (ignored when progressive).
    */
  final case class Spec(width: Int, height: Int, seed: Long,
      software: String = "", gray: Boolean = false, subsample: Boolean = false,
      unitQuant: Boolean = false, quality: Int = 90, restartInterval: Int = 0,
      smoothChroma: Boolean = false, progressive: Boolean = false,
      // EXIF breadth (all optional; emitted only when set)
      orientation: Int = 0,                   // 1-8 per EXIF
      dateTime: String = "",                  // "yyyy:MM:dd HH:mm:ss"
      gps: Option[(Double, Double)] = None)   // (lat, lon) decimal degrees

  // ---------------------------------------------------------------- input
  /** Deterministic input plane (gray: 1 ch; else RGB). When smoothChroma
    * (or subsample) is set, chroma varies only per 2x2 cell so the 4:2:0
    * box downsample is exact and round-trip error stays DCT-bounded.
    */
  def rgbPlane(spec: Spec): Array[Byte] = {
    if (spec.gray) return PixelGen.bytes(spec.seed, spec.width * spec.height)
    val n = spec.width * spec.height
    val out = new Array[Byte](n * 3)
    val luma = PixelGen.bytes(spec.seed, n)
    val halfW = (spec.width + 1) / 2
    val halfH = (spec.height + 1) / 2
    val half = spec.subsample || spec.smoothChroma
    val cbSrc = PixelGen.bytes(spec.seed ^ 0xCB, if (half) halfW * halfH else n)
    val crSrc = PixelGen.bytes(spec.seed ^ 0xC4, if (half) halfW * halfH else n)
    var y = 0
    while (y < spec.height) {
      var x = 0
      while (x < spec.width) {
        val i = y * spec.width + x
        // luma band [64,191]: with chroma in [96,159] every RGB channel
        // stays in gamut, so no clamp breaks the cell-constant chroma
        // (clipped pixels would decode to different YCbCr than intended)
        val l = 64 + ((luma(i) & 0xff) % 128)
        val hi = if (half) (y / 2) * halfW + (x / 2) else i
        val cb = cbSrc(hi) & 0xff
        val cr = crSrc(hi) & 0xff
        // keep chroma in a moderate band so RGB stays in gamut (no clamp
        // loss on the YCbCr -> RGB -> YCbCr cycle)
        val cbc = 96 + (cb % 64)
        val crc = 96 + (cr % 64)
        var r = math.round(l + 1.402 * (crc - 128)).toInt
        var g = math.round(l - 0.344136 * (cbc - 128) - 0.714136 * (crc - 128)).toInt
        var b = math.round(l + 1.772 * (cbc - 128)).toInt
        if (r < 0) r = 0 else if (r > 255) r = 255
        if (g < 0) g = 0 else if (g > 255) g = 255
        if (b < 0) b = 0 else if (b > 255) b = 255
        out(i * 3) = r.toByte; out(i * 3 + 1) = g.toByte; out(i * 3 + 2) = b.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Encode an arbitrary plane (1 or 3 channels, row-major). */
  def encode(spec: Spec, plane: Array[Byte]): Array[Byte] = {
    val w = spec.width; val h = spec.height
    val ch = if (spec.gray) 1 else 3
    require(plane.length == w * h * ch, s"plane ${plane.length} != ${w * h * ch}")
    // component planes (level-shifted later): Y or Y/Cb/Cr
    val (yP, cbP, crP) =
      if (spec.gray) (planeOfGray(plane, w, h), null, null)
      else rgbToYcc(plane, w, h)
    val qLuma = quantTable(luma = true, spec)
    val qChroma = quantTable(luma = false, spec)
    val out = new ByteArrayOutputStream()
    def m(bs: Int*): Unit = bs.foreach(b => out.write(b & 0xff))
    m(0xff, 0xd8) // SOI
    // APP0 JFIF
    m(0xff, 0xe0, 0x00, 0x10)
    out.write("JFIF".getBytes("ISO-8859-1"))
    m(0x00, 0x01, 0x01, 0x00, 0x00, 0x48, 0x00, 0x48, 0x00, 0x00)
    if (spec.software.nonEmpty || spec.orientation > 0 ||
        spec.dateTime.nonEmpty || spec.gps.isDefined)
      writeExifApp1(out, spec)
    // DQT
    def dqt(id: Int, q: Array[Int]): Unit = {
      m(0xff, 0xdb, 0x00, 0x43, id)
      var i = 0
      while (i < 64) { out.write(q(i)); i += 1 } // zigzag order
    }
    dqt(0, qLuma)
    if (!spec.gray) dqt(1, qChroma)
    // SOF0 (baseline) / SOF2 (progressive)
    val nc = if (spec.gray) 1 else 3
    val sofLen = 8 + nc * 3
    m(0xff, if (spec.progressive) 0xc2 else 0xc0,
      (sofLen >> 8) & 0xff, sofLen & 0xff, 0x08,
      (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, nc)
    val ySamp = if (spec.subsample && !spec.gray) 0x22 else 0x11
    m(0x01, ySamp, 0x00)
    if (!spec.gray) { m(0x02, 0x11, 0x01); m(0x03, 0x11, 0x01) }
    // DHT (standard tables; progressive swaps in the EOBn-capable AC table)
    def dht(tc: Int, th: Int, counts: Array[Int], syms: Array[Int]): Unit = {
      val len = 2 + 1 + 16 + syms.length
      m(0xff, 0xc4, (len >> 8) & 0xff, len & 0xff, (tc << 4) | th)
      counts.foreach(out.write)
      syms.foreach(out.write)
    }
    dht(0, 0, DcLumaCounts, DcLumaSyms)
    if (spec.progressive) dht(1, 0, ProgAcCounts, ProgAcSyms)
    else dht(1, 0, AcLumaCounts, AcLumaSyms)
    if (!spec.gray) {
      dht(0, 1, DcChromaCounts, DcChromaSyms)
      if (!spec.progressive) dht(1, 1, AcChromaCounts, AcChromaSyms)
    }
    if (spec.progressive) {
      emitProgressiveScans(out, spec, yP, cbP, crP, qLuma, qChroma, w, h)
      m(0xff, 0xd9) // EOI
      return out.toByteArray
    }
    if (spec.restartInterval > 0)
      m(0xff, 0xdd, 0x00, 0x04,
        (spec.restartInterval >> 8) & 0xff, spec.restartInterval & 0xff)
    // SOS
    val sosLen = 6 + nc * 2
    m(0xff, 0xda, (sosLen >> 8) & 0xff, sosLen & 0xff, nc)
    m(0x01, 0x00)
    if (!spec.gray) { m(0x02, 0x11); m(0x03, 0x11) }
    m(0x00, 0x3f, 0x00)
    // entropy-coded scan
    val bw = new BitWriter(out)
    val dcL = huffCodes(DcLumaCounts, DcLumaSyms)
    val acL = huffCodes(AcLumaCounts, AcLumaSyms)
    val dcC = if (spec.gray) null else huffCodes(DcChromaCounts, DcChromaSyms)
    val acC = if (spec.gray) null else huffCodes(AcChromaCounts, AcChromaSyms)
    val preds = new Array[Int](3)
    if (spec.gray || !spec.subsample) {
      // every component full-res: MCU = one block per component
      val mcusX = (w + 7) / 8
      val mcusY = (h + 7) / 8
      var mcu = 0
      val total = mcusX * mcusY
      while (mcu < total) {
        emitRestart(bw, out, spec, mcu, preds)
        val mx = mcu % mcusX; val my = mcu / mcusX
        encodeBlock(bw, yP, w, h, mx * 8, my * 8, qLuma, dcL, acL, preds, 0)
        if (!spec.gray) {
          encodeBlock(bw, cbP, w, h, mx * 8, my * 8, qChroma, dcC, acC, preds, 1)
          encodeBlock(bw, crP, w, h, mx * 8, my * 8, qChroma, dcC, acC, preds, 2)
        }
        mcu += 1
      }
    } else {
      // 4:2:0: MCU = 4 luma blocks + 1 Cb + 1 Cr (half-res chroma planes)
      val halfW = (w + 1) / 2
      val halfH = (h + 1) / 2
      val cbHalf = downsample(cbP, w, h, halfW, halfH)
      val crHalf = downsample(crP, w, h, halfW, halfH)
      val mcusX = (w + 15) / 16
      val mcusY = (h + 15) / 16
      var mcu = 0
      val total = mcusX * mcusY
      while (mcu < total) {
        emitRestart(bw, out, spec, mcu, preds)
        val mx = mcu % mcusX; val my = mcu / mcusX
        var by = 0
        while (by < 2) {
          var bx = 0
          while (bx < 2) {
            encodeBlock(bw, yP, w, h, mx * 16 + bx * 8, my * 16 + by * 8,
              qLuma, dcL, acL, preds, 0)
            bx += 1
          }
          by += 1
        }
        encodeBlock(bw, cbHalf, halfW, halfH, mx * 8, my * 8, qChroma, dcC, acC, preds, 1)
        encodeBlock(bw, crHalf, halfW, halfH, mx * 8, my * 8, qChroma, dcC, acC, preds, 2)
        mcu += 1
      }
    }
    bw.flush()
    m(0xff, 0xd9) // EOI
    out.toByteArray
  }

  def write(spec: Spec): Array[Byte] = encode(spec, rgbPlane(spec))

  // ------------------------------------------------------------ internals

  private def emitRestart(bw: BitWriter, out: ByteArrayOutputStream,
      spec: Spec, mcu: Int, preds: Array[Int]): Unit = {
    if (spec.restartInterval > 0 && mcu > 0 && mcu % spec.restartInterval == 0) {
      bw.flush()
      out.write(0xff)
      out.write(0xd0 + ((mcu / spec.restartInterval - 1) % 8))
      preds(0) = 0; preds(1) = 0; preds(2) = 0
    }
  }

  private def planeOfGray(p: Array[Byte], w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h)(i => p(i) & 0xff)

  private def rgbToYcc(p: Array[Byte], w: Int, h: Int): (Array[Int], Array[Int], Array[Int]) = {
    val n = w * h
    val yP = new Array[Int](n); val cbP = new Array[Int](n); val crP = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = p(i * 3) & 0xff; val g = p(i * 3 + 1) & 0xff; val b = p(i * 3 + 2) & 0xff
      yP(i) = math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt
      cbP(i) = math.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128).toInt
      crP(i) = math.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128).toInt
      if (yP(i) > 255) yP(i) = 255
      if (cbP(i) > 255) cbP(i) = 255 else if (cbP(i) < 0) cbP(i) = 0
      if (crP(i) > 255) crP(i) = 255 else if (crP(i) < 0) crP(i) = 0
      i += 1
    }
    (yP, cbP, crP)
  }

  private def downsample(p: Array[Int], w: Int, h: Int, hw: Int, hh: Int): Array[Int] = {
    val out = new Array[Int](hw * hh)
    var y = 0
    while (y < hh) {
      var x = 0
      while (x < hw) {
        var acc = 0; var cnt = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val sx = x * 2 + dx; val sy = y * 2 + dy
            if (sx < w && sy < h) { acc += p(sy * w + sx); cnt += 1 }
            dx += 1
          }
          dy += 1
        }
        out(y * hw + x) = acc / cnt
        x += 1
      }
      y += 1
    }
    out
  }

  private final class BitWriter(out: ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf & 0xff)
          if ((buf & 0xff) == 0xff) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = {
      while (cnt != 0) put(1, 1) // pad with 1-bits per the spec
    }
  }

  /** canonical (code,len) per symbol from BITS/HUFFVAL. */
  private def huffCodes(counts: Array[Int], syms: Array[Int]): Array[(Int, Int)] = {
    val table = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      var c = 0
      while (c < counts(l - 1)) {
        table(syms(k)) = (code, l)
        code += 1; k += 1; c += 1
      }
      code <<= 1
      l += 1
    }
    table
  }

  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // StrictMath, so every JVM builds the same table
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    c * StrictMath.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Forward DCT + quantize one 8x8 block (edge-replicated padding) into
    * zigzag-ordered coefficients — shared by the baseline and progressive
    * entropy coders (same coefficients either way: progressive
    * transmission is lossless).
    */
  private def blockCoefs(plane: Array[Int], w: Int, h: Int,
      ox: Int, oy: Int, q: Array[Int]): Array[Int] = {
    val s = new Array[Double](64)
    var y = 0
    while (y < 8) {
      val sy = math.min(h - 1, oy + y)
      var x = 0
      while (x < 8) {
        val sx = math.min(w - 1, ox + x)
        s(y * 8 + x) = plane(sy * w + sx) - 128.0
        x += 1
      }
      y += 1
    }
    // separable forward DCT: F(v,u) = 1/4 C(v)C(u) sum s cos cos
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) { // columns first: tmp(v*8+x) = sum_y Cos(v)(y) s(y*8+x)
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var yy = 0
        while (yy < 8) { acc += Cos(v)(yy) * s(yy * 8 + x); yy += 1 }
        tmp(v * 8 + x) = acc
        x += 1
      }
      v += 1
    }
    val coefZ = new Array[Int](64)
    v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var xx = 0
        while (xx < 8) { acc += Cos(u)(xx) * tmp(v * 8 + xx); xx += 1 }
        val f = acc / 4.0
        // find zigzag index of (v,u)
        val nat = v * 8 + u
        var zi = 0
        while (Zigzag(zi) != nat) zi += 1
        coefZ(zi) = math.round(f / q(zi)).toInt
        u += 1
      }
      v += 1
    }
    coefZ
  }

  /** Zigzag run-length Huffman encode one block with DC prediction. */
  private def encodeBlock(bw: BitWriter, plane: Array[Int], w: Int, h: Int,
      ox: Int, oy: Int, q: Array[Int], dc: Array[(Int, Int)], ac: Array[(Int, Int)],
      preds: Array[Int], ci: Int): Unit = {
    val coefZ = blockCoefs(plane, w, h, ox, oy, q)
    // DC
    val diff = coefZ(0) - preds(ci)
    preds(ci) = coefZ(0)
    val (dSize, dBits) = magnitude(diff)
    val (dcCode, dcLen) = dc(dSize)
    bw.put(dcCode, dcLen)
    if (dSize > 0) bw.put(dBits, dSize)
    // AC with ZRL/EOB
    var k = 1
    var run = 0
    while (k < 64) {
      val c = coefZ(k)
      if (c == 0) run += 1
      else {
        while (run >= 16) {
          val (zc, zl) = ac(0xf0); bw.put(zc, zl); run -= 16
        }
        val (sz, bits) = magnitude(c)
        val (code, len) = ac((run << 4) | sz)
        bw.put(code, len)
        bw.put(bits, sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ec, el) = ac(0x00); bw.put(ec, el) }
  }

  /** (size, bit pattern) of a coefficient per the spec's magnitude coding. */
  private def magnitude(vIn: Int): (Int, Int) = {
    if (vIn == 0) return (0, 0)
    val a = math.abs(vIn)
    var size = 0
    var t = a
    while (t != 0) { size += 1; t >>= 1 }
    val bits = if (vIn > 0) vIn else vIn + (1 << size) - 1
    (size, bits)
  }

  private def quantTable(luma: Boolean, spec: Spec): Array[Int] = {
    if (spec.unitQuant) return Array.fill(64)(1)
    val base = if (luma) StdLumaQuant else StdChromaQuant
    val scale = if (spec.quality < 50) 5000 / math.max(1, spec.quality)
      else 200 - spec.quality * 2
    base.map { q =>
      val v = (q * scale + 50) / 100
      math.max(1, math.min(255, v))
    }
  }

  // Standard quantization + Huffman tables from ITU T.81 Annex K
  // (public spec constants; in ZIGZAG order as DQT expects).
  private val StdLumaQuant: Array[Int] = Array(
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101, 103, 99)
  private val StdChromaQuant: Array[Int] = Array(
    17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99)
  private val DcLumaCounts = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaSyms = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val DcChromaCounts = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaSyms = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val AcLumaCounts = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaSyms = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val AcChromaCounts = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaSyms = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  // ------------------------------------------------ progressive (SOF2)

  /** Progressive AC Huffman table: the Annex-K tables carry no EOBn
    * symbols (r<<4, 0<r<15), so progressive scans use this custom
    * canonical table — every symbol the scans can emit (EOB0-14, ZRL,
    * r 0-15 x size 1-14) at uniform code length 9. 240 codes of 9 bits
    * satisfy Kraft (240 < 512) and leave the all-ones code unused, as
    * T.81 Annex C requires. Not size-optimal, deliberately simple — the
    * corpus oracle cares about decode correctness, not ratio.
    */
  private[corpus] val ProgAcSyms: Array[Int] = {
    val eobn = (0 until 15).map(_ << 4)
    val zrl = Seq(0xf0)
    val rs = for (r <- 0 to 15; s <- 1 to 14) yield (r << 4) | s
    (eobn ++ zrl ++ rs).toArray
  }
  private[corpus] val ProgAcCounts: Array[Int] = {
    val c = new Array[Int](16)
    c(8) = ProgAcSyms.length // all codes at length 9
    c
  }

  private final case class PComp(id: Int, hs: Int, vs: Int,
      plane: Array[Int], pw: Int, ph: Int, q: Array[Int],
      dcCodes: Array[(Int, Int)], dcTabId: Int,
      blocksW: Int, blocksH: Int, scanW: Int, scanH: Int,
      coefs: Array[Array[Int]])

  /** Emit the full progressive scan script: interleaved DC first pass
    * (Al=1), per-component AC bands 1-5 / 6-63 first passes (Al=1,
    * EOB-run coded), DC refinement, AC refinements (Ah=1, Al=0). The
    * scans transmit exactly the baseline coefficients, so the decoded
    * plane must match the baseline encoding bit for bit.
    */
  private def emitProgressiveScans(out: ByteArrayOutputStream, spec: Spec,
      yP: Array[Int], cbP: Array[Int], crP: Array[Int],
      qLuma: Array[Int], qChroma: Array[Int], w: Int, h: Int): Unit = {
    def m(bs: Int*): Unit = bs.foreach(b => out.write(b & 0xff))
    val acCodes = huffCodes(ProgAcCounts, ProgAcSyms)
    val dcL = huffCodes(DcLumaCounts, DcLumaSyms)
    val dcC = huffCodes(DcChromaCounts, DcChromaSyms)

    def mk(id: Int, hs: Int, vs: Int, plane: Array[Int], pw: Int, ph: Int,
        q: Array[Int], dcCodes: Array[(Int, Int)], dcTabId: Int,
        blocksW: Int, blocksH: Int, scanW: Int, scanH: Int): PComp = {
      val coefs = Array.tabulate(blocksW * blocksH)(i =>
        blockCoefs(plane, pw, ph, (i % blocksW) * 8, (i / blocksW) * 8, q))
      PComp(id, hs, vs, plane, pw, ph, q, dcCodes, dcTabId,
        blocksW, blocksH, scanW, scanH, coefs)
    }

    val comps: Array[PComp] =
      if (spec.gray) {
        val bw0 = (w + 7) / 8; val bh0 = (h + 7) / 8
        Array(mk(1, 1, 1, yP, w, h, qLuma, dcL, 0, bw0, bh0, bw0, bh0))
      } else if (!spec.subsample) {
        val bw0 = (w + 7) / 8; val bh0 = (h + 7) / 8
        Array(
          mk(1, 1, 1, yP, w, h, qLuma, dcL, 0, bw0, bh0, bw0, bh0),
          mk(2, 1, 1, cbP, w, h, qChroma, dcC, 1, bw0, bh0, bw0, bh0),
          mk(3, 1, 1, crP, w, h, qChroma, dcC, 1, bw0, bh0, bw0, bh0))
      } else {
        val mcusX = (w + 15) / 16; val mcusY = (h + 15) / 16
        val halfW = (w + 1) / 2; val halfH = (h + 1) / 2
        val cbHalf = downsample(cbP, w, h, halfW, halfH)
        val crHalf = downsample(crP, w, h, halfW, halfH)
        Array(
          mk(1, 2, 2, yP, w, h, qLuma, dcL, 0,
            2 * mcusX, 2 * mcusY, (w + 7) / 8, (h + 7) / 8),
          mk(2, 1, 1, cbHalf, halfW, halfH, qChroma, dcC, 1,
            mcusX, mcusY, (halfW + 7) / 8, (halfH + 7) / 8),
          mk(3, 1, 1, crHalf, halfW, halfH, qChroma, dcC, 1,
            mcusX, mcusY, (halfW + 7) / 8, (halfH + 7) / 8))
      }

    def sos(sel: Seq[PComp], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      val len = 6 + sel.length * 2
      m(0xff, 0xda, (len >> 8) & 0xff, len & 0xff, sel.length)
      sel.foreach(c => m(c.id, (c.dcTabId << 4) | 0)) // prog AC table = slot 0
      m(ss, se, (ah << 4) | al)
    }

    def dcScan(ah: Int, al: Int): Unit = {
      sos(comps.toSeq, 0, 0, ah, al)
      val bw = new BitWriter(out)
      val preds = new Array[Int](comps.length)
      val mcusX = comps(0).blocksW / comps(0).hs
      val mcusY = comps(0).blocksH / comps(0).vs
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        val mx = mcu % mcusX; val my = mcu / mcusX
        var ci = 0
        while (ci < comps.length) {
          val c = comps(ci)
          var by = 0
          while (by < c.vs) {
            var bx = 0
            while (bx < c.hs) {
              val dc = c.coefs((my * c.vs + by) * c.blocksW + mx * c.hs + bx)(0)
              if (ah == 0) { // first pass: Huffman diff of dc >> al
                val v0 = dc >> al // arithmetic shift, refinement bit restores
                val diff = v0 - preds(ci); preds(ci) = v0
                val (sz, bits) = magnitude(diff)
                val (code, clen) = c.dcCodes(sz)
                bw.put(code, clen)
                if (sz > 0) bw.put(bits, sz)
              } else bw.put((dc >> al) & 1, 1) // refinement: one raw bit
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
      }
      bw.flush()
    }

    def acFirstScan(c: PComp, ss: Int, se: Int, al: Int): Unit = {
      sos(Seq(c), ss, se, 0, al)
      val bw = new BitWriter(out)
      var eobrun = 0
      def flushEob(): Unit = if (eobrun > 0) {
        var nb = 0
        while ((eobrun >> (nb + 1)) > 0) nb += 1
        val (code, clen) = acCodes(nb << 4)
        bw.put(code, clen)
        if (nb > 0) bw.put(eobrun - (1 << nb), nb)
        eobrun = 0
      }
      var b = 0
      while (b < c.scanW * c.scanH) {
        val coefZ = c.coefs((b / c.scanW) * c.blocksW + (b % c.scanW))
        val v = Array.tabulate(se - ss + 1) { i =>
          val t = coefZ(ss + i)
          val a = math.abs(t) >> al
          if (t < 0) -a else a
        }
        val lastNZ = v.lastIndexWhere(_ != 0)
        if (lastNZ < 0) { eobrun += 1; if (eobrun == 0x7fff) flushEob() }
        else {
          flushEob()
          var run = 0
          var i = 0
          while (i <= lastNZ) {
            if (v(i) == 0) run += 1
            else {
              while (run > 15) {
                val (zc, zl) = acCodes(0xf0); bw.put(zc, zl); run -= 16
              }
              val (sz, bits) = magnitude(v(i))
              val (code, clen) = acCodes((run << 4) | sz)
              bw.put(code, clen)
              bw.put(bits, sz)
              run = 0
            }
            i += 1
          }
          if (lastNZ < se - ss) eobrun += 1 // trailing zeros fold into EOB
        }
        b += 1
      }
      flushEob()
      bw.flush()
    }

    def acRefineScan(c: PComp, ss: Int, se: Int, al: Int): Unit = {
      sos(Seq(c), ss, se, al + 1, al)
      val bw = new BitWriter(out)
      var eobrun = 0
      val eobBits = scala.collection.mutable.ArrayBuffer.empty[Int]
      def flushEob(): Unit = {
        if (eobrun > 0) {
          var nb = 0
          while ((eobrun >> (nb + 1)) > 0) nb += 1
          val (code, clen) = acCodes(nb << 4)
          bw.put(code, clen)
          if (nb > 0) bw.put(eobrun - (1 << nb), nb)
          eobrun = 0
          eobBits.foreach(bit => bw.put(bit, 1))
          eobBits.clear()
        }
      }
      var b = 0
      while (b < c.scanW * c.scanH) {
        val coefZ = c.coefs((b / c.scanW) * c.blocksW + (b % c.scanW))
        val n = se - ss + 1
        val t = Array.tabulate(n)(i => math.abs(coefZ(ss + i)) >> al)
        val neg = Array.tabulate(n)(i => coefZ(ss + i) < 0)
        val eobIdx = t.lastIndexWhere(_ == 1) // last NEWLY significant coef
        var r = 0
        val brBits = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < n) {
          val temp = t(i)
          if (temp == 0) r += 1
          else {
            // required ZRLs — unless foldable into the EOB run
            while (r > 15 && i <= eobIdx) {
              flushEob()
              val (zc, zl) = acCodes(0xf0)
              bw.put(zc, zl)
              r -= 16
              brBits.foreach(bit => bw.put(bit, 1))
              brBits.clear()
            }
            if (temp > 1) brBits += (temp & 1) // history: correction bit only
            else { // newly significant: +-1 at this precision
              flushEob()
              val (code, clen) = acCodes((r << 4) | 1)
              bw.put(code, clen)
              bw.put(if (neg(i)) 0 else 1, 1) // decoder: 1 => +, 0 => -
              brBits.foreach(bit => bw.put(bit, 1))
              brBits.clear()
              r = 0
            }
          }
          i += 1
        }
        if (r > 0 || brBits.nonEmpty) { // block tail folds into the EOB run
          eobrun += 1
          eobBits ++= brBits
          if (eobrun == 0x7fff) flushEob()
        }
        b += 1
      }
      flushEob()
      bw.flush()
    }

    dcScan(0, 1)                                     // DC first pass
    comps.foreach { c =>                             // AC first passes
      acFirstScan(c, 1, 5, 1)
      acFirstScan(c, 6, 63, 1)
    }
    dcScan(1, 0)                                     // DC refinement
    comps.foreach { c =>                             // AC refinements
      acRefineScan(c, 1, 5, 0)
      acRefineScan(c, 6, 63, 0)
    }
  }

  // (tag, type, count, raw value bytes pre-offset-resolution)
  private type TiffEntry = (Int, Int, Int, Array[Byte])

  private def tAscii(s: String): Array[Byte] =
    (s + 0.toChar).getBytes("ISO-8859-1")
  private def tShort(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def tLong(v: Long): Array[Byte] = Array((v & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def tRational(v: Double, den: Long = 100000L): Array[Byte] =
    tLong(math.round(v * den)) ++ tLong(den)

  /** Serialize one IFD (entries sorted by tag, deferred values placed
    * directly after the table) at absolute TIFF offset `ifdOff`.
    */
  private def ifdBytes(entries: Seq[TiffEntry], ifdOff: Int): Array[Byte] = {
    val tableLen = 2 + entries.length * 12 + 4
    val table = new ByteArrayOutputStream()
    val deferred = new ByteArrayOutputStream()
    def w16(v: Int): Unit = { table.write(v & 0xff); table.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
    w16(entries.length)
    for ((tag, typ, cnt, data) <- entries.sortBy(_._1)) {
      w16(tag); w16(typ); w32(cnt.toLong)
      if (data.length <= 4) {
        table.write(data); (data.length until 4).foreach(_ => table.write(0))
      } else {
        w32(ifdOff.toLong + tableLen + deferred.size())
        deferred.write(data)
      }
    }
    w32(0L) // next IFD
    table.toByteArray ++ deferred.toByteArray
  }

  private def ifdSize(entries: Seq[TiffEntry]): Int =
    2 + entries.length * 12 + 4 + entries.map(_._4.length).filter(_ > 4).sum

  /** APP1 EXIF: IFD0 (Software / Orientation / DateTime) with optional
    * Exif sub-IFD (DateTimeOriginal) and GPS IFD (lat/lon as DMS
    * rational triplets + reference letters). The Software-only default
    * stays byte-compatible with the legacy layout.
    */
  private def writeExifApp1(out: ByteArrayOutputStream, spec: Spec): Unit = {
    def w(bs: Int*): Unit = bs.foreach(b => out.write(b & 0xff))
    val exifEntries: Seq[TiffEntry] =
      if (spec.dateTime.nonEmpty)
        Seq((0x9003, 2, spec.dateTime.length + 1, tAscii(spec.dateTime)))
      else Nil
    val gpsEntries: Seq[TiffEntry] = spec.gps.toSeq.flatMap { case (lat, lon) =>
      def dms(v: Double): Array[Byte] = {
        val a = math.abs(v)
        val d = a.toInt
        val m = ((a - d) * 60).toInt
        val s = (a - d - m / 60.0) * 3600
        tRational(d, 1) ++ tRational(m, 1) ++ tRational(s)
      }
      Seq(
        (0x0001, 2, 2, tAscii(if (lat < 0) "S" else "N")),
        (0x0002, 5, 3, dms(lat)),
        (0x0003, 2, 2, tAscii(if (lon < 0) "W" else "E")),
        (0x0004, 5, 3, dms(lon)))
    }
    var ifd0: Seq[TiffEntry] = Nil
    if (spec.software.nonEmpty)
      ifd0 :+= ((0x0131, 2, spec.software.length + 1, tAscii(spec.software)))
    if (spec.orientation > 0)
      ifd0 :+= ((0x0112, 3, 1, tShort(spec.orientation)))
    if (spec.dateTime.nonEmpty)
      ifd0 :+= ((0x0132, 2, spec.dateTime.length + 1, tAscii(spec.dateTime)))
    // pointer entries: sizes are fixed (LONG inline), offsets computed
    // from the running layout 8 -> IFD0 -> Exif IFD -> GPS IFD
    val n0 = ifd0.length + (if (exifEntries.nonEmpty) 1 else 0) +
      (if (gpsEntries.nonEmpty) 1 else 0)
    val ifd0Size = ifdSize(ifd0) + (n0 - ifd0.length) * 12
    val exifOff = 8 + ifd0Size
    val gpsOff = exifOff + (if (exifEntries.nonEmpty) ifdSize(exifEntries) else 0)
    if (exifEntries.nonEmpty) ifd0 :+= ((0x8769, 4, 1, tLong(exifOff.toLong)))
    if (gpsEntries.nonEmpty) ifd0 :+= ((0x8825, 4, 1, tLong(gpsOff.toLong)))
    val tiff = new ByteArrayOutputStream()
    tiff.write(Array('I', 'I', 42, 0).map(_.toByte))
    tiff.write(tLong(8L))
    tiff.write(ifdBytes(ifd0, 8))
    if (exifEntries.nonEmpty) tiff.write(ifdBytes(exifEntries, exifOff))
    if (gpsEntries.nonEmpty) tiff.write(ifdBytes(gpsEntries, gpsOff))
    val tiffB = tiff.toByteArray
    val app1len = 2 + 6 + tiffB.length
    w(0xff, 0xe1, (app1len >> 8) & 0xff, app1len & 0xff)
    out.write("Exif".getBytes("ISO-8859-1")); w(0, 0)
    out.write(tiffB)
  }
}
