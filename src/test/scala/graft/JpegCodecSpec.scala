package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.JpegDecoder
import graft.corpus.JpegWriterEx
import graft.corpus.JpegWriterEx.Spec

/** Oracle for the baseline JPEG codec pair. JPEG is lossy by
  * construction, so exactness is asserted where the math IS exact
  * (constant blocks are pure DC; DCT/IDCT of a constant is identity) and
  * tight per-pixel error bounds are asserted under unit quantization,
  * where the only error sources are coefficient rounding (<= 0.5/coef)
  * and color-space integer rounding.
  */
class JpegCodecSpec extends AnyFunSuite {

  def maxDiff(a: Array[Byte], b: Array[Byte]): Int = {
    require(a.length == b.length, s"${a.length} != ${b.length}")
    var m = 0
    var i = 0
    while (i < a.length) {
      val d = math.abs((a(i) & 0xff) - (b(i) & 0xff))
      if (d > m) m = d
      i += 1
    }
    m
  }

  test("constant gray image round-trips EXACTLY (pure-DC blocks)") {
    for (v <- Seq(0, 1, 77, 128, 200, 255)) {
      val spec = Spec(24, 16, seed = 0, gray = true, unitQuant = true)
      val plane = Array.fill[Byte](24 * 16)(v.toByte)
      val img = JpegDecoder.decode(JpegWriterEx.encode(spec, plane))
        .getOrElse(fail(s"decode v=$v"))
      assert(img.width == 24 && img.height == 16 && img.channels == 1)
      assert(java.util.Arrays.equals(img.data, plane), s"constant $v not exact")
    }
  }

  test("gray noise round-trip under unit quant: DCT-rounding bound only") {
    for ((w, h) <- Seq((64, 48), (57, 41), (8, 8), (9, 7))) { // odd sizes too
      val spec = Spec(w, h, seed = w * 1000 + h, gray = true, unitQuant = true)
      val plane = JpegWriterEx.rgbPlane(spec)
      val img = JpegDecoder.decode(JpegWriterEx.encode(spec, plane))
        .getOrElse(fail(s"decode ${w}x$h"))
      assert(img.width == w && img.height == h && img.channels == 1)
      val d = maxDiff(img.data, plane)
      assert(d <= 2, s"gray ${w}x$h maxDiff=$d (expected <= 2: pure DCT rounding)")
    }
  }

  test("color 4:4:4 noise round-trip under unit quant") {
    for ((w, h) <- Seq((48, 32), (33, 25))) {
      val spec = Spec(w, h, seed = 7 * w + h, unitQuant = true)
      val plane = JpegWriterEx.rgbPlane(spec)
      val img = JpegDecoder.decode(JpegWriterEx.encode(spec, plane))
        .getOrElse(fail(s"decode ${w}x$h"))
      assert(img.channels == 3)
      val d = maxDiff(img.data, plane)
      // DCT rounding + two integer color conversions
      assert(d <= 6, s"444 ${w}x$h maxDiff=$d")
    }
  }

  test("color 4:2:0 with cell-constant chroma: subsampling is exact, DCT-bounded") {
    for ((w, h) <- Seq((64, 48), (50, 38))) {
      val spec = Spec(w, h, seed = 11 * w + h, subsample = true, unitQuant = true)
      val plane = JpegWriterEx.rgbPlane(spec) // chroma constant per 2x2 cell
      val img = JpegDecoder.decode(JpegWriterEx.encode(spec, plane))
        .getOrElse(fail(s"decode ${w}x$h"))
      val d = maxDiff(img.data, plane)
      assert(d <= 8, s"420 ${w}x$h maxDiff=$d")
    }
  }

  test("restart intervals: RSTn markers + DC predictor reset") {
    val spec = Spec(80, 64, seed = 5, gray = true, unitQuant = true, restartInterval = 3)
    val plane = JpegWriterEx.rgbPlane(spec)
    val bytes = JpegWriterEx.encode(spec, plane)
    // the stream really contains RST markers
    assert((0 until bytes.length - 1).exists(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) >= 0xd0 && (bytes(i + 1) & 0xff) <= 0xd7))
    val img = JpegDecoder.decode(bytes).getOrElse(fail("restart decode"))
    assert(maxDiff(img.data, plane) <= 2)
  }

  test("standard-quality encode decodes with plausible loss (and still sane)") {
    val spec = Spec(48, 48, seed = 9, gray = true, quality = 90)
    val plane = JpegWriterEx.rgbPlane(spec)
    val img = JpegDecoder.decode(JpegWriterEx.encode(spec, plane)).getOrElse(fail("q90"))
    // noise under q90 quant is lossy but pixel values stay correlated:
    // mean abs error well under mid-scale
    val mae = img.data.zip(plane).map { case (a, b) =>
      math.abs((a & 0xff) - (b & 0xff)) }.sum.toDouble / plane.length
    assert(mae < 48, s"mae=$mae")
  }

  test("EXIF Software + JFIF survive: JpegKernel contract unchanged") {
    val spec = Spec(32, 24, seed = 3, software = "graft-cam-7", unitQuant = true)
    val bytes = JpegWriterEx.write(spec)
    assert(graft.kernel.Magic.sniff(bytes) == graft.kernel.Magic.Kind.Jpeg)
    val meta = graft.kernel.JpegKernel.extract(bytes)
    assert(meta.get("Software").contains("graft-cam-7"))
    assert(meta.get("Image Width").contains("32 pixels"))
    assert(meta.get("Image Height").contains("24 pixels"))
  }

  test("legacy pseudo-scan JPEGs (old corpus writer) return None, not garbage") {
    val legacy = graft.corpus.JpegWriter.write(
      graft.corpus.JpegWriter.Spec(64, 48, "cam", 512))
    // no DHT/DQT tables: must be rejected cleanly
    assert(JpegDecoder.decode(legacy).isEmpty)
  }

  test("progressive (SOF2) decodes IDENTICALLY to baseline of the same spec") {
    // Progressive transmission is coefficient-lossless: the scans carry
    // exactly the baseline coefficients, so the decoded plane must be
    // bit-identical to the baseline decode — a far stronger oracle than
    // error bounds. Odd sizes exercise partial MCUs in every mode.
    val specs = Seq(
      Spec(64, 48, seed = 9001, gray = true, unitQuant = true),
      Spec(57, 41, seed = 9002, gray = true, quality = 75),
      Spec(40, 32, seed = 9003, quality = 90),                   // 4:4:4
      Spec(33, 25, seed = 9004, quality = 85),                   // 4:4:4 odd
      Spec(48, 32, seed = 9005, subsample = true, quality = 90), // 4:2:0
      Spec(37, 29, seed = 9006, subsample = true, quality = 80)) // 4:2:0 odd
    for (base <- specs) {
      val plane = JpegWriterEx.rgbPlane(base)
      val seq = JpegDecoder.decode(JpegWriterEx.encode(base, plane))
        .getOrElse(fail(s"baseline decode $base"))
      val prog = JpegDecoder.decode(
          JpegWriterEx.encode(base.copy(progressive = true), plane))
        .getOrElse(fail(s"progressive decode $base"))
      assert(prog.width == seq.width && prog.height == seq.height &&
        prog.channels == seq.channels)
      assert(java.util.Arrays.equals(prog.data, seq.data),
        s"progressive != baseline for $base")
    }
  }

  test("progressive constant gray is exact; stream is really SOF2") {
    val spec = Spec(24, 16, seed = 0, gray = true, unitQuant = true,
      progressive = true)
    val plane = Array.fill[Byte](24 * 16)(130.toByte)
    val bytes = JpegWriterEx.encode(spec, plane)
    // marker audit: SOF2 present, SOF0 absent, >= 6 SOS scans
    def markers(bs: Array[Byte]): Seq[Int] = {
      val out = Seq.newBuilder[Int]
      var i = 0
      while (i + 1 < bs.length) {
        if ((bs(i) & 0xff) == 0xff && (bs(i + 1) & 0xff) != 0x00 &&
            (bs(i + 1) & 0xff) != 0xff) out += (bs(i + 1) & 0xff)
        i += 1
      }
      out.result()
    }
    val ms = markers(bytes)
    assert(ms.contains(0xc2) && !ms.contains(0xc0))
    assert(ms.count(_ == 0xda) >= 6, s"scan count ${ms.count(_ == 0xda)}")
    val img = JpegDecoder.decode(bytes).getOrElse(fail("decode"))
    assert(java.util.Arrays.equals(img.data, plane))
  }

  test("progressive decoder never throws on mutated/truncated streams") {
    val bytes = JpegWriterEx.encode(
      Spec(32, 24, seed = 77, quality = 85, progressive = true),
      JpegWriterEx.rgbPlane(Spec(32, 24, seed = 77, quality = 85)))
    val rnd = new java.util.Random(4242)
    for (_ <- 0 until 200) {
      val mut = bytes.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      JpegDecoder.decode(mut) // must not throw
    }
    for (len <- Seq(0, 2, 20, bytes.length / 3, bytes.length - 1))
      JpegDecoder.decode(bytes.take(len)) // must not throw
  }

  test("decoder never throws on mutated/truncated streams") {
    val rng = new java.util.SplittableRandom(777L)
    val base = JpegWriterEx.write(Spec(32, 24, seed = 1, subsample = true,
      software = "x", restartInterval = 2))
    for (_ <- 0 until 400) {
      val b = base.clone()
      for (_ <- 0 until 1 + rng.nextInt(8))
        b(rng.nextInt(b.length)) = (rng.nextInt(256) - 128).toByte
      val cut =
        if (rng.nextInt(4) == 0) java.util.Arrays.copyOfRange(b, 0, rng.nextInt(b.length + 1))
        else b
      JpegDecoder.decode(cut) // Some|None, no throw
    }
    succeed
  }

  test("sparse-aware IDCT is bit-identical to the dense reference sum") {
    // dense reference: the pre-r7 1024-term separable sum, verbatim
    val CosRef = Array.tabulate(8, 8) { (u, x) =>
      val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
    }
    def dense(coef: Array[Int], out: Array[Int]): Unit = {
      val tmp = new Array[Double](64)
      for (y <- 0 until 8; x <- 0 until 8)
        tmp(y * 8 + x) = (0 until 8).map(u => CosRef(u)(x) * coef(y * 8 + u)).sum * 0.5
      for (x <- 0 until 8; yy <- 0 until 8) {
        val s = (0 until 8).map(v => CosRef(v)(yy) * tmp(v * 8 + x)).sum
        val px = math.round(s * 0.5).toInt + 128
        out(yy * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
      }
    }
    val rng = new java.util.SplittableRandom(42L)
    val coef = new Array[Int](64)
    val a = new Array[Int](64)
    val b = new Array[Int](64)
    val tmp = new Array[Double](64)
    for (trial <- 0 until 2000) {
      java.util.Arrays.fill(coef, 0)
      // density sweep: all-zero, DC-only, sparse, dense, extreme values
      val n = trial % 65
      for (_ <- 0 until n)
        coef(rng.nextInt(64)) = rng.nextInt(4001) - 2000
      if (trial % 7 == 0) coef(0) = rng.nextInt(32001) - 16000
      dense(coef, a)
      JpegDecoder.idctBlock(coef, b, tmp)
      assert(java.util.Arrays.equals(a, b), s"trial $trial: ${coef.toSeq}")
    }
  }

  test("Huffman LUT equals the exact bit walk on every 8-bit prefix, oversubscribed too") {
    val tables = Seq(
      // Annex K luminance DC: a complete table
      Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
      // incomplete: some prefixes start no code at all
      Array(0, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
      // oversubscribed: three 1-bit codes (code 2 does not fit in 1 bit)
      Array(3, 1, 0, 0, 0, 0, 0, 0, 2, 0, 0, 0, 0, 0, 0, 0),
      // oversubscribed at length 3: codes 4..8, and 8 does not fit
      Array(0, 2, 5, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    for (counts <- tables) {
      val h = new JpegDecoder.Huff(counts, Array.tabulate(counts.sum)(i => 10 + i))
      for (p <- 0 until 256) {
        // decodeHuff's slow path over the first 8 bits of p
        var code = 0
        var l = 1
        var want = 0
        while (want == 0 && l <= 8) {
          code = (code << 1) | ((p >>> (8 - l)) & 1)
          if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
            want = (l << 8) | h.symbol(h.valPtr(l) + code - h.minCode(l))
          l += 1
        }
        assert(h.lut(p) == want, s"counts=${counts.toSeq} prefix=$p")
      }
    }
  }
}
