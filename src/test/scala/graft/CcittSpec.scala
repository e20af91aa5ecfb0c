package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.{CcittFax, PdfKernel}
import graft.corpus.PdfWriter

/** CCITT G3/G4 fax codec (kernel/CcittFax.scala) — the compression
  * scanned PDFs use for page images (reference reaches it through its
  * delegate parser stack, /root/reference/README.md:3-8).
  *
  * Three gates:
  *  1. encoder/decoder round-trips across all three PDF /K regimes,
  *     both EncodedByteAlign settings and adversarial plane shapes;
  *  2. bitstream conformance: system-libtiff-encoded G4 / G3-1D / G3-2D
  *     streams (committed fixtures from tools/ccitt_conformance.py gen)
  *     decode bit-exactly — and the encoder's streams decode exactly in
  *     libtiff (48/48, run via tools/ccitt_conformance.py check);
  *  3. the PDF integration: PdfWriter faxK images surface through
  *     pageImages metadata and their stream round-trips to the analytic
  *     plane exactly (lossless, unlike the DCT path's mae bound).
  */
class CcittSpec extends AnyFunSuite {

  private def plane(cols: Int, rows: Int, kind: String, seed: Long): Array[Byte] = {
    val rnd = new java.util.Random(seed)
    val stride = (cols + 7) / 8
    val px = new Array[Byte](stride * rows)
    def set(x: Int, y: Int): Unit =
      px(y * stride + (x >> 3)) = (px(y * stride + (x >> 3)) | (0x80 >> (x & 7))).toByte
    kind match {
      case "noise" =>
        rnd.nextBytes(px)
        // mask bits past cols so comparisons are clean
        if ((cols & 7) != 0) {
          val mask = ((0xff00 >> (cols & 7)) & 0xff).toByte
          for (y <- 0 until rows) px(y * stride + stride - 1) = (px(y * stride + stride - 1) & mask).toByte
        }
      case "runs" =>
        for (y <- 0 until rows; x <- 0 until cols if (x / (3 + y % 7)) % 2 == 0) set(x, y)
      case "black" =>
        for (y <- 0 until rows; x <- 0 until cols) set(x, y)
      case "edges" =>
        for (y <- 0 until rows) { set(0, y); set(cols - 1, y) }
      case _ => () // white
    }
    px
  }

  test("CCITT round-trips: K=-1/0/4 x byteAlign x plane shapes, bit-exact") {
    var n = 0
    for {
      (cols, rows) <- Seq((64, 48), (100, 33), (17, 9), (8, 8), (63, 21))
      k <- Seq(-1, 0, 4)
      byteAlign <- Seq(false, true)
      kind <- Seq("noise", "runs", "black", "edges", "white")
    } {
      val px = plane(cols, rows, kind, cols * 1000L + rows * 31L + k)
      val enc = CcittFax.encode(px, cols, rows, k, byteAlign)
      CcittFax.decode(enc, k, cols, rows, blackIs1 = true, byteAlign = byteAlign) match {
        case Some((dec, nr)) =>
          assert(nr == rows, s"$kind ${cols}x$rows k=$k align=$byteAlign rows")
          assert(java.util.Arrays.equals(dec, px),
            s"$kind ${cols}x$rows k=$k align=$byteAlign pixels")
        case None => fail(s"$kind ${cols}x$rows k=$k align=$byteAlign rejected")
      }
      n += 1
    }
    assert(n == 150)
  }

  test("CCITT polarity: PDF default BlackIs1=false inverts the plane") {
    val px = plane(40, 12, "runs", 7)
    val enc = CcittFax.encode(px, 40, 12, -1, byteAlign = false)
    val Some((dec, _)) = CcittFax.decode(enc, -1, 40, 12, blackIs1 = false, byteAlign = false)
    val inv = px.map(b => (~b).toByte)
    assert(java.util.Arrays.equals(dec, inv))
  }

  test("CCITT never throws on malformed input (fuzz)") {
    val rnd = new java.util.Random(0xCC177)
    for (_ <- 0 until 300) {
      val data = new Array[Byte](1 + rnd.nextInt(200))
      rnd.nextBytes(data)
      for (k <- Seq(-1, 0, 4))
        CcittFax.decode(data, k, 1 + rnd.nextInt(300), 1 + rnd.nextInt(40),
          blackIs1 = rnd.nextBoolean(), byteAlign = rnd.nextBoolean()) // must not throw
    }
  }

  test("CCITT conformance: system-libtiff G4/G3-1D/G3-2D streams decode bit-exactly") {
    val dir = new java.io.File("src/test/resources/ccitt")
    val bins = dir.listFiles().map(_.getName).filter(_.endsWith(".bin")).sorted
    assert(bins.length == 15, "fixture set: 5 planes x 3 codings")
    for (f <- bins) {
      val stem = f.stripSuffix(".bin")
      val base = stem.substring(0, stem.lastIndexOf('_'))
      val label = stem.substring(stem.lastIndexOf('_') + 1)
      val Array(cols, rows) = new String(
        java.nio.file.Files.readAllBytes(new java.io.File(dir, base + ".dims").toPath),
        "UTF-8").trim.split(' ').map(_.toInt)
      val k = label match { case "g4" => -1; case "g31d" => 0; case _ => 1 }
      val enc = java.nio.file.Files.readAllBytes(new java.io.File(dir, f).toPath)
      val exp = java.nio.file.Files.readAllBytes(new java.io.File(dir, base + ".pix").toPath)
      CcittFax.decode(enc, k, cols, rows, blackIs1 = true, byteAlign = false) match {
        case Some((dec, nr)) =>
          assert(nr == rows, s"$stem rows")
          assert(java.util.Arrays.equals(dec, exp), s"$stem pixels")
        case None => fail(s"$stem rejected")
      }
    }
  }

  test("E3 fax: CCITTFaxDecode page images — metadata surfaced, text unchanged, plane exact") {
    val stanzas = Vector(Vector("Scan Title"),
      Vector("first line of text", "second line of text", "third line here"))
    val plain = PdfWriter.Spec("Scan Title", "An Author", stanzas, useKernSpaces = false)
    for (k <- Seq(-1, 0, 4)) {
      val spec = plain.copy(imageSeed = 42L, faxK = Some(k))
      val bytes = PdfWriter.write(spec)
      val out = PdfKernel.extract(bytes)
      assert(out.text == PdfWriter.expectedText(spec), s"k=$k text")
      assert(out.metadata.get("pdf:imageCount").contains("1"), s"k=$k count")
      assert(out.metadata.get("pdf:imageDimensions")
        .contains(s"${PdfWriter.FaxW}x${PdfWriter.FaxH}"), s"k=$k dims")
      assert(out.metadata.get("pdf:imageFilters").contains("CCITTFaxDecode"), s"k=$k filter")
      // pull the raw fax stream back out of the PDF and decode: bilevel
      // fax is lossless, so the plane must be the analytic one EXACTLY
      val expStream = graft.kernel.CcittFax.encode(
        PdfWriter.faxPlane(42L), PdfWriter.FaxW, PdfWriter.FaxH, k, byteAlign = false)
      val hay = bytes
      val idx = indexOfSlice(hay, expStream)
      assert(idx > 0, s"k=$k embedded fax stream present verbatim")
      val Some((dec, nr)) = CcittFax.decode(expStream, k, PdfWriter.FaxW, PdfWriter.FaxH,
        blackIs1 = true, byteAlign = false)
      assert(nr == PdfWriter.FaxH)
      assert(java.util.Arrays.equals(dec, PdfWriter.faxPlane(42L)), s"k=$k plane exact")
    }
    // encrypted variant: the fax stream is RC4-wrapped but still surfaces
    val encBytes = PdfWriter.write(plain.copy(imageSeed = 42L, faxK = Some(-1), encrypt = "rc4"))
    val encOut = PdfKernel.extract(encBytes)
    assert(encOut.metadata.get("pdf:imageFilters").contains("CCITTFaxDecode"))
  }

  test("JBIG2 embedded round-trips: MMR generic region planes decode bit-exactly") {
    for {
      (cols, rows) <- Seq((64, 48), (100, 33), (17, 9), (63, 21))
      kind <- Seq("noise", "runs", "black", "edges", "white")
    } {
      val px = plane(cols, rows, kind, cols * 7919L + rows)
      val stream = PdfWriter.jbig2Embedded(px, cols, rows)
      graft.kernel.Jbig2.decodeEmbedded(stream) match {
        case Some((page, w, h)) =>
          assert(w == cols && h == rows, s"$kind ${cols}x$rows dims")
          assert(java.util.Arrays.equals(page, px), s"$kind ${cols}x$rows plane")
        case None => fail(s"$kind ${cols}x$rows: decode failed")
      }
    }
  }

  test("JBIG2 region offsets: the region ORs onto the page at (x,y), bit addressing") {
    val cols = 24; val rows = 10
    val px = plane(cols, rows, "runs", 99L)
    for ((rx, ry) <- Seq((8, 4), (3, 1))) { // byte-aligned and not
      val stream = PdfWriter.jbig2Embedded(px, cols, rows, rx, ry)
      val Some((page, w, h)) = graft.kernel.Jbig2.decodeEmbedded(stream)
      assert(w == rx + cols && h == ry + rows)
      val stride = (w + 7) / 8
      val rStride = (cols + 7) / 8
      for (y <- 0 until h; x <- 0 until w) {
        val got = (page(y * stride + (x >> 3)) >> (7 - (x & 7))) & 1
        val want =
          if (x >= rx && x < rx + cols && y >= ry && y < ry + rows)
            (px((y - ry) * rStride + ((x - rx) >> 3)) >> (7 - ((x - rx) & 7))) & 1
          else 0
        assert(got == want, s"($rx,$ry) pixel ($x,$y)")
      }
    }
  }

  test("MQ coder: random (bit, context) streams round-trip exactly") {
    // the Vp8 bool-coder discipline: the encoder/decoder pair is pinned
    // by an adversarial random stream, not just plane-shaped data
    val rnd = new java.util.Random(0x5EED
    )
    for (round <- 0 until 20) {
      val n = 5000
      val bits = Array.fill(n)(rnd.nextInt(2))
      val ctxs = Array.fill(n)(rnd.nextInt(1 << 16))
      val cxE = new Array[Byte](1 << 16)
      val enc = new graft.kernel.MqCoder.Enc
      for (i <- 0 until n) enc.encode(cxE, ctxs(i), bits(i))
      val data = enc.flush()
      val cxD = new Array[Byte](1 << 16)
      val dec = new graft.kernel.MqCoder.Dec(data)
      for (i <- 0 until n)
        assert(dec.decode(cxD, ctxs(i)) == bits(i), s"round $round bit $i")
    }
  }

  test("MQ integer/ID coding (Annex A): random values round-trip, OOB preserved") {
    val rnd = new java.util.Random(0xA11CE)
    for (round <- 0 until 10) {
      val n = 2000
      // values across every range bucket + OOB markers
      val vals: Array[Option[Int]] = Array.fill(n) {
        rnd.nextInt(8) match {
          case 0 => None // OOB
          case 1 => Some(rnd.nextInt(4) * (if (rnd.nextBoolean()) 1 else -1))
          case 2 => Some((4 + rnd.nextInt(16)) * (if (rnd.nextBoolean()) 1 else -1))
          case 3 => Some((20 + rnd.nextInt(64)) * (if (rnd.nextBoolean()) 1 else -1))
          case 4 => Some((84 + rnd.nextInt(256)) * (if (rnd.nextBoolean()) 1 else -1))
          case 5 => Some((340 + rnd.nextInt(4096)) * (if (rnd.nextBoolean()) 1 else -1))
          case 6 => Some((4436 + rnd.nextInt(1 << 20)) * (if (rnd.nextBoolean()) 1 else -1))
          case _ => Some(0)
        }
      }
      val ids = Array.fill(n)(rnd.nextInt(64))
      val cxIntE = new Array[Byte](512); val cxIdE = new Array[Byte](128)
      val enc = new graft.kernel.MqCoder.Enc
      for (i <- 0 until n) {
        vals(i) match {
          case Some(v) => enc.int(cxIntE, v)
          case None    => enc.int(cxIntE, 0, oob = true)
        }
        enc.id(cxIdE, ids(i), 6)
      }
      val data = enc.flush()
      val cxIntD = new Array[Byte](512); val cxIdD = new Array[Byte](128)
      val dec = new graft.kernel.MqCoder.Dec(data)
      for (i <- 0 until n) {
        assert(dec.int(cxIntD) == vals(i), s"round $round val $i")
        assert(dec.id(cxIdD, 6) == ids(i), s"round $round id $i")
      }
    }
  }

  test("JBIG2 arithmetic (MQ, template 0): generic region planes decode bit-exactly") {
    for {
      (cols, rows) <- Seq((64, 48), (100, 33), (17, 9), (63, 21), (8, 8))
      kind <- Seq("noise", "runs", "black", "edges", "white")
    } {
      val px = plane(cols, rows, kind, cols * 31L + rows * 7L)
      for (tpgdon <- Seq(false, true); template <- 0 to 3) {
        val stream = PdfWriter.jbig2Embedded(px, cols, rows,
          arith = true, tpgdon = tpgdon, template = template)
        graft.kernel.Jbig2.decodeEmbedded(stream) match {
          case Some((page, w, h)) =>
            assert(w == cols && h == rows,
              s"$kind ${cols}x$rows tp=$tpgdon gb=$template dims")
            assert(java.util.Arrays.equals(page, px),
              s"$kind ${cols}x$rows tp=$tpgdon gb=$template plane")
          case None =>
            fail(s"$kind ${cols}x$rows tp=$tpgdon gb=$template: decode failed")
        }
        // truncations never crash
        graft.kernel.Jbig2.decodeEmbedded(
          java.util.Arrays.copyOf(stream, stream.length / 2))
      }
      // TPGDON pays off on repeated non-trivial rows: the all-black
      // plane is typical from row 1 on, so the body shrinks (all-white
      // is already near-free in the adaptive contexts)
      if (kind == "black") {
        val a = PdfWriter.jbig2Embedded(px, cols, rows, arith = true)
        val b = PdfWriter.jbig2Embedded(px, cols, rows, arith = true, tpgdon = true)
        assert(b.length < a.length, s"$kind tpgdon shrinks")
      }
    }
    // PDF end-to-end: the arith variant surfaces like the MMR one
    val stanzas = Vector(Vector("Scan Title"),
      Vector("body line one", "body line two", "body line three"))
    val spec = PdfWriter.Spec("Scan Title", "An Author", stanzas,
      useKernSpaces = false, imageSeed = 42L, jbig2 = true, jbig2Arith = true)
    val out = PdfKernel.extract(PdfWriter.write(spec))
    assert(out.text == PdfWriter.expectedText(spec))
    assert(out.metadata.get("pdf:imageFilters").contains("JBIG2Decode"))
    val expStream = PdfWriter.jbig2Embedded(
      PdfWriter.faxPlane(42L), PdfWriter.FaxW, PdfWriter.FaxH, arith = true)
    val Some((page, _, _)) = graft.kernel.Jbig2.decodeEmbedded(expStream)
    assert(java.util.Arrays.equals(page, PdfWriter.faxPlane(42L)))
  }

  test("JBIG2 symbol/text regions: dictionary + placement streams decode bit-exactly") {
    for (seed <- 1L to 12L) {
      val (stream, expected) = PdfWriter.jbig2SymbolEmbedded(seed, 96, 64)
      graft.kernel.Jbig2.decodeEmbedded(stream) match {
        case Some((page, w, h)) =>
          assert(w == 96 && h == 64, s"seed $seed dims")
          assert(java.util.Arrays.equals(page, expected), s"seed $seed plane")
        case None => fail(s"seed $seed: decode failed")
      }
      // truncation anywhere: no crash
      graft.kernel.Jbig2.decodeEmbedded(
        java.util.Arrays.copyOf(stream, stream.length / 2))
      graft.kernel.Jbig2.decodeEmbedded(
        java.util.Arrays.copyOf(stream, 7))
    }
    // odd page sizes and single-symbol dictionaries stay exact
    for ((w, h) <- Seq((33, 21), (17, 40))) {
      val (stream, expected) = PdfWriter.jbig2SymbolEmbedded(77L + w, w, h)
      val Some((page, pw, ph)) = graft.kernel.Jbig2.decodeEmbedded(stream)
      assert(pw == w && ph == h)
      assert(java.util.Arrays.equals(page, expected), s"${w}x$h")
    }
    // PDF end-to-end: symbol-coded JBIG2 image surfaces like the rest
    val stanzas = Vector(Vector("Scan Title"),
      Vector("body line one", "body line two", "body line three"))
    val spec = PdfWriter.Spec("Scan Title", "An Author", stanzas,
      useKernSpaces = false, imageSeed = 42L, jbig2 = true, jbig2SymbolText = true)
    val out = PdfKernel.extract(PdfWriter.write(spec))
    assert(out.text == PdfWriter.expectedText(spec))
    assert(out.metadata.get("pdf:imageFilters").contains("JBIG2Decode"))
  }

  test("JBIG2 never throws on malformed input (fuzz)") {
    val rnd = new java.util.Random(7L)
    for (_ <- 0 until 200) {
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      graft.kernel.Jbig2.decodeEmbedded(b) // must not throw
    }
    // a valid stream truncated anywhere must not throw either
    val good = PdfWriter.jbig2Embedded(plane(64, 48, "runs", 5L), 64, 48)
    for (cut <- 0 until good.length by 7)
      graft.kernel.Jbig2.decodeEmbedded(java.util.Arrays.copyOf(good, cut))
  }

  test("CCITT and JBIG2 never throw on mutants of valid encoder output (fuzz)") {
    // seeds are valid streams from every encoder the decoders pair with, so
    // mutants reach the row/region decoding loops, not just header checks
    val planes = Seq((64, 48, "noise"), (100, 33, "runs"), (17, 9, "edges"))
      .map { case (c, r, kind) => (c, r, plane(c, r, kind, c * 13L + r)) }
    // (name, stream, decode) per seed; decode must return, never throw
    type Seed = (String, Array[Byte], Array[Byte] => Any)
    val ccitt: Seq[Seed] = for {
      (cols, rows, px) <- planes
      k <- Seq(-1, 0, 4)
      byteAlign <- Seq(false, true)
    } yield (s"ccitt ${cols}x$rows k=$k align=$byteAlign",
      CcittFax.encode(px, cols, rows, k, byteAlign),
      (b: Array[Byte]) => CcittFax.decode(b, k, cols, rows, blackIs1 = true, byteAlign))
    val jbig2Decode = (b: Array[Byte]) => graft.kernel.Jbig2.decodeEmbedded(b)
    val mq: Seq[Seed] = for {
      (cols, rows, px) <- planes
      template <- 0 to 3
      tpgdon <- Seq(false, true)
    } yield (s"jbig2 mq ${cols}x$rows gb=$template tp=$tpgdon",
      PdfWriter.jbig2Embedded(px, cols, rows, arith = true, tpgdon = tpgdon,
        template = template), jbig2Decode)
    val symbol: Seq[Seed] = (1L to 6L).map { seed =>
      (s"jbig2 symbol $seed", PdfWriter.jbig2SymbolEmbedded(seed, 96, 64)._1, jbig2Decode)
    }
    val rng = new java.util.SplittableRandom(0xF022L)
    val failures = Seq.newBuilder[String]
    def run(name: String, b: Array[Byte], decode: Array[Byte] => Any): Unit =
      try decode(b) catch { case t: Throwable => failures += s"$name: $t" }
    for (family <- Seq(ccitt, mq, symbol); (name, orig, decode) <- family) {
      for (trial <- 0 until 60) {
        val b = orig.clone()
        for (_ <- 0 until 1 + rng.nextInt(6)) {
          val i = rng.nextInt(b.length)
          b(i) = (b(i) ^ (1 << rng.nextInt(8))).toByte
        }
        run(s"$name flip $trial", b, decode)
      }
      for (_ <- 0 until 20) {
        val n = rng.nextInt(orig.length)
        run(s"$name cut at $n", java.util.Arrays.copyOf(orig, n), decode)
      }
      for (_ <- 0 until 20) {
        val (other, tail, _) = family(rng.nextInt(family.size))
        val cut = rng.nextInt(math.min(orig.length, tail.length))
        run(s"$name + $other at $cut",
          java.util.Arrays.copyOf(orig, cut) ++ tail.drop(cut), decode)
      }
    }
    val all = failures.result()
    assert(all.isEmpty, s"${all.size} throws:\n" + all.take(20).mkString("\n"))
  }

  test("E3 jbig2: JBIG2Decode page images — metadata surfaced, text unchanged, plane exact") {
    val stanzas = Vector(Vector("Scan Title"),
      Vector("first line of text", "second line of text", "third line here"))
    val spec = PdfWriter.Spec("Scan Title", "An Author", stanzas,
      useKernSpaces = false, imageSeed = 42L, jbig2 = true)
    val bytes = PdfWriter.write(spec)
    val out = PdfKernel.extract(bytes)
    assert(out.text == PdfWriter.expectedText(spec))
    assert(out.metadata.get("pdf:imageCount").contains("1"))
    assert(out.metadata.get("pdf:imageDimensions")
      .contains(s"${PdfWriter.FaxW}x${PdfWriter.FaxH}"))
    assert(out.metadata.get("pdf:imageFilters").contains("JBIG2Decode"))
    // the embedded segment stream sits verbatim in the PDF; its decode is
    // the analytic plane exactly (JBIG2 MMR is lossless)
    val expStream = PdfWriter.jbig2Embedded(
      PdfWriter.faxPlane(42L), PdfWriter.FaxW, PdfWriter.FaxH)
    assert(indexOfSlice(bytes, expStream) > 0, "embedded JBIG2 stream present")
    val Some((page, w, h)) = graft.kernel.Jbig2.decodeEmbedded(expStream)
    assert(w == PdfWriter.FaxW && h == PdfWriter.FaxH)
    assert(java.util.Arrays.equals(page, PdfWriter.faxPlane(42L)))
  }

  private def indexOfSlice(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = 0
    while (i + needle.length <= hay.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
