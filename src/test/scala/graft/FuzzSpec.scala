package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.Extract

/** Structured mutation fuzzing: real container bytes with bit flips,
  * truncations, and splices must never escape the failure taxonomy
  * (errors never abort a batch — reference rika_command_spec.rb:147-160).
  */
class FuzzSpec extends AnyFunSuite {

  def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    try in.readAllBytes() finally in.close()
  }

  val targets = Seq("document.pdf", "document.docx", "document.doc", "image.jpg")

  /** Writer-generated bytes for the round-2 formats (no vendored fixture
    * needed — the writers are deterministic).
    */
  def generated: Seq[(String, Array[Byte])] = {
    import graft.corpus.{CfbWriter, EpubWriter, Mp3Writer, OdtWriter,
      PngWriter, PptxWriter, RtfWriter, TiffWriter, XlsxWriter}
    Seq(
      "gen.xlsx" -> XlsxWriter.write(XlsxWriter.Spec("t", "c",
        Vector(Vector("alpha", "42"), Vector("beta", "7.5")))),
      "gen.pptx" -> PptxWriter.write(PptxWriter.Spec("t", "c",
        Vector(Vector("one", "two"), Vector("three")))),
      "gen.png" -> PngWriter.write(PngWriter.Spec(33, 17, 5L)),
      "gen-complex.doc" -> CfbWriter.writeComplex(
        "one two three\n\nfour five six\n\nseven eight nine\n"),
      "gen.rtf" -> RtfWriter.write(RtfWriter.Spec("t", "a",
        Vector("alpha beta", "gamma delta"))),
      "gen.odt" -> OdtWriter.write(OdtWriter.Spec("t", "a",
        Vector("eins zwei", "drei vier"))),
      "gen.epub" -> EpubWriter.write(EpubWriter.Spec("t", "a",
        Vector(Vector("chapter one"), Vector("chapter two")))),
      "gen.tif" -> TiffWriter.write(TiffWriter.Spec(40, 30, "s")),
      "gen.mp3" -> Mp3Writer.write(Mp3Writer.Spec("t", "a", "b")),
      "gen.eml" -> graft.corpus.EmlWriter.write(graft.corpus.EmlWriter.Spec(
        "subject line", "a@example.org", "b@example.org",
        Vector("body paragraph one", "body paragraph two"), mode = 3)),
      "gen.zip" -> graft.corpus.ArchiveWriter.writeZip(Seq(
        "a.txt" -> "member one".getBytes("UTF-8"),
        "b.txt" -> "member two".getBytes("UTF-8"))),
      "gen.tgz" -> graft.corpus.ArchiveWriter.writeTarGz(Seq(
        "a.txt" -> "member one".getBytes("UTF-8"),
        "b.txt" -> "member two".getBytes("UTF-8"))),
      "gen.msg" -> graft.corpus.MsgWriter.write(graft.corpus.MsgWriter.Spec(
        "subject", "s@example.org", "t@example.org",
        Vector("body one", "body two"))),
      "gen.xls" -> graft.corpus.XlsBinWriter.write(graft.corpus.XlsBinWriter.Spec(
        "t", "a", Vector(Vector(Vector("alpha", "42"), Vector("beta", "7"))),
        splitSst = true)),
      "gen.ppt" -> graft.corpus.PptBinWriter.write(graft.corpus.PptBinWriter.Spec(
        Vector(Vector("one", "two"), Vector("three")))),
      "gen.wav" -> graft.corpus.WavWriter.write(graft.corpus.WavWriter.Spec(16000, 2, 1500)),
      "gen.bmp" -> graft.corpus.BmpWriter.write(graft.corpus.BmpWriter.Spec(64, 48)),
      "gen.webp" -> graft.corpus.WebpWriter.write(graft.corpus.WebpWriter.Spec(64, 48)),
      "gen.mp4" -> graft.corpus.Mp4Writer.write(graft.corpus.Mp4Writer.Spec(
        "isom", 1000, 60000L, 320, 240)),
      "gen.ods" -> graft.corpus.OdsWriter.write(graft.corpus.OdsWriter.Spec(
        "t", "a", Vector(Vector(Vector("alpha", "beta"), Vector("gamma", "delta"))))),
      "gen.odp" -> graft.corpus.OdpWriter.write(graft.corpus.OdpWriter.Spec(
        "t", "a", Vector(Vector("one", "two"), Vector("three")))),
      // round-4 shapes: every new parse path under mutation + truncation
      "gen-tables.mp4" -> graft.corpus.Mp4Writer.write(graft.corpus.Mp4Writer.Spec(
        "isom", 1000, 900L, 160, 120, mediaTimescale = 1000,
        sampleDeltas = Vector(100, 150, 100, 200, 100, 100, 50, 100),
        sampleSizes = Vector(400, 210, 220, 230, 440, 250, 260, 270),
        samplesPerChunk = Vector(3, 3, 2), keyframes = Vector(1, 5))),
      "gen-rc4.pdf" -> graft.corpus.PdfWriter.write(graft.corpus.PdfWriter.Spec(
        "T", "A", Vector(Vector("locked line one", "locked line two")),
        useKernSpaces = false, encrypt = "rc4")),
      "gen-aes.pdf" -> graft.corpus.PdfWriter.write(graft.corpus.PdfWriter.Spec(
        "T", "A", Vector(Vector("locked line one", "locked line two")),
        useKernSpaces = false, encrypt = "aes")),
      "gen-aes256.pdf" -> graft.corpus.PdfWriter.write(graft.corpus.PdfWriter.Spec(
        "T", "A", Vector(Vector("locked line one", "locked line two")),
        useKernSpaces = false, encrypt = "aes256")),
      "gen-xrefstream.pdf" -> graft.corpus.PdfWriter.write(graft.corpus.PdfWriter.Spec(
        "T", "A", Vector(Vector("indexed line one", "indexed line two")),
        useKernSpaces = false, xrefStream = true)),
      "gen-objstm.pdf" -> graft.corpus.PdfWriter.write(graft.corpus.PdfWriter.Spec(
        "T", "A", Vector(Vector("packed line one", "packed line two")),
        useKernSpaces = false, xrefStream = true, objStm = true)),
      "gen-lzw.pdf" -> graft.corpus.PdfWriter.write(graft.corpus.PdfWriter.Spec(
        "T", "A", Vector(Vector("coded line one", "coded line two")),
        useKernSpaces = false, xrefStream = true, xrefFilter = "lzw-pred",
        contentFilter = "lzw")),
      "gen.heic" -> graft.corpus.HeifWriter.write(
        graft.corpus.HeifWriter.Spec("heic", 640, 480)),
      "gen.avif" -> graft.corpus.HeifWriter.write(
        graft.corpus.HeifWriter.Spec("avif", 320, 240)),
      "gen-vbr.mp3" -> Mp3Writer.write(Mp3Writer.Spec("t", "a", "b",
        vbrFrames = 24)),
      "gen-bare.mp3" -> Mp3Writer.write(Mp3Writer.Spec("t", "a", "b",
        nFrames = 16, id3v2 = false, id3v1 = true)),
      "gen-meta.png" -> graft.corpus.PngWriterEx.write(graft.corpus.PngWriterEx.Spec(
        24, 18, 5L, texts = Seq("Title" -> "fuzzed"), dpi = 300,
        modified = "2024-01-02 03:04:05")),
      "gen-prog.jpg" -> graft.corpus.JpegWriterEx.write(graft.corpus.JpegWriterEx.Spec(
        40, 30, 7L, quality = 85, progressive = true,
        orientation = 6, dateTime = "2023:01:02 03:04:05",
        gps = Some((12.34, -56.78)))),
      "gen-vp8.webp" -> graft.corpus.Vp8WriterEx.write(graft.corpus.Vp8WriterEx.Spec(
        48, 36, 77, yacQi = 40)),
      "gen-vp8-parts.webp" -> graft.corpus.Vp8WriterEx.write(graft.corpus.Vp8WriterEx.Spec(
        40, 56, 78, nParts = 4, skipFlags = true)),
      "gen-vp8-filtered.webp" -> graft.corpus.Vp8WriterEx.write(graft.corpus.Vp8WriterEx.Spec(
        36, 44, 79, filterLevel = 30, filterSharpness = 2)),
      "gen-xform.webp" -> graft.corpus.WebpWriterEx.write(graft.corpus.WebpWriterEx.Spec(
        33, 27, 9L, subtractGreen = true, predictor = true, predSizeBits = 2,
        colorXform = true, metaGroups = 3, metaGroupBits = 2)),
      "gen-pal.webp" -> graft.corpus.WebpWriterEx.write(graft.corpus.WebpWriterEx.Spec(
        29, 21, 10L, useLz77 = false, paletteSize = 13)),
      "gen-eos.ogg" -> graft.corpus.OggWriter.write(graft.corpus.OggWriter.Spec(
        44100, 2, nSamples = 88200L)))
  }

  test("mutation fuzz: bit flips never throw (new formats)") {
    val rng = new java.util.SplittableRandom(21)
    for ((name, orig) <- generated; trial <- 0 until 80) {
      val b = orig.clone()
      val flips = 1 + rng.nextInt(8)
      for (_ <- 0 until flips) {
        val i = rng.nextInt(b.length)
        b(i) = (b(i) ^ (1 << rng.nextInt(8))).toByte
      }
      val out = Extract.extractBytes("any", b, Extract.Options(4096))
      assert(out.contentType.nonEmpty, s"$name trial $trial")
    }
    for ((name, orig) <- generated; trial <- 0 until 40) {
      val rng2 = new java.util.SplittableRandom(trial)
      val n = 1 + rng2.nextInt(orig.length)
      val out = Extract.extractBytes("any",
        java.util.Arrays.copyOf(orig, n), Extract.Options(4096))
      assert(out.contentType.nonEmpty, s"$name cut at $n")
    }
  }

  test("mutation fuzz: bit flips never throw") {
    val rng = new java.util.SplittableRandom(7)
    for (name <- targets; trial <- 0 until 120) {
      val b = fixture(name).clone()
      val flips = 1 + rng.nextInt(8)
      for (_ <- 0 until flips) {
        val i = rng.nextInt(b.length)
        b(i) = (b(i) ^ (1 << rng.nextInt(8))).toByte
      }
      val out = Extract.extractBytes("any", b, Extract.Options(4096))
      assert(out.contentType.nonEmpty, s"$name trial $trial")
    }
  }

  test("mutation fuzz: truncations never throw") {
    val rng = new java.util.SplittableRandom(11)
    for (name <- targets; trial <- 0 until 60) {
      val b = fixture(name)
      val n = 1 + rng.nextInt(b.length)
      val out = Extract.extractBytes("any",
        java.util.Arrays.copyOf(b, n), Extract.Options(4096))
      assert(out.contentType.nonEmpty, s"$name cut at $n")
    }
  }

  test("mutation fuzz: spliced frankenbytes never throw") {
    val rng = new java.util.SplittableRandom(13)
    val pool = targets.map(fixture)
    for (trial <- 0 until 100) {
      val a = pool(rng.nextInt(pool.size))
      val b = pool(rng.nextInt(pool.size))
      val cut = 1 + rng.nextInt(math.min(a.length, b.length) - 1)
      val spliced = java.util.Arrays.copyOf(a, cut) ++ b.drop(cut)
      val out = Extract.extractBytes("any", spliced, Extract.Options(4096))
      assert(out.contentType.nonEmpty, s"trial $trial")
    }
  }

  /** Writer-generated images, one or more per pixel decoder behind
    * [[graft.operators.Multimodal.decodePixels]].
    */
  def images: Seq[(String, Array[Byte])] = {
    import graft.corpus.{BmpWriterEx, GifWriter, JpegWriterEx, PngWriterEx,
      TiffWriterEx, Vp8WriterEx, WebpWriterEx}
    Seq(
      "baseline.jpg" -> JpegWriterEx.write(JpegWriterEx.Spec(40, 30, 3L,
        subsample = true, restartInterval = 2)),
      "progressive.jpg" -> JpegWriterEx.write(JpegWriterEx.Spec(40, 30, 4L,
        progressive = true)),
      "rgb.png" -> PngWriterEx.write(PngWriterEx.Spec(24, 18, 5L,
        colorType = 2, cycleFilters = true)),
      "adam7.png" -> PngWriterEx.write(PngWriterEx.Spec(24, 18, 6L,
        colorType = 3, interlaced = true)),
      "interlaced.gif" -> GifWriter.write(GifWriter.Spec(24, 18, 7L, interlaced = true)),
      "anim.gif" -> GifWriter.writeAnim(GifWriter.AnimSpec(24, 18, 8L, 3,
        transparency = true)),
      "rgb.bmp" -> BmpWriterEx.write(BmpWriterEx.Spec(24, 18, 9L)),
      "lzw.tif" -> TiffWriterEx.write(TiffWriterEx.Spec(24, 18, 10L,
        rgb = true, rowsPerStrip = 5, compression = 5)),
      "packbits.tif" -> TiffWriterEx.write(TiffWriterEx.Spec(24, 18, 11L,
        bigEndian = true, rowsPerStrip = 7, compression = 32773)),
      "vp8l.webp" -> WebpWriterEx.write(WebpWriterEx.Spec(33, 27, 12L,
        subtractGreen = true, predictor = true, predSizeBits = 2,
        colorXform = true, metaGroups = 3, metaGroupBits = 2)),
      "vp8l-pal.webp" -> WebpWriterEx.write(WebpWriterEx.Spec(29, 21, 13L,
        useLz77 = false, paletteSize = 13)),
      "vp8.webp" -> Vp8WriterEx.write(Vp8WriterEx.Spec(48, 36, 14L,
        nParts = 2, skipFlags = true, filterLevel = 20)))
  }

  test("pixel-decoder fuzz: mutated images never throw from the analysis calls") {
    import graft.kernel.Magic
    import graft.operators.Multimodal
    // the two calls Multimodal.imageAnalysis makes outside any catch
    def failure(b: Array[Byte]): Option[String] =
      try {
        val kind = Magic.sniff(b)
        Multimodal.imageMeta(b, kind)
        Multimodal.decodePixels(b, kind)
        None
      } catch { case t: Throwable => Some(t.toString) }
    val pool = images
    val rng = new java.util.SplittableRandom(17)
    val failures = Seq.newBuilder[String]
    for ((name, orig) <- pool) {
      assert(failure(orig).isEmpty, s"$name: unmutated bytes must decode")
      for (trial <- 0 until 150) {
        val b = orig.clone()
        for (_ <- 0 until 1 + rng.nextInt(8)) {
          val i = rng.nextInt(b.length)
          b(i) = (b(i) ^ (1 << rng.nextInt(8))).toByte
        }
        failure(b).foreach(e => failures += s"$name flip $trial: $e")
      }
      for (trial <- 0 until 50) {
        val n = 1 + rng.nextInt(orig.length)
        failure(java.util.Arrays.copyOf(orig, n))
          .foreach(e => failures += s"$name cut at $n: $e")
      }
      for (trial <- 0 until 30) {
        val (other, tail) = pool(rng.nextInt(pool.size))
        val cut = 1 + rng.nextInt(math.min(orig.length, tail.length) - 1)
        failure(java.util.Arrays.copyOf(orig, cut) ++ tail.drop(cut))
          .foreach(e => failures += s"$name + $other at $cut: $e")
      }
    }
    val all = failures.result()
    assert(all.isEmpty, s"${all.size} throws:\n" + all.take(20).mkString("\n"))
  }

  test("crafted PDF ref cycles resolve without StackOverflowError") {
    // mutation fuzz can't surface structural cycles — craft them directly.
    // A StackOverflowError is NOT NonFatal, so an unguarded deref would
    // kill the Spark task from one poison document.
    def b(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    val twoCycle = b("%PDF-1.4\n1 0 obj 2 0 R endobj\n2 0 obj 1 0 R endobj\n" +
      "trailer << /Root 1 0 R >>\n%%EOF")
    val selfRef = b("%PDF-1.4\n1 0 obj 1 0 R endobj\n" +
      "trailer << /Root 1 0 R /Info 1 0 R >>\n%%EOF")
    // cyclic /Kids with fan-out 4: unguarded walk is 4^depth traversals
    val kidsCycle = b("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [2 0 R 2 0 R 2 0 R 2 0 R] /Count 4 >> endobj\n" +
      "trailer << /Root 1 0 R >>\n%%EOF")
    for ((bytes, tag) <- Seq((twoCycle, "two-cycle"), (selfRef, "self-ref"),
        (kidsCycle, "kids-cycle"))) {
      val t0 = System.nanoTime()
      val out = Extract.extractBytes("pdf", bytes, Extract.Options(4096))
      assert(out.contentType.nonEmpty, tag)
      assert((System.nanoTime() - t0) < 5e9, s"$tag took too long (fan-out bomb?)")
    }
  }

  test("zip-bomb DOCX part hits the inflate bound, not OOM") {
    // word/document.xml that inflates to 512 MiB (> the 256 MiB bound)
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("[Content_Types].xml"))
    zos.write("<Types/>".getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    val chunk = new Array[Byte](1 << 20) // zeros: ~1000x deflate ratio
    for (_ <- 0 until 512) zos.write(chunk)
    zos.closeEntry()
    zos.close()
    val res = Extract.extractBytes("docx", bos.toByteArray, Extract.Options(4096))
    assert(res.issue.contains(Extract.IssueParseError) || res.content.isEmpty)
  }

  test("CFB FAT sector cycle terminates with bounded output") {
    // header + FAT where sector 0 chains to itself; directory start = 0.
    // Unguarded, chain() would emit maxSectors * sectorSize ~ 4 GiB.
    val bytes = new Array[Byte](512 * 3)
    val magic = Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte)
    System.arraycopy(magic, 0, bytes, 0, 8)
    bytes(30) = 9 // sector size 512
    def putU32(off: Int, v: Long): Unit = {
      bytes(off) = (v & 0xff).toByte; bytes(off + 1) = ((v >> 8) & 0xff).toByte
      bytes(off + 2) = ((v >> 16) & 0xff).toByte; bytes(off + 3) = ((v >> 24) & 0xff).toByte
    }
    putU32(48, 1)           // first directory sector = 1
    putU32(76, 0)           // DIFAT[0] = FAT at sector 0
    putU32(80, 0xffffffffL) // DIFAT[1] = free
    putU32(512 + 0, 0)      // FAT[0]: sector 0 -> itself (cycle)
    putU32(512 + 4, 1)      // FAT[1]: dir sector 1 -> itself (cycle)
    val t0 = System.nanoTime()
    val res = Extract.extractBytes("doc", bytes, Extract.Options(4096))
    assert(res.contentType.nonEmpty)
    assert((System.nanoTime() - t0) < 5e9, "FAT cycle not bounded")
  }

  test("decompression bomb is bounded, not fatal") {
    // a PDF whose content stream inflates to ~1 GiB must hit the 256 MiB
    // guard and surface as parse_error/empty, not OOM
    val big = new Array[Byte](64 << 20) // 64 MiB of zeros -> tiny deflate
    val d = new java.util.zip.Deflater()
    d.setInput(big); d.finish()
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    val packed = bos.toByteArray
    // content stream claims to be 20x: repeat the deflate block via PDF
    // array of the same stream object reference
    val out = new java.io.ByteArrayOutputStream()
    def w(x: String): Unit = out.write(x.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [ " +
      (1 to 20).map(_ => "4 0 R").mkString(" ") + " ] >>\nendobj\n")
    w(s"4 0 obj\n<< /Length ${packed.length} /Filter /FlateDecode >>\nstream\n")
    out.write(packed)
    w("\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n")
    val res = Extract.extractBytes("pdf", out.toByteArray, Extract.Options(4096))
    // either graceful parse_error or empty content — never an OOM/throw
    assert(res.contentType.nonEmpty)
  }
}
