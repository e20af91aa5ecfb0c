package graft.corpus

import java.util.{Locale, SplittableRandom}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.spark.{DocRow, IcebergLite, MediaRow, Span}
import graft.kernel.Extract

/** Deterministic corpus generator (BASELINE.json input_hint shape).
  *
  * Every doc is a pure function of (seed, index) — independent of Spark
  * partitioning — so tests, verify and bench runs at any parallelism see
  * byte-identical input (the sandbox stand-in for cluster invariance).
  *
  * Each doc also carries an analytically-known golden output span
  * sequence: the writers know exactly what text they embedded, so the
  * extraction pipeline is verified against generator truth, not against
  * itself.
  */
object Gen {

  val Seed = 42L

  final case class Built(
      doc_id: String,
      spans: Seq[Span],
      media: Seq[MediaRow],
      golden: Seq[Span],
      size_class: Int,
      kind_major: String)

  // splitmix64 scramble: decorrelates doc indices under any seed.
  private def mix(seed: Long, i: Long): Long = {
    var z = seed + i * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def build(seed: Long, i: Long): Built = {
    val rng = new SplittableRandom(mix(seed, i))
    val docId = "doc-%09d".formatLocal(Locale.ROOT, i)
    val roll = rng.nextInt(100)
    val lang = pickLang(rng)

    val pieces: Vector[Piece] =
      if (roll < 18) Vector(txtPiece(rng, lang, giant = rng.nextInt(100) < 2))
      else if (roll < 30) Vector(htmlPiece(rng, lang))
      else if (roll < 42) Vector(pdfPiece(rng, lang, docId, 0, giant = rng.nextInt(100) < 3))
      else if (roll < 48) Vector(docxPiece(rng, lang, docId, 0))
      else if (roll < 52) Vector(xlsxPiece(rng, lang, docId, 0))
      else if (roll < 55) Vector(pptxPiece(rng, lang, docId, 0))
      else if (roll < 58) Vector(rtfPiece(rng, lang, docId, 0))
      else if (roll < 60) Vector(odtPiece(rng, lang, docId, 0))
      else if (roll < 61) Vector(odsPiece(rng, lang, docId, 0))
      else if (roll < 62) Vector(odpPiece(rng, lang, docId, 0))
      else if (roll < 64) Vector(epubPiece(rng, lang, docId, 0))
      else if (roll < 66) Vector(jpegPiece(rng, docId, 0))
      else if (roll < 68) Vector(pngPiece(rng, docId, 0))
      else if (roll < 69) Vector(tiffPiece(rng, docId, 0))
      else if (roll < 70) Vector(mp3Piece(rng, lang, docId, 0))
      else if (roll < 71) Vector(bmpPiece(rng, docId, 0))
      else if (roll < 72) Vector(webpPiece(rng, docId, 0))
      else if (roll < 73) Vector(rng.nextInt(5) match {
        case 0 => flacPiece(rng, docId, 0)
        case 1 => oggPiece(rng, docId, 0)
        case _ => wavPiece(rng, docId, 0)
      })
      else if (roll < 74) Vector(
        if (rng.nextInt(3) == 0) mkvPiece(rng, lang, docId, 0)
        else mp4Piece(rng, docId, 0))
      else if (roll < 77) Vector(docPiece(rng, docId, 0))
      else if (roll < 79) Vector(xlsPiece(rng, lang, docId, 0))
      else if (roll < 81) Vector(pptPiece(rng, lang, docId, 0))
      else if (roll < 83) Vector(emlPiece(rng, lang, docId, 0))
      else if (roll < 84) Vector(
        if (rng.nextInt(3) == 0) sevenZPiece(rng, lang, docId, 0)
        else zipPiece(rng, lang, docId, 0))
      else if (roll < 85) Vector(targzPiece(rng, lang, docId, 0))
      else if (roll < 87) Vector(subtextPiece(rng, lang, docId, 0))
      else if (roll < 88) Vector(msgPiece(rng, lang, docId, 0))
      else if (roll < 89) Vector(rng.nextInt(3) match {
        case 0 => binPiece(rng, docId, 0)
        case 1 => exoticPiece(rng, docId, 0)
        case _ => miscMediaPiece(rng, docId, 0)
      })
      else if (roll < 90) Vector(emptyPiece(rng, docId, 0))
      else if (roll < 91) Vector(gifPiece(rng, docId, 0))
      else { // interleaved multi-span doc
        val n = if (rng.nextInt(100) < 5) 16 + rng.nextInt(17) else 2 + rng.nextInt(7)
        Vector.tabulate(n) { k =>
          rng.nextInt(15) match {
            case 0     => txtPiece(rng, lang, giant = false)
            case 1     => htmlPiece(rng, lang)
            case 2     => pdfPiece(rng, lang, docId, k, giant = false)
            case 3     => docxPiece(rng, lang, docId, k)
            case 4     => jpegPiece(rng, docId, k)
            case 5     => xlsxPiece(rng, lang, docId, k)
            case 6     => pptxPiece(rng, lang, docId, k)
            case 7     => pngPiece(rng, docId, k)
            case 8     => rtfPiece(rng, lang, docId, k)
            case 9     => odtPiece(rng, lang, docId, k)
            case 10    => tiffPiece(rng, docId, k)
            case 11    => emlPiece(rng, lang, docId, k)
            case 12    => subtextPiece(rng, lang, docId, k)
            case 13    => gifPiece(rng, docId, k)
            case _     => binPiece(rng, docId, k)
          }
        }
      }

    val spans = pieces.zipWithIndex.map { case (p, k) => p.input.copy(offset = k) }
    val golden = pieces.flatMap(_.golden).zipWithIndex
      .map { case (s, k) => s.copy(offset = k) }
    val media = pieces.flatMap(_.media)
    val payloadBytes = pieces.map(_.payloadSize).sum.max(1)
    val sizeClass = (math.log(payloadBytes.toDouble) / math.log(4.0)).toInt
    Built(docId, spans, media, golden, sizeClass, pieces.head.kind)
  }

  private def pickLang(rng: SplittableRandom): String = {
    val r = rng.nextInt(29)
    if (r < 4) "en" else TextGen.languages(r - 3) // en ~1/7, 25 others equal
  }

  /** One input span + its side-media + its expected output spans. */
  private final case class Piece(
      kind: String,
      input: Span,
      media: Seq[MediaRow],
      golden: Seq[Span],
      payloadSize: Long)

  private def textGolden(content: String): Seq[Span] =
    Extract.blocksOf(content).map(b => Span("text", b, null, -1))

  private def txtPiece(rng: SplittableRandom, lang: String, giant: Boolean): Piece = {
    val nParas = if (giant) 100 + rng.nextInt(200) else 1 + rng.nextInt(8)
    val paras = Vector.tabulate(nParas)(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(4)))
    val content = paras.mkString("\n\n")
    Piece("txt", Span("txt", content, null, -1), Nil, textGolden(content), content.length.toLong)
  }

  private def htmlPiece(rng: SplittableRandom, lang: String): Piece = {
    val spec = HtmlWriter.Spec(
      TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, lang),
      Vector.tabulate(1 + rng.nextInt(5))(_ => TextGen.paragraph(rng, lang, 2 + rng.nextInt(3))),
      // ~1-in-4 pages carry a data table in the main content
      tables = if (rng.nextInt(4) == 0)
        Vector(Vector.tabulate(2 + rng.nextInt(3))(_ =>
          Vector.tabulate(2 + rng.nextInt(3))(_ => TextGen.titleLine(rng, lang))))
      else Vector.empty,
      // ~1-in-4 carry a bulleted list (short items survive via the
      // preceded-by-core list-run rule)
      lists = if (rng.nextInt(4) == 0)
        Vector(Vector.tabulate(2 + rng.nextInt(4))(_ => TextGen.titleLine(rng, lang)))
      else Vector.empty)
    val html = HtmlWriter.write(spec, rng)
    val content = HtmlWriter.expectedBlocks(spec).mkString("\n\n")
    Piece("html", Span("html", html, null, -1), Nil, textGolden(content), html.length.toLong)
  }

  private def pdfPiece(rng: SplittableRandom, lang: String, docId: String,
      k: Int, giant: Boolean): Piece = {
    val nStanzas = if (giant) 40 + rng.nextInt(80) else 2 + rng.nextInt(5)
    val stanzas = Vector(Vector(TextGen.titleLine(rng, lang))) ++
      Vector.tabulate(nStanzas)(_ => TextGen.stanza(rng, lang, 3 + rng.nextInt(3)))
    // ~1-in-4 encrypted (empty user password): RC4 / AESV2 / AES-256
    val encrypt = rng.nextInt(12) match {
      case 0 => "rc4"
      case 1 => "aes"
      case 2 => "aes256"
      case _ => ""
    }
    // ~1-in-2 modern layout (predictor-coded xref stream — the real
    // producer default); LZW-coded xref on a slice of those
    val xrefStream = rng.nextBoolean()
    val spec = PdfWriter.Spec(
      title = stanzas.head.head,
      author = TextGen.titleLine(rng, "en"),
      stanzas = stanzas,
      useKernSpaces = rng.nextBoolean(),
      // 1-in-4 embed a real image XObject (text unaffected); of those,
      // 1-in-3 are CCITT-fax bilevel scans (the scanned-PDF shape)
      // across the three /K regimes instead of a DCTDecode JPEG
      imageSeed = if (rng.nextInt(4) == 0) rng.nextLong() | 1L else 0L,
      faxK = if (rng.nextInt(3) == 0) Some(rng.nextInt(3) match {
        case 0 => -1; case 1 => 0; case _ => 4
      }) else None,
      // of the non-fax imaged PDFs, 1-in-3 embed the scan as JBIG2
      // (segment-embedded generic region) instead of a JPEG; half of
      // those are MQ-arithmetic coded, half MMR
      jbig2 = rng.nextInt(3) == 0,
      jbig2Arith = rng.nextBoolean(),
      jbig2Tpgdon = rng.nextBoolean(),
      jbig2Template = rng.nextInt(4),
      // 1-in-3 of the JBIG2 slices carry the symbol-coded shape
      jbig2SymbolText = rng.nextInt(3) == 0,
      encrypt = encrypt,
      xrefStream = xrefStream,
      xrefFilter = rng.nextInt(6) match {
        case 0 => "flate"
        case 1 => "lzw-pred"
        case _ => "flate-pred"
      },
      // content-stream filter breadth: mostly Flate like real producers,
      // with LZW / ASCII85+Flate / RunLength minorities
      contentFilter = rng.nextInt(10) match {
        case 0 => "lzw"
        case 1 => "a85flate"
        case 2 => "rl"
        case _ => "flate"
      },
      // half the unencrypted modern-layout docs pack their dict objects
      // into an ObjStm (type-2 xref rows at sweep scale)
      objStm = xrefStream && encrypt.isEmpty && rng.nextBoolean(),
      // ~1-in-4 carry page annotations (sticky note / highlight / link);
      // link URIs extract as the URI line
      annots = if (rng.nextInt(4) == 0)
        Vector.tabulate(1 + rng.nextInt(3)) { i =>
          rng.nextInt(3) match {
            case 0 => ("Text", TextGen.titleLine(rng, lang))
            case 1 => ("Highlight", TextGen.titleLine(rng, lang))
            case _ => ("Link", s"https://example.org/$docId/$k/$i")
          }
        }
      else Vector.empty,
      // ~1-in-5 carry an AcroForm: two plain text fields plus a dotted
      // parent.kid pair exercising the qualified-name join
      formFields = if (rng.nextInt(5) == 0)
        Vector(
          ("author", TextGen.titleLine(rng, lang)),
          ("subject", TextGen.titleLine(rng, lang)),
          ("person.first", TextGen.titleLine(rng, lang)),
          ("person.last", TextGen.titleLine(rng, lang)))
      else Vector.empty,
      // ~1-in-5 carry an outline (chapters with nested sections); the
      // titles extract as document-end lines
      outline = if (rng.nextInt(5) == 0) {
        val b = Vector.newBuilder[(Int, String)]
        for (_ <- 0 until (1 + rng.nextInt(3))) {
          b += ((0, TextGen.titleLine(rng, lang)))
          for (_ <- 0 until rng.nextInt(3)) b += ((1, TextGen.titleLine(rng, lang)))
        }
        b.result()
      } else Vector.empty,
      // ~1-in-8 carry attachments (PDF/A-3 invoice shape): names+count
      // surface as metadata
      embeddedFiles = if (rng.nextInt(8) == 0)
        Vector.tabulate(1 + rng.nextInt(2))(i =>
          (s"attach-$i.txt", TextGen.titleLine(rng, lang)))
      else Vector.empty,
      // ~1-in-3 carry an XMP packet (the modern-producer default);
      // half of those add a dc:description only XMP has
      xmp = rng.nextInt(3) == 0,
      xmpDescription =
        if (rng.nextBoolean()) TextGen.titleLine(rng, lang) else "",
      // ~1-in-3 of the cp1252-safe-language PDFs drop ToUnicode and map
      // through /Encoding /WinAnsiEncoding (+ /Differences half the
      // time) — the dominant real simple-font shape
      fontEncoding = rng.nextInt(3) == 0 &&
        (lang == "en" || lang == "de" || lang == "fr" || lang == "es"),
      fontDiffs = rng.nextBoolean(),
      // ~1-in-8 paint a raw inline image mid-content (§8.9.7 skip)
      inlineImage = rng.nextInt(8) == 0)
    val bytes = PdfWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("pdf", Span("pdf", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(PdfWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def docxPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val spec = DocxWriter.Spec(
      TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"),
      Vector.tabulate(1 + rng.nextInt(6))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))),
      pages = 1 + rng.nextInt(4),
      // structural breadth: ~1-in-3 carry a table, ~1-in-4 headers/
      // footers/footnotes (titleLine cells are \t- and \n-free)
      tables = if (rng.nextInt(3) == 0)
        Vector.tabulate(1 + rng.nextInt(2))(_ =>
          Vector.tabulate(2 + rng.nextInt(3))(_ =>
            Vector.tabulate(2 + rng.nextInt(3))(_ => TextGen.titleLine(rng, lang))))
      else Vector.empty,
      headers = if (rng.nextInt(4) == 0) Vector(TextGen.titleLine(rng, lang)) else Vector.empty,
      footers = if (rng.nextInt(4) == 0) Vector(TextGen.titleLine(rng, lang)) else Vector.empty,
      footnotes = if (rng.nextInt(4) == 0)
        Vector.tabulate(1 + rng.nextInt(2))(_ => TextGen.sentence(rng, lang))
      else Vector.empty)
    val docxBytes = DocxWriter.write(spec)
    // ~1-in-8 OOXML docs use the ZIP64 EOCD64 layout, so classification
    // must route through the EOCD64 locator at sweep scale
    val bytes = if (rng.nextInt(8) == 0) ArchiveWriter.toZip64(docxBytes) else docxBytes
    val ref = s"m-$docId-$k"
    Piece("docx", Span("docx", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(DocxWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def xlsxPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val nRows = 2 + rng.nextInt(8)
    val nCols = 2 + rng.nextInt(4)
    val rows = Vector.tabulate(nRows) { r =>
      Vector.tabulate(nCols) { c =>
        if ((r + c) % 3 == 2) String.valueOf(rng.nextInt(100000)) // numeric path
        else TextGen.titleLine(rng, lang)
      }
    }
    val spec = XlsxWriter.Spec(TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"), rows)
    val bytes = XlsxWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("xlsx", Span("xlsx", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(XlsxWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def pptxPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val slides = Vector.tabulate(1 + rng.nextInt(4)) { _ =>
      Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.titleLine(rng, lang))
    }
    val spec = PptxWriter.Spec(TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"), slides,
      // ~1-in-3 decks carry speaker notes on a subset of slides
      notes = if (rng.nextInt(3) == 0)
        slides.map(_ => if (rng.nextBoolean()) TextGen.sentence(rng, lang) else "")
      else Vector.empty,
      // ~1-in-4 decks carry a drawingml table on the first slide
      slideTables = if (rng.nextInt(4) == 0)
        Vector(Vector.tabulate(2 + rng.nextInt(2))(_ =>
          Vector.tabulate(2 + rng.nextInt(3))(_ => TextGen.titleLine(rng, lang))))
      else Vector.empty)
    val bytes = PptxWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("pptx", Span("pptx", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(PptxWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def rtfPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val spec = RtfWriter.Spec(TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"),
      Vector.tabulate(1 + rng.nextInt(5))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))),
      // ~1-in-4 documents carry a \trowd/\cell/\row table
      tables = if (rng.nextInt(4) == 0)
        Vector(Vector.tabulate(2 + rng.nextInt(3))(_ =>
          Vector.tabulate(2 + rng.nextInt(3))(_ => TextGen.titleLine(rng, lang))))
      else Vector.empty)
    val bytes = RtfWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("rtf", Span("rtf", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(RtfWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def odtPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val spec = OdtWriter.Spec(TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"),
      Vector.tabulate(1 + rng.nextInt(5))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))),
      // ~1-in-4 documents carry a table (DOCX/HTML row convention)
      tables = if (rng.nextInt(4) == 0)
        Vector(Vector.tabulate(2 + rng.nextInt(3))(_ =>
          Vector.tabulate(2 + rng.nextInt(3))(_ => TextGen.titleLine(rng, lang))))
      else Vector.empty)
    val bytes = OdtWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("odt", Span("odt", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(OdtWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def odsPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val tables = Vector.tabulate(1 + rng.nextInt(2)) { _ =>
      Vector.tabulate(2 + rng.nextInt(6)) { _ =>
        Vector.tabulate(2 + rng.nextInt(3))(_ => TextGen.titleLine(rng, lang))
      }
    }
    val spec = OdsWriter.Spec(TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"), tables)
    val bytes = OdsWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("ods", Span("ods", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(OdsWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def odpPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val spec = OdpWriter.Spec(TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"),
      Vector.tabulate(1 + rng.nextInt(4)) { _ =>
        Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.titleLine(rng, lang))
      })
    val bytes = OdpWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("odp", Span("odp", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(OdpWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def epubPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val spec = EpubWriter.Spec(TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"),
      Vector.tabulate(1 + rng.nextInt(4)) { _ =>
        Vector.tabulate(1 + rng.nextInt(3))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(2)))
      },
      // half the EPUBs store chapter files in REVERSE path order: reading
      // order must come from the OPF spine (exercised across the 400k sweep)
      reverseNames = rng.nextBoolean())
    val bytes = EpubWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("epub", Span("epub", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(EpubWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def tiffPiece(rng: SplittableRandom, docId: String, k: Int): Piece = {
    // decode-grade: full gray plane (dims tempered so payloads stay
    // ~10-60KB); ~1-in-4 are bilevel CCITT fax scans (G3 1-D/2-D, G4)
    val fax = if (rng.nextInt(4) == 0) Some(if (rng.nextBoolean()) 4 else 3) else None
    val bytes = TiffWriter.write(TiffWriter.Spec(
      width = 16 + rng.nextInt(224), height = 16 + rng.nextInt(224),
      software = s"graft-scan-${rng.nextInt(10)}",
      fax = fax, fax2d = rng.nextBoolean(),
      // ~1-in-5 are multi-page (chained IFDs)
      extraPages = if (rng.nextInt(5) == 0) 1 + rng.nextInt(3) else 0))
    val ref = s"m-$docId-$k"
    Piece("tiff", Span("tiff", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Seq(Span("media", null, ref, -1)), bytes.length.toLong)
  }

  private def mp3Piece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val bare = rng.nextInt(4) == 0 // legacy shape: no ID3v2, v1 trailer
    val bytes = Mp3Writer.write(Mp3Writer.Spec(
      TextGen.titleLine(rng, "en"), TextGen.titleLine(rng, "en"),
      TextGen.titleLine(rng, "en"),
      // 1-in-3 VBR with a Xing frame count (exact duration path)
      vbrFrames = if (rng.nextInt(3) == 0) 8 + rng.nextInt(60) else 0,
      id3v2 = !bare, id3v1 = bare || rng.nextInt(5) == 0))
    val ref = s"m-$docId-$k"
    Piece("mp3", Span("mp3", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Seq(Span("media", null, ref, -1)), bytes.length.toLong)
  }

  /** Decode-grade PNG across all five color types with filter cycling.
    * 1-in-5 draw from an 8-plane shared pool: re-encodes of the same
    * pixel plane under different scanline filters — byte-distinct files
    * that are content-level duplicates (the x_image_dups planted truth).
    */
  /** Cross-codec dup pool: 8 SMOOTH gray planes each emitted as both
    * lossless PNG (pngPiece) and lossy JPEG q90 (jpegPiece) across the
    * corpus — the planted truth for perceptual (pHash) dedup, which no
    * byte- or exact-pixel-level pass can pair.
    */
  private def xcodecPlane(pool: Int): (Int, Int, Array[Byte]) = {
    val w = 64 + pool * 4; val h = 48 + pool * 4
    (w, h, PixelGen.smooth(0x9CDE0000L + pool, w, h))
  }

  private def pngPiece(rng: SplittableRandom, docId: String, k: Int): Piece = {
    if (rng.nextInt(8) == 0) {
      val (w, h, plane) = xcodecPlane(rng.nextInt(8))
      val bytes = PngWriterEx.writeWithPlane(
        PngWriterEx.Spec(w, h, seed = 0, colorType = 0,
          cycleFilters = rng.nextBoolean()), plane)
      val ref = s"m-$docId-$k"
      return Piece("png", Span("png", null, ref, -1),
        Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
        Seq(Span("media", null, ref, -1)), bytes.length.toLong)
    }
    val spec =
      if (rng.nextInt(5) == 0) {
        val pool = rng.nextInt(8)
        PngWriterEx.Spec(64 + pool * 4, 48 + pool * 4, seed = 0x5EED0000L + pool,
          colorType = Vector(0, 2, 6)(pool % 3), cycleFilters = rng.nextBoolean())
      } else
        PngWriterEx.Spec(8 + rng.nextInt(120), 8 + rng.nextInt(120),
          seed = rng.nextLong(), colorType = Vector(0, 2, 3, 4, 6)(rng.nextInt(5)),
          cycleFilters = rng.nextBoolean(), interlaced = rng.nextInt(6) == 0,
          // ancillary metadata with web-graphics frequency
          texts =
            if (rng.nextInt(3) == 0)
              Seq("Software" -> s"graft-png-${rng.nextInt(10)}") ++
                (if (rng.nextBoolean())
                  Seq("Comment" -> TextGen.titleLine(rng, "en")) else Nil)
            else Nil,
          dpi = if (rng.nextInt(4) == 0) Vector(72, 96, 150, 300)(rng.nextInt(4)) else 0,
          modified =
            if (rng.nextInt(5) == 0)
              timestamp(rng, '-')
            else "")
    val bytes = PngWriterEx.write(spec)
    val ref = s"m-$docId-$k"
    Piece("png", Span("png", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Seq(Span("media", null, ref, -1)), bytes.length.toLong)
  }

  /** Decode-grade JPEG: REAL baseline-DCT encoded streams (gray 1-in-4,
    * 4:2:0 half the color ones, occasional restart intervals) with the
    * same EXIF Software tag the metadata kernel pins.
    */
  private def jpegPiece(rng: SplittableRandom, docId: String, k: Int): Piece = {
    if (rng.nextInt(8) == 0) {
      val (w, h, plane) = xcodecPlane(rng.nextInt(8))
      val bytes = JpegWriterEx.encode(JpegWriterEx.Spec(w, h, seed = 0,
        software = s"graft-cam-${rng.nextInt(10)}", gray = true, quality = 90), plane)
      val ref = s"m-$docId-$k"
      return Piece("jpeg", Span("jpeg", null, ref, -1),
        Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
        Seq(Span("media", null, ref, -1)), bytes.length.toLong)
    }
    val gray = rng.nextInt(4) == 0
    val progressive = rng.nextInt(4) == 0 // 1-in-4: the web's common shape
    val bytes = JpegWriterEx.write(JpegWriterEx.Spec(
      width = 16 + rng.nextInt(304), height = 16 + rng.nextInt(304),
      seed = rng.nextLong(),
      software = s"graft-cam-${rng.nextInt(10)}",
      gray = gray,
      subsample = !gray && rng.nextBoolean(),
      quality = 75 + rng.nextInt(21),
      restartInterval =
        if (!progressive && rng.nextInt(8) == 0) 1 + rng.nextInt(4) else 0,
      progressive = progressive,
      // EXIF breadth: orientation / capture time / GPS appear with
      // camera-like frequency
      orientation = if (rng.nextInt(3) == 0) Vector(1, 3, 6, 8)(rng.nextInt(4)) else 0,
      dateTime =
        if (rng.nextBoolean())
          timestamp(rng, ':')
        else "",
      gps =
        if (rng.nextInt(4) == 0)
          Some((rng.nextDouble() * 160 - 80, rng.nextDouble() * 360 - 180))
        else None))
    val ref = s"m-$docId-$k"
    Piece("jpeg", Span("jpeg", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Seq(Span("media", null, ref, -1)), bytes.length.toLong)
  }

  private def mediaPiece(kind: String, bytes: Array[Byte], docId: String, k: Int): Piece = {
    val ref = s"m-$docId-$k"
    Piece(kind, Span(kind, null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Seq(Span("media", null, ref, -1)), bytes.length.toLong)
  }

  /** Decode-grade BMP: full BI_RGB plane (both row orders) so the real
    * BmpDecoder pixel path is exercised corpus-wide, not just in specs.
    */
  private def bmpPiece(rng: SplittableRandom, docId: String, k: Int): Piece =
    mediaPiece("bmp", BmpWriterEx.write(BmpWriterEx.Spec(
      8 + rng.nextInt(120), 8 + rng.nextInt(120), seed = rng.nextLong(),
      topDown = rng.nextBoolean())), docId, k)

  /** Decode-grade GIF: real LZW stream (interlaced 1-in-4); 1-in-3 are
    * animated (2-6 frames, partial rects, transparency) so frameSample's
    * real video-ish path is exercised corpus-wide.
    */
  private def gifPiece(rng: SplittableRandom, docId: String, k: Int): Piece =
    mediaPiece("gif",
      if (rng.nextInt(3) == 0)
        GifWriter.writeAnim(GifWriter.AnimSpec(
          8 + rng.nextInt(80), 8 + rng.nextInt(80), seed = rng.nextLong(),
          nFrames = 2 + rng.nextInt(5), transparency = rng.nextBoolean()))
      else GifWriter.write(GifWriter.Spec(
        8 + rng.nextInt(120), 8 + rng.nextInt(120), seed = rng.nextLong(),
        interlaced = rng.nextInt(4) == 0)), docId, k)

  /** Decode-grade WebP: 2-in-3 are REAL VP8L entropy-coded streams
    * (LZ77 + color-cache variants, half carrying the predictor and/or
    * subtract-green pixel transforms — the real world's dominant shape);
    * ~1-in-3 are lossy VP8 key frames (decoded by Vp8Decoder), the rest
    * split between VP8L variants and the metadata-tier header-only
    * shape (the pixel_decode=false boundary stays observable).
    */
  private def webpPiece(rng: SplittableRandom, docId: String, k: Int): Piece =
    mediaPiece("webp",
      if (rng.nextInt(3) == 0)
        // ~1-in-3 real-world WebPs are LOSSY (VP8 key frame) — decoded
        // for real by Vp8Decoder
        Vp8WriterEx.write(Vp8WriterEx.Spec(
          16 + rng.nextInt(112), 16 + rng.nextInt(112), seed = rng.nextLong(),
          yacQi = 8 + rng.nextInt(100),
          nParts = Vector(1, 1, 2, 4, 8)(rng.nextInt(5)),
          skipFlags = rng.nextInt(3) == 0,
          smooth = rng.nextInt(4) != 0,
          // half carry in-loop deblocking, like real encoder output
          filterLevel = if (rng.nextBoolean()) 1 + rng.nextInt(63) else 0,
          filterSharpness = rng.nextInt(8),
          simpleFilter = rng.nextInt(4) == 0,
          // ~1-in-3 use segmentation (adaptive-quantization shape)
          segments = if (rng.nextInt(3) == 0) 2 + rng.nextInt(3) else 0,
          segAbs = rng.nextInt(4) == 0,
          // per-segment filter levels + lf deltas (libwebp's default
          // encoder output carries the segment filter feature)
          segLf = rng.nextInt(3) == 0,
          lfRefDelta = if (rng.nextInt(4) == 0) rng.nextInt(41) - 20 else 0,
          lfModeDelta = if (rng.nextInt(4) == 0) rng.nextInt(41) - 20 else 0))
      else if (rng.nextInt(3) < 2) {
        if (rng.nextInt(4) == 0)
          // 1-in-4 real streams are paletted (graphics/icons shape);
          // 1-in-3 of those stack a spatial transform on the bundled
          // index sub-image (palette+predictor / palette+cross-color)
          WebpWriterEx.write(WebpWriterEx.Spec(
            8 + rng.nextInt(120), 8 + rng.nextInt(120), seed = rng.nextLong(),
            useLz77 = rng.nextBoolean(),
            paletteSize = Vector(2, 4, 9, 16, 48, 256)(rng.nextInt(6)),
            predictor = rng.nextInt(3) == 0,
            predSizeBits = 2 + rng.nextInt(3),
            colorXform = rng.nextInt(6) == 0,
            colorSizeBits = 2 + rng.nextInt(3),
            subtractGreen = rng.nextInt(6) == 0))
        else
          WebpWriterEx.write(WebpWriterEx.Spec(
            8 + rng.nextInt(120), 8 + rng.nextInt(120), seed = rng.nextLong(),
            useLz77 = rng.nextBoolean(),
            cacheBits = if (rng.nextBoolean()) 4 + rng.nextInt(3) else 0,
            smooth = rng.nextInt(4) == 0,
            subtractGreen = rng.nextBoolean(),
            predictor = rng.nextBoolean(),
            predSizeBits = 2 + rng.nextInt(3),
            colorXform = rng.nextInt(3) == 0,
            colorSizeBits = 2 + rng.nextInt(3),
            metaGroups = if (rng.nextInt(4) == 0) 2 + rng.nextInt(4) else 0,
            metaGroupBits = 2 + rng.nextInt(3),
            // ~1-in-3 real streams use 2-D plane distance codes, like
            // cwebp output
            use2dDist = rng.nextInt(3) == 0))
      } else WebpWriter.write(WebpWriter.Spec(
        8 + rng.nextInt(500), 8 + rng.nextInt(500))), docId, k)

  /** Decode-grade WAV: complete PCM-16 sample stream (mono/stereo) so
    * audioFeatures decodes real audio; duration metadata stays header-
    * consistent because WavWriterEx writes the true data-chunk size.
    */
  private def wavPiece(rng: SplittableRandom, docId: String, k: Int): Piece =
    mediaPiece("wav", WavWriterEx.write(WavWriterEx.Spec(
      8000 * (1 + rng.nextInt(6)), 1 + rng.nextInt(2),
      nFrames = 1000 + rng.nextInt(8000), seed = rng.nextLong())),
      docId, k)

  /** FLAC with a real STREAMINFO block: exact duration metadata. */
  private def flacPiece(rng: SplittableRandom, docId: String, k: Int): Piece =
    mediaPiece("flac", FlacWriter.write(FlacWriter.Spec(
      Vector(44100, 48000, 96000)(rng.nextInt(3)), 1 + rng.nextInt(2),
      nSamples = 1000L + rng.nextInt(1 << 20),
      // half carry VORBIS_COMMENT tags (the FLAC tag container)
      title = if (rng.nextBoolean()) TextGen.titleLine(rng, "en") else "",
      artist = if (rng.nextBoolean()) TextGen.titleLine(rng, "en") else "")),
      docId, k)

  /** ICO / PSD / MIDI: real headers, typed media metadata rows. */
  private def miscMediaPiece(rng: SplittableRandom, docId: String, k: Int): Piece = {
    val bytes = rng.nextInt(4) match {
      case 0 => MiscMediaWriters.writeIco(
        Vector.tabulate(1 + rng.nextInt(3))(_ => (16 << rng.nextInt(4), 16 << rng.nextInt(4))))
      case 1 => MiscMediaWriters.writePsd(
        16 + rng.nextInt(500), 16 + rng.nextInt(500), 3 + rng.nextInt(2),
        if (rng.nextBoolean()) 3 else 1)
      case 2 => HeifWriter.write(HeifWriter.Spec(
        Vector("heic", "mif1", "avif")(rng.nextInt(3)),
        16 + rng.nextInt(4000), 16 + rng.nextInt(3000)))
      case _ => MiscMediaWriters.writeMidi(
        rng.nextInt(2), 1 + rng.nextInt(8), 96 * (1 + rng.nextInt(5)))
    }
    val ref = s"m-$docId-$k"
    Piece("miscmedia", Span("miscmedia", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Seq(Span("media", null, ref, -1)), bytes.length.toLong)
  }

  /** Ogg with a real Vorbis/Opus identification header; 2-in-3 carry an
    * EOS page whose granule position gives the exact duration.
    */
  private def oggPiece(rng: SplittableRandom, docId: String, k: Int): Piece =
    mediaPiece("ogg", OggWriter.write(OggWriter.Spec(
      Vector(44100, 48000)(rng.nextInt(2)), 1 + rng.nextInt(2),
      opus = rng.nextBoolean(),
      nSamples = if (rng.nextInt(3) < 2) 10000L + rng.nextInt(1 << 22) else 0L)),
      docId, k)

  /** MP4 with a REAL sample-table track (stts/stsc/stsz/stco/stss):
    * non-uniform frame deltas (variable-frame-rate pattern), ragged chunk
    * layout, keyframe-every-g sync table; mvhd duration derived from the
    * media deltas so container metadata and frame index agree.
    */
  private def mp4Piece(rng: SplittableRandom, docId: String, k: Int): Piece = {
    val brand = if (rng.nextBoolean()) "isom" else "mp42"
    val movieTs = 1000 * (1 + rng.nextInt(90))
    val w = 16 * (1 + rng.nextInt(120)); val h = 16 * (1 + rng.nextInt(68))
    // ~1-in-3 carry iTunes-style ilst tags (title/artist/album/year)
    val tags =
      if (rng.nextInt(3) == 0) Vector(
        "©nam" -> TextGen.titleLine(rng, "en"),
        "©ART" -> TextGen.titleLine(rng, "en"),
        "©alb" -> TextGen.titleLine(rng, "en"),
        "©day" -> (1980 + rng.nextInt(45)).toString)
      else Vector.empty
    if (rng.nextInt(5) == 0) {
      // 1-in-5 keeps the legacy metadata-only shape (no sample tables):
      // the real world has fragmented/edited files; the block fallback
      // path must stay exercised
      mediaPiece("mp4", Mp4Writer.write(Mp4Writer.Spec(
        brand, movieTs, 1000L + rng.nextInt(1 << 20), w, h,
        tags = tags)), docId, k)
    } else {
      val mediaTs = Vector(600, 1000, 12288, 15360, 24000, 30000)(rng.nextInt(6))
      val n = 12 + rng.nextInt(48)
      // variable-frame-rate deltas: base frame period with 1-in-4 jitter
      val base = mediaTs / (12 + rng.nextInt(19)) // 12-30 fps
      val deltas = Vector.fill(n)(
        if (rng.nextInt(4) == 0) base + rng.nextInt(math.max(1, base)) else base)
      val sizes = Vector.fill(n)(120 + rng.nextInt(900))
      val chunks = {
        val b = Vector.newBuilder[Int]
        var left = n
        while (left > 0) {
          val c = math.min(left, 1 + rng.nextInt(7))
          b += c
          left -= c
        }
        b.result()
      }
      val g = 6 + rng.nextInt(7) // keyframe group size
      val keys = (1 to n by g).toVector
      val mvhdDur = deltas.map(_.toLong).sum * movieTs / mediaTs
      mediaPiece("mp4", Mp4Writer.write(Mp4Writer.Spec(
        brand, movieTs, mvhdDur, w, h,
        mediaTimescale = mediaTs, sampleDeltas = deltas, sampleSizes = sizes,
        samplesPerChunk = chunks, keyframes = keys, tags = tags)), docId, k)
    }
  }

  /** Matroska/WebM: real EBML framing, metadata-only media rows (cluster
    * payloads are opaque, the mp4 stance). Half webm (VP9/Opus), half
    * matroska (AVC/AAC); slices cover audio-only files, unknown-size
    * (streamed) segments, 4-byte floats and non-default timestamp scale.
    */
  private def mkvPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val webm = rng.nextBoolean()
    val hasVideo = rng.nextInt(4) != 0
    val hasAudio = !hasVideo || rng.nextBoolean()
    val spec = MkvWriter.Spec(
      webm = webm,
      title = if (rng.nextBoolean()) TextGen.titleLine(rng, lang) else "",
      durationMs = 1000.0 * (1 + rng.nextInt(600)),
      timestampScale = if (rng.nextInt(5) == 0) 2000000L else 1000000L,
      video = if (hasVideo) Some((16 * (1 + rng.nextInt(120)),
        16 * (1 + rng.nextInt(68)),
        if (webm) "V_VP9" else "V_MPEG4/ISO/AVC")) else None,
      audio = if (hasAudio) Some((Vector(44100.0, 48000.0)(rng.nextInt(2)),
        1 + rng.nextInt(2), if (webm) "A_OPUS" else "A_AAC")) else None,
      nClusters = 1 + rng.nextInt(4),
      seed = rng.nextLong(),
      unknownSegmentSize = rng.nextInt(4) == 0,
      floatWidth = if (rng.nextInt(4) == 0) 4 else 8,
      // ~1-in-3 carry a DateUTC; ~1-in-3 a Tags element (TITLE/ARTIST)
      dateUtcMs = if (rng.nextInt(3) == 0)
        1262304000000L + rng.nextLong(500000000000L) else 0L,
      tags = if (rng.nextInt(3) == 0) Vector(
        "TITLE" -> TextGen.titleLine(rng, lang),
        "ARTIST" -> TextGen.titleLine(rng, "en")) else Vector.empty)
    mediaPiece(if (webm) "webm" else "mkv", MkvWriter.write(spec), docId, k)
  }

  /** .doc stays latin (cp1252 round-trip is exact for en/de/fr/es);
    * ~1/3 are fComplex piece-table documents (out-of-order pieces,
    * mini-stream table) — the layout real multiply-edited Word files use.
    */
  private def docPiece(rng: SplittableRandom, docId: String, k: Int): Piece = {
    val lang = Vector("en", "de", "fr", "es")(rng.nextInt(4))
    // ~1-in-3 carry a table: in the Word character stream each cell ends
    // with mark 0x07 and the row with one more 0x07 — DocKernel maps
    // that onto the shared tab-joined row convention, so the expected
    // text has one "c1\tc2" line per row (same surface as DOCX/ODT/RTF)
    val tableMarks =
      if (rng.nextInt(3) == 0) {
        val rows = Vector.fill(2 + rng.nextInt(3))(
          Vector.fill(2 + rng.nextInt(3))(TextGen.titleLine(rng, lang)))
        rows.map(r => r.mkString("" + 7.toChar) + "" + 7.toChar + 7.toChar).mkString
      } else ""
    val text = (TextGen.titleLine(rng, lang) +
      "\n\n" + TextGen.paragraph(rng, lang, 2 + rng.nextInt(4)) +
      "\n\n" + TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))) + "\n" + tableMarks
    // golden = the text with marks resolved to the tab-joined convention
    val expected = text.replace("" + 7.toChar + 7.toChar, "\n").replace(7.toChar, '\t')
    val bytes =
      if (rng.nextInt(3) == 0) CfbWriter.writeComplex(text)
      else CfbWriter.write(text,
        title = TextGen.titleLine(rng, "en"),
        author = TextGen.titleLine(rng, "en"))
    val ref = s"m-$docId-$k"
    Piece("doc", Span("doc", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(expected), bytes.length.toLong)
  }

  private def emlPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val user = TextGen.titleLine(rng, "en").split(" ")(0).toLowerCase(Locale.ROOT)
    val spec = EmlWriter.Spec(
      subject = TextGen.titleLine(rng, lang),
      from = s"$user@example.org",
      to = "docs@example.org",
      paragraphs = Vector.tabulate(1 + rng.nextInt(4))(_ =>
        TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))),
      mode = rng.nextInt(5)) // incl. multipart/mixed with attachments
    val golden = textGolden(EmlWriter.expectedText(spec))
    if (rng.nextBoolean()) {
      // inline RFC-822 text span (extractText -> EmlKernel.extractStr)
      val content = new String(EmlWriter.write(spec), java.nio.charset.StandardCharsets.UTF_8)
      Piece("eml", Span("eml", content, null, -1), Nil, golden, content.length.toLong)
    } else {
      val bytes = EmlWriter.write(spec)
      val ref = s"m-$docId-$k"
      Piece("eml", Span("eml", null, ref, -1),
        Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
        golden, bytes.length.toLong)
    }
  }

  /** Legacy binary Excel: numeric cells become NUMBER records, text cells
    * share the SST; half the workbooks split the SST mid-string across a
    * Continue record (the BIFF8 corner real files hit constantly).
    */
  private def xlsPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val nSheets = 1 + rng.nextInt(2)
    val sheets = Vector.tabulate(nSheets) { _ =>
      Vector.tabulate(2 + rng.nextInt(6)) { r =>
        Vector.tabulate(2 + rng.nextInt(3)) { c =>
          if ((r + c) % 3 == 2) String.valueOf(rng.nextInt(100000))
          else TextGen.titleLine(rng, lang)
        }
      }
    }
    val spec = XlsBinWriter.Spec(TextGen.titleLine(rng, lang),
      TextGen.titleLine(rng, "en"), sheets, splitSst = rng.nextBoolean())
    val bytes = XlsBinWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("xls", Span("xls", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(XlsBinWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def pptPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val spec = PptBinWriter.Spec(Vector.tabulate(1 + rng.nextInt(4)) { _ =>
      Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.titleLine(rng, lang))
    })
    val bytes = PptBinWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("ppt", Span("ppt", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(PptBinWriter.expectedText(spec)), bytes.length.toLong)
  }

  private def msgPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val user = TextGen.titleLine(rng, "en").split(" ")(0).toLowerCase(Locale.ROOT)
    val spec = MsgWriter.Spec(
      subject = TextGen.titleLine(rng, lang),
      sender = s"$user@example.org",
      to = "docs@example.org",
      bodyParagraphs = Vector.tabulate(1 + rng.nextInt(4))(_ =>
        TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))),
      // ~1-in-3 messages carry attachment sub-storages
      attachments =
        if (rng.nextInt(3) == 0)
          Seq.tabulate(1 + rng.nextInt(2))(a =>
            s"file$a.dat" -> PixelGen.bytes(rng.nextLong(), 64 + rng.nextInt(400)))
        else Nil)
    val bytes = MsgWriter.write(spec)
    val ref = s"m-$docId-$k"
    Piece("msg", Span("msg", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(MsgWriter.expectedText(spec)), bytes.length.toLong)
  }

  /** Zip bundle of txt/html members — the reference's container breadth
    * (Tika parses archives and their embedded documents). Member text
    * concatenates in entry order.
    */
  private def zipPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val n = 2 + rng.nextInt(3)
    val members = Vector.tabulate(n) { m =>
      if (rng.nextInt(5) == 0) {
        // ~1-in-5 members are a NESTED archive (zip-in-zip / tar-in-zip):
        // the depth-2 tier real lakes exercise
        val innerText = TextGen.paragraph(rng, lang, 1 + rng.nextInt(2))
        val innerBytes = innerText.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (rng.nextBoolean())
          (s"member$m.zip",
            ArchiveWriter.writeZip(Seq(s"inner$m.txt" -> innerBytes)), innerText)
        else
          (s"member$m.tar",
            ArchiveWriter.writeTar(Seq(s"inner$m.txt" -> innerBytes)), innerText)
      } else if (rng.nextBoolean()) {
        val text = TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))
        (s"member$m.txt", text.getBytes(java.nio.charset.StandardCharsets.UTF_8), text)
      } else {
        // paragraphs must be main-content-sized (>= 2 sentences): the
        // HtmlWriter.expectedBlocks contract assumes the boilerplate
        // classifier keeps them, which 1-sentence paragraphs don't satisfy
        val spec = HtmlWriter.Spec(TextGen.titleLine(rng, lang),
          TextGen.titleLine(rng, lang),
          Vector.tabulate(1 + rng.nextInt(3))(_ => TextGen.paragraph(rng, lang, 2 + rng.nextInt(3))))
        (s"member$m.html",
          HtmlWriter.write(spec, rng).getBytes(java.nio.charset.StandardCharsets.UTF_8),
          HtmlWriter.expectedBlocks(spec).mkString("\n\n"))
      }
    }
    val classic = ArchiveWriter.writeZip(members.map(m => (m._1, m._2)))
    // ~1-in-6 archives use the ZIP64 EOCD64 layout (large-archive shape)
    val bytes = if (rng.nextInt(6) == 0) ArchiveWriter.toZip64(classic) else classic
    val expected = members.map(_._3).filter(_.nonEmpty).mkString("\n\n")
    val ref = s"m-$docId-$k"
    Piece("zip", Span("zip", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(expected), bytes.length.toLong)
  }

  /** Wrapped tar: .tar.{gz,bz2,xz,zst} — all four wrapper codecs open
    * to the same member text (extraction is wrapper-invariant).
    */
  private def targzPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val n = 2 + rng.nextInt(3)
    val members = Vector.tabulate(n) { m =>
      val text = TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))
      (s"docs/part$m.txt", text.getBytes(java.nio.charset.StandardCharsets.UTF_8), text)
    }
    val codec = Vector("gz", "gz", "bz2", "xz", "zst")(rng.nextInt(5))
    val bytes = ArchiveWriter.writeWrapped(
      ArchiveWriter.writeTar(members.map(m => (m._1, m._2))), codec)
    val expected = members.map(_._3).mkString("\n\n")
    val ref = s"m-$docId-$k"
    Piece("tgz", Span("tgz", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(expected), bytes.length.toLong)
  }

  /** 7z archives: member text extracts through the normal dispatch
    * (same golden convention as zip); codec mix Copy / LZMA2, half with
    * the encoded-header layout real 7-Zip emits.
    */
  private def sevenZPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val n = 2 + rng.nextInt(3)
    val members = Vector.tabulate(n) { m =>
      val text = TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))
      (s"docs/part$m.txt", text.getBytes(java.nio.charset.StandardCharsets.UTF_8), text)
    }
    val codec = if (rng.nextBoolean()) "lzma2" else "copy"
    val bytes = ArchiveWriter.write7z(
      members.map(m => (m._1, m._2)), codec, encodedHeader = rng.nextBoolean())
    val expected = members.map(_._3).mkString("\n\n")
    val ref = s"m-$docId-$k"
    Piece("7z", Span("7z", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      textGolden(expected), bytes.length.toLong)
  }

  /** RAR5 with real header blocks: names/counts surface as metadata,
    * payloads stay opaque (no golden text, like the detection tier).
    */
  private def rar5Piece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val n = 1 + rng.nextInt(3)
    val members = Vector.tabulate(n) { m =>
      (s"files/item$m.dat",
        TextGen.paragraph(rng, lang, 1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val bytes = ArchiveWriter.writeRar5(members)
    val ref = s"m-$docId-$k"
    Piece("rar", Span("rar", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Nil, bytes.length.toLong)
  }

  /** Detection-only exotic magics (7z-garbage/rar4/flac/ogg): typed
    * opaque rows in the tallies, no golden text; 1-in-5 a REAL rar5
    * archive whose headers parse to metadata.
    */
  private def exoticPiece(rng: SplittableRandom, docId: String, k: Int): Piece = {
    val roll = rng.nextInt(12)
    if (roll == 4) return rar5Piece(rng, Vector("en", "de", "fr")(rng.nextInt(3)), docId, k)
    val magic: Array[Byte] = roll match {
      case 0 => Array('7', 'z', 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c)
      case 1 => Array[Byte]('R', 'a', 'r', '!', 0x1a, 0x07, 0x00)
      case 2 => "fLaC".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      case 3 => "OggS".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      // detection-only typed-opaque breadth (fonts/db/executables)
      case 5 => "SQLite format 3".getBytes(
        java.nio.charset.StandardCharsets.US_ASCII) :+ 0.toByte
      case 6 => "wOFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      case 7 => "wOF2".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      case 8 => Array[Byte](0, 'a', 's', 'm', 1, 0, 0, 0)
      case 9 => Array[Byte](0x7f, 'E', 'L', 'F', 2, 1, 1)
      case 10 => Array[Byte](0xca.toByte, 0xfe.toByte, 0xba.toByte, 0xbe.toByte,
        0, 0, 0, 0x34)
      case _ => Array[Byte]('M', 'Z', 0x90.toByte, 0x00)
    }
    val n = 64 + rng.nextInt(512)
    val body = new Array[Byte](n)
    var x = rng.nextLong()
    var j = 0
    while (j < n) { x = x * 6364136223846793005L + 1442695040888963407L
      body(j) = ((x >>> 33) & 0xff).toByte; j += 1 }
    val bytes = magic ++ body
    val ref = s"m-$docId-$k"
    // golden mirrors binPiece (typed-opaque rows carry no golden span)
    Piece("exotic", Span("exotic", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Nil, bytes.length.toLong)
  }

  /** Refined-subtype text (CSV/TSV/Markdown/XML/Python), half inline text
    * spans, half text media bytes — exercises content-hint subtyping on
    * both extraction paths.
    */
  private def subtextPiece(rng: SplittableRandom, lang: String, docId: String, k: Int): Piece = {
    val p = SubtextGen.build(rng, lang)
    val golden = textGolden(p.expected)
    if (rng.nextBoolean())
      Piece("sub", Span("txt", p.content, null, -1), Nil, golden, p.content.length.toLong)
    else {
      val bytes = p.content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ref = s"m-$docId-$k"
      Piece("sub", Span("bin", null, ref, -1),
        Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
        golden, bytes.length.toLong)
    }
  }

  private def binPiece(rng: SplittableRandom, docId: String, k: Int): Piece = {
    val n = 8 + rng.nextInt(256)
    val bytes = new Array[Byte](n)
    var j = 0
    var x = rng.nextLong()
    while (j < n) { x = x * 6364136223846793005L + 1442695040888963407L
      bytes(j) = ((x >>> 33) & 0xff).toByte; j += 1 }
    bytes(0) = 0x00; bytes(1) = 0x01 // never a known magic
    val ref = s"m-$docId-$k"
    Piece("bin", Span("bin", null, ref, -1),
      Seq(MediaRow(ref, b64(bytes), bytes.length.toLong)),
      Nil, n.toLong)
  }

  /** Empty payload: exercises the failure taxonomy (empty_file) without
    * aborting the batch (reference: rika_command_spec.rb:147-160).
    */
  private def emptyPiece(rng: SplittableRandom, docId: String, k: Int): Piece =
    if (rng.nextBoolean())
      Piece("txt", Span("txt", "", null, -1), Nil, Nil, 0L)
    else {
      val ref = s"m-$docId-$k"
      Piece("bin", Span("bin", null, ref, -1),
        Seq(MediaRow(ref, "", 0L)), Nil, 0L)
    }

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)

  /** A random 2010-2024 "YYYY?MM?DD hh:mm:ss", `sep` between the date
    * fields, in ASCII digits whatever the default locale.
    */
  private def timestamp(rng: SplittableRandom, sep: Char): String =
    "20%02d%c%02d%c%02d %02d:%02d:%02d".formatLocal(Locale.ROOT,
      10 + rng.nextInt(15), sep, 1 + rng.nextInt(12), sep, 1 + rng.nextInt(28),
      rng.nextInt(24), rng.nextInt(60), rng.nextInt(60))

  // ------------------------------------------------------------- writing

  /** Write docs + media + golden parquet under `dir`, each table with the
    * manifest its reads are planned from (idempotent: skips when all three
    * manifests exist; a table written without one is written again, with
    * the same rows, since the corpus is pure in (seed, doc index)).
    */
  def writeCorpus(spark: SparkSession, dir: String, nDocs: Long,
      seed: Long = Seed, overwrite: Boolean = false): Unit = {
    if (Tables.forall(t => IcebergLite.isRecorded(s"$dir/$t")) && !overwrite) return
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def write(table: String, df: DataFrame, partitionBy: String*): Unit = {
      df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(s"$dir/$table")
      IcebergLite.recordTable(s"$dir/$table", df.schema)
    }
    // generation stays wide (build() cost parallelizes across all cores),
    // but the WRITE coalesces into a bounded file count: r3 measured a
    // 256-partition x 20-kind layout producing ~5k tiny (~11 KB) parquet
    // files whose open/footer overhead dominated every scan (a pruned
    // keys-only scan cost ~3.4 s at sf0.1). Real lakes carry MB-scale
    // files; readers get their splits from files x row groups.
    val par = math.max(spark.sparkContext.defaultParallelism * 8, 64)
    def ids = spark.range(0, nDocs, 1, par)
    // Iceberg-style partition layout: kind_major is a physical partition
    // column (directory-level), size_class a stats-pruned data column —
    // scans with either predicate prune work before reading payloads
    write("docs.parquet", ids.map { i => val b = build(seed, i)
        (b.doc_id, b.spans, b.size_class, b.kind_major) }
      .toDF("doc_id", "spans", "size_class", "kind_major")
      // 4 files per kind partition, stepped up only when per-file size
      // warrants (~nDocs/1e6: docs average ~300 B on disk, so 4/kind
      // stays MB-scale through millions of docs). The previous 16-way
      // split produced 583 files (551 under 100 KB) whose
      // openCostInBytes padding alone planned every docs scan as 146
      // tasks on a 15 MB table (r7 §6 audit) — pure dispatch overhead in
      // each extraction pass; an nDocs/12500 step made it WORSE at the
      // scaling corpus's 800k docs (2,368 files). 4/kind keeps multiple
      // kind-pure files per kind for scan balance (FilePartition packing
      // mixes kinds within a split) while bounding the file count.
      .repartition(math.max(4, (nDocs / 1000000L).toInt), col("doc_id")),
      "kind_major")
    write("media.parquet", ids.flatMap(i => build(seed, i).media)
      .toDF("media_ref", "bytes_b64", "length")
      .repartition(64, col("media_ref")))
    write("golden.parquet", ids.map { i => val b = build(seed, i); (b.doc_id, b.golden) }
      .toDF("doc_id", "spans")
      .repartition(16, col("doc_id")))
  }

  private val Tables = Seq("docs.parquet", "media.parquet", "golden.parquet")

  // every read is planned from the table's manifest: no listing, no
  // schema inference, no Spark job
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    IcebergLite.readTable(spark, s"$dir/docs.parquet")
  def readMedia(spark: SparkSession, dir: String): DataFrame =
    IcebergLite.readTable(spark, s"$dir/media.parquet")
  def readGolden(spark: SparkSession, dir: String): DataFrame =
    IcebergLite.readTable(spark, s"$dir/golden.parquet")
}
