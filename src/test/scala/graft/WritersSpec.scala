package graft

import org.scalatest.funsuite.AnyFunSuite
import java.util.SplittableRandom
import graft.corpus._
import graft.kernel.Extract

/** Writer <-> kernel round-trips: every synthetic payload must extract to
  * exactly the text the writer claims (generator truth as oracle), across
  * many seeds and all 5 languages.
  */
class WritersSpec extends AnyFunSuite {

  val opts = Extract.Options()

  test("PdfWriter -> PdfKernel round-trip (glyph remap, kerns, stanza gaps)") {
    for (seed <- 0 until 30) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val stanzas = Vector(Vector(TextGen.titleLine(rng, lang))) ++
        Vector.tabulate(2 + rng.nextInt(4))(_ => TextGen.stanza(rng, lang, 3 + rng.nextInt(3)))
      val spec = PdfWriter.Spec(stanzas.head.head, "Author X", stanzas,
        useKernSpaces = seed % 2 == 0)
      val out = Extract.extractBytes("pdf", PdfWriter.write(spec), opts)
      assert(out.contentType == "application/pdf", s"seed $seed")
      assert(out.content == PdfWriter.expectedText(spec),
        s"seed $seed lang $lang kern=${spec.useKernSpaces}\nGOT:\n${out.content}\nWANT:\n${PdfWriter.expectedText(spec)}")
      assert(out.metadata("dc:title") == spec.title)
    }
  }

  test("DocxWriter -> DocxKernel round-trip") {
    for (seed <- 0 until 20) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = DocxWriter.Spec(
        TextGen.titleLine(rng, lang), "Creator Y",
        Vector.tabulate(1 + rng.nextInt(5))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))),
        pages = 2)
      val out = Extract.extractBytes("docx", DocxWriter.write(spec), opts)
      assert(out.contentType.startsWith("application/vnd.openxmlformats"), s"seed $seed")
      assert(out.content == DocxWriter.expectedText(spec), s"seed $seed")
      assert(out.metadata("meta:page-count") == "2")
      assert(out.metadata("dc:title") == spec.title)
    }
  }

  test("DocxWriter bytes do not depend on the default time zone") {
    val spec = DocxWriter.Spec("Title", "Creator Y", Vector("one paragraph"), pages = 1)
    val saved = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
      val utc = DocxWriter.write(spec)
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Kolkata"))
      assert(java.util.Arrays.equals(DocxWriter.write(spec), utc))
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("CfbWriter -> DocKernel round-trip") {
    for (seed <- 0 until 20) {
      val rng = new SplittableRandom(seed)
      val lang = Vector("en", "de", "fr", "es")(seed % 4)
      val text = TextGen.titleLine(rng, lang) + "\n\n" +
        TextGen.paragraph(rng, lang, 2) + "\n"
      val out = Extract.extractBytes("doc", CfbWriter.write(text), opts)
      assert(out.contentType == "application/msword", s"seed $seed")
      assert(out.content == text, s"seed $seed\nGOT:\n${out.content}\nWANT:\n$text")
    }
  }

  test("JpegWriter -> JpegKernel round-trip") {
    for (seed <- 0 until 20) {
      val rng = new SplittableRandom(seed)
      val w = 16 + rng.nextInt(500)
      val h = 16 + rng.nextInt(500)
      val out = Extract.extractBytes("jpeg",
        JpegWriter.write(JpegWriter.Spec(w, h, s"cam-$seed", 512)), opts)
      assert(out.contentType == "image/jpeg")
      assert(out.metadata("Image Width") == s"$w pixels")
      assert(out.metadata("Image Height") == s"$h pixels")
      assert(out.metadata("Software") == s"cam-$seed")
      assert(out.isMedia)
    }
  }

  test("HtmlWriter -> HtmlKernel round-trip (boilerplate dropped exactly)") {
    for (seed <- 0 until 20) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = HtmlWriter.Spec(
        TextGen.titleLine(rng, lang), TextGen.titleLine(rng, lang),
        Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.paragraph(rng, lang, 2 + rng.nextInt(2))))
      val out = Extract.extractText("html", HtmlWriter.write(spec, rng), opts)
      val want = HtmlWriter.expectedBlocks(spec).mkString("\n\n")
      assert(out.content == want, s"seed $seed\nGOT:\n${out.content}\nWANT:\n$want")
      assert(out.metadata("dc:title") == spec.title)
    }
  }

  test("XlsxWriter -> XlsxKernel round-trip (30 seeds, all languages)") {
    for (seed <- 0 until 30) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val rows = Vector.tabulate(1 + rng.nextInt(8)) { r =>
        Vector.tabulate(1 + rng.nextInt(5)) { c =>
          if ((r + c) % 3 == 2) String.valueOf(rng.nextInt(100000))
          else TextGen.titleLine(rng, lang)
        }
      }
      val spec = XlsxWriter.Spec(TextGen.titleLine(rng, lang), "A", rows)
      val out = Extract.extractBytes("xlsx", XlsxWriter.write(spec), opts)
      assert(out.content == XlsxWriter.expectedText(spec), s"seed $seed lang $lang")
      assert(out.metadata("dc:title") == spec.title)
    }
  }

  test("PptxWriter -> PptxKernel round-trip (30 seeds, all languages)") {
    for (seed <- 0 until 30) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val slides = Vector.tabulate(1 + rng.nextInt(5)) { _ =>
        Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.titleLine(rng, lang))
      }
      val spec = PptxWriter.Spec(TextGen.titleLine(rng, lang), "A", slides)
      val out = Extract.extractBytes("pptx", PptxWriter.write(spec), opts)
      assert(out.content == PptxWriter.expectedText(spec), s"seed $seed lang $lang")
    }
  }

  test("RtfWriter -> RtfKernel round-trip (30 seeds, all languages)") {
    for (seed <- 0 until 30) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = RtfWriter.Spec(TextGen.titleLine(rng, lang), "A",
        Vector.tabulate(1 + rng.nextInt(5))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))))
      val out = Extract.extractBytes("rtf", RtfWriter.write(spec), opts)
      assert(out.content == RtfWriter.expectedText(spec),
        s"seed $seed lang $lang\nGOT:\n${out.content}\nWANT:\n${RtfWriter.expectedText(spec)}")
      assert(out.metadata("dc:title") == spec.title)
    }
  }

  test("OdtWriter -> OdtKernel round-trip (30 seeds, all languages)") {
    for (seed <- 0 until 30) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = OdtWriter.Spec(TextGen.titleLine(rng, lang), "A",
        Vector.tabulate(1 + rng.nextInt(5))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))))
      val out = Extract.extractBytes("odt", OdtWriter.write(spec), opts)
      assert(out.content == OdtWriter.expectedText(spec), s"seed $seed lang $lang")
      assert(out.metadata("dc:title") == spec.title)
    }
  }

  test("EpubWriter -> EpubKernel round-trip (20 seeds, all languages)") {
    for (seed <- 0 until 20) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = EpubWriter.Spec(TextGen.titleLine(rng, lang), "A",
        Vector.tabulate(1 + rng.nextInt(4)) { _ =>
          Vector.tabulate(1 + rng.nextInt(3))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(2)))
        })
      val out = Extract.extractBytes("epub", EpubWriter.write(spec), opts)
      assert(out.content == EpubWriter.expectedText(spec), s"seed $seed lang $lang")
    }
  }

  test("CfbWriter.writeComplex -> DocKernel round-trip (20 seeds, latin languages)") {
    for (seed <- 0 until 20) {
      val rng = new SplittableRandom(seed)
      val lang = Vector("en", "de", "fr", "es")(seed % 4)
      val text = (TextGen.titleLine(rng, lang) + "\n\n" +
        TextGen.paragraph(rng, lang, 1 + rng.nextInt(4)) + "\n\n" +
        TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))) + "\n"
      val out = Extract.extractBytes("doc", CfbWriter.writeComplex(text), opts)
      assert(out.contentType == "application/msword", s"seed $seed")
      assert(out.content == text, s"seed $seed lang $lang")
    }
  }

  test("EpubWriter reverseNames -> EpubKernel reads OPF spine order, not path order") {
    for (seed <- 0 until 12) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = EpubWriter.Spec(TextGen.titleLine(rng, lang), "A",
        Vector.tabulate(3 + rng.nextInt(3)) { i =>
          Vector(s"chapter $i marker", TextGen.paragraph(rng, lang, 1))
        },
        reverseNames = true)
      val out = Extract.extractBytes("epub", EpubWriter.write(spec), opts)
      assert(out.content == EpubWriter.expectedText(spec),
        s"seed $seed: spine order not honored\nGOT:\n${out.content}")
    }
  }

  test("EmlWriter -> EmlKernel round-trip (all modes x languages)") {
    import graft.corpus.EmlWriter
    for (seed <- 0 until 24) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = EmlWriter.Spec(TextGen.titleLine(rng, "en"), "a@example.org",
        "b@example.org",
        Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))),
        mode = seed % 5)
      val out = Extract.extractBytes("eml", EmlWriter.write(spec), opts)
      assert(out.contentType == "message/rfc822", s"seed $seed")
      assert(out.content == EmlWriter.expectedText(spec), s"seed $seed mode ${seed % 5} lang $lang")
      assert(out.metadata("dc:title") == spec.subject, s"seed $seed")
      // inline string path must agree
      val inline = Extract.extractText("txt",
        new String(EmlWriter.write(spec), java.nio.charset.StandardCharsets.UTF_8), opts)
      assert(inline.content == out.content, s"seed $seed inline/bytes divergence")
      // mode 4 (multipart/mixed): attachments surface as metadata, and
      // their payloads never leak into the body text
      if (seed % 5 == 4) {
        assert(out.metadata("Message-Attachment-Count") == "2", s"seed $seed")
        assert(out.metadata("Message-Attachment-Names") == "report.bin,data.csv", s"seed $seed")
        assert(!out.content.contains("a,b"), s"seed $seed csv leaked")
      } else
        assert(!out.metadata.contains("Message-Attachment-Count"), s"seed $seed")
    }
  }

  test("ArchiveWriter zip/tar/tar.gz -> ArchiveKernel round-trip") {
    import graft.corpus.ArchiveWriter
    for (seed <- 0 until 15) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val members = Vector.tabulate(1 + rng.nextInt(4)) { m =>
        val t = TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))
        (s"m$m.txt", t.getBytes("UTF-8"), t)
      }
      val expected = members.map(_._3).mkString("\n\n")
      val pairs = members.map(m => (m._1, m._2))
      for ((bytes, ct) <- Seq(
          (ArchiveWriter.writeZip(pairs), "application/zip"),
          (ArchiveWriter.writeTar(pairs), "application/x-tar"),
          (ArchiveWriter.writeTarGz(pairs), "application/gzip"))) {
        val out = Extract.extractBytes("arc", bytes, opts)
        assert(out.contentType == ct, s"seed $seed $ct")
        assert(out.content == expected, s"seed $seed $ct lang $lang")
      }
    }
  }

  test("OdsWriter/OdpWriter -> Ods/OdpKernel round-trips (16 seeds, all languages)") {
    import graft.corpus.{OdpWriter, OdsWriter}
    for (seed <- 0 until 16) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val ods = OdsWriter.Spec("t", "a", Vector.tabulate(1 + rng.nextInt(2)) { _ =>
        Vector.tabulate(2 + rng.nextInt(5)) { _ =>
          Vector.tabulate(2 + rng.nextInt(3))(_ => TextGen.titleLine(rng, lang))
        }
      })
      val o1 = Extract.extractBytes("ods", OdsWriter.write(ods), opts)
      assert(o1.contentType == "application/vnd.oasis.opendocument.spreadsheet", s"seed $seed")
      assert(o1.content == OdsWriter.expectedText(ods), s"seed $seed lang $lang")
      assert(o1.metadata("dc:title") == "t")

      val odp = OdpWriter.Spec("t", "a", Vector.tabulate(1 + rng.nextInt(3)) { _ =>
        Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.titleLine(rng, lang))
      })
      val o2 = Extract.extractBytes("odp", OdpWriter.write(odp), opts)
      assert(o2.contentType == "application/vnd.oasis.opendocument.presentation", s"seed $seed")
      assert(o2.content == OdpWriter.expectedText(odp), s"seed $seed lang $lang")
    }
  }

  test("MsgWriter -> MsgKernel round-trip (20 seeds, all languages incl. UTF-16 CJK)") {
    import graft.corpus.MsgWriter
    for (seed <- 0 until 20) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = MsgWriter.Spec(TextGen.titleLine(rng, lang), "s@example.org",
        "t@example.org",
        Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))))
      val out = Extract.extractBytes("msg", MsgWriter.write(spec), opts)
      assert(out.contentType == "application/vnd.ms-outlook", s"seed $seed")
      assert(out.content == MsgWriter.expectedText(spec), s"seed $seed lang $lang")
      assert(out.metadata("dc:title") == spec.subject, s"seed $seed")
    }
  }

  test("XlsBinWriter -> XlsKernel round-trip (24 seeds, all languages, both SST layouts)") {
    import graft.corpus.XlsBinWriter
    for (seed <- 0 until 24) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val sheets = Vector.tabulate(1 + rng.nextInt(2)) { _ =>
        Vector.tabulate(2 + rng.nextInt(6)) { r =>
          Vector.tabulate(2 + rng.nextInt(3)) { c =>
            if ((r + c) % 3 == 2) String.valueOf(rng.nextInt(100000))
            else TextGen.titleLine(rng, lang)
          }
        }
      }
      val spec = XlsBinWriter.Spec("t", "a", sheets, splitSst = seed % 2 == 0)
      val out = Extract.extractBytes("xls", XlsBinWriter.write(spec), opts)
      assert(out.contentType == "application/vnd.ms-excel", s"seed $seed")
      assert(out.content == XlsBinWriter.expectedText(spec), s"seed $seed lang $lang split=${seed % 2 == 0}")
    }
  }

  test("PptBinWriter -> PptKernel round-trip (20 seeds, all languages)") {
    import graft.corpus.PptBinWriter
    for (seed <- 0 until 20) {
      val rng = new SplittableRandom(seed)
      val lang = TextGen.languages(seed % TextGen.languages.size)
      val spec = PptBinWriter.Spec(Vector.tabulate(1 + rng.nextInt(4)) { _ =>
        Vector.tabulate(1 + rng.nextInt(4))(_ => TextGen.titleLine(rng, lang))
      })
      val out = Extract.extractBytes("ppt", PptBinWriter.write(spec), opts)
      assert(out.contentType == "application/vnd.ms-powerpoint", s"seed $seed")
      assert(out.content == PptBinWriter.expectedText(spec), s"seed $seed lang $lang")
    }
  }

  test("SubtextGen subtype content round-trips with the declared type") {
    import graft.corpus.SubtextGen
    for (seed <- 0 until 30) {
      val rng = new SplittableRandom(seed)
      val lang = Vector("en", "de", "fr", "es")(seed % 4)
      val p = SubtextGen.build(rng, lang)
      val out = Extract.extractText("txt", p.content, opts)
      assert(out.contentType.startsWith(p.subtype), s"seed $seed: ${out.contentType} != ${p.subtype}")
      assert(out.content == p.expected, s"seed $seed ${p.subtype}")
      // media-bytes path agrees
      val out2 = Extract.extractBytes("bin", p.content.getBytes("UTF-8"), opts)
      assert(out2.contentType.startsWith(p.subtype), s"seed $seed bytes path")
      assert(out2.content == p.expected, s"seed $seed bytes path")
    }
  }

  test("Gen.build is deterministic and golden offsets are dense") {
    for (i <- 0L until 200L) {
      val a = Gen.build(Gen.Seed, i)
      val b = Gen.build(Gen.Seed, i)
      assert(a == b, s"doc $i not deterministic")
      assert(a.golden.map(_.offset) == a.golden.indices.map(identity), s"doc $i offsets")
      assert(a.spans.nonEmpty, s"doc $i has no input spans")
      // every media ref in spans resolves
      val refs = a.spans.flatMap(s => Option(s.media_ref)).toSet
      assert(refs == a.media.map(_.media_ref).toSet, s"doc $i media refs")
    }
  }

  test("Gen golden matches direct kernel extraction for every doc kind") {
    // end-to-end per-doc check without Spark: simulate the pipeline's
    // per-span extraction and compare to the generator's golden.
    for (i <- 0L until 300L) {
      val b = Gen.build(Gen.Seed, i)
      val mediaMap = b.media.map(m => m.media_ref -> m.bytes_b64).toMap
      val got = b.spans.sortBy(_.offset).flatMap { s =>
        val out =
          if (s.media_ref == null) Extract.extractText(s.kind, s.text, opts)
          else {
            val b64 = mediaMap(s.media_ref)
            val bytes = if (b64.isEmpty) Array.emptyByteArray
              else java.util.Base64.getDecoder.decode(b64)
            Extract.extractBytes(s.kind, bytes, opts)
          }
        if (out.isMedia) Seq(graft.spark.Span("media", null, s.media_ref, -1))
        else out.blocks.map(t => graft.spark.Span("text", t, null, -1))
      }.zipWithIndex.map { case (s, k) => s.copy(offset = k) }
      assert(got == b.golden.toVector,
        s"doc $i kind ${b.kind_major}\nGOT: ${got.take(3)}\nWANT: ${b.golden.take(3)}")
    }
  }
}
