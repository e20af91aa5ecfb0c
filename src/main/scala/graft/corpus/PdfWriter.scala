package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.Locale
import java.util.zip.Deflater

/** Deterministic PDF writer for the synthetic corpus: produces real,
  * spec-conformant PDFs in the same shape as the reference fixture
  * (subset-font-style private code mapping + ToUnicode CMap + kerned TJ
  * arrays + Flate-compressed content stream + classic xref + Info dict),
  * so PdfKernel's full path — including glyph remapping — is exercised at
  * scale with analytically-known expected text.
  *
  * Layout contract (must agree with PdfKernel.assemble): uniform leading
  * L between lines of a stanza, 2L at stanza gaps => extractor emits a
  * blank line at each stanza gap; expected content =
  * "\n" + lines.mkString with "\n"/"\n\n" separators + "\n".
  */
object PdfWriter {

  final case class Spec(
      title: String,
      author: String,
      stanzas: Vector[Vector[String]], // title line is stanzas.head.head? no: body only
      useKernSpaces: Boolean,          // encode spaces as -250 TJ kerns instead of glyphs
      imageSeed: Long = 0,             // != 0: embed a real DCTDecode image XObject
      // with imageSeed != 0: Some(k) embeds a CCITTFaxDecode bilevel
      // scan image (the scanned-PDF shape) instead of the JPEG; k is the
      // PDF /K regime (-1 = G4 MMR, 0 = G3 1-D, >0 = G3 mixed 2-D)
      faxK: Option[Int] = None,
      // with imageSeed != 0 and faxK empty: embed the bilevel scan as a
      // JBIG2 stream (/Filter /JBIG2Decode, embedded organization: page
      // info + immediate generic region) instead of a JPEG; the region
      // body is MMR, or MQ-arithmetic (template 0) when jbig2Arith
      jbig2: Boolean = false,
      jbig2Arith: Boolean = false,
      jbig2Tpgdon: Boolean = false,  // arith mode: typical prediction on
      jbig2Template: Int = 0,        // arith mode: GB template 0..3
      // symbol-coded JBIG2 (dictionary + text region) instead of a
      // single generic region — the shape real text encoders emit
      jbig2SymbolText: Boolean = false,
      // "" = plain; "rc4-40" = V1/R2, "rc4" = V2/R3 128-bit,
      // "aes" = V4/R4 AESV2 — all with EMPTY user+owner passwords
      // (PdfKernel must open them transparently)
      encrypt: String = "",
      // true: modern layout — a /Type /XRef cross-reference stream
      // instead of the classic table (the shape virtually all current
      // producers emit); xrefFilter picks its coding:
      //   "flate-pred" = FlateDecode + PNG Up row predictor (default),
      //   "flate"      = FlateDecode, no predictor,
      //   "lzw-pred"   = LZWDecode + PNG Up row predictor
      xrefStream: Boolean = false,
      xrefFilter: String = "flate-pred",
      // content-stream coding: "flate" | "lzw" | "a85flate" (ASCII85
      // over Flate, a two-filter cascade) | "rl" (RunLength)
      contentFilter: String = "flate",
      // pack the dict-only objects (Info/Catalog/Pages/Page/Font) into a
      // /Type /ObjStm compressed object stream, indexed by type-2 xref
      // rows — the PDF 1.5+ producer default. Implies xrefStream;
      // unencrypted only (ObjStm payloads encrypt as a whole; that
      // combination stays out of the corpus writer's scope).
      objStm: Boolean = false,
      // page annotations as (subtype, content): "Text"/"Highlight"/
      // "FreeText" carry /Contents, "Link" a /A << /S /URI >> action
      // whose URI is the content. Each contributes one extracted line
      // after the page body.
      annots: Vector[(String, String)] = Vector.empty,
      // AcroForm text fields as (name, value); a dotted name like
      // "person.first" builds a parent field with /Kids so the kernel's
      // qualified-name join is exercised. Each terminal field
      // contributes a trailing "name: value" line.
      formFields: Vector[(String, String)] = Vector.empty,
      // outline (bookmark) tree as a depth-first (depth, title) list;
      // a depth-d+1 item nests under the nearest preceding depth-d one.
      // Titles extract as document-end lines before the form fields.
      outline: Vector[(Int, String)] = Vector.empty,
      // embedded files (attachments) as (filename, text content):
      // /Names /EmbeddedFiles filespecs + /EF streams — metadata-only
      // on extraction (names + count)
      embeddedFiles: Vector[(String, String)] = Vector.empty,
      // emit an XMP packet (/Root /Metadata) mirroring the Info title/
      // author, plus a dc:description only XMP has (so the XMP path
      // is observable: dc:description must surface from it)
      xmp: Boolean = false,
      xmpDescription: String = "",
      // no-ToUnicode font: codes are cp1252 bytes and the font carries
      // /Encoding /WinAnsiEncoding (the dominant real simple-font
      // shape). Requires cp1252-encodable text. With fontDiffs, four
      // letters remap to codes 1..4 through /Differences uniXXXX names.
      fontEncoding: Boolean = false,
      fontDiffs: Boolean = false,
      // paint a raw inline image (BI..ID <binary> EI) mid-content — the
      // payload deliberately contains unbalanced parens/backslashes, so
      // only a correct §8.9.7 skip keeps the rest of the text intact
      inlineImage: Boolean = false)

  /** Fax image geometry + the analytic bilevel plane (1 = black, packed
    * MSB-first at stride ceil(w/8)) a faxK image decodes to: thresholded
    * PixelGen bytes, so it has realistic run structure for the coder.
    */
  val FaxW = 64
  val FaxH = 48
  def faxPlane(seed: Long): Array[Byte] = {
    val src = PixelGen.bytes(seed, FaxW * FaxH)
    val stride = (FaxW + 7) / 8
    val px = new Array[Byte](stride * FaxH)
    var i = 0
    while (i < src.length) {
      if ((src(i) & 0xff) >= 128) {
        val x = i % FaxW; val y = i / FaxW
        px(y * stride + (x >> 3)) = (px(y * stride + (x >> 3)) | (0x80 >> (x & 7))).toByte
      }
      i += 1
    }
    px
  }

  /** The text PdfKernel is expected to extract from write(spec). */
  def expectedText(spec: Spec): String = {
    val sb = new StringBuilder("\n")
    var first = true
    for (st <- spec.stanzas) {
      if (!first) sb.append("\n\n") else first = false
      sb.append(st.mkString("\n"))
    }
    sb.append('\n')
    // annotation lines follow the page body (Link shows its URI), then
    // outline titles, then AcroForm terminal fields as "name: value"
    for ((_, content) <- spec.annots) sb.append(content).append('\n')
    for ((_, title) <- spec.outline) sb.append(title).append('\n')
    for ((n, v) <- spec.formFields) sb.append(n).append(": ").append(v).append('\n')
    sb.toString
  }

  def write(spec: Spec): Array[Byte] = {
    val allText = spec.stanzas.flatten.mkString
    // private code mapping: distinct chars -> codes from 0x21 upward,
    // skipping the string delimiters that would need escaping anyway.
    val chars = allText.toSet.toVector.sorted
    require(chars.size <= 200, s"alphabet too large: ${chars.size}")
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    // /Differences remaps: four letters onto codes 1..4 — the control
    // range no cp1252 text byte occupies, so no collisions
    val fontDiffPairs: Vector[(Int, Char)] =
      if (spec.fontEncoding && spec.fontDiffs)
        chars.filter(_.isLetter).take(4).zipWithIndex
          .map { case (c, i) => (1 + i, c) }
      else Vector.empty
    val codeOf: Map[Char, Int] =
      if (spec.fontEncoding) {
        val diffOf = fontDiffPairs.map { case (code, c) => c -> code }.toMap
        chars.map { c =>
          c -> diffOf.getOrElse(c, {
            val b = c.toString.getBytes(cp1252)
            require(b.length == 1 && new String(b, cp1252) == c.toString,
              s"not cp1252-encodable: $c")
            b(0) & 0xff
          })
        }.toMap
      } else {
        var next = 0x21
        chars.map { c =>
          val code = next
          next += 1
          if (next == '('.toInt || next == ')'.toInt || next == '\\'.toInt) next += 1
          if (next == '('.toInt || next == ')'.toInt || next == '\\'.toInt) next += 1
          c -> code
        }.toMap
      }
    val spaceCode = codeOf.get(' ')

    // content stream: one BT/Tm/TJ per line, y descending.
    val leading = 18
    val cs = new StringBuilder
    var y = 760
    for ((st, si) <- spec.stanzas.zipWithIndex) {
      if (si > 0) y -= leading // extra gap: stanza separation = 2*leading
      for (line <- st) {
        cs.append(s"BT 12 0 0 12 72 $y Tm /F1 1 Tf [ ")
        var i = 0
        while (i < line.length) {
          val c = line.charAt(i)
          if (c == ' ' && spec.useKernSpaces) {
            cs.append("-250 ") // big negative kern = word gap for the parser
          } else {
            val code = codeOf(c)
            cs.append("(")
            code match {
              case 0x28 => cs.append("\\(")
              case 0x29 => cs.append("\\)")
              case 0x5c => cs.append("\\\\")
              case k    => cs.append(k.toChar)
            }
            cs.append(s") ${if (i % 3 == 0) "-4" else "6"} ")
          }
          i += 1
        }
        cs.append("] TJ ET\n")
        y -= leading
      }
    }
    // embedded image paint: q/cm/Do/Q has no text effect (interpreter
    // ignores Do), so expectedText is unchanged
    if (spec.imageSeed != 0) cs.append("q 144 0 0 108 72 24 cm /Im1 Do Q\n")
    if (spec.inlineImage) {
      // 8x8 gray inline image BETWEEN text rows: raw bytes include '(',
      // '\' and ')' so a lexer that fails to skip them derails
      val raw = PixelGen.bytes(0x1417L, 64).map {
        case b if b == 'E'.toByte => 'D'.toByte // never spell EI
        case b                    => b
      }
      raw(3) = '('.toByte; raw(11) = '\\'.toByte; raw(17) = ')'.toByte
      cs.append("q 32 0 0 32 72 8 cm BI /W 8 /H 8 /BPC 8 /CS /G ID ")
      raw.foreach(b => cs.append((b & 0xff).toChar))
      cs.append("\nEI Q\n")
    }
    val csBytes = cs.toString.getBytes(StandardCharsets.ISO_8859_1)
    val (content, contentFilterDecl) = spec.contentFilter match {
      case "flate"    => (deflate(csBytes), "/Filter /FlateDecode")
      case "lzw"      => (lzwEncode(csBytes), "/Filter /LZWDecode")
      // decode order = declaration order: ASCII85 first, then Flate
      case "a85flate" => (ascii85Encode(deflate(csBytes)),
        "/Filter [/ASCII85Decode /FlateDecode]")
      case "rl"       => (rleEncode(csBytes), "/Filter /RunLengthDecode")
      case other      => throw new IllegalArgumentException(s"contentFilter=$other")
    }

    // ToUnicode CMap (bfranges, singleton form like the fixture).
    val cmap = {
      val sb = new StringBuilder
      sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
      sb.append("/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n")
      sb.append("1 begincodespacerange\n<00><FF>\nendcodespacerange\n")
      val entries = codeOf.toVector.sortBy(_._2)
      // bfrange blocks max 100 entries
      entries.grouped(100).foreach { g =>
        sb.append(s"${g.size} beginbfrange\n")
        g.foreach { case (c, code) =>
          sb.append(f"<$code%02x><$code%02x><${c.toInt}%04x>\n")
        }
        sb.append("endbfrange\n")
      }
      sb.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend")
      deflate(sb.toString.getBytes(StandardCharsets.ISO_8859_1))
    }

    // encryption (standard security handler, empty user+owner password):
    // streams and Info strings are encrypted per object; the Encrypt
    // dict itself and the file ID are not
    import graft.kernel.PdfCrypt
    val docId: Array[Byte] =
      PdfCrypt.md5((spec.title + "|" + spec.author + "|" + spec.stanzas.length)
        .getBytes(StandardCharsets.UTF_8))
    val (crypt, encDictBody): (Option[PdfCrypt.Crypt], String) = spec.encrypt match {
      case "" => (None, "")
      case "aes256" => // PDF 2.0 R6/AESV3, empty user+owner password
        val (u, ue, o, oe, fileKey) = PdfCrypt.r6Credentials(docId)
        def hx(b: Array[Byte]) = "<" + b.map(x => f"$x%02x").mkString + ">"
        // Perms: AES-256-ECB of the permission block — readers that
        // validate it need the exact layout; emit the spec shape
        val permBlock = Array[Byte](
          (-44 & 0xff).toByte, ((-44 >> 8) & 0xff).toByte,
          ((-44 >> 16) & 0xff).toByte, ((-44 >> 24) & 0xff).toByte,
          0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte,
          'T', 'a', 'd', 'b', 0, 0, 0, 0)
        val ecb = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
        ecb.init(javax.crypto.Cipher.ENCRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(fileKey, "AES"))
        val perms = ecb.doFinal(permBlock)
        (Some(PdfCrypt.Crypt(fileKey, aes = true, v5 = true)),
          "<< /Filter /Standard /V 5 /R 6 /Length 256" +
            " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >>" +
            " /StmF /StdCF /StrF /StdCF" +
            s" /U ${hx(u)} /UE ${hx(ue)} /O ${hx(o)} /OE ${hx(oe)}" +
            s" /Perms ${hx(perms)} /P -44 >>")
      case mode =>
        val (v, r, bits, aes) = mode match {
          case "rc4-40" => (1, 2, 40, false)
          case "rc4"    => (2, 3, 128, false)
          case "aes"    => (4, 4, 128, true)
          case other    => throw new IllegalArgumentException(s"encrypt=$other")
        }
        val p = -44
        val o = PdfCrypt.oEntry(r, bits)
        val key = PdfCrypt.fileKey(o, p, docId, r, bits)
        val u = PdfCrypt.uEntry(key, r, docId)
        def hx(b: Array[Byte]) = "<" + b.map(x => f"$x%02x").mkString + ">"
        val cf =
          if (v == 4)
            " /CF << /StdCF << /CFM " + (if (aes) "/AESV2" else "/V2") +
              " /AuthEvent /DocOpen /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
          else ""
        val lenEntry = if (v == 1) "" else s" /Length $bits"
        (Some(PdfCrypt.Crypt(key, aes)),
          s"<< /Filter /Standard /V $v /R $r$lenEntry$cf " +
            s"/O ${hx(o)} /U ${hx(u)} /P $p >>")
    }
    def encStream(num: Int, data: Array[Byte]): Array[Byte] =
      crypt.map(_.encrypt(num, 0, data)).getOrElse(data)
    def infoStr(num: Int, s: String): String = crypt match {
      case Some(c) =>
        "<" + c.encrypt(num, 0, s.getBytes(StandardCharsets.ISO_8859_1))
          .map(x => f"$x%02x").mkString + ">"
      case None => s"(${esc(s)})"
    }
    // general text string: non-Latin-1 content goes out as a UTF-16BE
    // hex string with BOM (the ISO 32000 text-string form PdfKernel's
    // decodePdfString expects); encrypted docs encrypt the raw bytes
    def pdfStr(num: Int, s: String): String = {
      val needsU16 = s.exists(_ > 0xff.toChar)
      (crypt, needsU16) match {
        case (Some(c), _) =>
          val raw =
            if (needsU16)
              Array[Byte](0xfe.toByte, 0xff.toByte) ++
                s.getBytes(StandardCharsets.UTF_16BE)
            else s.getBytes(StandardCharsets.ISO_8859_1)
          "<" + c.encrypt(num, 0, raw).map(x => f"$x%02x").mkString + ">"
        case (None, true) =>
          "<FEFF" + s.getBytes(StandardCharsets.UTF_16BE)
            .map(x => f"$x%02x").mkString + ">"
        case (None, false) => s"(${esc(s)})"
      }
    }

    // object layout for annotations + form fields: they follow the
    // (optional) image object, so their numbers are known before the
    // page/catalog dicts that reference them are built
    val annotBase = 8 + (if (spec.imageSeed != 0) 1 else 0)
    val annotNums = spec.annots.indices.map(annotBase + _)
    val fieldBase = annotBase + spec.annots.length
    // dotted names group under a shared parent object (first-appearance
    // order); each entry is (objNum, dict body), top-level refs separate
    val fieldGroups = {
      val g = scala.collection.mutable.LinkedHashMap[String, Vector[(String, String)]]()
      spec.formFields.foreach { case (n, v) =>
        val i = n.indexOf('.')
        val key = if (i < 0) n else n.substring(0, i)
        val sub = if (i < 0) "" else n.substring(i + 1)
        require(g.get(key).forall(_.forall(_._1.nonEmpty == sub.nonEmpty)),
          s"field name collision: $key used both dotted and plain")
        g(key) = g.getOrElse(key, Vector.empty) :+ ((sub, v))
      }
      g.toVector
    }
    val fieldObjs = Vector.newBuilder[(Int, String)]
    val topFieldRefs = Vector.newBuilder[Int]
    var fnum = fieldBase
    fieldGroups.foreach { case (key, entries) =>
      if (entries.forall(_._1.isEmpty)) {
        entries.foreach { case (_, v) =>
          fieldObjs += ((fnum,
            s"<< /FT /Tx /T ${pdfStr(fnum, key)} /V ${pdfStr(fnum, v)} >>"))
          topFieldRefs += fnum
          fnum += 1
        }
      } else {
        val pnum = fnum
        val kidNums = entries.indices.map(pnum + 1 + _)
        fieldObjs += ((pnum, s"<< /T ${pdfStr(pnum, key)} /Kids [ " +
          kidNums.map(k => s"$k 0 R").mkString(" ") + " ] >>"))
        topFieldRefs += pnum
        fnum = pnum + 1
        entries.foreach { case (sub, v) =>
          fieldObjs += ((fnum, s"<< /FT /Tx /Parent $pnum 0 R " +
            s"/T ${pdfStr(fnum, sub)} /V ${pdfStr(fnum, v)} >>"))
          fnum += 1
        }
      }
    }
    val fieldObjsV = fieldObjs.result()

    // outline tree: flat depth-first (depth, title) -> linked objects.
    // parent = nearest preceding shallower item; siblings share a parent.
    val outlineRootNum = if (spec.outline.isEmpty) -1 else fnum
    val outlineObjs = Vector.newBuilder[(Int, String)]
    if (spec.outline.nonEmpty) {
      val n = spec.outline.length
      val nums = Array.tabulate(n)(outlineRootNum + 1 + _)
      val parent = Array.fill(n)(-1) // -1 = root
      for (i <- 0 until n; if spec.outline(i)._1 > 0) {
        var j = i - 1
        while (j >= 0 && spec.outline(j)._1 >= spec.outline(i)._1) j -= 1
        parent(i) = if (j >= 0) j else -1
      }
      def kidsOf(p: Int): Vector[Int] =
        (0 until n).filter(parent(_) == p).toVector
      val top = kidsOf(-1)
      outlineObjs += ((outlineRootNum,
        s"<< /Type /Outlines /First ${nums(top.head)} 0 R " +
          s"/Last ${nums(top.last)} 0 R /Count $n >>"))
      for (i <- 0 until n) {
        val sibs = kidsOf(parent(i))
        val at = sibs.indexOf(i)
        val kids = kidsOf(i)
        val sb = new StringBuilder(s"<< /Title ${pdfStr(nums(i), spec.outline(i)._2)}")
        sb.append(s" /Parent ${if (parent(i) < 0) outlineRootNum else nums(parent(i))} 0 R")
        if (at > 0) sb.append(s" /Prev ${nums(sibs(at - 1))} 0 R")
        if (at < sibs.length - 1) sb.append(s" /Next ${nums(sibs(at + 1))} 0 R")
        if (kids.nonEmpty)
          sb.append(s" /First ${nums(kids.head)} 0 R /Last ${nums(kids.last)} 0 R" +
            s" /Count ${kids.length}")
        sb.append(" >>")
        outlineObjs += ((nums(i), sb.toString))
      }
      fnum += 1 + n
    }
    val outlineObjsV = outlineObjs.result()

    // embedded files: filespec + /EmbeddedFile stream per attachment
    val efBase = fnum
    val efSpecNums = spec.embeddedFiles.indices.map(efBase + 2 * _)
    fnum += 2 * spec.embeddedFiles.length
    val xmpNum = if (spec.xmp) { val n = fnum; fnum += 1; n } else -1

    val acroFormEntry =
      if (spec.formFields.isEmpty) ""
      else " /AcroForm << /Fields [ " +
        topFieldRefs.result().map(n => s"$n 0 R").mkString(" ") + " ] >>"
    val annotsEntry =
      if (spec.annots.isEmpty) ""
      else "/Annots [ " + annotNums.map(n => s"$n 0 R").mkString(" ") + " ] "
    val outlinesEntry =
      if (spec.outline.isEmpty) "" else s" /Outlines $outlineRootNum 0 R"
    val namesEntry =
      if (spec.embeddedFiles.isEmpty) ""
      else " /Names << /EmbeddedFiles << /Names [ " +
        spec.embeddedFiles.zip(efSpecNums).map { case ((name, _), num) =>
          s"${pdfStr(2, name)} $num 0 R" // label strings live in obj 2
        }.mkString(" ") + " ] >> >>"
    val metadataEntry = if (spec.xmp) s" /Metadata $xmpNum 0 R" else ""

    if (spec.objStm) {
      require(spec.xrefStream, "objStm implies xrefStream")
      require(spec.encrypt.isEmpty, "objStm mode is unencrypted")
    }
    // objects
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def obj(body: Array[Byte]): Unit = {
      offsets += out.size()
      out.write(body)
    }
    def s2b(s: String) = s.getBytes(StandardCharsets.ISO_8859_1)
    out.write(s2b("%PDF-1.4\n%Äåòå\n"))
    val dictBodies = Vector(
      s"<< /Title ${infoStr(1, spec.title)} /Author ${infoStr(1, spec.author)} " +
        s"/Creator ${infoStr(1, "graftgen")} /Producer ${infoStr(1, "graft synthetic corpus")} " +
        s"/CreationDate ${infoStr(1, "D:20200723174639+02'00'")} " +
        s"/ModDate ${infoStr(1, "D:20200724081500Z")} >>",
      s"<< /Type /Catalog /Pages 3 0 R$acroFormEntry$outlinesEntry$namesEntry$metadataEntry >>",
      "<< /Type /Pages /MediaBox [0 0 612 792] /Count 1 /Kids [ 4 0 R ] >>", {
        val xobjRes = if (spec.imageSeed != 0) "/XObject << /Im1 8 0 R >> " else ""
        s"<< /Type /Page /Parent 3 0 R /Resources << /Font << /F1 5 0 R >> $xobjRes>> " +
          s"/Contents 6 0 R $annotsEntry/MediaBox [0 0 612 792] >>"
      },
      if (spec.fontEncoding) {
        val encEntry =
          if (fontDiffPairs.isEmpty) "/Encoding /WinAnsiEncoding"
          else "/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
            "/Differences [ " + fontDiffPairs.map { case (code, c) =>
              f"$code /uni${c.toInt}%04X"
            }.mkString(" ") + " ] >>"
        "<< /Type /Font /Subtype /TrueType /BaseFont /GRAFT+Synth " +
          s"/FirstChar 32 /LastChar 255 $encEntry >>"
      } else
        "<< /Type /Font /Subtype /TrueType /BaseFont /GRAFT+Synth " +
          "/FirstChar 33 /LastChar 255 /ToUnicode 7 0 R >>")
    if (!spec.objStm) {
      dictBodies.zipWithIndex.foreach { case (d, i) =>
        obj(s2b(s"${i + 1} 0 obj\n$d\nendobj\n"))
      }
    } else {
      // placeholders keep the offsets buffer aligned with object numbers
      // 1..5 (their real home is the ObjStm emitted after the streams)
      var i = 0
      while (i < 5) { offsets += -1; i += 1 }
    }
    obj {
      val enc = encStream(6, content)
      val b = new ByteArrayOutputStream()
      b.write(s2b(s"6 0 obj\n<< /Length ${enc.length} $contentFilterDecl >>\nstream\n"))
      b.write(enc)
      b.write(s2b("\nendstream\nendobj\n"))
      b.toByteArray
    }
    obj {
      val enc = encStream(7, cmap)
      val b = new ByteArrayOutputStream()
      b.write(s2b(s"7 0 obj\n<< /Length ${enc.length} /Filter /FlateDecode >>\nstream\n"))
      b.write(enc)
      b.write(s2b("\nendstream\nendobj\n"))
      b.toByteArray
    }
    if (spec.imageSeed != 0) spec.faxK match {
      case Some(k) =>
        // a CCITT-fax bilevel image XObject (CCITTFaxDecode): the
        // scanned-PDF page-image shape; losslessly round-trippable, so
        // CcittFax.decode must return faxPlane(seed) bit-exactly
        val fw = FaxW; val fh = FaxH
        val px = faxPlane(spec.imageSeed)
        val fax = graft.kernel.CcittFax.encode(px, fw, fh, k, byteAlign = false)
        obj {
          val enc = encStream(8, fax)
          val b = new ByteArrayOutputStream()
          b.write(s2b(s"8 0 obj\n<< /Type /XObject /Subtype /Image /Width $fw /Height $fh " +
            s"/ColorSpace /DeviceGray /BitsPerComponent 1 /Filter /CCITTFaxDecode " +
            s"/DecodeParms << /K $k /Columns $fw /Rows $fh /BlackIs1 true >> " +
            s"/Length ${enc.length} >>\nstream\n"))
          b.write(enc)
          b.write(s2b("\nendstream\nendobj\n"))
          b.toByteArray
        }
      case None if spec.jbig2 =>
        // a JBIG2-embedded bilevel image XObject (JBIG2Decode): generic
        // region over the analytic fax plane, or the symbol-dictionary
        // + text-region shape; T.88 embedded organization either way
        val fw = FaxW; val fh = FaxH
        val jb =
          if (spec.jbig2SymbolText) jbig2SymbolEmbedded(spec.imageSeed, fw, fh)._1
          else jbig2Embedded(faxPlane(spec.imageSeed), fw, fh,
            arith = spec.jbig2Arith, tpgdon = spec.jbig2Tpgdon,
            template = spec.jbig2Template)
        obj {
          val enc = encStream(8, jb)
          val b = new ByteArrayOutputStream()
          b.write(s2b(s"8 0 obj\n<< /Type /XObject /Subtype /Image /Width $fw /Height $fh " +
            s"/ColorSpace /DeviceGray /BitsPerComponent 1 /Filter /JBIG2Decode " +
            s"/Length ${enc.length} >>\nstream\n"))
          b.write(enc)
          b.write(s2b("\nendstream\nendobj\n"))
          b.toByteArray
        }
      case None =>
        // a REAL baseline-JPEG image XObject (DCTDecode): JpegDecoder can
        // pull actual pixels back out of the PDF
        val jw = 64; val jh = 48
        val jpeg = JpegWriterEx.encode(
          JpegWriterEx.Spec(jw, jh, spec.imageSeed, gray = true, quality = 85),
          PixelGen.bytes(spec.imageSeed, jw * jh))
        obj {
          val enc = encStream(8, jpeg)
          val b = new ByteArrayOutputStream()
          b.write(s2b(s"8 0 obj\n<< /Type /XObject /Subtype /Image /Width $jw /Height $jh " +
            s"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode " +
            s"/Length ${enc.length} >>\nstream\n"))
          b.write(enc)
          b.write(s2b("\nendstream\nendobj\n"))
          b.toByteArray
        }
    }
    // annotations then form fields, at the numbers laid out above
    spec.annots.zip(annotNums).foreach { case ((sub, content), num) =>
      val body = sub match {
        case "Link" =>
          s"<< /Type /Annot /Subtype /Link /Rect [72 680 200 696] " +
            s"/A << /S /URI /URI ${pdfStr(num, content)} >> >>"
        case s =>
          s"<< /Type /Annot /Subtype /$s /Rect [72 700 300 716] " +
            s"/Contents ${pdfStr(num, content)} >>"
      }
      obj(s2b(s"$num 0 obj\n$body\nendobj\n"))
    }
    fieldObjsV.foreach { case (num, body) =>
      obj(s2b(s"$num 0 obj\n$body\nendobj\n"))
    }
    outlineObjsV.foreach { case (num, body) =>
      obj(s2b(s"$num 0 obj\n$body\nendobj\n"))
    }
    spec.embeddedFiles.zip(efSpecNums).foreach { case ((name, content), specNum) =>
      val streamNum = specNum + 1
      obj(s2b(s"$specNum 0 obj\n<< /Type /Filespec /F ${pdfStr(specNum, name)} " +
        s"/UF ${pdfStr(specNum, name)} /EF << /F $streamNum 0 R >> >>\nendobj\n"))
      obj {
        val enc = encStream(streamNum,
          deflate(content.getBytes(StandardCharsets.UTF_8)))
        val b = new ByteArrayOutputStream()
        b.write(s2b(s"$streamNum 0 obj\n<< /Type /EmbeddedFile " +
          s"/Filter /FlateDecode /Length ${enc.length} >>\nstream\n"))
        b.write(enc)
        b.write(s2b("\nendstream\nendobj\n"))
        b.toByteArray
      }
    }
    if (spec.xmp) {
      def xesc(s: String): String = s.replace("&", "&amp;")
        .replace("<", "&lt;").replace(">", "&gt;")
      val desc =
        if (spec.xmpDescription.isEmpty) ""
        else "   <dc:description><rdf:Alt><rdf:li xml:lang=\"x-default\">" +
          xesc(spec.xmpDescription) + "</rdf:li></rdf:Alt></dc:description>\n"
      val packet =
        "<?xpacket begin=\"" + 0xFEFF.toChar + "\" id=\"W5M0MpCehiHzreSzNTczkc9d\"?>\n" +
          "<x:xmpmeta xmlns:x=\"adobe:ns:meta/\">\n" +
          " <rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\">\n" +
          "  <rdf:Description rdf:about=\"\" xmlns:dc=\"http://purl.org/dc/elements/1.1/\">\n" +
          "   <dc:title><rdf:Alt><rdf:li xml:lang=\"x-default\">" +
          xesc(spec.title) + "</rdf:li></rdf:Alt></dc:title>\n" +
          "   <dc:creator><rdf:Seq><rdf:li>" + xesc(spec.author) +
          "</rdf:li></rdf:Seq></dc:creator>\n" + desc +
          "  </rdf:Description>\n </rdf:RDF>\n</x:xmpmeta>\n" +
          "<?xpacket end=\"w\"?>"
      obj {
        val enc = encStream(xmpNum, packet.getBytes(StandardCharsets.UTF_8))
        val b = new ByteArrayOutputStream()
        b.write(s2b(s"$xmpNum 0 obj\n<< /Type /Metadata /Subtype /XML " +
          s"/Length ${enc.length} >>\nstream\n"))
        b.write(enc)
        b.write(s2b("\nendstream\nendobj\n"))
        b.toByteArray
      }
    }
    var objStmNum = -1
    if (spec.objStm) {
      // pack objects 1..5: header = "num off" pairs, then the bodies at
      // their declared offsets past /First
      val bodyStr = dictBodies.mkString("\n") + "\n"
      val bodyOffsets = dictBodies.scanLeft(0)((acc, d) => acc + d.length + 1)
      val header = dictBodies.indices.map(i => s"${i + 1} ${bodyOffsets(i)}").mkString(" ") + "\n"
      val payload = deflate(s2b(header + bodyStr))
      objStmNum = offsets.length + 1
      obj {
        val b = new ByteArrayOutputStream()
        b.write(s2b(s"$objStmNum 0 obj\n<< /Type /ObjStm /N 5 /First ${header.length} " +
          s"/Length ${payload.length} /Filter /FlateDecode >>\nstream\n"))
        b.write(payload)
        b.write(s2b("\nendstream\nendobj\n"))
        b.toByteArray
      }
    }
    var encTrailer = ""
    if (crypt.isDefined) {
      val encNum = offsets.length + 1
      obj(s2b(s"$encNum 0 obj\n$encDictBody\nendobj\n"))
      encTrailer = s" /Encrypt $encNum 0 R"
    }
    val idHex = docId.map(x => f"$x%02x").mkString
    val idTrailer =
      if (crypt.isDefined) s" /ID [<$idHex><$idHex>]" else ""
    val xrefPos = out.size()
    if (spec.xrefStream) {
      // modern layout: a /Type /XRef stream indexes every object
      // including itself; W = [1 4 2] (type / offset / gen). XRef
      // streams are never encrypted (ISO 32000 §7.5.8.2).
      val xrefNum = offsets.length + 1
      val size = xrefNum + 1
      val rowBytes = 7
      val rows = new Array[Byte](size * rowBytes)
      def putRow(idx: Int, t: Int, f2: Long, f3: Int): Unit = {
        val base = idx * rowBytes
        rows(base) = t.toByte
        rows(base + 1) = ((f2 >> 24) & 0xff).toByte
        rows(base + 2) = ((f2 >> 16) & 0xff).toByte
        rows(base + 3) = ((f2 >> 8) & 0xff).toByte
        rows(base + 4) = (f2 & 0xff).toByte
        rows(base + 5) = ((f3 >> 8) & 0xff).toByte
        rows(base + 6) = (f3 & 0xff).toByte
      }
      putRow(0, 0, 0L, 0xffff) // free-list head
      offsets.zipWithIndex.foreach { case (o, i) =>
        // -1 marks an object living inside the ObjStm: type-2 row
        // (container object number, index within)
        if (o < 0) putRow(i + 1, 2, objStmNum.toLong, i)
        else putRow(i + 1, 1, o.toLong, 0)
      }
      putRow(xrefNum, 1, xrefPos.toLong, 0) // the xref stream itself
      val (data, filterDecl) = spec.xrefFilter match {
        case "flate-pred" => (deflate(pngUpFilter(rows, rowBytes)),
          s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $rowBytes >>")
        case "flate" => (deflate(rows), "/Filter /FlateDecode")
        case "lzw-pred" => (lzwEncode(pngUpFilter(rows, rowBytes)),
          s"/Filter /LZWDecode /DecodeParms << /Predictor 12 /Columns $rowBytes >>")
        case other => throw new IllegalArgumentException(s"xrefFilter=$other")
      }
      out.write(s2b(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
        s"$filterDecl /Length ${data.length} /Root 2 0 R /Info 1 0 R" +
        s"$encTrailer$idTrailer >>\nstream\n"))
      out.write(data)
      out.write(s2b(s"\nendstream\nendobj\nstartxref\n$xrefPos\n%%EOF\n"))
    } else {
      val xref = new StringBuilder
      xref.append(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
      offsets.foreach(o => xref.append("%010d 00000 n \n".formatLocal(Locale.ROOT, o)))
      xref.append(s"trailer\n<< /Size ${offsets.length + 1} /Root 2 0 R /Info 1 0 R" +
        s"$encTrailer$idTrailer >>\n")
      xref.append(s"startxref\n$xrefPos\n%%EOF\n")
      out.write(s2b(xref.toString))
    }
    out.toByteArray
  }

  /** Embedded-organization JBIG2 stream (T.88 annex on embedded streams,
    * the ISO 32000 §7.4.7 shape): a page information segment then one
    * immediate lossless generic region (type 39) whose body is MMR
    * (T.6/G4) data — graft.kernel.Jbig2.decodeEmbedded must return the
    * packed plane bit-exactly. Also reused at a region offset by tests.
    */
  private[graft] def jbig2Embedded(px: Array[Byte], w: Int, h: Int,
      rx: Int = 0, ry: Int = 0, arith: Boolean = false,
      tpgdon: Boolean = false, template: Int = 0): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def segHeader(num: Int, segType: Int, len: Int): Unit = {
      be32(num.toLong)
      out.write(segType) // 1-byte page association, not deferred
      out.write(0x00)    // zero referred-to segments
      out.write(0x01)    // page 1
      be32(len.toLong)
    }
    // page information: width, height (region extent), xres/yres 0
    // ("unknown"), flags 0, no striping
    segHeader(0, 48, 19)
    be32((rx + w).toLong); be32((ry + h).toLong); be32(0); be32(0)
    out.write(0x00); out.write(0x00); out.write(0x00)
    // immediate lossless generic region: region info + flags + body —
    // MMR (T.6) or MQ-arithmetic template 0 with nominal AT pixels
    if (arith) {
      val body = graft.kernel.Jbig2.encodeGenericArith(px, w, h, tpgdon, template)
      val at = graft.kernel.Jbig2.nominalAtBytes(template)
      segHeader(1, 39, 18 + at.length + body.length)
      be32(w.toLong); be32(h.toLong); be32(rx.toLong); be32(ry.toLong)
      out.write(0x00) // external combination operator: OR
      // generic region flags: MMR = 0, bits 1-2 template, bit 3 TPGDON
      out.write((if (tpgdon) 0x08 else 0x00) | (template << 1))
      out.write(at)
      out.write(body)
    } else {
      val mmr = graft.kernel.CcittFax.encode(px, w, h, k = -1, byteAlign = false)
      segHeader(1, 39, 18 + mmr.length)
      be32(w.toLong); be32(h.toLong); be32(rx.toLong); be32(ry.toLong)
      out.write(0x00) // external combination operator: OR
      out.write(0x01) // generic region flags: MMR = 1
      out.write(mmr)
    }
    out.toByteArray
  }

  /** Embedded JBIG2 in the SYMBOL/TEXT shape real scanned-text encoders
    * emit: page info + one symbol dictionary (glyph bitmaps generic-
    * coded through ONE shared MQ encoder/context, height classes with
    * IADH/IADW deltas, IAEX export runs) + one immediate text region
    * (strip/instance coding: IADT/IAFS/IADS/IAID). Returns (stream,
    * expected page plane) — Jbig2.decodeEmbedded must reproduce the
    * plane bit-exactly (the composition is replicated here).
    */
  private[graft] def jbig2SymbolEmbedded(seed: Long, w: Int, h: Int): (Array[Byte], Array[Byte]) = {
    import graft.kernel.{Jbig2, MqCoder}
    val rnd = new java.util.Random(seed)
    // glyphs, height-class sorted
    val nSyms = 3 + rnd.nextInt(4)
    val syms = Vector.tabulate(nSyms) { _ =>
      val sw = 4 + rnd.nextInt(9); val sh = 4 + rnd.nextInt(9)
      val stride = (sw + 7) / 8
      val px = new Array[Byte](stride * sh)
      for (yy <- 0 until sh; xx <- 0 until sw if rnd.nextInt(3) != 0)
        px(yy * stride + (xx >> 3)) =
          (px(yy * stride + (xx >> 3)) | (0x80 >> (xx & 7))).toByte
      (sw, sh, px)
    }.sortBy(s => (s._2, s._1))
    // placements: rows of instances (strip-major, s ascending)
    val maxH = syms.map(_._2).max
    val rows = Vector.newBuilder[(Int, Vector[(Int, Int)])]
    var t = 1 + rnd.nextInt(3)
    while (t + maxH < h) {
      val insts = Vector.newBuilder[(Int, Int)]
      var s = rnd.nextInt(4)
      var go = true
      while (go) {
        val id = rnd.nextInt(nSyms)
        if (s + syms(id)._1 <= w) {
          insts += ((s, id))
          s += syms(id)._1 + rnd.nextInt(5)
        } else go = false
        if (s >= w) go = false
      }
      val r = insts.result()
      if (r.nonEmpty) rows += ((t, r))
      t += maxH + 1 + rnd.nextInt(3)
    }
    val placements = rows.result()
    // expected page: the same OR composition the decoder performs
    val stride = (w + 7) / 8
    val page = new Array[Byte](stride * h)
    placements.foreach { case (rt, insts) =>
      insts.foreach { case (rs, id) =>
        val (sw, sh, px) = syms(id)
        val sStride = (sw + 7) / 8
        for (yy <- 0 until sh; xx <- 0 until sw) {
          if (((px(yy * sStride + (xx >> 3)) >> (7 - (xx & 7))) & 1) == 1) {
            val py = rt + yy; val pxx = rs + xx
            if (py >= 0 && py < h && pxx >= 0 && pxx < w)
              page(py * stride + (pxx >> 3)) =
                (page(py * stride + (pxx >> 3)) | (0x80 >> (pxx & 7))).toByte
          }
        }
      }
    }
    // ---- symbol dictionary MQ stream
    val encD = new MqCoder.Enc
    val cxGb = new Array[Byte](1 << 16)
    val cxIadh = new Array[Byte](512)
    val cxIadw = new Array[Byte](512)
    val cxIaex = new Array[Byte](512)
    var hPrev = 0
    var i = 0
    while (i < nSyms) {
      val hc = syms(i)._2
      encD.int(cxIadh, hc - hPrev)
      hPrev = hc
      var wPrev = 0
      while (i < nSyms && syms(i)._2 == hc) {
        val (sw, _, px) = syms(i)
        encD.int(cxIadw, sw - wPrev)
        wPrev = sw
        Jbig2.encodeGenericWith(encD, cxGb, px, sw, hc, template = 0, tpgdon = false)
        i += 1
      }
      encD.int(cxIadw, 0, oob = true) // height class done
    }
    encD.int(cxIaex, 0)       // run of 0 non-exported
    encD.int(cxIaex, nSyms)   // export everything
    val dictData = encD.flush()
    // ---- text region MQ stream (strips = 1, TOPLEFT corner)
    val symCodeLen =
      if (nSyms == 1) 1 else 32 - Integer.numberOfLeadingZeros(nSyms - 1)
    val encT = new MqCoder.Enc
    val cxIadt = new Array[Byte](512)
    val cxIafs = new Array[Byte](512)
    val cxIads = new Array[Byte](512)
    val cxIaid = new Array[Byte](1 << (symCodeLen + 1))
    encT.int(cxIadt, 0) // initial STRIPT
    var tPrev = 0
    var firstSPrev = 0
    var nInstances = 0
    placements.zipWithIndex.foreach { case ((rt, insts), ri) =>
      encT.int(cxIadt, rt - tPrev)
      tPrev = rt
      var sPrevEnd = 0
      insts.zipWithIndex.foreach { case ((rs, id), ii) =>
        if (ii == 0) { encT.int(cxIafs, rs - firstSPrev); firstSPrev = rs }
        else encT.int(cxIads, rs - sPrevEnd)
        encT.id(cxIaid, id, symCodeLen)
        sPrevEnd = rs + syms(id)._1 - 1
        nInstances += 1
      }
      if (ri < placements.length - 1) encT.int(cxIads, 0, oob = true)
    }
    val textData = encT.flush()
    // ---- segments
    val out = new ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def segHeader(num: Int, segType: Int, refs: Seq[Int], len: Int): Unit = {
      be32(num.toLong)
      out.write(segType)
      out.write((refs.length & 7) << 5) // short-form referred count
      refs.foreach(out.write) // 1-byte refs (segment numbers <= 256)
      out.write(0x01) // page 1
      be32(len.toLong)
    }
    segHeader(0, 48, Nil, 19) // page info
    be32(w.toLong); be32(h.toLong); be32(0); be32(0)
    out.write(0x00); out.write(0x00); out.write(0x00)
    val at = graft.kernel.Jbig2.nominalAtBytes(0)
    segHeader(1, 0, Nil, 2 + at.length + 8 + dictData.length) // symbol dict
    out.write(0x00); out.write(0x00) // flags: SDHUFF=0, REFAGG=0, template 0
    out.write(at)
    be32(nSyms.toLong) // SDNUMEXSYMS
    be32(nSyms.toLong) // SDNUMNEWSYMS
    out.write(dictData)
    segHeader(2, 6, Seq(1), 17 + 2 + 4 + textData.length) // immediate text region
    be32(w.toLong); be32(h.toLong); be32(0); be32(0)
    out.write(0x00) // combination operator OR
    // flags: SBHUFF=0 REFINE=0 LOGSBSTRIPS=0 REFCORNER=TOPLEFT(1)
    // TRANSPOSED=0 SBCOMBOP=OR SBDEFPIXEL=0 SBDSOFFSET=0
    out.write(0x00); out.write(0x10)
    be32(nInstances.toLong)
    out.write(textData)
    (out.toByteArray, page)
  }

  /** Forward PNG Up filter (predictor 12): per row a tag byte 2 plus
    * row-minus-previous-row bytes — what PdfKernel.applyPredictor must
    * invert exactly.
    */
  private def pngUpFilter(data: Array[Byte], rowBytes: Int): Array[Byte] = {
    val nRows = data.length / rowBytes
    val out = new Array[Byte](nRows * (rowBytes + 1))
    var r = 0
    while (r < nRows) {
      out(r * (rowBytes + 1)) = 2
      var i = 0
      while (i < rowBytes) {
        val up = if (r == 0) 0 else data((r - 1) * rowBytes + i) & 0xff
        out(r * (rowBytes + 1) + 1 + i) = ((data(r * rowBytes + i) & 0xff) - up).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** PDF LZW encoder (EarlyChange 1): MSB-first 9->12-bit codes,
    * Clear up front, EOD at the end; width bumps one entry early, in
    * lockstep with PdfKernel.lzwDecode (both freeze the table at 4096).
    */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    var bitBuf = 0L
    var bitCnt = 0
    def put(code: Int, width: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      bitCnt += width
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    var width = 9
    val dict = new java.util.HashMap[Long, Integer]()
    var next = 258
    def key(p: Int, b: Byte): Long = (p.toLong << 8) | (b & 0xffL)
    put(256, width) // Clear
    var prev = -1
    var i = 0
    while (i < data.length) {
      val b = data(i)
      if (prev < 0) prev = b & 0xff
      else {
        val e = dict.get(key(prev, b))
        if (e != null) prev = e.intValue()
        else {
          put(prev, width)
          // the decoder's table add lags ONE code behind the encoder's
          // (it adds this entry on receiving the NEXT code), so with
          // EarlyChange=1 the encoder bumps at 2^w while the decoder
          // bumps at its own 2^w - 1 — the same bitstream position
          if (next < 4096) {
            dict.put(key(prev, b), next)
            next += 1
            if (next == (1 << width) && width < 12) width += 1
          }
          prev = b & 0xff
        }
      }
      i += 1
    }
    if (prev >= 0) put(prev, width)
    put(257, width) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** ASCII85 encoder ('z' shorthand for zero groups, '~>' terminator). */
  private[graft] def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(data.length * 5 / 4 + 8)
    var i = 0
    while (i + 4 <= data.length) {
      var t = 0L
      var k = 0
      while (k < 4) { t = (t << 8) | (data(i + k) & 0xffL); k += 1 }
      if (t == 0) sb.append('z')
      else {
        val cs = new Array[Char](5)
        var j = 4
        while (j >= 0) { cs(j) = ('!' + (t % 85).toInt).toChar; t /= 85; j -= 1 }
        sb.appendAll(cs)
        if ((sb.length & 63) == 0) sb.append('\n') // wrap long lines
      }
      i += 4
    }
    val rem = data.length - i
    if (rem > 0) {
      var t = 0L
      var k = 0
      while (k < 4) { t = (t << 8) | (if (k < rem) data(i + k) & 0xffL else 0L); k += 1 }
      val cs = new Array[Char](5)
      var j = 4
      while (j >= 0) { cs(j) = ('!' + (t % 85).toInt).toChar; t /= 85; j -= 1 }
      sb.appendAll(cs.take(rem + 1))
    }
    sb.append("~>")
    sb.toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** RunLengthDecode encoder: literal chunks only (<=128 bytes) + EOD —
    * valid RLE, no compression needed for a fixture.
    */
  private[graft] def rleEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + data.length / 128 + 4)
    var i = 0
    while (i < data.length) {
      val n = math.min(128, data.length - i)
      out.write(n - 1)
      out.write(data, i, n)
      i += n
    }
    out.write(128) // EOD
    out.toByteArray
  }

  /** PDF text string escape: latin-1 stays literal; anything wider is
    * emitted as a UTF-16BE string with BOM, octal-escaped (the PDF spec's
    * portable form; PdfKernel decodes it via the BOM).
    */
  private def esc(s: String): String =
    if (s.forall(_ < 256))
      s.flatMap {
        case '('  => "\\("
        case ')'  => "\\)"
        case '\\' => "\\\\"
        case c    => c.toString
      }
    else {
      val bytes = Array[Byte](0xfe.toByte, 0xff.toByte) ++
        s.getBytes(StandardCharsets.UTF_16BE)
      bytes.flatMap { b =>
        val v = b & 0xff
        if (v == '('.toInt || v == ')'.toInt || v == '\\'.toInt) f"\\$v%03o"
        else if (v >= 0x20 && v < 0x7f) v.toChar.toString
        else f"\\$v%03o"
      }.mkString
    }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
