package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.util.{Locale, SplittableRandom}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

/** Round-3 corpus writers: RFC-822 email, zip/tar.gz archive bundles, and
  * refined-subtype text (CSV/TSV/Markdown/XML/Python) — each with
  * analytically-known expected extraction output, like every other writer.
  */

object EmlWriter {

  /** mode: 0 = 7bit utf-8, 1 = base64 utf-8, 2 = quoted-printable,
    * 3 = multipart (text/plain part first, text/html decoy second).
    */
  final case class Spec(subject: String, from: String, to: String,
      paragraphs: Vector[String], mode: Int)

  /** Expected extracted content: the (first text/plain) body with
    * paragraphs blank-line separated, trailing newline from the writer.
    */
  def expectedText(spec: Spec): String =
    spec.paragraphs.mkString("", "\n\n", "\n")

  def write(spec: Spec): Array[Byte] = {
    val body = spec.paragraphs.mkString("", "\r\n\r\n", "\r\n")
    val sb = new StringBuilder
    def h(k: String, v: String): Unit = { sb.append(k).append(": ").append(v).append("\r\n") }
    h("From", spec.from)
    h("To", spec.to)
    h("Subject", spec.subject)
    h("Date", "Mon, 01 Jan 2024 10:00:00 +0000")
    h("Message-ID", s"<${(spec.subject.hashCode & 0x7fffffff)}@graft.example>")
    h("MIME-Version", "1.0")
    spec.mode match {
      case 1 =>
        h("Content-Type", "text/plain; charset=utf-8")
        h("Content-Transfer-Encoding", "base64")
        sb.append("\r\n")
        sb.append(java.util.Base64.getMimeEncoder(72, "\r\n".getBytes)
          .encodeToString(body.getBytes(StandardCharsets.UTF_8)))
        sb.append("\r\n")
      case 2 =>
        h("Content-Type", "text/plain; charset=utf-8")
        h("Content-Transfer-Encoding", "quoted-printable")
        sb.append("\r\n")
        sb.append(qpEncode(body.getBytes(StandardCharsets.UTF_8)))
      case 3 =>
        val b = "----=_graft_boundary"
        h("Content-Type", s"""multipart/alternative; boundary="$b"""")
        sb.append("\r\n")
        sb.append(s"--$b\r\n")
        sb.append("Content-Type: text/plain; charset=utf-8\r\n\r\n")
        sb.append(body)
        sb.append(s"--$b\r\n")
        sb.append("Content-Type: text/html; charset=utf-8\r\n\r\n")
        sb.append("<html><body><p>decoy html alternative</p></body></html>\r\n")
        sb.append(s"--$b--\r\n")
      case 4 =>
        // multipart/mixed with attachments: the real mail shape — body
        // text first, then a base64 binary and a named CSV part
        val b = "----=_graft_mixed"
        h("Content-Type", s"""multipart/mixed; boundary="$b"""")
        sb.append("\r\n")
        sb.append(s"--$b\r\n")
        sb.append("Content-Type: text/plain; charset=utf-8\r\n\r\n")
        sb.append(body)
        sb.append(s"--$b\r\n")
        sb.append("Content-Type: application/octet-stream\r\n")
        sb.append("Content-Transfer-Encoding: base64\r\n")
        sb.append("Content-Disposition: attachment; filename=\"report.bin\"\r\n\r\n")
        sb.append(java.util.Base64.getMimeEncoder(72, "\r\n".getBytes)
          .encodeToString(Array.tabulate[Byte](64)(i => (i * 7).toByte)))
        sb.append("\r\n")
        sb.append(s"--$b\r\n")
        sb.append("Content-Type: text/csv; name=\"data.csv\"\r\n")
        sb.append("Content-Disposition: attachment; filename=\"data.csv\"\r\n\r\n")
        sb.append("a,b\r\n1,2\r\n")
        sb.append(s"--$b--\r\n")
      case _ =>
        h("Content-Type", "text/plain; charset=utf-8")
        h("Content-Transfer-Encoding", "8bit")
        sb.append("\r\n")
        sb.append(body)
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def qpEncode(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    var lineLen = 0
    bytes.foreach { b =>
      val v = b & 0xff
      val tok =
        if (v == '\r'.toInt || v == '\n'.toInt) { lineLen = 0; v.toChar.toString }
        else if (v >= 33 && v <= 126 && v != '='.toInt) v.toChar.toString
        else if (v == ' '.toInt) " "
        else f"=$v%02X"
      if (lineLen + tok.length > 72 && v != '\r'.toInt && v != '\n'.toInt) {
        sb.append("=\r\n"); lineLen = 0
      }
      sb.append(tok)
      if (v != '\r'.toInt && v != '\n'.toInt) lineLen += tok.length
    }
    sb.toString
  }
}

/** Outlook .msg: MAPI property streams in a CFB container (the kernel's
  * PR_SUBJECT/PR_SENDER_NAME/PR_DISPLAY_TO/PR_BODY mapping, UTF-16LE).
  */
object MsgWriter {

  final case class Spec(subject: String, sender: String, to: String,
      bodyParagraphs: Vector[String],
      attachments: Seq[(String, Array[Byte])] = Nil)

  def expectedText(spec: Spec): String =
    spec.bodyParagraphs.mkString("", "\n\n", "\n")

  def write(spec: Spec): Array[Byte] = {
    def utf16(s: String): Array[Byte] =
      s.getBytes(StandardCharsets.UTF_16LE)
    val body = spec.bodyParagraphs.mkString("", "\r\n\r\n", "\r\n")
    val rootStreams = Seq(
      "__substg1.0_0037001F" -> utf16(spec.subject),
      "__substg1.0_0C1A001F" -> utf16(spec.sender),
      "__substg1.0_0E04001F" -> utf16(spec.to),
      "__substg1.0_1000001F" -> utf16(body),
      "__properties_version1.0" -> new Array[Byte](32))
    if (spec.attachments.isEmpty) CfbWriter.buildStreams(rootStreams)
    else CfbWriter.buildWithStorages(rootStreams,
      spec.attachments.zipWithIndex.map { case ((fname, data), i) =>
        (f"__attach_version1.0_#$i%08X", Seq(
          "__substg1.0_3707001F" -> utf16(fname), // PR_ATTACH_LONG_FILENAME
          "__substg1.0_37010102" -> data))        // PR_ATTACH_DATA_BIN
      })
  }
}

object ArchiveWriter {

  /** Zip of binary members via ZipOutputStream — DELIBERATELY the
    * streamed-writer shape (data-descriptor local headers), so routing
    * must go through the EOCD/central-directory path, not the local walk.
    */
  def writeZip(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(out)
    members.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      // fixed mod-time => byte-deterministic archives (the un-set entry
      // time is wall-clock: it made ~0.5% of media payloads differ
      // between corpus regenerations, breaking the Gen.build purity
      // contract and regen-stability of byte-checksum queries). Set as
      // local time: setTime(epochMs) converts through the default zone.
      e.setTimeLocal(LocalDateTime.of(2020, 7, 23, 17, 46, 39))
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    out.toByteArray
  }

  /** Rewrite a classic zip into the ZIP64 layout: an EOCD64 record plus
    * locator inserted before the EOCD, whose central-directory offset
    * field is forced to the 0xffffffff sentinel — the shape large
    * real-world archives carry. Local headers are untouched (so
    * ZipInputStream extraction is unchanged); only EOCD64-aware
    * classification (Magic's D1+5 routing) can find the central
    * directory.
    */
  def toZip64(zip: Array[Byte]): Array[Byte] = {
    var e = zip.length - 22
    while (e > 0 && !(zip(e) == 'P' && zip(e + 1) == 'K' && zip(e + 2) == 5 &&
      zip(e + 3) == 6)) e -= 1
    require(e > 0, "no EOCD")
    def u32(p: Int): Long = (zip(p) & 0xffL) | ((zip(p + 1) & 0xffL) << 8) |
      ((zip(p + 2) & 0xffL) << 16) | ((zip(p + 3) & 0xffL) << 24)
    val cdOff = u32(e + 16)
    val cdSize = u32(e + 12)
    val nEntries = (zip(e + 10) & 0xff) | ((zip(e + 11) & 0xff) << 8)
    val out = new ByteArrayOutputStream()
    out.write(zip, 0, e)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    def w64(v: Long): Unit = (0 until 8).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    // EOCD64 record (PK\6\6) at offset e
    out.write('P'); out.write('K'); out.write(6); out.write(6)
    w64(44L)          // size of the record remainder
    w16(45); w16(45)  // version made by / needed
    w32(0L); w32(0L)  // this disk / cd start disk
    w64(nEntries.toLong); w64(nEntries.toLong)
    w64(cdSize); w64(cdOff)
    // EOCD64 locator (PK\6\7)
    out.write('P'); out.write('K'); out.write(6); out.write(7)
    w32(0L); w64(e.toLong); w32(1L)
    // classic EOCD with the sentinel CD offset
    out.write(zip, e, 16)
    w32(0xffffffffL)
    out.write(zip(e + 20)); out.write(zip(e + 21)) // comment length (0)
    out.toByteArray
  }

  /** ustar tar of regular-file members (deterministic mtime). */
  def writeTar(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    members.foreach { case (name, bytes) =>
      val hdr = new Array[Byte](512)
      def put(s: String, off: Int, len: Int): Unit = {
        val b = s.getBytes(StandardCharsets.US_ASCII)
        System.arraycopy(b, 0, hdr, off, math.min(b.length, len))
      }
      put(name, 0, 100)
      put("0000644", 100, 8)
      put("0000000", 108, 8)
      put("0000000", 116, 8)
      put(f"${bytes.length}%011o", 124, 12)
      put("00000000000", 136, 12) // mtime: epoch (deterministic)
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // chksum as spaces
      hdr(156) = '0'
      put("ustar", 257, 6)
      put("00", 263, 2)
      var sum = 0
      var i = 0
      while (i < 512) { sum += hdr(i) & 0xff; i += 1 }
      put(f"$sum%06o", 148, 7) // 6 octal digits + NUL, then the space stays
      hdr(154) = 0
      out.write(hdr)
      out.write(bytes)
      val pad = (512 - (bytes.length % 512)) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024)) // two zero blocks: end of archive
    out.toByteArray
  }

  def writeTarGz(members: Seq[(String, Array[Byte])]): Array[Byte] =
    writeWrapped(writeTar(members), "gz")

  /** 7z archive, one single-coder folder per member. codec "copy"
    * stores members raw (7z -m0=Copy); "lzma2" encodes each member as a
    * raw LZMA2 chunk stream (the 7-Zip default coder, id 0x21, 64 KiB
    * dict). encodedHeader compresses the end header itself as an LZMA2
    * folder behind a kEncodedHeader (0x17) stub — the layout 7-Zip
    * writes for any non-trivial archive.
    */
  /** folderCrcs=true emits the real-7-Zip CRC layout the plain writer
    * omits: UnpackInfo kCRC defines folder CRCs for EVEN-indexed folders
    * (bitmask form), and SubStreamsInfo kCRC then carries digests ONLY
    * for the remaining streams — the spec's exclusion rule whose count
    * arithmetic ADVICE r6 flagged in the reader.
    */
  def write7z(members: Seq[(String, Array[Byte])], codec: String = "copy",
      encodedHeader: Boolean = false, folderCrcs: Boolean = false): Array[Byte] = {
    require(members.nonEmpty && members.size <= 0xffff)
    val Lzma2DictCode = 8 // (2|(8&1)) << (8/2+11) = 2 << 15 = 64 KiB
    def lzma2(data: Array[Byte]): Array[Byte] = {
      val bo = new ByteArrayOutputStream()
      val opts = new org.tukaani.xz.LZMA2Options(3)
      opts.setDictSize(64 << 10)
      val enc = opts.getOutputStream(
        new org.tukaani.xz.FinishableWrapperOutputStream(bo))
      enc.write(data); enc.finish()
      bo.toByteArray
    }
    val packed = members.map { case (_, data) =>
      if (codec == "lzma2") lzma2(data) else data
    }
    val memberCrcs: Seq[Long] = members.map { case (_, data) =>
      val c = new java.util.zip.CRC32(); c.update(data); c.getValue
    }
    def num(out: ByteArrayOutputStream, v0: Long): Unit = {
      var i = 0
      var fits = false
      while (i < 8 && !fits) {
        if (v0 >= 0 && v0 < (1L << (8 * i + 7 - i))) {
          val prefix = (0xff << (8 - i)) & 0xff
          out.write(prefix | (v0 >>> (8 * i)).toInt)
          var j = 0
          while (j < i) { out.write(((v0 >> (8 * j)) & 0xff).toInt); j += 1 }
          fits = true
        }
        i += 1
      }
      if (!fits) {
        out.write(0xff)
        var j = 0
        while (j < 8) { out.write(((v0 >> (8 * j)) & 0xff).toInt); j += 1 }
      }
    }
    def streamsInfo(out: ByteArrayOutputStream, packPos: Long, sizes: Seq[Long],
        unpackSizes: Seq[Long]): Unit = {
      out.write(0x06) // PackInfo
      num(out, packPos); num(out, sizes.length)
      out.write(0x09); sizes.foreach(num(out, _))
      out.write(0x00)
      out.write(0x07) // UnpackInfo
      out.write(0x0b); num(out, sizes.length); out.write(0x00) // folders, internal
      unpackSizes.indices.foreach { _ =>
        num(out, 1) // one coder
        if (codec == "lzma2") {
          out.write(0x21) // idSize 1 | attrs flag
          out.write(0x21) // coder id LZMA2
          num(out, 1); out.write(Lzma2DictCode)
        } else {
          out.write(0x01) // idSize 1, no attrs
          out.write(0x00) // coder id Copy
        }
      }
      out.write(0x0c); unpackSizes.foreach(num(out, _)) // CodersUnpackSize
      if (folderCrcs) {
        // UnpackInfo kCRC: even-indexed folders defined (bitmask,
        // MSB-first per byte), CRC32 little-endian each
        out.write(0x0a)
        out.write(0x00) // not AllAreDefined
        var acc = 0; var nbits = 0
        unpackSizes.indices.foreach { i =>
          acc = (acc << 1) | (if (i % 2 == 0) 1 else 0); nbits += 1
          if (nbits == 8) { out.write(acc); acc = 0; nbits = 0 }
        }
        if (nbits > 0) out.write(acc << (8 - nbits))
        memberCrcs.zipWithIndex.foreach { case (c, i) =>
          if (i % 2 == 0) (0 until 4).foreach(j => out.write(((c >> (8 * j)) & 0xff).toInt))
        }
      }
      out.write(0x00) // end UnpackInfo
      out.write(0x08) // SubStreamsInfo (1 stream per folder; sizes =
                      //   folder sizes — strict readers want it)
      if (folderCrcs && unpackSizes.indices.exists(_ % 2 == 1)) {
        // digests ONLY for streams without a folder-level CRC
        out.write(0x0a)
        out.write(0x01) // AllAreDefined over the digest-lacking streams
        memberCrcs.zipWithIndex.foreach { case (c, i) =>
          if (i % 2 == 1) (0 until 4).foreach(j => out.write(((c >> (8 * j)) & 0xff).toInt))
        }
      }
      out.write(0x00) // end SubStreamsInfo
      out.write(0x00) // end StreamsInfo
    }
    // end header
    val hdr = new ByteArrayOutputStream()
    hdr.write(0x01) // kHeader
    hdr.write(0x04) // MainStreamsInfo
    streamsInfo(hdr, 0L, packed.map(_.length.toLong), members.map(_._2.length.toLong))
    hdr.write(0x05) // FilesInfo
    num(hdr, members.length)
    val nameBytes = new ByteArrayOutputStream()
    nameBytes.write(0x00) // internal names
    members.foreach { case (n, _) =>
      nameBytes.write((n + 0.toChar).getBytes(StandardCharsets.UTF_16LE))
    }
    hdr.write(0x11); num(hdr, nameBytes.size()); nameBytes.writeTo(hdr)
    hdr.write(0x00) // end FilesInfo
    hdr.write(0x00) // end Header
    val hdrBytes = hdr.toByteArray

    val membersLen = packed.map(_.length.toLong).sum
    // encoded-header mode: the LZMA2-packed header bytes live in the
    // stream area after the member data; the NextHeader is a 0x17 stub
    // whose StreamsInfo points at them
    val (tail, nextHeader): (Array[Byte], Array[Byte]) =
      if (!encodedHeader) (Array.empty[Byte], hdrBytes)
      else {
        val packedHdr = lzma2(hdrBytes)
        val eh = new ByteArrayOutputStream()
        eh.write(0x17)
        eh.write(0x06); num(eh, membersLen); num(eh, 1)
        eh.write(0x09); num(eh, packedHdr.length)
        eh.write(0x00)
        eh.write(0x07); eh.write(0x0b); num(eh, 1); eh.write(0x00)
        num(eh, 1); eh.write(0x21); eh.write(0x21); num(eh, 1); eh.write(Lzma2DictCode)
        eh.write(0x0c); num(eh, hdrBytes.length)
        eh.write(0x00); eh.write(0x00)
        (packedHdr, eh.toByteArray)
      }
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte]('7', 'z', 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c))
    out.write(0x00); out.write(0x04) // version
    val nhOff = membersLen + tail.length
    val start = new ByteArrayOutputStream()
    def w64(o: ByteArrayOutputStream, v: Long): Unit =
      (0 until 8).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))
    def w32(o: ByteArrayOutputStream, v: Long): Unit =
      (0 until 4).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))
    w64(start, nhOff); w64(start, nextHeader.length.toLong)
    val nhCrc = new java.util.zip.CRC32(); nhCrc.update(nextHeader)
    w32(start, nhCrc.getValue)
    val startBytes = start.toByteArray
    val shCrc = new java.util.zip.CRC32(); shCrc.update(startBytes)
    w32(out, shCrc.getValue)
    out.write(startBytes)
    packed.foreach(out.write)
    out.write(tail)
    out.write(nextHeader)
    out.toByteArray
  }

  /** RAR5 archive: real header blocks (signature, main, one stored file
    * block per member, end) with correct CRC32s and vint fields. The
    * data areas carry the raw member bytes; RarKernel reads names and
    * sizes from the headers (metadata-only, matching the kernel scope).
    */
  def writeRar5(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte]('R', 'a', 'r', '!', 0x1a, 0x07, 0x01, 0x00))
    def vint(o: ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      var go = true
      while (go) {
        val c = (v & 0x7f).toInt
        v >>>= 7
        if (v == 0) { o.write(c); go = false } else o.write(c | 0x80)
      }
    }
    def block(body: ByteArrayOutputStream => Unit, data: Array[Byte]): Unit = {
      val b = new ByteArrayOutputStream()
      body(b)
      val hdr = b.toByteArray
      val sz = new ByteArrayOutputStream()
      vint(sz, hdr.length)
      val crc = new java.util.zip.CRC32()
      crc.update(sz.toByteArray); crc.update(hdr)
      (0 until 4).foreach(i => out.write(((crc.getValue >> (8 * i)) & 0xff).toInt))
      sz.writeTo(out)
      out.write(hdr)
      out.write(data)
    }
    block(b => { vint(b, 1); vint(b, 0); vint(b, 0) }, Array.empty) // main: type 1
    members.foreach { case (name, data) =>
      block(b => {
        vint(b, 2)            // type: file
        vint(b, 0x2)          // flags: data area present
        vint(b, data.length)  // data size
        vint(b, 0)            // file flags
        vint(b, data.length)  // unpacked size
        vint(b, 0)            // attributes
        vint(b, 0)            // compression info: stored
        vint(b, 1)            // host os: unix
        val nb = name.getBytes(StandardCharsets.UTF_8)
        vint(b, nb.length)
        b.write(nb, 0, nb.length)
      }, data)
    }
    block(b => { vint(b, 5); vint(b, 0); vint(b, 0) }, Array.empty) // end: type 5
    out.toByteArray
  }

  /** Wrap arbitrary bytes in one of the wrapper codecs ("gz"/"bz2"/
    * "xz"/"zst") — bzip2/xz/zstd via the jars the Spark platform ships.
    */
  def writeWrapped(payload: Array[Byte], codec: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w: java.io.OutputStream = codec match {
      case "gz"  => new GZIPOutputStream(out)
      case "bz2" =>
        new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(out)
      case "xz"  =>
        new org.tukaani.xz.XZOutputStream(out, new org.tukaani.xz.LZMA2Options(3))
      case "zst" => new com.github.luben.zstd.ZstdOutputStream(out)
      case other => throw new IllegalArgumentException(other)
    }
    w.write(payload)
    w.close()
    out.toByteArray
  }
}

/** Refined-subtype text content (inline spans or text media bytes):
  * deterministic CSV/TSV/Markdown/XML/Python with the expected extracted
  * text computed alongside (XML extracts leaf text; others verbatim).
  */
object SubtextGen {

  final case class Piece(content: String, expected: String, subtype: String)

  def build(rng: SplittableRandom, lang: String): Piece = rng.nextInt(7) match {
    case 0 => csv(rng, lang, '\t')
    case 1 => csv(rng, lang, ',')
    case 2 => markdown(rng, lang)
    case 3 => xml(rng, lang)
    case 4 => json(rng, lang)
    case 5 => svg(rng, lang)
    case _ => python(rng, lang)
  }

  private def word(rng: SplittableRandom, lang: String): String =
    TextGen.titleLine(rng, lang).split(" ")(0).toLowerCase(Locale.ROOT)

  private def csv(rng: SplittableRandom, lang: String, sep: Char): Piece = {
    val nCols = 2 + rng.nextInt(4)
    val nRows = 3 + rng.nextInt(10)
    val header = (0 until nCols).map(i => s"col_$i").mkString(sep.toString)
    val rows = Vector.tabulate(nRows) { _ =>
      (0 until nCols).map { c =>
        if (c % 2 == 0) word(rng, lang) else String.valueOf(rng.nextInt(100000))
      }.mkString(sep.toString)
    }
    val content = (header +: rows).mkString("\n")
    Piece(content, content,
      if (sep == '\t') "text/tab-separated-values" else "text/csv")
  }

  private def markdown(rng: SplittableRandom, lang: String): Piece = {
    val sb = new StringBuilder
    sb.append("# ").append(TextGen.titleLine(rng, lang)).append("\n\n")
    sb.append(TextGen.paragraph(rng, lang, 1 + rng.nextInt(3))).append("\n\n")
    val items = 2 + rng.nextInt(4)
    (0 until items).foreach(_ => sb.append("- ").append(TextGen.titleLine(rng, lang)).append("\n"))
    sb.append("\n## ").append(TextGen.titleLine(rng, lang)).append("\n\n")
    sb.append(TextGen.paragraph(rng, lang, 1 + rng.nextInt(2)))
    val content = sb.toString
    Piece(content, content, "text/x-web-markdown")
  }

  private def xml(rng: SplittableRandom, lang: String): Piece = {
    val items = Vector.tabulate(2 + rng.nextInt(5))(_ => TextGen.titleLine(rng, lang))
    val content = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<records>\n" +
      items.map(v => s"  <record><name>${DocxWriter.xmlEsc(v)}</name></record>").mkString("\n") +
      "\n</records>"
    // XmlTextKernel emits leaf text content, one line per leaf
    Piece(content, items.mkString("\n"), "application/xml")
  }

  private def json(rng: SplittableRandom, lang: String): Piece = {
    val tags = Vector.tabulate(2 + rng.nextInt(4))(_ => word(rng, lang))
    val content =
      s"""{
         |  "title": "${TextGen.titleLine(rng, lang)}",
         |  "count": ${rng.nextInt(1000)},
         |  "tags": [${tags.map(t => "\"" + t + "\"").mkString(", ")}]
         |}""".stripMargin
    Piece(content, content, "application/json")
  }

  private def svg(rng: SplittableRandom, lang: String): Piece = {
    val title = TextGen.titleLine(rng, lang)
    val label = TextGen.titleLine(rng, lang)
    val content =
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      s"""<svg xmlns="http://www.w3.org/2000/svg" width="${8 + rng.nextInt(500)}" height="${8 + rng.nextInt(500)}">""" +
      s"<title>${DocxWriter.xmlEsc(title)}</title>" +
      s"""<text x="10" y="20">${DocxWriter.xmlEsc(label)}</text></svg>"""
    // XmlTextKernel emits leaf text content, one line per leaf
    Piece(content, s"$title\n$label", "image/svg+xml")
  }

  private def python(rng: SplittableRandom, lang: String): Piece = {
    val fn = word(rng, lang)
    val content =
      s"""#!/usr/bin/env python
         |import sys
         |
         |def $fn(x):
         |    return x * ${1 + rng.nextInt(9)}
         |
         |if __name__ == "__main__":
         |    print($fn(${rng.nextInt(100)}))
         |""".stripMargin
    Piece(content, content, "text/x-python")
  }
}
