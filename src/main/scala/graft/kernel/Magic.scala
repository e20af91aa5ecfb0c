package graft.kernel

/** D1 — MIME sniffing by magic bytes, from scratch.
  *
  * The reference delegates detection to a DefaultDetector
  * (reference: lib/rika/parser.rb:21, lib/rika.rb:45); its observable
  * contract is pinned by specs: an extensionless JPEG is still
  * `image/jpeg` (spec/rika/parser_spec.rb:143-146) and unknown bytes are
  * `application/octet-stream` (spec/rika/parser_spec.rb:236-238).
  *
  * Detection is CONTENT-FIRST (magic bytes), with the claimed kind used
  * only as a weak hint for text/plain-vs-html disambiguation. Operates on
  * a bounded prefix so it is safe on giant payloads.
  */
object Magic {

  sealed abstract class Kind(val name: String)
  object Kind {
    case object Pdf     extends Kind("pdf")
    case object Docx    extends Kind("docx")
    case object Xlsx    extends Kind("xlsx")
    case object Pptx    extends Kind("pptx")
    case object Doc     extends Kind("doc")   // OLE2/CFB container
    case object Rtf     extends Kind("rtf")
    case object Odt     extends Kind("odt")
    case object Ods     extends Kind("ods")
    case object Odp     extends Kind("odp")
    case object Epub    extends Kind("epub")
    case object Jpeg    extends Kind("jpeg")
    case object Png     extends Kind("png")
    case object Gif     extends Kind("gif")
    case object Tiff    extends Kind("tiff")
    case object Mp3     extends Kind("mp3")
    case object Wav     extends Kind("wav")
    case object Mp4     extends Kind("mp4")
    case object Heic    extends Kind("heic")  // ISO-BMFF still image (HEVC)
    case object Heif    extends Kind("heif")  // generic HEIF brand (mif1/msf1)
    case object Avif    extends Kind("avif")  // ISO-BMFF still image (AV1)
    case object Bmp     extends Kind("bmp")
    case object Webp    extends Kind("webp")
    case object Html    extends Kind("html")
    case object Text    extends Kind("txt")
    case object Eml     extends Kind("eml")   // RFC-822 message
    case object Zip     extends Kind("zip")   // PK but not a known OOXML type
    case object Gzip    extends Kind("gz")
    case object Tar     extends Kind("tar")
    // wrapper codecs (the Spark platform ships commons-compress/xz/zstd,
    // so these unwrap like gzip)
    case object Bz2     extends Kind("bz2")
    case object Xz      extends Kind("xz")
    case object Zstd    extends Kind("zst")
    // detection-only breadth (typed opaque: no JVM-expressible parser)
    case object SevenZ  extends Kind("7z")
    case object Rar     extends Kind("rar")
    case object Webm    extends Kind("webm") // EBML, DocType webm
    case object Mkv     extends Kind("mkv")  // EBML, DocType matroska
    case object Flac    extends Kind("flac")
    case object Ogg     extends Kind("ogg")
    case object Ico     extends Kind("ico")
    case object Psd     extends Kind("psd")
    case object Midi    extends Kind("midi")
    case object Sqlite  extends Kind("sqlite")
    case object Woff    extends Kind("woff")
    case object Woff2   extends Kind("woff2")
    case object Wasm    extends Kind("wasm")
    case object Elf     extends Kind("elf")
    case object Jclass  extends Kind("class") // JVM class file
    case object Exe     extends Kind("exe")   // MZ (PE/DOS)
    case object Unknown extends Kind("bin")
  }

  /** The compression-wrapper kinds Extract unwraps in one iterative pass. */
  def isWrapper(k: Kind): Boolean = k match {
    case Kind.Gzip | Kind.Bz2 | Kind.Xz | Kind.Zstd => true
    case _ => false
  }

  /** Max bytes inspected (at each end) when routing an OOXML zip: local
    * file headers carry entry names at the front; the central directory
    * repeats ALL names at the tail, so scanning both ends finds the
    * package parts even when the main part sits deep in a large zip.
    */
  private val ZipScanWindow = 4096

  /** Bare MPEG-1 Layer III stream (no ID3v2): a valid frame header at
    * offset 0 AND a second sync word exactly one computed frame later —
    * the double-sync rule real sniffers use, because a lone 0xFFFB can
    * occur in any binary but a correctly-spaced second frame cannot.
    */
  private def bareMp3(bytes: Array[Byte]): Boolean = {
    if (bytes.length < 8) return false
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xfe) != 0xfa) return false
    val b2 = bytes(2) & 0xff
    val brIdx = (b2 >> 4) & 0xf
    val srIdx = (b2 >> 2) & 3
    val padding = (b2 >> 1) & 1
    if (brIdx < 1 || brIdx > 14 || srIdx > 2) return false
    val bitrate = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
      160, 192, 224, 256, 320)(brIdx) * 1000
    val sampleRate = Array(44100, 48000, 32000)(srIdx)
    val frameSize = 144 * bitrate / sampleRate + padding
    frameSize >= 24 && frameSize + 2 <= bytes.length &&
      (bytes(frameSize) & 0xff) == 0xff && (bytes(frameSize + 1) & 0xe0) == 0xe0
  }

  def sniff(bytes: Array[Byte]): Kind = {
    if (bytes == null || bytes.length == 0) return Kind.Unknown
    if (startsWith(bytes, "%PDF-")) return Kind.Pdf
    if (startsWith(bytes, "{\\rtf")) return Kind.Rtf
    if (startsWith(bytes, "ID3")) return Kind.Mp3
    if (bareMp3(bytes)) return Kind.Mp3 // frame-synced stream, no ID3v2
    if (bytes.length >= 4 &&
        ((bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 0x2a && bytes(3) == 0) ||
         (bytes(0) == 'M' && bytes(1) == 'M' && bytes(2) == 0 && bytes(3) == 0x2a)))
      return Kind.Tiff
    if (bytes.length >= 4 &&
        (bytes(0) & 0xff) == 0x50 && (bytes(1) & 0xff) == 0x4b &&
        (bytes(2) & 0xff) == 0x03 && (bytes(3) & 0xff) == 0x04) {
      return classifyZip(bytes)
    }
    if (bytes.length >= 4 &&
        (bytes(0) & 0xff) == 0xd0 && (bytes(1) & 0xff) == 0xcf &&
        (bytes(2) & 0xff) == 0x11 && (bytes(3) & 0xff) == 0xe0) return Kind.Doc
    if (bytes.length >= 3 &&
        (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8 &&
        (bytes(2) & 0xff) == 0xff) return Kind.Jpeg
    if (bytes.length >= 8 &&
        (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
        bytes(3) == 'G' && bytes(4) == 0x0d && bytes(5) == 0x0a &&
        bytes(6) == 0x1a && bytes(7) == 0x0a) return Kind.Png
    if (startsWith(bytes, "GIF87a") || startsWith(bytes, "GIF89a")) return Kind.Gif
    if (bytes.length >= 12 && startsWith(bytes, "RIFF")) {
      val four = new String(bytes, 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (four == "WAVE") return Kind.Wav
      if (four == "WEBP") return Kind.Webp
    }
    if (bytes.length >= 12 && bytes(4) == 'f' && bytes(5) == 't' &&
        bytes(6) == 'y' && bytes(7) == 'p') {
      // ISO-BMFF: still-image brands route to HEIC/AVIF, rest to MP4
      val brand = new String(bytes, 8, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      return brand match {
        // mif1/msf1 are generic HEIF brands (payload may be HEVC, AV1,
        // or other) — image/heif, matching Tika; explicit HEVC brands
        // stay image/heic
        case "heic" | "heix" | "hevc" | "hevx" => Kind.Heic
        case "mif1" | "msf1" => Kind.Heif
        case "avif" | "avis" => Kind.Avif
        case _ => Kind.Mp4
      }
    }
    if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M') {
      val dib = (bytes(14) & 0xff) | ((bytes(15) & 0xff) << 8) |
        ((bytes(16) & 0xff) << 16) | ((bytes(17) & 0xff) << 24)
      if (dib == 12 || dib == 40 || dib == 108 || dib == 124) return Kind.Bmp
    }
    if (bytes.length >= 2 &&
        (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) return Kind.Gzip
    if (bytes.length >= 4 && bytes(0) == 'B' && bytes(1) == 'Z' && bytes(2) == 'h' &&
        bytes(3) >= '1' && bytes(3) <= '9') return Kind.Bz2
    if (bytes.length >= 6 && (bytes(0) & 0xff) == 0xfd && bytes(1) == '7' &&
        bytes(2) == 'z' && bytes(3) == 'X' && bytes(4) == 'Z' && bytes(5) == 0)
      return Kind.Xz
    if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 && (bytes(1) & 0xff) == 0xb5 &&
        (bytes(2) & 0xff) == 0x2f && (bytes(3) & 0xff) == 0xfd) return Kind.Zstd
    if (bytes.length >= 6 && bytes(0) == '7' && bytes(1) == 'z' &&
        (bytes(2) & 0xff) == 0xbc && (bytes(3) & 0xff) == 0xaf &&
        (bytes(4) & 0xff) == 0x27 && (bytes(5) & 0xff) == 0x1c) return Kind.SevenZ
    if (bytes.length >= 7 && startsWith(bytes, "Rar!") &&
        (bytes(4) & 0xff) == 0x1a && (bytes(5) & 0xff) == 0x07) return Kind.Rar
    if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x1a && (bytes(1) & 0xff) == 0x45 &&
        (bytes(2) & 0xff) == 0xdf && (bytes(3) & 0xff) == 0xa3)
      // EBML: the DocType element routes webm vs matroska
      return MkvKernel.docType(bytes) match {
        case Some("webm") => Kind.Webm
        case _            => Kind.Mkv
      }
    if (startsWith(bytes, "fLaC")) return Kind.Flac
    if (startsWith(bytes, "OggS")) return Kind.Ogg
    if (startsWith(bytes, "8BPS")) return Kind.Psd
    if (startsWith(bytes, "MThd")) return Kind.Midi
    if (startsWith(bytes, "SQLite format 3") &&
        bytes.length > 15 && bytes(15) == 0) return Kind.Sqlite
    if (startsWith(bytes, "wOFF")) return Kind.Woff
    if (startsWith(bytes, "wOF2")) return Kind.Woff2
    if (bytes.length >= 4 && bytes(0) == 0 && bytes(1) == 'a' &&
        bytes(2) == 's' && bytes(3) == 'm') return Kind.Wasm
    if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x7f && bytes(1) == 'E' &&
        bytes(2) == 'L' && bytes(3) == 'F') return Kind.Elf
    if (bytes.length >= 8 && (bytes(0) & 0xff) == 0xca && (bytes(1) & 0xff) == 0xfe &&
        (bytes(2) & 0xff) == 0xba && (bytes(3) & 0xff) == 0xbe) return Kind.Jclass
    // ICO's magic is weak (00 00 01 00): require a sane entry count too
    if (bytes.length >= 6 && bytes(0) == 0 && bytes(1) == 0 && bytes(2) == 1 &&
        bytes(3) == 0) {
      val n = (bytes(4) & 0xff) | ((bytes(5) & 0xff) << 8)
      if (n >= 1 && n <= 64 && bytes.length >= 6 + n * 16) return Kind.Ico
    }
    if (bytes.length >= 263 && bytes(257) == 'u' && bytes(258) == 's' &&
        bytes(259) == 't' && bytes(260) == 'a' && bytes(261) == 'r') return Kind.Tar
    if (looksLikeText(bytes)) {
      val prefix = new String(bytes, 0, math.min(bytes.length, 2048),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      if (looksLikeEml(prefix)) return Kind.Eml
      return if (looksLikeHtml(bytes)) Kind.Html else Kind.Text
    }
    // MZ AFTER the text fallback: the 2-byte magic is weak, so an
    // ASCII file that happens to start "MZ" stays text; a binary one
    // is a DOS/PE executable (Tika: application/x-msdownload)
    if (bytes.length >= 64 && bytes(0) == 'M' && bytes(1) == 'Z') return Kind.Exe
    Kind.Unknown
  }

  /** Text-kind sniff for inline span payloads (String, no bytes). */
  def sniffText(text: String): Kind =
    if (text == null) Kind.Text
    else if (looksLikeEml(text.take(2048))) Kind.Eml
    else if (looksLikeHtmlStr(text.take(1024))) Kind.Html
    else Kind.Text

  /** RFC-822 detection: >= 2 canonical message headers at line starts
    * within the first lines (prose never opens lines with "Subject:" /
    * "Message-ID:" etc., so this is precise without extension hints).
    */
  private val EmlHeaders = Set("from", "to", "subject", "date", "message-id",
    "received", "return-path", "mime-version", "cc", "reply-to")

  private def looksLikeEml(prefix: String): Boolean = {
    var hits = 0
    var checked = 0
    val it = prefix.linesIterator
    while (it.hasNext && checked < 12 && hits < 2) {
      val line = it.next()
      if (line.isEmpty) checked = 12 // header block ended
      else {
        val c = line.indexOf(':')
        if (c > 0 && c <= 32 &&
            EmlHeaders.contains(line.substring(0, c).toLowerCase(java.util.Locale.ROOT))) hits += 1
        checked += 1
      }
    }
    hits >= 2
  }

  /** Content-hint text subtyping (D1 refinement): the reference's tally
    * surfaces refined text types (`text/x-matlab; charset=ISO-8859-1`,
    * reference: README.md:247) because Tika subtypes text/plain by
    * name/content hints. Content-only here (media refs carry no names):
    * XML prolog, delimiter-consistent CSV/TSV, Markdown markers, and a
    * small source-code set. None = plain text.
    */
  def textSubtype(text: String): Option[String] = {
    if (text == null || text.length < 4) return None
    val head = text.take(4096)
    val trimmed = head.dropWhile(_.isWhitespace)
    if (trimmed.startsWith("<?xml")) {
      // XML root-element refinement: SVG is its own type
      val afterProlog = trimmed.indexOf("?>") match {
        case -1 => trimmed
        case i  => trimmed.substring(i + 2).dropWhile(_.isWhitespace)
      }
      if (afterProlog.startsWith("<svg")) return Some("image/svg+xml")
      return Some("application/xml")
    }
    if (trimmed.startsWith("<svg")) return Some("image/svg+xml")
    // JSON: bracketed document with quoted members; text ends on the
    // matching bracket class (cheap structural check, not a full parse)
    if ((trimmed.startsWith("{") || trimmed.startsWith("[")) && trimmed.contains("\"")) {
      // bounded: only the tail window is inspected (text can be huge)
      val tail = text.takeRight(64).reverse.dropWhile(_.isWhitespace)
      if (tail.nonEmpty && (tail.head == '}' || tail.head == ']'))
        return Some("application/json")
    }
    if (trimmed.startsWith("#!")) {
      val firstLine = trimmed.takeWhile(_ != '\n')
      if (firstLine.contains("python")) return Some("text/x-python")
      return Some("application/x-sh")
    }
    val lines = head.split("\n", -1).toVector.filter(_.nonEmpty)
    if (lines.size >= 2) {
      // delimiter-consistent tabular data: every sampled line has the
      // same positive count of the delimiter
      def consistent(sep: Char): Boolean = {
        val counts = lines.take(16).map(_.count(_ == sep))
        counts.head > 0 && counts.forall(_ == counts.head)
      }
      if (consistent('\t')) return Some("text/tab-separated-values")
      if (consistent(',')) return Some("text/csv")
    }
    // Markdown markers: headings / fences / list items on line starts
    val mdMarks = lines.count(l => l.startsWith("# ") || l.startsWith("## ") ||
      l.startsWith("### ") || l.startsWith("```") || l.startsWith("- ") ||
      l.startsWith("* ") || (l.contains("](") && l.contains("[")))
    if (lines.nonEmpty && mdMarks >= 2 && mdMarks * 4 >= lines.size)
      return Some("text/x-web-markdown")
    // source-code hints (bounded set, line-start anchored)
    val pyMarks = lines.count(l => l.startsWith("def ") || l.startsWith("import ") ||
      l.startsWith("class ") || l.startsWith("from "))
    if (pyMarks >= 2 && lines.exists(_.trim.endsWith(":"))) return Some("text/x-python")
    if (lines.exists(_.startsWith("#include ")) &&
        head.contains("int main")) return Some("text/x-csrc")
    None
  }

  def contentTypeOf(kind: Kind, charset: Option[String]): String = kind match {
    case Kind.Pdf  => "application/pdf"
    case Kind.Docx =>
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
    case Kind.Xlsx =>
      "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"
    case Kind.Pptx =>
      "application/vnd.openxmlformats-officedocument.presentationml.presentation"
    case Kind.Doc  => "application/msword"
    case Kind.Rtf  => "application/rtf"
    case Kind.Odt  => "application/vnd.oasis.opendocument.text"
    case Kind.Ods  => "application/vnd.oasis.opendocument.spreadsheet"
    case Kind.Odp  => "application/vnd.oasis.opendocument.presentation"
    case Kind.Epub => "application/epub+zip"
    case Kind.Jpeg => "image/jpeg"
    case Kind.Png  => "image/png"
    case Kind.Gif  => "image/gif"
    case Kind.Tiff => "image/tiff"
    case Kind.Mp3  => "audio/mpeg"
    case Kind.Wav  => "audio/vnd.wave"
    case Kind.Mp4  => "video/mp4"
    case Kind.Heic => "image/heic"
    case Kind.Heif => "image/heif"
    case Kind.Avif => "image/avif"
    case Kind.Bmp  => "image/bmp"
    case Kind.Webp => "image/webp"
    case Kind.Html => s"text/html; charset=${charset.getOrElse("UTF-8")}"
    case Kind.Text => s"text/plain; charset=${charset.getOrElse("UTF-8")}"
    case Kind.Eml  => "message/rfc822"
    case Kind.Zip  => "application/zip"
    case Kind.Gzip => "application/gzip"
    case Kind.Tar  => "application/x-tar"
    case Kind.Bz2  => "application/x-bzip2"
    case Kind.Xz   => "application/x-xz"
    case Kind.Zstd => "application/zstd"
    case Kind.SevenZ => "application/x-7z-compressed"
    case Kind.Rar  => "application/x-rar-compressed"
    case Kind.Webm => "video/webm"
    case Kind.Mkv  => "video/x-matroska"
    case Kind.Flac => "audio/flac"
    case Kind.Ogg  => "application/ogg"
    case Kind.Ico  => "image/vnd.microsoft.icon"
    case Kind.Psd  => "image/vnd.adobe.photoshop"
    case Kind.Midi => "audio/midi"
    case Kind.Sqlite => "application/x-sqlite3"
    case Kind.Woff   => "font/woff"
    case Kind.Woff2  => "font/woff2"
    case Kind.Wasm   => "application/wasm"
    case Kind.Elf    => "application/x-elf"
    case Kind.Jclass => "application/java-vm"
    case Kind.Exe    => "application/x-msdownload"
    case Kind.Unknown => "application/octet-stream"
  }

  /** Full content-type string with text refinement: charset-detected
    * text/html plus the content-hint subtypes — the D1+D2 composition the
    * sniff_mime expression exposes.
    */
  def refinedContentType(bytes: Array[Byte]): String = sniff(bytes) match {
    case Kind.Text =>
      val cs = Charset.detect(bytes)
      textSubtype(cs.decoded) match {
        case Some(sub) => s"$sub; charset=${cs.name}"
        case None      => s"text/plain; charset=${cs.name}"
      }
    case Kind.Html => contentTypeOf(Kind.Html, Some(Charset.detect(bytes).name))
    case k         => contentTypeOf(k, None)
  }

  private def startsWith(bytes: Array[Byte], ascii: String): Boolean = {
    if (bytes.length < ascii.length) return false
    var i = 0
    while (i < ascii.length) {
      if (bytes(i) != ascii.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** OOXML/ODF/EPUB routing on EXACT zip entry names (a raw substring
    * scan of the window false-positives on short tokens like "xl/"
    * occurring inside compressed data — observed ~1 in 400k docs).
    * Local file headers are walked structurally (compressed-size
    * skipping, no inflation); if a data-descriptor entry blocks the walk
    * or the zip is larger than the walk budget, central-directory
    * records parsed from the tail window take over.
    */
  private def classifyZip(bytes: Array[Byte]): Kind = {
    val names = zipEntryNames(bytes, 64)
    if (names.headOption.contains("mimetype")) {
      storedFirstEntryContent(bytes) match {
        case Some(m) if m.startsWith("application/vnd.oasis.opendocument.text") =>
          return Kind.Odt
        case Some(m) if m.startsWith("application/vnd.oasis.opendocument.spreadsheet") =>
          return Kind.Ods
        case Some(m) if m.startsWith("application/vnd.oasis.opendocument.presentation") =>
          return Kind.Odp
        case Some(m) if m.startsWith("application/epub+zip") => return Kind.Epub
        case _ => ()
      }
    }
    if (!names.contains("[Content_Types].xml")) Kind.Zip
    else if (names.exists(_.startsWith("word/"))) Kind.Docx
    else if (names.exists(_.startsWith("xl/"))) Kind.Xlsx
    else if (names.exists(_.startsWith("ppt/"))) Kind.Pptx
    else Kind.Zip
  }

  private def zu16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def zu32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  /** Exact entry names from local headers (front) + central directory
    * records (tail window). Bounded: at most `max` from each source.
    */
  private def zipEntryNames(bytes: Array[Byte], max: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var p = 0
    var n = 0
    var ok = true
    while (ok && n < max && p + 30 <= bytes.length &&
        bytes(p) == 'P' && bytes(p + 1) == 'K' && bytes(p + 2) == 3 && bytes(p + 3) == 4) {
      val flags = zu16(bytes, p + 6)
      val comp = zu32(bytes, p + 18)
      val nl = zu16(bytes, p + 26)
      val el = zu16(bytes, p + 28)
      if (p + 30 + nl > bytes.length || nl == 0) ok = false
      else {
        out += new String(bytes, p + 30, nl, java.nio.charset.StandardCharsets.ISO_8859_1)
        n += 1
        // data-descriptor entries don't record sizes in the local header:
        // stop; the central directory below covers the rest
        if ((flags & 0x8) != 0 && comp == 0) ok = false
        else {
          // Long advance: comp.toInt would go negative for >= 2 GiB entries
          val next = p.toLong + 30 + nl + el + comp
          if (next > bytes.length) ok = false else p = next.toInt
        }
      }
    }
    // central directory: locate the EOCD record from the tail (its offset
    // field points at the CD start), so the FULL name list is walked even
    // when the CD is larger than any fixed tail window (a DOCX with many
    // image parts overflows 4 KiB easily). Fall back to a bounded tail
    // scan when no EOCD parses (truncated/corrupt zips).
    var q = eocdCdStart(bytes).getOrElse(math.max(0, bytes.length - ZipScanWindow))
    var m = 0
    while (q + 46 <= bytes.length && m < max) {
      if (bytes(q) == 'P' && bytes(q + 1) == 'K' && bytes(q + 2) == 1 && bytes(q + 3) == 2) {
        val nl = zu16(bytes, q + 28)
        val el = zu16(bytes, q + 30)
        val cl = zu16(bytes, q + 32)
        if (nl > 0 && q + 46 + nl <= bytes.length) {
          out += new String(bytes, q + 46, nl, java.nio.charset.StandardCharsets.ISO_8859_1)
          m += 1
          q += 46 + nl + el + cl
        } else q += 4
      } else q += 1
    }
    out.result().distinct
  }

  /** Central-directory start offset via the EOCD record (PK\0x05\0x06 in
    * the last 64 KiB + 22 bytes — the max zip-comment span). When the
    * offset field holds the zip64 sentinel (0xffffffff), the EOCD64
    * locator (PK\0x06\0x07, 20 bytes before the EOCD) points at the
    * EOCD64 record (PK\0x06\0x06) whose 8-byte field has the real
    * offset — large OOXML/archive routing keeps working past 4 GiB.
    */
  private def eocdCdStart(bytes: Array[Byte]): Option[Int] = {
    val lo = math.max(0, bytes.length - (65536 + 22))
    var q = bytes.length - 22
    while (q >= lo) {
      if (bytes(q) == 'P' && bytes(q + 1) == 'K' && bytes(q + 2) == 5 && bytes(q + 3) == 6) {
        val cdOff = zu32(bytes, q + 16)
        if (cdOff == 0xffffffffL) return eocd64CdStart(bytes, q)
        if (cdOff >= 0 && cdOff < q) return Some(cdOff.toInt)
        return None
      }
      q -= 1
    }
    None
  }

  /** zip64: EOCD64 locator sits immediately before the EOCD and carries
    * the absolute offset of the EOCD64 record; the CD offset is the
    * 8-byte field at +48 in that record. (In-memory payloads are Int-
    * bounded, so a > 2 GiB offset cannot occur here by construction.)
    */
  private def eocd64CdStart(bytes: Array[Byte], eocd: Int): Option[Int] = {
    val loc = eocd - 20
    if (loc < 0 || !(bytes(loc) == 'P' && bytes(loc + 1) == 'K' &&
        bytes(loc + 2) == 6 && bytes(loc + 3) == 7)) return None
    var rec = 0L
    var i = 0
    while (i < 8) { rec |= (bytes(loc + 8 + i) & 0xffL) << (8 * i); i += 1 }
    if (rec < 0 || rec + 56 > loc) return None
    val r = rec.toInt
    if (!(bytes(r) == 'P' && bytes(r + 1) == 'K' && bytes(r + 2) == 6 && bytes(r + 3) == 6))
      return None
    var cd = 0L
    i = 0
    while (i < 8) { cd |= (bytes(r + 48 + i) & 0xffL) << (8 * i); i += 1 }
    if (cd >= 0 && cd < r) Some(cd.toInt) else None
  }

  /** Content of the first entry when it is STORED (the ODF/EPUB
    * `mimetype` contract), read directly from the local header.
    */
  private def storedFirstEntryContent(bytes: Array[Byte]): Option[String] = {
    if (bytes.length < 30) return None
    val method = zu16(bytes, 8)
    val size = zu32(bytes, 22)
    val nl = zu16(bytes, 26)
    val el = zu16(bytes, 28)
    val start = 30 + nl + el
    if (method != 0 || size <= 0 || size > 256 || start + size > bytes.length) None
    else Some(new String(bytes, start, size.toInt,
      java.nio.charset.StandardCharsets.ISO_8859_1))
  }

  /** A payload is text when its prefix is valid UTF-8 or plausible
    * ISO-8859-1 (no NULs, mostly printable).
    */
  /** BOM-less UTF-16 text (the Windows-export shape): >=35% NULs
    * confined to one byte parity (<2% on the other) AND the implied
    * 16-bit units are >=95% printable — the second census keeps raw
    * 16-bit numeric data (e.g. quiet PCM, whose small values land in
    * the C0 control range) out. Charset.detect picks the endianness
    * again downstream with the same parity rule.
    */
  private def looksLikeUtf16(bytes: Array[Byte]): Boolean = {
    if (bytes.length < 8) return false
    val n = math.min(bytes.length & ~1, 4096)
    var even = 0
    var odd = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == 0) { if ((i & 1) == 0) even += 1 else odd += 1 }
      i += 1
    }
    val half = n / 2
    val le = odd * 100 >= half * 35 && even * 100 < half * 2
    val be = even * 100 >= half * 35 && odd * 100 < half * 2
    if (!le && !be) return false
    var ok = 0
    var tot = 0
    i = 0
    while (i + 1 < n) {
      val v =
        if (le) (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
        else ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
      tot += 1
      if (v == 9 || v == 10 || v == 13 || (v >= 0x20 && v != 0x7f)) ok += 1
      i += 2
    }
    tot > 0 && ok.toDouble / tot > 0.95
  }

  private def looksLikeText(bytes: Array[Byte]): Boolean = {
    val n = math.min(bytes.length, 8192)
    if (looksLikeUtf16(bytes)) return true
    // NUL or other C0 control bytes (except \t \n \r \f) = binary, even
    // though they are technically valid UTF-8.
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      if (b < 0x20 && b != 9 && b != 10 && b != 13 && b != 12) return false
      i += 1
    }
    if (Charset.isValidUtf8(bytes, n)) return true
    var printable = 0
    i = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      if (b == 9 || b == 10 || b == 13 || (b >= 0x20 && b != 0x7f)) printable += 1
      i += 1
    }
    printable.toDouble / n > 0.95
  }

  private def looksLikeHtml(bytes: Array[Byte]): Boolean = {
    val n = math.min(bytes.length, 1024)
    looksLikeHtmlStr(new String(bytes, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1))
  }

  private def looksLikeHtmlStr(prefix: String): Boolean = {
    val t = prefix.dropWhile(_.isWhitespace).toLowerCase(java.util.Locale.ROOT)
    t.startsWith("<!doctype html") || t.startsWith("<html") ||
    t.startsWith("<head") || t.startsWith("<body") ||
    (t.startsWith("<") && (t.contains("<html") || t.contains("<body") || t.contains("<div") || t.contains("<p>")))
  }
}
