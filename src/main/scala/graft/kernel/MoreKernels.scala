package graft.kernel

import java.io.ByteArrayInputStream
import java.util.Locale
import javax.xml.stream.XMLStreamConstants

/** Round-2 format-tail kernels: RTF, ODT, EPUB, TIFF, MP3/ID3 — the next
  * tier of the reference's Tika-delegate breadth (reference:
  * README.md:3-8 "any file type Tika supports"). Each is a bounded,
  * from-scratch JDK-only parser following the same failure-taxonomy
  * contract as E1-E11 (never throw past Extract's NonFatal net, never
  * amplify input unboundedly).
  */

/** RTF text + \info metadata: group-aware control-word scanner. */
object RtfKernel {

  final case class Result(text: String, metadata: Map[String, String])

  private val SkipDests = Set(
    "fonttbl", "stylesheet", "colortbl", "pict", "themedata", "listtable",
    "listoverridetable", "latentstyles", "datastore", "generator",
    "rsidtbl", "xmlnstbl", "header", "footer", "operator")

  def extract(bytes: Array[Byte]): Result = {
    val s = new String(bytes, java.nio.charset.Charset.forName("windows-1252"))
    val out = new StringBuilder
    var meta = Map.empty[String, String]
    var i = 0
    val n = math.min(s.length, 16 << 20)
    // group stack: per-group (skipping, capture-key, uc-count)
    final case class G(skip: Boolean, capture: String, uc: Int)
    var stack = List(G(skip = false, capture = null, uc = 1))
    val captures = scala.collection.mutable.Map[String, StringBuilder]()
    def cur = stack.head
    def emit(c: Char): Unit =
      if (cur.capture != null) captures.getOrElseUpdate(cur.capture, new StringBuilder) += c
      else if (!cur.skip) out += c

    while (i < n) {
      s.charAt(i) match {
        case '{' =>
          stack = cur :: stack
          i += 1
          // destination control word directly after the brace?
          if (i < n && s.charAt(i) == '\\') {
            var j = i + 1
            var star = false
            if (j < n && s.charAt(j) == '*') { star = true; j += 1
              if (j < n && s.charAt(j) == '\\') j += 1 }
            val w0 = j
            while (j < n && s.charAt(j).isLetter) j += 1
            val word = s.substring(w0, j)
            if (word == "title" || word == "author" || word == "subject" ||
                word == "company" || word == "keywords") {
              stack = cur.copy(capture = word, skip = false) :: stack.tail
              i = j
              if (i < n && s.charAt(i) == ' ') i += 1
            } else if (star || SkipDests.contains(word)) {
              stack = cur.copy(skip = true, capture = null) :: stack.tail
            } // else: normal group, fall through to parse the word
          }
        case '}' =>
          if (stack.tail.nonEmpty) stack = stack.tail
          i += 1
        case '\\' if i + 1 < n =>
          val c1 = s.charAt(i + 1)
          if (c1 == '\'' && i + 3 < n) {
            val hex = s.substring(i + 2, i + 4)
            try emit(new String(Array(Integer.parseInt(hex, 16).toByte),
              java.nio.charset.Charset.forName("windows-1252")).charAt(0))
            catch { case _: NumberFormatException => () }
            i += 4
          } else if (c1 == '\\' || c1 == '{' || c1 == '}') { emit(c1); i += 2 }
          else if (c1 == '~') { emit(' '); i += 2 }
          else if (c1 == '-' || c1 == '_' || c1 == ':') { i += 2 }
          else if (c1.isLetter) {
            var j = i + 1
            while (j < n && s.charAt(j).isLetter) j += 1
            val word = s.substring(i + 1, j)
            var neg = false
            var num = -1L
            if (j < n && (s.charAt(j) == '-' || s.charAt(j).isDigit)) {
              if (s.charAt(j) == '-') { neg = true; j += 1 }
              num = 0
              while (j < n && s.charAt(j).isDigit) { num = num * 10 + (s.charAt(j) - '0'); j += 1 }
              if (neg) num = -num
            }
            if (j < n && s.charAt(j) == ' ') j += 1 // delimiter space consumed
            word match {
              case "par" | "line" | "sect" | "page" => emit('\n')
              case "tab" => emit('\t')
              // tables: \cell ends a cell (tab field separator), \row
              // ends the row — the trailing cell's tab becomes the row's
              // newline, giving one tab-joined line per row (the
              // DOCX/HTML/ODT convention). \nestcell/\nestrow (nested
              // tables) flatten the same way.
              case "cell" | "nestcell" => emit('\t')
              case "row" | "nestrow" =>
                if (cur.capture == null && !cur.skip && out.nonEmpty &&
                  out.charAt(out.length - 1) == '\t')
                  out.setCharAt(out.length - 1, '\n')
                else emit('\n')
              case "emdash" => emit('—')
              case "endash" => emit('–')
              case "lquote" => emit('‘')
              case "rquote" => emit('’')
              case "ldblquote" => emit('“')
              case "rdblquote" => emit('”')
              case "uc" if num >= 0 =>
                stack = cur.copy(uc = num.toInt.min(8)) :: stack.tail
              // \info statistics words (numeric params, no destination)
              case "nofpages" if num >= 0 => meta += ("meta:page-count" -> num.toString)
              case "nofwords" if num >= 0 => meta += ("meta:word-count" -> num.toString)
              case "nofchars" if num >= 0 => meta += ("meta:character-count" -> num.toString)
              case "u" if num != -1 =>
                val cp = if (num < 0) (num + 65536).toInt else num.toInt
                if (cp >= 0 && cp <= 0xffff) emit(cp.toChar)
                // skip the uc fallback chars (default 1)
                var skip = cur.uc
                while (skip > 0 && j < n) {
                  if (s.charAt(j) == '\\' && j + 3 < n && s.charAt(j + 1) == '\'') j += 4
                  else j += 1
                  skip -= 1
                }
              case _ => () // formatting word: ignore
            }
            i = j
          } else i += 2
        case '\r' | '\n' => i += 1 // raw newlines are not RTF content
        case c => emit(c); i += 1
      }
    }
    captures.foreach { case (k, v) =>
      val key = k match {
        case "title"    => "dc:title"
        case "author"   => "dc:creator"
        case "subject"  => "dc:subject"
        case "keywords" => "meta:keyword"
        case other      => other
      }
      if (v.nonEmpty) meta += (key -> v.toString)
    }
    Result(out.toString, meta)
  }
}

/** ODT (OpenDocument text): content.xml text:p/text:h paragraphs +
  * meta.xml Dublin Core.
  */
object OdtKernel {

  final case class Result(paragraphs: Vector[String], metadata: Map[String, String])

  def extract(bytes: Array[Byte]): Result = {
    var paragraphs = Vector.empty[String]
    var meta = Map.empty[String, String]
    OoxmlUtil.walkZip(bytes) { (name, read) =>
      name match {
        case "content.xml" => paragraphs = contentParagraphs(read())
        case "meta.xml"    => meta ++= metaOf(read())
        case _             => ()
      }
    }
    Result(paragraphs, meta)
  }

  /** meta.xml -> Dublin Core + document-statistic keys (shared with the
    * ODS/ODP kernels — the ODF metadata part is format-independent).
    */
  private[kernel] def metaOf(xml: Array[Byte]): Map[String, String] =
    metaProps(xml) ++ statProps(xml)

  /** meta:document-statistic carries counts as ATTRIBUTES (page-count,
    * word-count, character-count) — the ODT analog of OOXML app.xml's
    * meta:* count keys.
    */
  private def statProps(xml: Array[Byte]): Map[String, String] = {
    val r = OoxmlUtil.factory.createXMLStreamReader(new ByteArrayInputStream(xml))
    var out = Map.empty[String, String]
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "document-statistic") {
          var i = 0
          while (i < r.getAttributeCount) {
            r.getAttributeLocalName(i) match {
              case "page-count"      => out += ("meta:page-count" -> r.getAttributeValue(i))
              case "word-count"      => out += ("meta:word-count" -> r.getAttributeValue(i))
              case "character-count" => out += ("meta:character-count" -> r.getAttributeValue(i))
              case _                 => ()
            }
            i += 1
          }
        }
      }
    } finally r.close()
    out
  }

  /** text:p / text:h paragraphs in document order; TABLE rows emit as
    * ONE line per table:table-row with cells tab-joined (the DOCX/HTML
    * row convention — cell paragraphs newline-join inside their field).
    */
  private def contentParagraphs(xml: Array[Byte]): Vector[String] = {
    val r = OoxmlUtil.factory.createXMLStreamReader(new ByteArrayInputStream(xml))
    val paras = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0 // inside text:p/text:h nesting depth
    var cellDepth = 0
    var cellParas = Vector.empty[String]
    var rowCells = Vector.empty[String]
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "p" | "h" =>
              if (depth == 0) cur.setLength(0)
              depth += 1
            case "table-cell" => cellDepth += 1; if (cellDepth == 1) cellParas = Vector.empty
            case "table-row" if cellDepth == 0 => rowCells = Vector.empty
            case "tab" if depth > 0 => cur.append('\t')
            case "line-break" if depth > 0 => cur.append('\n')
            case "s" if depth > 0 =>
              val c = Option(r.getAttributeValue(null, "c"))
                .flatMap(_.toIntOption).getOrElse(1)
              cur.append(" " * c.max(1).min(1000))
            case _ => ()
          }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (depth > 0) cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "p" | "h" =>
              depth -= 1
              if (depth == 0) {
                if (cellDepth > 0) cellParas :+= cur.toString
                else paras += cur.toString
              }
            case "table-cell" =>
              if (cellDepth > 0) {
                cellDepth -= 1
                if (cellDepth == 0) {
                  rowCells :+= cellParas.mkString("\n")
                  cellParas = Vector.empty
                }
              }
            case "table-row" if cellDepth == 0 =>
              // covered-cell-only / self-closed rows add no blank line
              // (ADVICE r5): require at least one non-empty cell
              if (rowCells.exists(_.nonEmpty)) paras += rowCells.mkString("\t")
              rowCells = Vector.empty
            case _ => ()
          }
          case _ => ()
        }
      }
    } finally r.close()
    paras.result()
  }

  private def metaProps(xml: Array[Byte]): Map[String, String] =
    OoxmlUtil.flatElements(xml).flatMap {
      case ("title", v)         => Seq("dc:title" -> v)
      case ("creator", v)       => Seq("dc:creator" -> v, "meta:author" -> v)
      case ("subject", v)       => Seq("dc:subject" -> v)
      case ("description", v)   => Seq("dc:description" -> v)
      case ("language", v)      => Seq("dc:language" -> v)
      case ("creation-date", v) => Seq("dcterms:created" -> v)
      case ("generator", v)     => Seq("generator" -> v)
      case _                    => Nil
    }.toMap
}

/** ODS (OpenDocument spreadsheet): table rows/cells from content.xml in
  * XlsxKernel's text convention (tab-separated cells, one line per row,
  * tables blank-line separated); meta.xml Dublin Core + statistics.
  */
object OdsKernel {

  final case class Result(tables: Vector[String], metadata: Map[String, String]) {
    def text: String = tables.filter(_.nonEmpty).mkString("\n\n")
  }

  def extract(bytes: Array[Byte]): Result = {
    var tables = Vector.empty[String]
    var meta = Map.empty[String, String]
    OoxmlUtil.walkZip(bytes) { (name, read) =>
      name match {
        case "content.xml" => tables = contentTables(read())
        case "meta.xml"    => meta ++= OdtKernel.metaOf(read())
        case _             => ()
      }
    }
    Result(tables, meta)
  }

  private def contentTables(xml: Array[Byte]): Vector[String] = {
    val r = OoxmlUtil.factory.createXMLStreamReader(new ByteArrayInputStream(xml))
    val tables = Vector.newBuilder[String]
    val rows = Vector.newBuilder[String]
    val cells = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inCell = false
    var nCells = 0
    var nRows = 0
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "table"      => rows.clear(); nRows = 0
            case "table-row"  => cells.clear(); nCells = 0
            case "table-cell" => inCell = true; cur.setLength(0)
            case _            => ()
          }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inCell) cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "table-cell" =>
              cells += cur.toString; nCells += 1; inCell = false
            case "table-row" =>
              if (nCells > 0) { rows += cells.result().mkString("\t"); nRows += 1 }
            case "table" =>
              if (nRows > 0) tables += rows.result().mkString("\n")
            case _ => ()
          }
          case _ => ()
        }
      }
    } finally r.close()
    tables.result()
  }
}

/** ODP (OpenDocument presentation): draw:page paragraphs, pages
  * blank-line separated (PptxKernel's convention).
  */
object OdpKernel {

  final case class Result(pages: Vector[String], metadata: Map[String, String]) {
    def text: String = pages.filter(_.nonEmpty).mkString("\n\n")
  }

  def extract(bytes: Array[Byte]): Result = {
    var pages = Vector.empty[String]
    var meta = Map.empty[String, String]
    OoxmlUtil.walkZip(bytes) { (name, read) =>
      name match {
        case "content.xml" => pages = contentPages(read())
        case "meta.xml"    => meta ++= OdtKernel.metaOf(read())
        case _             => ()
      }
    }
    Result(pages, meta)
  }

  private def contentPages(xml: Array[Byte]): Vector[String] = {
    val r = OoxmlUtil.factory.createXMLStreamReader(new ByteArrayInputStream(xml))
    val pages = Vector.newBuilder[String]
    val paras = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inPage = false
    var pDepth = 0
    var nParas = 0
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "page" => inPage = true; paras.clear(); nParas = 0
            case "p" if inPage =>
              if (pDepth == 0) cur.setLength(0)
              pDepth += 1
            case _ => ()
          }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (pDepth > 0) cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "p" if inPage =>
              pDepth -= 1
              if (pDepth == 0 && cur.nonEmpty) { paras += cur.toString; nParas += 1 }
            case "page" =>
              if (nParas > 0) pages += paras.result().mkString("\n")
              inPage = false
            case _ => ()
          }
          case _ => ()
        }
      }
    } finally r.close()
    pages.result()
  }
}

/** EPUB: zip of XHTML chapters; text via the HTML kernel per chapter in
  * OPF SPINE order (the reading order the package declares — path order
  * would put 'ch10' before 'ch2'), falling back to numeric-aware path
  * order when no spine parses. Metadata from the OPF's Dublin Core.
  */
object EpubKernel {

  final case class Result(chapters: Vector[String], metadata: Map[String, String]) {
    def text: String = chapters.filter(_.nonEmpty).mkString("\n\n")
  }

  def extract(bytes: Array[Byte]): Result = {
    var parts = Vector.empty[(String, Array[Byte])]
    var meta = Map.empty[String, String]
    var opfPath = ""
    var spineHrefs = Vector.empty[String]
    OoxmlUtil.walkZip(bytes) { (name, read) =>
      val lower = name.toLowerCase(Locale.ROOT)
      if (!lower.startsWith("meta-inf/") &&
          (lower.endsWith(".xhtml") || lower.endsWith(".html") || lower.endsWith(".htm")))
        parts :+= (name, read())
      else if (lower.endsWith(".opf")) {
        val b = read()
        opfPath = name
        meta ++= opfProps(b)
        spineHrefs = spineOrder(b)
      }
    }
    // spine hrefs are OPF-relative: resolve against the OPF's directory
    val opfDir = opfPath.lastIndexOf('/') match {
      case -1 => ""
      case i  => opfPath.substring(0, i + 1)
    }
    val spinePaths = spineHrefs.map(h => opfDir + h)
    def ord(name: String): (Int, Int, String) = {
      val s = spinePaths.indexOf(name)
      if (s >= 0) (0, s, name)
      else { // not in spine: numeric-aware path order after spine items
        val digits = name.dropWhile(!_.isDigit).takeWhile(_.isDigit)
        (1, if (digits.nonEmpty) digits.toInt else Int.MaxValue, name)
      }
    }
    val chapters = parts.sortBy(p => ord(p._1)).map { case (_, b) =>
      // chapters are content, not web pages: full-text HTML semantics
      HtmlKernel.extractFullText(new String(b, java.nio.charset.StandardCharsets.UTF_8))
        .blocks.mkString("\n\n")
    }
    Result(chapters, meta)
  }

  /** Spine itemref order resolved through the manifest to hrefs. */
  private def spineOrder(xml: Array[Byte]): Vector[String] = {
    val r = OoxmlUtil.factory.createXMLStreamReader(new ByteArrayInputStream(xml))
    var manifest = Map.empty[String, String] // id -> href
    val idrefs = Vector.newBuilder[String]
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "item" =>
              val id = r.getAttributeValue(null, "id")
              val href = r.getAttributeValue(null, "href")
              if (id != null && href != null) manifest += (id -> href)
            case "itemref" =>
              val idref = r.getAttributeValue(null, "idref")
              if (idref != null) idrefs += idref
            case _ => ()
          }
          case _ => ()
        }
      }
    } finally r.close()
    idrefs.result().flatMap(manifest.get)
  }

  private def opfProps(xml: Array[Byte]): Map[String, String] =
    OoxmlUtil.flatElements(xml).flatMap {
      case ("title", v)       => Seq("dc:title" -> v)
      case ("creator", v)     => Seq("dc:creator" -> v)
      case ("language", v)    => Seq("dc:language" -> v)
      case ("identifier", v)  => Seq("dc:identifier" -> v)
      case ("publisher", v)   => Seq("dc:publisher" -> v)
      case ("description", v) => Seq("dc:description" -> v)
      case ("subject", v)     => Seq("dc:subject" -> v)
      case ("date", v)        => Seq("dcterms:created" -> v)
      case _                  => Nil
    }.toMap
}

/** Standalone TIFF: the same IFD decoder the JPEG/EXIF path uses, rooted
  * at byte 0.
  */
object TiffKernel {
  def extract(bytes: Array[Byte]): Map[String, String] = {
    var meta = JpegKernel.exif(bytes, 0, bytes.length)
    val n = pageCount(bytes)
    if (n > 1) meta += ("xmpTPg:NPages" -> n.toString)
    meta
  }

  /** IFD-chain length — multi-page (multi-IFD) TIFFs report their page
    * count like the reference does through Tika. Cycle- and count-capped;
    * malformed chains count the pages walked so far.
    */
  private def pageCount(bytes: Array[Byte]): Int = {
    if (bytes.length < 8) return 0
    val le = bytes(0) == 'I' && bytes(1) == 'I'
    if (!le && !(bytes(0) == 'M' && bytes(1) == 'M')) return 0
    def u16(p: Int): Int =
      if (p < 0 || p + 2 > bytes.length) -1
      else if (le) (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      else ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (p < 0 || p + 4 > bytes.length) -1L
      else if (le) (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
      else ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    val seen = scala.collection.mutable.Set[Long]()
    var ifd = u32(4)
    var pages = 0
    while (ifd > 0 && ifd < bytes.length - 2 && pages < 4096 && seen.add(ifd)) {
      val n = u16(ifd.toInt)
      if (n <= 0 || n > 512) return pages
      pages += 1
      ifd = u32(ifd.toInt + 2 + n * 12)
    }
    pages
  }
}

/** MP3/ID3v2 metadata (header-only; audio frames are opaque media). */
object Mp3Kernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    var meta = Map.empty[String, String]
    var audioStart = 0
    val hasId3v2 =
      bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3'
    if (hasId3v2) {
      val verMajor = bytes(3) & 0xff
      def syncsafe(p: Int): Int =
        ((bytes(p) & 0x7f) << 21) | ((bytes(p + 1) & 0x7f) << 14) |
          ((bytes(p + 2) & 0x7f) << 7) | (bytes(p + 3) & 0x7f)
      val tagSize = syncsafe(6)
      val end = math.min(bytes.length, 10 + tagSize)
      val frameKeys = Map(
        "TIT2" -> "dc:title", "TPE1" -> "xmpDM:artist", "TALB" -> "xmpDM:album",
        "TDRC" -> "xmpDM:releaseDate", "TYER" -> "xmpDM:releaseDate",
        "TCON" -> "xmpDM:genre", "TRCK" -> "xmpDM:trackNumber")
      var p = 10
      while (p + 10 <= end) {
        val id = new String(bytes, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (!id.forall(c => c.isUpper || c.isDigit)) p = end // padding reached
        else {
          val size = if (verMajor >= 4) syncsafe(p + 4)
            else ((bytes(p + 4) & 0xff) << 24) | ((bytes(p + 5) & 0xff) << 16) |
              ((bytes(p + 6) & 0xff) << 8) | (bytes(p + 7) & 0xff)
          if (size <= 0 || p + 10 + size > end) p = end
          else {
            frameKeys.get(id).foreach { key =>
              val enc = bytes(p + 10) & 0xff
              val data = java.util.Arrays.copyOfRange(bytes, p + 11, p + 10 + size)
              val v = enc match {
                case 0 => new String(data, java.nio.charset.Charset.forName("windows-1252"))
                case 1 => new String(data, java.nio.charset.StandardCharsets.UTF_16)
                case 2 => new String(data, java.nio.charset.StandardCharsets.UTF_16BE)
                case _ => new String(data, java.nio.charset.StandardCharsets.UTF_8)
              }
              val clean = v.takeWhile(_ != 0.toChar).trim
              if (clean.nonEmpty) meta += (key -> clean)
            }
            p += 10 + size
          }
        }
      }
      audioStart = math.min(bytes.length, 10 + tagSize)
    } else if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
        (bytes(1) & 0xe0) != 0xe0) {
      return Map.empty // neither ID3v2 nor a frame-synced stream
    }
    // ID3v1 trailer ("TAG" in the last 128 bytes): the fallback fields
    // many bare/legacy MP3s carry; ID3v2 values win where both exist
    var audioEnd = bytes.length
    if (bytes.length >= audioStart + 128 && bytes(bytes.length - 128) == 'T' &&
        bytes(bytes.length - 127) == 'A' && bytes(bytes.length - 126) == 'G') {
      val t0 = bytes.length - 128
      audioEnd = t0
      def field(off: Int, len: Int): String =
        new String(bytes, t0 + off, len, java.nio.charset.Charset.forName("windows-1252"))
          .takeWhile(_ != 0.toChar).trim
      Seq("dc:title" -> field(3, 30), "xmpDM:artist" -> field(33, 30),
        "xmpDM:album" -> field(63, 30), "xmpDM:releaseDate" -> field(93, 4))
        .foreach { case (k, v) =>
          if (v.nonEmpty && !meta.contains(k)) meta += (k -> v)
        }
    }
    if (meta.nonEmpty) meta += ("xmpDM:audioCompressor" -> "MP3")
    // audio-region duration estimate from the first MPEG frame header
    // (the CBR convention: audio_bytes * 8 / bitrate — Tika's shortcut
    // for unwalked streams), plus version/samplerate facts
    var q = audioStart
    var done = false
    while (!done && q + 4 <= bytes.length && q < audioStart + 4096) {
      if ((bytes(q) & 0xff) == 0xff && (bytes(q + 1) & 0xe0) == 0xe0) {
        val b1 = bytes(q + 1) & 0xff
        val versionId = (b1 >> 3) & 3   // 3 = MPEG-1
        val layer = (b1 >> 1) & 3       // 1 = Layer III
        val b2 = bytes(q + 2) & 0xff
        val brIdx = (b2 >> 4) & 0xf
        val srIdx = (b2 >> 2) & 3
        if (versionId == 3 && layer == 1 && brIdx >= 1 && brIdx <= 14 && srIdx <= 2) {
          val bitrate = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
            160, 192, 224, 256, 320)(brIdx) * 1000
          val sampleRate = Array(44100, 48000, 32000)(srIdx)
          meta += ("xmpDM:audioSampleRate" -> sampleRate.toString)
          meta += ("version" -> "MPEG 3 Layer 3 version 1.0")
          // VBR: a Xing/Info header in the first frame (after the side
          // info: 17 bytes mono, 32 otherwise) carries the true frame
          // count -> exact duration at 1152 samples/frame; without it,
          // fall back to the CBR byte/bitrate estimate
          val chMode = (bytes(q + 3) >> 6) & 3
          val xp = q + 4 + (if (chMode == 3) 17 else 32)
          def u32be(p: Int): Long =
            ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
              ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
          val vbrDur: Option[Double] =
            if (xp + 12 <= bytes.length &&
                ((bytes(xp) == 'X' && bytes(xp + 1) == 'i' &&
                  bytes(xp + 2) == 'n' && bytes(xp + 3) == 'g') ||
                 (bytes(xp) == 'I' && bytes(xp + 1) == 'n' &&
                  bytes(xp + 2) == 'f' && bytes(xp + 3) == 'o')) &&
                (u32be(xp + 4) & 1) != 0) {
              val frames = u32be(xp + 8)
              if (frames > 0 && frames < (1L << 32))
                Some(frames * 1152.0 / sampleRate)
              else None
            } else None
          vbrDur match {
            case Some(d) =>
              meta += ("xmpDM:duration" -> "%.3f".formatLocal(Locale.ROOT, d))
              meta += ("xmpDM:audioChannelType" ->
                (if (chMode == 3) "Mono" else "Stereo"))
            case None =>
              val audioBytes = audioEnd - q // v1 trailer excluded
              meta += ("xmpDM:duration" -> "%.3f".formatLocal(Locale.ROOT, audioBytes.toDouble * 8 / bitrate))
          }
          done = true
        } else q += 1
      } else q += 1
    }
    if (meta.nonEmpty && !meta.contains("xmpDM:audioCompressor"))
      meta += ("xmpDM:audioCompressor" -> "MP3") // bare frame-synced stream
    meta
  }
}

/** FLAC STREAMINFO metadata: sample rate, channels, bit depth and total
  * samples (hence exact duration) from the mandatory first metadata
  * block — the same audio facts the WAV path surfaces.
  */
object FlacKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    // fLaC + block header (type 0 = STREAMINFO, 24-bit length >= 34)
    if (bytes.length < 4 + 4 + 34 || bytes(0) != 'f' || bytes(1) != 'L' ||
        bytes(2) != 'a' || bytes(3) != 'C') return Map.empty
    if ((bytes(4) & 0x7f) != 0) return Map.empty // first block must be STREAMINFO
    val blockLen = ((bytes(5) & 0xff) << 16) | ((bytes(6) & 0xff) << 8) | (bytes(7) & 0xff)
    if (blockLen < 34 || 8 + blockLen > bytes.length) return Map.empty
    val b = 8
    // minBlock(16) maxBlock(16) minFrame(24) maxFrame(24) then:
    // sampleRate(20) channels-1(3) bits-1(5) totalSamples(36)
    val p = b + 2 + 2 + 3 + 3
    val sampleRate = ((bytes(p) & 0xff) << 12) | ((bytes(p + 1) & 0xff) << 4) |
      ((bytes(p + 2) & 0xff) >> 4)
    val channels = (((bytes(p + 2) & 0xff) >> 1) & 7) + 1
    val bits = (((bytes(p + 2) & 1) << 4) | ((bytes(p + 3) & 0xff) >> 4)) + 1
    val totalSamples = ((bytes(p + 3) & 0x0fL) << 32) | ((bytes(p + 4) & 0xffL) << 24) |
      ((bytes(p + 5) & 0xffL) << 16) | ((bytes(p + 6) & 0xffL) << 8) | (bytes(p + 7) & 0xffL)
    if (sampleRate <= 0) return Map.empty
    var meta = Map(
      "xmpDM:audioSampleRate" -> sampleRate.toString,
      "channels" -> channels.toString,
      "bits" -> bits.toString,
      "xmpDM:audioCompressor" -> "FLAC")
    if (totalSamples > 0)
      meta += ("xmpDM:duration" -> "%.3f".formatLocal(Locale.ROOT, totalSamples.toDouble / sampleRate))
    // walk the remaining metadata blocks for VORBIS_COMMENT (type 4):
    // vendor string + KEY=value pairs (the FLAC tag container)
    def u32le(q: Int): Long =
      (bytes(q) & 0xffL) | ((bytes(q + 1) & 0xffL) << 8) |
        ((bytes(q + 2) & 0xffL) << 16) | ((bytes(q + 3) & 0xffL) << 24)
    val tagKeys = Map("TITLE" -> "dc:title", "ARTIST" -> "xmpDM:artist",
      "ALBUM" -> "xmpDM:album", "DATE" -> "xmpDM:releaseDate",
      "GENRE" -> "xmpDM:genre", "TRACKNUMBER" -> "xmpDM:trackNumber")
    var q = 8 + blockLen
    var last = (bytes(4) & 0x80) != 0
    var blocks = 0
    while (!last && q + 4 <= bytes.length && blocks < 64) {
      val typ = bytes(q) & 0x7f
      last = (bytes(q) & 0x80) != 0
      val len = ((bytes(q + 1) & 0xff) << 16) | ((bytes(q + 2) & 0xff) << 8) |
        (bytes(q + 3) & 0xff)
      val body = q + 4
      if (len < 0 || body + len > bytes.length) last = true
      else if (typ == 4 && len >= 8) {
        var c = body
        val vendorLen = u32le(c)
        if (vendorLen >= 0 && c + 4 + vendorLen + 4 <= body + len) {
          c += 4 + vendorLen.toInt
          val nComments = u32le(c)
          c += 4
          var k = 0L
          while (k < nComments && k < 64 && c + 4 <= body + len) {
            val cl = u32le(c)
            c += 4
            if (cl >= 0 && c + cl <= body + len) {
              val comment = new String(bytes, c, cl.toInt,
                java.nio.charset.StandardCharsets.UTF_8)
              val eq = comment.indexOf('=')
              if (eq > 0) {
                val key = comment.substring(0, eq).toUpperCase(Locale.ROOT)
                val v = comment.substring(eq + 1).trim
                tagKeys.get(key).foreach { mk =>
                  if (v.nonEmpty && !meta.contains(mk)) meta += (mk -> v)
                }
              }
              c += cl.toInt
            } else k = 64 // malformed length: stop
            k += 1
          }
        }
      }
      q = body + len
      blocks += 1
    }
    meta
  }
}
