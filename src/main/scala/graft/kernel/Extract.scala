package graft.kernel

/** Extraction dispatcher: one payload (inline text or media bytes) in, one
  * extraction result out. Pure function of its inputs — no Spark here.
  * Mirrors the reference's Parser#parse orchestration
  * (reference: lib/rika/parser.rb:26-46): detect -> extract -> truncate ->
  * augment metadata, with the failure taxonomy of
  * lib/rika/cli/rika_command.rb:106-115 (errors never abort a batch).
  */
object Extract {

  /** maxContentLength semantics (reference: lib/rika/parser.rb:28,
    * lib/rika/cli/rika_command.rb:233-237): -1 unlimited, 0 = metadata-only
    * (computation pruning), n > 0 = first n chars.
    */
  final case class Options(
      maxContentLength: Int = -1,
      htmlFullText: Boolean = false) // true = reference/Tika all-text semantics

  final case class Out(
      content: String,           // canonical full extracted text (truncated per options)
      blocks: Vector[String],    // ordered text blocks (the output spans)
      contentType: String,
      metadata: Map[String, String],
      isMedia: Boolean,          // true => emit a media span instead of text spans
      issue: Option[String])     // failure taxonomy entry

  val IssueEmptyFile    = "empty_file"
  val IssueIoError      = "io_error"
  val IssueInvalidInput = "invalid_input"
  val IssueParseError   = "parse_error"

  /** Top-level (depth 0) extractBytes invocations this JVM — observable
    * kernel-work counter for tests (e.g. proving the resume semi-join gate
    * extracts only missing media). Single increment per payload; local
    * mode shares the JVM with the test.
    */
  val mediaCalls = new java.util.concurrent.atomic.AtomicLong

  /** Extract an inline text payload (kind html|txt as claimed; verified by
    * content sniffing).
    */
  def extractText(claimedKind: String, text: String, opt: Options): Out = {
    if (text == null) return failure(IssueInvalidInput)
    if (text.isEmpty) return failure(IssueEmptyFile)
    try {
      val kind = Magic.sniffText(text)
      kind match {
        case Magic.Kind.Html => html(text, "UTF-8", opt)
        case Magic.Kind.Eml  => eml(EmlKernel.extractStr(text), opt)
        case _               => plain(text, "UTF-8", opt)
      }
    } catch { case scala.util.control.NonFatal(_) => failure(IssueParseError) }
  }

  /** Extract a binary payload (media side-table bytes). `depth` bounds
    * archive recursion (members re-enter here at depth + 1; nested
    * archives beyond ArchiveKernel.MaxDepth degrade to octet-stream).
    */
  def extractBytes(claimedKind: String, bytes: Array[Byte], opt: Options,
      depth: Int = 0): Out = {
    if (depth == 0) mediaCalls.incrementAndGet()
    extractBytes0(claimedKind, bytes, opt, depth)
  }

  private def extractBytes0(claimedKind: String, bytes: Array[Byte],
      opt: Options, depth: Int): Out = {
    if (bytes == null) return failure(IssueIoError)
    if (bytes.isEmpty) return failure(IssueEmptyFile)
    try {
      Magic.sniff(bytes) match {
        case Magic.Kind.Pdf  => pdf(bytes, opt)
        case Magic.Kind.Docx => docx(bytes, opt)
        case Magic.Kind.Xlsx => xlsx(bytes, opt)
        case Magic.Kind.Pptx => pptx(bytes, opt)
        case Magic.Kind.Doc  => doc(bytes, opt)
        case Magic.Kind.Rtf  => rtf(bytes, opt)
        case Magic.Kind.Odt  => odt(bytes, opt)
        case Magic.Kind.Ods  =>
          val r = OdsKernel.extract(bytes)
          val content = truncate(r.text, opt)
          Out(content, blocksOf(content),
            "application/vnd.oasis.opendocument.spreadsheet", r.metadata,
            isMedia = false, issue = None)
        case Magic.Kind.Odp  =>
          val r = OdpKernel.extract(bytes)
          val content = truncate(r.text, opt)
          Out(content, blocksOf(content),
            "application/vnd.oasis.opendocument.presentation", r.metadata,
            isMedia = false, issue = None)
        case Magic.Kind.Epub => epub(bytes, opt)
        case Magic.Kind.Jpeg => jpeg(bytes)
        case Magic.Kind.Png  =>
          Out("", Vector.empty, "image/png", PngKernel.extract(bytes),
            isMedia = true, issue = None)
        case Magic.Kind.Gif  =>
          Out("", Vector.empty, "image/gif", GifKernel.extract(bytes),
            isMedia = true, issue = None)
        case Magic.Kind.Tiff =>
          Out("", Vector.empty, "image/tiff", TiffKernel.extract(bytes),
            isMedia = true, issue = None)
        case Magic.Kind.Mp3  =>
          Out("", Vector.empty, "audio/mpeg", Mp3Kernel.extract(bytes),
            isMedia = true, issue = None)
        case Magic.Kind.Wav  =>
          Out("", Vector.empty, "audio/vnd.wave", WavKernel.extract(bytes),
            isMedia = true, issue = None)
        case Magic.Kind.Mp4  =>
          Out("", Vector.empty, "video/mp4", Mp4Kernel.extract(bytes),
            isMedia = true, issue = None)
        case k @ (Magic.Kind.Webm | Magic.Kind.Mkv) =>
          // EBML containers: audio-only files type as audio/webm |
          // audio/x-matroska, so the content type comes from the tracks
          val (ct, meta) = MkvKernel.extract(bytes, matroska = k == Magic.Kind.Mkv)
          Out("", Vector.empty, ct, meta, isMedia = true, issue = None)
        case k @ (Magic.Kind.Heic | Magic.Kind.Heif | Magic.Kind.Avif) =>
          Out("", Vector.empty, Magic.contentTypeOf(k, None),
            HeifKernel.extract(bytes), isMedia = true, issue = None)
        case Magic.Kind.Bmp  =>
          Out("", Vector.empty, "image/bmp", BmpKernel.extract(bytes),
            isMedia = true, issue = None)
        case Magic.Kind.Webp =>
          Out("", Vector.empty, "image/webp", WebpKernel.extract(bytes),
            isMedia = true, issue = None)
        case Magic.Kind.Html =>
          val cs = Charset.detect(bytes)
          html(cs.decoded, cs.name, opt)
        case Magic.Kind.Eml =>
          eml(EmlKernel.extract(bytes), opt)
        case Magic.Kind.Text =>
          val cs = Charset.detect(bytes)
          plain(cs.decoded, cs.name, opt)
        case Magic.Kind.Zip =>
          if (depth >= ArchiveKernel.MaxDepth) octetStream
          else archive(ArchiveKernel.zip(bytes, opt, depth), "application/zip", opt)
        case Magic.Kind.Tar =>
          if (depth >= ArchiveKernel.MaxDepth) octetStream
          else archive(ArchiveKernel.tar(bytes, opt, depth), "application/x-tar", opt)
        case k @ (Magic.Kind.Gzip | Magic.Kind.Bz2 | Magic.Kind.Xz | Magic.Kind.Zstd) =>
          // compression wrappers, not containers: the decompressed
          // payload re-dispatches at the SAME depth (so .tar.gz/.tar.xz
          // open at depth 0) but wrapper nesting itself — including
          // MIXED nests like gz(bz2(...)) — is unwrapped iteratively
          // with a hard bound of 2: a 10k-deep wrapper nest must not
          // become 10k recursion frames (StackOverflowError escapes
          // NonFatal), so the loop below is the ONLY wrapper recursion
          var payload = ArchiveKernel.unwrap(k, bytes)
          var unwraps = 1
          var inner = Magic.sniff(payload)
          while (unwraps < 2 && Magic.isWrapper(inner)) {
            payload = ArchiveKernel.unwrap(inner, payload); unwraps += 1
            inner = Magic.sniff(payload)
          }
          if (Magic.isWrapper(inner))
            Out("", Vector.empty, Magic.contentTypeOf(k, None), Map.empty,
              isMedia = false, issue = None)
          else
            extractBytes0(claimedKind, payload, opt, depth)
              .copy(contentType = Magic.contentTypeOf(k, None), isMedia = false)
        case Magic.Kind.Flac =>
          // STREAMINFO metadata is real (sample rate/channels/duration);
          // the audio frames stay opaque. A magic-only FLAC without a
          // valid STREAMINFO degrades to a typed opaque row (not media).
          val m = FlacKernel.extract(bytes)
          Out("", Vector.empty, "audio/flac", m, isMedia = m.nonEmpty, issue = None)
        case Magic.Kind.Ogg =>
          // Vorbis/Opus identification header metadata is real; frames
          // stay opaque. Headerless Ogg magic degrades to typed opaque.
          val m = OggKernel.extract(bytes)
          Out("", Vector.empty, "application/ogg", m, isMedia = m.nonEmpty, issue = None)
        case Magic.Kind.Ico =>
          val m = IcoKernel.extract(bytes)
          Out("", Vector.empty, "image/vnd.microsoft.icon", m,
            isMedia = m.nonEmpty, issue = None)
        case Magic.Kind.Psd =>
          val m = PsdKernel.extract(bytes)
          Out("", Vector.empty, "image/vnd.adobe.photoshop", m,
            isMedia = m.nonEmpty, issue = None)
        case Magic.Kind.Midi =>
          val m = MidiKernel.extract(bytes)
          Out("", Vector.empty, "audio/midi", m, isMedia = m.nonEmpty, issue = None)
        case Magic.Kind.SevenZ =>
          // full container parse: names/codecs always; member payloads
          // through the normal dispatch for Copy/LZMA/LZMA2 folders
          if (depth >= ArchiveKernel.MaxDepth) octetStream
          else archive(SevenZKernel.extract(bytes, opt, depth),
            "application/x-7z-compressed", opt)
        case Magic.Kind.Rar =>
          // RAR5 headers parse to metadata rows (names/counts/sizes);
          // the proprietary compression stays opaque
          Out("", Vector.empty, "application/x-rar-compressed",
            RarKernel.extract(bytes), isMedia = false, issue = None)
        case k @ (Magic.Kind.Sqlite | Magic.Kind.Woff | Magic.Kind.Woff2 |
            Magic.Kind.Wasm | Magic.Kind.Elf | Magic.Kind.Jclass |
            Magic.Kind.Exe) =>
          // detection-only breadth: typed opaque rows (Tika types these
          // without a content parser either)
          Out("", Vector.empty, Magic.contentTypeOf(k, None), Map.empty,
            isMedia = false, issue = None)
        case Magic.Kind.Unknown => octetStream
      }
    } catch { case scala.util.control.NonFatal(_) => failure(IssueParseError) }
  }

  private def octetStream: Out =
    Out("", Vector.empty, "application/octet-stream", Map.empty,
      isMedia = false, issue = None)

  private def failure(issue: String): Out =
    Out("", Vector.empty, "application/octet-stream", Map.empty,
      isMedia = false, issue = Some(issue))

  // ------------------------------------------------------------- formats

  private def plain(text: String, charset: String, opt: Options): Out = {
    // D1 refinement: content-hint text subtyping (CSV/TSV/Markdown/XML/
    // source), mirroring the reference's refined text types in its tally
    // (reference: README.md:247). XML additionally extracts element text
    // content (markup stripped), degrading to verbatim text when malformed.
    Magic.textSubtype(text) match {
      case Some(sub @ ("application/xml" | "image/svg+xml")) =>
        val extracted =
          try XmlTextKernel.extract(text)
          catch { case scala.util.control.NonFatal(_) => text }
        val content = truncate(extracted, opt)
        Out(content, blocksOf(content), s"$sub; charset=$charset",
          Map("Content-Encoding" -> charset), isMedia = false, issue = None)
      case Some(sub) =>
        val content = truncate(text, opt)
        Out(content, blocksOf(content), s"$sub; charset=$charset",
          Map("Content-Encoding" -> charset), isMedia = false, issue = None)
      case None =>
        val content = truncate(text, opt)
        Out(content, blocksOf(content),
          s"text/plain; charset=$charset",
          Map("Content-Encoding" -> charset),
          isMedia = false, issue = None)
    }
  }

  private def eml(r: EmlKernel.Result, opt: Options): Out = {
    val content = truncate(r.text, opt)
    Out(content, blocksOf(content), "message/rfc822", r.metadata,
      isMedia = false, issue = None)
  }

  private def archive(r: ArchiveKernel.Result, ct: String, opt: Options): Out = {
    val content = truncate(r.text, opt)
    Out(content, blocksOf(content), ct, r.metadata,
      isMedia = false, issue = None)
  }

  private def html(raw: String, charset: String, opt: Options): Out = {
    val r = if (opt.htmlFullText) HtmlKernel.extractFullText(raw)
      else HtmlKernel.extract(raw)
    val full = r.blocks.mkString("\n\n")
    val content = truncate(full, opt)
    Out(content, blocksOf(content),
      s"text/html; charset=$charset",
      r.metadata ++ Map("Content-Encoding" -> charset),
      isMedia = false, issue = None)
  }

  private def pdf(bytes: Array[Byte], opt: Options): Out = {
    if (opt.maxContentLength == 0) {
      // metadata-only mode still parses structure, skips layout text —
      // mirrors the reference's caveat that per-page char counters are
      // absent at length 0 (reference: lib/rika.rb:92-95).
      val r = PdfKernel.extract(bytes)
      Out("", Vector.empty, "application/pdf",
        r.metadata - "pdf:charsPerPage" - "pdf:unmappedUnicodeCharsPerPage",
        isMedia = false, issue = None)
    } else {
      val r = PdfKernel.extract(bytes)
      val content = truncate(r.text, opt)
      Out(content, blocksOf(content), "application/pdf", r.metadata,
        isMedia = false, issue = None)
    }
  }

  private def docx(bytes: Array[Byte], opt: Options): Out = {
    val r = DocxKernel.extract(bytes)
    val full =
      if (r.paragraphs.isEmpty) ""
      else r.paragraphs.mkString("", "\n", "\n")
    val content = truncate(full, opt)
    Out(content, blocksOf(content),
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
      r.metadata, isMedia = false, issue = None)
  }

  private def rtf(bytes: Array[Byte], opt: Options): Out = {
    val r = RtfKernel.extract(bytes)
    val content = truncate(r.text, opt)
    Out(content, blocksOf(content), "application/rtf", r.metadata,
      isMedia = false, issue = None)
  }

  private def odt(bytes: Array[Byte], opt: Options): Out = {
    val r = OdtKernel.extract(bytes)
    val full =
      if (r.paragraphs.isEmpty) ""
      else r.paragraphs.mkString("", "\n", "\n")
    val content = truncate(full, opt)
    Out(content, blocksOf(content),
      "application/vnd.oasis.opendocument.text", r.metadata,
      isMedia = false, issue = None)
  }

  private def epub(bytes: Array[Byte], opt: Options): Out = {
    val r = EpubKernel.extract(bytes)
    val content = truncate(r.text, opt)
    Out(content, blocksOf(content), "application/epub+zip", r.metadata,
      isMedia = false, issue = None)
  }

  private def xlsx(bytes: Array[Byte], opt: Options): Out = {
    val r = XlsxKernel.extract(bytes)
    val content = truncate(r.text, opt)
    Out(content, blocksOf(content),
      "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
      r.metadata, isMedia = false, issue = None)
  }

  private def pptx(bytes: Array[Byte], opt: Options): Out = {
    val r = PptxKernel.extract(bytes)
    val content = truncate(r.text, opt)
    Out(content, blocksOf(content),
      "application/vnd.openxmlformats-officedocument.presentationml.presentation",
      r.metadata, isMedia = false, issue = None)
  }

  /** CFB dispatch: one container parse, then Word / Excel / PowerPoint /
    * Outlook / generic OLE2 by directory contents (the Tika-delegate
    * content-type split for the legacy binary Office family).
    */
  private def doc(bytes: Array[Byte], opt: Options): Out = Cfb.parse(bytes) match {
    case None =>
      Out("", Vector.empty, "application/x-tika-msoffice", Map.empty,
        isMedia = false, issue = None)
    case Some(c) =>
      // OLE property-set metadata is container-level (any of these types)
      lazy val si = c.stream("SummaryInformation")
        .map(DocKernel.summaryInfo).getOrElse(Map.empty)
      val word = DocKernel.extractFrom(c)
      if (word.isWord) {
        val content = truncate(word.text, opt)
        Out(content, blocksOf(content), "application/msword", word.metadata,
          isMedia = false, issue = None)
      } else if (XlsKernel.isXls(c)) {
        val r = XlsKernel.extract(c)
        val content = truncate(r.text, opt)
        Out(content, blocksOf(content), "application/vnd.ms-excel",
          r.metadata ++ si, isMedia = false, issue = None)
      } else if (PptKernel.isPpt(c)) {
        val content = truncate(PptKernel.extract(c).text, opt)
        Out(content, blocksOf(content), "application/vnd.ms-powerpoint",
          si, isMedia = false, issue = None)
      } else if (MsgKernel.isMsg(c)) {
        val r = MsgKernel.extract(c)
        val content = truncate(r.text, opt)
        Out(content, blocksOf(content), "application/vnd.ms-outlook", r.metadata,
          isMedia = false, issue = None)
      } else
        Out("", Vector.empty, "application/x-tika-msoffice", si,
          isMedia = false, issue = None)
  }

  private def jpeg(bytes: Array[Byte]): Out =
    Out("", Vector.empty, "image/jpeg", JpegKernel.extract(bytes),
      isMedia = true, issue = None)

  // ------------------------------------------------------------- helpers

  /** Metadata entries in output order: by key case-insensitively, then by
    * exact key (reference: lib/rika/parser.rb:34). Lowercasing under
    * `Locale.ROOT` keeps the order the same in every JVM default locale
    * (under tr_TR, "Image Width" would lowercase to a dotless i).
    */
  def sortedByKey(m: Seq[(String, String)]): Seq[(String, String)] =
    m.sortBy { case (k, _) => (k.toLowerCase(java.util.Locale.ROOT), k) }

  def truncate(s: String, opt: Options): String =
    if (opt.maxContentLength < 0) s
    else if (opt.maxContentLength == 0) ""
    else if (s.length <= opt.maxContentLength) s
    else s.substring(0, opt.maxContentLength)

  /** Span decomposition: blocks are blank-line-separated chunks of the
    * (possibly truncated) content, kept verbatim (trailing spaces and
    * internal newlines preserved) so that content can be reconstructed and
    * prefix-truncation invariants hold at the block level too.
    */
  def blocksOf(content: String): Vector[String] = {
    if (content.isEmpty) return Vector.empty
    val out = Vector.newBuilder[String]
    var start = 0
    var i = 0
    val n = content.length
    // split on runs of >=2 newlines (allowing spaces/tabs on blank lines)
    while (i < n) {
      if (content.charAt(i) == '\n') {
        var j = i + 1
        var newlines = 1
        while (j < n && (content.charAt(j) == '\n' || content.charAt(j) == ' ' ||
            content.charAt(j) == '\t' || content.charAt(j) == '\r')) {
          if (content.charAt(j) == '\n') newlines += 1
          j += 1
        }
        if (newlines >= 2) {
          val chunk = content.substring(start, i)
          if (chunk.exists(!_.isWhitespace)) out += stripEdges(chunk)
          start = j
          i = j
        } else i += 1
      } else i += 1
    }
    if (start < n) {
      val chunk = content.substring(start, n)
      if (chunk.exists(!_.isWhitespace)) out += stripEdges(chunk)
    }
    out.result()
  }

  /** Strip leading/trailing newlines only (keep trailing spaces — they are
    * part of the pinned PDF golden, spec/rika/parser_spec.rb:157-162).
    */
  private def stripEdges(s: String): String =
    s.dropWhile(_ == '\n').reverse.dropWhile(_ == '\n').reverse
}
