package graft.kernel

import java.io.ByteArrayInputStream
import java.util.Locale
import javax.xml.stream.XMLStreamConstants

/** Round-3 container + message kernels: archive recursion (zip/tar/gzip),
  * RFC-822 email, and XML text content — the reference parses container
  * formats and their embedded documents via Tika's recursive parsing
  * (reference: README.md:3-8); here each member is re-dispatched through
  * Extract (content-first D1 sniff) with bounded depth/size so a crafted
  * archive degrades to a taxonomy row, never an executor OOM.
  */
object ArchiveKernel {

  final case class Result(text: String, metadata: Map[String, String])

  /** Nesting bound: one nested archive level (zip-in-zip, tar-in-zip —
    * real lakes carry these); an archive at depth 2 extracts as a typed
    * opaque binary. Gzip is a compression wrapper, not a container — it
    * does NOT consume a depth level, so .tar.gz works at any level.
    */
  val MaxDepth = 2
  val MaxMembers = 256
  /** Total extracted text cap across members (chars): bounds a zip whose
    * members each inflate to the per-part limit. Checked BEFORE each
    * member extraction (not only at assembly), so a crafted bomb —
    * 256 members × 256 nested members × per-part inflate — stops paying
    * extraction cost the moment the budget is hit and degrades to a row.
    */
  val MaxTotalChars: Int = 32 << 20

  /** Zip archive: members in entry order through Extract; child text
    * concatenated blank-line-separated, entry metadata prefixed as
    * archive:* keys.
    */
  def zip(bytes: Array[Byte], opt: Extract.Options, depth: Int): Result = {
    val parts = Vector.newBuilder[String]
    val names = Vector.newBuilder[String]
    var n = 0
    var total = 0L
    OoxmlUtil.walkZip(bytes) { (name, read) =>
      if (n < MaxMembers && total <= MaxTotalChars && !name.endsWith("/")) {
        names += name
        n += 1
        total += appendMember(parts, read(), opt, depth)
      }
    }
    assemble(parts.result(), names.result())
  }

  /** Tar archive (ustar): 512-byte headers, octal sizes, regular files
    * only.
    */
  def tar(bytes: Array[Byte], opt: Extract.Options, depth: Int): Result = {
    val parts = Vector.newBuilder[String]
    val names = Vector.newBuilder[String]
    var p = 0
    var n = 0
    var total = 0L
    while (p + 512 <= bytes.length && n < MaxMembers && total <= MaxTotalChars) {
      val name = cstr(bytes, p, 100)
      if (name.isEmpty) p = bytes.length // zero block: end of archive
      else {
        val size = octal(bytes, p + 124, 12)
        val typeflag = bytes(p + 156)
        val dataStart = p + 512
        if (size < 0 || dataStart + size > bytes.length) p = bytes.length
        else {
          if ((typeflag == '0' || typeflag == 0) && size <= OoxmlUtil.MaxPartBytes) {
            names += name
            n += 1
            val member = java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + size.toInt)
            total += appendMember(parts, member, opt, depth)
          }
          val padded = ((size + 511) / 512) * 512
          p = dataStart + padded.toInt
        }
      }
    }
    assemble(parts.result(), names.result())
  }

  /** Bounded gzip inflate (for the Extract gzip case). */
  def gunzip(bytes: Array[Byte]): Array[Byte] =
    unwrap(Magic.Kind.Gzip, bytes)

  /** Bounded single-layer decompress for the wrapper codecs. Gzip is
    * JDK; bzip2/xz/zstd come from the jars every Spark distribution
    * ships (commons-compress, org.tukaani.xz, zstd-jni — Spark itself
    * uses them for shuffle/event-log codecs), so this is platform use,
    * not a new dependency.
    */
  def unwrap(kind: Magic.Kind, bytes: Array[Byte]): Array[Byte] = {
    val raw = new ByteArrayInputStream(bytes)
    val in: java.io.InputStream = kind match {
      case Magic.Kind.Gzip => new java.util.zip.GZIPInputStream(raw)
      case Magic.Kind.Bz2 =>
        new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(raw)
      case Magic.Kind.Xz  => new org.tukaani.xz.XZInputStream(raw)
      case Magic.Kind.Zstd => new com.github.luben.zstd.ZstdInputStream(raw)
      case other => throw new IllegalArgumentException(s"not a wrapper codec: $other")
    }
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var r = in.read(buf)
      while (r >= 0) {
        out.write(buf, 0, r)
        if (out.size() > OoxmlUtil.MaxPartBytes)
          throw new IllegalArgumentException("wrapper exceeds inflate bound")
        r = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  /** Extract one member at depth+1; returns the chars contributed so the
    * caller can stop paying extraction cost once the budget is spent.
    */
  private def appendMember(parts: scala.collection.mutable.Builder[String, Vector[String]],
      member: Array[Byte], opt: Extract.Options, depth: Int): Int = {
    val out = Extract.extractBytes("member", member, opt, depth + 1)
    val t = out.content
    if (t.nonEmpty) { parts += t; t.length } else 0
  }

  private def assemble(parts: Vector[String], names: Vector[String]): Result = {
    var total = 0
    val kept = parts.takeWhile { p => total += p.length + 2; total <= MaxTotalChars }
    Result(kept.filter(_.nonEmpty).mkString("\n\n"),
      Map("archive:entry-count" -> names.size.toString,
        "archive:entry-names" -> names.take(16).mkString(",")))
  }

  private def cstr(b: Array[Byte], off: Int, max: Int): String = {
    var n = 0
    while (n < max && b(off + n) != 0) n += 1
    new String(b, off, n, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private def octal(b: Array[Byte], off: Int, max: Int): Long = {
    var v = 0L
    var i = 0
    var seen = false
    while (i < max) {
      val c = b(off + i)
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
      else if (seen) i = max
      i += 1
    }
    if (seen) v else -1L
  }
}

/** RFC-822 email (.eml): header block -> dc: and Message-* metadata, body via
  * transfer-encoding + charset decode, first text/plain part of multipart
  * bodies. JDK-only, bounded (headers unfold, encoded-words B/Q decode).
  */
object EmlKernel {

  final case class Result(text: String, metadata: Map[String, String])

  def extract(bytes: Array[Byte]): Result =
    core(new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1),
      unicodeInput = false)

  /** Inline-text variant: the input is already decoded unicode, so
    * identity-encoded bodies must NOT round-trip through ISO-8859-1
    * (which would drop non-latin1 chars).
    */
  def extractStr(text: String): Result = core(text, unicodeInput = true)

  private def core(raw: String, unicodeInput: Boolean): Result = {
    val (headerBlock, body) = splitAtBlank(raw)
    val headers = parseHeaders(headerBlock)

    var meta = Map.empty[String, String]
    headers.get("subject").map(decodeWords).filter(_.nonEmpty)
      .foreach(v => meta += ("dc:title" -> v))
    headers.get("from").map(decodeWords).filter(_.nonEmpty)
      .foreach { v => meta += ("dc:creator" -> v); meta += ("Message-From" -> v) }
    headers.get("to").map(decodeWords).filter(_.nonEmpty)
      .foreach(v => meta += ("Message-To" -> v))
    headers.get("cc").map(decodeWords).filter(_.nonEmpty)
      .foreach(v => meta += ("Message-Cc" -> v))
    headers.get("date").filter(_.nonEmpty)
      .foreach(v => meta += ("dcterms:created" -> v))

    val ct = headers.getOrElse("content-type", "text/plain")
    val text =
      if (ct.toLowerCase(Locale.ROOT).startsWith("multipart/")) {
        param(ct, "boundary") match {
          case Some(b) =>
            val (t, attachments) = multipartText(body, b, unicodeInput)
            if (attachments.nonEmpty) {
              meta += ("Message-Attachment-Count" -> attachments.size.toString)
              meta += ("Message-Attachment-Names" ->
                attachments.take(8).mkString(","))
            }
            t
          case None => decodeBody(body, headers, unicodeInput)
        }
      } else decodeBody(body, headers, unicodeInput)
    Result(text, meta)
  }

  /** Multipart walk: the first NON-ATTACHMENT text/plain part's decoded
    * text (falling back to the first non-attachment part, then to the
    * first text-typed part even if attachment-classified, then empty:
    * raw multipart body is never surfaced), plus the attachment
    * filenames (Content-Disposition attachment, or any part carrying a
    * filename/name parameter).
    */
  private def multipartText(body: String, boundary: String,
      unicodeInput: Boolean): (String, Vector[String]) = {
    val marker = "--" + boundary
    val chunks = body.split(java.util.regex.Pattern.quote(marker), -1).toVector
      .drop(1) // preamble
      .filterNot(c => c.startsWith("--")) // closing marker tail
    val parts = chunks.map { c =>
      val trimmed = c.dropWhile(ch => ch == '\r' || ch == '\n')
      val (hb, pb) = splitAtBlank(trimmed)
      val hs = parseHeaders(hb)
      val disp = hs.getOrElse("content-disposition", "")
      val fname = param(disp, "filename")
        .orElse(param(hs.getOrElse("content-type", ""), "name"))
      val isAttachment = disp.trim.toLowerCase(Locale.ROOT).startsWith("attachment") ||
        fname.isDefined
      (hs.getOrElse("content-type", "text/plain"), hs, pb, isAttachment, fname)
    }
    val attachments = parts.collect {
      case (_, _, _, true, Some(n)) => n
      case (ct2, _, _, true, None)  => "unnamed (" + ct2.takeWhile(_ != ';').trim + ")"
    }
    val textParts = parts.filterNot(_._4)
    // When every part is attachment-classified (some mailers add a
    // name= parameter to the main body part), fall back to DECODING the
    // first text/* part rather than leaking the raw multipart body —
    // base64 payloads and MIME headers must never surface as content
    // (ADVICE r5)
    val text = textParts.find(_._1.toLowerCase(Locale.ROOT).startsWith("text/plain"))
      .orElse(textParts.headOption)
      .orElse(parts.find(_._1.toLowerCase(Locale.ROOT).startsWith("text/")))
      .map { case (_, hs, pb, _, _) => decodeBody(pb, hs, unicodeInput) }
      .getOrElse("")
    (text, attachments)
  }

  private def decodeBody(body: String, headers: Map[String, String],
      unicodeInput: Boolean): String = {
    val enc = headers.getOrElse("content-transfer-encoding", "7bit").trim.toLowerCase(Locale.ROOT)
    val csName = headers.get("content-type").flatMap(param(_, "charset"))
    val decoded = enc match {
      case "base64" =>
        val bytes =
          try java.util.Base64.getMimeDecoder.decode(
            body.filterNot(c => c == '\r' || c == '\n'))
          catch { case _: IllegalArgumentException =>
            body.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) }
        decodeCharset(bytes, csName)
      case "quoted-printable" => decodeCharset(qpDecode(body), csName)
      case _ =>
        // identity encoding: already-unicode input stays as-is
        if (unicodeInput) body
        else decodeCharset(body.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), csName)
    }
    decoded.replace("\r\n", "\n").replace('\r', '\n')
  }

  /** Parameter from a structured header value, quoted or bare:
    * `multipart/mixed; boundary="b"` -> param(v, "boundary") = Some(b).
    */
  private def param(headerValue: String, name: String): Option[String] = {
    val i = headerValue.toLowerCase(Locale.ROOT).indexOf(name.toLowerCase(Locale.ROOT) + "=")
    if (i < 0) return None
    val start = i + name.length + 1
    if (start >= headerValue.length) None
    else if (headerValue.charAt(start) == '"') {
      val endq = headerValue.indexOf('"', start + 1)
      if (endq < 0) None else Some(headerValue.substring(start + 1, endq))
    } else {
      val end = headerValue.indexWhere(c => c == ';' || c == ' ' || c == '\t', start)
      Some(headerValue.substring(start, if (end < 0) headerValue.length else end))
    }
  }

  private def decodeCharset(bytes: Array[Byte], name: Option[String]): String =
    name.flatMap { n =>
      try Some(new String(bytes, java.nio.charset.Charset.forName(n.trim)))
      catch { case _: Exception => None }
    }.getOrElse(Charset.detect(bytes).decoded)

  /** Quoted-printable: =XX hex bytes, soft line breaks (=CRLF / =LF). */
  private def qpDecode(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '=' && i + 1 < s.length) {
        if (s.charAt(i + 1) == '\n') i += 2
        else if (s.charAt(i + 1) == '\r' && i + 2 < s.length && s.charAt(i + 2) == '\n') i += 3
        else if (i + 2 < s.length) {
          try { out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3 }
          catch { case _: NumberFormatException => out.write(c.toInt); i += 1 }
        } else { out.write(c.toInt); i += 1 }
      } else { out.write(c.toInt & 0xff); i += 1 }
    }
    out.toByteArray
  }

  /** MIME encoded-words (=?charset?B|Q?data?=) in structured headers. */
  private[kernel] def decodeWords(v: String): String = {
    val re = """=\?([^?]+)\?([BbQq])\?([^?]*)\?=""".r
    re.replaceAllIn(v, m => {
      val cs = try java.nio.charset.Charset.forName(m.group(1))
        catch { case _: Exception => java.nio.charset.StandardCharsets.UTF_8 }
      val data = m.group(2).toLowerCase(Locale.ROOT) match {
        case "b" =>
          try java.util.Base64.getMimeDecoder.decode(m.group(3))
          catch { case _: IllegalArgumentException => Array.emptyByteArray }
        case _ => qpDecode(m.group(3).replace('_', ' '))
      }
      java.util.regex.Matcher.quoteReplacement(new String(data, cs))
    }).trim
  }

  /** Header block -> lowercase-name map, continuation lines unfolded. */
  private def parseHeaders(block: String): Map[String, String] = {
    var out = Map.empty[String, String]
    var name: String = null
    val sb = new StringBuilder
    def flush(): Unit = if (name != null && sb.nonEmpty) {
      if (!out.contains(name)) out += (name -> sb.toString.trim)
      name = null; sb.setLength(0)
    }
    block.linesIterator.foreach { line =>
      if (line.nonEmpty && (line.charAt(0) == ' ' || line.charAt(0) == '\t')) {
        if (name != null) { sb.append(' '); sb.append(line.trim) }
      } else {
        flush()
        val c = line.indexOf(':')
        if (c > 0) { name = line.substring(0, c).trim.toLowerCase(Locale.ROOT); sb.append(line.substring(c + 1)) }
      }
    }
    flush()
    out
  }

  private def splitAtBlank(s: String): (String, String) = {
    val lf = s.indexOf("\n\n")
    val crlf = s.indexOf("\r\n\r\n")
    if (crlf >= 0 && (lf < 0 || crlf < lf)) (s.substring(0, crlf), s.substring(crlf + 4))
    else if (lf >= 0) (s.substring(0, lf), s.substring(lf + 2))
    else (s, "")
  }
}

/** XML text content: leaf-element character data in document order, one
  * line per leaf (Tika's XML parser emits element text without markup).
  */
object XmlTextKernel {

  def extract(text: String): String = {
    val r = OoxmlUtil.factory.createXMLStreamReader(
      new java.io.StringReader(text))
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            val t = cur.toString.trim
            if (t.nonEmpty) out += t
            cur.setLength(0)
          case XMLStreamConstants.START_ELEMENT =>
            cur.setLength(0)
          case _ => ()
        }
      }
    } finally r.close()
    out.result().mkString("\n")
  }
}
