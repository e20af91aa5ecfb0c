package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

/** Deterministic OOXML (docx) writer for the synthetic corpus: a real zip
  * (fixed timestamps for byte-determinism) with document.xml, core.xml,
  * app.xml — exactly the parts DocxKernel consumes.
  */
object DocxWriter {

  final case class Spec(
      title: String,
      creator: String,
      paragraphs: Vector[String],
      pages: Int,
      // structural breadth: tables (rows of cells -> tab-separated
      // lines), page headers/footers (own parts), footnotes (skippable
      // separator stubs included, like real producers emit)
      tables: Vector[Vector[Vector[String]]] = Vector.empty,
      headers: Vector[String] = Vector.empty,
      footers: Vector[String] = Vector.empty,
      footnotes: Vector[String] = Vector.empty)

  /** Expected extracted content (DocxKernel's part order): headers,
    * body paragraphs, table rows (cells tab-joined), footnotes, footers
    * — joined by \n, trailing \n.
    */
  def expectedText(spec: Spec): String = {
    val lines = spec.headers ++ spec.paragraphs ++
      spec.tables.flatMap(_.map(_.mkString("\t"))) ++
      spec.footnotes ++ spec.footers
    if (lines.isEmpty) "" else lines.mkString("", "\n", "\n")
  }

  def write(spec: Spec): Array[Byte] = {
    val words = spec.paragraphs.map(_.split("\\s+").count(_.nonEmpty)).sum
    val chars = spec.paragraphs.map(_.length).sum

    val docXml = {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
      sb.append("<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\" " +
        "xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\"><w:body>")
      def para(sb: StringBuilder, p: String): Unit = {
        sb.append("<w:p><w:r><w:t xml:space=\"preserve\">")
        sb.append(xmlEsc(p))
        sb.append("</w:t></w:r></w:p>")
      }
      spec.paragraphs.foreach(p => para(sb, p))
      spec.tables.foreach { rows =>
        sb.append("<w:tbl><w:tblPr/><w:tblGrid/>")
        rows.foreach { cells =>
          sb.append("<w:tr>")
          cells.foreach { c =>
            sb.append("<w:tc><w:tcPr/>")
            para(sb, c)
            sb.append("</w:tc>")
          }
          sb.append("</w:tr>")
        }
        sb.append("</w:tbl>")
      }
      val sect =
        if (spec.headers.isEmpty && spec.footers.isEmpty) "<w:sectPr/>"
        else {
          val refs = new StringBuilder
          spec.headers.indices.foreach(i => refs.append(
            s"""<w:headerReference w:type="default" r:id="rIdH${i + 1}"/>"""))
          spec.footers.indices.foreach(i => refs.append(
            s"""<w:footerReference w:type="default" r:id="rIdF${i + 1}"/>"""))
          s"<w:sectPr>$refs</w:sectPr>"
        }
      sb.append(sect)
      sb.append("</w:body></w:document>")
      sb.toString
    }
    def partXml(root: String, paras: Vector[String]): String = {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
      sb.append(s"<w:$root xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">")
      paras.foreach { p =>
        sb.append("<w:p><w:r><w:t xml:space=\"preserve\">")
        sb.append(xmlEsc(p))
        sb.append("</w:t></w:r></w:p>")
      }
      sb.append(s"</w:$root>")
      sb.toString
    }
    val footnotesXml = if (spec.footnotes.isEmpty) null else {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
      sb.append("<w:footnotes xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">")
      // the separator stubs every real producer emits — the kernel must
      // skip these (their separator-glyph runs carry no prose)
      sb.append("<w:footnote w:type=\"separator\" w:id=\"-1\"><w:p><w:r><w:separator/></w:r></w:p></w:footnote>")
      sb.append("<w:footnote w:type=\"continuationSeparator\" w:id=\"0\"><w:p><w:r><w:continuationSeparator/></w:r></w:p></w:footnote>")
      spec.footnotes.zipWithIndex.foreach { case (fn, i) =>
        sb.append(s"""<w:footnote w:id="${i + 1}"><w:p><w:r><w:t xml:space="preserve">""")
        sb.append(xmlEsc(fn))
        sb.append("</w:t></w:r></w:p></w:footnote>")
      }
      sb.append("</w:footnotes>")
      sb.toString
    }
    val coreXml =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<cp:coreProperties xmlns:cp=\"http://schemas.openxmlformats.org/package/2006/metadata/core-properties\" " +
      "xmlns:dc=\"http://purl.org/dc/elements/1.1/\" xmlns:dcterms=\"http://purl.org/dc/terms/\">" +
      s"<dc:title>${xmlEsc(spec.title)}</dc:title><dc:creator>${xmlEsc(spec.creator)}</dc:creator>" +
      "<dcterms:created>2020-07-23T17:46:39Z</dcterms:created></cp:coreProperties>"
    val appXml =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<Properties xmlns=\"http://schemas.openxmlformats.org/officeDocument/2006/extended-properties\">" +
      s"<Pages>${spec.pages}</Pages><Words>$words</Words><Characters>$chars</Characters>" +
      "<Application>graft synthetic corpus</Application></Properties>"
    val hfOverrides = {
      val sb = new StringBuilder
      spec.headers.indices.foreach(i => sb.append(
        s"""<Override PartName="/word/header${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.header+xml"/>"""))
      spec.footers.indices.foreach(i => sb.append(
        s"""<Override PartName="/word/footer${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.footer+xml"/>"""))
      if (footnotesXml != null) sb.append(
        """<Override PartName="/word/footnotes.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.footnotes+xml"/>""")
      sb.toString
    }
    val contentTypes =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">" +
      "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
      "<Override PartName=\"/word/document.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml\"/>" +
      hfOverrides +
      "</Types>"
    val rels =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
      "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument\" Target=\"word/document.xml\"/>" +
      "</Relationships>"

    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out)
    // STORED first entry (magic-sniff window must see the names early);
    // fixed local time keeps bytes deterministic across runs, JVMs and
    // default time zones.
    def add(name: String, data: String, stored: Boolean = false): Unit = {
      val bytes = data.getBytes(StandardCharsets.UTF_8)
      val e = new ZipEntry(name)
      e.setTimeLocal(LocalDateTime.of(2020, 7, 23, 17, 46, 39))
      if (stored) {
        e.setMethod(ZipEntry.STORED)
        e.setSize(bytes.length)
        val crc = new CRC32(); crc.update(bytes)
        e.setCrc(crc.getValue)
      }
      zip.putNextEntry(e)
      zip.write(bytes)
      zip.closeEntry()
    }
    add("[Content_Types].xml", contentTypes, stored = true)
    add("_rels/.rels", rels)
    add("word/document.xml", docXml)
    spec.headers.zipWithIndex.foreach { case (h, i) =>
      add(s"word/header${i + 1}.xml", partXml("hdr", Vector(h)))
    }
    spec.footers.zipWithIndex.foreach { case (f, i) =>
      add(s"word/footer${i + 1}.xml", partXml("ftr", Vector(f)))
    }
    if (footnotesXml != null) add("word/footnotes.xml", footnotesXml)
    add("docProps/core.xml", coreXml)
    add("docProps/app.xml", appXml)
    zip.close()
    out.toByteArray
  }

  def xmlEsc(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c   => c.toString
    }
}
