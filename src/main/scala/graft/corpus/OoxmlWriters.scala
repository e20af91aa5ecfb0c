package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

/** Shared deterministic zip assembly for the OOXML corpus writers. */
private[corpus] object OoxmlZip {
  def build(entries: Seq[(String, String)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out)
    entries.zipWithIndex.foreach { case ((name, data), idx) =>
      val bytes = data.getBytes(StandardCharsets.UTF_8)
      val e = new ZipEntry(name)
      // fixed zone-free time => byte-deterministic
      e.setTimeLocal(LocalDateTime.of(2020, 7, 23, 17, 46, 39))
      if (idx == 0) {
        // STORED first entry so the magic-sniff front window sees names
        e.setMethod(ZipEntry.STORED)
        e.setSize(bytes.length)
        val crc = new CRC32(); crc.update(bytes)
        e.setCrc(crc.getValue)
      }
      zip.putNextEntry(e)
      zip.write(bytes)
      zip.closeEntry()
    }
    zip.close()
    out.toByteArray
  }

  def coreXml(title: String, creator: String): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
    "<cp:coreProperties xmlns:cp=\"http://schemas.openxmlformats.org/package/2006/metadata/core-properties\" " +
    "xmlns:dc=\"http://purl.org/dc/elements/1.1/\" xmlns:dcterms=\"http://purl.org/dc/terms/\">" +
    s"<dc:title>${DocxWriter.xmlEsc(title)}</dc:title><dc:creator>${DocxWriter.xmlEsc(creator)}</dc:creator>" +
    "<dcterms:created>2020-07-23T17:46:39Z</dcterms:created></cp:coreProperties>"
}

/** Deterministic XLSX writer: sharedStrings + one worksheet, exactly the
  * parts XlsxKernel consumes. String cells go through the shared-strings
  * table (t="s"); purely numeric cells are written inline (t omitted) so
  * both kernel paths are exercised.
  */
object XlsxWriter {

  final case class Spec(
      title: String,
      creator: String,
      rows: Vector[Vector[String]])

  private def isNum(s: String): Boolean =
    s.nonEmpty && s.matches("-?[0-9]+(\\.[0-9]+)?")

  /** Expected extracted content: rows as lines, cells tab-separated. */
  def expectedText(spec: Spec): String =
    spec.rows.filter(_.nonEmpty).map(_.mkString("\t")).mkString("\n")

  def write(spec: Spec): Array[Byte] = {
    val sharedList = spec.rows.flatten.filterNot(isNum).distinct
    val sharedIdx = sharedList.zipWithIndex.toMap
    val ssXml = {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
      sb.append("<sst xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\" ")
      sb.append(s"""count="${sharedList.size}" uniqueCount="${sharedList.size}">""")
      sharedList.foreach { s =>
        sb.append("<si><t xml:space=\"preserve\">").append(DocxWriter.xmlEsc(s)).append("</t></si>")
      }
      sb.append("</sst>")
      sb.toString
    }
    val sheetXml = {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
      sb.append("<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"><sheetData>")
      spec.rows.zipWithIndex.foreach { case (cells, ri) =>
        sb.append(s"""<row r="${ri + 1}">""")
        cells.zipWithIndex.foreach { case (c, ci) =>
          val ref = s"${colName(ci)}${ri + 1}"
          if (isNum(c))
            sb.append(s"""<c r="$ref"><v>$c</v></c>""")
          else
            sb.append(s"""<c r="$ref" t="s"><v>${sharedIdx(c)}</v></c>""")
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>")
      sb.toString
    }
    val workbook =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<workbook xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">" +
      "<sheets><sheet name=\"Sheet1\" sheetId=\"1\" r:id=\"rId1\" " +
      "xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\"/></sheets></workbook>"
    val contentTypes =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">" +
      "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
      "<Override PartName=\"/xl/workbook.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml\"/>" +
      "</Types>"
    val rels =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
      "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument\" Target=\"xl/workbook.xml\"/>" +
      "</Relationships>"
    OoxmlZip.build(Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels,
      "xl/workbook.xml" -> workbook,
      "xl/worksheets/sheet1.xml" -> sheetXml,
      "xl/sharedStrings.xml" -> ssXml, // after the sheet: buffering path
      "docProps/core.xml" -> OoxmlZip.coreXml(spec.title, spec.creator)))
  }

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString
    else ('A' + i / 26 - 1).toChar.toString + ('A' + i % 26).toChar.toString
}

/** Deterministic PPTX writer: N slides of a:p paragraphs, exactly the
  * parts PptxKernel consumes.
  */
object PptxWriter {

  final case class Spec(
      title: String,
      creator: String,
      slides: Vector[Vector[String]],
      // speaker notes: notes(i) follows slide i+1 as its own block
      // (empty string = no notes part for that slide)
      notes: Vector[String] = Vector.empty,
      // one optional drawingml table per slide (rows -> cells): rendered
      // after the slide's text, rows as tab-joined lines
      slideTables: Vector[Vector[Vector[String]]] = Vector.empty)

  /** Expected extracted content: slide paragraphs (then the slide's
    * table rows, cells tab-joined) joined by newline, slides separated
    * by a blank line; a slide's speaker notes follow it as their own
    * block.
    */
  def expectedText(spec: Spec): String =
    spec.slides.zipWithIndex.flatMap { case (s, i) =>
      val rows =
        if (i < spec.slideTables.length)
          spec.slideTables(i).map(_.mkString("\t"))
        else Vector.empty
      Vector((s ++ rows).filter(_.nonEmpty).mkString("\n")) ++
        (if (i < spec.notes.length && spec.notes(i).nonEmpty) Vector(spec.notes(i))
         else Vector.empty)
    }.filter(_.nonEmpty).mkString("\n\n")

  def write(spec: Spec): Array[Byte] = {
    def bodyXml(root: String, paras: Vector[String]): String = {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
      sb.append(s"<p:$root xmlns:a=\"http://schemas.openxmlformats.org/drawingml/2006/main\" ")
      sb.append("xmlns:p=\"http://schemas.openxmlformats.org/presentationml/2006/main\">")
      sb.append("<p:cSld><p:spTree><p:sp><p:txBody>")
      paras.foreach { p =>
        sb.append("<a:p><a:r><a:t>").append(DocxWriter.xmlEsc(p)).append("</a:t></a:r></a:p>")
      }
      sb.append(s"</p:txBody></p:sp></p:spTree></p:cSld></p:$root>")
      sb.toString
    }
    def slideXml(paras: Vector[String], table: Vector[Vector[String]]): String = {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
      sb.append("<p:sld xmlns:a=\"http://schemas.openxmlformats.org/drawingml/2006/main\" ")
      sb.append("xmlns:p=\"http://schemas.openxmlformats.org/presentationml/2006/main\">")
      sb.append("<p:cSld><p:spTree><p:sp><p:txBody>")
      paras.foreach { p =>
        sb.append("<a:p><a:r><a:t>").append(DocxWriter.xmlEsc(p)).append("</a:t></a:r></a:p>")
      }
      sb.append("</p:txBody></p:sp>")
      if (table.nonEmpty) {
        sb.append("<p:graphicFrame><a:graphic><a:graphicData><a:tbl>")
        table.foreach { cells =>
          sb.append("<a:tr>")
          cells.foreach { c =>
            sb.append("<a:tc><a:txBody><a:p><a:r><a:t>")
            sb.append(DocxWriter.xmlEsc(c))
            sb.append("</a:t></a:r></a:p></a:txBody></a:tc>")
          }
          sb.append("</a:tr>")
        }
        sb.append("</a:tbl></a:graphicData></a:graphic></p:graphicFrame>")
      }
      sb.append("</p:spTree></p:cSld></p:sld>")
      sb.toString
    }
    val contentTypes =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">" +
      "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
      "<Override PartName=\"/ppt/presentation.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml\"/>" +
      "</Types>"
    val rels =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
      "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument\" Target=\"ppt/presentation.xml\"/>" +
      "</Relationships>"
    val presentation =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<p:presentation xmlns:p=\"http://schemas.openxmlformats.org/presentationml/2006/main\"/>"
    val appXml =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
      "<Properties xmlns=\"http://schemas.openxmlformats.org/officeDocument/2006/extended-properties\">" +
      s"<Slides>${spec.slides.size}</Slides>" +
      "<Application>graft synthetic corpus</Application></Properties>"
    OoxmlZip.build(Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels,
      "ppt/presentation.xml" -> presentation) ++
      spec.slides.zipWithIndex.map { case (s, i) =>
        s"ppt/slides/slide${i + 1}.xml" -> slideXml(s,
          if (i < spec.slideTables.length) spec.slideTables(i) else Vector.empty)
      } ++
      spec.notes.zipWithIndex.collect { case (n, i) if n.nonEmpty =>
        s"ppt/notesSlides/notesSlide${i + 1}.xml" -> bodyXml("notes", Vector(n))
      } ++ Seq(
      "docProps/core.xml" -> OoxmlZip.coreXml(spec.title, spec.creator),
      "docProps/app.xml" -> appXml))
  }
}

/** Deterministic minimal-but-valid PNG writer: 8-bit grayscale, one IDAT
  * of filter-0 scanlines (content derived from (width, height, seed)).
  */
object PngWriter {

  final case class Spec(width: Int, height: Int, seed: Long)

  def write(spec: Spec): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def be32(v: Long): Array[Byte] = Array(
        ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      out.write(be32(data.length))
      val tb = typ.getBytes(StandardCharsets.US_ASCII)
      out.write(tb)
      out.write(data)
      val crc = new CRC32()
      crc.update(tb); crc.update(data)
      out.write(be32(crc.getValue))
    }
    val ihdr = new ByteArrayOutputStream()
    def be32b(v: Int): Unit = { ihdr.write(v >> 24); ihdr.write((v >> 16) & 0xff)
      ihdr.write((v >> 8) & 0xff); ihdr.write(v & 0xff) }
    be32b(spec.width); be32b(spec.height)
    ihdr.write(8) // bit depth
    ihdr.write(0) // color type: grayscale
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // compression/filter/interlace
    chunk("IHDR", ihdr.toByteArray)
    // scanlines: filter byte 0 + deterministic pixels
    val raw = new Array[Byte]((spec.width + 1) * spec.height)
    var x = spec.seed
    var i = 0
    for (y <- 0 until spec.height) {
      raw(i) = 0; i += 1
      for (_ <- 0 until spec.width) {
        x = x * 6364136223846793005L + 1442695040888963407L
        raw(i) = ((x >>> 33) & 0xff).toByte; i += 1
      }
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val packed = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) packed.write(buf, 0, d.deflate(buf))
    d.end()
    chunk("IDAT", packed.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
