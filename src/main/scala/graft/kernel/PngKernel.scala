package graft.kernel

import java.util.Locale

/** PNG/GIF header metadata (dimensions, bit depth): the image-format
  * breadth the reference gets from its Tika delegate (reference:
  * README.md:3-8 "any file type Tika supports"; JPEG's observable contract
  * pinned at spec/rika/parser_spec.rb:143-146 extends naturally). Metadata
  * keys mirror JpegKernel's ("Image Width" -> "N pixels") so downstream
  * lookups are format-agnostic.
  */
object PngKernel {

  /** IHDR is mandatory-first: signature(8) + len(4) + "IHDR" + width(4 BE)
    * + height(4 BE) + bitDepth(1) + colorType(1).
    */
  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 33) return Map.empty
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    if (!(bytes(12) == 'I' && bytes(13) == 'H' && bytes(14) == 'D' && bytes(15) == 'R'))
      return Map.empty
    val w = u32(16)
    val h = u32(20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return Map.empty
    val bitDepth = bytes(24) & 0xff
    val colorType = bytes(25) & 0xff
    val colorName = colorType match {
      case 0 => "Grayscale"
      case 2 => "True Color"
      case 3 => "Indexed Color"
      case 4 => "Grayscale with Alpha"
      case 6 => "True Color with Alpha"
      case _ => s"Unknown ($colorType)"
    }
    var meta = Map(
      "Image Width" -> s"$w pixels",
      "Image Height" -> s"$h pixels",
      "Bits Per Sample" -> bitDepth.toString,
      "Color Type" -> colorName)
    // ancillary chunks: tEXt key/value pairs (Tika surfaces these as
    // metadata), pHYs physical density, tIME last-modification
    var p = 8
    var texts = 0
    while (p + 12 <= bytes.length && texts < 32) { // bounded walk
      val len = u32(p)
      if (len < 0 || len > Int.MaxValue - 12 || p + 12 + len > bytes.length)
        p = bytes.length
      else {
        val typ = new String(bytes, p + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        typ match {
          case "tEXt" if len >= 2 && len <= 4096 =>
            val body = new String(bytes, p + 8, len.toInt,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val nul = body.indexOf(0.toChar) // NUL separates keyword/text
            if (nul > 0 && nul < 80) {
              meta += (s"png:${body.substring(0, nul)}" -> body.substring(nul + 1))
              texts += 1
            }
          case "pHYs" if len >= 9 =>
            val px = u32(p + 8)
            val py = u32(p + 12)
            val unit = bytes(p + 16) & 0xff
            if (unit == 1 && px > 0) { // metre -> dpi
              meta += ("X Resolution" -> "%.0f dots per inch".formatLocal(Locale.ROOT, px / 39.3701))
              meta += ("Y Resolution" -> "%.0f dots per inch".formatLocal(Locale.ROOT, py / 39.3701))
            }
          case "tIME" if len >= 7 =>
            val yr = ((bytes(p + 8) & 0xff) << 8) | (bytes(p + 9) & 0xff)
            val ts = "%04d-%02d-%02d %02d:%02d:%02d".formatLocal(Locale.ROOT, yr,
              bytes(p + 10) & 0xff, bytes(p + 11) & 0xff, bytes(p + 12) & 0xff,
              bytes(p + 13) & 0xff, bytes(p + 14) & 0xff)
            meta += ("Last Modified" -> ts)
          case "IEND" => p = bytes.length - 12 // stop
          case _      => ()
        }
        if (p < bytes.length) p += 12 + len.toInt
      }
    }
    meta
  }
}

object GifKernel {

  /** Logical screen descriptor: width/height as LE u16 at offsets 6/8. */
  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 10) return Map.empty
    def u16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    val w = u16(6)
    val h = u16(8)
    if (w <= 0 || h <= 0) return Map.empty
    Map(
      "Image Width" -> s"$w pixels",
      "Image Height" -> s"$h pixels",
      "Format Version" -> new String(bytes, 3, 3, java.nio.charset.StandardCharsets.US_ASCII))
  }
}
