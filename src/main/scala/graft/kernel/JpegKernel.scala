package graft.kernel

/** E6 - JPEG marker walk + EXIF (TIFF/IFD) metadata decode, from scratch.
  *
  * Observable reference contract: "Image Height"/"Image Width" =
  * "72 pixels" for the fixture (spec/rika/parser_spec.rb:214-217);
  * images may have no textual content
  * (spec/integration/document_processing_spec.rb:51-56).
  */
object JpegKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    var meta = Map.empty[String, String]
    var i = 2 // past SOI
    val n = bytes.length
    while (i + 3 < n) {
      if ((bytes(i) & 0xff) != 0xff) { i += 1 }
      else {
        val marker = bytes(i + 1) & 0xff
        if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
          i += 2
        } else if (marker == 0xda || marker == 0xd9) {
          i = n // start-of-scan / EOI: header region done
        } else {
          val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
          if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 &&
              marker != 0xc8 && marker != 0xcc && i + 8 < n) {
            val h = ((bytes(i + 5) & 0xff) << 8) | (bytes(i + 6) & 0xff)
            val w = ((bytes(i + 7) & 0xff) << 8) | (bytes(i + 8) & 0xff)
            meta += ("Image Height" -> s"$h pixels")
            meta += ("Image Width" -> s"$w pixels")
          } else if (marker == 0xe1 && isExifApp1(bytes, i + 4, n)) {
            meta ++= exif(bytes, i + 10, math.min(n, i + 2 + len))
          }
          i += 2 + len
        }
      }
    }
    meta
  }

  /** APP1 payload begins "Exif" NUL NUL. */
  private def isExifApp1(b: Array[Byte], p: Int, n: Int): Boolean =
    p + 6 <= n && b(p) == 'E'.toByte && b(p + 1) == 'x'.toByte &&
      b(p + 2) == 'i'.toByte && b(p + 3) == 'f'.toByte &&
      b(p + 4) == 0 && b(p + 5) == 0

  /** TIFF structure: header at `off`, bounded by `end`. Shared between
    * the JPEG APP1/EXIF path and standalone .tif files (TiffKernel).
    */
  private[kernel] def exif(b: Array[Byte], off: Int, end: Int): Map[String, String] = {
    if (off + 8 > end) return Map.empty
    val little = (b(off) & 0xff) == 0x49 && (b(off + 1) & 0xff) == 0x49
    val big    = (b(off) & 0xff) == 0x4d && (b(off + 1) & 0xff) == 0x4d
    if (!little && !big) return Map.empty
    def u16(p: Int): Int =
      if (little) (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (little) (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
      else ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

    val tagNames = Map(
      0x0100 -> "Image Width", 0x0101 -> "Image Height", // baseline TIFF dims
      0x010e -> "Image Description",
      0x010f -> "Make", 0x0110 -> "Model", 0x0112 -> "Orientation",
      0x0131 -> "Software",
      0x0132 -> "Date/Time", 0x013b -> "Artist", 0x8298 -> "Copyright",
      0x9003 -> "Date/Time Original", 0x9004 -> "Date/Time Digitized",
      0xa002 -> "Exif Image Width", 0xa003 -> "Exif Image Height")
    val pixelTags = Set(0x0100, 0x0101)
    // EXIF orientation values 1-8 (metadata-extractor-style labels)
    val orientations = Map(
      1 -> "Top, left side (Horizontal / normal)",
      2 -> "Top, right side (Mirror horizontal)",
      3 -> "Bottom, right side (Rotate 180)",
      4 -> "Bottom, left side (Mirror vertical)",
      5 -> "Left side, top (Mirror horizontal and rotate 270 CW)",
      6 -> "Right side, top (Rotate 90 CW)",
      7 -> "Right side, bottom (Mirror horizontal and rotate 90 CW)",
      8 -> "Left side, bottom (Rotate 270 CW)")

    var meta = Map.empty[String, String]
    /** One RATIONAL (2 x u32) at a value offset. */
    def rational(vOff: Int): Option[Double] =
      if (vOff >= 0 && vOff + 8 <= end) {
        val den = u32(vOff + 4)
        if (den != 0) Some(u32(vOff).toDouble / den) else Some(0.0)
      } else None

    def readIfd(ifdOff: Int): (Option[Int], Option[Int]) = {
      val p0 = off + ifdOff
      if (p0 < off || p0 + 2 > end) return (None, None)
      val count = u16(p0)
      var e = 0
      var exifIfd: Option[Int] = None
      var gpsIfd: Option[Int] = None
      while (e < count) {
        val p = p0 + 2 + e * 12
        if (p + 12 <= end) {
          val tag = u16(p); val typ = u16(p + 2); val cnt = u32(p + 4).toInt
          if (tag == 0x8769) exifIfd = Some(u32(p + 8).toInt)
          else if (tag == 0x8825) gpsIfd = Some(u32(p + 8).toInt)
          else tagNames.get(tag).foreach { name =>
            val value: Option[String] = typ match {
              case 2 => // ASCII, NUL-terminated
                val vOff = if (cnt <= 4) p + 8 else off + u32(p + 8).toInt
                if (vOff >= 0 && vOff + cnt <= end && cnt > 0)
                  Some(new String(b, vOff, cnt, "ISO-8859-1")
                    .takeWhile(_.toInt != 0))
                else None
              case 3 => Some(u16(p + 8).toString) // SHORT
              case 4 => Some(u32(p + 8).toString) // LONG
              case _ => None
            }
            value.filter(_.nonEmpty).foreach { v =>
              val rendered =
                if (tag == 0x0112)
                  v.toIntOption.flatMap(orientations.get).getOrElse(v)
                else if (pixelTags.contains(tag)) s"$v pixels"
                else v
              meta += (name -> rendered)
            }
          }
        }
        e += 1
      }
      (exifIfd, gpsIfd)
    }

    /** GPS IFD: latitude/longitude as deg/min/sec RATIONAL triplets +
      * N/S/E/W reference letters -> signed decimal degrees.
      */
    def readGps(ifdOff: Int): Unit = {
      val p0 = off + ifdOff
      if (p0 < off || p0 + 2 > end) return
      val count = u16(p0)
      var latRef = ""; var lonRef = ""
      var lat: Option[Double] = None
      var lon: Option[Double] = None
      var e = 0
      while (e < count) {
        val p = p0 + 2 + e * 12
        if (p + 12 <= end) {
          val tag = u16(p); val typ = u16(p + 2); val cnt = u32(p + 4).toInt
          def refLetter: String =
            if (typ == 2 && cnt <= 4) new String(b, p + 8, 1, "ISO-8859-1") else ""
          def dms: Option[Double] =
            if (typ == 5 && cnt == 3) {
              val vOff = off + u32(p + 8).toInt
              for {
                d <- rational(vOff)
                m <- rational(vOff + 8)
                s <- rational(vOff + 16)
              } yield d + m / 60.0 + s / 3600.0
            } else None
          tag match {
            case 0x0001 => latRef = refLetter
            case 0x0002 => lat = dms
            case 0x0003 => lonRef = refLetter
            case 0x0004 => lon = dms
            case _      => ()
          }
        }
        e += 1
      }
      lat.foreach { v =>
        val sign = if (latRef == "S") -1 else 1
        meta += ("GPS Latitude" -> "%.6f".formatLocal(java.util.Locale.ROOT, sign * v))
      }
      lon.foreach { v =>
        val sign = if (lonRef == "W") -1 else 1
        meta += ("GPS Longitude" -> "%.6f".formatLocal(java.util.Locale.ROOT, sign * v))
      }
    }

    val first = u32(off + 4).toInt
    val (exifSub, gpsSub) = readIfd(first)
    exifSub.foreach(sub => readIfd(sub))
    gpsSub.foreach(readGps)
    meta
  }
}
