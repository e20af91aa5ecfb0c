package graft.kernel

import java.util.Locale

/** Media-container kernels: WAV (RIFF), MP4 (ISO BMFF), BMP and WebP —
  * container metadata (dimensions, duration, sample rate) extracted here;
  * pixel/sample decode lives in PixelDecode/JpegDecoder/WebpDecode (real
  * from-scratch codecs for PNG/GIF/BMP/TIFF/JPEG/WAV/VP8L-entropy). The
  * remaining declared stubs are perceptual video codecs only (VP8-lossy,
  * H.264).
  */

object WavKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 44) return Map.empty
    def u16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    def u32(p: Int): Long =
      (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
    var meta = Map.empty[String, String]
    var byteRate = 0L
    var p = 12
    while (p + 8 <= bytes.length) {
      val id = new String(bytes, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = u32(p + 4)
      if (id == "fmt " && p + 24 <= bytes.length) {
        val channels = u16(p + 10)
        val sampleRate = u32(p + 12)
        byteRate = u32(p + 16)
        val bits = u16(p + 22)
        meta += ("channels" -> channels.toString)
        meta += ("xmpDM:audioSampleRate" -> sampleRate.toString)
        meta += ("bits" -> bits.toString)
      } else if (id == "data" && byteRate > 0) {
        meta += ("xmpDM:duration" -> "%.3f".formatLocal(Locale.ROOT, size.toDouble / byteRate))
      }
      val advance = size + (size & 1) // chunks are word-aligned
      // Bound-check in Long: a u32 size like 0xFFFFFFF8 truncates to a
      // negative Int, which would make the step <= 0 and spin forever.
      if (advance <= 0 || p.toLong + 8 + advance > bytes.length) p = bytes.length
      else p += 8 + advance.toInt
    }
    if (meta.nonEmpty) meta += ("xmpDM:audioCompressor" -> "PCM")
    meta
  }
}

object BmpKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 26) return Map.empty
    def i32(p: Int): Int =
      (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
        ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
    val dib = i32(14)
    if (dib >= 40 && bytes.length >= 14 + 12) {
      val w = i32(18)
      val h = math.abs(i32(22)) // negative height = top-down rows
      Map("Image Width" -> s"$w pixels", "Image Height" -> s"$h pixels")
    } else if (dib == 12 && bytes.length >= 22) { // BITMAPCOREHEADER: u16 dims
      val w = (bytes(18) & 0xff) | ((bytes(19) & 0xff) << 8)
      val h = (bytes(20) & 0xff) | ((bytes(21) & 0xff) << 8)
      Map("Image Width" -> s"$w pixels", "Image Height" -> s"$h pixels")
    } else Map.empty
  }
}

object WebpKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 30) return Map.empty
    val fourcc = new String(bytes, 12, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def dims(w: Int, h: Int) =
      Map("Image Width" -> s"$w pixels", "Image Height" -> s"$h pixels")
    fourcc match {
      case "VP8L" => // lossless: sig byte 0x2F + 14-bit w-1, 14-bit h-1
        if ((bytes(20) & 0xff) != 0x2f) Map.empty
        else {
          val b = (k: Int) => bytes(21 + k) & 0xff
          val w = 1 + (b(0) | ((b(1) & 0x3f) << 8))
          val h = 1 + ((b(1) >> 6) | (b(2) << 2) | ((b(3) & 0x0f) << 10))
          dims(w, h)
        }
      case "VP8 " => // lossy keyframe: 3-byte tag + 9d 01 2a + u14 dims
        if (bytes.length < 30 ||
            (bytes(23) & 0xff) != 0x9d || (bytes(24) & 0xff) != 0x01 ||
            (bytes(25) & 0xff) != 0x2a) Map.empty
        else {
          val w = ((bytes(26) & 0xff) | ((bytes(27) & 0xff) << 8)) & 0x3fff
          val h = ((bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)) & 0x3fff
          dims(w, h)
        }
      case "VP8X" => // extended: 24-bit canvas minus-one at +24
        val w = 1 + ((bytes(24) & 0xff) | ((bytes(25) & 0xff) << 8) | ((bytes(26) & 0xff) << 16))
        val h = 1 + ((bytes(27) & 0xff) | ((bytes(28) & 0xff) << 8) | ((bytes(29) & 0xff) << 16))
        dims(w, h)
      case _ => Map.empty
    }
  }
}

/** ISO BMFF (MP4/MOV): big-endian box walk — ftyp major brand, moov/mvhd
  * timescale+duration, trak/tkhd track dimensions (16.16 fixed point).
  */
object Mp4Kernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    var meta = Map.empty[String, String]
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    def u64(p: Int): Long = (u32(p) << 32) | u32(p + 4)

    def walk(start: Long, limit: Long, depth: Int): Unit = {
      if (depth > 8) return
      var p = start
      while (p + 8 <= limit) {
        var size = u32(p.toInt)
        val typ = new String(bytes, p.toInt + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        var hdr = 8L
        if (size == 1 && p + 16 <= limit) { size = u64(p.toInt + 8); hdr = 16L }
        else if (size == 0) size = limit - p // box extends to end
        if (size < hdr || p + size > limit) return
        val body = p + hdr
        typ match {
          case "ftyp" if size >= hdr + 4 =>
            meta += ("major_brand" ->
              new String(bytes, body.toInt, 4, java.nio.charset.StandardCharsets.ISO_8859_1))
          case "moov" | "trak" | "mdia" | "udta" => walk(body, p + size, depth + 1)
          case "meta" if size >= hdr + 4 =>
            walk(body + 4, p + size, depth + 1) // meta is a FULL box
          case "ilst" =>
            // iTunes-style tag list: each child is a 4cc box wrapping a
            // "data" box (type 1 = UTF-8 text at offset 16)
            var q = body
            while (q + 8 <= p + size) {
              val isz = u32(q.toInt)
              if (isz < 8 || q + isz > p + size) { q = p + size }
              else {
                val key = new String(bytes, q.toInt + 4, 4,
                  java.nio.charset.StandardCharsets.ISO_8859_1)
                val mapped = key match {
                  case "©nam" => "dc:title"
                  case "©ART" => "xmpDM:artist"
                  case "©alb" => "xmpDM:album"
                  case "©day" => "xmpDM:releaseDate"
                  case "©gen" => "xmpDM:genre"
                  case _           => null
                }
                if (mapped != null && q + 8 + 16 <= p + size) {
                  val dsz = u32(q.toInt + 8)
                  val dtyp = new String(bytes, q.toInt + 12, 4,
                    java.nio.charset.StandardCharsets.ISO_8859_1)
                  val dflags = u32(q.toInt + 16)
                  if (dtyp == "data" && (dflags & 0xff) == 1 && dsz >= 16 &&
                    q + 8 + dsz <= p + size) {
                    val v = new String(bytes, q.toInt + 24, (dsz - 16).toInt,
                      java.nio.charset.StandardCharsets.UTF_8)
                    if (v.nonEmpty && !meta.contains(mapped)) meta += (mapped -> v)
                  }
                }
                q += isz
              }
            }
          case "mvhd" if size >= hdr + 20 =>
            val version = bytes(body.toInt) & 0xff
            val (timescale, duration) =
              if (version == 1 && size >= hdr + 28)
                (u32(body.toInt + 20), u64(body.toInt + 24))
              else (u32(body.toInt + 12), u32(body.toInt + 16))
            if (timescale > 0)
              meta += ("xmpDM:duration" -> "%.3f".formatLocal(Locale.ROOT, duration.toDouble / timescale))
          case "tkhd" if size >= hdr + 84 =>
            // v0 layout: width/height are the LAST 8 bytes, 16.16 fixed
            val e = (p + size).toInt
            val w = u32(e - 8) >> 16
            val h = u32(e - 4) >> 16
            if (w > 0 && h > 0) {
              meta += ("Image Width" -> s"$w pixels")
              meta += ("Image Height" -> s"$h pixels")
            }
          case _ => ()
        }
        p += size
      }
    }
    try walk(0L, bytes.length.toLong, 0)
    catch { case _: ArrayIndexOutOfBoundsException => () }
    meta
  }

  /** Duration in milliseconds, for time-based frame sampling. */
  def durationMs(bytes: Array[Byte]): Long =
    extract(bytes).get("xmpDM:duration")
      .flatMap(_.toDoubleOption).map(d => (d * 1000).toLong).getOrElse(-1L)

  /** One indexed media sample: real decode timestamp (media timescale ->
    * ms), absolute file offset, byte size, sync-sample flag.
    */
  final case class Mp4Sample(tsMs: Long, offset: Long, size: Int, keyframe: Boolean)

  /** Parse the first video/media track's sample tables (ISO 14496-12
    * stbl: stts decode deltas, stsc sample-to-chunk, stsz sizes, stco
    * chunk offsets, stss sync samples) into per-sample rows. This is the
    * frame INDEX of an MP4 — per-frame timestamps/offsets/keyframes are
    * pure box arithmetic, no codec needed. None when any table is
    * missing, inconsistent, or absurdly sized (adversarial caps).
    */
  def sampleTable(bytes: Array[Byte]): Option[Array[Mp4Sample]] = {
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    def u64(p: Int): Long = (u32(p) << 32) | u32(p + 4)
    val MaxEntries = 1 << 20 // adversarial cap: 1M samples/chunks per file

    var mdhdTimescale = 0L
    var stts: Array[(Long, Long)] = null   // (count, delta) runs
    var stsc: Array[(Long, Long)] = null   // (first_chunk, samples_per_chunk)
    var stsz: Array[Int] = null            // per-sample sizes
    var stszUniform = -1L                  // uniform size when sample_size != 0
    var stszCount = 0L
    var stco: Array[Long] = null           // chunk offsets
    var stss: Array[Long] = null           // 1-based sync sample numbers
    var found = false                      // first complete stbl wins

    def walk(start: Long, limit: Long, depth: Int): Unit = {
      if (depth > 8 || found) return
      var p = start
      while (p + 8 <= limit && !found) {
        var size = u32(p.toInt)
        val typ = new String(bytes, p.toInt + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        var hdr = 8L
        if (size == 1 && p + 16 <= limit) { size = u64(p.toInt + 8); hdr = 16L }
        else if (size == 0) size = limit - p
        if (size < hdr || p + size > limit) return
        val body = (p + hdr).toInt
        val end = p + size
        typ match {
          case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
            walk(body.toLong, end, depth + 1)
            if (typ == "trak" && stts != null && stsc != null &&
                (stsz != null || stszUniform >= 0) && stco != null &&
                mdhdTimescale > 0) found = true
            else if (typ == "trak" && !found) {
              // incomplete track: reset and try the next one
              stts = null; stsc = null; stsz = null; stszUniform = -1L
              stco = null; stss = null; mdhdTimescale = 0L
            }
          case "mdhd" if size >= hdr + 16 =>
            val version = bytes(body) & 0xff
            mdhdTimescale =
              if (version == 1 && size >= hdr + 24) u32(body + 20) else u32(body + 12)
          case "stts" if size >= hdr + 8 =>
            val n = u32(body + 4)
            if (n >= 0 && n <= MaxEntries && hdr + 8 + n * 8 <= size) {
              stts = Array.tabulate(n.toInt)(i =>
                (u32(body + 8 + i * 8), u32(body + 12 + i * 8)))
            }
          case "stsc" if size >= hdr + 8 =>
            val n = u32(body + 4)
            if (n >= 0 && n <= MaxEntries && hdr + 8 + n * 12 <= size) {
              stsc = Array.tabulate(n.toInt)(i =>
                (u32(body + 8 + i * 12), u32(body + 12 + i * 12)))
            }
          case "stsz" if size >= hdr + 12 =>
            val uniform = u32(body + 4)
            val n = u32(body + 8)
            stszCount = n
            if (uniform != 0) stszUniform = uniform
            else if (n >= 0 && n <= MaxEntries && hdr + 12 + n * 4 <= size)
              stsz = Array.tabulate(n.toInt)(i => u32(body + 12 + i * 4).toInt)
          case "stco" if size >= hdr + 8 =>
            val n = u32(body + 4)
            if (n >= 0 && n <= MaxEntries && hdr + 8 + n * 4 <= size)
              stco = Array.tabulate(n.toInt)(i => u32(body + 8 + i * 4))
          case "co64" if size >= hdr + 8 =>
            val n = u32(body + 4)
            if (n >= 0 && n <= MaxEntries && hdr + 8 + n * 8 <= size)
              stco = Array.tabulate(n.toInt)(i => u64(body + 8 + i * 8))
          case "stss" if size >= hdr + 8 =>
            val n = u32(body + 4)
            if (n >= 0 && n <= MaxEntries && hdr + 8 + n * 4 <= size)
              stss = Array.tabulate(n.toInt)(i => u32(body + 8 + i * 4))
          case _ => ()
        }
        p = end
      }
    }

    try {
      walk(0L, bytes.length.toLong, 0)
      if (!found) return None
      val nSamples = if (stsz != null) stsz.length.toLong else stszCount
      if (nSamples <= 0 || nSamples > MaxEntries) return None
      if (stts.map(_._1).sum != nSamples) return None
      // expand stts runs -> cumulative decode time per sample
      val ts = new Array[Long](nSamples.toInt)
      var si = 0
      var t = 0L
      stts.foreach { case (cnt, delta) =>
        var c = 0L
        while (c < cnt && si < nSamples) {
          ts(si) = t * 1000 / mdhdTimescale
          t += delta
          si += 1
          c += 1
        }
      }
      // a co64 box can encode a negative Long offset (high bit set);
      // such a table is garbage — degrade to the block fallback rather
      // than hand consumers out-of-range offsets (never-throw contract)
      if (stco.exists(_ < 0)) return None
      // expand stsc: samples-per-chunk for each chunk 1..stco.length
      val nChunks = stco.length
      if (nChunks == 0 || stsc.isEmpty || stsc.head._1 != 1) return None
      val spc = new Array[Long](nChunks)
      var e = 0
      var chunk = 1
      while (chunk <= nChunks) {
        while (e + 1 < stsc.length && stsc(e + 1)._1 <= chunk) e += 1
        spc(chunk - 1) = stsc(e)._2
        chunk += 1
      }
      if (spc.sum != nSamples) return None
      val sync: java.util.Set[Long] =
        if (stss == null) null
        else { val s = new java.util.HashSet[Long](); stss.foreach(s.add); s }
      val out = new Array[Mp4Sample](nSamples.toInt)
      var idx = 0
      var ci = 0
      while (ci < nChunks) {
        var off = stco(ci)
        var k = 0L
        while (k < spc(ci) && idx < nSamples) {
          val sz = if (stsz != null) stsz(idx) else stszUniform.toInt
          if (sz < 0) return None
          val key = sync == null || sync.contains(idx + 1L)
          out(idx) = Mp4Sample(ts(idx), off, sz, key)
          off += sz
          idx += 1
          k += 1
        }
        ci += 1
      }
      Some(out)
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None
    }
  }
}

/** HEIF-family still images (HEIC = HEVC payload, AVIF = AV1 payload):
  * ISO-BMFF box walk to the ispe (image spatial extents) property —
  * meta is a FULLBOX (4 version/flags bytes before children), then
  * iprp/ipco/ispe. The coded payload stays the declared perceptual
  * stub (HEVC/AV1 decoders are out of from-scratch scope); dimensions
  * and brand metadata are real, same contract as the other containers.
  */
object HeifKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    var meta = Map.empty[String, String]
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    def u64(p: Int): Long = (u32(p) << 32) | u32(p + 4)

    def walk(start: Long, limit: Long, depth: Int): Unit = {
      if (depth > 8) return
      var p = start
      while (p + 8 <= limit) {
        var size = u32(p.toInt)
        val typ = new String(bytes, p.toInt + 4, 4,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        var hdr = 8L
        if (size == 1 && p + 16 <= limit) { size = u64(p.toInt + 8); hdr = 16L }
        else if (size == 0) size = limit - p
        if (size < hdr || p + size > limit) return
        val body = p + hdr
        typ match {
          case "ftyp" if size >= hdr + 4 =>
            meta += ("major_brand" -> new String(bytes, body.toInt, 4,
              java.nio.charset.StandardCharsets.ISO_8859_1))
          case "meta" => walk(body + 4, p + size, depth + 1) // FULLBOX
          case "iprp" | "ipco" => walk(body, p + size, depth + 1)
          case "ispe" if size >= hdr + 12 =>
            val w = u32(body.toInt + 4)
            val h = u32(body.toInt + 8)
            // first ispe wins (the primary item's property in practice)
            if (w > 0 && h > 0 && !meta.contains("Image Width")) {
              meta += ("Image Width" -> s"$w pixels")
              meta += ("Image Height" -> s"$h pixels")
            }
          case _ => ()
        }
        p += size
      }
    }
    try walk(0L, bytes.length.toLong, 0)
    catch { case _: ArrayIndexOutOfBoundsException => () }
    meta
  }
}

/** Ogg container: first-page Vorbis/Opus identification header ->
  * channels + sample rate (the audio facts; comments/frames stay opaque).
  */
object OggKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 58 || bytes(0) != 'O' || bytes(1) != 'g' ||
        bytes(2) != 'g' || bytes(3) != 'S') return Map.empty
    // page header: version(1) type(1) granule(8) serial(4) seq(4) crc(4)
    // nSegs(1) segtable(nSegs) payload
    val nSegs = bytes(26) & 0xff
    val payload = 27 + nSegs
    if (payload + 16 > bytes.length) return Map.empty
    def u32le(p: Int): Long =
      (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
    // last page's granule position = total samples -> exact duration
    // (Vorbis counts at the stream rate; Opus granules are always 48 kHz)
    def lastGranule: Long = {
      var q = bytes.length - 27
      while (q >= 0) {
        // "OggS" can occur inside payload bytes; require the version
        // byte (0) and a sane header-type flag field too, like real
        // demuxers do before trusting a capture pattern
        if (bytes(q) == 'O' && bytes(q + 1) == 'g' && bytes(q + 2) == 'g' &&
            bytes(q + 3) == 'S' && bytes(q + 4) == 0 &&
            (bytes(q + 5) & 0xf8) == 0) {
          var g = 0L
          var i = 7
          while (i >= 0) { g = (g << 8) | (bytes(q + 6 + i) & 0xffL); i -= 1 }
          return g
        }
        q -= 1
      }
      0L
    }
    def withDuration(m: Map[String, String], rate: Long): Map[String, String] = {
      val g = lastGranule
      if (g > 0 && rate > 0 && g < (1L << 48))
        m + ("xmpDM:duration" -> "%.3f".formatLocal(Locale.ROOT, g.toDouble / rate))
      else m
    }
    // Vorbis: 0x01 "vorbis" version(4) channels(1) rate(4 LE) ...
    if ((bytes(payload) & 0xff) == 1 && payload + 16 <= bytes.length &&
        new String(bytes, payload + 1, 6, java.nio.charset.StandardCharsets.US_ASCII) == "vorbis") {
      val channels = bytes(payload + 11) & 0xff
      val rate = u32le(payload + 12)
      if (channels < 1 || rate <= 0) return Map.empty
      withDuration(Map("xmpDM:audioSampleRate" -> rate.toString,
        "channels" -> channels.toString,
        "xmpDM:audioCompressor" -> "Vorbis"), rate)
    } else if (payload + 19 <= bytes.length &&
        new String(bytes, payload, 8, java.nio.charset.StandardCharsets.US_ASCII) == "OpusHead") {
      // OpusHead: version(1) channels(1) preskip(2) inputRate(4 LE)
      val channels = bytes(payload + 9) & 0xff
      val rate = u32le(payload + 12)
      if (channels < 1 || rate <= 0) return Map.empty
      withDuration(Map("xmpDM:audioSampleRate" -> rate.toString,
        "channels" -> channels.toString,
        "xmpDM:audioCompressor" -> "Opus"), 48000L)
    } else Map.empty
  }
}

/** ICO: ICONDIR entries -> largest icon dims + image count. */
object IcoKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 22 || bytes(0) != 0 || bytes(1) != 0 ||
        bytes(2) != 1 || bytes(3) != 0) return Map.empty
    val n = (bytes(4) & 0xff) | ((bytes(5) & 0xff) << 8)
    if (n < 1 || n > 64 || 6 + n * 16 > bytes.length) return Map.empty
    var bw = 0; var bh = 0
    var i = 0
    while (i < n) {
      val e = 6 + i * 16
      val w = { val v = bytes(e) & 0xff; if (v == 0) 256 else v }
      val h = { val v = bytes(e + 1) & 0xff; if (v == 0) 256 else v }
      if (w.toLong * h > bw.toLong * bh) { bw = w; bh = h }
      i += 1
    }
    Map("Image Width" -> s"$bw pixels", "Image Height" -> s"$bh pixels",
      "Image Count" -> n.toString)
  }
}

/** PSD: file-header dims, channels, depth and color mode. */
object PsdKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 26 || bytes(0) != '8' || bytes(1) != 'B' ||
        bytes(2) != 'P' || bytes(3) != 'S') return Map.empty
    def u16(p: Int): Int = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    if (u16(4) != 1) return Map.empty // version
    val channels = u16(12)
    val h = u32(14); val w = u32(18)
    val depth = u16(22)
    val mode = u16(24)
    if (w <= 0 || h <= 0 || w > 300000 || h > 300000) return Map.empty
    val modeName = mode match {
      case 0 => "Bitmap"; case 1 => "Grayscale"; case 2 => "Indexed"
      case 3 => "RGB"; case 4 => "CMYK"; case 7 => "Multichannel"
      case 8 => "Duotone"; case 9 => "Lab"; case other => s"Unknown ($other)"
    }
    Map("Image Width" -> s"$w pixels", "Image Height" -> s"$h pixels",
      "Bits Per Sample" -> depth.toString, "channels" -> channels.toString,
      "Color Mode" -> modeName)
  }
}

/** MIDI: MThd header -> format / track count / division. */
object MidiKernel {

  def extract(bytes: Array[Byte]): Map[String, String] = {
    if (bytes.length < 14 || bytes(0) != 'M' || bytes(1) != 'T' ||
        bytes(2) != 'h' || bytes(3) != 'd') return Map.empty
    def u16(p: Int): Int = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    val len = ((bytes(4) & 0xff) << 24) | ((bytes(5) & 0xff) << 16) |
      ((bytes(6) & 0xff) << 8) | (bytes(7) & 0xff)
    if (len < 6) return Map.empty
    val format = u16(8)
    val ntrks = u16(10)
    val division = u16(12)
    if (format > 2 || ntrks < 1) return Map.empty
    Map("midi:format" -> format.toString, "midi:tracks" -> ntrks.toString,
      "midi:division" -> division.toString)
  }
}
