package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.Locale

/** Deterministic media-container writers (WAV / MP4 / BMP / WebP-VP8L)
  * with analytically-known metadata, for the multimodal typed-metadata
  * contract.
  */

object WavWriter {

  final case class Spec(sampleRate: Int, channels: Int, millis: Int)

  def write(spec: Spec): Array[Byte] = {
    val bits = 16
    val byteRate = spec.sampleRate * spec.channels * bits / 8
    val dataLen = (byteRate.toLong * spec.millis / 1000).toInt
    val out = new ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = { u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt) }
    out.write("RIFF".getBytes(StandardCharsets.US_ASCII)); u32(36L + dataLen)
    out.write("WAVE".getBytes(StandardCharsets.US_ASCII))
    out.write("fmt ".getBytes(StandardCharsets.US_ASCII)); u32(16L)
    u16(1); u16(spec.channels); u32(spec.sampleRate.toLong); u32(byteRate.toLong)
    u16(spec.channels * bits / 8); u16(bits)
    out.write("data".getBytes(StandardCharsets.US_ASCII)); u32(dataLen.toLong)
    var x = (spec.sampleRate * 31L) ^ spec.millis
    val emit = math.min(dataLen, 2048) // header metadata is what matters
    for (_ <- 0 until emit) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write(((x >>> 33) & 0xff).toInt)
    }
    out.toByteArray
  }
}

object BmpWriter {

  final case class Spec(width: Int, height: Int)

  def write(spec: Spec): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16((v >> 16) & 0xffff) }
    val pixels = math.min(256, spec.width * spec.height * 3)
    out.write('B'); out.write('M')
    u32(54 + pixels); u32(0); u32(54)
    u32(40); u32(spec.width); u32(spec.height)
    u16(1); u16(24); u32(0); u32(pixels); u32(2835); u32(2835); u32(0); u32(0)
    var x = (spec.width * 17L) ^ (spec.height * 43L)
    for (_ <- 0 until pixels) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write(((x >>> 33) & 0xff).toInt)
    }
    out.toByteArray
  }
}

object WebpWriter {

  final case class Spec(width: Int, height: Int) {
    require(width >= 1 && width <= 0x4000 && height >= 1 && height <= 0x4000)
  }

  /** Lossless (VP8L) header: 0x2F signature + 14-bit w-1 / h-1 packing. */
  def write(spec: Spec): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    val noise = 64
    val chunkLen = 1 + 4 + noise
    out.write("RIFF".getBytes(StandardCharsets.US_ASCII))
    u32(4 + 8 + chunkLen + (chunkLen & 1))
    out.write("WEBP".getBytes(StandardCharsets.US_ASCII))
    out.write("VP8L".getBytes(StandardCharsets.US_ASCII))
    u32(chunkLen)
    out.write(0x2f)
    val packed = (spec.width - 1) | ((spec.height - 1) << 14)
    u32(packed) // top 4 bits: version 0
    var x = (spec.width * 7L) ^ (spec.height * 11L)
    for (_ <- 0 until noise) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write(((x >>> 33) & 0xff).toInt)
    }
    if ((chunkLen & 1) == 1) out.write(0)
    out.toByteArray
  }
}

object Mp4Writer {

  /** Legacy fields give the moov/mvhd/tkhd metadata shape; when
    * `sampleDeltas` is non-empty a full media track is emitted —
    * mdia(mdhd, minf(stbl(stsd/stts/stsc/stsz/stco[/stss]))) with REAL
    * absolute chunk offsets into an mdat that carries the sample bytes —
    * the analytic oracle for Mp4Kernel.sampleTable.
    *
    * @param mediaTimescale units/sec for sampleDeltas (mdhd timescale)
    * @param sampleDeltas   per-sample stts decode deltas (run-length
    *                       compressed on write); may be non-uniform
    * @param sampleSizes    per-sample byte sizes (stsz); same length
    * @param samplesPerChunk chunk layout; sum must equal nSamples
    * @param keyframes      1-based sync sample numbers (stss); Nil = no
    *                       stss box = every sample is sync
    */
  final case class Spec(brand: String, timescale: Int, durationUnits: Long,
      width: Int, height: Int,
      mediaTimescale: Int = 0,
      sampleDeltas: Seq[Int] = Nil,
      sampleSizes: Seq[Int] = Nil,
      samplesPerChunk: Seq[Int] = Nil,
      keyframes: Seq[Int] = Nil,
      // iTunes-style moov/udta/meta/ilst tags: 4cc (e.g. "©nam") -> UTF-8
      // value; Mp4Kernel maps the common five onto dc:/xmpDM: keys
      tags: Vector[(String, String)] = Vector.empty)

  def write(spec: Spec): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val size = 8 + body.length
      out.write((size >> 24) & 0xff); out.write((size >> 16) & 0xff)
      out.write((size >> 8) & 0xff); out.write(size & 0xff)
      // ISO_8859_1: tag 4ccs use the 0xA9 copyright byte
      out.write(typ.getBytes(StandardCharsets.ISO_8859_1))
      out.write(body)
      out.toByteArray
    }
    // moov/udta/meta(hdlr mdir + ilst): each tag is a 4cc box wrapping a
    // "data" full box (type 1 = UTF-8 text, locale 0)
    val udta: Array[Byte] =
      if (spec.tags.isEmpty) Array.emptyByteArray
      else {
        val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0) ++
          Array[Byte](0, 0, 0, 0) ++
          "mdirappl".getBytes(StandardCharsets.ISO_8859_1) ++
          new Array[Byte](9))
        val ilst = box("ilst", spec.tags.map { case (k, v) =>
          box(k.take(4).padTo(4, ' '), box("data",
            Array[Byte](0, 0, 0, 1) ++ Array[Byte](0, 0, 0, 0) ++
              v.getBytes(StandardCharsets.UTF_8)))
        }.reduce(_ ++ _))
        box("udta", box("meta", Array[Byte](0, 0, 0, 0) ++ hdlr ++ ilst))
      }
    def u32be(out: ByteArrayOutputStream, v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    val ftyp = {
      val b = new ByteArrayOutputStream()
      b.write(spec.brand.take(4).padTo(4, ' ').getBytes(StandardCharsets.US_ASCII))
      u32be(b, 0L)
      box("ftyp", b.toByteArray)
    }
    val mvhd = {
      val b = new ByteArrayOutputStream()
      u32be(b, 0L)                       // version+flags
      u32be(b, 0L); u32be(b, 0L)         // ctime, mtime
      u32be(b, spec.timescale.toLong)
      u32be(b, spec.durationUnits)
      u32be(b, 0x00010000L)              // rate 1.0
      b.write(1); b.write(0)             // volume 1.0
      for (_ <- 0 until 10) b.write(0)   // reserved
      val matrix = Array(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
      matrix.foreach(u32be(b, _))
      for (_ <- 0 until 6) u32be(b, 0L)  // pre_defined
      u32be(b, 2L)                       // next_track_ID
      box("mvhd", b.toByteArray)
    }
    val tkhd = {
      val b = new ByteArrayOutputStream()
      u32be(b, 0L); u32be(b, 0L); u32be(b, 0L) // version+flags, ctime, mtime
      u32be(b, 1L)                       // track id
      u32be(b, 0L)                       // reserved
      u32be(b, spec.durationUnits)
      u32be(b, 0L); u32be(b, 0L)         // reserved
      b.write(0); b.write(0); b.write(0); b.write(0) // layer, alt group
      b.write(0); b.write(0); b.write(0); b.write(0) // volume, reserved
      val matrix = Array(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
      matrix.foreach(u32be(b, _))
      u32be(b, spec.width.toLong << 16)  // 16.16 fixed
      u32be(b, spec.height.toLong << 16)
      box("tkhd", b.toByteArray)
    }
    if (spec.sampleDeltas.isEmpty) {
      // legacy metadata-only shape: moov(mvhd, trak(tkhd)) + opaque mdat
      val moov = box("moov", mvhd ++ box("trak", tkhd) ++ udta)
      val mdat = {
        val b = new ByteArrayOutputStream()
        var x = (spec.timescale * 13L) ^ spec.durationUnits
        for (_ <- 0 until 512) {
          x = x * 6364136223846793005L + 1442695040888963407L
          b.write(((x >>> 33) & 0xff).toInt)
        }
        box("mdat", b.toByteArray)
      }
      return ftyp ++ moov ++ mdat
    }

    val n = spec.sampleDeltas.length
    require(spec.sampleSizes.length == n, "sizes must match deltas")
    require(spec.samplesPerChunk.sum == n, "chunk layout must cover samples")

    // deterministic sample payload bytes, concatenated in chunk order
    val sampleBytes: IndexedSeq[Array[Byte]] = (0 until n).map { i =>
      val a = new Array[Byte](spec.sampleSizes(i))
      var x = (spec.timescale * 31L) ^ (i * 0x9E3779B97F4A7C15L)
      var j = 0
      while (j < a.length) {
        x = x * 6364136223846793005L + 1442695040888963407L
        a(j) = ((x >>> 33) & 0xff).toByte
        j += 1
      }
      a
    }

    def fullBox(typ: String, body: Array[Byte]): Array[Byte] =
      box(typ, Array[Byte](0, 0, 0, 0) ++ body) // version 0 + flags 0

    val mdhd = {
      val b = new ByteArrayOutputStream()
      u32be(b, 0L); u32be(b, 0L) // ctime, mtime
      u32be(b, spec.mediaTimescale.toLong)
      u32be(b, spec.sampleDeltas.map(_.toLong).sum)
      b.write(0x55); b.write(0xc4) // language "und"
      b.write(0); b.write(0)       // pre_defined
      fullBox("mdhd", b.toByteArray)
    }
    val stts = {
      // run-length compress consecutive equal deltas
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      spec.sampleDeltas.foreach { d =>
        if (runs.nonEmpty && runs.last._2 == d)
          runs(runs.length - 1) = (runs.last._1 + 1, d)
        else runs += ((1, d))
      }
      val b = new ByteArrayOutputStream()
      u32be(b, runs.length.toLong)
      runs.foreach { case (c, d) => u32be(b, c.toLong); u32be(b, d.toLong) }
      fullBox("stts", b.toByteArray)
    }
    val stsc = {
      // compress runs of equal samples-per-chunk into (first_chunk, spc, 1)
      val entries = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      spec.samplesPerChunk.zipWithIndex.foreach { case (spc, ci) =>
        if (entries.isEmpty || entries.last._2 != spc) entries += ((ci + 1, spc))
      }
      val b = new ByteArrayOutputStream()
      u32be(b, entries.length.toLong)
      entries.foreach { case (fc, spc) =>
        u32be(b, fc.toLong); u32be(b, spc.toLong); u32be(b, 1L)
      }
      fullBox("stsc", b.toByteArray)
    }
    val stsz = {
      val b = new ByteArrayOutputStream()
      u32be(b, 0L) // sample_size 0 = per-sample table
      u32be(b, n.toLong)
      spec.sampleSizes.foreach(s => u32be(b, s.toLong))
      fullBox("stsz", b.toByteArray)
    }
    val stssOpt =
      if (spec.keyframes.isEmpty) Array.emptyByteArray
      else {
        val b = new ByteArrayOutputStream()
        u32be(b, spec.keyframes.length.toLong)
        spec.keyframes.foreach(k => u32be(b, k.toLong))
        fullBox("stss", b.toByteArray)
      }
    val stsd = { // minimal: one opaque sample entry
      val b = new ByteArrayOutputStream()
      u32be(b, 1L)
      val entry = new ByteArrayOutputStream()
      for (_ <- 0 until 6) entry.write(0) // reserved
      entry.write(0); entry.write(1)      // data_reference_index
      b.write(box("gnrc", entry.toByteArray))
      fullBox("stsd", b.toByteArray)
    }

    def stcoBox(offsets: Seq[Long]): Array[Byte] = {
      val b = new ByteArrayOutputStream()
      u32be(b, offsets.length.toLong)
      offsets.foreach(u32be(b, _))
      fullBox("stco", b.toByteArray)
    }

    def moovFor(offsets: Seq[Long]): Array[Byte] = {
      val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stcoBox(offsets) ++ stssOpt)
      val minf = box("minf", stbl)
      val mdia = box("mdia", mdhd ++ minf)
      box("moov", mvhd ++ box("trak", tkhd ++ mdia) ++ udta)
    }

    // two-phase: stco size is offset-value independent (fixed u32 each),
    // so build with zeros to learn the mdat start, then fill real offsets
    val nChunks = spec.samplesPerChunk.length
    val moovLen = moovFor(Seq.fill(nChunks)(0L)).length
    val mdatStart = ftyp.length + moovLen + 8 // +8 = mdat box header
    val chunkOffsets = {
      val offs = new Array[Long](nChunks)
      var off = mdatStart.toLong
      var si = 0
      var ci = 0
      while (ci < nChunks) {
        offs(ci) = off
        var k = 0
        while (k < spec.samplesPerChunk(ci)) { off += sampleBytes(si).length; si += 1; k += 1 }
        ci += 1
      }
      offs.toSeq
    }
    val moov = moovFor(chunkOffsets)
    assert(moov.length == moovLen, "stco size must be offset-independent")
    val mdatBody = new ByteArrayOutputStream()
    sampleBytes.foreach(mdatBody.write)
    ftyp ++ moov ++ box("mdat", mdatBody.toByteArray)
  }
}

object HeifWriter {

  final case class Spec(brand: String, width: Int, height: Int)

  /** HEIC/AVIF container: ftyp(brand) + meta FULLBOX(hdlr pict,
    * iprp(ipco(ispe w h))) + opaque coded payload in mdat — the real
    * structural skeleton iPhone/AV1 still images use; HeifKernel reads
    * brand + ispe dimensions from it.
    */
  def write(spec: Spec): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val size = 8 + body.length
      out.write((size >> 24) & 0xff); out.write((size >> 16) & 0xff)
      out.write((size >> 8) & 0xff); out.write(size & 0xff)
      out.write(typ.getBytes(StandardCharsets.US_ASCII))
      out.write(body)
      out.toByteArray
    }
    def u32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ftyp = box("ftyp",
      spec.brand.take(4).padTo(4, ' ').getBytes(StandardCharsets.US_ASCII) ++
        u32(0L) ++ "mif1".getBytes(StandardCharsets.US_ASCII))
    val hdlr = box("hdlr", u32(0L) ++ u32(0L) ++
      "pict".getBytes(StandardCharsets.US_ASCII) ++
      new Array[Byte](12) ++ Array(0.toByte))
    val ispe = box("ispe", u32(0L) ++ u32(spec.width.toLong) ++ u32(spec.height.toLong))
    val ipco = box("ipco", ispe)
    val iprp = box("iprp", ipco)
    val metaBox = box("meta", u32(0L) ++ hdlr ++ iprp) // FULLBOX: version+flags
    val mdat = {
      val b = new ByteArrayOutputStream()
      var x = (spec.width * 31L) ^ (spec.height * 17L) ^ spec.brand.hashCode
      for (_ <- 0 until 256 + (spec.width % 256)) {
        x = x * 6364136223846793005L + 1442695040888963407L
        b.write(((x >>> 33) & 0xff).toInt)
      }
      box("mdat", b.toByteArray)
    }
    ftyp ++ metaBox ++ mdat
  }
}

object FlacWriter {

  final case class Spec(sampleRate: Int, channels: Int, nSamples: Long,
      // non-empty: append a VORBIS_COMMENT block with these tags
      title: String = "", artist: String = "", album: String = "")

  /** Real STREAMINFO metadata block (the mandatory first block) +
    * optional VORBIS_COMMENT tags + deterministic opaque frame bytes:
    * FlacKernel derives sample rate, channels, bit depth, exact duration
    * and dc:title/artist/album from the headers alone.
    */
  def write(spec: Spec): Array[Byte] = {
    val hasTags = spec.title.nonEmpty || spec.artist.nonEmpty || spec.album.nonEmpty
    val out = new ByteArrayOutputStream()
    out.write("fLaC".getBytes(StandardCharsets.US_ASCII))
    out.write(if (hasTags) 0x00 else 0x80) // type 0, last unless tags follow
    out.write(0); out.write(0); out.write(34)
    def u16be(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def u24be(v: Int): Unit = { out.write((v >> 16) & 0xff); u16be(v & 0xffff) }
    u16be(4096); u16be(4096)     // min/max block size
    u24be(0); u24be(0)           // min/max frame size (unknown)
    // sampleRate(20) channels-1(3) bits-1(5) totalSamples(36)
    val bits = 16
    out.write((spec.sampleRate >> 12) & 0xff)
    out.write((spec.sampleRate >> 4) & 0xff)
    out.write(((spec.sampleRate & 0xf) << 4) | (((spec.channels - 1) & 7) << 1) |
      (((bits - 1) >> 4) & 1))
    out.write((((bits - 1) & 0xf) << 4) | ((spec.nSamples >> 32) & 0xf).toInt)
    out.write(((spec.nSamples >> 24) & 0xff).toInt)
    out.write(((spec.nSamples >> 16) & 0xff).toInt)
    out.write(((spec.nSamples >> 8) & 0xff).toInt)
    out.write((spec.nSamples & 0xff).toInt)
    for (_ <- 0 until 16) out.write(0) // md5 (unset)
    if (hasTags) { // VORBIS_COMMENT (type 4, last): vendor + KEY=value
      val body = new ByteArrayOutputStream()
      def u32le(v: Int): Unit = { body.write(v & 0xff); body.write((v >> 8) & 0xff)
        body.write((v >> 16) & 0xff); body.write((v >> 24) & 0xff) }
      def lpStr(t: String): Unit = {
        val b = t.getBytes(StandardCharsets.UTF_8)
        u32le(b.length); body.write(b)
      }
      lpStr("graftgen")
      val tags = Seq("TITLE" -> spec.title, "ARTIST" -> spec.artist,
        "ALBUM" -> spec.album).filter(_._2.nonEmpty)
      u32le(tags.length)
      tags.foreach { case (k, v) => lpStr(s"$k=$v") }
      val bb = body.toByteArray
      out.write(0x84) // last + type 4
      out.write((bb.length >> 16) & 0xff); out.write((bb.length >> 8) & 0xff)
      out.write(bb.length & 0xff)
      out.write(bb)
    }
    // opaque audio frames (deterministic noise; decode is out of scope)
    var x = spec.sampleRate * 31L ^ spec.nSamples
    for (_ <- 0 until 512) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write(((x >>> 33) & 0xff).toInt)
    }
    out.toByteArray
  }
}

object OggWriter {

  final case class Spec(sampleRate: Int, channels: Int, opus: Boolean = false,
      // > 0: append an EOS page whose granule position encodes the total
      // samples (Vorbis: at sampleRate; Opus: at 48 kHz) -> exact duration
      nSamples: Long = 0L)

  /** First Ogg page with a real Vorbis (or Opus) identification header;
    * later pages opaque noise. OggKernel reads channels + sample rate.
    */
  def write(spec: Spec): Array[Byte] = {
    val ident = new ByteArrayOutputStream()
    def u32(o: ByteArrayOutputStream, v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    if (spec.opus) {
      ident.write("OpusHead".getBytes(StandardCharsets.US_ASCII))
      ident.write(1)                 // version
      ident.write(spec.channels)
      ident.write(0); ident.write(0) // pre-skip
      u32(ident, spec.sampleRate.toLong)
      ident.write(0); ident.write(0) // output gain
      ident.write(0)                 // mapping family
    } else {
      ident.write(1)
      ident.write("vorbis".getBytes(StandardCharsets.US_ASCII))
      u32(ident, 0L)                 // vorbis version
      ident.write(spec.channels)
      u32(ident, spec.sampleRate.toLong)
      u32(ident, 0L); u32(ident, 128000L); u32(ident, 0L) // bitrates
      ident.write(0xb8)              // blocksizes
      ident.write(1)                 // framing bit
    }
    val id = ident.toByteArray
    val out = new ByteArrayOutputStream()
    out.write("OggS".getBytes(StandardCharsets.US_ASCII))
    out.write(0)    // version
    out.write(0x02) // BOS
    for (_ <- 0 until 8) out.write(0)  // granule
    u32(out, 0x6772L); u32(out, 0L)    // serial, seq
    u32(out, 0L)                       // crc (readers we target don't check)
    out.write(1)                       // one segment
    out.write(id.length)
    out.write(id)
    // opaque continuation bytes
    var x = spec.sampleRate * 7L ^ spec.channels
    for (_ <- 0 until 256) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write(((x >>> 33) & 0xff).toInt)
    }
    if (spec.nSamples > 0) { // EOS page with the final granule position
      out.write("OggS".getBytes(StandardCharsets.US_ASCII))
      out.write(0)    // version
      out.write(0x04) // EOS
      var g = spec.nSamples
      for (_ <- 0 until 8) { out.write((g & 0xff).toInt); g >>= 8 }
      u32(out, 0x6772L); u32(out, 1L)  // serial, seq
      u32(out, 0L)                     // crc
      out.write(1)                     // one segment
      out.write(16)
      for (_ <- 0 until 16) {
        x = x * 6364136223846793005L + 1442695040888963407L
        out.write(((x >>> 33) & 0xff).toInt)
      }
    }
    out.toByteArray
  }
}

object MiscMediaWriters {

  /** ICO: real ICONDIR + entries; payload bytes opaque. */
  def writeIco(sizes: Seq[(Int, Int)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16((v >>> 16) & 0xffff) }
    u16(0); u16(1); u16(sizes.length)
    val dataStart = 6 + sizes.length * 16
    var off = dataStart
    for ((w, h) <- sizes) {
      out.write(if (w >= 256) 0 else w)
      out.write(if (h >= 256) 0 else h)
      out.write(0); out.write(0) // colors, reserved
      u16(1); u16(32)            // planes, bpp
      val len = 64
      u32(len); u32(off)
      off += len
    }
    var x = sizes.length * 17L
    for (_ <- 0 until sizes.length * 64) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write(((x >>> 33) & 0xff).toInt)
    }
    out.toByteArray
  }

  /** PSD: real file header; image data opaque. */
  def writePsd(w: Int, h: Int, channels: Int, mode: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def u32(v: Int): Unit = { u16((v >>> 16) & 0xffff); u16(v & 0xffff) }
    out.write("8BPS".getBytes(StandardCharsets.US_ASCII))
    u16(1)
    for (_ <- 0 until 6) out.write(0)
    u16(channels); u32(h); u32(w); u16(8); u16(mode)
    u32(0); u32(0); u32(0) // empty color-mode/resources/layers sections
    var x = w * 31L ^ h
    for (_ <- 0 until 128) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write(((x >>> 33) & 0xff).toInt)
    }
    out.toByteArray
  }

  /** MIDI: real MThd + minimal MTrk chunks. */
  def writeMidi(format: Int, ntrks: Int, division: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def u32(v: Int): Unit = { u16((v >>> 16) & 0xffff); u16(v & 0xffff) }
    out.write("MThd".getBytes(StandardCharsets.US_ASCII))
    u32(6); u16(format); u16(ntrks); u16(division)
    for (_ <- 0 until ntrks) {
      out.write("MTrk".getBytes(StandardCharsets.US_ASCII))
      u32(4)
      out.write(0x00); out.write(0xff); out.write(0x2f); out.write(0x00) // end-of-track
    }
    out.toByteArray
  }
}

/** Deterministic Matroska / WebM writer: real EBML framing (header with
  * DocType, Segment with Info + Tracks + opaque SimpleBlock clusters),
  * so MkvKernel's element walk — including unknown-size segments and
  * float/uint width variants — is exercised with analytically-known
  * expected metadata.
  */
object MkvWriter {

  final case class Spec(
      webm: Boolean,                       // DocType webm vs matroska
      title: String = "",
      durationMs: Double = 0.0,            // 0: omit Duration
      timestampScale: Long = 1000000L,     // ns per unit (default 1 ms)
      video: Option[(Int, Int, String)] = None, // (w, h, codecId)
      audio: Option[(Double, Int, String)] = None, // (rate, channels, codecId)
      nClusters: Int = 2,
      seed: Long = 1L,
      unknownSegmentSize: Boolean = false, // streamed-file shape
      floatWidth: Int = 8,                 // Duration/rate coding: 4 or 8
      dateUtcMs: Long = 0,                 // Info DateUTC (epoch ms; 0 = omit)
      // Tags/Tag/SimpleTag pairs (e.g. "TITLE" -> ...); fill dc:/xmpDM:
      // holes the Info element left
      tags: Vector[(String, String)] = Vector.empty)

  /** The metadata MkvKernel must return for write(spec). */
  def expectedMeta(spec: Spec): Map[String, String] = {
    var m = Map("doctype" -> (if (spec.webm) "webm" else "matroska"),
      "muxingApp" -> "graftmux", "writingApp" -> "graft synthetic corpus")
    if (spec.title.nonEmpty) m += ("dc:title" -> spec.title)
    if (spec.durationMs > 0) {
      val units = if (spec.floatWidth == 4) spec.durationMs.toFloat.toDouble
      else spec.durationMs
      m += ("xmpDM:duration" -> "%.3f".formatLocal(Locale.ROOT, units * spec.timestampScale / 1e9))
    }
    spec.video.foreach { case (w, h, codec) =>
      m ++= Map("Image Width" -> s"$w pixels", "Image Height" -> s"$h pixels",
        "xmpDM:videoCompressor" -> codec)
    }
    spec.audio.foreach { case (rate, ch, codec) =>
      val r = if (spec.floatWidth == 4) rate.toFloat.toDouble else rate
      m ++= Map(
        "xmpDM:audioSampleRate" ->
          (if (r == r.toLong.toDouble) r.toLong.toString else r.toString),
        "channels" -> ch.toString, "xmpDM:audioCompressor" -> codec)
    }
    if (spec.dateUtcMs > 0)
      m += ("dcterms:created" ->
        java.time.Instant.ofEpochMilli(spec.dateUtcMs).toString
          .replace(".000Z", "Z"))
    spec.tags.foreach { case (k, v) =>
      val mapped = k.toUpperCase(Locale.ROOT) match {
        case "TITLE"  => "dc:title"
        case "ARTIST" => "xmpDM:artist"
        case "GENRE"  => "xmpDM:genre"
        case _        => null
      }
      if (mapped != null && v.nonEmpty && !m.contains(mapped)) m += (mapped -> v)
    }
    m
  }

  private def vintSize(v: Long): Int = {
    var len = 1
    while (len < 8 && v >= (1L << (7 * len)) - 1) len += 1 // all-ones reserved
    len
  }

  private def writeVint(out: ByteArrayOutputStream, v: Long): Unit = {
    val len = vintSize(v)
    val first = (0x80 >> (len - 1)) | ((v >> (8 * (len - 1))) & (0xff >>> len)).toInt
    out.write(first)
    var i = len - 2
    while (i >= 0) { out.write(((v >> (8 * i)) & 0xff).toInt); i -= 1 }
  }

  private def writeId(out: ByteArrayOutputStream, id: Long): Unit = {
    // IDs are stored verbatim (marker included): emit big-endian bytes
    var len = 1
    while ((id >> (8 * len)) != 0) len += 1
    var i = len - 1
    while (i >= 0) { out.write(((id >> (8 * i)) & 0xff).toInt); i -= 1 }
  }

  private def el(out: ByteArrayOutputStream, id: Long)(body: Array[Byte]): Unit = {
    writeId(out, id)
    writeVint(out, body.length.toLong)
    out.write(body)
  }

  private def uintBytes(v: Long): Array[Byte] = {
    var len = 1
    while (len < 8 && (v >> (8 * len)) != 0) len += 1
    Array.tabulate(len)(i => ((v >> (8 * (len - 1 - i))) & 0xff).toByte)
  }

  private def floatBytes(v: Double, width: Int): Array[Byte] =
    if (width == 4) uintBytes(java.lang.Float.floatToIntBits(v.toFloat) & 0xffffffffL)
      .reverse.padTo(4, 0.toByte).reverse
    else {
      val bits = java.lang.Double.doubleToLongBits(v)
      Array.tabulate(8)(i => ((bits >> (8 * (7 - i))) & 0xff).toByte)
    }

  def write(spec: Spec): Array[Byte] = {
    def sub(f: ByteArrayOutputStream => Unit): Array[Byte] = {
      val b = new ByteArrayOutputStream(); f(b); b.toByteArray
    }
    val out = new ByteArrayOutputStream()
    // EBML header
    el(out, 0x1A45DFA3L)(sub { h =>
      el(h, 0x4286L)(uintBytes(1)) // EBMLVersion
      el(h, 0x42F7L)(uintBytes(1)) // EBMLReadVersion
      el(h, 0x42F2L)(uintBytes(4)) // EBMLMaxIDLength
      el(h, 0x42F3L)(uintBytes(8)) // EBMLMaxSizeLength
      el(h, 0x4282L)((if (spec.webm) "webm" else "matroska")
        .getBytes(StandardCharsets.UTF_8)) // DocType
      el(h, 0x4287L)(uintBytes(if (spec.webm) 2 else 4)) // DocTypeVersion
      el(h, 0x4285L)(uintBytes(2)) // DocTypeReadVersion
    })
    // Segment body
    val seg = sub { s =>
      el(s, 0x1549A966L)(sub { info =>
        if (spec.timestampScale != 1000000L)
          el(info, 0x2AD7B1L)(uintBytes(spec.timestampScale))
        el(info, 0x4D80L)("graftmux".getBytes(StandardCharsets.UTF_8))
        el(info, 0x5741L)("graft synthetic corpus".getBytes(StandardCharsets.UTF_8))
        if (spec.title.nonEmpty)
          el(info, 0x7BA9L)(spec.title.getBytes(StandardCharsets.UTF_8))
        if (spec.durationMs > 0)
          el(info, 0x4489L)(floatBytes(spec.durationMs, spec.floatWidth))
        if (spec.dateUtcMs > 0) {
          // signed ns since 2001-01-01T00:00:00 UTC, always 8 bytes
          val ns = (spec.dateUtcMs - 978307200000L) * 1000000L
          el(info, 0x4461L)(Array.tabulate(8)(i =>
            ((ns >> (8 * (7 - i))) & 0xff).toByte))
        }
      })
      el(s, 0x1654AE6BL)(sub { tracks =>
        var tn = 1
        spec.video.foreach { case (w, h, codec) =>
          el(tracks, 0xAEL)(sub { te =>
            el(te, 0xD7L)(uintBytes(tn.toLong)); tn += 1
            el(te, 0x83L)(uintBytes(1))
            el(te, 0x86L)(codec.getBytes(StandardCharsets.UTF_8))
            el(te, 0xE0L)(sub { v =>
              el(v, 0xB0L)(uintBytes(w.toLong))
              el(v, 0xBAL)(uintBytes(h.toLong))
            })
          })
        }
        spec.audio.foreach { case (rate, ch, codec) =>
          el(tracks, 0xAEL)(sub { te =>
            el(te, 0xD7L)(uintBytes(tn.toLong)); tn += 1
            el(te, 0x83L)(uintBytes(2))
            el(te, 0x86L)(codec.getBytes(StandardCharsets.UTF_8))
            el(te, 0xE1L)(sub { a =>
              el(a, 0xB5L)(floatBytes(rate, spec.floatWidth))
              el(a, 0x9FL)(uintBytes(ch.toLong))
            })
          })
        }
      })
      if (spec.tags.nonEmpty) {
        el(s, 0x1254C367L)(sub { tags => // Tags
          el(tags, 0x7373L)(sub { tag => // Tag
            spec.tags.foreach { case (k, v) =>
              el(tag, 0x67C8L)(sub { st => // SimpleTag
                el(st, 0x45A3L)(k.getBytes(StandardCharsets.UTF_8))
                el(st, 0x4487L)(v.getBytes(StandardCharsets.UTF_8))
              })
            }
          })
        })
      }
      // opaque clusters: Timestamp + SimpleBlocks of deterministic noise
      var x = spec.seed
      for (c <- 0 until spec.nClusters) {
        el(s, 0x1F43B6F5L)(sub { cl =>
          el(cl, 0xE7L)(uintBytes(c.toLong * 1000)) // cluster Timestamp
          for (_ <- 0 until 3) {
            el(cl, 0xA3L)(sub { blk => // SimpleBlock
              blk.write(0x81); blk.write(0); blk.write(0); blk.write(0x80)
              for (_ <- 0 until 64) {
                x = x * 6364136223846793005L + 1442695040888963407L
                blk.write(((x >>> 33) & 0xff).toInt)
              }
            })
          }
        })
      }
    }
    writeId(out, 0x18538067L)
    if (spec.unknownSegmentSize) out.write(0xff) // 1-byte unknown size
    else writeVint(out, seg.length.toLong)
    out.write(seg)
    out.toByteArray
  }
}
