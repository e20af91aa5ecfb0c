package graft.kernel

/** Baseline AND progressive DCT JPEG decoder (ITU T.81): marker segment
  * walk, canonical Huffman decode (DC size + AC run/size with EOB/ZRL),
  * zigzag dequantization, separable floating IDCT, per-component
  * sampling-factor upsampling (4:4:4 / 4:2:2 / 4:2:0 and any h,v <= 4),
  * restart-marker handling (DRI + RSTn with DC-predictor reset), and
  * JFIF YCbCr -> RGB. Progressive (SOF2) streams accumulate coefficients
  * across scans — spectral selection, successive approximation (DC + AC
  * first passes and refinement passes, EOB-run coding) — and finalize at
  * EOI; since progressive transmission is coefficient-lossless, the
  * decoded plane is bit-identical to the same coefficients decoded
  * sequentially (pinned by JpegCodecSpec). Arithmetic-coded, lossless
  * and 12-bit streams return None.
  *
  * The perceptual transform is lossy by design, so the spec-side oracle
  * (JpegCodecSpec) asserts exact round-trips for constant blocks (DC-only
  * streams are mathematically exact) and tight error bounds under
  * unit quantization, rather than bit-exact planes.
  *
  * Like every decoder in PixelDecode.scala: malformed input yields None,
  * never an exception (taxonomy contract).
  */
object JpegDecoder {

  private[graft] final class Huff(counts: Array[Int], symbols: Array[Int]) {
    // canonical code tables per the spec's Decode procedure
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = code - 1
        if (counts(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def symbol(idx: Int): Int = if (idx < symbols.length) symbols(idx) else -1

    /** 8-bit-peek fast table: lut(p) = (codeLen << 8) | symbol for every
      * 8-bit prefix p whose leading bits form a complete code of length
      * <= 8; 0 = no such code (fall back to the exact bit-by-bit walk).
      * Pure lookup acceleration of the same canonical decode — the
      * decoded (symbol, consumed-bits) pair is identical by construction.
      * An oversubscribed DHT assigns length-l codes >= 2^l; no l-bit read
      * can produce one (the walk never returns it), so they are skipped.
      */
    val lut = new Array[Int](256)
    locally {
      var l = 1
      while (l <= 8) {
        if (maxCode(l) >= 0) {
          var code = minCode(l)
          while (code <= maxCode(l) && code < (1 << l)) {
            val sym = symbol(valPtr(l) + code - minCode(l))
            if (sym >= 0) {
              val base = code << (8 - l)
              val n = 1 << (8 - l)
              var i = 0
              while (i < n) { lut(base + i) = (l << 8) | sym; i += 1 }
            }
            code += 1
          }
        }
        l += 1
      }
    }
  }

  /** Entropy bit reader. Bits are served from a 64-bit accumulator that
    * bulk-loads runs of PLAIN (non-0xFF) bytes; 0xFF bytes (stuffing or a
    * real marker) are always handled one at a time by the exact slow path,
    * so marker detection, stuffing and end-of-data behave bit-for-bit like
    * the original per-byte reader. The slow path pushes a stuffed
    * 0xFF 0x00 pair only when fewer bits are buffered than the current
    * read needs, so that read leaves under 8 of its bits behind: the
    * stuffed byte is partly consumed, every WHOLE buffered byte is a
    * plain input byte, and the logical byte position is recoverable as
    * pos - nAcc/8 (used by restart()). `pos` may run ahead of the
    * consumed bits by those buffered plain bytes only, so forward marker
    * scans from `pos` find the same next marker.
    */
  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    var acc = 0L
    var nAcc = 0
    var sawEoi = false

    /** bulk-load plain bytes; stops before any 0xFF or at EOF. */
    private def fill(): Unit = {
      while (nAcc <= 56 && pos < bytes.length) {
        val b = bytes(pos) & 0xff
        if (b == 0xff) return
        acc = (acc << 8) | b
        nAcc += 8
        pos += 1
      }
    }

    /** append one byte via the exact original 0xFF handling; false when
      * no byte is available (EOF, or a real marker => sawEoi).
      */
    private def slowByte(): Boolean = {
      if (pos >= bytes.length) return false
      val b = bytes(pos) & 0xff
      pos += 1
      if (b != 0xff) { acc = (acc << 8) | b; nAcc += 8; return true }
      if (pos >= bytes.length) return false
      val m = bytes(pos) & 0xff
      if (m == 0x00) { pos += 1; acc = (acc << 8) | 0xff; nAcc += 8; true }
      else { sawEoi = true; false } // real marker: scan over (pos at marker)
    }

    /** next entropy-coded bit; -1 on exhaustion. */
    def bit(): Int = {
      if (nAcc == 0) {
        fill()
        if (nAcc == 0 && !slowByte()) return -1
      }
      nAcc -= 1
      ((acc >>> nAcc) & 1L).toInt
    }

    def receive(n: Int): Int = {
      if (nAcc < n) {
        fill()
        while (nAcc < n && slowByte()) ()
        if (nAcc < n) { nAcc = 0; return Int.MinValue }
      }
      nAcc -= n
      ((acc >>> nAcc) & ((1L << n) - 1L)).toInt
    }

    /** peek `n` bits without consuming; -1 when fewer than `n` PLAIN bits
      * are buffered (the caller falls back to the exact bit-by-bit path).
      */
    def peek(n: Int): Int = {
      if (nAcc < n) fill()
      if (nAcc < n) -1
      else ((acc >>> (nAcc - n)) & ((1L << n) - 1L)).toInt
    }

    def drop(n: Int): Unit = nAcc -= n

    /** byte-align and consume an RSTn marker; false if absent. T.81
      * permits any number of 0xFF fill bytes before the marker byte.
      * Buffered whole bytes are all plain, so rewinding pos by nAcc/8
      * re-aligns exactly; the sub-byte remainder is the discarded padding.
      */
    def restart(): Boolean = {
      pos -= nAcc >>> 3
      nAcc = 0
      while (pos + 1 < bytes.length && (bytes(pos) & 0xff) == 0xff &&
          (bytes(pos + 1) & 0xff) == 0xff) pos += 1 // fill bytes
      if (pos + 1 < bytes.length && (bytes(pos) & 0xff) == 0xff &&
          ((bytes(pos + 1) & 0xff) >= 0xd0 && (bytes(pos + 1) & 0xff) <= 0xd7)) {
        pos += 2
        true
      } else false
    }
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def decodeHuff(br: BitReader, h: Huff): Int = {
    // fast path: one 8-bit peek resolves every code of length <= 8 via
    // the canonical-prefix lookup table (identical symbol + bit count);
    // codes longer than 8 bits or reads near 0xFF/EOF fall back to the
    // exact per-bit walk from the same unconsumed position.
    val p = br.peek(8)
    if (p >= 0) {
      val e = h.lut(p)
      if (e != 0) { br.drop(e >>> 8); return e & 0xff }
    }
    var code = 0
    var l = 1
    while (l <= 16) {
      val b = br.bit()
      if (b < 0) return -1
      code = (code << 1) | b
      if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
        return h.symbol(h.valPtr(l) + code - h.minCode(l))
      l += 1
    }
    -1
  }

  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // cosTable, flat: CosF(u*8+x) = cos((2x+1) u pi / 16) * C(u), C(0)=1/sqrt(2);
  // StrictMath, so every JVM builds the same table
  private val CosF: Array[Double] = {
    val a = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        a(u * 8 + x) = c * StrictMath.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    a
  }

  /** Separable 2-D IDCT of one dequantized block into samples (+128).
    * `tmp` is caller-owned 64-double scratch (one per scan, not per block).
    *
    * Sparse-aware: terms whose coefficient is zero are skipped. This is
    * bit-identical to the dense sum — a skipped term contributes exactly
    * plus-or-minus 0.0 (no CosF entry is a true zero, so products of the
    * NONZERO terms are unaffected), the accumulator starts at +0.0 and
    * finite cancellation yields +0.0 in round-to-nearest, so it is never
    * -0.0 when a zero term would be added, and x + (plus/minus 0.0) == x
    * exactly. Pinned against the dense form in JpegCodecSpec. Quantized
    * blocks are mostly zeros (EOB after a few symbols), so this cuts the
    * 1024-multiply dense 2-D pass to ~the nonzero support.
    */
  private[graft] def idctBlock(coef: Array[Int], out: Array[Int], tmp: Array[Double]): Unit = {
    var rowMask = 0 // bit y set = coefficient row y has any nonzero entry
    var y = 0
    while (y < 8) { // rows: 1-D IDCT over u for each y-row of coefficients
      val base = y * 8
      var hi = 7
      while (hi >= 0 && coef(base + hi) == 0) hi -= 1
      if (hi < 0) {
        var x = 0
        while (x < 8) { tmp(base + x) = 0.0; x += 1 }
      } else {
        rowMask |= 1 << y
        var x = 0
        while (x < 8) {
          var s = 0.0
          var u = 0
          while (u <= hi) {
            val c = coef(base + u)
            if (c != 0) s += CosF(u * 8 + x) * c
            u += 1
          }
          tmp(base + x) = s * 0.5
          x += 1
        }
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          if ((rowMask & (1 << v)) != 0) s += CosF(v * 8 + yy) * tmp(v * 8 + x)
          v += 1
        }
        val px = math.round(s * 0.5).toInt + 128
        out(yy * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        yy += 1
      }
      x += 1
    }
  }

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int) {
    var dcTab: Huff = null
    var acTab: Huff = null
    var pred: Int = 0
    var plane: Array[Int] = null
    var planeW: Int = 0
    var planeH: Int = 0
    // progressive: per-block zigzag coefficient storage, MCU-grid aligned
    var coefs: Array[Int] = null
    var blocksW: Int = 0
    var blocksH: Int = 0
    // non-interleaved scan coverage (true component size in blocks)
    var scanBlocksW: Int = 0
    var scanBlocksH: Int = 0
  }

  def decode(bytes: Array[Byte]): Option[RawImage] = {
    try decodeImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  private def decodeImpl(bytes: Array[Byte]): Option[RawImage] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return None
    def u16(p: Int): Int =
      if (p + 2 > bytes.length) -1
      else ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    val quant = Array.ofDim[Int](4, 64)
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var comps: Array[Comp] = null
    var w = 0; var h = 0
    var restartInterval = 0
    var progressive = false
    var p = 2
    while (p + 4 <= bytes.length) {
      if ((bytes(p) & 0xff) != 0xff) return None
      val marker = bytes(p + 1) & 0xff
      if (marker == 0xd8) { p += 2 }
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) { p += 2 }
      else if (marker == 0xd9) { p = bytes.length } // EOI: stream complete
      else {
        val len = u16(p + 2)
        if (len < 2 || p + 2 + len > bytes.length) return None
        val seg = p + 4
        val segEnd = p + 2 + len
        marker match {
          case 0xdb => // DQT
            var q = seg
            while (q < segEnd) {
              val pq = (bytes(q) & 0xf0) >> 4
              val tq = bytes(q) & 0x0f
              if (pq != 0 || tq > 3) return None // 8-bit tables only
              if (q + 65 > segEnd) return None
              var i = 0
              while (i < 64) { quant(tq)(i) = bytes(q + 1 + i) & 0xff; i += 1 }
              q += 65
            }
          case 0xc4 => // DHT
            var q = seg
            while (q + 17 <= segEnd) {
              val tc = (bytes(q) & 0xf0) >> 4
              val th = bytes(q) & 0x0f
              if (tc > 1 || th > 3) return None
              val counts = Array.tabulate(16)(i => bytes(q + 1 + i) & 0xff)
              val total = counts.sum
              if (total > 256 || q + 17 + total > segEnd) return None
              val syms = Array.tabulate(total)(i => bytes(q + 17 + i) & 0xff)
              val tab = new Huff(counts, syms)
              if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
              q += 17 + total
            }
          case 0xc0 | 0xc1 | 0xc2 => // SOF0/1 sequential, SOF2 progressive
            if (segEnd - seg < 6) return None
            val prec = bytes(seg) & 0xff
            if (prec != 8) return None
            progressive = marker == 0xc2
            h = u16(seg + 1); w = u16(seg + 3)
            val nc = bytes(seg + 5) & 0xff
            if (w <= 0 || h <= 0 || (nc != 1 && nc != 3)) return None
            if (w.toLong * h > 64L * 1024 * 1024) return None
            if (segEnd - seg < 6 + nc * 3) return None
            comps = Array.tabulate(nc) { i =>
              val b = seg + 6 + i * 3
              val hv = bytes(b + 1) & 0xff
              val c = Comp(bytes(b) & 0xff, (hv >> 4) & 0xf, hv & 0xf, bytes(b + 2) & 0x0f)
              if (c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4 || c.tq > 3) return None
              c
            }
            if (progressive) {
              // MCU-grid-aligned coefficient storage, filled across scans
              val hMax = comps.map(_.h).max
              val vMax = comps.map(_.v).max
              val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
              val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
              comps.foreach { c =>
                c.blocksW = mcusX * c.h
                c.blocksH = mcusY * c.v
                if (c.blocksW.toLong * c.blocksH * 64 > 256L * 1024 * 1024) return None
                c.coefs = new Array[Int](c.blocksW * c.blocksH * 64)
                // non-interleaved scans cover the TRUE component extent
                val compW = (w * c.h + hMax - 1) / hMax
                val compH = (h * c.v + vMax - 1) / vMax
                c.scanBlocksW = (compW + 7) / 8
                c.scanBlocksH = (compH + 7) / 8
              }
            }
          case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // lossless/arithmetic/hierarchical: out of scope
          case 0xdd => // DRI
            if (segEnd - seg < 2) return None
            restartInterval = u16(seg)
          case 0xda => // SOS -> entropy-coded data follows
            if (comps == null) return None
            val ns = bytes(seg) & 0xff
            if (segEnd - seg < 1 + ns * 2 + 3) return None
            if (!progressive) {
              if (ns != comps.length) return None
              var i = 0
              while (i < ns) {
                val cid = bytes(seg + 1 + i * 2) & 0xff
                val tabs = bytes(seg + 2 + i * 2) & 0xff
                val comp = comps.find(_.id == cid).getOrElse(return None)
                comp.dcTab = dcTabs((tabs >> 4) & 0xf)
                comp.acTab = acTabs(tabs & 0xf)
                if (comp.dcTab == null || (comp.acTab == null)) return None
                i += 1
              }
              return decodeScan(bytes, segEnd, comps, w, h, quant, restartInterval)
            } else {
              if (ns < 1 || ns > comps.length) return None
              val scanComps = Array.tabulate(ns) { i =>
                val cid = bytes(seg + 1 + i * 2) & 0xff
                val tabs = bytes(seg + 2 + i * 2) & 0xff
                val comp = comps.find(_.id == cid).getOrElse(return None)
                comp.dcTab = dcTabs((tabs >> 4) & 0xf)
                comp.acTab = acTabs(tabs & 0xf)
                comp
              }
              val ss = bytes(seg + 1 + ns * 2) & 0xff
              val se = bytes(seg + 2 + ns * 2) & 0xff
              val ahal = bytes(seg + 3 + ns * 2) & 0xff
              val ah = (ahal >> 4) & 0xf
              val al = ahal & 0xf
              val next = decodeProgScan(bytes, segEnd, comps, scanComps,
                ss, se, ah, al, restartInterval)
              if (next < 0) return None
              p = next
            }
          case _ => () // APPn, COM, others: skip
        }
        if (marker != 0xda) p = segEnd
      }
    }
    if (progressive && comps != null && comps.forall(_.coefs != null))
      finalizeProgressive(comps, w, h, quant)
    else None
  }

  private def decodeScan(bytes: Array[Byte], scanStart: Int, comps: Array[Comp],
      w: Int, h: Int, quant: Array[Array[Int]], restartInterval: Int): Option[RawImage] = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcuW = 8 * hMax
    val mcuH = 8 * vMax
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuH - 1) / mcuH
    comps.foreach { c =>
      c.planeW = mcusX * 8 * c.h
      c.planeH = mcusY * 8 * c.v
      if (c.planeW.toLong * c.planeH > 256L * 1024 * 1024) return None
      c.plane = new Array[Int](c.planeW * c.planeH)
      c.pred = 0
    }
    val br = new BitReader(bytes, scanStart)
    val coef = new Array[Int](64)
    val px = new Array[Int](64)
    val idctTmp = new Array[Double](64)
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!br.restart()) return None
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val qt = quant(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // ---- one 8x8 block
            java.util.Arrays.fill(coef, 0)
            val tDc = decodeHuff(br, c.dcTab)
            if (tDc < 0 || tDc > 15) return None
            val diffBits = br.receive(tDc)
            if (diffBits == Int.MinValue) return None
            c.pred += extend(diffBits, tDc)
            coef(0) = c.pred * qt(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = decodeHuff(br, c.acTab)
              if (rs < 0) return None
              val r = (rs >> 4) & 0xf
              val s = rs & 0xf
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true      // EOB
              } else {
                k += r
                if (k > 63) return None
                val vb = br.receive(s)
                if (vb == Int.MinValue) return None
                coef(Zigzag(k)) = extend(vb, s) * qt(k)
                k += 1
              }
            }
            idctBlock(coef, px, idctTmp)
            val ox = (mx * c.h + bx) * 8
            val oy = (my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              val rowOff = (oy + yy) * c.planeW + ox
              while (xx < 8) { c.plane(rowOff + xx) = px(yy * 8 + xx); xx += 1 }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    assemble(comps, w, h, hMax, vMax)
  }

  /** Upsample components to full res, YCbCr -> RGB (or gray). */
  private def assemble(comps: Array[Comp], w: Int, h: Int,
      hMax: Int, vMax: Int): Option[RawImage] = {
    if (comps.length == 1) {
      val c = comps(0)
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = c.plane(y * c.planeW + x).toByte; x += 1 }
        y += 1
      }
      Some(RawImage(w, h, 1, out))
    } else {
      val cy = comps(0); val cb = comps(1); val cr = comps(2)
      val out = new Array[Byte](w * h * 3)
      // hoist the nearest-neighbor upsampling index math out of the pixel
      // loop: the same x*ch/hMax (etc.) integer divisions, computed once
      // per column / once per row instead of six divisions per pixel
      val xiY = new Array[Int](w)
      val xiB = new Array[Int](w)
      val xiR = new Array[Int](w)
      var xx = 0
      while (xx < w) {
        xiY(xx) = xx * cy.h / hMax
        xiB(xx) = xx * cb.h / hMax
        xiR(xx) = xx * cr.h / hMax
        xx += 1
      }
      var y = 0
      while (y < h) {
        val rowY = (y * cy.v / vMax) * cy.planeW
        val rowB = (y * cb.v / vMax) * cb.planeW
        val rowR = (y * cr.v / vMax) * cr.planeW
        var o = y * w * 3
        var x = 0
        while (x < w) {
          val lum = cy.plane(rowY + xiY(x))
          val b0 = cb.plane(rowB + xiB(x)) - 128
          val r0 = cr.plane(rowR + xiR(x)) - 128
          var r = math.round(lum + 1.402 * r0).toInt
          var g = math.round(lum - 0.344136 * b0 - 0.714136 * r0).toInt
          var b = math.round(lum + 1.772 * b0).toInt
          if (r < 0) r = 0 else if (r > 255) r = 255
          if (g < 0) g = 0 else if (g > 255) g = 255
          if (b < 0) b = 0 else if (b > 255) b = 255
          out(o) = r.toByte; out(o + 1) = g.toByte; out(o + 2) = b.toByte
          o += 3
          x += 1
        }
        y += 1
      }
      Some(RawImage(w, h, 3, out))
    }
  }

  // ------------------------------------------------ progressive (SOF2)

  /** One progressive scan (T.81 G.2): spectral band [ss,se], successive
    * approximation ah -> al. Accumulates into each Comp's zigzag `coefs`.
    * Returns the byte position of the next marker segment, or -1 on
    * malformed data.
    */
  private def decodeProgScan(bytes: Array[Byte], scanStart: Int,
      comps: Array[Comp], scanComps: Array[Comp], ss: Int, se: Int,
      ah: Int, al: Int, restartInterval: Int): Int = {
    if (ss < 0 || se > 63 || ss > se || al > 13) return -1
    val isDc = ss == 0
    if (isDc && se != 0) return -1          // DC scans carry only band 0
    if (!isDc && scanComps.length != 1) return -1 // AC scans: one component
    if (ah != 0 && ah != al + 1) return -1  // refinement moves one bit
    if (scanComps.exists(c => if (isDc) c.dcTab == null && ah == 0
      else c.acTab == null)) return -1
    val br = new BitReader(bytes, scanStart)
    var eobrun = 0
    scanComps.foreach(_.pred = 0)

    def restartAt(unit: Int): Boolean = {
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        if (!br.restart()) return false
        scanComps.foreach(_.pred = 0)
        eobrun = 0
      }
      true
    }

    if (isDc) {
      if (scanComps.length > 1) {
        // interleaved over the MCU grid (geometry from any comp's storage)
        val mcusX = scanComps(0).blocksW / scanComps(0).h
        val mcusY = scanComps(0).blocksH / scanComps(0).v
        var mcu = 0
        val total = mcusX * mcusY
        while (mcu < total) {
          if (!restartAt(mcu)) return -1
          val mx = mcu % mcusX
          val my = mcu / mcusX
          var ci = 0
          while (ci < scanComps.length) {
            val c = scanComps(ci)
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                if (!dcUnit(br, c,
                    ((my * c.v + by) * c.blocksW + mx * c.h + bx) * 64, ah, al))
                  return -1
                bx += 1
              }
              by += 1
            }
            ci += 1
          }
          mcu += 1
        }
      } else {
        val c = scanComps(0)
        var unit = 0
        val total = c.scanBlocksW * c.scanBlocksH
        while (unit < total) {
          if (!restartAt(unit)) return -1
          val bx = unit % c.scanBlocksW
          val by = unit / c.scanBlocksW
          if (!dcUnit(br, c, (by * c.blocksW + bx) * 64, ah, al)) return -1
          unit += 1
        }
      }
    } else {
      val c = scanComps(0)
      var unit = 0
      val total = c.scanBlocksW * c.scanBlocksH
      while (unit < total) {
        if (!restartAt(unit)) return -1
        val bx = unit % c.scanBlocksW
        val by = unit / c.scanBlocksW
        val off = (by * c.blocksW + bx) * 64
        eobrun =
          if (ah == 0) acFirst(br, c, off, ss, se, al, eobrun)
          else acRefine(br, c, off, ss, se, al, eobrun)
        if (eobrun == Int.MinValue) return -1
        unit += 1
      }
    }

    // locate the next marker: byte-align, skip fill bytes and stray RSTn
    var q = br.pos
    while (q + 1 < bytes.length) {
      if ((bytes(q) & 0xff) == 0xff) {
        val m = bytes(q + 1) & 0xff
        if (m == 0x00) q += 2          // stuffed data byte
        else if (m == 0xff) q += 1     // fill byte
        else if (m >= 0xd0 && m <= 0xd7) q += 2 // stray restart
        else return q
      } else q += 1
    }
    bytes.length
  }

  /** DC band of one block: first pass (Huffman diff<<al) or refinement
    * (one raw bit at weight al).
    */
  private def dcUnit(br: BitReader, c: Comp, off: Int, ah: Int, al: Int): Boolean = {
    if (ah == 0) {
      val t = decodeHuff(br, c.dcTab)
      if (t < 0 || t > 15) return false
      val diffBits = br.receive(t)
      if (diffBits == Int.MinValue) return false
      c.pred += extend(diffBits, t)
      c.coefs(off) = c.pred << al
    } else {
      val b = br.bit()
      if (b < 0) return false
      if (b == 1) c.coefs(off) |= (1 << al)
    }
    true
  }

  /** AC first pass for one block: run/size with EOB-run coding, values
    * scaled by 2^al. Returns the updated EOB run (Int.MinValue = error).
    */
  private def acFirst(br: BitReader, c: Comp, off: Int, ss: Int, se: Int,
      al: Int, eobrunIn: Int): Int = {
    var eobrun = eobrunIn
    if (eobrun > 0) return eobrun - 1 // this block is inside an EOB run
    var k = ss
    while (k <= se) {
      val rs = decodeHuff(br, c.acTab)
      if (rs < 0) return Int.MinValue
      val r = (rs >> 4) & 0xf
      val s = rs & 0xf
      if (s == 0) {
        if (r < 15) { // EOBn: run of (1<<r) + extra blocks ending here
          eobrun = (1 << r) - 1
          if (r > 0) {
            val eb = br.receive(r)
            if (eb == Int.MinValue) return Int.MinValue
            eobrun += eb
          }
          return eobrun
        }
        k += 16 // ZRL
      } else {
        k += r
        if (k > se) return Int.MinValue
        val vb = br.receive(s)
        if (vb == Int.MinValue) return Int.MinValue
        c.coefs(off + k) = extend(vb, s) << al
        k += 1
      }
    }
    eobrun
  }

  /** AC refinement pass for one block (T.81 G.1.2.3): correction bits
    * for history-nonzero coefficients, +-2^al for newly significant ones,
    * EOB runs carrying correction bits to the band end.
    */
  private def acRefine(br: BitReader, c: Comp, off: Int, ss: Int, se: Int,
      al: Int, eobrunIn: Int): Int = {
    var eobrun = eobrunIn
    val p1 = 1 << al
    var k = ss

    def correct(idx: Int): Boolean = { // one correction bit, if due
      val cur = c.coefs(idx)
      if (cur != 0) {
        val b = br.bit()
        if (b < 0) return false
        if (b == 1 && (cur & p1) == 0)
          c.coefs(idx) = if (cur >= 0) cur + p1 else cur - p1
      }
      true
    }

    if (eobrun == 0) {
      var inBand = true
      while (inBand && k <= se) {
        val rs = decodeHuff(br, c.acTab)
        if (rs < 0) return Int.MinValue
        var r = (rs >> 4) & 0xf
        val s = rs & 0xf
        var newVal = 0
        if (s == 0) {
          if (r < 15) { // EOBn: rest of this block handled below
            eobrun = 1 << r
            if (r > 0) {
              val eb = br.receive(r)
              if (eb == Int.MinValue) return Int.MinValue
              eobrun += eb
            }
            inBand = false
          }
          // r == 15: ZRL — skip 16 zero-history coefficients
        } else {
          if (s != 1) return Int.MinValue // refinement codes only +-1
          val sb = br.bit()
          if (sb < 0) return Int.MinValue
          newVal = if (sb == 1) p1 else -p1
        }
        if (inBand) {
          // advance past r zero-history coefficients, correcting
          // nonzero-history ones along the way; place newVal at the stop
          var placed = false
          while (!placed && k <= se) {
            val cur = c.coefs(off + k)
            if (cur != 0) {
              if (!correct(off + k)) return Int.MinValue
            } else {
              if (r == 0) {
                if (newVal != 0) c.coefs(off + k) = newVal
                placed = true
              } else r -= 1
            }
            k += 1
          }
          if (!placed && (newVal != 0 || r > 0)) return Int.MinValue
        }
      }
    }
    if (eobrun > 0) {
      // EOB region: correction bits for the rest of the band
      while (k <= se) {
        if (!correct(off + k)) return Int.MinValue
        k += 1
      }
      eobrun -= 1
    }
    eobrun
  }

  /** After all scans: dequantize + IDCT every stored block and assemble. */
  private def finalizeProgressive(comps: Array[Comp], w: Int, h: Int,
      quant: Array[Array[Int]]): Option[RawImage] = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val nat = new Array[Int](64)
    val px = new Array[Int](64)
    val idctTmp = new Array[Double](64)
    comps.foreach { c =>
      c.planeW = c.blocksW * 8
      c.planeH = c.blocksH * 8
      c.plane = new Array[Int](c.planeW * c.planeH)
      val qt = quant(c.tq)
      var by = 0
      while (by < c.blocksH) {
        var bx = 0
        while (bx < c.blocksW) {
          val off = (by * c.blocksW + bx) * 64
          var k = 0
          while (k < 64) { nat(Zigzag(k)) = c.coefs(off + k) * qt(k); k += 1 }
          idctBlock(nat, px, idctTmp)
          val ox = bx * 8
          val oy = by * 8
          var yy = 0
          while (yy < 8) {
            var xx = 0
            val rowOff = (oy + yy) * c.planeW + ox
            while (xx < 8) { c.plane(rowOff + xx) = px(yy * 8 + xx); xx += 1 }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
    }
    assemble(comps, w, h, hMax, vMax)
  }
}
