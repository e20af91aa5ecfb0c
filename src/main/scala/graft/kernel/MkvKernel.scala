package graft.kernel

import java.nio.charset.StandardCharsets
import java.util.Locale

/** Matroska / WebM container metadata (EBML, per the public Matroska
  * element registry): DocType routing, Segment Info (title, duration at
  * TimestampScale), and per-track facts (codec IDs, video dimensions,
  * audio rate/channels). Clusters (the media payload) are skipped —
  * frame payloads are codec bitstreams outside container scope, same
  * stance as Mp4Kernel. Reference parity: rika delegates to Tika
  * (lib/rika/parser.rb), which types these containers and surfaces
  * container-level metadata only.
  */
object MkvKernel {

  // EBML / Matroska element IDs (marker bits included, as they appear
  // on the wire)
  private val IdEbml = 0x1A45DFA3L
  private val IdDocType = 0x4282L
  private val IdSegment = 0x18538067L
  private val IdInfo = 0x1549A966L
  private val IdTimestampScale = 0x2AD7B1L
  private val IdDuration = 0x4489L
  private val IdTitle = 0x7BA9L
  private val IdMuxingApp = 0x4D80L
  private val IdWritingApp = 0x5741L
  private val IdDateUtc = 0x4461L
  private val IdTracks = 0x1654AE6BL
  private val IdTags = 0x1254C367L
  private val IdTag = 0x7373L
  private val IdSimpleTag = 0x67C8L
  private val IdTagName = 0x45A3L
  private val IdTagString = 0x4487L
  private val IdTrackEntry = 0xAEL
  private val IdTrackType = 0x83L
  private val IdCodecId = 0x86L
  private val IdVideo = 0xE0L
  private val IdPixelWidth = 0xB0L
  private val IdPixelHeight = 0xBAL
  private val IdAudio = 0xE1L
  private val IdSamplingFrequency = 0xB5L
  private val IdChannels = 0x9FL

  /** EBML variable-length integer at `p`: (value, encoded length) or
    * None on truncation/garbage. `keepMarker` keeps the length-marker
    * bit in the value (element IDs); size fields strip it. A size whose
    * data bits are all ones means "unknown" -> Some((-1, len)).
    */
  private def vint(bytes: Array[Byte], p: Int, keepMarker: Boolean): Option[(Long, Int)] = {
    if (p >= bytes.length) return None
    val first = bytes(p) & 0xff
    if (first == 0) return None
    val len = Integer.numberOfLeadingZeros(first) - 23 // 1..8
    if (len < 1 || len > 8 || p + len > bytes.length) return None
    var v = (if (keepMarker) first else first & (0xff >>> len)).toLong
    var i = 1
    while (i < len) {
      v = (v << 8) | (bytes(p + i) & 0xffL)
      i += 1
    }
    if (!keepMarker) {
      val allOnes = (1L << (7 * len)) - 1
      if (v == allOnes) return Some((-1L, len)) // unknown size
    }
    Some((v, len))
  }

  private def uint(bytes: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len && i < 8) { v = (v << 8) | (bytes(off + i) & 0xffL); i += 1 }
    v
  }

  private def float(bytes: Array[Byte], off: Int, len: Int): Double = len match {
    case 4 => java.lang.Float.intBitsToFloat(uint(bytes, off, 4).toInt).toDouble
    case 8 => java.lang.Double.longBitsToDouble(uint(bytes, off, 8))
    case _ => Double.NaN
  }

  private def str(bytes: Array[Byte], off: Int, len: Int): String =
    // cap: a corrupt unknown-size element can hand a child the rest of
    // the buffer; metadata strings are never legitimately this long
    new String(bytes, off, math.min(len, 4096), StandardCharsets.UTF_8)

  /** Walk children of [start, limit): f(id, bodyOff, bodyLen) for each
    * child with a known size; a child with UNKNOWN size (streamed
    * Segment/Cluster) extends to the limit, so f gets the rest and the
    * walk ends there.
    */
  private def children(bytes: Array[Byte], start: Int, limit: Int)(
      f: (Long, Int, Int) => Unit): Unit = {
    var p = start
    var n = 0
    while (p < limit && n < 4096) {
      val (id, idLen) = vint(bytes, p, keepMarker = true).getOrElse(return)
      val (size, szLen) = vint(bytes, p + idLen, keepMarker = false).getOrElse(return)
      val body = p + idLen + szLen
      if (size < 0) { // unknown size: runs to the enclosing limit
        // clamp: a header vint crossing the parent limit would hand the
        // child a NEGATIVE length (limit - body < 0) and str() would
        // throw StringIndexOutOfBoundsException past the AIOOBE-only
        // catch in extract() (ADVICE r6)
        f(id, body, math.max(0, limit - body))
        return
      }
      if (size > limit - body) return // truncated child
      f(id, body, size.toInt)
      p = body + size.toInt
      n += 1
    }
  }

  /** The EBML DocType ("webm" / "matroska") — also the Magic sniff hook. */
  def docType(bytes: Array[Byte]): Option[String] = {
    if (bytes.length < 8) return None
    val (id, idLen) = vint(bytes, 0, keepMarker = true).getOrElse(return None)
    if (id != IdEbml) return None
    val (size, szLen) = vint(bytes, idLen, keepMarker = false).getOrElse(return None)
    val body = idLen + szLen
    val lim = if (size < 0) math.min(bytes.length, body + 256)
    else math.min(bytes.length.toLong, body.toLong + size).toInt
    var out: Option[String] = None
    children(bytes, body, lim) { (cid, off, len) =>
      if (cid == IdDocType && len > 0 && len <= 32 && out.isEmpty)
        out = Some(str(bytes, off, len).takeWhile(_ != 0.toChar))
    }
    out
  }

  /** Container metadata; `hasVideo`/`hasAudio` drive the content type
    * (audio-only WebM is audio/webm).
    */
  final case class Mkv(metadata: Map[String, String], hasVideo: Boolean,
      hasAudio: Boolean)

  def parse(bytes: Array[Byte]): Mkv = {
    var meta = Map.empty[String, String]
    docType(bytes).foreach(dt => meta += ("doctype" -> dt))
    var timestampScale = 1000000L // Matroska default: 1 ms units
    var durationUnits = Double.NaN
    var hasVideo = false
    var hasAudio = false

    def trackEntry(off: Int, len: Int): Unit = {
      var ttype = -1L
      var codec = ""
      var vw = 0L; var vh = 0L
      var rate = Double.NaN; var chans = 0L
      children(bytes, off, off + len) { (id, o, l) =>
        id match {
          case IdTrackType => ttype = uint(bytes, o, l)
          case IdCodecId   => codec = str(bytes, o, l)
          case IdVideo =>
            children(bytes, o, o + l) { (vid, vo, vl) =>
              vid match {
                case IdPixelWidth  => vw = uint(bytes, vo, vl)
                case IdPixelHeight => vh = uint(bytes, vo, vl)
                case _             => ()
              }
            }
          case IdAudio =>
            children(bytes, o, o + l) { (aid, ao, al) =>
              aid match {
                case IdSamplingFrequency => rate = float(bytes, ao, al)
                case IdChannels          => chans = uint(bytes, ao, al)
                case _                   => ()
              }
            }
          case _ => ()
        }
      }
      ttype match {
        case 1 => // video
          hasVideo = true
          if (codec.nonEmpty) meta += ("xmpDM:videoCompressor" -> codec)
          if (vw > 0 && vh > 0 && vw <= (1 << 16) && vh <= (1 << 16)) {
            meta += ("Image Width" -> s"$vw pixels")
            meta += ("Image Height" -> s"$vh pixels")
          }
        case 2 => // audio
          hasAudio = true
          if (codec.nonEmpty) meta += ("xmpDM:audioCompressor" -> codec)
          if (rate > 0 && rate <= 1e7)
            meta += ("xmpDM:audioSampleRate" ->
              (if (rate == rate.toLong.toDouble) rate.toLong.toString
               else rate.toString))
          if (chans > 0 && chans <= 64) meta += ("channels" -> chans.toString)
        case _ => ()
      }
    }

    children(bytes, 0, bytes.length) { (id, off, len) =>
      if (id == IdSegment) {
        children(bytes, off, off + len) { (sid, so, sl) =>
          sid match {
            case IdInfo =>
              children(bytes, so, so + sl) { (iid, io, il) =>
                iid match {
                  case IdTimestampScale =>
                    val v = uint(bytes, io, il)
                    if (v > 0) timestampScale = v
                  case IdDuration   => durationUnits = float(bytes, io, il)
                  case IdTitle      => meta += ("dc:title" -> str(bytes, io, il))
                  case IdMuxingApp  => meta += ("muxingApp" -> str(bytes, io, il))
                  case IdWritingApp => meta += ("writingApp" -> str(bytes, io, il))
                  case IdDateUtc if il == 8 =>
                    // signed nanoseconds since 2001-01-01T00:00:00 UTC
                    val ns = uint(bytes, io, 8) // full 8 bytes = raw bits
                    val epochMs = 978307200000L + ns / 1000000L
                    if (epochMs > 0 && epochMs < 4102444800000L)
                      meta += ("dcterms:created" ->
                        java.time.Instant.ofEpochMilli(epochMs).toString
                          .replace(".000Z", "Z"))
                  case _ => ()
                }
              }
            case IdTracks =>
              children(bytes, so, so + sl) { (tid, to, tl) =>
                if (tid == IdTrackEntry) trackEntry(to, tl)
              }
            case IdTags =>
              // Tags/Tag/SimpleTag (TagName, TagString): the place real
              // muxers put TITLE/ARTIST when Info has no Title
              children(bytes, so, so + sl) { (tid, to, tl) =>
                if (tid == IdTag) children(bytes, to, to + tl) { (stid, sto, stl) =>
                  if (stid == IdSimpleTag) {
                    var name = ""; var value = ""
                    children(bytes, sto, sto + stl) { (fid, fo, fl) =>
                      fid match {
                        case IdTagName   => name = str(bytes, fo, fl)
                        case IdTagString => value = str(bytes, fo, fl)
                        case _           => ()
                      }
                    }
                    val mapped = name.toUpperCase(Locale.ROOT) match {
                      case "TITLE"  => "dc:title"
                      case "ARTIST" => "xmpDM:artist"
                      case "GENRE"  => "xmpDM:genre"
                      case _        => null
                    }
                    if (mapped != null && value.nonEmpty && !meta.contains(mapped))
                      meta += (mapped -> value)
                  }
                }
              }
            case _ => () // Cluster / Cues / SeekHead: payload scope
          }
        }
      }
    }
    if (!durationUnits.isNaN && durationUnits >= 0) {
      val secs = durationUnits * timestampScale / 1e9
      meta += ("xmpDM:duration" -> "%.3f".formatLocal(Locale.ROOT, secs))
    }
    Mkv(meta, hasVideo, hasAudio)
  }

  /** The dispatch surface: (content type, metadata). */
  def extract(bytes: Array[Byte], matroska: Boolean): (String, Map[String, String]) = {
    val m = try parse(bytes) catch {
      case _: ArrayIndexOutOfBoundsException => Mkv(Map.empty, false, false)
    }
    val base = if (matroska) "x-matroska" else "webm"
    val major = if (!m.hasVideo && m.hasAudio) "audio" else "video"
    (s"$major/$base", m.metadata)
  }
}
