package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.kernel.{JpegKernel, JpegDecoder, Magic, PngDecoder, GifDecoder, BmpDecoder, TiffDecoder, WavDecoder, RawImage}

/** Multimodal-column operators: image/audio/video ride as opaque binary
  * payloads with typed metadata. The codecs are REAL from byte stream to
  * pixel/sample plane — PNG (zlib + all five scanline filters), GIF
  * (hand-written variable-width LZW + deinterlace + animation
  * compositing), BMP (BI_RGB), baseline TIFF, JPEG (baseline sequential
  * DCT: Huffman + dequant + IDCT + 4:2:0 upsampling, JpegDecoder.scala),
  * WAV (PCM 8/16) — see kernel/PixelDecode.scala, round-tripped against
  * decode-grade writers in PixelDecodeSpec/JpegCodecSpec. Only WebP-VP8
  * and H.264-in-MP4 remain a declared deterministic stub (their
  * container metadata decode is real).
  */
object Multimodal {

  /** Pixel decode for the JVM-expressible image codecs; None elsewhere
    * (H.264-in-MP4 remains the declared perceptual stub). WebP routes
    * lossless (VP8L) and lossy key-frame (VP8) payloads to their
    * respective from-scratch decoders.
    */
  def decodePixels(bytes: Array[Byte], kind: Magic.Kind): Option[RawImage] = kind match {
    case Magic.Kind.Png  => PngDecoder.decode(bytes)
    case Magic.Kind.Gif  => GifDecoder.decode(bytes)
    case Magic.Kind.Bmp  => BmpDecoder.decode(bytes)
    case Magic.Kind.Tiff => TiffDecoder.decode(bytes)
    case Magic.Kind.Jpeg => JpegDecoder.decode(bytes)
    case Magic.Kind.Webp =>
      graft.kernel.Vp8lDecoder.decode(bytes)
        .orElse(graft.kernel.Vp8Decoder.decode(bytes))
    case _               => None
  }

  /** Header/EXIF metadata of an image (or MP4/HEIF) payload; empty for
    * kinds without a metadata kernel.
    */
  def imageMeta(bytes: Array[Byte], kind: Magic.Kind): Map[String, String] = kind match {
    case Magic.Kind.Jpeg => JpegKernel.extract(bytes)
    case Magic.Kind.Png  => graft.kernel.PngKernel.extract(bytes)
    case Magic.Kind.Gif  => graft.kernel.GifKernel.extract(bytes)
    case Magic.Kind.Bmp  => graft.kernel.BmpKernel.extract(bytes)
    case Magic.Kind.Webp => graft.kernel.WebpKernel.extract(bytes)
    case Magic.Kind.Tiff => graft.kernel.TiffKernel.extract(bytes)
    case Magic.Kind.Mp4  => graft.kernel.Mp4Kernel.extract(bytes)
    case Magic.Kind.Heic | Magic.Kind.Heif | Magic.Kind.Avif =>
      graft.kernel.HeifKernel.extract(bytes)
    case _               => Map.empty
  }

  /** dim-bin normalized luma histogram — the real feature vector. */
  def lumaHistogram(img: RawImage, dim: Int): Array[Float] = {
    val hist = new Array[Int](dim)
    val luma = img.luma
    var i = 0
    while (i < luma.length) {
      hist(math.min(dim - 1, luma(i) * dim / 256)) += 1
      i += 1
    }
    val n = math.max(1, luma.length).toFloat
    hist.map(_ / n)
  }

  /** Bins of the `feature` vector. */
  val FeatureDim = 8

  /** One image's metadata, features and perceptual hashes: ONE pixel
    * decode serves every consumer (decode dominates the cost), so
    * x_media_features and both image-dedup queries share it.
    * `feature` is the [[FeatureDim]]-bin normalized luma histogram (BT.601)
    * when pixel_decode=true, and a same-shaped deterministic byte-derived
    * placeholder for payloads with metadata but no pixel decoder.
    * ahash/phash are [[ImageOps.aHash64]] / [[ImageOps.pHash64]] and only
    * meaningful when pixel_decode=true.
    */
  final case class ImageAnalysis(
      media_ref: String,
      content_type: String,
      width: Int,
      height: Int,
      exif_software: String,
      feature: Array[Float],
      pixel_decode: Boolean,
      decode_ok: Boolean,
      ahash: Long,
      phash: Long)

  // One function instance for every plan: CacheManager matches a
  // MapPartitions node by its function's identity, so a fresh closure per
  // call would never find the persisted analysis table. For the same
  // reason `feature` is a primitive array: a Seq field's serializer draws
  // fresh lambda-variable ids for every encoder, so two plans never match.
  private val analyze: Iterator[(String, String)] => Iterator[ImageAnalysis] =
    _.map { case (ref, b64) =>
      val bytes =
        if (b64 == null || b64.isEmpty) Array.emptyByteArray
        else java.util.Base64.getDecoder.decode(b64)
      val kind = Magic.sniff(bytes)
      val meta = imageMeta(bytes, kind)
      val pixels = decodePixels(bytes, kind)
      val (ah, ph) = pixels match {
        case Some(img) => (ImageOps.aHash64(img), ImageOps.pHash64(img))
        case None      => (0L, 0L)
      }
      if (meta.nonEmpty || pixels.nonEmpty) {
        def px(k: String): Int =
          meta.get(k).map(_.takeWhile(_.isDigit)).filter(_.nonEmpty)
            .map(_.toInt).getOrElse(-1)
        val (w, h) = pixels.map(i => (i.width, i.height))
          .getOrElse((px("Image Width"), px("Image Height")))
        val feat = pixels match {
          case Some(img) => lumaHistogram(img, FeatureDim)
          case None      => stubFeature(bytes, FeatureDim)
        }
        ImageAnalysis(ref, Magic.contentTypeOf(kind, None), w, h,
          meta.getOrElse("Software", ""), feat,
          pixel_decode = pixels.nonEmpty, decode_ok = true, ah, ph)
      } else {
        ImageAnalysis(ref, Magic.contentTypeOf(kind, None), -1, -1, "",
          new Array[Float](FeatureDim), pixel_decode = false, decode_ok = false,
          ah, ph)
      }
    }

  /** Decode + feature/hash-extract over a media table (media_ref,
    * bytes_b64) in a single pixel-decode pass.
    * PNG/GIF/BMP/TIFF/JPEG/WebP: full pixel decode, real luma-histogram
    * features; metadata-only kinds (MP4, HEIF): real header/EXIF
    * metadata, stubbed pixel step.
    */
  def imageAnalysis(spark: SparkSession, media: DataFrame): Dataset[ImageAnalysis] = {
    import spark.implicits._
    media.select(col("media_ref"), col("bytes_b64"))
      .as[(String, String)]
      .mapPartitions(analyze)
  }

  /** [[imageAnalysis]] persisted (MEMORY_AND_DISK) on first use. Spark's
    * CacheManager substitutes the persisted table into any later plan of
    * the same analysis over the same media input, so x_media_features,
    * x_image_dups and x_image_dups_xcodec pixel-decode each payload once
    * per input. `key` is not read; perfbench still passes it.
    */
  def imageAnalysisCached(spark: SparkSession, media: DataFrame,
      key: String = ""): DataFrame = {
    val df = imageAnalysis(spark, media).toDF()
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    else df
  }

  /** STUB decode: deterministic feature from payload bytes (stands in for
    * the perceptual-codec decode + model forward pass; keeps tests/benches
    * meaningful because it is content-sensitive and cheap).
    */
  private def stubFeature(bytes: Array[Byte], dim: Int): Array[Float] = {
    val acc = new Array[Long](dim)
    var i = 0
    while (i < bytes.length) {
      acc(i % dim) += (bytes(i) & 0xff)
      i += 1
    }
    acc.map(v => (v % 1000).toFloat / 1000.0f)
  }

  final case class AudioFeature(
      media_ref: String,
      content_type: String,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Int,
      duration_s: Float,
      rms: Float,
      zero_cross_rate: Float,
      peak: Float,
      decode_ok: Boolean)

  /** REAL audio decode + feature extraction for PCM WAV payloads: RMS
    * energy, zero-crossing rate and peak over the decoded mono stream —
    * the standard cheap audio-quality signals a training-data pipeline
    * filters on. Non-WAV (or non-PCM) payloads yield decode_ok=false rows.
    */
  def audioFeatures(spark: SparkSession, media: DataFrame): Dataset[AudioFeature] = {
    import spark.implicits._
    media.select(col("media_ref"), col("bytes_b64"))
      .as[(String, String)]
      .mapPartitions { it =>
        it.map { case (ref, b64) =>
          val bytes =
            if (b64 == null || b64.isEmpty) Array.emptyByteArray
            else java.util.Base64.getDecoder.decode(b64)
          val kind = Magic.sniff(bytes)
          val ct = Magic.contentTypeOf(kind, None)
          (if (kind == Magic.Kind.Wav) WavDecoder.decode(bytes) else None) match {
            case Some(pcm) if pcm.samples.nonEmpty =>
              var sumSq = 0.0
              var crossings = 0
              var peak = 0.0f
              var i = 0
              var prevSign = pcm.samples(0) >= 0
              while (i < pcm.samples.length) {
                val s = pcm.samples(i)
                sumSq += s.toDouble * s
                val sign = s >= 0
                if (sign != prevSign) crossings += 1
                prevSign = sign
                val a = math.abs(s)
                if (a > peak) peak = a
                i += 1
              }
              val n = pcm.samples.length
              AudioFeature(ref, ct, pcm.sampleRate, pcm.channels, pcm.bits, n,
                n.toFloat / pcm.sampleRate,
                math.sqrt(sumSq / n).toFloat,
                crossings.toFloat / n, peak, decode_ok = true)
            case _ =>
              AudioFeature(ref, ct, -1, -1, -1, 0, 0f, 0f, 0f, 0f, decode_ok = false)
          }
        }
      }
  }

  /** Frame sampler: one media row -> N frame rows of
    * (media_ref, frame_idx, frame_checksum, ts_ms, offset, size, keyframe).
    *
    * For animated GIF the decode is REAL: every image descriptor is
    * LZW-decoded and composited (transparency + disposal), every
    * `stride`-th composite is emitted with its luma sum as the frame
    * checksum and the cumulative GCE delay as a genuine timestamp
    * (offset/size are -1: composites have no contiguous byte range;
    * keyframe=true — each emitted frame is a fully materialized plane).
    *
    * For MP4 the sample tables (stts/stsc/stsz/stco/stss) are parsed for
    * real: every `stride`-th SAMPLE is emitted with its true decode
    * timestamp (mdhd timescale), absolute byte offset, size, and
    * sync-sample flag, checksummed over its actual mdat byte range —
    * the genuine frame index of the file, no codec required (only the
    * pixel decode of those frame payloads — H.264 — stays out of scope).
    * MP4s without sample tables fall back to mvhd-scaled 1KB blocks;
    * other payloads get ts_ms = -1.
    */
  def frameSample(spark: SparkSession, media: DataFrame, stride: Int = 4): DataFrame = {
    import spark.implicits._
    media.select(col("media_ref"), col("bytes_b64")).as[(String, String)]
      .flatMap { case (ref, b64) =>
        val bytes =
          if (b64 == null || b64.isEmpty) Array.emptyByteArray
          else java.util.Base64.getDecoder.decode(b64)
        val kind = Magic.sniff(bytes)
        val gifFrames =
          if (kind == Magic.Kind.Gif) GifDecoder.decodeFrames(bytes) else None
        val mp4Samples =
          if (kind == Magic.Kind.Mp4) graft.kernel.Mp4Kernel.sampleTable(bytes)
          else None
        (gifFrames, mp4Samples) match {
          case (Some(anim), _) =>
            // real decoded frames: cumulative delay timestamps
            val ts = anim.frames.scanLeft(0L)(_ + _.delayMs)
            anim.frames.zipWithIndex
              .filter { case (_, i) => i % stride == 0 }
              .map { case (fr, i) =>
                var s = 0L
                val luma = fr.image.luma
                var j = 0
                while (j < luma.length) { s += luma(j); j += 1 }
                (ref, i, s, ts(i), -1L, -1, true)
              }
          case (None, Some(samples)) =>
            // real sample index: stride over samples, checksum the range
            samples.indices.by(stride).map { i =>
              val sm = samples(i)
              var s = 0L
              // clamp both ends: a crafted/truncated table must degrade
              // (checksum over the in-file range only), never throw
              var p = math.max(0L, sm.offset)
              val end = math.min(math.max(p, sm.offset + sm.size), bytes.length.toLong)
              while (p < end) { s += (bytes(p.toInt) & 0xff); p += 1 }
              (ref, i, s, sm.tsMs, sm.offset, sm.size, sm.keyframe)
            }
          case _ =>
            val durMs =
              if (kind == Magic.Kind.Mp4) graft.kernel.Mp4Kernel.durationMs(bytes)
              else -1L
            val nBlocks = bytes.length / 1024
            val picked = (0 until nBlocks by stride)
            picked.zipWithIndex.map { case (f, k) =>
              var s = 0L
              var i = f * 1024
              while (i < (f + 1) * 1024 && i < bytes.length) { s += (bytes(i) & 0xff); i += 1 }
              val ts = if (durMs >= 0 && picked.size > 0) durMs * k / picked.size else -1L
              (ref, f, s, ts, f * 1024L, math.min(1024, bytes.length - f * 1024), false)
            }
        }
      }
      .toDF("media_ref", "frame_idx", "frame_checksum", "ts_ms", "offset",
        "size", "keyframe")
  }
}
