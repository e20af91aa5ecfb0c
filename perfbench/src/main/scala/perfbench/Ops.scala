package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.corpus.Gen
import graft.operators.{Multimodal, Par}
import Main._

/** `ops_suite`: the training-data operator leaves, once each per job, in
  * a fixed order, against a seeded input dir. Every job runs on its own
  * copy of the inputs, so the keyed one-slot caches
  * (`Dedup.minhashLshCached`, `Multimodal.imageAnalysisCached`) start
  * empty and every timed leaf is its first run on its input.
  */
object Ops {

  /** One leaf per operator family and per native function family, with
    * the media leaves that run the pixel decoders. A Spark job costs
    * ~0.5 s of fixed overhead at local[2], so every leaf costs a run about
    * a second whatever its input size; the list is what fits a run.
    */
  val Leaves = Seq(
    "dedup_minhash_lsh", "dedup_simhash", "ann_lsh", "curate_filter",
    "text_langid", "x_media_features")

  /** `x_media_features` as `SparkEntry.queries` defines it, reading the
    * media table of `dir/corpus` (SparkEntry's own lookup resolves corpora
    * under a fixed data root outside the benchmark's checkout).
    */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    Par.tune(s)
    Multimodal.imageAnalysisCached(s, Gen.readMedia(s, s"$dir/corpus"), dir)
      .select(col("media_ref"), col("content_type"), col("width"),
        col("height"), col("exif_software"), col("feature"),
        col("pixel_decode"), col("decode_ok"))
      .withColumn("feature", to_json(col("feature")))
      .orderBy("media_ref")
  }

  def leafDf(s: SparkSession, leaf: String, dir: String): DataFrame =
    if (leaf == "x_media_features") mediaFeatures(s, dir)
    else SparkEntry.queries(leaf)(s, dir)

  /** Timed suite passes at least; the suite time is their median. */
  val MinPasses = 1

  final case class Sizes(docs: Int, vecs: Int, mediaDocs: Long)

  /** Warm-up inputs come from another seed. */
  def warmSeed(seed: Long): Long = seed + 1000003L

  def writeInputs(spark: SparkSession, dir: String, n: Sizes, seed: Long): Unit = {
    Inputs.writeTables(spark, dir, n.docs, n.vecs, seed)
    Gen.writeCorpus(spark, s"$dir/corpus", n.mediaDocs, seed, overwrite = true)
  }

  final case class LeafRun(leaf: String, wallS: Double, cpuS: Double,
      out: String, ok: Boolean)

  /** One suite pass over the input copy in `root/in`. A leaf that throws
    * counts as failed; the suite goes on.
    */
  def pass(spark: SparkSession, ctx: Ctx, root: String,
      leaves: Seq[String] = Leaves): Seq[LeafRun] =
    leaves.map { leaf =>
      val out = s"$root/out/$leaf"
      val c0 = processCpuS
      val t0 = System.nanoTime()
      val ok = ctx.spans(s"ops.$leaf") {
        scala.util.Try(leafDf(spark, leaf, s"$root/in").write.mode("overwrite").parquet(out))
      }.fold(e => { System.err.println(s"[perfbench] $leaf failed: $e"); false }, _ => true)
      LeafRun(leaf, (System.nanoTime() - t0) / 1e9, processCpuS - c0, out, ok)
    }

  def copyInput(input: String, root: String): Unit =
    FileUtils.copyDirectory(new File(input), new File(s"$root/in"))

  def suite(spark: SparkSession, ctx: Ctx): Outcome = {
    val a = ctx.a; val spans = ctx.spans
    val input = s"${a.work}/ops-input"
    val warmInput = s"${a.work}/ops-warm-input"
    spans.phase("setup.inputs") {
      writeInputs(spark, input, a.opsSizes, a.seed)
      // warm-up runs on another seed's inputs: the JIT and Spark's codegen
      // cache warm up, the operators' keyed caches stay cold
      writeInputs(spark, warmInput, a.opsWarmSizes, warmSeed(a.seed))
    }
    // the oracle SQL of the leaves that have one, for the DuckDB check
    val sql = SparkEntry.oracleSql.filter { case (k, _) => Leaves.contains(k) }
    new ObjectMapper().writeValue(new File(s"${a.work}/oracle_sql.json"), sql.asJava)
    spans.phase("setup.warmup") {
      copyInput(warmInput, s"${a.work}/ops-warm")
      pass(spark, ctx, s"${a.work}/ops-warm")
    }
    ctx.endSetup()
    val docs = a.opsSizes.docs.toLong
    val inputBytes = Extraction.listFiles(input).values.sum
    val results = scala.collection.mutable.Map.empty[Int, Seq[LeafRun]]
    def root(k: Int) = s"${a.work}/ops/pass-$k"
    // a job is one suite pass: its wall is the sum of the leaves' walls
    val jobs = closedLoop(spans, a.seconds, MinPasses, k => copyInput(input, root(k))) { k =>
      results(k) = pass(spark, ctx, root(k))
      (docs, inputBytes)
    }
    ctx.endTimed(jobs)
    Leaves.foreach { l =>
      val rs = results.values.flatMap(_.filter(_.leaf == l)).toSeq
      ctx.layers(s"ops.$l.s") = (medianOf(rs.map(_.wallS)), "s")
      ctx.layers(s"ops.$l.cpu_s") = (medianOf(rs.map(_.cpuS)), "s")
    }
    Layers.fillMissing(ctx)
    // the leaves without an oracle run once more, untimed, on a fresh copy
    // of the inputs (their keyed caches cold again): oracle.py requires the
    // same md5 from every run, whatever the seed
    val recheck = jobs.size + 1
    spans.phase("recheck") {
      copyInput(input, root(recheck))
      results(recheck) = pass(spark, ctx, root(recheck), Leaves.filterNot(sql.contains))
    }
    // only leaves that ran go to the oracle check; the rest fail here
    val runs = results.toSeq.flatMap { case (k, rs) => rs.map(k -> _) }
    val failed = runs.count(!_._2.ok).toLong
    Outcome(failed, failed, ctx.e2e, ctx.layers,
      runs.filter(_._2.ok).map { case (k, r) => (r.leaf, k, r.out) }, input)
  }
}
