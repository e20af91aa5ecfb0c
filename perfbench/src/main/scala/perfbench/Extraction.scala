package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Gen
import graft.kernel.Extract
import graft.spark.{IcebergLite, Runner}
import Main._

/** `extract_resume`: one job extracts the seed's `Gen` corpus into an
  * empty table in two `Runner.run` calls, the way a crashed run is caught
  * up. The first run commits a seeded 95% of the docs (a fresh run: no
  * committed table, media gate off); the second gets every doc and
  * resumes (left_anti against the committed doc_ids, media gate on), so it
  * extracts the missing 5%. Payloads are read from parquet every time.
  */
object Extraction {

  val WarmJobs = 1
  val MinJobs = 3
  val CommittedPercent = 95

  /** Key columns (`job` when present, `doc_id`) and the spans' fingerprint,
    * the same sha2/to_json one `PipelineSpec` and `SweepCheck` use.
    */
  def fingerprints(df: DataFrame): DataFrame =
    df.select(df.columns.filter(Keys.contains).map(col).toSeq :+
      sha2(to_json(col("spans")), 256).as("fp"): _*)

  private val Keys = Seq("job", "snap", "doc_id")

  /** Rows whose span sequence differs from the golden one (kind, text,
    * media_ref, order), plus rows present on one side only (a doc lost, or
    * committed into the wrong snapshot), plus every doc held by more than
    * one row of a job (committed twice, in one snapshot or in two).
    * `golden` holds exactly the (job, snap, doc_id) keys `out` must hold.
    */
  def mismatches(out: DataFrame, golden: DataFrame): Long = {
    val fp = fingerprints(out)
    val wrong = fp.as("a").join(golden.as("b"), Keys, "full_outer")
      .filter(col("a.fp").isNull || col("b.fp").isNull || col("a.fp") =!= col("b.fp"))
      .count()
    val repeated = fp.groupBy(Keys.filter(k => k != "snap" && fp.columns.contains(k)).map(col): _*)
      .count().filter(col("count") > 1).count()
    wrong + repeated
  }

  /** Self-test hook: what a broken engine would write. `spans` blanks one
    * doc's spans; `dup` commits one doc a second time, unchanged.
    */
  def corrupted(df: DataFrame, how: String): DataFrame = {
    val victim = df.agg(min("doc_id")).head().getString(0)
    if (how == "dup") df.unionByName(df.filter(col("doc_id") === victim))
    else df.withColumn("spans", when(col("doc_id") === victim,
      slice(col("spans"), 1, 0)).otherwise(col("spans")))
  }

  def bytesIn(df: DataFrame): Long =
    Option(df.agg(sum("bytes_in")).head().get(0)).map(_.toString.toLong).getOrElse(0L)

  /** Distinct media rows referenced by `docs`' spans that exist in `media`. */
  def referencedMedia(docs: DataFrame, media: DataFrame): Long =
    docs.select(explode(col("spans.media_ref")).as("media_ref"))
      .filter(col("media_ref").isNotNull).distinct()
      .join(media.select("media_ref"), Seq("media_ref"), "left_semi").count()

  /** Relative path -> size of every file under `dir`. */
  def listFiles(dir: String): Map[String, Long] = {
    val root = new File(dir)
    if (!root.exists()) Map.empty
    else FileUtils.listFiles(root, null, true).asScala
      .map(f => root.toPath.relativize(f.toPath).toString -> f.length()).toMap
  }

  def run(spark: SparkSession, ctx: Ctx): Outcome = {
    val a = ctx.a; val spans = ctx.spans
    val corpus = s"${a.work}/corpus"
    spans.phase("setup.inputs")(
      Gen.writeCorpus(spark, corpus, a.corpusDocs, a.seed, overwrite = true))
    def docs = Gen.readDocs(spark, corpus)
    def media = Gen.readMedia(spark, corpus)
    val committed: Column =
      pmod(xxhash64(col("doc_id"), lit(a.seed)), lit(100)) < CommittedPercent

    val firstS = mutable.Map.empty[Int, Double]
    val resumeS = mutable.Map.empty[Int, Double]
    val calls = mutable.Map.empty[Int, Long]
    def dirOf(k: Int) = s"${a.work}/jobs/job-$k"
    val sc = spark.sparkContext
    // the Spark jobs of each step carry the pass and step (StageTrace)
    def step[A](name: String)(body: => A): A = {
      sc.setLocalProperty(StageTrace.StepProperty, name)
      try spans(name)(body) finally sc.setLocalProperty(StageTrace.StepProperty, null)
    }
    def job(k: Int): (Long, Long) = {
      sc.setLocalProperty(StageTrace.PassProperty, k.toString)
      val c0 = Extract.mediaCalls.get()
      val t0 = System.nanoTime()
      val first = step("runner.first")(
        Runner.run(spark, docs.filter(committed), media, dirOf(k), s"first-$k"))
      val t1 = System.nanoTime()
      val resumed = step("runner.resume")(Runner.run(spark, docs, media, dirOf(k), s"resume-$k"))
      sc.setLocalProperty(StageTrace.PassProperty, null)
      firstS(k) = (t1 - t0) / 1e9
      resumeS(k) = (System.nanoTime() - t1) / 1e9
      calls(k) = Extract.mediaCalls.get() - c0
      (first.docsProcessed + resumed.docsProcessed, 0L)
    }
    // warm-up jobs are numbered below zero: they never mix with timed ones
    spans.phase("setup.warmup") {
      (1 to WarmJobs).foreach(i => spans.phase(s"setup.warmup.$i")(job(-i)))
    }
    ctx.endSetup()
    val timed = closedLoop(spans, a.seconds, MinJobs)(job)
    // payload bytes are a property of the corpus: read them once
    val bytes = bytesIn(IcebergLite.readAll(spark, Runner.extractedDir(dirOf(1))).get)
    val jobs = timed.map(_.copy(bytes = bytes))
    ctx.endTimed(jobs)
    ctx.layers("runner.first_s") = (medianOf(jobs.map(j => firstS(j.pass))), "s")
    ctx.layers("runner.resume_s") = (medianOf(jobs.map(j => resumeS(j.pass))), "s")

    // correctness of every timed job: snapshot 0 holds exactly the
    // committed docs, snapshot 1 exactly the rest (exactly-once), each doc
    // with the generator's golden span sequence; all jobs in one action
    var attempted = 0L; var failed = 0L
    spans.phase("verify") {
      // every row of every timed job's table, keyed by (job, snapshot, doc)
      val out = jobs.map(j => IcebergLite.readAll(spark, Runner.extractedDir(dirOf(j.pass))).get
        .withColumn("job", lit(j.pass))
        .withColumn("snap", regexp_extract(input_file_name(), "/snap-(\\d+)/", 1).cast("int")))
        .reduce(_ unionByName _)
      // what it must be: each doc once, in snapshot 0 if committed first
      val expected = fingerprints(Gen.readGolden(spark, corpus))
        .join(docs.select(col("doc_id"), when(committed, 0).otherwise(1).as("snap")), "doc_id")
        .crossJoin(spark.range(1, jobs.size + 1).select(col("id").cast("int").as("job")))
      attempted = jobs.size * a.corpusDocs
      failed = mismatches(if (a.corrupt.nonEmpty) corrupted(out, a.corrupt) else out, expected) +
        jobs.count(j => IcebergLite.currentSnapshot(Runner.extractedDir(dirOf(j.pass))) != 1L)
    }

    if (a.trace) {
      Layers.spark(ctx, jobs, calls.toMap, referencedMedia(docs, media), k => dirOf(k))
      val kernelDocsPerS = Layers.kernel(ctx, spark, docs, media)
      ctx.layers("spark_tax") = (medianOf(jobs.map(j => j.docs / j.wallS)) / kernelDocsPerS, "ratio")
      ctx.layers("scale_1_to_2") = (scaling(spark, ctx, docs.filter(committed),
        medianOf(jobs.map(j => firstS(j.pass)))), "ratio")
    }
    Layers.fillMissing(ctx)
    Outcome(attempted, failed, ctx.e2e, ctx.layers)
  }

  /** N docs at local[1] against 2N at local[2] (1.0 = linear): a fresh
    * run over half of the committed docs in a new one-core session,
    * against the timed first runs. Stops the benchmark's session.
    */
  def scaling(spark: SparkSession, ctx: Ctx, firstDocs: DataFrame, t2: Double): Double = {
    val half = s"${ctx.a.work}/half"
    firstDocs.filter(pmod(xxhash64(col("doc_id")), lit(Cores)) === 0)
      .write.parquet(s"$half/docs.parquet")
    spark.stop()
    val one = session(ctx.a.work, 1)
    val t1 = (1 to 2).map { i =>
      val t0 = System.nanoTime()
      Runner.run(one, one.read.parquet(s"$half/docs.parquet"),
        Gen.readMedia(one, s"${ctx.a.work}/corpus"), s"$half/out-$i", s"scale-$i")
      (System.nanoTime() - t0) / 1e9
    }.last
    t1 / t2
  }
}
