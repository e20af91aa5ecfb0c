package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.Gen
import graft.spark.{IcebergLite, Pipeline, Runner}

/** End-to-end Spark pipeline tests: span-sequence equality against
  * generator goldens (the BASELINE.json invariant), partition-count
  * invariance (the sandbox stand-in for cluster-size invariance), exact
  * resume, and the failure taxonomy.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val corpusDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    Gen.writeCorpus(spark, dir, nDocs = 400)
    dir
  }

  def freshOut(): String =
    java.nio.file.Files.createTempDirectory("graft-out").toString

  /** Canonical per-doc span fingerprint for order-insensitive-by-doc,
    * order-sensitive-within-doc comparison.
    */
  def spanFingerprints(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"),
      sha2(to_json(col("spans")), 256).as("fp"))

  test("span-sequence equality vs generator goldens = 100% (BASELINE.json metric)") {
    spark.sparkContext.setLogLevel("WARN")
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    val out = Pipeline.extract(spark, docs, media).toDF().cache()

    val golden = Gen.readGolden(spark, corpusDir)
    val mismatches = spanFingerprints(out).as("a")
      .join(spanFingerprints(golden).as("b"), Seq("doc_id"), "full_outer")
      .filter(col("a.fp").isNull || col("b.fp").isNull || col("a.fp") =!= col("b.fp"))
    val bad = mismatches.count()
    if (bad > 0) {
      val badIds = mismatches.select("doc_id").limit(5).collect().map(_.getString(0))
      val g = golden.filter(col("doc_id").isin(badIds: _*)).collect().mkString("\n")
      val o = out.filter(col("doc_id").isin(badIds: _*))
        .select("doc_id", "spans").collect().mkString("\n")
      fail(s"$bad docs mismatched. ids=${badIds.mkString(",")}\nGOLDEN:\n$g\nGOT:\n$o")
    }
    assert(out.count() == 400)
  }

  test("pipeline is invariant to parallelism (2 vs 16 salt partitions)") {
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    val a = Pipeline.extract(spark, docs, media, Pipeline.Config(saltPartitions = 2)).toDF()
    val b = Pipeline.extract(spark, docs, media, Pipeline.Config(saltPartitions = 16)).toDF()
    val diff = spanFingerprints(a).as("a")
      .join(spanFingerprints(b).as("b"), Seq("doc_id"), "full_outer")
      .filter(col("a.fp") =!= col("b.fp")).count()
    assert(diff == 0)
  }

  test("media gate: broadcast semi-join under the key cap, dropped above it") {
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    // r7: the gate defaults OFF for fresh runs (Runner re-enables it on
    // resume); gate-shape assertions opt in explicitly
    val below = Pipeline.extract(spark, docs, media,
      Pipeline.Config(gateMediaByReference = true)).toDF()
    val planBelow = below.queryExecution.executedPlan.toString
    assert(planBelow.contains("LeftSemi"), "gate must semi-join under the cap")
    assert(planBelow.contains("Broadcast"), "the key set must be broadcast, never shuffled")
    // cap 0 simulates the ~1e9-key full-scale regime: the gate drops out
    // entirely (no payload-shuffling semi-join may appear in its place)
    val above = Pipeline.extract(spark, docs, media,
      Pipeline.Config(gateMediaByReference = true, gateBroadcastMaxKeys = 0)).toDF()
    val planAbove = above.queryExecution.executedPlan.toString
    assert(!planAbove.contains("LeftSemi"),
      "above the cap the gate is dropped; a shuffled semi-join would move payloads")
    // and the results are identical either way (left join drops extras)
    val diff = spanFingerprints(below).as("a")
      .join(spanFingerprints(above).as("b"), Seq("doc_id"), "full_outer")
      .filter(col("a.fp").isNull || col("b.fp").isNull || col("a.fp") =!= col("b.fp"))
      .count()
    assert(diff == 0)
  }

  test("doc-level envelope: content types, language, sorted metadata") {
    val docs = Gen.readDocs(spark, corpusDir).limit(0) // placeholder no-op
    assert(docs.count() == 0)
    val out = Pipeline.extract(spark,
      Gen.readDocs(spark, corpusDir), Gen.readMedia(spark, corpusDir)).toDF().cache()
    // content types observed match the claimed major kinds
    val cts = out.select("content_type").distinct().collect().map(_.getString(0)).toSet
    assert(cts.exists(_.startsWith("text/plain")))
    assert(cts.contains("application/pdf"))
    assert(cts.exists(_.startsWith("application/vnd.openxmlformats")))
    // metadata keys are sorted case-insensitively per doc
    val rows = out.select("metadata").limit(50).collect()
    rows.foreach { r =>
      val keys = r.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
      assert(keys == keys.sortBy(_.toLowerCase), s"unsorted keys: $keys")
    }
    // engine-injected keys always present (document_processing_spec.rb:107-126)
    val missing = out.filter(
      !array_contains(col("metadata.key"), "Content-Type") ||
      !array_contains(col("metadata.key"), "rika:language") ||
      !array_contains(col("metadata.key"), "rika:data-source")).count()
    assert(missing == 0)
  }

  test("exact resume: two-phase run produces the full result exactly once") {
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    // phase 1: only half the docs "arrive" (simulates a killed run whose
    // first snapshot committed)
    val half = docs.filter(abs(hash(col("doc_id"))) % 2 === 0)
    val s1 = Runner.run(spark, half, media, outDir, "run-1")
    assert(s1.snapshotId == 0)
    // phase 2: full corpus; only the remainder may be processed
    val s2 = Runner.run(spark, docs, media, outDir, "run-2")
    assert(s2.snapshotId == 1)
    val all = IcebergLite.readAll(spark, Runner.extractedDir(outDir)).get
    assert(all.count() == 400)
    assert(all.select("doc_id").distinct().count() == 400)
    // run stats count exactly what each snapshot holds
    for ((st, id) <- Seq(s1 -> 0L, s2 -> 1L)) {
      val snapDf = IcebergLite.readSnapshot(spark, Runner.extractedDir(outDir), id)
      assert(st.docsProcessed == snapDf.count(), s"snapshot $id docs")
      assert(st.docsFailed == snapDf.filter(col("status") =!= "ok").count(),
        s"snapshot $id failed docs")
    }
    // re-running with nothing to do appends an empty snapshot
    val s3 = Runner.run(spark, docs, media, outDir, "run-3")
    assert(s3.docsProcessed == 0 && s3.docsFailed == 0)
    // lineage columns present
    assert(all.columns.contains("part_id") && all.columns.contains("run_id"))
    // metrics table exists with per-partition rows
    val m = IcebergLite.readAll(spark, Runner.metricsDir(outDir)).get
    assert(m.select("run_id").distinct().count() >= 2)
  }

  test("IcebergLite manifests record the rows each snapshot holds") {
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    val half = docs.filter(abs(hash(col("doc_id"))) % 2 === 0)
    Runner.run(spark, half, media, outDir, "run-1")
    Runner.run(spark, docs, media, outDir, "run-2")
    val Rows = "\"rows\":(\\d+)".r.unanchored
    for (dir <- Seq(Runner.extractedDir(outDir), Runner.metricsDir(outDir)); id <- 0L to 1L) {
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/snapshots/$id.json")), "UTF-8")
      val Rows(rows) = manifest: @unchecked
      assert(rows.toLong == IcebergLite.readSnapshot(spark, dir, id).count(),
        s"$dir snapshot $id: $manifest")
    }
  }

  test("resume semi-join gate: phase 2 extracts ONLY the missing docs' media") {
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    val half = docs.filter(abs(hash(col("doc_id"))) % 2 === 0)
    Runner.run(spark, half, media, outDir, "run-1")

    // media referenced by the docs NOT yet committed = what phase 2 may extract
    val rest = docs.join(half.select("doc_id"), Seq("doc_id"), "left_anti")
    val expected = rest
      .select(explode(col("spans.media_ref")).as("r")).filter(col("r").isNotNull)
      .select("r").distinct().count()
    val totalMedia = media.count()
    assert(expected < totalMedia, "test needs a proper split")

    graft.kernel.Extract.mediaCalls.set(0L)
    Runner.run(spark, docs, media, outDir, "run-2")
    val calls = graft.kernel.Extract.mediaCalls.get()
    assert(calls == expected,
      s"gate leak: $calls kernel invocations for $expected referenced media ($totalMedia total)")

    // span equality unchanged: the combined table matches the goldens
    val all = IcebergLite.readAll(spark, Runner.extractedDir(outDir)).get
    val diff = spanFingerprints(all).as("a")
      .join(spanFingerprints(Gen.readGolden(spark, corpusDir)).as("b"), Seq("doc_id"), "full_outer")
      .filter(col("a.fp").isNull || col("b.fp").isNull || col("a.fp") =!= col("b.fp")).count()
    assert(diff == 0)
  }

  test("missing media_ref -> io_error row (default and salted config)") {
    import spark.implicits._
    val docs = Seq(
      graft.spark.DocRow("doc-x", Seq(graft.spark.Span("pdf", null, "m-nope", 0))),
      graft.spark.DocRow("doc-y", Seq(graft.spark.Span("txt", "hello world", null, 0)))
    ).toDF()
    val media = Seq(("m-other", "aGVsbG8=", 5L)).toDF("media_ref", "bytes_b64", "length")
    for (cfg <- Seq(Pipeline.Config(), Pipeline.Config(saltPartitions = 4))) {
      val out = Pipeline.extract(spark, docs, media, cfg).toDF()
      val rows = out.collect().map(r => r.getString(0) -> r.getString(6)).toMap
      assert(rows("doc-x") == "io_error", s"cfg=$cfg got $rows")
      assert(rows("doc-y") == "")
      assert(out.count() == 2)
    }
  }

  test("issueReport caps example doc_ids (no single-row bomb at scale)") {
    import spark.implicits._
    val outDir = freshOut()
    val rows = (1 to 250).map(i => (f"doc-$i%04d", "io_error", "failed", 0L,
      Seq.empty[graft.spark.Span])) ++
      Seq(("doc-ok", "", "ok", 3L, Seq.empty[graft.spark.Span]))
    val df = rows.toDF("doc_id", "issue_type", "status", "bytes_in", "spans")
      .withColumn("run_id", lit("t")).withColumn("part_id", lit(0))
    IcebergLite.append(df, Runner.extractedDir(outDir))
    val rep = Runner.issueReport(spark, outDir).collect()
    assert(rep.length == 1)
    assert(rep(0).getAs[Long]("n") == 250) // true count is NOT capped
    val ex = rep(0).getSeq[String](rep(0).fieldIndex("example_doc_ids")).toVector
    assert(ex.length == Runner.MaxExampleDocIds)
    assert(ex == ex.sorted) // deterministic sample: first 100 sorted ids
  }

  test("IcebergLite append is crash-safe: orphaned uncommitted snapshot is overwritten") {
    import spark.implicits._
    val dir = s"${freshOut()}/table"
    IcebergLite.append(Seq((1, "a")).toDF("k", "v"), dir)
    // simulate a crash AFTER data write + manifest write, BEFORE the
    // VERSION rename: snapshot id 1 exists on disk but is uncommitted
    Seq((2, "b")).toDF("k", "v").write.parquet(s"$dir/data/snap-1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/snapshots/1.json"),
      """{"id":1,"parent":0,"dir":"data/snap-1","rows":0}""")
    // resume must reuse id 1 automatically (overwrite), not fail
    val id = IcebergLite.append(Seq((3, "c")).toDF("k", "v"), dir)
    assert(id == 1)
    val all = IcebergLite.readAll(spark, dir).get.collect().map(_.getInt(0)).sorted
    assert(all.toSeq == Seq(1, 3)) // the orphaned row 2 is gone
  }

  test("failure taxonomy: empty payloads flagged, batch completes (rika_command_spec.rb:147-160)") {
    val out = Pipeline.extract(spark,
      Gen.readDocs(spark, corpusDir), Gen.readMedia(spark, corpusDir)).toDF()
    val issues = out.filter(col("issue_type") =!= "")
      .groupBy("issue_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(issues.contains("empty_file"), s"issues: $issues")
    // failed docs don't suppress ok docs
    assert(out.filter(col("status") === "ok").count() > 300)
  }
}
