package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.Gen
import graft.spark.{IcebergLite, MetaEntry, Pipeline, Runner, SpanExtract}

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

  /** Runs `body` with the given session confs set, restoring them after. */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  def goldenMismatches(df: org.apache.spark.sql.DataFrame): Long =
    spanFingerprints(df).as("a")
      .join(spanFingerprints(Gen.readGolden(spark, corpusDir)).as("b"), Seq("doc_id"), "full_outer")
      .filter(col("a.fp").isNull || col("b.fp").isNull || col("a.fp") =!= col("b.fp")).count()

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

  test("pipeline is invariant to parallelism (2 vs 16 shuffle partitions)") {
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    def fingerprints(n: Int) = withConf("spark.sql.shuffle.partitions" -> n.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val out = Pipeline.extract(spark, docs, media).toDF()
      assert(out.rdd.getNumPartitions == n)
      spanFingerprints(out).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val (a, b) = (fingerprints(2), fingerprints(16))
    assert(a.size == 400 && a == b)
  }

  test("doc-level envelope: content types, language, sorted metadata") {
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
    out.unpersist()
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
    assert(IcebergLite.manifests(Runner.extractedDir(outDir)).last.rows == 0)
    // lineage columns present
    assert(all.columns.contains("part_id") && all.columns.contains("run_id"))
    // per-partition metrics of both runs that extracted docs; none of run-3
    val m = Runner.metrics(spark, outDir)
    assert(m.select("run_id").distinct().collect().map(_.getString(0)).toSet ==
      Set("run-1", "run-2"))
    assert(m.filter(col("run_id") === "run-3").count() == 0)
  }

  /** What the per-partition metrics of a snapshot must be: an aggregate
    * over the rows it holds, by the lineage columns they carry.
    */
  def metricsOracle(snapDf: org.apache.spark.sql.DataFrame) =
    snapDf.groupBy(col("run_id"), col("part_id")).agg(
      count(lit(1)).as("docs"),
      sum(when(col("status") === "ok", 1L).otherwise(0L)).as("docs_ok"),
      sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("docs_failed"),
      sum(col("bytes_in")).as("bytes_in"),
      sum(size(col("spans"))).as("out_spans"))

  test("run metrics equal the aggregate over each committed snapshot, fresh and resumed") {
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    val half = docs.filter(abs(hash(col("doc_id"))) % 2 === 0)
    // all 8 shuffle partitions write, so counts must land on the right part_id
    val stats = withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      Seq(Runner.run(spark, half, media, outDir, "run-1"),
        Runner.run(spark, docs, media, outDir, "run-2"))
    }
    val manifests = IcebergLite.manifests(Runner.extractedDir(outDir))
    val metrics = Runner.metrics(spark, outDir)
    for ((st, id) <- stats.zip(Seq(0L, 1L))) {
      val got = metrics.filter(col("snapshot_id") === id).drop("snapshot_id", "wall_ms")
      val want = metricsOracle(
        IcebergLite.readSnapshot(spark, Runner.extractedDir(outDir), id))
      assert(got.count() == want.count() && got.count() > 1, s"snapshot $id partitions")
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"snapshot $id: ${got.collect().mkString(",")} vs ${want.collect().mkString(",")}")
      val totals = got.agg(sum("docs"), sum("docs_failed")).head()
      assert(totals.getLong(0) == st.docsProcessed && totals.getLong(1) == st.docsFailed,
        s"snapshot $id stats")
      assert(totals.getLong(0) == manifests(id.toInt).rows, s"snapshot $id manifest rows")
    }
    assert(metrics.select("run_id", "snapshot_id").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet == Set("run-1" -> 0L, "run-2" -> 1L))
  }

  test("IcebergLite manifests record the rows each snapshot holds") {
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    val half = docs.filter(abs(hash(col("doc_id"))) % 2 === 0)
    Runner.run(spark, half, media, outDir, "run-1")
    Runner.run(spark, docs, media, outDir, "run-2")
    val Rows = "\"rows\":(\\d+)".r.unanchored
    val dir = Runner.extractedDir(outDir)
    for (id <- 0L to 1L) {
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/snapshots/$id.json")), "UTF-8")
      val Rows(rows) = manifest: @unchecked
      val snapDf = IcebergLite.readSnapshot(spark, dir, id)
      assert(rows.toLong == snapDf.count(), s"snapshot $id: $manifest")
      // and the rows of each partition, as its write task counted them
      val parts = IcebergLite.manifests(dir)(id.toInt).summary.get.parts
        .map(p => p.part_id -> p.docs).toMap
      val held = snapDf.groupBy("part_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(parts.values.sum == rows.toLong && parts == held, s"snapshot $id: $manifest")
    }
  }

  test("missing media_ref -> io_error row (8 and 4 shuffle partitions)") {
    import spark.implicits._
    val docs = Seq(
      graft.spark.DocRow("doc-x", Seq(graft.spark.Span("pdf", null, "m-nope", 0))),
      graft.spark.DocRow("doc-y", Seq(graft.spark.Span("txt", "hello world", null, 0)))
    ).toDF()
    val media = Seq(("m-other", "aGVsbG8=", 5L)).toDF("media_ref", "bytes_b64", "length")
    for (n <- Seq(8, 4)) withConf("spark.sql.shuffle.partitions" -> n.toString) {
      val out = Pipeline.extract(spark, docs, media).toDF()
      val rows = out.collect().map(r => r.getString(0) -> r.getString(6)).toMap
      assert(rows("doc-x") == "io_error", s"partitions=$n got $rows")
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
    import IcebergLite.{PartCounts, Summary}
    val outDir = freshOut()
    val dir = Runner.extractedDir(outDir)
    def summary(run: String, docs: Long) = Some(Summary(run, 5L,
      Seq(PartCounts(0, docs, docs, 0L, 7L * docs, docs))))
    def runs = Runner.metrics(spark, outDir).collect()
      .map(r => r.getAs[String]("run_id") -> r.getAs[Long]("docs")).toSeq
    IcebergLite.append(Seq((1, "a")).toDF("k", "v"), dir, summary("run-a", 1L))
    // simulate a crash AFTER data write + manifest write, BEFORE the
    // VERSION rename: snapshot id 1 exists on disk but is uncommitted
    Seq((2, "b")).toDF("k", "v").write.parquet(s"$dir/data/snap-1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/snapshots/1.json"),
      """{"id":1,"parent":0,"dir":"data/snap-1","rows":1,"summary":{"run_id":"crashed",""" +
      """"wall_ms":5,"parts":[{"part_id":0,"docs":1,"docs_ok":1,"docs_failed":0,""" +
      """"bytes_in":7,"out_spans":1}]}}""")
    // the orphan's metrics are invisible with its data
    assert(runs == Seq("run-a" -> 1L))
    // a summary that does not count the rows written is never committed
    val bad = intercept[IllegalStateException](
      IcebergLite.append(Seq((3, "c")).toDF("k", "v"), dir, summary("run-bad", 2L)))
    assert(bad.getMessage.contains("not committed"))
    assert(IcebergLite.currentSnapshot(dir) == 0 && runs == Seq("run-a" -> 1L))
    // resume must reuse id 1 automatically (overwrite), not fail
    val id = IcebergLite.append(Seq((3, "c")).toDF("k", "v"), dir, summary("run-b", 1L))
    assert(id == 1)
    val all = IcebergLite.readAll(spark, dir).get.collect().map(_.getInt(0)).sorted
    assert(all.toSeq == Seq(1, 3)) // the orphaned row 2 is gone
    assert(runs == Seq("run-a" -> 1L, "run-b" -> 1L)) // and so are its metrics
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

  test("resume: no semi-join, each media row extracted once, every doc committed once") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    Runner.run(spark, docs.filter(abs(hash(col("doc_id"))) % 2 === 0), media, outDir, "run-1")

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def resumePlans = plans.toArray.map(_.toString).filter(_.contains("LeftAnti"))
    spark.listenerManager.register(listener)
    graft.kernel.Extract.mediaCalls.set(0L)
    try {
      Runner.run(spark, docs, media, outDir, "run-2")
      // the listener is called on the listener bus: wait for the resume's write
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (resumePlans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(resumePlans.nonEmpty, "the resume's plan was not seen")
    assert(!resumePlans.exists(_.contains("LeftSemi")), "the resume must not semi-join media")
    // a resume runs the plan of a fresh run: each media row is extracted once
    assert(graft.kernel.Extract.mediaCalls.get() == media.count())
    val all = IcebergLite.readAll(spark, Runner.extractedDir(outDir)).get
    assert(all.count() == 400 && all.select("doc_id").distinct().count() == 400)
    assert(goldenMismatches(all) == 0)
  }

  test("payload bytes cross no exchange, and none is a broadcast") {
    import org.apache.spark.sql.catalyst.expressions.ExprId
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
    import org.apache.spark.sql.types._
    def binary(t: DataType): Boolean = t match {
      case BinaryType => true
      case s: StructType => s.fields.exists(f => binary(f.dataType))
      case a: ArrayType => binary(a.elementType)
      case m: MapType => binary(m.keyType) || binary(m.valueType)
      case _ => false
    }
    // a partial aggregate's buffer is binary: it serializes the
    // collect_list of extracted spans (text, no payload bytes)
    def buffers(e: Exchange) = e.child match {
      case agg: BaseAggregateExec =>
        agg.aggregateExpressions.flatMap(_.aggregateFunction.inputAggBufferAttributes)
          .map(_.exprId).toSet
      case _ => Set.empty[ExprId]
    }
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    // without AQE the executed plan is the whole plan, every exchange in it
    val plan = withConf("spark.sql.adaptive.enabled" -> "false") {
      Pipeline.extract(spark, docs, media).queryExecution.executedPlan
    }
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.isInstanceOf[BroadcastExchangeExec]), plan.toString)
    val payload = exchanges.filter(e => e.output.exists(a => !buffers(e)(a.exprId) &&
      (a.name == "bytes_b64" || binary(a.dataType))))
    assert(payload.isEmpty, s"payload bytes in ${payload.mkString("\n")}")
  }

  test("metadata key order does not depend on the JVM default locale") {
    val parts = Array(SpanExtract("doc-tr", 0, "media", Seq.empty, "m-1", "image/jpeg",
      Seq(MetaEntry("Software", "x"), MetaEntry("Image Width", "8")), "", 3L))
    val default = java.util.Locale.getDefault
    val keys = try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      Pipeline.assembleDoc("doc-tr", parts).metadata.map(_.key)
    } finally java.util.Locale.setDefault(default)
    assert(keys == Seq("Content-Type", "Image Width", "rika:data-source", "rika:language",
      "Software"))
  }

  test("corpus generation and extraction do not depend on the JVM default locale") {
    import graft.kernel.Extract
    val opt = Extract.Options(-1)
    // Gen.build + Extract + assembleDoc per doc, as Pipeline.extract
    // composes them, without Spark
    def run(locale: java.util.Locale) = {
      val default = java.util.Locale.getDefault
      try {
        java.util.Locale.setDefault(locale)
        (0L until 300L).map { i =>
          val b = Gen.build(Gen.Seed, i)
          val media = b.media.map(m => m.media_ref -> m.bytes_b64).toMap
          val parts = b.spans.map { s =>
            val (ref, out, bytesIn) =
              if (s.media_ref == null)
                (null, Extract.extractText(s.kind, s.text, opt),
                  if (s.text == null) 0L else s.text.length.toLong)
              else {
                val bytes = media.get(s.media_ref)
                  .map(java.util.Base64.getDecoder.decode(_)).orNull
                (s.media_ref, Extract.extractBytes("media", bytes, opt),
                  if (bytes == null) 0L else bytes.length.toLong)
              }
            SpanExtract(b.doc_id, s.offset,
              if (out.isMedia) "media" else if (out.blocks.nonEmpty) "text" else "none",
              out.blocks, ref, out.contentType,
              out.metadata.toSeq.map { case (k, v) => MetaEntry(k, v) },
              out.issue.getOrElse(""), bytesIn)
          }
          Pipeline.assembleDoc(b.doc_id, parts.toArray)
        }
      } finally java.util.Locale.setDefault(default)
    }
    val root = run(java.util.Locale.ROOT)
    assert(root.map(_.doc_id).distinct.size == 300)
    // Turkish case mapping, and Thai digits in every %d format
    for (locale <- Seq(new java.util.Locale("tr", "TR"),
        java.util.Locale.forLanguageTag("th-TH-u-nu-thai")))
      root.zip(run(locale)).foreach { case (r, t) => assert(t == r, s"$locale ${r.doc_id}") }
  }

  test("table reads are planned from manifests: building them submits no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    Runner.run(spark, docs.filter(abs(hash(col("doc_id"))) % 2 === 0),
      Gen.readMedia(spark, corpusDir), outDir, "run-1")
    Runner.run(spark, docs, Gen.readMedia(spark, corpusDir), outDir, "run-2")
    val table = Runner.extractedDir(outDir)
    val sc = spark.sparkContext
    val phase = "graft.test.phase"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties).flatMap(p => Option(p.getProperty(phase))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    val built = try {
      sc.setLocalProperty(phase, "build")
      val reads = Seq(
        "docs" -> (() => Gen.readDocs(spark, corpusDir),
          () => spark.read.parquet(s"$corpusDir/docs.parquet")),
        "media" -> (() => Gen.readMedia(spark, corpusDir),
          () => spark.read.parquet(s"$corpusDir/media.parquet")),
        "golden" -> (() => Gen.readGolden(spark, corpusDir),
          () => spark.read.parquet(s"$corpusDir/golden.parquet")),
        "readAll" -> (() => IcebergLite.readAll(spark, table).get,
          () => spark.read.parquet(s"$table/data/snap-0", s"$table/data/snap-1")),
        "readSnapshot" -> (() => IcebergLite.readSnapshot(spark, table, 1),
          () => spark.read.parquet(s"$table/data/snap-1")))
      val ours = reads.map { case (name, (read, _)) =>
        val df = read(); (name, df, df.schema, df.rdd.getNumPartitions) }
      sc.setLocalProperty(phase, "marker")
      // listener events arrive in order: once the marker job is seen, every
      // job the reads submitted has been seen too
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      sc.setLocalProperty(phase, null)
      assert(started.contains("marker"))
      ours.zip(reads.map(_._2._2()))
    } finally { sc.setLocalProperty(phase, null); sc.removeSparkListener(listener) }
    assert(!started.contains("build"), s"jobs while building reads: ${started.toArray.mkString(",")}")
    for (((name, df, schema, parts), listed) <- built) {
      assert(schema == listed.schema, s"$name schema")
      assert(parts == listed.rdd.getNumPartitions, s"$name partitions")
      assert(df.count() > 0 && df.exceptAll(listed).count() == 0 &&
        listed.exceptAll(df).count() == 0, s"$name rows")
    }
    // the scans name their table, and each row its snapshot's directory
    val all = IcebergLite.readAll(spark, table).get
    assert(all.queryExecution.executedPlan.toString.contains("/extracted/data/snap-0"))
    assert(all.select(regexp_extract(input_file_name(), "/snap-(\\d+)/", 1)).distinct()
      .collect().map(_.getString(0)).toSet == Set("0", "1"))
  }

  test("IcebergLite reads only committed files: a stray file is ignored, a missing one fails") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Runner.extractedDir(freshOut())
    IcebergLite.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    IcebergLite.append(Seq((3, "c")).toDF("k", "v"), dir)
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getInt(0)).toSeq.sorted
    // a parquet file copied into a committed snapshot after its commit
    val snap1 = new java.io.File(s"$dir/data/snap-1").listFiles()
      .filter(_.getName.endsWith(".parquet")).filter(_.length > 0)
    Files.copy(snap1.head.toPath, Paths.get(s"$dir/data/snap-0/part-stray.parquet"))
    assert(keys(IcebergLite.readAll(spark, dir).get) == Seq(1, 2, 3))
    assert(keys(IcebergLite.readSnapshot(spark, dir, 0)) == Seq(1, 2))
    // a committed file that is gone, then its snapshot's whole directory
    for (gone <- Seq(snap1.head, new java.io.File(s"$dir/data/snap-1"))) {
      org.apache.commons.io.FileUtils.forceDelete(gone)
      val e = intercept[java.io.FileNotFoundException](IcebergLite.readAll(spark, dir))
      assert(e.getMessage.contains(dir) && e.getMessage.contains("snapshot 1"), e.getMessage)
    }
    assert(keys(IcebergLite.readSnapshot(spark, dir, 0)) == Seq(1, 2))
  }

  test("Gen tables: a table without a manifest fails naming it; writeCorpus writes it again") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-small").toString
    Seq(("d-0", 1)).toDF("doc_id", "size_class").write.parquet(s"$dir/docs.parquet")
    val e = intercept[java.io.FileNotFoundException](Gen.readDocs(spark, dir))
    assert(e.getMessage.contains(s"$dir/docs.parquet"), e.getMessage)
    // a corpus missing one manifest (an older write) is written again, the same rows
    Gen.writeCorpus(spark, dir, nDocs = 30)
    val golden = Gen.readGolden(spark, dir).collect().map(_.toString).sorted.toSeq
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/golden.parquet/_manifest.json"))
    Gen.writeCorpus(spark, dir, nDocs = 30)
    assert(Gen.readGolden(spark, dir).collect().map(_.toString).sorted.toSeq == golden)
    assert(Gen.readDocs(spark, dir).count() == 30)
  }
}
