package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Orchestrates one extraction run over a corpus with exact resumability
  * and per-partition lineage + metrics (north rule):
  *
  *  - committed work = doc_ids visible in the extracted table's current
  *    snapshot chain (the table IS the checkpoint: a snapshot only becomes
  *    visible on the atomic manifest commit, so a crash mid-run leaves no
  *    partial state and rerunning resumes via left_anti join);
  *  - lineage: every output row carries (run_id, part_id) of the task that
  *    produced it; metrics are aggregated per (run_id, part_id) into an
  *    append-only metrics table (docs ok/failed, bytes in, issue taxonomy).
  */
object Runner {

  final case class RunStats(
      runId: String, snapshotId: Long, docsProcessed: Long,
      docsFailed: Long, wallMs: Long)

  def extractedDir(outDir: String) = s"$outDir/extracted"
  def metricsDir(outDir: String) = s"$outDir/metrics"

  def run(spark: SparkSession, docs: DataFrame, media: DataFrame,
      outDir: String, runId: String): RunStats = {
    val t0 = System.nanoTime()

    // resume: anti-join against already-committed doc_ids
    val done = IcebergLite.readAll(spark, extractedDir(outDir))
      .map(_.select("doc_id").distinct())
    val todo = done.fold(docs)(d => docs.join(d, Seq("doc_id"), "left_anti"))

    // resume runs gate the media scan by the todo set's referenced keys
    // (the gate's purpose); fresh runs skip the gate's extra docs scan —
    // output rows are identical either way (see Config.gateMediaByReference)
    val cfg = Pipeline.Config(gateMediaByReference = done.isDefined)
    val extracted = Pipeline.extract(spark, todo, media, cfg)
      .toDF()
      .withColumn("part_id", spark_partition_id())
      .withColumn("run_id", lit(runId))

    val snap = IcebergLite.append(extracted, extractedDir(outDir))

    // metrics from the just-committed snapshot (reads back extracted text
    // only; payload bytes are long gone)
    val snapDf = IcebergLite.readSnapshot(spark, extractedDir(outDir), snap)
    val metrics = snapDf.groupBy(col("run_id"), col("part_id")).agg(
      count(lit(1)).as("docs"),
      sum(when(col("status") === "ok", 1L).otherwise(0L)).as("docs_ok"),
      sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("docs_failed"),
      sum(col("bytes_in")).as("bytes_in"),
      sum(size(col("spans"))).as("out_spans"))
      .withColumn("snapshot_id", lit(snap))
      .withColumn("wall_ms", lit((System.nanoTime() - t0) / 1000000L))
    IcebergLite.append(metrics, metricsDir(outDir))

    val agg = snapDf.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("status") =!= "ok", 1L).otherwise(0L)), lit(0L)).as("f"))
      .collect()(0)
    RunStats(runId, snap, agg.getLong(0), agg.getLong(1),
      (System.nanoTime() - t0) / 1000000L)
  }

  /** Issue-taxonomy rollup over the whole extracted table (the reference's
    * bad_targets report, reference: lib/rika/cli/rika_command.rb:94-123).
    * Examples are capped at [[MaxExampleDocIds]] per issue: an unbounded
    * collect_list is a single-row bomb at 10^12 docs (one pervasive issue
    * = the whole corpus in one aggregation buffer).
    */
  val MaxExampleDocIds = 100

  def issueReport(spark: SparkSession, outDir: String): DataFrame = {
    IcebergLite.readAll(spark, extractedDir(outDir)) match {
      case Some(df) =>
        df.filter(col("issue_type") =!= "")
          .groupBy("issue_type")
          .agg(count(lit(1)).as("n"),
            slice(sort_array(collect_list("doc_id")), 1, MaxExampleDocIds)
              .as("example_doc_ids"))
          .orderBy("issue_type")
      case None => spark.emptyDataFrame
    }
  }
}
