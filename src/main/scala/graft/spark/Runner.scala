package graft.spark

import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import IcebergLite.{PartCounts, Summary}

/** Orchestrates one extraction run over a corpus with exact resumability
  * and per-partition lineage + metrics (north rule):
  *
  *  - committed work = doc_ids visible in the extracted table's current
  *    snapshot chain (the table IS the checkpoint: a snapshot only becomes
  *    visible on the atomic manifest commit, so a crash mid-run leaves no
  *    partial state and rerunning resumes via left_anti join);
  *  - lineage: every output row carries (run_id, part_id) of the task that
  *    produced it; the same task counts its partition's docs ok/failed,
  *    bytes in and spans out, and the counts commit in the snapshot's
  *    manifest ([[metrics]] reads them back as a table).
  *
  * Exactly-once resume rests on two assumptions about the input:
  *  - `doc_id` is unique. The anti-join keys on it: two rows sharing an
  *    id that land in one run are both committed, and a row whose id was
  *    committed by an earlier run is skipped as done.
  *  - The input is append-only. A doc already committed is never
  *    re-extracted, so an edit to its spans or media after its commit is
  *    not seen, and a doc removed from the input stays in the table.
  */
object Runner {

  final case class RunStats(
      runId: String, snapshotId: Long, docsProcessed: Long,
      docsFailed: Long, wallMs: Long)

  def extractedDir(outDir: String) = s"$outDir/extracted"

  def run(spark: SparkSession, docs: DataFrame, media: DataFrame,
      outDir: String, runId: String): RunStats = {
    import spark.implicits._
    val t0 = System.nanoTime()
    def elapsedMs = (System.nanoTime() - t0) / 1000000L

    // resume: anti-join against already-committed doc_ids
    val done = IcebergLite.readAll(spark, extractedDir(outDir))
      .map(_.select("doc_id").distinct())
    val todo = done.fold(docs)(d => docs.join(d, Seq("doc_id"), "left_anti"))

    val counted = spark.sparkContext.collectionAccumulator[PartCounts](s"parts of $runId")
    val extracted = Pipeline.extract(spark, todo, media)
      .mapPartitions(countInto(counted))
      .toDF()
      .withColumn("part_id", spark_partition_id())
      .withColumn("run_id", lit(runId))

    // the summary is read after the write, from what its tasks counted
    def parts = counted.value.asScala.toSeq.sortBy(_.part_id)
    val snap = IcebergLite.append(extracted, extractedDir(outDir),
      Some(Summary(runId, elapsedMs, parts)))
    RunStats(runId, snap, parts.map(_.docs).sum, parts.map(_.docs_failed).sum, elapsedMs)
  }

  /** Passes `rows` through and, when the task ends, adds their counts to
    * `acc` under the task's partition id. In the write's result stage that
    * id is the rows' `part_id`, and Spark merges the update of each
    * partition exactly once, retried tasks included.
    */
  private def countInto(acc: CollectionAccumulator[PartCounts])(
      rows: Iterator[ExtractedRow]): Iterator[ExtractedRow] = {
    val part = TaskContext.getPartitionId()
    var docs, ok, bytesIn, spans = 0L
    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      if (docs > 0) acc.add(PartCounts(part, docs, ok, docs - ok, bytesIn, spans))
    }
    rows.map { r =>
      docs += 1
      if (r.status == "ok") ok += 1
      bytesIn += r.bytes_in
      spans += r.spans.size
      r
    }
  }

  /** Per-partition metrics of every committed run, from the snapshot
    * manifests: run_id, part_id, docs, docs_ok, docs_failed, bytes_in,
    * out_spans, snapshot_id, wall_ms (the run's wall time up to its
    * commit). A run that extracted nothing has no rows.
    */
  def metrics(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    IcebergLite.manifests(extractedDir(outDir)).flatMap { m =>
      m.summary.toSeq.flatMap(s => s.parts.map(p => (s.run_id, p.part_id, p.docs,
        p.docs_ok, p.docs_failed, p.bytes_in, p.out_spans, m.id, s.wall_ms)))
    }.toDF("run_id", "part_id", "docs", "docs_ok", "docs_failed", "bytes_in",
      "out_spans", "snapshot_id", "wall_ms")
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
