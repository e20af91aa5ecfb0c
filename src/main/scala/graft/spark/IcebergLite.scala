package graft.spark

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Iceberg-style table emulation over Parquet (SURVEY.md §7.0: no Iceberg
  * runtime jar ships in this environment, so the pieces the north rule
  * uses — append snapshots, atomic commits, exact resumability, partition
  * metadata — are provided by this ~100-line catalog; swapping in real
  * Iceberg is a config change since all access goes through here).
  *
  * Layout:
  *   table/
  *     data/snap-<id>/   parquet files of one append
  *     snapshots/<id>.json  {"id":N,"parent":N-1,"dir":"data/snap-N","rows":R}
  *                       plus, for an extraction run, its summary:
  *                       {"run_id","wall_ms","parts":[one row of
  *                       PartCounts per output partition]}
  *     VERSION           latest snapshot id (atomic rename commit)
  *
  * A snapshot becomes visible only when VERSION is renamed into place —
  * torn writes leave the previous snapshot current (manifest-last
  * protocol), which is what makes resume exactly-once. The summary is in
  * the manifest, so a snapshot's metrics commit with its data or not at
  * all.
  */
object IcebergLite {

  /** What the write task of output partition `part_id` put in a snapshot:
    * `docs` rows, `docs_ok` and `docs_failed` of them by status, their
    * payload `bytes_in` and their `out_spans`.
    */
  final case class PartCounts(part_id: Int, docs: Long, docs_ok: Long,
      docs_failed: Long, bytes_in: Long, out_spans: Long)

  /** A snapshot summary, as Iceberg keeps one per snapshot: the run that
    * wrote it, that run's wall time up to the commit, and the counts of
    * every output partition holding rows.
    */
  final case class Summary(run_id: String, wall_ms: Long, parts: Seq[PartCounts])

  /** `snapshots/<id>.json`. */
  final case class Manifest(id: Long, parent: Long, dir: String, rows: Long,
      summary: Option[Summary])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setDefaultPropertyInclusion(JsonInclude.Include.NON_ABSENT)

  def currentSnapshot(tableDir: String): Long = {
    val v = new File(tableDir, "VERSION")
    if (!v.exists()) -1L
    else new String(Files.readAllBytes(v.toPath)).trim.toLong
  }

  /** Append `df` as a new snapshot; returns the committed snapshot id.
    *
    * `summary` is evaluated after the data write, so it may read what the
    * write's tasks counted. Its partitions' `docs` must sum to the rows
    * written, or nothing is committed.
    *
    * Crash-safe (single writer): if a previous run died AFTER writing
    * data/manifest for this id but BEFORE the VERSION rename, that
    * snapshot is invisible (manifest-last protocol) — so this attempt may
    * legitimately reuse the id. Overwrite semantics on the data dir and
    * REPLACE_EXISTING on the manifest make the retry automatic instead of
    * failing on the orphaned leftovers.
    */
  def append(df: DataFrame, tableDir: String, summary: => Option[Summary] = None): Long = {
    val parent = currentSnapshot(tableDir)
    val id = parent + 1
    val dataDir = s"$tableDir/data/snap-$id"
    // the row count rides the write job itself (an observed metric), so
    // the manifest is exact without a second pass over the data
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dataDir)
    val rows = written.get("rows").asInstanceOf[Long]
    val s = summary
    s.foreach { sm =>
      val docs = sm.parts.map(_.docs).sum
      if (docs != rows) throw new IllegalStateException(
        s"$tableDir snapshot $id not committed: its partitions count $docs rows, the write $rows")
    }
    Files.createDirectories(Paths.get(s"$tableDir/snapshots"))
    val manifest = json.writeValueAsString(Manifest(id, parent, s"data/snap-$id", rows, s))
    val tmpM = Paths.get(s"$tableDir/snapshots/.$id.json.tmp")
    Files.write(tmpM, manifest.getBytes("UTF-8"))
    Files.move(tmpM, Paths.get(s"$tableDir/snapshots/$id.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val tmpV = Paths.get(s"$tableDir/.VERSION.tmp")
    Files.write(tmpV, id.toString.getBytes("UTF-8"))
    Files.move(tmpV, Paths.get(s"$tableDir/VERSION"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    id
  }

  /** The manifests of the committed snapshots, oldest first. */
  def manifests(tableDir: String): Seq[Manifest] =
    (0L to currentSnapshot(tableDir)).map(id =>
      json.readValue(new File(s"$tableDir/snapshots/$id.json"), classOf[Manifest]))

  /** Read the union of all snapshots up to the current one; None if the
    * table has no committed snapshot.
    */
  def readAll(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    val cur = currentSnapshot(tableDir)
    if (cur < 0) None
    else {
      val dirs = (0L to cur).map(i => s"$tableDir/data/snap-$i")
        .filter(d => new File(d).exists())
      Some(spark.read.parquet(dirs: _*))
    }
  }

  /** Read one snapshot's data only. */
  def readSnapshot(spark: SparkSession, tableDir: String, id: Long): DataFrame =
    spark.read.parquet(s"$tableDir/data/snap-$id")
}
