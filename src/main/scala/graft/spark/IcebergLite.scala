package graft.spark

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style table emulation over Parquet (SURVEY.md §7.0: no Iceberg
  * runtime jar ships in this environment, so the pieces the north rule
  * uses — append snapshots, atomic commits, exact resumability, partition
  * metadata — are provided by this small catalog; swapping in real
  * Iceberg is a config change since all access goes through here).
  *
  * Layout:
  *   table/
  *     data/snap-<id>/   parquet files of one append
  *     snapshots/<id>.json  {"id":N,"parent":N-1,"dir":"data/snap-N","rows":R,
  *                       "files":[{"path":"data/snap-N/part-…","length":L}],
  *                       "schema":"<Spark JSON of the written DataFrame>"}
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
  *
  * A table written once and never appended to (the `Gen` corpus tables)
  * keeps its parquet layout as Spark wrote it, plus `table/_manifest.json`
  * with the same `files` and `schema` ([[recordTable]]).
  *
  * Every read is planned from those records, as Iceberg plans from its
  * metadata: no directory listing and no schema inference, so building a
  * DataFrame over a table submits no Spark job. Files a write did not
  * record are never read; a recorded file that is gone fails the read.
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

  /** A data file a write left, by its path under the table dir. */
  final case class DataFile(path: String, length: Long)

  /** `snapshots/<id>.json`; `schema` is the written DataFrame's, as Spark JSON. */
  final case class Manifest(id: Long, parent: Long, dir: String, rows: Long,
      files: Seq[DataFile], schema: String, summary: Option[Summary])

  /** `_manifest.json` of a table written once. */
  final case class TableManifest(files: Seq[DataFile], schema: String)

  private val TableManifestName = "_manifest.json"

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
    writeAtomically(Paths.get(s"$tableDir/snapshots/$id.json"), json.writeValueAsString(
      Manifest(id, parent, s"data/snap-$id", rows, dataFiles(tableDir, s"data/snap-$id"),
        df.schema.json, s)))
    writeAtomically(Paths.get(s"$tableDir/VERSION"), id.toString)
    id
  }

  /** Records the files a one-shot write of `schema` left in `tableDir`, in
    * its `_manifest.json`; [[readTable]] reads the table from it.
    */
  def recordTable(tableDir: String, schema: StructType): Unit =
    writeAtomically(Paths.get(tableDir, TableManifestName),
      json.writeValueAsString(TableManifest(dataFiles(tableDir, ""), schema.json)))

  def isRecorded(tableDir: String): Boolean = new File(tableDir, TableManifestName).isFile

  /** Reads a table [[recordTable]] recorded, from its manifest alone. */
  def readTable(spark: SparkSession, tableDir: String): DataFrame = {
    if (!isRecorded(tableDir)) throw new FileNotFoundException(
      s"$tableDir has no $TableManifestName: no recordTable call wrote it, or it was " +
        "written before tables recorded their files; delete it and write it again")
    val t = json.readValue(new File(tableDir, TableManifestName), classOf[TableManifest])
    t.files.find(missing(tableDir)).foreach(f =>
      throw new FileNotFoundException(s"table $tableDir: recorded file ${f.path} is missing"))
    scan(spark, tableDir, Seq("" -> t.files), t.schema)
  }

  private def writeAtomically(to: JPath, content: String): Unit = {
    val tmp = to.resolveSibling(s".${to.getFileName}.tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, to, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The data files under `tableDir/sub`, by path relative to `tableDir`.
    * A name starting with `_` or `.` (job markers, checksums, manifests)
    * is not data, as Spark's own listing has it.
    */
  private def dataFiles(tableDir: String, sub: String): Seq[DataFile] = {
    val table = Paths.get(tableDir)
    val walk = Files.walk(table.resolve(sub))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(table.relativize)
      .filterNot(_.iterator().asScala.map(_.toString).exists(n => n.startsWith("_") || n.startsWith(".")))
      .map(p => DataFile(p.toString, Files.size(table.resolve(p)))).toVector.sortBy(_.path)
    finally walk.close()
  }

  private def missing(tableDir: String)(f: DataFile): Boolean = !new File(tableDir, f.path).isFile

  /** A parquet DataFrame over recorded files: each `(dir, files)` is a
    * root directory under `tableDir` ("" for the table dir itself) and the
    * files under it. Spark's own file index plans it (partition columns
    * from `k=v` directories, pruning, splits), but is served the recorded
    * files instead of listing, and `schema` instead of inferring one, so
    * this submits no Spark job. The roots are what `spark.read.parquet`
    * would be given, so equal reads give equal plans (CacheManager,
    * exchange reuse) and the scan's location names the table.
    */
  private def scan(spark: SparkSession, tableDir: String,
      roots: Seq[(String, Seq[DataFile])], schema: String): DataFrame = {
    val table = { val p = new Path(tableDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p) }
    val listed = roots.map { case (dir, files) =>
      (if (dir.isEmpty) table else new Path(table, dir)) -> files.map(f =>
        new FileStatus(f.length, false, 1, 0L, 0L, new Path(table, f.path))).toArray
    }
    val recorded = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        listed.collectFirst { case (`path`, files) => files }
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    // a file source reads every column as nullable, whatever was written
    val full = DataType.fromJson(schema).asInstanceOf[StructType].toNullable
    val index = new InMemoryFileIndex(spark, listed.map(_._1), Map.empty, Some(full), recorded)
    val partitions = index.partitionSchema
    val data = StructType(full.filterNot(f => partitions.fieldNames.contains(f.name)))
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, partitions, data, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The manifests of the committed snapshots, oldest first. */
  def manifests(tableDir: String): Seq[Manifest] =
    (0L to currentSnapshot(tableDir)).map(manifest(tableDir, _))

  private def manifest(tableDir: String, id: Long): Manifest =
    json.readValue(new File(s"$tableDir/snapshots/$id.json"), classOf[Manifest])

  /** Read the union of all snapshots up to the current one; None if the
    * table has no committed snapshot.
    */
  def readAll(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    val ms = manifests(tableDir)
    if (ms.isEmpty) None else Some(readSnapshots(spark, tableDir, ms))
  }

  /** Read one snapshot's data only. */
  def readSnapshot(spark: SparkSession, tableDir: String, id: Long): DataFrame =
    readSnapshots(spark, tableDir, Seq(manifest(tableDir, id)))

  /** The snapshots' recorded files, in the newest one's schema. */
  private def readSnapshots(spark: SparkSession, tableDir: String, ms: Seq[Manifest]): DataFrame = {
    for (m <- ms) {
      if (m.files == null || m.schema == null) throw new IllegalStateException(
        s"table $tableDir snapshot ${m.id}: the manifest records no files or schema (written " +
          "before manifests carried them); delete the table and run again")
      m.files.find(missing(tableDir)).foreach(f => throw new FileNotFoundException(
        s"table $tableDir snapshot ${m.id}: committed file ${f.path} is missing"))
    }
    scan(spark, tableDir, ms.map(m => m.dir -> m.files), ms.last.schema)
  }
}
