package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round equivalence harness: prints `query rows md5` for
  * every declared query (or the ones named as args) so a before/after
  * diff proves an optimization did not change any result. Rows are
  * serialized via toJSON in the query's own (ordered) output order.
  *
  * Usage: sbt "runMain graft.VerifyEquiv [--expect FILE] [query ...]"
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.
  *
  * `--expect FILE` (e.g. tools/verify_equiv_sf0.01.txt; `#` lines are
  * comments) exits 1 naming every query whose line differs from the
  * file's or is missing on either side (only the named ones, if any).
  */
object VerifyEquiv {
  def main(args: Array[String]): Unit = {
    val (expect, queryArgs) = args.toSeq match {
      case "--expect" +: file +: rest => (Some(file), rest)
      case rest                       => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names =
      if (queryArgs.nonEmpty) queryArgs
      else SparkEntry.queries.keys.toSeq.sorted
    val lines = names.map { q =>
      spark.sparkContext.setJobDescription(s"verify-equiv: $q")
      val line = try {
        val rows = SparkEntry.queries(q)(spark, sfDir).toJSON.collect()
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.foreach(r => digest.update(r.getBytes("UTF-8")))
        val md5 = digest.digest().map("%02x".format(_)).mkString
        f"$q%-24s ${rows.length}%8d  $md5"
      } catch {
        case e: Throwable => f"$q%-24s ERROR ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      System.err.println("[verify-equiv] " + line)
      q -> line
    }
    println("=== VERIFY-EQUIV RESULTS ===")
    lines.foreach { case (_, line) => println(line) }
    spark.stop()

    expect.foreach { file =>
      def fields(line: String) = line.trim.split("\\s+").toSeq
      val want = scala.io.Source.fromFile(file, "UTF-8").getLines().map(fields)
        .filterNot(f => f.head.isEmpty || f.head.startsWith("#")).map(f => f.head -> f).toMap
      val got = lines.map { case (q, line) => q -> fields(line) }.toMap
      val checked = if (queryArgs.isEmpty) want.keySet ++ got.keySet else got.keySet
      val bad = checked.toSeq.sorted.filter(q => want.get(q) != got.get(q))
      def show(f: Option[Seq[String]]) = f.fold("no line")(_.mkString(" "))
      bad.foreach(q => println(s"MISMATCH $q: expected ${show(want.get(q))}, got ${show(got.get(q))}"))
      println(s"=== ${bad.size} of ${checked.size} queries differ from $file ===")
      if (bad.nonEmpty) sys.exit(1)
    }
  }
}
