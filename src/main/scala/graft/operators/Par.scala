package graft.operators

/** Session tuning shared by the operator queries. */
object Par {

  /** Session tuning applied once per SparkSession before operator
    * queries run. AQE's partition coalescing floors post-shuffle
    * partitions at spark.sql.adaptive.coalescePartitions.minPartitionSize
    * (default 1m) — sized for byte-bound stages. This engine's stages
    * are CPU-heavy per byte (kernel parse, md5 shingles, LSH dots), so a
    * few MB of shuffle data still deserve every core: the r7 stage audit
    * showed 12 MB exchanges coalesced to 6 tasks at 0.74 s wall with 30
    * cores idle. A 256k floor restores parallelism for such stages
    * while leaving genuinely tiny exchanges (cluster-propagation
    * rounds, sub-100k outputs) on few tasks, and is a NO-OP at scale
    * (real partitions are far above 1m, and target sizes still come
    * from advisoryPartitionSize). 64k was measured too aggressive:
    * ~0.05 s of task-launch overhead per stage on 0.1-0.3 s queries.
    */
  @volatile private var tunedApp: String = ""

  def tune(spark: org.apache.spark.sql.SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    if (tunedApp != app) synchronized {
      if (tunedApp != app) {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        tunedApp = app
      }
    }
  }
}
