package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Scale-adaptive input parallelism (guide §2.2/§6: partitioning must be
  * derived from input size, not a constant tuned for one deployment).
  *
  * A small input (single sub-row-group parquet file — the shape of the
  * bench's `documents`/`embeddings` tables) plans as a 1-task scan, so
  * every per-row operator pipeline above it (shingle explode, md5, LSH
  * signature projection) serializes on one core: the r7 stage audit
  * showed dedup_jaccard's shingle exchange as a single 1.0 s task on a
  * 32-core session. [[Par.spread]] hash-repartitions such inputs on
  * their key to the session's shuffle parallelism — a sub-MB exchange —
  * and is a NO-OP whenever the plan-time size estimate says the scan
  * already fills the cluster (estimated size >= cores x
  * spark.sql.files.maxPartitionBytes), so a 100 TB input never pays an
  * extra shuffle.
  *
  * Only appropriate for operators whose results are partitioning-
  * independent (integer/min/max/count aggregations, per-row projections,
  * equi-joins). Operators that SUM floating-point columns must NOT be
  * spread: a different partitioning changes double-addition order.
  */
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

  def spread(df: DataFrame, key: Column): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val p = conf.numShufflePartitions
    val threshold = BigInt(p.toLong) * conf.filesMaxPartitionBytes
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < threshold) df.repartition(p, key) else df
  }

  def spread(df: DataFrame, key: String): DataFrame = spread(df, col(key))
}
