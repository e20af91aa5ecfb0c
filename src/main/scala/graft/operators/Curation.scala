package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the composition layer of a training-data
  * pipeline: deterministic stratified sampling, a quality/length/dup
  * filter pipeline, and near-dup clustering. All are pure Catalyst
  * column expressions over the shared md5 hash primitive, so the DuckDB
  * oracles mirror them bit-for-bit. Documents carry `doc_id` and `text`.
  */
object Curation {

  // shared with the DuckDB oracle SQL (SparkEntry renders the same values)
  val Strata = "lang"
  // in order: the Spark `when` chain and the oracle's CASE follow it
  val Rates: Seq[(String, Double)] = Seq("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1)
  val DefaultRate = 0.05
  val Buckets = 1000000L             // sampling resolution
  val MinQuality = 0.3
  val MinTokens = 20
  val MaxTokens = 100000
  val Rounds = 3                     // dupClusters' default round count
  private val MaxRounds = 100        // dupClustersFixpoint's runaway guard

  /** Deterministic hash-based stratified sampling: a document is kept iff
    * h64(stratum ':' id) mod Buckets < rate(stratum) * Buckets, with
    * the stratum in column Strata. No RNG, no shuffle (a scan-local
    * filter), reproducible across engines/runs — the only sampling shape
    * that is exactly resumable at 10^12 rows.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val rate = Rates.foldLeft(lit(DefaultRate)) { case (acc, (k, v)) =>
      when(col(Strata) === k, lit(v)).otherwise(acc)
    }
    docs
      .withColumn("bucket", pmod(graft.functions.h64(
        concat_ws(":", col(Strata), col("doc_id"))), lit(Buckets)))
      .filter(col("bucket") < (rate * Buckets.toDouble).cast("long"))
      .select(col("doc_id"), col(Strata), col("bucket"))
      .orderBy("doc_id")
  }

  /** Training-data filter pipeline: per-doc keep/drop with a reason —
    * duplicate (non-canonical copy of an exact-dup group), too_short /
    * too_long (whitespace tokens), low_quality (TextOps score), in that
    * precedence. One groupBy on md5(text) + scan-local features.
    */
  def filterPipeline(docs: DataFrame): DataFrame = {
    val q = TextOps.quality(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val canon = docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical"))
    val withCanon = docs.select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(canon, "text_hash")
    q.join(withCanon, "doc_id")
      .withColumn("reason",
        when(col("doc_id") =!= col("canonical"), "duplicate")
          .when(col("n_tokens") < MinTokens, "too_short")
          .when(col("n_tokens") > MaxTokens, "too_long")
          .when(col("quality_score") < MinQuality, "low_quality")
          .otherwise(""))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("canonical"), (col("reason") === "").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** Near-dup clusters from verified pairs via K rounds of min-label
    * propagation (label = min over self + neighbors each round). K fixed
    * and mirrored in the oracle => deterministic. Components with
    * diameter > K don't fully converge — [[dupClustersFixpoint]] is the
    * warehouse-scale variant.
    * Output: (doc_id, cluster_rep).
    */
  def dupClusters(pairs: DataFrame, iterations: Int = Rounds): DataFrame =
    propagate(pairs, iterations, toFixpoint = false)

  /** Min-label propagation TO CONVERGENCE (connected components): rounds
    * run until one changes zero labels, bounded by MaxRounds as a
    * runaway guard (rounds needed = max component diameter; near-dup
    * components are near-cliques, so convergence is fast in practice but
    * NOT guaranteed by any fixed K).
    */
  def dupClustersFixpoint(pairs: DataFrame): DataFrame =
    propagate(pairs, MaxRounds, toFixpoint = true)

  /** Iterative core. The classic iterative-Spark failure mode is rebinding
    * `labels = labels.join(...)` with the full upstream pipeline embedded:
    * the logical plan ~doubles per round (labels appears on both sides of
    * each round's join) and `edges` — often a whole minhash-LSH pipeline —
    * is re-analyzed and re-executed inside every round. localCheckpoint
    * materializes edges ONCE and truncates the label lineage each round,
    * so round N's plan is one join + one aggregate regardless of N.
    */
  private def propagate(pairs: DataFrame, maxRounds: Int,
      toFixpoint: Boolean): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val nbr = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val joined = labels.withColumnRenamed("lbl", "prev")
        .join(nbr, col("id") === nbr("src"), "left")
        .select(col("id"), col("prev"),
          least(col("prev"), coalesce(col("nlbl"), col("prev"))).as("lbl"))
      // Convergence detection rides the SAME job that materializes the
      // round (labels only ever decrease, so changed==0 <=> fixpoint):
      // an Observation metric on the pre-projection rows costs no extra
      // join, scan or action — exactly one Spark job per round.
      val obs = new org.apache.spark.sql.Observation(s"cc-round-$round")
      val observed =
        if (toFixpoint)
          joined.observe(obs,
            sum(when(col("lbl") =!= col("prev"), 1L).otherwise(0L)).as("changed"))
        else joined
      val next = observed.select(col("id"), col("lbl")).localCheckpoint()
      if (toFixpoint) {
        // sum over zero rows is null -> treat as converged (empty graph)
        val changed = obs.get.get("changed") match {
          case Some(l: java.lang.Long) => l.longValue()
          case Some(l: Long)           => l
          case _                       => 0L
        }
        converged = changed == 0L
      }
      labels.unpersist()
      labels = next
      round += 1
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
      .orderBy("doc_id")
  }
}
