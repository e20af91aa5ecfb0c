package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.dot_f64

/** Approximate-nearest-neighbor search over the `embedding` column of a
  * table keyed by `vec_id` (corpus and queries alike).
  *
  * Baseline: brute-force cosine top-k (exact; the correctness oracle).
  * Scale path: multi-table random-hyperplane LSH — NTables independent
  * signature tables of NBits bits each turn the all-pairs scan into
  * equi-joins on (table, signature). Join-key cardinality is
  * NTables * 2^NBits (>> partition count at any scale, unlike a single
  * low-bit bucket column), recall is the standard union-over-tables dial,
  * and query-side multiprobe (1-bit signature flips) buys recall without
  * touching the index side.
  *
  * All hyperplane components are deterministic (splitmix64-derived ±1) and
  * are rendered identically into the DuckDB oracle SQL by SparkEntry, so
  * the bucketed operators are bit-exact cross-engine by construction; the
  * constants below are read by both sides.
  */
object Ann {

  // LSH index shape, shared by lshTopK, Dedup.embedCosineGated and the
  // oracles' sign tables
  val NTables = 8
  val NBits = 16
  val Seed = 42L
  val TopK = 10
  // IVF: the first NCentroids vec_ids are the centroids; a query probes
  // its NProbe nearest lists
  val NCentroids = 16
  val NProbe = 4

  /** splitmix64 finalizer — deterministic, public-domain mixing constants. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic ±1 hyperplane component for (table, bit, dim). */
  def hyperSign(seed: Long, tbl: Int, bit: Int, d: Int): Double = {
    val z = mix64(seed ^ (tbl.toLong << 42) ^ (bit.toLong << 21) ^ d.toLong)
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  /** Vector dimensionality from the data (one-row metadata read at plan
    * time — never hardcoded, so shorter embeddings can't silently
    * mis-bucket; ADVICE r1).
    */
  def dimsOf(emb: DataFrame): Int = {
    val head = emb.select(size(col("embedding")).as("d")).head()
    require(!head.isNullAt(0) && head.getInt(0) > 0, "empty/null embedding")
    head.getInt(0)
  }

  /** (id, tbl, sig): NTables signature rows per vector — the LSH index
    * shape (equi-join key (tbl, sig), cardinality NTables * 2^NBits).
    * `dims` is [[dimsOf]] of the corpus. All signatures come from ONE
    * codegen expression (functions.lsh_sigs, bit-identical to the
    * per-bit column form it replaced — that form's NTables x NBits
    * dot-product tree dominated planning and codegen time for every LSH
    * operator).
    */
  def lshSignatures(emb: DataFrame, dims: Int): DataFrame =
    emb.select(col("vec_id").as("id"),
      posexplode(graft.functions.lsh_sigs(col("embedding"), NTables, NBits, dims, Seed))
        .as(Seq("tbl", "sig")))

  /** (id, v, norm) of a vec_id/embedding table, norm = sqrt(v . v). */
  private[operators] def normed(emb: DataFrame, id: String, v: String, norm: String): DataFrame =
    emb.select(col("vec_id").as(id), col("embedding").as(v))
      .withColumn(norm, sqrt(dot_f64(col(v), col(v))))

  /** Cosine of two vector columns from their norms, rounded to `digits`. */
  private[operators] def cosine(a: String, na: String, b: String, nb: String,
      digits: Int): Column =
    round(dot_f64(col(a), col(b)) / (col(na) * col(nb)), digits)

  /** Each query's TopK scored candidates by (cosine desc, id asc).
    * Output: (query_id, rank, neighbor_id, cosine, extra...).
    */
  private def topK(scored: DataFrame, extra: Column*): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(Seq(col("qid").as("query_id"), col("rank"),
        col("id").as("neighbor_id"), col("cosine")) ++ extra: _*)
      .orderBy("query_id", "rank")
  }

  /** Exact brute-force top-k neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, cosine).
    */
  def bruteTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    val q = normed(queries, "qid", "qv", "qnorm")
    topK(normed(emb, "id", "v", "norm")
      .crossJoin(broadcast(q)) // queries are small: broadcast
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosine("v", "norm", "qv", "qnorm", 6).as("cosine")))
  }

  /** IVF (inverted-file) ANN: vectors are assigned to their nearest
    * centroid's list; queries probe the NProbe nearest lists only.
    * Centroids here are a deterministic sample of the corpus (train-free
    * IVF-flat); at warehouse scale they are k-means output — in both cases
    * tiny driver-side state, so assignment is a pure projection over
    * literal centroid arrays (argmax via sort_array on (−score, cid)
    * structs): zero shuffle, unlike the r1 row_number-window assignment
    * that shuffled N × NCentroids rows. Output: (query_id, rank,
    * neighbor_id, cosine, centroid_id).
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    // centroids: first NCentroids ids, collected (tiny by definition).
    // Norms are computed with the same left-fold float->double arithmetic
    // as dot_f64, so driver-side values bit-match the executor-side ones.
    val cents: Array[(Long, Seq[Double], Double)] =
      emb.select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
        .orderBy("id").limit(NCentroids).collect()
        .map { r =>
          val vs = r.getSeq[Any](1).map {
            case f: Float => f.toDouble
            case d: Double => d
          }
          (r.getLong(0), vs, math.sqrt(vs.foldLeft(0.0)((acc, x) => acc + x * x)))
        }
    def centScores(vc: Column, nc: Column): Column = {
      val structs = cents.map { case (cid, cv, cnorm) =>
        struct((-(dot_f64(vc, typedlit(cv)) / (nc * lit(cnorm)))).as("neg"),
          lit(cid).as("cid"))
      }
      sort_array(array(structs: _*)) // asc on (−score, cid) = score desc, cid asc
    }
    val assigned = normed(emb, "id", "v", "norm").withColumn("cid",
      element_at(centScores(col("v"), col("norm")), 1).getField("cid"))
    val probed = normed(queries, "qid", "qv", "qnorm").select(col("qid"), col("qv"), col("qnorm"),
        explode(slice(centScores(col("qv"), col("qnorm")), 1, NProbe)).as("c"))
      .select(col("qid"), col("qv"), col("qnorm"), col("c.cid").as("cid"))
    topK(assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), col("cid"),
        cosine("v", "norm", "qv", "qnorm", 6).as("cosine")),
      col("cid").as("centroid_id"))
  }

  /** ANN via multi-table LSH with query-side multiprobe: candidates are
    * corpus vectors sharing any table's bucket with the query signature or
    * a 1-bit flip of it; exact cosine + top-k on candidates only.
    * Output: (query_id, rank, neighbor_id, cosine).
    */
  def lshTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    val dims = dimsOf(emb)
    val index = lshSignatures(emb, dims)
    val qsig = lshSignatures(queries, dims).withColumnRenamed("id", "qid")
    // probe set per (qid, tbl): the signature itself plus its 1-bit flips
    val probes = qsig.select(col("qid"), col("tbl"),
      explode(array((col("sig") +:
        (0 until NBits).map(b => col("sig").bitwiseXOR(lit(1L << b)))): _*)).as("p"))
    val cand = index.join(broadcast(probes),
        index("tbl") === probes("tbl") && index("sig") === probes("p") &&
        index("id") =!= probes("qid"))
      .select(col("qid"), col("id")).distinct()
    topK(cand.join(normed(emb, "id", "v", "norm"), Seq("id"))
      .join(broadcast(normed(queries, "qid", "qv", "qnorm")), Seq("qid"))
      .select(col("qid"), col("id"), cosine("v", "norm", "qv", "qnorm", 6).as("cosine")))
  }
}
