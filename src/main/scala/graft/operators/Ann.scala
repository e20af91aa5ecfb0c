package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; the correctness oracle).
  * Scale path: multi-table random-hyperplane LSH — L independent signature
  * tables of `nBits` bits each turn the all-pairs scan into equi-joins on
  * (table, signature). Join-key cardinality is L * 2^nBits (>> partition
  * count at any scale, unlike a single low-bit bucket column), recall is
  * the standard union-over-tables dial, and query-side multiprobe (1-bit
  * signature flips) buys recall without touching the index side.
  *
  * All hyperplane components are deterministic (splitmix64-derived ±1) and
  * are rendered identically into the DuckDB oracle SQL by SparkEntry, so
  * the bucketed operators are bit-exact cross-engine by construction.
  */
object Ann {

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

  /** One hyperplane as a ±1 vector of length `dims`. */
  def signRow(seed: Long, tbl: Int, bit: Int, dims: Int): Seq[Double] =
    (0 until dims).map(d => hyperSign(seed, tbl, bit, d))

  /** Vector dimensionality from the data (one-row metadata read at plan
    * time — never hardcoded, so shorter embeddings can't silently
    * mis-bucket; ADVICE r1).
    */
  def dimsOf(emb: DataFrame, vecCol: String): Int = {
    val head = emb.select(size(col(vecCol)).as("d")).head()
    require(!head.isNullAt(0) && head.getInt(0) > 0, s"empty/null $vecCol")
    head.getInt(0)
  }

  /** `nTables` signature columns for a vector column: bit b of table t is
    * sign(v . hyperplane(t,b)). dot_f64 is the codegen'd left-fold dot
    * (bit-equal to DuckDB's list_sum(list_transform(list_zip(..)))).
    */
  def signatureCols(vec: Column, nTables: Int, nBits: Int, dims: Int,
      seed: Long): Seq[Column] = {
    import graft.functions.dot_f64
    (0 until nTables).map { t =>
      (0 until nBits).map { b =>
        val signs = typedlit(signRow(seed, t, b, dims))
        when(dot_f64(vec, signs) >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
  }

  /** (id, tbl, sig): L signature rows per vector — the LSH index shape
    * (equi-join key (tbl, sig), cardinality L * 2^nBits). All L
    * signatures come from ONE codegen expression (functions.lsh_sigs,
    * bit-identical to the [[signatureCols]] column form it replaced —
    * that form's nTables x nBits dot-product tree dominated planning
    * and codegen time for every LSH operator).
    */
  def lshSignatures(emb: DataFrame, nTables: Int = 8, nBits: Int = 16,
      seed: Long = 42L, idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else dimsOf(emb, vecCol)
    emb.select(col(idCol).as("id"),
        posexplode(graft.functions.lsh_sigs(col(vecCol), nTables, nBits, d, seed))
          .as(Seq("tbl", "sig")))
  }

  /** Exact brute-force top-k neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, cosine).
    */
  def bruteTopK(emb: DataFrame, queries: DataFrame, k: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.dot_f64
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", sqrt(dot_f64(col("v"), col("v"))))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qnorm", sqrt(dot_f64(col("qv"), col("qv"))))
    val scored = base.crossJoin(broadcast(q)) // queries are small: broadcast
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        round(dot_f64(col("v"), col("qv")) / (col("norm") * col("qnorm")),
          6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("id").as("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** IVF (inverted-file) ANN: vectors are assigned to their nearest
    * centroid's list; queries probe the `nProbe` nearest lists only.
    * Centroids here are a deterministic sample of the corpus (train-free
    * IVF-flat); at warehouse scale they are k-means output — in both cases
    * tiny driver-side state, so assignment is a pure projection over
    * literal centroid arrays (argmax via sort_array on (−score, cid)
    * structs): zero shuffle, unlike the r1 row_number-window assignment
    * that shuffled N × nCentroids rows. Output: (query_id, rank,
    * neighbor_id, cosine, centroid_id).
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int = 10,
      nCentroids: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.dot_f64
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", sqrt(dot_f64(col("v"), col("v"))))
    // centroids: first nCentroids ids, collected (tiny by definition).
    // Norms are computed with the same left-fold float->double arithmetic
    // as dot_f64, so driver-side values bit-match the executor-side ones.
    val cents: Array[(Long, Seq[Double], Double)] =
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .orderBy("id").limit(nCentroids).collect()
        .map { r =>
          val vs = r.getSeq[Any](1).map {
            case f: Float => f.toDouble
            case d: Double => d
          }
          var acc = 0.0
          vs.foreach(x => acc += x * x)
          (r.getLong(0), vs, math.sqrt(acc))
        }
    def centScores(vc: Column, nc: Column): Column = {
      val structs = cents.map { case (cid, cv, cnorm) =>
        struct((-(dot_f64(vc, typedlit(cv)) / (nc * lit(cnorm)))).as("neg"),
          lit(cid).as("cid"))
      }
      sort_array(array(structs: _*)) // asc on (−score, cid) = score desc, cid asc
    }
    val assigned = e.withColumn("cid",
      element_at(centScores(col("v"), col("norm")), 1).getField("cid"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qnorm", sqrt(dot_f64(col("qv"), col("qv"))))
    val probed = q.select(col("qid"), col("qv"), col("qnorm"),
        explode(slice(centScores(col("qv"), col("qnorm")), 1, nProbe)).as("c"))
      .select(col("qid"), col("qv"), col("qnorm"), col("c.cid").as("cid"))
    val scored = assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), col("cid"),
        round(dot_f64(col("v"), col("qv")) / (col("norm") * col("qnorm")),
          6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("id").as("neighbor_id"), col("cosine"), col("cid").as("centroid_id"))
      .orderBy("query_id", "rank")
  }

  /** ANN via multi-table LSH with query-side multiprobe: candidates are
    * corpus vectors sharing any table's bucket with the query signature or
    * (multiProbe=1) a 1-bit flip of it; exact cosine + top-k on candidates
    * only. Output: (query_id, rank, neighbor_id, cosine).
    */
  def lshTopK(emb: DataFrame, queries: DataFrame, k: Int = 10,
      nTables: Int = 8, nBits: Int = 16, multiProbe: Int = 1, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.dot_f64
    val dims = dimsOf(emb, vecCol)
    val index = lshSignatures(emb, nTables, nBits, seed, idCol, vecCol, dims)
    val qsig = lshSignatures(queries, nTables, nBits, seed, idCol, vecCol, dims)
      .withColumnRenamed("id", "qid")
    // probe set per (qid, tbl): the signature itself plus its 1-bit flips
    val probes =
      if (multiProbe <= 0) qsig.select(col("qid"), col("tbl"), col("sig").as("p"))
      else qsig.select(col("qid"), col("tbl"),
        explode(array((col("sig") +:
          (0 until nBits).map(b => col("sig").bitwiseXOR(lit(1L << b)))): _*)).as("p"))
    val cand = index.join(broadcast(probes),
        index("tbl") === probes("tbl") && index("sig") === probes("p") &&
        index("id") =!= probes("qid"))
      .select(col("qid"), col("id")).distinct()
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", sqrt(dot_f64(col("v"), col("v"))))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qnorm", sqrt(dot_f64(col("qv"), col("qv"))))
    val scored = cand.join(base, Seq("id")).join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id"),
        round(dot_f64(col("v"), col("qv")) / (col("norm") * col("qnorm")),
          6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("id").as("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }
}
