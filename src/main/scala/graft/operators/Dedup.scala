package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale training-data pipelines, all
  * expressed as pure Catalyst column expressions (codegen'd, no UDFs) so
  * plans stay whole-stage-codegen and predicate-pushdown friendly — and so
  * the DuckDB oracles can mirror them exactly (shared hash primitive:
  * bigint of the first 15 hex chars of md5).
  *
  * Scale notes: every operator is a hash-partitioned groupBy/join on keys
  * that are uniform by construction (md5-derived), so the shuffles have no
  * planner-visible skew; LSH banding turns the quadratic near-dup search
  * into an equi-join on band keys (the only scalable shape at 10^12 docs —
  * candidate pairs per band bucket, verified exactly afterwards).
  */
object Dedup {

  // shared with the DuckDB oracle SQL (SparkEntry renders the same
  // constants into both sides)
  val P: Long = 2147483647L          // Mersenne prime 2^31-1: a,h < 2^31 so a*h+b < 2^63 (no overflow in either engine)
  val NumHashes = 16
  val Bands = 4                      // 4 bands x 4 rows
  val RowsPerBand: Int = NumHashes / Bands
  val HashA: IndexedSeq[Long] = (0 until NumHashes).map(i => ((2L * i + 1) * 2654435761L) % P)
  val HashB: IndexedSeq[Long] = (0 until NumHashes).map(i => (i.toLong * 40503L + 2531011L) % P)

  /** bigint hash of a string column: first 15 hex chars of md5 — native
    * one-call expression (thread-local digest, no hex-string round trip;
    * see functions.h64). Bit-identical to the conv(substring(md5)) chain.
    */
  def h64(c: Column): Column = graft.functions.h64(c)

  // lower via UTF8String (functions.lower_u8): Catalyst lower() routes
  // through ICU whose one-time init stalls the first 32-task stage
  def tokens(text: Column): Column = split(graft.functions.lower_u8(text), " ")

  /** 3-word shingles (whole text when shorter). Native codegen expression:
    * the previous transform(sequence(..), j => concat_ws(slice(split(..))))
    * form was interpreted (HOFs are CodegenFallback) and re-evaluated
    * split(lower(text)) once per OUTPUT shingle — O(tokens x shingles)
    * per document. ShinglesExpr tokenizes once (same UTF8String
    * lower/split/concatWs calls, bit-identical output, property-tested).
    */
  def shingles(text: Column): Column = graft.functions.shingles(text, 3)

  /** Exact dedup: group identical texts by content hash.
    * Output: (text_hash, n_docs, representative = min doc_id, doc_ids).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(idCol)).as("representative"))
      .filter(col("n_docs") > 1)
      .orderBy("text_hash")

  /** Per-doc MinHash signature (NumHashes values). */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol))).as("sh"))
      .withColumn("h", pmod(h64(col("sh")), lit(P)))
    val aggs = (0 until NumHashes).map { i =>
      min(pmod(lit(HashA(i)) * col("h") + lit(HashB(i)), lit(P))).as(s"m$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding + exact-Jaccard verification.
    * Output: (doc_a, doc_b, jaccard) for verified pairs >= threshold.
    */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sig = minhashSignature(docs, idCol, textCol)
    // bands via a single explode over one signature subtree (a union of
    // per-band selects would recompute the signature aggregation per band)
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bkey"))
    }
    val bands = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // the self-join's two sides shuffle identically on (band, bkey) =>
    // Spark's ReuseExchange materializes the subtree once when shuffled;
    // at bench scale the planner broadcasts one side — the rebuilt band
    // projection is an agg over the reused Exchange(doc_id), so the md5
    // shingle pass still runs once (verified in the r7 plan captures)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // exact verification on shingle sets; `cand` is consumed exactly once
    // (a zero-intersection candidate cannot reach any threshold > 0, so no
    // left join back onto cand is needed)
    val shs = docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.shingles_distinct(col(textCol), 3)).as("sh"))
    val counts = shs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(shs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shs.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("ca.n") + col("cb.n") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** [[minhashLsh]] persisted (MEMORY_AND_DISK) on first use: three
    * queries (dedup_minhash_lsh, dedup_clusters, dedup_clusters_fix)
    * consume the same verified pairs, and Spark's CacheManager substitutes
    * the persisted table into every later plan of the same pairs over the
    * same input, so the first consumer computes them and the others pay
    * only propagation.
    */
  def minhashLshCached(docs: DataFrame, threshold: Double): DataFrame = {
    val df = minhashLsh(docs, threshold)
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    else df
  }

  /** Per-doc SimHash signatures, unsorted (building block). */
  def simhashSigs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .withColumn("h", h64(col("t"))) // 60-bit value: bits 0..59 meaningful
    // native TypedImperativeAggregate: one shuffle of 240-byte vote
    // buffers per doc instead of exploding 60 bit rows per token
    tok.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash_agg(col("h")).as("simhash"))
  }

  /** 60-bit SimHash per doc (token-frequency weighted bit voting).
    * Output: (doc_id, simhash).
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashSigs(docs, idCol, textCol).orderBy("doc_id")

  /** SimHash near-dup PAIRS via bit-block banding: the 60-bit signature is
    * split into `blocks` contiguous blocks; by pigeonhole, any pair within
    * Hamming distance `maxHamming` <= blocks-1 shares at least one intact
    * block, so the quadratic search becomes an equi-join on
    * (block_idx, block_value) — candidate pairs only, verified exactly
    * with bit_count(xor). Output: (doc_a, doc_b, hamming).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, blocks: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming < blocks, "pigeonhole needs maxHamming <= blocks-1")
    val bitsPerBlock = 60 / blocks
    val mask = (1L << bitsPerBlock) - 1L
    val sigs = simhashSigs(docs, idCol, textCol)
    val blockStructs = (0 until blocks).map { b =>
      struct(lit(b).as("bi"),
        shiftrightunsigned(col("simhash"), b * bitsPerBlock)
          .bitwiseAND(lit(mask)).as("bv"))
    }
    val blk = sigs.select(col("doc_id"), col("simhash"),
        explode(array(blockStructs: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.bi").as("bi"), col("bb.bv").as("bv"))
    // both sides shuffle identically on (bi, bv) => ReuseExchange when
    // the planner shuffles; at bench scale it broadcasts one side, which
    // measured FASTER than a pinned shuffle_hash (the signature table is
    // one short row per doc — rebuild is an agg over the reused
    // Exchange(doc_id), cheaper than two extra exchange barriers)
    val cand = blk.as("x").join(blk.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
    cand.select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram (shingle) Jaccard near-dup pairs over an inverted index
    * (join on shared shingles — never a cross join).
    *
    * Hot-shingle cap: a shingle appearing in > dfCap documents contributes
    * dfCap²-bounded pair rows, so without a cap one stopword-like shingle
    * shared by k docs yields k² rows inside a single join key — the
    * classic inverted-index scale-killer on Zipf corpora. Shingles with
    * document frequency > dfCap are dropped from the shingle universe
    * entirely (both the index AND the per-doc set sizes), i.e. Jaccard is
    * computed over the capped universe; ubiquitous shingles carry no
    * near-dup signal, and the DuckDB oracle mirrors the same cap.
    * Output: (doc_a, doc_b, jaccard >= threshold).
    */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.5, dfCap: Int = 1024,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val all = docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.shingles_distinct(col(textCol), 3)).as("sh"))
    // df filter first: the rare-shingle table and the self-join below share
    // the `sh` hash-partitioning, so the exchange is reused
    val rare = all.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("sh")
    val shs = all.join(rare, Seq("sh"))
    val counts = shs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // shuffle_hash pins the self-join to a shuffled build instead of the
    // planner's broadcast pick: both sides then carry the IDENTICAL
    // Exchange(hashpartitioning(sh)) subtree, which ReuseExchange/AQE
    // executes ONCE — the broadcast form rebuilt the whole shingle
    // subtree per side plus a driver-side hash relation each (r7 plan
    // audit: 6 Generates + 6 BroadcastExchanges -> 3 Generates, 1 small
    // broadcast). Same join semantics, planner-independent shape.
    val inter = shs.as("a").hint("shuffle_hash").join(shs.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("ca.n") + col("cb.n") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup pairs, ALL-PAIRS (O(N²) crossJoin). This is
    * the exact small-scale oracle for [[embedCosineGated]] — never the
    * shipped scale path.
    */
  def embedCosineExact(emb: DataFrame, threshold: Double = 0.4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.dot_f64
    val withNorm = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", sqrt(dot_f64(col("v"), col("v"))))
    val pairs = withNorm.as("a").crossJoin(withNorm.as("b"))
      .filter(col("a.id") < col("b.id"))
    pairs.select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(dot_f64(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")),
          4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-dup pairs, LSH-GATED (the 10^12-row shape):
    * candidates are pairs sharing any (table, signature) bucket of
    * [[Ann.lshSignatures]]; exact cosine verification on candidates only —
    * no crossJoin anywhere in the plan. Recall vs the exact operator is
    * distance-dependent (≈1 for true near-dups at cosine ≥ ~0.9, the
    * regime embedding dedup targets; asserted in OperatorsSpec). The
    * hyperplanes are deterministic so the DuckDB oracle mirrors the gate
    * bit-for-bit.
    */
  def embedCosineGated(emb: DataFrame, threshold: Double = 0.4,
      nTables: Int = 8, nBits: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.dot_f64
    val sigs = Ann.lshSignatures(emb, nTables, nBits, seed, idCol, vecCol)
    // both sides shuffle identically on (tbl, sig) => ReuseExchange;
    // shuffle_hash pins that shape (broadcast would recompute the
    // 128-hyperplane signature projection per side)
    val cand = sigs.as("x").hint("shuffle_hash").join(sigs.as("y").hint("shuffle_hash"),
        col("x.tbl") === col("y.tbl") && col("x.sig") === col("y.sig") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", sqrt(dot_f64(col("v"), col("v"))))
    cand
      .join(base.as("a"), col("id_a") === col("a.id"))
      .join(base.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a"), col("id_b"),
        round(dot_f64(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")),
          4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("id_a", "id_b")
  }
}
