package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: quality scoring,
  * token counting, language-ID, document fingerprinting. All but lang-ID
  * are pure Catalyst expressions (DuckDB-oracle-able); lang-ID wraps the
  * Lang kernel as a UDF whose profile tables are JVM-static per executor
  * (the reference's memoized-model pattern, reference: lib/rika.rb:104-107).
  * Documents carry `doc_id` and `text`.
  */
object TextOps {

  /** Quality features per doc: lengths, token stats, punctuation and
    * stopword ratios, and a composite quality score. Deterministic and
    * SQL-mirrorable (rounded ratios).
    */
  def quality(docs: DataFrame): DataFrame = {
    val t = col("text")
    // one tokenizing pass (functions.text_stats); the previous column
    // form ran 13 interpreted HOF scans per row, each re-splitting the
    // text. Ratio/round arithmetic is unchanged Catalyst code, so the
    // emitted values are bit-identical (pinned in FunctionsSpec).
    val st = graft.functions.text_stats(t)
    val nToks = st.getField("n_tokens")
    docs.select(
      col("doc_id"),
      st.getField("n_chars").as("n_chars"),
      nToks.as("n_tokens"),
      round(st.getField("punct").cast("double") /
        greatest(nToks, lit(1)), 4).as("punct_ratio"),
      round(st.getField("stops").cast("double") /
        greatest(nToks, lit(1)), 4).as("stopword_ratio"),
      round(st.getField("len_sum") /
        greatest(nToks, lit(1)), 4).as("mean_token_len"))
      .withColumn("quality_score",
        round(least(lit(1.0),
          col("n_tokens").cast("double") / 100.0) *
          (lit(1.0) - col("punct_ratio")) *
          least(lit(1.0), col("stopword_ratio") * 5.0 + 0.5), 4))
      .orderBy("doc_id")
  }

  /** Token counts under two tokenizers: whitespace and a BPE-ish regex
    * ([a-z]+ | digit runs | single non-space symbols) — the standard
    * pre-tokenization shape.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
      size(regexp_extract_all(graft.functions.lower_u8(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("bpe_tokens"))
      .orderBy("doc_id")

  /** Language-ID via the codegen LangOf expression (null-safe native call
    * inlined into whole-stage codegen — no ScalaUDF ser/deser per row; the
    * Lang profile tables stay JVM-static).
    */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.lang_of(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Document fingerprint: min/max/count over hashed 4-word shingles —
    * a winnowing-style content signature that survives reordering-free
    * edits and is cheap to compare at scale.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    // native codegen 4-gram shingles (see functions.shingles: the HOF form
    // re-split the text once per output shingle, O(tokens x shingles))
    val sh = graft.functions.shingles(col("text"), 4)
    docs.select(col("doc_id"), explode(sh).as("s"))
      .withColumn("h", graft.functions.h64(col("s")))
      .groupBy("doc_id")
      .agg(min(col("h")).as("fp_min"), max(col("h")).as("fp_max"),
        count(lit(1)).as("n_shingles"),
        countDistinct(col("h")).as("n_distinct"))
      .orderBy("doc_id")
  }
}
