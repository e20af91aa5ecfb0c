package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Seeded benchmark inputs. The engine only ever sees the parquet written
  * here; the seed never reaches it.
  */
object Inputs {

  private val Vocab = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def rng(seed: Long, table: Long, i: Long) =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ (table << 40) ^ i)

  /** `documents` (doc_id, text, lang, source, n_chars) and `embeddings`
    * (vec_id, 64-d unit float vector, label in 0..9), the operator suite's
    * tables, with the shape of the repo's sf0.1 test tables.
    */
  def writeTables(spark: SparkSession, dir: String, nDocs: Int, nVecs: Int,
      seed: Long): Unit = {
    import spark.implicits._
    spark.range(0, nDocs, 1, 4).map { i =>
      val r = rng(seed, 1, i)
      val u = r.nextDouble()
      val lang = if (u < 0.41) "en" else if (u < 0.56) "zh" else if (u < 0.71) "es"
        else if (u < 0.86) "fr" else "de"
      val n = 10 + r.nextInt(91)
      val text = Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      (i, text, lang, s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    spark.range(0, nVecs, 1, 4).map { i =>
      val r = rng(seed, 2, i)
      val v = Array.fill(64)(r.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }
}
