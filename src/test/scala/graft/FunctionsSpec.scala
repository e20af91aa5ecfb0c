package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kernel.{Charset, Lang, Magic}

/** Native Catalyst expression functions: results equal the kernels they
  * wrap, and the expressions participate in whole-stage codegen (no
  * CodegenFallback).
  */
class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    try in.readAllBytes() finally in.close()
  }

  test("sniff_mime / detect_charset / lang_of match the kernels") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val names = Seq("document.pdf", "document.docx", "document.doc",
      "image.jpg", "document.txt", "unknown.bin", "ru.txt")
    val df = names.map(n => (n, fixture(n))).toDF("name", "bytes")
      .select(col("name"),
        graft.functions.sniff_mime(col("bytes")).as("mime"),
        graft.functions.detect_charset(col("bytes")).as("cs"))
    val got = df.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    names.foreach { n =>
      val b = fixture(n)
      assert(got(n)._1 == Magic.contentTypeOf(Magic.sniff(b), None), n)
      assert(got(n)._2 == Charset.detect(b).name, n)
    }
    val langs = Seq("en.txt", "de.txt", "fr.txt", "es.txt", "ru.txt")
    val ldf = langs.map(n => new String(fixture(n), "UTF-8")).toDF("t")
      .select(graft.functions.lang_of(col("t"))).collect().map(_.getString(0))
    assert(ldf.toSeq == langs.map(n => Lang.detect(new String(fixture(n), "UTF-8"))))
  }

  test("expressions are codegen'd (plan shows WholeStageCodegen, no fallback)") {
    // spark.range keeps a real physical plan (a local Seq would be
    // constant-folded into a LocalTableScan before execution)
    val df = spark.range(2)
      .select(unbase64(when(col("id") % 2 === 0, lit("JVBERi0="))
        .otherwise(lit("AAAAAA=="))).as("bytes"))
      .select(graft.functions.sniff_mime(col("bytes")).as("mime"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the short plan form; the
    // expression must still be present (not constant-folded away)
    assert(plan.contains("*(1)"), plan)
    assert(plan.toLowerCase.contains("sniffmime"), plan)
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("application/octet-stream", "application/pdf"))

    val texts = spark.range(3)
      .select(concat_ws(" ", lit("w x"), col("id").cast("string")).as("a"),
        concat_ws(" ", lit("w x y"), col("id").cast("string")).as("b"))
      .select(graft.functions.minhash_sig(col("a")).as("sig"),
        graft.functions.shingle_overlap(col("a"), col("b"), 3).as("o"))
    val tPlan = texts.queryExecution.executedPlan
    assert(tPlan.toString.contains("*(1)"), tPlan)
    for (name <- Seq("minhashsig", "shingleoverlap"))
      assert(tPlan.toString.toLowerCase.contains(name), tPlan)
    val fallbacks = tPlan.expressions.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e
    })
    assert(fallbacks.isEmpty, fallbacks)
    assert(texts.collect().forall(r => r.getSeq[Long](0).size == 16))
  }

  test("shingles: bit-identical to the HOF transform/slice form (incl. null/empty/unicode)") {
    import spark.implicits._
    // the exact expression ShinglesExpr replaced (Dedup.shingles /
    // TextOps.fingerprint before r7): re-evaluates split per shingle
    def hofShingles(text: org.apache.spark.sql.Column, n: Int) = {
      val toks = split(lower(text), " ")
      transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        j => concat_ws(" ", slice(toks, j, lit(n))))
    }
    val rng = new java.util.Random(7)
    val words = Seq("the", "Fox", "JUMPS", "Über", "İstanbul", "12",
      "a", "", "ß", "ΑΣ", "tail  space", "x\ty")
    val texts: Seq[String] =
      Seq(null, "", " ", "  ", "one", "one two", "one two three",
        "a b c d e f", " lead", "trail ", "double  gap", "İ İ İ") ++
      (0 until 300).map { _ =>
        (0 until rng.nextInt(12)).map(_ => words(rng.nextInt(words.size)))
          .mkString(" ")
      }
    for (n <- Seq(3, 4)) {
      val df = texts.toDF("t").select(
        hofShingles(col("t"), n).as("old"),
        graft.functions.shingles(col("t"), n).as("neu"),
        array_distinct(hofShingles(col("t"), n)).as("oldD"),
        graft.functions.shingles_distinct(col("t"), n).as("neuD"))
      df.collect().zip(texts).foreach { case (r, t) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n text=${Option(t).map(x => "'" + x + "'").getOrElse("null")}")
        assert(r.getSeq[String](2) == r.getSeq[String](3),
          s"distinct n=$n text=${Option(t).map(x => "'" + x + "'").getOrElse("null")}")
      }
    }
    // and it participates in whole-stage codegen over a real plan
    val planDf = spark.range(3)
      .select(concat_ws(" ", lit("w"), col("id").cast("string")).as("t"))
      .select(graft.functions.shingles(col("t"), 3).as("sh"))
    val plan = planDf.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(planDf.collect().length == 3)
  }

  // texts for the minhash/overlap properties: the tokenizer edges plus
  // random draws from a small vocabulary, so pairs share shingles
  private def dedupTexts(seed: Int, n: Int): Seq[String] = {
    val rng = new java.util.Random(seed)
    val words = Seq("the", "Fox", "jumps", "Über", "İstanbul", "12", "a", "",
      "ß", "ΑΣ", "dog")
    Seq(null, "", " ", "one", "one two", "one two three", "a b c a b c a b c",
      "x x x x x x", "Über İ ß ΑΣ", "double  gap", "the Fox jumps the fox JUMPS") ++
      (0 until n).map(_ => (0 until rng.nextInt(14))
        .map(_ => words(rng.nextInt(words.size))).mkString(" "))
  }

  test("minhash_sig: bit-identical to the per-doc explode + 16-min aggregation") {
    import spark.implicits._
    import graft.operators.Dedup.{HashA, HashB, NumHashes, P}
    val texts = dedupTexts(19, 300)
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
    // the signature form Dedup.minhashLsh computed before minhash_sig:
    // one row per shingle, then NumHashes min aggregates per doc
    val sh = df.select(col("id"), explode(graft.functions.shingles(col("t"), 3)).as("sh"))
      .withColumn("h", pmod(graft.functions.h64(col("sh")), lit(P)))
    val aggs = (0 until NumHashes).map { i =>
      min(pmod(lit(HashA(i)) * col("h") + lit(HashB(i)), lit(P))).as(s"m$i")
    }
    val old = sh.groupBy("id").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getInt(0) -> (1 to NumHashes).map(r.getLong)).toMap
    val neu = df.select(col("id"), graft.functions.minhash_sig(col("t")).as("sig"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(old.size == texts.size && neu.size == texts.size)
    texts.indices.foreach { i =>
      assert(old(i) == neu(i),
        s"text=${Option(texts(i)).map(x => "'" + x + "'").getOrElse("null")}")
    }
  }

  test("shingle_overlap: equals the sizes of shingles_distinct and array_intersect") {
    import spark.implicits._
    val as = dedupTexts(23, 300)
    val bs = dedupTexts(29, 300)
    // every text against a random partner, itself and null
    val pairs = as.zip(bs) ++ as.map(t => (t, t)) ++ as.map(t => (t, null: String))
    val df = pairs.toDF("a", "b")
    def sd(c: String) = graft.functions.shingles_distinct(col(c), 3)
    val rows = df.select(
      struct(size(sd("a")), size(sd("b")), size(array_intersect(sd("a"), sd("b")))).as("old"),
      graft.functions.shingle_overlap(col("a"), col("b"), 3).as("neu")).collect()
    rows.zip(pairs).foreach { case (r, p) =>
      assert(r.getStruct(0) == r.getStruct(1), p)
    }
    assert(rows.exists(r => r.getStruct(1).getInt(2) > 0))
  }

  test("lower_u8: identical to Catalyst lower() (incl. unicode case edges)") {
    import spark.implicits._
    val texts = Seq("", " ", "MiXeD CaSe", "ÜBER STRASSE ß", "İSTANBUL I ı İ i",
      "ΑΣ ΣΟΦΟΣ", "ЯЗЫК ТЕКСТ", "ĲSSELMEER", "ǅungla", "FIX ﬁ ﬂ")
    val df = texts.toDF("t").select(
      lower(col("t")).as("old"), graft.functions.lower_u8(col("t")).as("neu"))
    df.collect().zip(texts).foreach { case (r, t) =>
      assert(r.getString(0) == r.getString(1), s"'$t'")
    }
  }

  test("h64: bit-identical to conv(substring(md5(s),1,15),16,10) cast long") {
    import spark.implicits._
    val rng = new java.util.Random(11)
    val texts: Seq[String] = Seq("", " ", "a", "the quick fox", "Über İ ß",
      "", "0" * 100) ++
      (0 until 500).map(_ => rng.nextInt().toString + " tok" + rng.nextLong())
    val df = texts.toDF("t").select(
      conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10).cast("long").as("old"),
      graft.functions.h64(col("t")).as("neu"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    // null propagates like the composed chain
    val n = Seq[String](null).toDF("t")
      .select(graft.functions.h64(col("t"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("lsh_sigs: bit-identical to the per-(table,bit) when(dot>=0) column form") {
    import spark.implicits._
    import graft.operators.Ann
    val rng = new java.util.Random(13)
    val rows = (0 until 100).map { i =>
      (i.toLong, (0 until 64).map(_ => (rng.nextDouble() * 2 - 1).toFloat))
    }
    val df = rows.toDF("id", "v")
    // the column form lsh_sigs replaced: bit b of table t is
    // sign(v . hyperplane(t,b)), dot_f64 folded left
    val oldSigs = (0 until 8).map { t =>
      (0 until 16).map { b =>
        val signs = typedlit((0 until 64).map(d => Ann.hyperSign(42L, t, b, d)))
        when(graft.functions.dot_f64(col("v"), signs) >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val oldDf = df.select(col("id") +: oldSigs.zipWithIndex.map {
      case (s, t) => s.as(s"s$t") }: _*).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val newDf = df.select(col("id"),
        graft.functions.lsh_sigs(col("v"), 8, 16, 64, 42L).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { case (id, _) => assert(oldDf(id) == newDf(id), s"id=$id") }
  }

  test("text_stats: quality features bit-identical to the HOF column form") {
    import spark.implicits._
    val rng = new java.util.Random(17)
    val words = Seq("the", "fox", "!?", "...", ",", "for", "a", "", "Über",
      "12", "it", "longword" * 3)
    val texts: Seq[String] = Seq("", " ", "a b", "the ... for it", ". , ; :") ++
      (0 until 300).map(_ => (0 until rng.nextInt(15))
        .map(_ => words(rng.nextInt(words.size))).mkString(" "))
    // the exact pre-r7 TextOps.quality feature expressions
    def oldQ(t: org.apache.spark.sql.Column) = {
      val toks = split(graft.functions.lower_u8(t), " ")
      val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
      val stopHits = stop.map(s => size(filter(toks, x => x === s))).reduce(_ + _)
      struct(
        length(t), size(toks),
        round(size(filter(toks, x => x.rlike("^[.,;:!?]+$"))).cast("double") /
          greatest(size(toks), lit(1)), 4),
        round(stopHits.cast("double") / greatest(size(toks), lit(1)), 4),
        round(aggregate(toks, lit(0.0), (acc, x) => acc + length(x)) /
          greatest(size(toks), lit(1)), 4))
    }
    def newQ(t: org.apache.spark.sql.Column) = {
      val st = graft.functions.text_stats(t)
      val nToks = st.getField("n_tokens")
      struct(
        st.getField("n_chars"), nToks,
        round(st.getField("punct").cast("double") / greatest(nToks, lit(1)), 4),
        round(st.getField("stops").cast("double") / greatest(nToks, lit(1)), 4),
        round(st.getField("len_sum") / greatest(nToks, lit(1)), 4))
    }
    val rows = texts.toDF("t")
      .select(oldQ(col("t")).as("o"), newQ(col("t")).as("n")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getStruct(0) == r.getStruct(1), s"'$t'")
    }
  }

  test("SQL registration: functions usable from spark.sql") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT sniff_mime(unbase64('JVBERi0=')) AS mime,
        |  detect_charset(unbase64('aGVsbG8=')) AS cs,
        |  lang_of('the woods are lovely dark and deep and the wind is in the snow') AS l,
        |  round(dot_f64(array(1.0D, 2.0D), array(3.0D, 4.0D)), 3) AS dot""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "application/pdf")
    assert(r.getString(1) == "UTF-8")
    assert(r.getString(2) == "en")
    assert(r.getDouble(3) == 11.0)
  }
}
