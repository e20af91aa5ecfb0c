package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{Extract, Lang}

/** The extraction pipeline: docs + media -> Dataset[ExtractedRow].
  *
  * Scale design (the reference is serial, reference: lib/rika/cli/
  * rika_command.rb:82-90; everything below is our distribution strategy):
  *
  *  - media payloads are decoded and extracted in the media table's own
  *    scan stage, so raw payload bytes cross no exchange; only text-sized
  *    extracts meet the exploded spans in the hash exchange on media_ref
  *    (uniformly distributed by construction);
  *  - per-doc assembly is one linear exchange of EXTRACTED text only
  *    (orders of magnitude smaller than payloads); every subtree is
  *    consumed exactly once — a singles fast-path split was measured
  *    slower because any DAG fork recomputes the scan+join subtrees;
  *  - inline-text spans extract directly in the scan stage: byte-bounded
  *    scan splits (spark.sql.files.maxPartitionBytes) balance extraction
  *    cost across cores. A doc's inline spans stay in its scan split, so a
  *    doc with many heavy inline spans is one task's work; giant binary
  *    payloads are media rows, one kernel call each in the media scan;
  *  - a resume runs the plan of a fresh run over its todo set, so every
  *    media row is extracted, including those only committed docs
  *    reference; their extracts drop out at the span join. Pruning them
  *    before the decode is left to Spark's runtime bloom filter, which
  *    needs a media side it can trace to the scan;
  *  - kernels run inside mapPartitions: parser state (lang profiles,
  *    format tables) is JVM-static, amortized per executor, mirroring the
  *    reference's one-JVM claim (reference: README.md:225-228).
  */
object Pipeline {

  /** Full pipeline. `docs(doc_id, spans)`, `media(media_ref, bytes_b64)`.
    *
    * `maxContentLength` truncates extracted text (-1 = unbounded). Every
    * media row is extracted, referenced or not; the span join is a LEFT
    * join keyed by span-side refs, so unreferenced extracts drop out.
    */
  def extract(spark: SparkSession, docs: DataFrame, media: DataFrame,
      maxContentLength: Int = -1): Dataset[ExtractedRow] = {
    import spark.implicits._

    // branch-specialized projections. The media branch never touches the
    // heavy span.text field — but explode(spans) plants a size(spans)>0
    // filter on the FULL struct column, defeating nested-schema pruning
    // (verified: ReadSchema kept text:string). Extracting the needed
    // fields as parallel arrays (GetArrayStructFields, which
    // NestedColumnAliasing handles) and zipping them back lets the scan
    // read only <kind, media_ref, offset> (verified in ReadSchema) — the
    // text column is the bulk of the docs table's inline bytes.
    def spanRows(withText: Boolean) =
      if (withText)
        docs.select(col("doc_id"), explode(col("spans")).as("span"))
          .select(col("doc_id"),
            col("span.offset").as("span_idx"), col("span.kind").as("kind"),
            col("span.text").as("text"), col("span.media_ref").as("media_ref"))
      else
        docs.select(col("doc_id"),
            explode(arrays_zip(col("spans.offset"), col("spans.kind"),
              col("spans.media_ref"))).as("span"))
          .select(col("doc_id"),
            col("span.offset").as("span_idx"), col("span.kind").as("kind"),
            col("span.media_ref").as("media_ref"))

    val p = spark.sessionState.conf.numShufflePartitions
    val opt = Extract.Options(maxContentLength)

    // ---- text spans ----------------------------------------------------
    // inline text extracts in the scan stage: byte-bounded scan splits
    // (spark.sql.files.maxPartitionBytes) balance extraction cost across
    // cores
    val textSpans = spanRows(withText = true).filter(col("media_ref").isNull)

    def extractTextRows(df: DataFrame): Dataset[SpanExtract] =
      df.select(col("doc_id"), col("span_idx"), col("kind"), col("text"))
        .as[(String, Int, String, String)]
        .mapPartitions(_.map { case (docId, idx, kind, text) =>
          toSpanExtract(docId, idx, null,
            Extract.extractText(kind, text, opt),
            if (text == null) 0L else text.length.toLong)
        })

    // ---- media spans ---------------------------------------------------
    // EXTRACT-BEFORE-JOIN (round 2): payloads are base64-decoded AND
    // kernel-extracted inside the media table's OWN scan stage, so raw
    // bytes never cross any exchange at any scale — the join that attaches
    // results to spans moves only text-sized MediaExtract rows. This also
    // removes the r1 broadcast-spans path's serial section (collecting and
    // building a spans hash relation on the driver — an Amdahl cap whose
    // cost is invisible at 2 cores and ~20% of the pass at 8), and
    // deduplicates kernel work when several spans reference one media row.
    // Detection is content-first (D1 re-sniffs), so extraction needs
    // nothing from the span row.
    val mediaSpansParted = spanRows(withText = false)
      .filter(col("media_ref").isNotNull)
      .repartition(p, col("media_ref"))
    val extractedMedia: Dataset[MediaExtract] = media
      .select(col("media_ref"), unbase64(col("bytes_b64")).as("bytes"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (ref, bytes) =>
        val out = Extract.extractBytes("media", bytes, opt)
        MediaExtract(ref,
          if (out.isMedia) "media" else if (out.blocks.nonEmpty) "text" else "none",
          out.blocks, out.contentType,
          out.metadata.toSeq.map { case (k, v) => MetaEntry(k, v) },
          out.issue.getOrElse(""),
          if (bytes == null) 0L else bytes.length.toLong)
      })

    // left join keeps spans whose media_ref resolves nothing -> io_error
    // taxonomy rows (null-filled columns defaulted below). Both sides are
    // text-sized and meet in an explicit hash exchange on media_ref
    // (uniform by construction).
    val mediaJoined = mediaSpansParted
      .hint("shuffle_hash")
      .join(extractedMedia.toDF().repartition(p, col("media_ref")),
        Seq("media_ref"), "left")

    val emptyMeta = array().cast("array<struct<key:string,value:string>>")
    val mediaRows: Dataset[SpanExtract] = mediaJoined.select(
        col("doc_id"), col("span_idx"),
        coalesce(col("out_kind"), lit("none")).as("out_kind"),
        coalesce(col("blocks"), array().cast("array<string>")).as("blocks"),
        col("media_ref"),
        coalesce(col("content_type"), lit("application/octet-stream")).as("content_type"),
        coalesce(col("metadata"), emptyMeta).as("metadata"),
        coalesce(col("issue_type"), lit(Extract.IssueIoError)).as("issue_type"),
        coalesce(col("bytes_in"), lit(0L)).as("bytes_in"))
      .as[SpanExtract]

    // ---- finalize ------------------------------------------------------
    // one linear flow, each subtree consumed exactly once (a singles
    // fast-path split would recompute the scan+join subtrees — measured
    // slower than shuffling the small extracted text). Only extracted
    // text crosses this exchange; payload bytes are gone.
    // collect_list(struct) => ObjectHashAggregate whose update appends
    // RAW rows: the previous typed Aggregator deserialized every span
    // row through its ExpressionEncoder in groupByKey AND in the agg
    // update path (r7 stage audit: ~15 CPU-s per pass, ~40% of pass
    // CPU); assembly now decodes each doc's span list ONCE in a typed
    // map after the (unchanged, partial-aggregated) doc_id exchange.
    val spanCols = Seq("doc_id", "span_idx", "out_kind", "blocks",
      "media_ref", "content_type", "metadata", "issue_type", "bytes_in")
    extractTextRows(textSpans).union(mediaRows).toDF()
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(spanCols.map(col): _*)).as("parts"))
      .as[(String, Seq[SpanExtract])]
      .map { case (docId, parts) =>
        assembleDoc(docId, parts.toArray.sortBy(_.span_idx))
      }
  }

  private def toSpanExtract(docId: String, idx: Int, ref: String,
      out: Extract.Out, bytesIn: Long): SpanExtract =
    SpanExtract(
      doc_id = docId,
      span_idx = idx,
      out_kind = if (out.isMedia) "media" else if (out.blocks.nonEmpty) "text" else "none",
      blocks = out.blocks,
      media_ref = ref,
      content_type = out.contentType,
      metadata = out.metadata.toSeq.map { case (k, v) => MetaEntry(k, v) },
      issue_type = out.issue.getOrElse(""),
      bytes_in = bytesIn)

  /** Per-doc finalization from extracted spans (sorted by span_idx): dense
    * output offsets in input order, doc-level content type / language /
    * sorted metadata, failure taxonomy.
    */
  def assembleDoc(docId: String, parts: Array[SpanExtract]): ExtractedRow = {
    val outSpans = Vector.newBuilder[Span]
    var off = 0
    parts.foreach { p =>
      if (p.out_kind == "media") {
        outSpans += Span("media", null, p.media_ref, off); off += 1
      } else p.blocks.foreach { b =>
        outSpans += Span("text", b, null, off); off += 1
      }
    }

    val cts = parts.map(_.content_type).distinct
    val contentType = if (cts.length == 1) cts.head else "multipart/mixed"

    // language over a bounded sample of extracted text (doc-level, like
    // the reference's whole-content detect, reference: lib/rika/parser.rb:30)
    val sample = new StringBuilder
    var i = 0
    while (i < parts.length && sample.length < 4096) {
      parts(i).blocks.foreach { b =>
        if (sample.length < 4096) {
          sample.append(b.take(4096 - sample.length)); sample.append('\n')
        }
      }
      i += 1
    }
    val language = Lang.detect(sample.toString)

    // metadata merge: first span wins per key; engine-injected keys mirror
    // the reference (reference: lib/rika/parser.rb:31-32), sorted by
    // Extract.sortedByKey.
    val merged = scala.collection.mutable.LinkedHashMap[String, String]()
    parts.foreach(_.metadata.foreach(e =>
      if (!merged.contains(e.key)) merged += (e.key -> e.value)))
    merged += ("Content-Type" -> contentType)
    merged += ("rika:language" -> language)
    merged += ("rika:data-source" -> docId)
    val metadata = Extract.sortedByKey(merged.toSeq)
      .map { case (k, v) => MetaEntry(k, v) }

    val issues = parts.map(_.issue_type).filter(_.nonEmpty)
    ExtractedRow(
      doc_id = docId,
      spans = outSpans.result(),
      content_type = contentType,
      language = language,
      metadata = metadata,
      status = if (issues.isEmpty) "ok" else "failed",
      issue_type = issues.headOption.getOrElse(""),
      bytes_in = parts.map(_.bytes_in).sum)
  }
}
