package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import graft.kernel.{Extract, Lang, Magic}

/** Kernel-only pass over a workload's payloads: no Spark, just the calls
  * `Pipeline.extract` makes per span (`Extract.extractText` for inline
  * text, `Extract.extractBytes` once per referenced media row) and the
  * per-doc `Lang.detect`. Each call is timed and bucketed by the sniffed
  * kind, the same dispatch the kernels themselves use.
  */
object KernelPass {

  val Kinds = Seq("pdf", "docx", "xlsx", "pptx", "doc", "rtf", "odt", "epub",
    "eml", "html", "txt", "jpeg", "archive", "other")
  val Issues = Seq(Extract.IssueEmptyFile, Extract.IssueIoError,
    Extract.IssueInvalidInput, Extract.IssueParseError)

  private val Archives = Set[Magic.Kind](Magic.Kind.Zip, Magic.Kind.Gzip,
    Magic.Kind.Tar, Magic.Kind.Bz2, Magic.Kind.Xz, Magic.Kind.Zstd,
    Magic.Kind.SevenZ, Magic.Kind.Rar)

  def bucket(k: Magic.Kind): String =
    if (Archives(k)) "archive"
    else if (Kinds.contains(k.name)) k.name
    else "other"

  /** One doc: its inline text spans and its media refs, in span order. */
  final case class Doc(id: String, spans: Seq[(String, String, String)]) // kind, text, media_ref

  final case class Result(calls: Map[String, Long], ms: Map[String, Double],
      issues: Map[String, Long], langCalls: Long, langMs: Double,
      wall1: Double, cpu1: Double, wall4: Double, docs: Int)

  private final class Acc {
    val calls = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val ns = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val issues = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var langCalls = 0L
    var langNs = 0L
  }

  private val opt = Extract.Options()

  /** Extract one doc the way the pipeline does; returns its text blocks. */
  private def doc(d: Doc, media: Map[String, Array[Byte]], acc: Acc,
      seen: mutable.Set[String]): Unit = {
    val blocks = Vector.newBuilder[String]
    d.spans.foreach { case (kind, text, ref) =>
      val out =
        if (ref == null) {
          val k = if (text == null || text.isEmpty) "txt" else bucket(Magic.sniffText(text))
          val t0 = System.nanoTime()
          val o = Extract.extractText(kind, text, opt)
          acc.ns(k) += System.nanoTime() - t0; acc.calls(k) += 1
          Some(o)
        } else media.get(ref) match {
          case None => acc.issues(Extract.IssueIoError) += 1; None
          case Some(bytes) =>
            // the pipeline extracts each referenced media row once
            if (!seen.add(ref)) None
            else {
              val k = bucket(Magic.sniff(bytes))
              val t0 = System.nanoTime()
              val o = Extract.extractBytes("media", bytes, opt)
              acc.ns(k) += System.nanoTime() - t0; acc.calls(k) += 1
              Some(o)
            }
        }
      out.foreach { o =>
        o.issue.foreach(i => acc.issues(i) += 1)
        blocks ++= o.blocks
      }
    }
    val sample = new StringBuilder
    blocks.result().foreach { b =>
      if (sample.length < 4096) { sample.append(b.take(4096 - sample.length)); sample.append('\n') }
    }
    val t0 = System.nanoTime()
    Lang.detect(sample.toString)
    acc.langNs += System.nanoTime() - t0; acc.langCalls += 1
  }

  def run(docs: Seq[Doc], media: Map[String, Array[Byte]]): Result = {
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
    val acc = new Acc
    val seen = mutable.Set.empty[String]
    val c0 = tmx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    docs.foreach(doc(_, media, acc, seen))
    val wall1 = (System.nanoTime() - t0) / 1e9
    val cpu1 = (tmx.getCurrentThreadCpuTime - c0) / 1e9

    // the same docs on 4 threads, split round-robin; each thread keeps its
    // own set of extracted media refs
    val pool = Executors.newFixedThreadPool(4)
    val t1 = System.nanoTime()
    val futures = (0 until 4).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val a = new Acc
          val s = mutable.Set.empty[String]
          docs.indices.filter(_ % 4 == w).foreach(i => doc(docs(i), media, a, s))
        }
      })
    }
    futures.foreach(_.get())
    val wall4 = (System.nanoTime() - t1) / 1e9
    pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS)

    Result(Kinds.map(k => k -> acc.calls(k)).toMap,
      Kinds.map(k => k -> acc.ns(k) / 1e6).toMap,
      Issues.map(i => i -> acc.issues(i)).toMap,
      acc.langCalls, acc.langNs / 1e6, wall1, cpu1, wall4, docs.size)
  }
}
