package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import Main._

/** Per-layer metrics of a traced run. Every workload reports every name in
  * [[Names]]; a layer a workload never calls reads 0.
  */
object Layers {

  val StageLabels = StageTrace.Labels

  val Names: Seq[(String, String)] =
    KernelPass.Kinds.flatMap(k => Seq(s"kernel.$k.calls" -> "count", s"kernel.$k.ms" -> "ms")) ++
    Seq("kernel.docs_per_s_1t" -> "1/s", "kernel.docs_per_s_4t" -> "1/s",
      "kernel.cpu_s" -> "s") ++
    KernelPass.Issues.map(i => s"kernel.issue.$i" -> "count") ++
    Seq("lang.detect.calls" -> "count", "lang.detect.ms" -> "ms") ++
    StageLabels.flatMap(l => Seq(s"$l.wall_s" -> "s", s"$l.cpu_s" -> "s",
      s"$l.shuffle_mb" -> "MB", s"$l.skew" -> "ratio")) ++
    Seq("pipeline.idle_share" -> "ratio", "media.calls" -> "count",
      "media.useful_ratio" -> "ratio", "iceberg.append_s" -> "s",
      "iceberg.files" -> "count", "iceberg.mb_written" -> "MB",
      "spark_tax" -> "ratio", "scale_1_to_2" -> "ratio",
      "runner.first_s" -> "s", "runner.resume_s" -> "s",
      "trace.unlabelled_tasks" -> "count", "trace.gate_fresh_tasks" -> "count") ++
    Ops.Leaves.flatMap(l => Seq(s"ops.$l.s" -> "s", s"ops.$l.cpu_s" -> "s")) ++
    Seq("heap_peak_mb" -> "MB", "error_rate" -> "ratio", "host.nproc" -> "count",
      "host.loadavg_1m" -> "load", "host.gc_ms" -> "ms", "host.jit_ms" -> "ms",
      "trace.job_s" -> "s")

  def fillMissing(ctx: Ctx): Unit =
    Names.foreach { case (n, u) => if (!ctx.layers.contains(n)) ctx.layers(n) = (0.0, u) }

  private def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Spark-layer metrics of the timed `Runner.run` jobs, averaged per job. */
  def spark(ctx: Ctx, jobs: Seq[Job], mediaCalls: Map[Int, Long],
      referencedMedia: Long, outDirOf: Int => String): Unit = {
    val st = ctx.stages.get
    val passes = jobs.map(_.pass).toSet
    val recs = st.stages.filter(s => passes(s.pass)).toSeq
    val n = jobs.size.toDouble
    // (stage, label) -> that stage's tasks with the label
    val parts = recs.flatMap(s => s.tasks.groupBy(t => st.label(s, t)).map { case (l, ts) => (s, l, ts) })
    // the labelling's own check: every task has a layer, and the media
    // gate, off on a fresh run, has no task in one
    val unlabelled = parts.filter(_._2 == StageTrace.Unlabelled)
    val gateFresh = parts.filter(p => p._2 == "pipeline.gate" && p._1.step == "runner.first")
    (unlabelled ++ gateFresh).foreach { case (s, l, _) =>
      System.err.println(s"[perfbench] WARNING: stage ${s.stageId} (${s.step}) labelled $l: " +
        s"${st.nodesOf(s).map(_.name).mkString(", ")} at ${s.callSite.linesIterator.take(3).mkString(" < ")}")
    }
    ctx.layers("trace.unlabelled_tasks") = (unlabelled.map(_._3.size).sum.toDouble, "count")
    ctx.layers("trace.gate_fresh_tasks") = (gateFresh.map(_._3.size).sum.toDouble, "count")
    StageLabels.foreach { l =>
      val ps = parts.filter(_._2 == l)
      val ts = ps.flatMap(_._3)
      ctx.layers(s"$l.wall_s") = (ps.map { case (_, _, t) =>
        (t.map(_.finishMs).max - t.map(_.launchMs).min) / 1000.0 }.sum / n, "s")
      ctx.layers(s"$l.cpu_s") = (ts.map(_.cpuNs / 1e9).sum / n, "s")
      ctx.layers(s"$l.shuffle_mb") = (ts.map(t => (t.shuffleReadBytes + t.shuffleWriteBytes) / 1e6).sum / n, "MB")
      val med = medianOf(ts.map(_.ms.toDouble))
      ctx.layers(s"$l.skew") = (if (med > 0) ts.map(_.ms).max / med else 0.0, "ratio")
    }
    ctx.layers("pipeline.idle_share") = (mean(jobs.map { j =>
      val busy = recs.filter(_.pass == j.pass).flatMap(_.tasks).map(_.ms).sum / 1000.0
      1.0 - busy / (j.wallS * Cores)
    }), "ratio")
    val calls = mean(mediaCalls.values.map(_.toDouble))
    ctx.layers("media.calls") = (calls, "count")
    ctx.layers("media.useful_ratio") = (if (calls > 0) referencedMedia / calls else 0.0, "ratio")
    // IcebergLite.append executions' wall outside all of their tasks:
    // planning, job and file commit
    val appendS = recs.groupBy(_.execId).toSeq.flatMap { case (id, rs) =>
      st.execs.get(id).filter(e => e.description.contains("IcebergLite") && e.endMs > 0)
        .map { e =>
          val covered = rs.flatMap(_.tasks).map(t => (t.launchMs, t.finishMs)).sortBy(_._1)
            .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (s, t)) =>
              val s2 = math.max(s, hi)
              if (t > s2) (acc + (t - s2), t) else (acc, hi)
            }._1
          (e.endMs - e.startMs - covered) / 1000.0
        }
    }
    ctx.layers("iceberg.append_s") = (appendS.sum / n, "s")
    val written = jobs.map(j => Extraction.listFiles(outDirOf(j.pass))
      .filter { case (p, _) => p.endsWith(".parquet") })
    ctx.layers("iceberg.files") = (mean(written.map(_.size.toDouble)), "count")
    ctx.layers("iceberg.mb_written") = (mean(written.map(_.values.sum / 1e6)), "MB")
  }

  /** Kernel-only pass over `docs`' payloads; returns docs/s at 4 threads. */
  def kernel(ctx: Ctx, spark: SparkSession, docs: DataFrame, media: DataFrame): Double = {
    val ds = docs.select(col("doc_id"), col("spans")).collect().toSeq.map { r =>
      val spans = r.getSeq[Row](1).sortBy(_.getAs[Int]("offset")).map(s =>
        (s.getAs[String]("kind"), s.getAs[String]("text"), s.getAs[String]("media_ref")))
      KernelPass.Doc(r.getString(0), spans)
    }
    val refs = ds.flatMap(_.spans.map(_._3)).filter(_ != null).toSet
    val mediaMap = media.select("media_ref", "bytes_b64").collect()
      .filter(r => refs(r.getString(0)))
      .map(r => r.getString(0) -> java.util.Base64.getDecoder.decode(
        Option(r.getString(1)).getOrElse(""))).toMap
    val res = ctx.spans.phase("kernel.pass")(KernelPass.run(ds, mediaMap))
    KernelPass.Kinds.foreach { k =>
      ctx.layers(s"kernel.$k.calls") = (res.calls(k).toDouble, "count")
      ctx.layers(s"kernel.$k.ms") = (res.ms(k), "ms")
    }
    ctx.layers("kernel.docs_per_s_1t") = (res.docs / res.wall1, "1/s")
    ctx.layers("kernel.docs_per_s_4t") = (res.docs / res.wall4, "1/s")
    ctx.layers("kernel.cpu_s") = (res.cpu1, "s")
    KernelPass.Issues.foreach(i => ctx.layers(s"kernel.issue.$i") = (res.issues(i).toDouble, "count"))
    ctx.layers("lang.detect.calls") = (res.langCalls.toDouble, "count")
    ctx.layers("lang.detect.ms") = (res.langMs, "ms")
    res.docs / res.wall4
  }
}
