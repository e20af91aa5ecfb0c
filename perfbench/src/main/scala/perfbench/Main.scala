package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: sets up one workload's seeded inputs, warms the JIT, runs
  * the workload as a closed loop with one client for `--seconds`, checks
  * every output it can check from inside the engine's process and writes
  * one JSON result file (see `perfbench/run.py`, which wraps this).
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   --out FILE [--trace-out FILE] [--scale full|small] [--corrupt spans|dup]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, traceOut: String,
      small: Boolean, corrupt: String) {
    // input sizes: the extraction corpus; the operator suite's documents,
    // embeddings and media corpus (timed, and the smaller warm-up set)
    def corpusDocs: Long = if (small) 200L else 400L
    def opsSizes: Ops.Sizes = if (small) Ops.Sizes(300, 200, 60) else Ops.Sizes(3000, 1500, 120)
    def opsWarmSizes: Ops.Sizes = if (small) Ops.Sizes(300, 200, 60) else Ops.Sizes(300, 150, 30)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", m("--work"), m("--out"),
      m.getOrElse("--trace-out", ""), m.getOrElse("--scale", "full") == "small",
      m.getOrElse("--corrupt", ""))
  }

  /** Spark task threads: two of the host's 4 shared cores, so the
    * benchmark's own threads leave room for Spark's scheduler and the JIT.
    */
  val Cores = 2

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.storage.memoryMapThreshold", "512m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------ metrics
  /** name -> (value, unit), in report order. */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  /** Milliseconds the JIT compilers have spent, summed over their threads. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Heap in use right after the most recent collection of each pool. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** One closed-loop job: wall and process CPU seconds, docs and payload
    * bytes it completed, heap after GC when it ended.
    */
  final case class Job(pass: Int, wallS: Double, cpuS: Double, docs: Long,
      bytes: Long, heapMb: Double)

  /** Run `job` back to back for about `seconds` (at least `minJobs`
    * times): the loop ends at the job boundary nearest to `seconds`,
    * judged by the mean job so far. `prepare` runs untimed before each
    * job. Pass ids start at 1; set-up and warm-up run as pass 0.
    */
  def closedLoop(spans: Spans, seconds: Double, minJobs: Int,
      prepare: Int => Unit = _ => ())(job: Int => (Long, Long)): Seq[Job] = {
    val out = mutable.ArrayBuffer.empty[Job]
    var timed = 0.0
    var k = 1
    while (k <= minJobs || timed + timed / out.size / 2 < seconds) {
      prepare(k)
      spans.pass = k
      val c0 = processCpuS
      val t0 = System.nanoTime()
      val (docs, bytes) = spans("job")(job(k))
      val wall = (System.nanoTime() - t0) / 1e9
      out += Job(k, wall, processCpuS - c0, docs, bytes, heapAfterGcMb)
      System.err.println(f"[perfbench] job $k $wall%.2f s")
      spans.pass = 0
      timed += wall
      k += 1
    }
    out.toSeq
  }

  final case class Outcome(attempted: Long, failed: Long, metrics: Metrics,
      layers: Metrics, opsOutputs: Seq[(String, Int, String)] = Nil,
      opsInput: String = "")

  // ---------------------------------------------------------------- main
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(a.trace)
    new File(a.work).mkdirs()
    val spark = spans.phase("setup.spark")(session(a.work, Cores))
    val stages = if (a.trace) {
      val st = new StageTrace(spans); spark.sparkContext.addSparkListener(st); Some(st)
    } else None
    val ctx = new Ctx(a, spans, stages, jvmStartMs)
    val outcome = a.workload match {
      case "extract_resume" => Extraction.run(spark, ctx)
      case "ops_suite"      => Ops.suite(spark, ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spans.phase("shutdown") {
      SparkSession.getDefaultSession.foreach(_.stop())
      spark.stop()
    }
    if (a.trace && a.traceOut.nonEmpty) spans.writeJsonl(a.traceOut)
    writeOutcome(a.out, outcome)
    System.err.println(f"[perfbench] done at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    sys.exit(0)
  }

  /** Everything a workload needs besides the session. */
  final class Ctx(val a: Args, val spans: Spans, val stages: Option[StageTrace],
      jvmStartMs: Long) {
    val e2e: Metrics = mutable.LinkedHashMap.empty
    val layers: Metrics = mutable.LinkedHashMap.empty
    private var gc0 = 0L
    private var jit0 = 0L

    /** Close set-up: everything since the JVM started. */
    def endSetup(): Unit = {
      e2e("setup_s") = ((System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")
      layers("host.nproc") = (Runtime.getRuntime.availableProcessors.toDouble, "count")
      layers("host.loadavg_1m") = (osBean.getSystemLoadAverage, "load")
      gc0 = gcMs
      jit0 = jitMs
      stages.foreach(_.clear())
    }

    def endTimed(jobs: Seq[Job]): Unit = {
      layers("host.gc_ms") = ((gcMs - gc0).toDouble, "ms")
      layers("host.jit_ms") = ((jitMs - jit0).toDouble, "ms")
      e2e("job_s") = (medianOf(jobs.map(_.wallS)), "s")
      e2e("docs_per_s") = (medianOf(jobs.map(j => j.docs / j.wallS)), "1/s")
      e2e("mb_per_s") = (medianOf(jobs.map(j => j.bytes / 1e6 / j.wallS)), "MB/s")
      e2e("cpu_s") = (medianOf(jobs.map(_.cpuS)), "s")
      layers("heap_peak_mb") = (jobs.map(_.heapMb).max, "MB")
      layers("trace.job_s") = (medianOf(jobs.map(_.wallS)), "s")
    }
  }

  def writeOutcome(path: String, o: Outcome): Unit = {
    def obj(m: Metrics) = m.map { case (k, (v, u)) =>
      k -> Map("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> u).asJava
    }.asJava
    val json = Map[String, Any](
      "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> obj(o.metrics), "layers" -> obj(o.layers),
      "ops_outputs" -> o.opsOutputs.map { case (leaf, pass, p) =>
        Map[String, Any]("leaf" -> leaf, "pass" -> pass, "path" -> p).asJava
      }.asJava,
      "ops_input" -> o.opsInput).asJava
    val f = new File(path)
    f.getParentFile.mkdirs()
    new ObjectMapper().writeValue(f, json)
  }
}
