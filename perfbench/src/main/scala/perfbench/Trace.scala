package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

object Spans {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, pass: Int)
}

/** In-memory span recorder. Spans sit only around the benchmark's calls
  * into the engine's layers; nothing inside the engine is instrumented.
  * A span is (name, start, end, parent, pass): `pass` ties every span of
  * one closed-loop job together. Disabled spans cost one branch.
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val done = new ConcurrentLinkedQueue[Span]()
  private var nextId = 1
  private var stack = List.empty[Int]
  @volatile var pass = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, t0, System.nanoTime(), parent, pass))
        stack = stack.tail
      }
    }

  /** A set-up phase: a span when tracing, and a line in the JVM log always. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try apply(name)(body)
    finally System.err.println(f"[perfbench] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def writeJsonl(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"pass":${s.pass}}""")
    } finally w.close()
  }
}

/** Stage-level trace of the Spark layer. Every completed stage is tied to
  * the closed-loop pass that was running when it was submitted, and to
  * the physical-plan nodes whose SQL metrics it updated (accumulator ids
  * of the execution's plan, including every adaptive re-plan). Labels are
  * assigned from those nodes by [[StageTrace.label]].
  */
object StageTrace {
  /** A physical-plan node; `broadcast` when it sits under a broadcast
    * exchange.
    */
  final case class Node(name: String, location: String, broadcast: Boolean)
  final case class TaskRec(launchMs: Long, finishMs: Long, cpuNs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    def ms: Long = finishMs - launchMs
  }
  /** One completed stage: its closed-loop pass, the harness step that
    * submitted it (`Step` local property, "" outside one), its SQL
    * execution (-1 if none), the accumulators it updated, its call site and
    * its tasks.
    */
  final case class StageRec(stageId: Int, pass: Int, step: String, execId: Long,
      accIds: Set[Long], callSite: String, tasks: Seq[TaskRec])
  final case class ExecRec(id: Long, description: String, startMs: Long,
      var endMs: Long, nodesByAcc: mutable.Map[Long, Node],
      allNodes: mutable.ArrayBuffer[Node])

  val Labels = Seq("pipeline.scan_text", "pipeline.media_kernel",
    "pipeline.media_join", "pipeline.assemble", "runner.commit",
    "runner.metrics", "runner.antijoin", "pipeline.gate")
  /** Tasks no rule of [[StageTrace.label]] claims. */
  val Unlabelled = "unlabelled"

  /** Local properties the harness sets around its calls into the engine;
    * a job carries the ones set when it was submitted.
    */
  val PassProperty = "perfbench.pass"
  val StepProperty = "perfbench.step"

  /** Jobs outside any SQL execution are parquet schema reads, run when a
    * DataFrame over a table is made; labelled by the frame that reads.
    */
  val SchemaReaders = Seq(
    "IcebergLite$.readSnapshot" -> "runner.metrics",
    "IcebergLite$.readAll" -> "runner.antijoin",
    "Gen$.readMedia" -> "pipeline.media_kernel",
    "Gen$.readDocs" -> "pipeline.scan_text")
}

/** Stage- and task-level trace of the Spark layer. Every completed stage
  * is tied to the closed-loop pass that was running when its job started,
  * and to the physical-plan nodes whose SQL metrics it updated
  * (accumulator ids of its execution's plan, including every adaptive
  * re-plan). [[StageTrace.label]] turns those into a layer label per task.
  */
final class StageTrace(spans: Spans) extends SparkListener {
  import StageTrace._

  private val stageExec = mutable.Map.empty[Int, Long]
  private val stagePass = mutable.Map.empty[Int, (Int, String)]
  private val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskRec]]
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]

  private def addPlan(e: ExecRec, p: SparkPlanInfo, broadcast: Boolean = false): Unit = {
    val n = Node(p.nodeName, p.metadata.getOrElse("Location", ""), broadcast)
    e.allNodes += n
    p.metrics.foreach(m => e.nodesByAcc(m.accumulatorId) = n)
    p.children.foreach(addPlan(e, _, broadcast || p.nodeName.startsWith("BroadcastExchange")))
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = synchronized {
    ev match {
      case s: SparkListenerSQLExecutionStart =>
        val e = ExecRec(s.executionId, s.description, s.time, -1L,
          mutable.Map.empty, mutable.ArrayBuffer.empty)
        addPlan(e, s.sparkPlanInfo)
        execs(s.executionId) = e
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(addPlan(_, u.sparkPlanInfo))
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach(_.endMs = x.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val pass = prop(PassProperty).map(_.toInt).getOrElse(spans.pass)
    val step = prop(StepProperty).getOrElse("")
    j.stageIds.foreach { s => stageExec(s) = exec; stagePass(s) = (pass, step) }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (t.taskInfo != null)
      tasks.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += TaskRec(
        t.taskInfo.launchTime, t.taskInfo.finishTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val si = sc.stageInfo
    val (pass, step) = stagePass.getOrElse(si.stageId, (spans.pass, ""))
    stages += StageRec(si.stageId, pass, step, stageExec.getOrElse(si.stageId, -1L),
      si.accumulables.keySet.toSet, si.details,
      tasks.remove(si.stageId).map(_.toSeq).getOrElse(Nil))
  }

  def nodesOf(s: StageRec): Seq[Node] =
    execs.get(s.execId).toSeq.flatMap(e => s.accIds.toSeq.flatMap(e.nodesByAcc.get)).distinct

  /** Layer label of one task of a `Runner.run` job; first rule that holds:
    *  - no SQL execution: a parquet schema read, by its reader
    *    ([[StageTrace.SchemaReaders]]);
    *  - an execution that does not read the media table (the metrics
    *    append and the run summary): `runner.metrics`;
    *  - the stage reads the committed table: `runner.antijoin`;
    *  - reads the media table (decode + media kernels): `pipeline.media_kernel`;
    *  - writes the snapshot (final per-doc assembly aggregate and parquet
    *    write, one stage): `runner.commit`;
    *  - reads the docs table and aggregates: the text kernels' tasks
    *    (`pipeline.scan_text`) and, in the same stage, the media join's
    *    probe tasks, told apart by their shuffle input (`pipeline.assemble`:
    *    media span rows joined to their extracts, then partially assembled);
    *  - reads the docs table only: the span side of the media join's
    *    exchange (`pipeline.media_join`);
    *  - reads no table and works under a broadcast exchange (the media
    *    gate's key set): `pipeline.gate`;
    *  - anything else: `unlabelled`.
    */
  def label(s: StageRec, t: TaskRec): String = execs.get(s.execId) match {
    case None =>
      SchemaReaders.collectFirst { case (frame, l) if s.callSite.contains(frame) => l }
        .getOrElse(Unlabelled)
    case Some(exec) if !exec.allNodes.exists(_.location.contains("media.parquet")) =>
      "runner.metrics"
    case Some(_) =>
      val ns = nodesOf(s)
      def scans(p: String) = ns.exists(n => n.name.startsWith("Scan") && n.location.contains(p))
      if (scans("/extracted")) "runner.antijoin"
      else if (scans("media.parquet")) "pipeline.media_kernel"
      else if (ns.exists(n => n.name.contains("WriteFiles") || n.name.contains("InsertInto"))) "runner.commit"
      else if (scans("docs.parquet") && ns.exists(_.name.contains("Aggregate")))
        if (t.shuffleReadBytes > 0) "pipeline.assemble" else "pipeline.scan_text"
      else if (scans("docs.parquet")) "pipeline.media_join"
      else if (ns.nonEmpty && !ns.exists(_.name.startsWith("Scan")) && ns.exists(_.broadcast))
        "pipeline.gate"
      else Unlabelled
  }

  def clear(): Unit = synchronized {
    stages.clear(); execs.clear(); stageExec.clear(); stagePass.clear(); tasks.clear()
  }
}
