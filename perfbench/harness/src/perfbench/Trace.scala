package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Minimal JSON writer for the flat records this harness emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null          => "null"
    case s: String     => str(s)
    case d: Double     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean    => b.toString
    case n: Int        => n.toString
    case n: Long       => n.toString
    case xs: Seq[_]    => xs.map(value).mkString("[", ",", "]")
    case other         => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Epoch-millisecond clock with sub-millisecond resolution, on the same time
  * base as the listener's event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One open or closed interval of the call tree (query, phase). */
final class Span(val id: Long, val parent: Long, val kind: String,
                 val name: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def json: String = Json.obj(Seq[(String, Any)]("type" -> "span", "id" -> id,
    "parent" -> parent, "kind" -> kind, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs.toSeq: _*)
}

/** In-memory span store, written once at exit. The local property
  * [[Tracer.SpanProp]] carries the open phase's id to every Spark job the
  * calling thread submits, which is how the listener parents jobs.
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def open(parent: Long, kind: String, name: String): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, Clock.nowMs)
    spans.add(s)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    s
  }

  def close(s: Span, reopen: Option[Span]): Unit = {
    s.endMs = Clock.nowMs
    sc.setLocalProperty(Tracer.SpanProp, reopen.map(_.id.toString).orNull)
  }

  def phase[T](parent: Span, kind: String)(body: => T): T = {
    val p = open(parent.id, kind, kind)
    try body finally close(p, Some(parent))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark listener that attributes jobs and stages to the phase span that was
  * open on the submitting thread, and sums task metrics per stage. All its
  * state is touched only on the listener-bus thread; read it after
  * [[LayerListener.drain]].
  */
final class LayerListener extends SparkListener {
  final class JobRec(val jobId: Int, val span: Long, val startMs: Long,
                     val site: String, val stageIds: Seq[Int]) {
    var endMs: Long = -1L
    var ok: Boolean = false
  }
  final class StageRec(val stageId: Int, val attempt: Int) {
    var jobId: Int = -1
    var name: String = ""
    var numTasks: Int = 0
    var submitMs: Long = -1L
    var completeMs: Long = -1L
    var runMs: Long = 0L
    var cpuNs: Long = 0L
    var gcMs: Long = 0L
    var shuffleRead: Long = 0L
    var shuffleWrite: Long = 0L
    var spill: Long = 0L
    var input: Long = 0L
  }

  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val executionSite = mutable.HashMap[Long, String]()

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  /** The call site of a SQL execution, for its jobs that run on a pool
    * thread (broadcast and adaptive stages), whose own call site is a JDK
    * frame.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      val site = Seq(x.description, x.details).map(LayerListener.siteFile)
        .find(_.endsWith(".scala")).orElse(x.rootExecutionId.flatMap(executionSite.get))
      site.foreach(executionSite(x.executionId) = _)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanProp).flatMap(_.toLongOption).getOrElse(-1L)
    val finalStage = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val own = LayerListener.siteFile(finalStage)
    val site = if (own.endsWith(".scala")) own
      else prop("spark.sql.execution.id").flatMap(_.toLongOption)
        .flatMap(executionSite.get).getOrElse(own)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time, site, e.stageIds)
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach { j =>
    j.endMs = e.time
    j.ok = e.jobResult == JobSucceeded
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.jobId = stageJob.getOrElse(i.stageId, -1)
    s.name = i.name
    s.numTasks = i.numTasks
    s.submitMs = i.submissionTime.getOrElse(-1L)
    s.completeMs = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  def jobLines: Iterator[String] = jobs.valuesIterator.map { j =>
    Json.obj("type" -> "job", "job_id" -> j.jobId, "parent" -> j.span,
      "site" -> j.site, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "ok" -> j.ok,
      "stage_ids" -> j.stageIds)
  }

  def stageLines: Iterator[String] = stages.valuesIterator.map { s =>
    Json.obj("type" -> "stage", "stage_id" -> s.stageId, "attempt" -> s.attempt,
      "job_id" -> s.jobId, "name" -> s.name, "num_tasks" -> s.numTasks,
      "start_ms" -> s.submitMs, "end_ms" -> s.completeMs,
      "executor_run_ms" -> s.runMs, "executor_cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
      "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
      "spill_bytes" -> s.spill, "input_bytes" -> s.input)
  }
}

object LayerListener {
  private val Site = """ at ([A-Za-z0-9_$]+\.(?:scala|java))""".r

  /** Source file of a stage's call site, e.g. `Ckpt.scala` from
    * `localCheckpoint at Ckpt.scala:89`.
    */
  def siteFile(stageName: String): String =
    Site.findFirstMatchIn(stageName).map(_.group(1)).getOrElse("")

  /** Blocks until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
