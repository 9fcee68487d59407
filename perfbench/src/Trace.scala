package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * Spans around the benchmark's calls into each layer. Kept in memory
 * and written out at exit. When off, `span` and `op` only run their
 * body, so untraced runs pay nothing but a branch.
 *
 * Spark jobs are attributed to the innermost open span through a local
 * property that every job submitted from this thread carries.
 */
final class Tracer(val on: Boolean, sc: SparkContext) {
  import Tracer._

  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var curOp = -1
  /** Workload the next spans belong to. */
  var workload = ""
  val listener: TaskListener = if (on) new TaskListener else null
  if (on) sc.addSparkListener(listener)

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), curOp, workload,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** One timed op of workload `wl`: the root span of everything it calls. */
  def op[T](wl: String, i: Int)(f: => T): T =
    if (!on) f
    else {
      curOp = i
      try span(s"$wl.op")(f) finally curOp = -1
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.perfbench.BusDrain(sc)

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the time its (sequential) child spans cover. */
  def selfMs(s: Span): Double = s.ms - children(s.id).map(_.ms).sum

  /** The span and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)

  /** Spans called `name` inside the timed ops of workload `wl`. */
  def named(wl: String, name: String): Seq[Span] =
    spans.filter(s => s.workload == wl && s.name == name && s.op >= 0).toSeq

  /** Jobs submitted while `s` or a span below it was innermost. */
  def jobsOf(s: Span): Seq[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    listener.jobs.values.filter(j => ids.contains(j.span)).toSeq.sortBy(_.id)
  }

  def tasksOf(jobs: Seq[JobRec]): Seq[TaskRec] = {
    val stages = jobs.flatMap(_.stages).toSet
    listener.tasks.filter(t => stages.contains(t.stage)).toSeq
  }

  /** Writes every span (with its self time and jobs) as one JSON file. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try {
      out.println("{\"spans\": [")
      out.println(spans.map { s =>
        val jobs = jobsOf(s).filter(_.span == s.id).map(_.id).mkString(",")
        f"""  {"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
          f""""workload": "${s.workload}", "start_ms": ${s.startEpochMs}, """ +
          f""""dur_ms": ${s.ms}%.3f, "self_ms": ${selfMs(s)}%.3f, "jobs": [$jobs]}"""
      }.mkString(",\n"))
      out.println("], \"jobs\": [")
      out.println(listener.jobs.values.toSeq.sortBy(_.id).map { j =>
        s"""  {"id": ${j.id}, "span": ${j.span}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
          s""""stages": [${j.stages.mkString(",")}]}"""
      }.mkString(",\n"))
      out.println("]}")
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int, workload: String,
      startNs: Long, startEpochMs: Long) {
    var endNs: Long = startNs
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class JobRec(id: Int, span: Int, startMs: Long, stages: Seq[Int]) {
    var endMs: Long = startMs
  }

  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuMs: Double, gcMs: Long, bytesRead: Long, recordsRead: Long,
      shuffleBytes: Long, shuffleRecords: Long, bytesWritten: Long, recordsWritten: Long)

  /** Records Spark's own job and task metrics for attribution to spans. */
  final class TaskListener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val tasks = ArrayBuffer[TaskRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
  }
}
