package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded call into a layer. Times are epoch milliseconds (the clock
  * Spark stamps tasks with) plus a nanosecond duration. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startMs: Long, endMs: Long, durNs: Long)

/** Times every call the workloads make into graft. Durations are always
  * kept (the end-to-end metrics are built from them); spans, job
  * descriptions and Spark counters are recorded only while `enabled`. */
final class Tracer(sc: SparkContext, val runId: String) {
  import Tracer.JobDescription
  var enabled = false
  /** False during warm-up: calls run but leave no trace at all. */
  var recording = true
  val durations = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Seconds of each call named `name`, in call order: from the recorded
    * spans in a traced run, else from every call. */
  def secs(name: String): Seq[Double] =
    if (spans.nonEmpty) spans.iterator.filter(_.name == name).map(_.durNs / 1e9).toSeq
    else durations.getOrElse(name, Nil).toSeq

  def span[T](name: String)(body: => T): T = {
    if (!recording) body
    else if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      durations.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      r
    } else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val prevDesc = sc.getLocalProperty(JobDescription)
      Metrics.phaseOf.get(name).foreach(sc.setJobDescription)
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        spans += Span(id, parent, name, runId, m0, System.currentTimeMillis(), dur)
        durations.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dur / 1e9
        sc.setJobDescription(prevDesc)
        stack = stack.tail
      }
    }
  }

  /** Self time per span name: each span's duration minus the part of it
    * its child spans cover (children of one span never overlap here: the
    * benchmark is a single closed-loop client). */
  def selfMs: Seq[(String, Double, Int)] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(s => (s.durNs - childNs(s.id)) / 1e6).sum, ss.length)
    }.sortBy(-_._2)
  }
}

object Tracer {
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}

/** Spark counters per phase, from a SparkListener (jobs, tasks, task
  * metrics, task intervals) and a QueryExecutionListener (planning time).
  * Jobs reach a phase through the job description the tracer sets. */
final class Counters extends SparkListener with QueryExecutionListener {
  import Tracer.JobDescription
  private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val execPhase = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val c = mutable.HashMap.empty[(String, String), Double]
  private def add(p: String, counter: String, v: Double): Unit =
    c((p, counter)) = c.getOrElse((p, counter), 0.0) + v
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def phaseOfDesc(d: String): Option[String] =
    Option(d).filter(Metrics.phases.contains)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    phaseOfDesc(Option(e.properties).map(_.getProperty(JobDescription)).orNull)
      .foreach { p =>
        add(p, "jobs", 1)
        e.stageIds.foreach(stagePhase.put(_, p))
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(stagePhase.get(e.stageId)).foreach { p =>
      add(p, "tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add(p, "exec_run_ms", m.executorRunTime)
        add(p, "gc_ms", m.jvmGCTime)
        add(p, "shuffle_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      phaseOfDesc(s.description).foreach(execPhase.put(s.executionId, _))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    plans += ((qe.id, qe.tracker.phases.values.map(_.durationMs).sum.toDouble))
  }

  /** Counter values per (phase, counter), after the bus is drained. */
  def values(sc: SparkContext): Map[(String, String), Double] = {
    org.apache.spark.GraftBenchBus.drain(sc)
    synchronized {
      val out = c.clone()
      plans.foreach { case (id, ms) =>
        Option(execPhase.get(id)).foreach(p => out((p, "plan_ms")) = out.getOrElse((p, "plan_ms"), 0.0) + ms)
      }
      out.toMap.withDefaultValue(0.0)
    }
  }

  /** Milliseconds of [startMs, endMs] during which no task was running. */
  def idleMs(startMs: Long, endMs: Long): Double = synchronized {
    val iv = taskIntervals.iterator
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    (endMs - startMs - busy).toDouble
  }
}
