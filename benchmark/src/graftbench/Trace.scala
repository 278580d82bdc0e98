package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a graft layer made from the benchmark's own
  * code. `op` is the index of the op in flight (-1 outside the measured
  * phase); times are epoch millis because Spark stamps its events so. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startMs: Long, endMs: Long, durNs: Long)

/** Spans are kept in memory and written out at the end. With tracing
  * off, `span` only runs its body.
  *
  * Spark stamps job and stage submission in whole milliseconds, and an
  * event is attributed to the span whose interval holds its stamp. So a
  * traced span sleeps 2 ms before it starts and after it ends: work of
  * the caller before or after the span can then never share a
  * millisecond with the span's own work, and the attribution (and the
  * repeat check built on it) is exact. The sleeps are part of the
  * tracing overhead the traced run reports. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Set for the measured phase: set-up and warm-up record nothing. */
  var measuring = false
  def active: Boolean = on && measuring
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Index of the op in flight, or of the op whose untimed check runs. */
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val a = System.nanoTime()
      Thread.sleep(2)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      overheadNs += n0 - a
      try body
      finally {
        val n1 = System.nanoTime()
        val s1 = System.currentTimeMillis()
        stack = stack.tail
        spans += Span(id, parent, name, op, s0, s1, n1 - n0)
        Thread.sleep(2)
        overheadNs += System.nanoTime() - n1
      }
    }

  /** Time the tracer itself has spent on the client thread: span
    * bookkeeping and sleeps, and traced-only work wrapped in `overhead`. */
  var overheadNs = 0L

  def overhead[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  /** Named samples a workload records at a layer boundary (counts and
    * ratios); reported as their mean. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    if (active) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

/** Spark-side numbers of the traced run: every job, completed stage and
  * task, and every query's planning phases, stamped for attribution. */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  import SparkRecorder._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskSum]()
  val plans = new ConcurrentLinkedQueue[Plan]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    si.submissionTime.foreach(t =>
      stages.add(Stage(si.stageId, si.attemptNumber(), t, si.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = tasks.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new TaskSum)
    val m = e.taskMetrics
    val info = e.taskInfo
    s.synchronized {
      s.n += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // the scheduler-delay formula of Spark's own UI
        s.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    ph.get("optimization").orElse(ph.get("analysis")).foreach { p =>
      plans.add(Plan(p.startTimeMs, ms("analysis"), ms("optimization"),
        ms("planning")))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def jobList: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
  def stageList: Seq[Stage] = stages.asScala.toSeq
  def planList: Seq[Plan] = plans.asScala.toSeq
  def taskSum(st: Stage): TaskSum =
    Option(tasks.get((st.id, st.attempt))).getOrElse(new TaskSum)
}

object SparkRecorder {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Stage(id: Int, attempt: Int, submitMs: Long, tasks: Int)
  final class TaskSum {
    var n = 0L; var cpuNs = 0L; var shRead = 0L; var shWrite = 0L
    var spill = 0L; var schedMs = 0L
  }
  final case class Plan(startMs: Long, analysisMs: Long, optimizerMs: Long,
      planningMs: Long)
}
