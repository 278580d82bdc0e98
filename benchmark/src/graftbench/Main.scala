package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One op of a workload's fixed sequence. `run` is timed; `after` is
  * untimed bookkeeping (reference replay, correctness checks, traced-run
  * counters) and runs only when `run` succeeded. */
final case class Op(kind: String, run: () => Unit,
    after: () => Unit = () => ())

/** What every workload hands the harness. The sequence, its inputs and
  * its length depend only on the seed and the run length argument. */
trait Workload {
  def writeKind: String
  def readKind: String
  /** Generates the inputs and the initial tables and indexes. */
  def generate(): Unit
  /** Runs every op kind once or more against throwaway state. */
  def warmup(): Unit
  def ops: IndexedSeq[Op]
  /** Workload units (rows landed, ops, documents) done by timed ops. */
  def unitsDone: Double
  /** Correctness failures found outside timing, end of run. */
  def check(): Seq[String]
  def storedRoots: Seq[String]
  def liveRows: Long
  /** Traced run only: layer metrics the workload derives from spans,
    * given the number of Spark jobs each span holds. */
  def layerMetrics(spans: Seq[Span], jobsIn: Span => Int): Map[String, Double] =
    Map.empty
}

final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val seconds: Int, val tracer: Tracer) {
  /** Correctness failures found by untimed per-op checks. */
  val failures = mutable.ArrayBuffer.empty[String]
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok && failures.size < 50) failures += what
  def path(rel: String): String = new File(dir, rel).getAbsolutePath
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** (steal, total) jiffies of the host's CPUs, where Linux reports
    * them: time other guests took from this machine's CPUs. Logged with
    * the run so a noisy neighbour can be told from a slow change. */
  private def cpuTicks: Option[(Long, Long)] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
    (v(7), v.sum)
  }.toOption

  private def stealShare(from: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- from; (s1, t1) <- cpuTicks if t1 > t0)
      yield (s1 - s0).toDouble / (t1 - t0)

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def duBytes(root: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length
    walk(new File(root))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val trace = arg(args, "--trace") == "1"
    val dir = arg(args, "--work-dir")
    val traceDir = if (trace) Some(arg(args, "--trace-dir")) else None
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(trace)
    val rec = new SparkRecorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    val ctx = new Ctx(spark, dir, seed, seconds, tracer)
    val w: Workload = workload match {
      case "etl_batch" => new EtlBatch(ctx)
      case "table_churn" => new TableChurn(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val g0 = System.nanoTime()
    w.generate()
    val generateS = (System.nanoTime() - g0) / 1e9
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val ops = w.ops
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"setup $setupS%.1f s: session $sessionS%.1f, " +
      f"generate $generateS%.1f, warm-up $warmupS%.1f")

    // ---- measured phase: one client, each op issued after the last
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var wallNs = 0L
    var cpuNs = 0L
    var traceNs = 0L
    var failed = 0
    var afterNs = 0L
    val gc0 = gcMs
    val steal0 = cpuTicks
    tracer.measuring = true
    ops.zipWithIndex.foreach { case (op, i) =>
      tracer.op = i
      val o0 = tracer.overheadNs
      val c0 = processCpuNs
      val n0 = System.nanoTime()
      val ok =
        try { tracer.span(s"op.${op.kind}")(op.run()); true }
        catch {
          case NonFatal(e) =>
            System.err.println(s"op $i (${op.kind}) failed: $e")
            false
        }
      val dt = System.nanoTime() - n0
      val dc = processCpuNs - c0
      // per-op log: index, kind, wall ms, process CPU ms, JIT ms so far
      System.err.println(f"op $i%d ${op.kind} ${dt / 1e6}%.1f ${dc / 1e6}%.1f $jitMs%d")
      if (ok) {
        lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += dt / 1e6
        wallNs += dt
        cpuNs += dc
        traceNs += tracer.overheadNs - o0
        val a0 = System.nanoTime()
        try op.after()
        catch {
          case NonFatal(e) => ctx.failures += s"op $i (${op.kind}) check: $e"
        }
        afterNs += System.nanoTime() - a0
      } else failed += 1
    }
    tracer.measuring = false
    val gcRunMs = gcMs - gc0
    stealShare(steal0).foreach(x => System.err.println(
      f"host steal during the measured phase: ${100 * x}%.1f%% of CPU time"))
    val heapAfterGcMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    val timed = ops.size - failed

    // ---- end of run, outside timing
    val e0 = System.nanoTime()
    val failures = ctx.failures.toSeq ++ (try w.check() catch {
      case NonFatal(e) => Seq(s"end-of-run check threw: $e")
    })
    System.err.println(f"end-of-run check ${(System.nanoTime() - e0) / 1e9}%.1f s")
    failures.foreach(f => System.err.println(s"CORRECTNESS: $f"))
    val storedBytesPerRow =
      w.storedRoots.map(duBytes).sum.toDouble / math.max(1L, w.liveRows)
    // Spark's context cleaner frees blocks after a GC has dropped their
    // references, so collect a few times and keep the lowest reading
    val heapRetainedMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    System.err.println(f"untimed: per-op checks ${afterNs / 1e9}%.1f s, " +
      f"end of run ${(System.nanoTime() - e0) / 1e9}%.1f s")

    def lats(k: String) = lat.getOrElse(k, mutable.ArrayBuffer.empty).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> w.unitsDone / math.max(1e-9, wallNs / 1e9),
      "cpu_ms_per_op" -> cpuNs / 1e6 / math.max(1, timed),
      "write_ms_p50" -> median(lats(w.writeKind)),
      "write_ms_p75" -> percentile(lats(w.writeKind), 0.75),
      "read_ms_p50" -> median(lats(w.readKind)),
      "read_ms_p75" -> percentile(lats(w.readKind), 0.75),
      "stored_bytes_per_row" -> storedBytesPerRow,
      "driver_heap_retained_mb" -> heapRetainedMb)

    val perLayer =
      if (!trace) Map.empty[String, Double]
      else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val lm = layers(tracer, rec, w)
        val jvm = Map("jvm.gc_ms" -> gcRunMs.toDouble / math.max(1, timed),
          "jvm.heap_after_gc_mb" -> heapAfterGcMb,
          "setup.session_s" -> sessionS, "setup.generate_s" -> generateS,
          "setup.warmup_s" -> warmupS,
          // the tracer's own time inside timed ops, against the rest of them
          "trace.overhead_pct" -> 100.0 * traceNs / math.max(1L, wallNs - traceNs))
        val all = lm ++ jvm
        traceDir.foreach(d => writeTrace(d, tracer, rec, ops, all,
          storedBytesPerRow))
        all
      }

    val kinds = lat.map { case (k, v) => s""""$k": ${v.size}""" }.mkString(", ")
    val metrics = (endToEnd ++ perLayer).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${ops.size}, """ +
      s""""failed": $failed, "samples": {$kinds}, "metrics": {$metrics}}""")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Per-layer numbers of the traced run. Each Spark job, stage and
    * planned query belongs to the innermost span whose interval holds
    * its submission stamp; per-op numbers are means over timed ops. */
  private def in(s: Span, t: Long): Boolean = s.startMs <= t && t <= s.endMs

  private def opSpansOf(spans: Seq[Span]): Seq[Span] =
    spans.filter(s => s.parent == -1 && s.name.startsWith("op.")).sortBy(_.op)

  private def layers(tr: Tracer, rec: SparkRecorder, w: Workload): Map[String, Double] = {
    val spans = tr.spans.toSeq
    val opSpans = opSpansOf(spans)
    val jobs = rec.jobList
    val stages = rec.stageList
    val plans = rec.planList
    def jobsIn(s: Span): Int = jobs.count(j => in(s, j.startMs))
    val n = math.max(1, opSpans.size).toDouble
    def perOp(f: Span => Double): Double = opSpans.map(f).sum / n

    val out = mutable.LinkedHashMap.empty[String, Double]
    out("spark.jobs") = perOp(s => jobsIn(s).toDouble)
    def stagesOf(s: Span) = stages.filter(st => in(s, st.submitMs))
    out("spark.stages") = perOp(s => stagesOf(s).size.toDouble)
    out("spark.tasks") = perOp(s => stagesOf(s).map(rec.taskSum(_).n).sum.toDouble)
    out("spark.single_task_stages") =
      perOp(s => stagesOf(s).count(_.tasks == 1).toDouble)
    out("spark.task_cpu_ms") =
      perOp(s => stagesOf(s).map(rec.taskSum(_).cpuNs).sum / 1e6)
    out("spark.shuffle_read_b") =
      perOp(s => stagesOf(s).map(rec.taskSum(_).shRead).sum.toDouble)
    out("spark.shuffle_write_b") =
      perOp(s => stagesOf(s).map(rec.taskSum(_).shWrite).sum.toDouble)
    out("spark.spill_b") =
      perOp(s => stagesOf(s).map(rec.taskSum(_).spill).sum.toDouble)
    out("spark.sched_delay_ms") =
      perOp(s => stagesOf(s).map(rec.taskSum(_).schedMs).sum.toDouble)
    // busy: the part of the op covered by at least one running job
    def busyMs(s: Span): Double = {
      val iv = jobs.filter(j => in(s, j.startMs))
        .map(j => (j.startMs, if (j.endMs < 0) s.endMs else math.min(j.endMs, s.endMs)))
        .sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      (covered + curE - curS).toDouble
    }
    out("spark.busy_ms") = perOp(busyMs)
    out("spark.gap_ms") = perOp(s => math.max(0.0, s.durNs / 1e6 - busyMs(s)))
    def plansIn(s: Span) = plans.filter(p => in(s, p.startMs))
    out("catalyst.analysis_ms") = perOp(s => plansIn(s).map(_.analysisMs).sum.toDouble)
    out("catalyst.optimizer_ms") = perOp(s => plansIn(s).map(_.optimizerMs).sum.toDouble)
    out("catalyst.planning_ms") = perOp(s => plansIn(s).map(_.planningMs).sum.toDouble)

    // layer spans: the median duration of each named call
    spans.filterNot(_.name.startsWith("op.")).groupBy(_.name)
      .foreach { case (name, ss) => out(s"${name}_ms") = median(ss.map(_.durNs / 1e6)) }
    Seq("merge", "update", "delete", "append").foreach { k =>
      val ss = spans.filter(_.name == s"sources.$k")
      if (ss.nonEmpty)
        out(s"sources.jobs_per_commit.$k") = ss.map(jobsIn).sum.toDouble / ss.size
    }
    tr.samples.foreach { case (k, v) => out(k) = v.sum / v.size }
    out ++= w.layerMetrics(spans, jobsIn)
    out.toMap
  }

  /** The traced run's files: spans.jsonl (one span a line, with self
    * time = duration minus the part its child spans cover) and
    * counts.json (the exact counts the repeat check compares). */
  private def writeTrace(d: String, tr: Tracer, rec: SparkRecorder,
      ops: IndexedSeq[Op], layer: Map[String, Double],
      storedBytesPerRow: Double): Unit = {
    new File(d).mkdirs()
    val spans = tr.spans.toSeq
    val children = spans.groupBy(_.parent)
    val pw = new PrintWriter(new File(d, "spans.jsonl"))
    try spans.sortBy(_.id).foreach { s =>
      val childNs = children.getOrElse(s.id, Seq.empty).map(_.durNs).sum
      pw.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""op": ${s.op}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""dur_ms": ${s.durNs / 1e6}, "self_ms": ${math.max(0L, s.durNs - childNs) / 1e6}}""")
    } finally pw.close()
    val jobs = rec.jobList
    val stages = rec.stageList
    val opRows = opSpansOf(spans).map { s =>
      val st = stages.filter(x => in(s, x.submitMs))
      s"""{"op": ${s.op}, "kind": "${s.name.stripPrefix("op.")}", """ +
        s""""jobs": ${jobs.count(j => in(s, j.startMs))}, """ +
        s""""stages": ${st.size}, "tasks": ${st.map(rec.taskSum(_).n).sum}}"""
    }
    val exact = layer.toSeq.filter { case (k, _) =>
      k.startsWith("sources.files_") || k.startsWith("sources.jobs_per_commit") ||
        k == "dag.jobs_per_sink" || k == "sources.live_files_end" ||
        k == "sources.versions_end" || k == "ext.candidates" ||
        k == "ext.verified_pairs" || k == "frontend.components" ||
        k == "expr.exprs"
    }.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }
    val sequence = ops.map(o => "\"" + o.kind + "\"").mkString(", ")
    val counts = exact :+ s""""stored_bytes_per_row": ${num(storedBytesPerRow)}"""
    val cw = new PrintWriter(new File(d, "counts.json"))
    try cw.println(s"""{"sequence": [$sequence],\n "ops": [${opRows.mkString(",\n  ")}],\n""" +
      s""" "counts": {${counts.mkString(", ")}}}""")
    finally cw.close()
  }
}
