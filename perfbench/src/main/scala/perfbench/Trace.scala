package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a workload's operation reports to the tracer: spans around each
  * call into a layer, the profiler's per-pass timings, and counts. The
  * untraced run uses [[NoTrace]], which records nothing and registers no
  * listener. */
trait Tracer {
  def op[T](id: Int)(body: => T): T
  def layer[T](name: String)(body: => T): T
  /** Sink for `ProfilerConfig.onPassTiming`. */
  def passTiming: (String, Double) => Unit
  def count(name: String, value: Double): Unit
  /** Work done for the trace alone (outside the operation's wall). */
  def aux[T](body: => T): T
}

object NoTrace extends Tracer {
  def op[T](id: Int)(body: => T): T = body
  def layer[T](name: String)(body: => T): T = body
  val passTiming: (String, Double) => Unit = graft.profiler.Profiler.dropTiming
  def count(name: String, value: Double): Unit = ()
  def aux[T](body: => T): T = body
}

/** Epoch milliseconds with sub-millisecond resolution, on the same clock
  * as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1e3
}

/** Per-operation JVM counters sampled at the operation's boundaries. */
final case class JvmDelta(gcS: Double, jitS: Double, codegenS: Double)

/** In-memory trace of one run: spans from the harness, jobs and stages
  * from a [[SparkListener]], planning phases from a
  * [[QueryExecutionListener]]. Jobs are attributed to operations and
  * layers by the job tags [[op]] and [[layer]] set; Spark carries
  * them into the profiler's pass threads as inheritable local
  * properties. Nothing is written until the run asks for [[spansWithSelf]]. */
final class Trace(spark: SparkSession) extends SparkListener with Tracer {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.Map.empty[(Int, String), Double]
  private val jvm = mutable.Map.empty[Int, JvmDelta]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val planPhases = mutable.ArrayBuffer.empty[(Double, Double)]
  private var nextSpan = 0
  private var currentOp = -1
  private var stack: List[Int] = Nil

  private val qel = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      qe.tracker.phases.values.foreach(p =>
        planPhases += ((p.startTimeMs.toDouble, p.durationMs / 1e3)))
    }
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(qel)

  def close(): Unit = {
    PerfbenchAccess.drainListeners(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qel)
  }

  private def open(name: String): Int = synchronized {
    val id = nextSpan
    nextSpan += 1
    spans += Span(id, stack.headOption.getOrElse(-1), currentOp, name, Clock.nowMs, Double.NaN)
    stack = id :: stack
    id
  }

  private def shut(id: Int): Unit = synchronized {
    val i = spans.lastIndexWhere(_.id == id)
    spans(i) = spans(i).copy(endMs = Clock.nowMs)
    stack = stack.tail
  }

  private def timedSpan[T](name: String, tag: String)(body: => T): T = {
    val id = open(name)
    sc.addJobTag(tag)
    try body
    finally { sc.removeJobTag(tag); shut(id) }
  }

  def op[T](id: Int)(body: => T): T = {
    currentOp = id
    val gc0 = gcMs; val jit0 = jitMs; val cg0 = PerfbenchAccess.codegenCompileNanos
    try timedSpan("op", OpTag + id)(body)
    finally synchronized {
      jvm(id) = JvmDelta((gcMs - gc0) / 1e3, (jitMs - jit0) / 1e3,
        (PerfbenchAccess.codegenCompileNanos - cg0) / 1e9)
    }
  }

  def layer[T](name: String)(body: => T): T = timedSpan(name, LayerTag + name)(body)

  /** Pass timings arrive when each pass ends, on the pass's own thread;
    * the span is reconstructed backwards from its duration. */
  val passTiming: (String, Double) => Unit = (pass, seconds) => synchronized {
    val end = Clock.nowMs
    val parent = spans.lastIndexWhere(s => s.name == "profiler" && s.op == currentOp)
    spans += Span(nextSpan, if (parent >= 0) spans(parent).id else -1, currentOp,
      "profiler." + pass, end - seconds * 1e3, end)
    nextSpan += 1
  }

  def count(name: String, value: Double): Unit = synchronized {
    counts((currentOp, name)) = counts.getOrElse((currentOp, name), 0.0) + value
  }

  def aux[T](body: => T): T = {
    sc.addJobTag(AuxTag)
    try body finally sc.removeJobTag(AuxTag)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    jobs(e.jobId) = Job(e.time.toDouble, Double.NaN, tags)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(stageJob.getOrElse(i.stageId, -1), i.numTasks,
      m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
      m.inputMetrics.bytesRead.toDouble, m.inputMetrics.recordsRead.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
  }

  private def opOf(j: Job): Option[Int] =
    j.tags.collectFirst { case t if t.startsWith(OpTag) => t.stripPrefix(OpTag).toInt }

  /** Per-operation values of every per-layer metric, keyed by metric name. */
  def perOp(): Seq[Map[String, Double]] = synchronized {
    val ops = spans.filter(_.name == "op")
    ops.toSeq.map { o =>
      val mine = spans.filter(s => s.op == o.op && s.id != o.id)
      def spanSum(name: String) = mine.filter(_.name == name).map(_.durS).sum
      val opJobs = jobs.filter { case (_, j) => opOf(j).contains(o.op) }
      val opStages = stages.filter(s => opJobs.contains(s.job))
      def stageSum(f: Stage => Double) = opStages.map(f).sum
      val jobIntervals = opJobs.values.map(j =>
        (j.startMs, if (j.endMs.isNaN) o.endMs else j.endMs)).toSeq
      val children = mine.filter(_.parent == o.id)
      val d = jvm.getOrElse(o.op, JvmDelta(0, 0, 0))
      val prof = profilerBreakdown(mine.toSeq)
      val counters = counts.collect { case ((op, n), v) if op == o.op => n -> v }
      Map(
        "op_s" -> o.durS,
        "sources.load_s" -> spanSum("sources.load"),
        "validation.generate_s" -> spanSum("validation.generate"),
        "validation.run_s" -> spanSum("validation.run"),
        "compare.s" -> spanSum("compare"),
        "model.json_write_s" -> spanSum("model.json_write"),
        "model.json_read_s" -> spanSum("model.json_read"),
        "cli.render_s" -> spanSum("cli.render"),
        "dedup.components_s" -> spanSum("dedup.components"),
        "text.lm_score_s" -> spanSum("text.lm_score"),
        "text.lang_id_s" -> spanSum("text.lang_id"),
        "text.quality_s" -> spanSum("text.quality"),
        "spark.jobs" -> opJobs.size.toDouble,
        "spark.stages" -> opStages.size.toDouble,
        "spark.tasks" -> stageSum(_.tasks.toDouble),
        "spark.task_cpu_s" -> stageSum(_.cpuS),
        "spark.task_run_s" -> stageSum(_.runS),
        "spark.plan_s" -> planPhases.collect {
          case (start, dur) if start >= o.startMs && start <= o.endMs => dur
        }.sum,
        "spark.codegen_compile_s" -> d.codegenS,
        "spark.driver_gap_s" -> (o.durS - covered(jobIntervals, o.startMs, o.endMs) / 1e3),
        "spark.scan_bytes" -> stageSum(_.scanBytes),
        "spark.scan_rows" -> stageSum(_.scanRows),
        "spark.shuffle_write_bytes" -> stageSum(_.shuffleWrite),
        "spark.shuffle_read_bytes" -> stageSum(_.shuffleRead),
        "spark.spill_bytes" -> stageSum(_.spill),
        "jvm.gc_s" -> d.gcS,
        "jvm.jit_s" -> d.jitS,
        "trace.op_self_s" -> (o.durS -
          covered(children.map(c => (c.startMs, c.endMs)).toSeq, o.startMs, o.endMs) / 1e3),
      ) ++ prof ++ Counters.map(_ -> 0.0) ++ counters
    }
  }

  /** Jobs started while tracing that carry no operation tag. */
  def untaggedJobs: Int = synchronized {
    jobs.values.count(j => opOf(j).isEmpty && !j.tags.contains(AuxTag))
  }

  /** Profiler spans: pass durations, prologue (call start to first pass
    * start), epilogue (last pass end to return) and the critical path of
    * the overlapped passes: first pass start to last pass end, which
    * holds whichever chain of awaited passes ends last. */
  private def profilerBreakdown(mine: Seq[Span]): Map[String, Double] = {
    val call = mine.find(_.name == "profiler")
    val passes = mine.filter(_.name.startsWith("profiler."))
    val byName = passes.map(p => p.name.stripPrefix("profiler.") -> p.durS).toMap
    val base = ProfilerPasses.map(p => s"profiler.${p}_s" -> byName.getOrElse(p, 0.0)).toMap
    (call, passes) match {
      case (Some(c), ps) if ps.nonEmpty =>
        val first = ps.map(_.startMs).min
        val last = ps.map(_.endMs).max
        base ++ Map(
          "profiler.prologue_s" -> (first - c.startMs) / 1e3,
          "profiler.epilogue_s" -> (c.endMs - last) / 1e3,
          "profiler.critical_path_s" -> (last - first) / 1e3)
      case _ => base ++ Map("profiler.prologue_s" -> 0.0, "profiler.epilogue_s" -> 0.0,
        "profiler.critical_path_s" -> 0.0)
    }
  }

  /** The spans with their self time (duration minus the part of it that
    * child spans cover). */
  def spansWithSelf: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS,
        "self_s" -> (s.durS - covered(kids, s.startMs, s.endMs) / 1e3))
    }
  }

  /** Jobs per layer tag, over the whole traced phase. */
  def jobsByLayer: Map[String, Int] = synchronized {
    jobs.values.toSeq.flatMap(j =>
      j.tags.filter(_.startsWith(LayerTag)).map(_.stripPrefix(LayerTag)).toSeq match {
        case Seq() => Seq("(none)")
        case ls => ls
      }).groupBy(identity).map { case (k, v) => k -> v.size }
  }
}

object Trace {
  val OpTag = "perfbench-op-"
  val LayerTag = "perfbench-layer-"
  val AuxTag = "perfbench-aux"
  /** Counts a workload reports through [[Tracer.count]]; zero elsewhere. */
  val Counters = Seq("validation.rules", "validation.fused_share", "validation.rule_errors",
    "model.json_bytes", "dedup.pairs")
  val ProfilerPasses = Seq("A_fused_agg", "A1_distinct", "A2_percentiles",
    "B_duplicates", "C_frequent_values", "D_outliers", "E_samples")

  final case class Job(startMs: Double, endMs: Double, tags: Set[String])
  final case class Stage(job: Int, tasks: Int, cpuS: Double, runS: Double,
      scanBytes: Double, scanRows: Double, shuffleWrite: Double,
      shuffleRead: Double, spill: Double)

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}
