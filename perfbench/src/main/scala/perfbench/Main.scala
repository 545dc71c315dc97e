package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Timed run of one workload in one JVM: a single client calls the
  * engine in a closed loop (each call waits for the previous one) over
  * `local[nproc]` with `nproc` shuffle partitions.
  *
  * Set-up — session start, view registration, the workload's own
  * preparation and one warm-up call on the workload's first key — is
  * repeated [[SetupRounds]] times on fresh sessions, and `setup_s` is the
  * median. The first warm-up call in the fresh JVM is the cold operation.
  * [[WarmupCycles]] untimed cycles over every key follow, so that plan
  * compilation and most JIT work stay out of the timed loop. That loop then repeats the seed-ordered cycle until `--seconds`
  * have passed, finishing the cycle it is in. With
  * `--trace 1` the loop is split: the first half runs untraced, then a
  * [[Trace]] is registered for the second half, and the per-layer
  * metrics come from that half.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1
  *   --data DIR --work DIR --expected FILE --result FILE
  */
object Main {
  val SetupRounds = 3
  val WarmupCycles = 2
  /** Reads the expected outputs and writes the result and trace files. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Sample(key: String, wall: Double, rows: Long)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val traceOn = args("trace") == "1"
    val work = args("work")
    Files.createDirectories(Paths.get(work))
    val exp = mapper.readTree(Paths.get(args("expected")).toFile)
    val w = Workloads(workload, args("data"), work, exp)
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = loadAverage
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def progress(what: String): Unit =
      System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s after JVM start: $what")

    var attempted = 0
    var failed = 0
    /** One operation, timed from call to return; its check and any
      * trace-only measurements run after the clock stops. */
    def call(spark: SparkSession, key: String, tr: Tracer, id: Int, traced: Boolean): Sample = {
      attempted += 1
      val t0 = System.nanoTime()
      val outcome =
        try Right(tr.op(id)(w.run(spark, key, tr)))
        catch { case NonFatal(e) => Left(s"operation on $key threw: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      val problems = outcome.fold(Seq(_), o =>
        try {
          if (traced) o.traceExtras(tr)
          o.check()
        } catch { case NonFatal(e) => Seq(s"checking $key threw: $e") })
      problems.take(5).foreach(p => System.err.println(s"mismatch: $p"))
      if (problems.nonEmpty) failed += 1
      Sample(key, wall, outcome.map(_.inputRows).getOrElse(0L))
    }
    def untimed(spark: SparkSession, key: String): Sample = call(spark, key, NoTrace, -1, traced = false)

    var spark: SparkSession = null
    val setups = ArrayBuffer.empty[Double]
    var coldOp = Double.NaN
    for (round <- 0 until SetupRounds) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(work, cores)
      w.setup(spark)
      val s = untimed(spark, w.warmup.head)
      if (coldOp.isNaN) coldOp = s.wall
      setups += (System.nanoTime() - t0) / 1e9
    }
    progress("set-up done")
    // Warm up on every key (plan compilation, JIT) before timing starts.
    // A fixed amount of work, not of time: a time budget lets the number
    // of warm-up calls, and with it the JIT state, differ between runs.
    for (_ <- 0 until WarmupCycles) w.warmup.foreach(untimed(spark, _))

    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.find(p =>
      p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured")))
    var heapPeak = 0L
    def sampleHeap(): Unit = oldGen.foreach(p =>
      heapPeak = math.max(heapPeak, Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)))

    var nextId = 0
    /** Repeat the cycle until `budget` seconds have passed. */
    def loop(budget: Double, tr: Tracer, traced: Boolean): (Seq[Sample], Double, Double) = {
      val out = ArrayBuffer.empty[Sample]
      val cpu0 = processCpuS
      val t0 = System.nanoTime()
      // Whole cycles only: every run times each table equally often, so
      // the median and the row rate do not depend on where the clock
      // happened to stop.
      while ((System.nanoTime() - t0) / 1e9 < budget) w.order.foreach { key =>
        out += call(spark, key, tr, nextId, traced)
        nextId += 1
        sampleHeap()
      }
      (out.toSeq, processCpuS - cpu0, (System.nanoTime() - t0) / 1e9)
    }

    progress("warm-up done")
    val (timed, cpu, wall) = loop(if (traceOn) seconds / 2 else seconds, NoTrace, traced = false)
    System.gc()
    sampleHeap()
    progress("timed loop done")
    val p50 = median(timed.map(_.wall))

    // cold_op_s and heap_peak_mb are reported but not gated: they do
    // not repeat from run to run within the benchmark's bounds.
    val info = Seq(
      ("cold_op_s", coldOp, "s"),
      ("heap_peak_mb", heapPeak / 1048576.0, "MB"),
      ("timed_ops", timed.size.toDouble, "count"),
      ("op_fail_ratio", failed.toDouble / attempted, "failed/attempted"),
      ("nproc", cores.toDouble, "count"),
      ("load1_start", load0, "load"),
      ("load1_end", loadAverage, "load"),
      ("process_cpu_per_wall", cpu / wall, "CPU-s/s"))
    val metrics: Seq[(String, Double, String)] =
      if (!traceOn) Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("op_s_p50", p50, "s"),
        ("rows_per_s", timed.map(_.rows).sum / timed.map(_.wall).sum, "rows/s"),
        ("cpu_s_per_op", cpu / timed.size, "CPU-s"))
      else {
        val tr = new Trace(spark)
        val (traced, _, _) = loop(seconds / 2, tr, traced = true)
        tr.close()
        val perOp = tr.perOp()
        val names = perOp.flatMap(_.keys).distinct
        val means = names.map(n => n -> perOp.map(_.getOrElse(n, 0.0)).sum / perOp.size).toMap
        val tracedP50 = median(traced.map(_.wall))
        mapper.writeValue(Paths.get(work, "trace.json").toFile, Map(
          "workload" -> workload,
          "spans" -> tr.spansWithSelf,
          "jobs_by_layer" -> tr.jobsByLayer,
          "per_op" -> perOp))
        means.removed("op_s").toSeq.map { case (n, v) => (n, v, unitOf(n)) } ++ Seq(
          ("spark.untagged_jobs", tr.untaggedJobs.toDouble, "count"),
          ("trace.untraced_op_s_p50", p50, "s"),
          ("trace.traced_op_s_p50", tracedP50, "s"),
          ("trace.overhead_s", tracedP50 - p50, "s"))
      }

    def measured(ms: Seq[(String, Double, String)]): Map[String, Map[String, Any]] =
      ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    mapper.writeValue(Paths.get(args("result")).toFile, Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "info" -> measured(info),
      "timed_ops" -> timed.map(t => Seq(t.key, t.wall)),
      "metrics" -> measured(metrics)))
    spark.stop()
    progress("session stopped")
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def unitOf(layerMetric: String): String =
    if (layerMetric.endsWith("_s") || layerMetric == "compare.s") "s"
    else if (layerMetric.endsWith("_bytes")) "bytes"
    else if (layerMetric.endsWith("_share")) "ratio"
    else "count"

  private def loadAverage: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
