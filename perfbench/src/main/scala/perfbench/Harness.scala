package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one operation reports back. `units` is the work it completed
  * (queries or documents); `optMs`/`execMs` split its latency where the
  * workload has an optimize-then-run shape. */
final case class OpResult(latencyMs: Double, units: Int,
    optMs: Double = Double.NaN, execMs: Double = Double.NaN,
    error: Option[String] = None, cpuMs: Double = 0.0,
    processCpuMs: Double = 0.0)

/** What a stretch of work cost: wall time, the program's CPU time, and the
  * whole JVM's CPU time (which adds the JIT compiler and the GC). */
final case class Cost(wallMs: Double, cpuMs: Double, processCpuMs: Double) {
  def +(o: Cost): Cost = Cost(wallMs + o.wallMs, cpuMs + o.cpuMs, processCpuMs + o.processCpuMs)
  def show: String = f"$wallMs%.0f/$cpuMs%.0f/$processCpuMs%.0f"
}

/** A workload: fresh state, a warm-up pass, and one operation of the
  * closed loop. With a tracer the operation records a span around every
  * call it makes into the program. */
trait Workload {
  /** Builds fresh state (statistics, corpus, index) for the ops to use. */
  def setup(): Unit
  /** A slice of work like the ops', on inputs the window never sees. */
  def warmPass(): Unit
  def op(i: Int, tracer: Option[Tracer]): OpResult
  /** Checks the last op's output; runs outside the timed window. */
  def checkLast(): Option[String]
  /** Ops the window runs at least, however long they take. */
  def minOps: Int = Harness.MinOps
  /** Ops the window may run at most (inputs are generated up front). */
  def maxOps: Int = Int.MaxValue
  /** Inputs repeat their shape every `cycle` ops; the window ends on a
    * whole cycle so every run sees the same mix. */
  def cycle: Int = 1
  /** Bytes the ops left in persistent indexes and sinks, per unit of work. */
  def indexBytesPerUnit(ops: Seq[OpResult]): Double = 0.0
}

final case class Metric(value: Double, unit: String)

/** The closed loop: one client, the next op only after the previous one
  * returned. */
final class Harness(spark: SparkSession, cpus: Int, minWarm: Int, maxWarm: Int) {
  require(minWarm >= 2 && maxWarm >= minWarm, "settling is judged on two or more passes")
  private val sc = spark.sparkContext

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** Task totals of every job, for the program's CPU time. */
  private val counters = new SparkCounters
  sc.addSparkListener(counters)

  /** CPU time of the whole JVM, all threads: the program's, the JIT
    * compiler's and the garbage collector's. */
  private def processCpuMs(): Double = os.getProcessCpuTime / 1e6

  /** CPU time the program spent: the client thread, which plans and
    * submits (and compiles Spark's generated code), plus the run and
    * deserialization CPU time of every Spark task. The JIT compiler's
    * and the garbage collector's threads are not in it, and neither is
    * time the host gives to other guests (steal), unlike wall time. */
  private def appCpuMs(): Double =
    threads.getCurrentThreadCpuTime / 1e6 + counters.snapshot(sc).getOrElse("task_cpu_ms", 0.0)

  /** Wall ms, program CPU ms and JVM CPU ms of `body`. */
  private def cost(body: => Unit): Cost = {
    val t0 = System.nanoTime(); val a0 = appCpuMs(); val p0 = processCpuMs()
    body
    val wall = (System.nanoTime() - t0) / 1e6
    Cost(wall, appCpuMs() - a0, processCpuMs() - p0)
  }

  /** Warm-up passes until op costs have stopped falling, at least
    * `minWarm` and at most `maxWarm` passes: the last pass took no less of
    * the program's CPU time (the gated cost) than the pass before it,
    * within [[Harness.WarmTolerance]], about the pass-to-pass noise.
    * Returns the cost of all passes and whether op costs had settled. */
  def warmUp(w: Workload): (Cost, Boolean) = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val passes = mutable.ArrayBuffer.empty[(Cost, Long)]
    def settled = passes.size >= minWarm && {
      val cpu = passes.takeRight(2).map(_._1.cpuMs)
      cpu(1) >= cpu(0) * (1 - Harness.WarmTolerance)
    }
    while (!settled && passes.size < maxWarm) {
      val j0 = jit.getTotalCompilationTime
      val c = cost(w.warmPass())
      passes += ((c, jit.getTotalCompilationTime - j0))
    }
    Main.log("warm-up passes, wall/cpu/JVM-cpu/JIT-compile ms: " +
      passes.map { case (c, j) => s"${c.show}/$j" }.mkString(" ") +
      (if (settled) "" else " (still falling)"))
    (passes.map(_._1).reduce(_ + _), settled)
  }

  /** Set-up, then the window. Set-up builds a state for the warm-up,
    * warms up on it, and sets up the window's state afresh, so the window
    * starts from the same state whatever the warm-up did; all three count
    * as set-up. With a tracer, half the ops are traced (see
    * [[Harness.tracedOp]]), so the overhead of tracing is measured in the
    * same run. */
  def run(w: Workload, seconds: Int, tracer: Option[Tracer])
      : (Seq[OpResult], Map[String, Metric]) = {
    val warmBuild = cost(w.setup())
    val (warm, settled) = warmUp(w)
    val build = cost(w.setup())
    val setup = warmBuild + warm + build
    Main.log(s"state builds, wall/cpu/JVM-cpu ms: ${warmBuild.show} ${build.show}")
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val traced = mutable.ArrayBuffer.empty[(OpResult, Map[String, Double], (Int, Long))]
    var busyMs = 0.0
    var i = 0
    val minOps = if (tracer.isEmpty) w.minOps else math.max(w.minOps, Harness.MinTracedOps)
    while ((busyMs < seconds * 1000.0 || i < minOps || i % w.cycle != 0) &&
        i < w.maxOps) {
      val t = tracer.filter(_ => Harness.tracedOp(i))
      val before = counters.snapshot(sc)
      t.foreach(_.op = i)
      val t0 = System.nanoTime()
      val c0 = threads.getCurrentThreadCpuTime
      val p0 = processCpuMs()
      val timed = try w.op(i, t) catch {
        case e: Exception =>
          OpResult((System.nanoTime() - t0) / 1e6, 0, error = Some(e.toString))
      }
      val p1 = processCpuMs()
      val c1 = threads.getCurrentThreadCpuTime
      val d = SparkCounters.delta(counters.snapshot(sc), before)
      val measured = timed.copy(
        cpuMs = (c1 - c0) / 1e6 + d.getOrElse("task_cpu_ms", 0.0),
        processCpuMs = p1 - p0)
      val r = if (measured.error.nonEmpty) measured else {
        val err = try w.checkLast() catch { case e: Exception => Some(e.toString) }
        measured.copy(error = err)
      }
      r.error.foreach(e => System.err.println(s"[perfbench] op $i failed: $e"))
      if (t.nonEmpty) traced += ((r, d, cached()))
      ops += r
      busyMs += r.latencyMs
      i += 1
    }
    sc.removeSparkListener(counters)
    // a window measured while op costs were still falling is no result
    if (!settled) ops.mapInPlace(_.copy(error = Some(
      s"warm-up had not settled after $maxWarm passes")))
    val ok = ops.toSeq.filter(_.error.isEmpty)
    def perSecond(ms: Seq[Double]) =
      if (ok.isEmpty) 0.0 else ok.map(_.units).sum / (ms.sum / 1000.0)
    // CPU time the program spent is gated: on a shared host, wall time
    // moves with the other guests' load by more than the bounds allow
    val base = Map(
      "cpu_ms_p50" -> Metric(Harness.median(ok.map(_.cpuMs)), "ms"),
      "throughput_per_cpu_s" -> Metric(perSecond(ok.map(_.cpuMs)), "1/s"),
      "setup_s" -> Metric(setup.cpuMs / 1000.0, "s"))
    val extra = workloadFigures(w, ops.toSeq) ++ Map(
      "latency_ms_p50" -> Metric(Harness.median(ok.map(_.latencyMs)), "ms"),
      "throughput_per_s" -> Metric(perSecond(ok.map(_.latencyMs)), "1/s"),
      "setup_wall_s" -> Metric(setup.wallMs / 1000.0, "s"),
      "jvm_cpu_ms_p50" -> Metric(Harness.median(ok.map(_.processCpuMs)), "ms"),
      "setup_jvm_cpu_s" -> Metric(setup.processCpuMs / 1000.0, "s"))
    System.err.println(s"[perfbench] ${ops.size} ops, ${ops.count(_.error.nonEmpty)} failed; " +
      s"first ops, wall/cpu ms: ${ops.take(40).map(r => f"${r.latencyMs}%.0f/${r.cpuMs}%.0f").mkString(" ")}")
    (base ++ extra).toSeq.sortBy(_._1).foreach { case (k, m) =>
      System.err.println(f"[perfbench]   $k%-28s ${m.value}%.4f ${m.unit}")
    }
    val metrics = tracer match {
      case None => base
      case Some(tr) =>
        val plain = ops.zipWithIndex.collect {
          case (r, j) if !Harness.tracedOp(j) && r.error.isEmpty => r
        }.toSeq
        extra ++ layerMetrics(tr, traced.toSeq, plain)
    }
    (ops.toSeq, metrics)
  }

  /** The workload-shaped end-to-end figures: the tail where the run has
    * ten samples beyond it, the optimize/execute split, failures. */
  private def workloadFigures(w: Workload, ops: Seq[OpResult]): Map[String, Metric] = {
    val ok = ops.filter(_.error.isEmpty)
    val lat = ok.map(_.latencyMs)
    val opt = ok.map(_.optMs).filterNot(_.isNaN)
    val exec = ok.map(_.execMs).filterNot(_.isNaN)
    Map(
      "latency_ms_p90" -> Metric(
        if (lat.size >= 100) Harness.pct(lat, 90) else 0.0, "ms"),
      "opt_ms_p50" -> Metric(Harness.median(opt), "ms"),
      "exec_ms_p50" -> Metric(Harness.median(exec), "ms"),
      "error_rate" -> Metric((ops.size - ok.size).toDouble / ops.size, "ratio"),
      "index_bytes_per_doc" -> Metric(w.indexBytesPerUnit(ops), "bytes"))
  }

  /** Cached RDDs and the bytes they hold, memory plus disk. */
  private def cached(): (Int, Long) = {
    val infos = sc.getRDDStorageInfo.filter(_.isCached)
    (infos.length, infos.map(r => r.memSize + r.diskSize).sum)
  }

  private def layerMetrics(tr: Tracer,
      traced: Seq[(OpResult, Map[String, Double], (Int, Long))],
      plain: Seq[OpResult]): Map[String, Metric] = {
    val n = math.max(traced.size, 1).toDouble
    def perOp(f: Map[String, Double] => Double) = traced.map(t => f(t._2)).sum / n
    def counter(k: String) = perOp(_.getOrElse(k, 0.0))
    val spanMs = tr.spans.groupBy(_.name).map { case (k, ss) => k -> ss.map(_.ms).sum }
    val spanCounts = tr.spans.flatMap(_.counts).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sum }
    val layers = Harness.LayerSpans.map(s => s"${s}_ms" -> Metric(spanMs.getOrElse(s, 0.0) / n, "ms"))
    val tracedOk = traced.map(_._1).filter(_.error.isEmpty)
    val wallMs = tracedOk.map(_.latencyMs).sum
    val base = Harness.median(plain.map(_.latencyMs))
    val overhead = if (tracedOk.isEmpty || plain.isEmpty) 0.0
      else Harness.median(tracedOk.map(_.latencyMs)) - base
    layers.toMap ++ Map(
      "stats.probe_jobs" -> Metric(perOp(SparkCounters.bySpan(_, "jobs", "opt.")), "count"),
      "stats.probe_ms" -> Metric(perOp(SparkCounters.bySpan(_, "job_ms", "opt.")), "ms"),
      "stats.cache_entries_added" -> Metric(
        spanCounts.getOrElse("stats.cache_entries_added", 0.0) / n, "count"),
      "spark.jobs" -> Metric(counter("jobs"), "count"),
      "spark.tasks" -> Metric(counter("tasks"), "count"),
      "spark.executor_run_ms" -> Metric(counter("executor_run_ms"), "ms"),
      "spark.executor_cpu_ms" -> Metric(counter("executor_cpu_ms"), "ms"),
      "spark.gc_ms" -> Metric(counter("gc_ms"), "ms"),
      "spark.shuffle_write_bytes" -> Metric(counter("shuffle_write_bytes"), "bytes"),
      "spark.shuffle_read_bytes" -> Metric(counter("shuffle_read_bytes"), "bytes"),
      "spark.spill_bytes" -> Metric(counter("spill_bytes"), "bytes"),
      "spark.slot_utilization" -> Metric(
        if (wallMs <= 0) 0.0 else traced.map(_._2.getOrElse("executor_run_ms", 0.0)).sum / (wallMs * cpus),
        "ratio"),
      "llm.cache_entries" -> Metric(traced.map(_._3._1).sum / n, "count"),
      "llm.cache_bytes_peak" -> Metric(
        if (traced.isEmpty) 0.0 else traced.map(_._3._2).max.toDouble, "bytes"),
      "trace.overhead_ms" -> Metric(overhead, "ms"),
      "trace.overhead_share" -> Metric(if (base > 0) overhead / base else 0.0, "ratio"),
      "trace.spans" -> Metric(tr.spans.size.toDouble, "count"))
  }
}

object Harness {
  /** Which ops of a traced run are traced: half of them, balanced over
    * any cycle of four inputs (walk shapes repeat every four ops). */
  def tracedOp(i: Int): Boolean = (i + i / 4) % 2 == 1

  val MinOps = 3
  /** A traced run has three traced and three plain ops or more, so the
    * overhead is a difference of medians. */
  val MinTracedOps = 6
  /** A warm-up pass must beat the one before it by this share of CPU
    * time for op costs to count as still falling. */
  val WarmTolerance = 0.10

  /** Spans whose summed time per op is reported as a layer metric. */
  val LayerSpans: Seq[String] = Seq("qal.facade", "opt.joingraph",
    "opt.join_order", "opt.stages", "enforce.plan", "spark.plan",
    "llm.dedup_build", "llm.curate_pack", "streaming.process_batch",
    "streaming.index_write")

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else pct(xs, 50)

  /** Linear-interpolation percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}
