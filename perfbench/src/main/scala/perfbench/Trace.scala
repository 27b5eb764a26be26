package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One closed span: a timed call into the program, opened by the benchmark. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. Spans stay in memory and are written
  * once, as JSON lines, when the run ends. The innermost open span's name
  * is also set as a Spark local property, so the listener can attribute
  * each job to the call that launched it. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 1
  var op: Int = -1

  def span[T](name: String, counts: => Map[String, Double] = Map.empty)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = current
    stack ::= (id -> name)
    sc.setLocalProperty(Tracer.SpanProperty, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_._2).orNull)
      spans += Span(id, parent, op, name, t0, t1, counts)
    }
  }

  /** Id of the innermost open span, 0 outside any. */
  def current: Int = stack.headOption.map(_._1).getOrElse(0)

  /** A span whose bounds were observed rather than wrapped: the time
    * between two calls, or a write timed by Spark. */
  def record(name: String, startNs: Long, endNs: Long, parent: Int = current): Unit = {
    spans += Span(nextId, parent, op, name, startNs, endNs, Map.empty)
    nextId += 1
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val c = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""counts":{$c}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Task and job totals, overall and per launching span. */
final class SparkCounters extends SparkListener {
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long)]()
  private val totals = new ConcurrentHashMap[String, Double]()

  private def add(key: String, v: Double): Unit = { totals.merge(key, v, _ + _); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).getOrElse("none")
    jobInfo.put(e.jobId, span -> e.time)
    add("jobs", 1); add(s"jobs@$span", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (span, t0) =>
      add(s"job_ms@$span", (e.time - t0).toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add("tasks", 1)
    if (m != null) {
      add("executor_run_ms", m.executorRunTime.toDouble)
      add("executor_cpu_ms", m.executorCpuTime / 1e6)
      add("task_cpu_ms", (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  /** A consistent copy of the totals, after all posted events arrived. */
  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.ListenerBusDrain(sc)
    import scala.jdk.CollectionConverters._
    totals.asScala.toMap
  }
}

/** Start and end of every SQL execution that writes files, with the
  * write node's description (which names the output path). */
final class WriteTimes extends SparkListener {
  private val started = new ConcurrentHashMap[Long, (String, Long)]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def writeNode(p: SparkPlanInfo): Option[String] =
    if (p.nodeName == "Execute InsertIntoHadoopFsRelationCommand") Some(p.simpleString)
    else p.children.iterator.flatMap(writeNode).nextOption()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      writeNode(s.sparkPlanInfo).foreach(w => started.put(s.executionId, w -> s.time))
    case x: SparkListenerSQLExecutionEnd =>
      Option(started.remove(x.executionId)).foreach { case (root, t0) =>
        done.add((root, t0, x.time))
      }
    case _ =>
  }

  /** Writes finished since the last call: (write node, start and end in
    * epoch milliseconds). */
  def drain(sc: SparkContext): Seq[(String, Long, Long)] = {
    org.apache.spark.ListenerBusDrain(sc)
    Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
  }
}

object SparkCounters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Sum of a counter over every span whose name starts with `prefix`. */
  def bySpan(d: Map[String, Double], counter: String, prefix: String): Double =
    d.collect { case (k, v) if k.startsWith(s"$counter@$prefix") => v }.sum
}
