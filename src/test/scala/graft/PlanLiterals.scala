package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Finds a value baked into the plans a block of code runs. The streaming
  * specs use it to check that a micro-batch puts no literal of its batch id
  * into any plan, so no generated source depends on the id. */
object PlanLiterals {

  /** Every expression of a physical plan: subqueries, AQE's initial and
    * final plans, its query stages and cached relations included. */
  def expressions(p: SparkPlan): Seq[Expression] =
    p.collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec =>
        expressions(a.inputPlan) ++ expressions(a.executedPlan)
      case q: QueryStageExec => expressions(q.plan)
      case m: InMemoryTableScanExec =>
        m.expressions ++ expressions(m.relation.cachedPlan)
      case n => n.expressions
    }

  /** The literals of `qe`'s optimized and executed plans whose value
    * contains the digits of `value`. */
  def of(qe: QueryExecution, value: Long): Seq[Expression] =
    (qe.optimizedPlan.collectWithSubqueries { case n => n }
      .flatMap(_.expressions) ++ expressions(qe.executedPlan))
      .flatMap(_.collect {
        case l @ Literal(v, _) if v != null && v.toString.contains(value.toString) => l
      })

  /** Run `body` with AQE on and return the executions it ran. Listener
    * delivery is asynchronous, so this waits (up to 60 s) until a parquet
    * write under each of `sinks` has been delivered; give as sinks the
    * directories `body` writes last. */
  def captured(spark: SparkSession, sinks: String*)(
      body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(qe): Unit
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = seen.add(qe): Unit
    }
    def written(): Set[String] = seen.toArray.toSet.flatMap { (q: AnyRef) =>
      q.asInstanceOf[QueryExecution].analyzed.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }
    }
    def allWritten(): Boolean = {
      val w = written()
      sinks.forall(s => w.exists(_.contains(s)))
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!allWritten() && System.nanoTime() < deadline) Thread.sleep(50)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    assert(allWritten(), s"writes under ${sinks.mkString(", ")} not observed: ${
      written().mkString(", ")}")
    seen.toArray.map(_.asInstanceOf[QueryExecution]).toSeq
  }
}
