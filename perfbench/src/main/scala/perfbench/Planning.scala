package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Cardinality
import graft.opt._
import graft.pipeline._
import graft.plans.{JoinTree, PhysicalOperatorAssignment}
import graft.qal.QueryFacade
import graft.stats.EmulatedStatistics

/** The program's own optimization pipelines, built from the program's own
  * stage objects, each wrapped so that a traced op records a span around
  * every stage call the pipeline makes. The steps between stage calls run
  * inside the pipeline and are timed as the gaps around them: before the
  * first stage call the query facade is built (parse, analysis, join
  * block, join graph), after the last one the plan is enforced. Plain and
  * traced ops call the same pipeline object. */
object Planning {
  final case class Planned(df: DataFrame, tree: Option[JoinTree[Cardinality]])

  /** Span recorder shared by the wrapped stages of one pipeline. */
  final class Taps {
    private var tracer: Option[Tracer] = None
    private var firstNs = -1L
    private var lastNs = -1L

    def apply[T](name: String)(body: => T): T = tracer.fold(body) { tr =>
      if (firstNs < 0) firstNs = System.nanoTime()
      try tr.span(name)(body) finally lastNs = System.nanoTime()
    }

    /** One pipeline call with its stage calls traced. */
    def traced[T](tr: Tracer)(call: => T): T = {
      tracer = Some(tr); firstNs = -1L; lastNs = -1L
      val t0 = System.nanoTime()
      try call finally {
        val t1 = System.nanoTime()
        tracer = None
        if (firstNs < 0) tr.record("qal.facade", t0, t1)
        else {
          tr.record("qal.facade", t0, firstNs)
          tr.record("enforce.plan", lastNs, t1)
        }
      }
    }

    def preCheck(inner: OptimizationPreCheck): OptimizationPreCheck =
      new OptimizationPreCheck {
        def check(q: QueryFacade, g: JoinGraph) = apply("opt.joingraph")(inner.check(q, g))
      }

    def joinOrder(inner: JoinOrderOptimization): JoinOrderOptimization =
      new JoinOrderOptimization {
        def describe = inner.describe
        def optimizeJoinOrder(q: QueryFacade, g: JoinGraph) =
          apply("opt.join_order")(inner.optimizeJoinOrder(q, g))
      }

    def enumerator(inner: PlanEnumerator): PlanEnumerator = new PlanEnumerator {
      def describe = inner.describe
      def generateExecutionPlan(q: QueryFacade, g: JoinGraph, cost: CostModel,
          card: CardinalityEstimator) =
        apply("opt.join_order")(inner.generateExecutionPlan(q, g, cost, card))
    }

    def operators(inner: PhysicalOperatorSelection): PhysicalOperatorSelection =
      new PhysicalOperatorSelection {
        def describe = inner.describe
        def selectPhysicalOperators(q: QueryFacade, g: JoinGraph,
            t: Option[JoinTree[Cardinality]]) =
          apply("opt.stages")(inner.selectPhysicalOperators(q, g, t))
      }

    def parameters(inner: ParameterGeneration): ParameterGeneration =
      new ParameterGeneration {
        def describe = inner.describe
        def generatePlanParameters(q: QueryFacade, g: JoinGraph,
            t: Option[JoinTree[Cardinality]], ops: PhysicalOperatorAssignment) =
          apply("opt.stages")(inner.generatePlanParameters(q, g, t, ops))
      }
  }

  /** Plans `sql` with `optimize`; traced, the Catalyst planning that
    * follows gets a span of its own. */
  private def plan(taps: Taps, sql: String, tracer: Option[Tracer])(
      optimize: String => OptimizationResult): Planned = {
    val r = tracer.fold(optimize(sql))(tr => taps.traced(tr)(optimize(sql)))
    tracer.fold(r.df.queryExecution.executedPlan)(
      _.span("spark.plan")(r.df.queryExecution.executedPlan))
    Planned(r.df, r.joinOrder)
  }

  /** UES with the join-sketch probes off (the stages of `Presets.ues`):
    * greedy pessimistic ordering, hash-only operators, bound-derived
    * cardinality hints. */
  final class Ues(spark: SparkSession, stats: EmulatedStatistics) {
    private val taps = new Taps
    val pipeline = new MultiStageOptimizationPipeline(spark,
      joinOrder = Some(taps.joinOrder(new UESJoinOrderOptimizer(joinSketch = false))),
      operators = Some(taps.operators(new UESOperatorSelection)),
      parameters = Some(taps.parameters(new BoundsParameterGeneration)),
      preCheck = taps.preCheck(EquiJoinPreCheck), stats = stats)

    def apply(sql: String, tracer: Option[Tracer]): Planned =
      plan(taps, sql, tracer)(pipeline.optimizeQuery)
  }

  /** Textbook dynamic programming with C_out and System-R estimates: the
    * stages of `Presets.dynprog`, which [[sameAsPreset]] checks. */
  final class Dp(spark: SparkSession, stats: EmulatedStatistics) {
    private val taps = new Taps
    val pipeline = new TextBookOptimizationPipeline(spark,
      taps.enumerator(new DynamicProgrammingEnumerator), new CoutCostModel,
      new BasicCardinalityEstimator, preCheck = taps.preCheck(EquiJoinPreCheck),
      stats = stats)

    def apply(sql: String, tracer: Option[Tracer]): Planned =
      plan(taps, sql, tracer)(pipeline.optimizeQuery)

    /** Why `Presets.dynprog` would plan `sql` differently, if it would. */
    def sameAsPreset(sql: String): Option[String] = {
      val ours = pipeline.optimizeQuery(sql)
      val preset = Presets.dynprog(spark, stats = stats).optimizeQuery(sql)
      def show(r: OptimizationResult) = r.describe + " " + r.joinOrder.map(_.render)
      if (show(ours) == show(preset)) None
      else Some(s"benchmark pipeline ${show(ours)} != Presets.dynprog ${show(preset)}")
    }
  }

  /** Remembers the first join tree seen per query and reports any later
    * tree that differs. */
  final class TreeCheck {
    private val seen = mutable.Map.empty[String, String]
    def apply(label: String, tree: Option[JoinTree[Cardinality]]): Option[String] = {
      val r = tree.map(_.render).getOrElse("native")
      val first = seen.getOrElseUpdate(label, r)
      if (first == r) None else Some(s"$label: join tree changed from $first to $r")
    }
  }
}
