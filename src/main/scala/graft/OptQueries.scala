package graft

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.JoinOperator
import graft.enforce.PlanEnforcer
import graft.opt._
import graft.pipeline._
import graft.plans.{JoinTree, PhysicalOperatorAssignment}
import graft.qal.QueryFacade
import graft.stats.EmulatedStatistics

/** Optimizer-pipeline query surface. Every entry optimizes/enforces a plan
  * and must produce results identical to the DuckDB oracle running the SAME
  * SQL — the reference's central correctness invariant ("plan changes must
  * never change answers", /root/reference/tests/test_ues_optimization.py:
  * 38-52), transplanted onto the DuckDB oracle harness.
  */
object OptQueries {

  /** One emulated-stats cache per (session, data dir) — stat probes are
    * memoized on canonicalized plans, so all queries share base-table
    * statistics. Long-valued probes additionally persist to a JSON file in
    * the temp dir, so fresh JVMs (and later rounds over the same fixtures)
    * skip the probe jobs entirely. Two robustness properties:
    *  - the file name embeds a fingerprint of the data (sizes + mtimes of
    *    the parquet files), so regenerating fixtures at the same path can
    *    never serve stale row counts into PreciseCardinalities;
    *  - persistence is EAGER (after every new probe, atomic rename), so a
    *    JVM killed by the driver's timeout loses nothing — the shutdown
    *    hook alone did, and a cold opt01 pays ~14 s of probes.
    * Load and persist are best-effort: a missing or corrupt file only
    * means probes run again. */
  private val statsCache = TrieMap.empty[(SparkSession, String), EmulatedStatistics]

  private[graft] def statsFor(s: SparkSession, dir: String): EmulatedStatistics =
    statsCache.getOrElseUpdate((s, dir), {
      val st = new EmulatedStatistics(s)
      val f = s"${System.getProperty("java.io.tmpdir")}/graft_stats_cache_${Tables.dataFingerprint(dir)}.json"
      try st.loadFrom(f) catch { case NonFatal(_) => }
      st.autoPersistTo(f)
      st
    })

  private val flagshipSql =
    """SELECT n_name, count(*) AS order_cnt,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
         AND c_nationkey = n_nationkey
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY n_name ORDER BY n_name"""

  private val fourTableSql =
    """SELECT r_name, count(*) AS n
       FROM region, nation, customer, orders
       WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
         AND c_custkey = o_custkey
       GROUP BY r_name ORDER BY r_name"""

  private val threeTableSql =
    """SELECT n_name, count(*) AS n_supp
       FROM nation, supplier, region
       WHERE n_nationkey = s_nationkey AND n_regionkey = r_regionkey
       GROUP BY n_name ORDER BY n_name"""

  private val twoTableSql =
    """SELECT s_name, n_name FROM supplier, nation
       WHERE s_nationkey = n_nationkey ORDER BY s_name"""

  /** Enforce a fixed left-deep order + a fixed per-join operator. */
  private def forced(s: SparkSession, dir: String, op: JoinOperator): DataFrame = {
    Tables.registerAll(s, dir)
    val q = QueryFacade(s, twoTableSql)
    val graph = new JoinGraph(q.joinBlock.get, statsFor(s, dir))
    val tree = JoinTree.leftDeep(q.joinBlock.get.tables)
    val ops = PhysicalOperatorAssignment()
      .withJoin(Set("supplier", "nation"), op)
    PlanEnforcer.enforce(q, graph, tree, ops)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // flagship through the full UES pipeline (order + operators + params)
    "opt01_ues_flagship" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        parameters = Some(new BoundsParameterGeneration),
        stats = statsFor(s, dir)).optimize(flagshipSql)
    },

    // forced physical operators on the same join — all four strategies
    "opt02_forced_broadcast" -> { (s, dir) =>
      forced(s, dir, JoinOperator.BroadcastHashJoin) },
    "opt03_forced_merge" -> { (s, dir) =>
      forced(s, dir, JoinOperator.SortMergeJoin) },
    "opt04_forced_shuffle_hash" -> { (s, dir) =>
      forced(s, dir, JoinOperator.HashJoin) },
    "opt05_forced_nlj" -> { (s, dir) =>
      forced(s, dir, JoinOperator.NestedLoopJoin) },

    // textbook pipeline: bushy DP + C_out + System-R cardinalities
    "opt06_dp_join_order" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new TextBookOptimizationPipeline(s,
        new DynamicProgrammingEnumerator(),
        new CoutCostModel, new BasicCardinalityEstimator,
        stats = statsFor(s, dir)).optimize(fourTableSql)
    },

    // exhaustive enumeration (all shapes) on a 3-table query
    "opt07_exhaustive" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new TextBookOptimizationPipeline(s,
        new ExhaustivePlanEnumerator,
        new CoutCostModel, new BasicCardinalityEstimator,
        stats = statsFor(s, dir)).optimize(threeTableSql)
    },

    // random join order: results must be invariant under any order
    "opt08_random_order" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new RandomJoinOrderOptimizer(seed = 7L)),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(fourTableSql)
    },

    // transitively-connected query optimized over the AUGMENTED join graph:
    // customer-lineitem only connect through orders' equivalence class, the
    // closure edge lets UES order them adjacently (custom Catalyst-rule
    // semantics, SURVEY §4 augmentation row)
    "opt10_augmented_graph" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val sql = """SELECT c_mktsegment, count(*) AS n
                   FROM customer, orders, lineitem
                   WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
                   GROUP BY c_mktsegment ORDER BY c_mktsegment"""
      val q = QueryFacade(s, sql)
      val graph = new JoinGraph(q.joinBlock.get, statsFor(s, dir), augment = true)
      val tree = new UESJoinOrderOptimizer().optimizeJoinOrder(q, graph).get
      val ops = new UESOperatorSelection()
        .selectPhysicalOperators(q, graph, Some(tree))
      PlanEnforcer.enforce(q, graph, tree, ops)
    },

    // true cardinalities: COUNT(*) per intermediate feeding DP
    "opt09_precise_cards" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new TextBookOptimizationPipeline(s,
        new DynamicProgrammingEnumerator(linearOnly = true),
        new CoutCostModel, new PreciseCardinalities,
        stats = statsFor(s, dir)).optimize(threeTableSql)
    },

    // textbook pipeline with the probe-free estimator: filter
    // selectivities from histograms/MCV instead of exact COUNT probes —
    // the scale path where per-filter probes would be full scans
    "opt12_statistical_cards" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new TextBookOptimizationPipeline(s,
        new DynamicProgrammingEnumerator(),
        new CoutCostModel, new StatisticalCardinalityEstimator,
        stats = statsFor(s, dir)).optimize(flagshipSql)
    },

    // TONIC online-learning round-trip in the gate: optimize + execute +
    // learn_from_feedback, then re-optimize with the trained trie driving
    // operator selection — plan steering from learned feedback must never
    // change answers (the same invariant the reference's bench loop
    // relies on when it calls pipeline.learn_from_feedback per query)
    "opt13_tonic_feedback" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val tonic = new TonicOperatorSelection(new QepSynopsis)
      val pipeline = new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(tonic),
        stats = statsFor(s, dir))
      val first = pipeline.optimizeQuery(threeTableSql)
      first.df.collect()
      pipeline.learnFromFeedback(first, first.df, execTimeMs = 0.0)
      pipeline.optimize(threeTableSql)
    },

    // per-intermediate cardinality injection (the Rows-hint analog): UES
    // order + deliberately distorted true cardinalities spliced into the
    // optimized plan as stats-override leaves that Spark's join selection
    // consults — plan steering must never change answers
    "opt11_injected_cards" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        parameters = Some(new CardinalityHintGeneration(
          new CardinalityDistortion(new PreciseCardinalities, factor = 0.8))),
        stats = statsFor(s, dir)).optimize(fourTableSql)
    },

    // GOO greedy bushy ordering on a JOB-kit 8-way join — the polynomial
    // path for queries where DP's 2^n subset table stops being cheap
    "opt14_goo_manyjoin" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new TextBookOptimizationPipeline(s,
        new GreedyOperatorOrdering,
        new CoutCostModel, new BasicCardinalityEstimator,
        stats = statsFor(s, dir)).optimize(jobSql("q01_8way_asia_promo"))
    },

    // IKKBZ optimal left-deep ordering (ASI rank normalization) on a
    // JOB-kit 9-way join with a cyclic graph (spanning-tree relaxation)
    "opt15_ikkbz_manyjoin" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new TextBookOptimizationPipeline(s,
        new IkkbzEnumerator,
        new CoutCostModel, new BasicCardinalityEstimator,
        stats = statsFor(s, dir)).optimize(jobSql("q02_9way_crossregion"))
    },

    // interesting-orders DP: shared-key merge cascade where the second
    // merge join reuses the delivered sort order (no re-sort)
    "opt16_sort_aware_dp" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val q = QueryFacade(s, sharedKeySql)
      val graph = new JoinGraph(q.joinBlock.get, statsFor(s, dir))
      val (tree, ops) = new SortAwareDynProg(hashBuildCostPerRow = 1000.0)
        .plan(q, graph, new BasicCardinalityEstimator)
      PlanEnforcer.enforce(q, graph, tree, ops)
    },

    // BAO-style plan selection: candidate plans scored by the operator
    // cost model, winner enforced — learned-optimizer surface
    "opt17_bao_selection" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new IntegratedOptimizationPipeline(s,
        new BaoStylePlanSelection(new StatisticalCardinalityEstimator),
        stats = statsFor(s, dir)).optimize(fourTableSql)
    },

    // ParallelQueryExecutor analog in the gate: a 3-query workload through
    // the bounded pool; the output is the per-label result-set SIZE (times
    // are nondeterministic, row counts are not), proving all queries ran
    // to completion concurrently
    "opt18_parallel_exec" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      // harvesting ON in the gate: accumulating training samples from a
      // benchmark run must never perturb its results
      val harvestRoot = s"${sys.props("java.io.tmpdir")}/" +
        s"graft_harness_harvest_${Tables.dataFingerprint(dir)}"
      val rs = graft.bench.BenchHarness.executeWorkloadParallel(
        s, parWorkload, poolSize = 2,
        harvest = Some(new graft.train.TrainingDataRepository(s, harvestRoot)))
      import s.implicits._
      rs.map(r => (r.label, r.status, r.result_rows))
        .toDF("label", "status", "n_rows")
    },

    // Stack-kit self-join funnel through the full UES pipeline: ONE large
    // activity table aliased three ways, equi-connected on user_id with
    // residual time-ordering theta predicates — the app-DB workload shape
    "opt21_ues_stack_funnel" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(stackSql("q01_funnel_3step"))
    },

    // runtime-feedback re-optimization: execute natively, harvest ACTUAL
    // per-intermediate cardinalities from the executed plan's SQLMetrics
    // (zero extra jobs), re-plan through DP with the actuals as
    // pre-computed cardinalities — feedback must never change answers
    "opt20_adaptive_reopt" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      AdaptiveReoptimization.reoptimize(s, flagshipSql, statsFor(s, dir))
    },

    // JOB-kit many-join through the full UES pipeline (pessimistic bounds
    // + operator selection on a 10-way join with a lineitem self-join and
    // a pure theta edge) — answers must match the native plan's
    "opt19_ues_job_10way" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(jobSql("q03_10way_order_pair"))
    },

    // pessimistic DP: the textbook enumerator minimizing C_out over the
    // UES upper bound as a pluggable estimator — estimator composability
    // (reference example-04 / opt/_cardinalities.py): bushy search by
    // worst-case intermediate size, sound bounds in place of estimates
    "opt22_pessimistic_dp" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new TextBookOptimizationPipeline(s,
        new DynamicProgrammingEnumerator(),
        new CoutCostModel, new PessimisticCardinalityEstimator(),
        stats = statsFor(s, dir)).optimize(jobSql("q08_6way_cyclic_triangle"))
    },

    // Stats-kit correlated-predicate query through the full UES pipeline:
    // the fourth corpus (multi-filter correlation, low-ndv label equi
    // self-join) in the oracle gate, like opt19 (JOB) and opt21 (Stack)
    "opt23_ues_stats_correlated" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(statsSql("q04_same_cluster_doc_pairs"))
    },

    // UES on a generator-emitted correlated FK-walk query (gw07: the
    // customer's nation and the supplier's nation must AGREE through
    // lineitem — the cross-branch value-agreement class that is the
    // join-sketch tier's documented q-error frontier). The gate pins
    // that the probed pipeline fully enforces an order and stays exact
    // on this class: bound looseness must never leak into results.
    "opt24_ues_walk_correlated" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(jobSql("gw07_walk_seed10"))
    },

    // UES on a generator-emitted ALIASED walk with a cross-alias OR
    // (gw23: doubled part/lineitem/orders under fresh aliases plus an
    // OR spanning two aliases — the r13 matched-intermediate probe's
    // theta-edge/residual class). The gate pins that the alias-heavy
    // probed pipeline (clone re-aliasing, joint groups, matched probes)
    // fully enforces an order and stays exact: probe-tier plumbing must
    // never leak into results.
    "opt25_ues_alias_walk" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(jobSql("gw23_alias_seed114"))
    },

    // UES on the r13 113-query batch's hardest shape (gw73: THREE
    // customer clones sharing one orders hub — a same-table equi
    // clique the joint-anchor probe must re-alias three ways — plus a
    // cross-alias OR between a lineitem clone and the hub). The gate
    // pins that clique-degree clone re-aliasing and the OR residual
    // stay exact through the probed pipeline at full breadth.
    "opt26_ues_clone_clique" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(jobSql("gw73_alias_seed227"))
    },

    // UES through the CMS MIDDLE probe tier (bloom reduction plus
    // count-min pairwise join-size sketches — the no-shuffle 100 TB
    // probe path between bloom and exact) on the correlated FK walk.
    // The gate pins that sketch-tier bounds steer ordering only:
    // whatever the sketches estimate, the enforced plan's results stay
    // exactly the oracle's.
    "opt27_ues_cms_tier" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer(sketchTier = "cms")),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(jobSql("gw07_walk_seed10"))
    },

    // UES (cms sketch tier, exercising the bucketized degree terms on
    // low-ndv lang/label keys) on the stats-kit walk whose 2-hop
    // derived lang constant exposed the r15 order-dependent-inference
    // bug (sw11: probed 3 rows with the closure filter, executed 18
    // without it). The gate pins the whole repaired contract end to
    // end: PlanEnforcer compiles the closure into the scans, the
    // probe relations assume the same closure, and the enforced
    // result still hashes exactly to the oracle's.
    "opt28_ues_closure_bucket" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer(sketchTier = "cms")),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir)).optimize(statsSql("sw11_walk_seed5015"))
    },

    // TrainingDataRepository warm start: execute natively ONCE, harvest
    // per-join (path, operator, actual-rows) samples from the executed
    // plan's SQLMetrics, persist them to the parquet-backed repository,
    // then reload into a FRESH repository + FRESH QEP-S trie (no state
    // shared with the learning run — the new-JVM contract) and steer the
    // same query through TONIC backed only by the reloaded corpus.
    // Warm-started steering must preserve answers, which the flagship
    // oracle checks
    "tr01_training_warmstart" -> { (s, dir) =>
      import graft.train.{TrainingDataRepository, TrainingHarvest}
      Tables.registerAll(s, dir)
      val executed = s.sql(flagshipSql)
      executed.collect() // fill SQLMetrics: the harvest reads actual rows
      val data = TrainingHarvest.fromExecution(s, "flagship", flagshipSql,
        executed, runtimeMs = 0.0)
        .getOrElse(throw new IllegalStateException("no joins harvested"))
      val root = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_train_${Tables.dataFingerprint(dir)}"
      new TrainingDataRepository(s, root).register("flagship", data)
      val corpus = new TrainingDataRepository(s, root)
        .retrieveMerged(TrainingHarvest.tonicSpec)
        .getOrElse(throw new IllegalStateException("repository empty"))
      val warm = new TonicOperatorSelection(
        TrainingHarvest.warmStartTonic(corpus))
      new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(warm),
        stats = statsFor(s, dir)).optimize(flagshipSql)
    },

    // BAO warm start from the training repository: the persisted corpus'
    // per-intermediate ACTUAL cardinalities (not estimates) feed
    // PreComputedCardinalities, and BAO-style selection costs its operator
    // candidates with observed truth — the second learned stage the same
    // persisted samples train. Steering with learned cardinalities must
    // preserve answers (flagship oracle)
    "tr02_training_bao" -> { (s, dir) =>
      import graft.train.{TrainingDataRepository, TrainingHarvest}
      import graft.train.{TrainingSpec => TSpec}
      Tables.registerAll(s, dir)
      val executed = s.sql(flagshipSql)
      executed.collect()
      val data = TrainingHarvest.fromExecution(s, "flagship", flagshipSql,
        executed, runtimeMs = 0.0)
        .getOrElse(throw new IllegalStateException("no joins harvested"))
      val root = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_train_${Tables.dataFingerprint(dir)}"
      new TrainingDataRepository(s, root).register("flagship_bao", data)
      val corpus = new TrainingDataRepository(s, root)
        .retrieveMerged(TSpec(Seq(TrainingHarvest.TableSet,
          graft.train.Training.CardinalityF)))
        .getOrElse(throw new IllegalStateException("repository empty"))
      val lookup = TrainingHarvest.cardinalityLookup(corpus)
      new IntegratedOptimizationPipeline(s,
        new BaoStylePlanSelection(new PreComputedCardinalities(lookup,
          fallback = new StatisticalCardinalityEstimator)),
        stats = statsFor(s, dir)).optimize(flagshipSql)
    },

    // CEB template-GENERATED workload through the full UES pipeline: 12
    // queries instantiated from the 3 in-repo YAML templates (weighted /
    // uniform / IN / LIKE slots, fixed seed), each optimized and enforced,
    // results unioned under their generated labels. The oracle runs the
    // BYTE-IDENTICAL generated SQL natively in DuckDB — so both the
    // generator's determinism and the "plan changes never change answers"
    // invariant are hash-checked on queries no human wrote
    "g01_ceb_generated" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, lit}
      Tables.registerAll(s, dir)
      val pipeline = new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir))
      cebWorkload.map { case (label, sql) =>
        pipeline.optimize(sql).select(lit(label).as("label"), col("n"))
      }.reduce(_.unionAll(_)).orderBy("label")
    },

    // FK-graph random-WALK generated workload (the reference's second
    // generator, experiments/querygen.py: shell-jump walk over the
    // schema graph, all-pairs FK join predicates, distinct-value-sampled
    // filters, count-star wrapping) through the full UES pipeline; the
    // oracle runs the BYTE-IDENTICAL generated SQL natively in DuckDB
    "g02_randomwalk_generated" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, lit}
      Tables.registerAll(s, dir)
      val pipeline = new MultiStageOptimizationPipeline(s,
        joinOrder = Some(new UESJoinOrderOptimizer),
        operators = Some(new UESOperatorSelection),
        stats = statsFor(s, dir))
      walkWorkload.map { case (label, sql) =>
        pipeline.optimize(sql).select(lit(label).as("label"), col("n"))
      }.reduce(_.unionAll(_)).orderBy("label")
    }
  )

  /** FK-walk workload, deterministic in seed; shared by the g02 gate and
    * its oracle so both engines run byte-identical SQL (the g01 move).
    */
  private lazy val walkWorkload: Seq[(String, String)] =
    graft.bench.QueryGenerator.randomWalkWorkload("g02", n = 8,
      seed = 20260813L).queries.toSeq.sortBy(_._1)

  /** CEB-generated workload, deterministic in (templates, seed): built
    * once and shared by the g01 gate query AND its oracle, so both
    * engines run byte-identical SQL. The gate templates use list-typed
    * predicates only — the oracle string is assembled without a
    * SparkSession; the sql-typed candidate path (live candidate queries
    * with dependencies) is exercised in CebSpec.
    */
  private lazy val cebWorkload: Seq[(String, String)] =
    graft.bench.Ceb.generateWorkload(
      graft.bench.Ceb.templatesFromDirectory(s"$workloadsRoot/ceb"),
      queriesPerTemplate = 4, seed = 20260812L)

  private val sharedKeySql =
    """SELECT n_name, count(*) AS c FROM nation, supplier, customer
       WHERE n_nationkey = s_nationkey AND n_nationkey = c_nationkey
       GROUP BY n_name"""

  /** In-repo workloads root, overridable for checkouts not located at
    * /root/repo (sys prop first so a test/driver JVM can redirect without
    * touching the environment). Resolution is lazy end-to-end — a missing
    * kit fails only the kit-backed entries (opt14/15/19/21), not object
    * initialization for every gate query.
    */
  private lazy val workloadsRoot: String =
    sys.props.get("graft.workloads.dir")
      .orElse(sys.env.get("GRAFT_WORKLOADS_DIR"))
      .getOrElse("/root/repo/workloads")

  /** JOB-kit SQL by label (read once; workloads ship in-repo). */
  private lazy val jobWorkload =
    graft.bench.Workload.fromDirectory("job", s"$workloadsRoot/job")
  private def jobSql(label: String): String = jobWorkload.queries(label)

  private lazy val stackWorkload =
    graft.bench.Workload.fromDirectory("stack", s"$workloadsRoot/stack")
  private def stackSql(label: String): String = stackWorkload.queries(label)

  private lazy val statsWorkload =
    graft.bench.Workload.fromDirectory("stats", s"$workloadsRoot/stats")
  private def statsSql(label: String): String = statsWorkload.queries(label)

  private val parWorkload = graft.bench.Workload.inline("par-gate",
    "p_nation" -> "SELECT n_name FROM nation WHERE n_regionkey < 3",
    "p_topsupp" -> """SELECT s_nationkey, count(*) AS n FROM supplier
                      GROUP BY s_nationkey""",
    "p_orders" -> """SELECT o_orderstatus, count(*) AS n FROM orders
                     GROUP BY o_orderstatus""")

  lazy val oracles: Map[String, String] = Map(
    "opt01_ues_flagship" -> flagshipSql,
    "opt02_forced_broadcast" -> twoTableSql,
    "opt03_forced_merge" -> twoTableSql,
    "opt04_forced_shuffle_hash" -> twoTableSql,
    "opt05_forced_nlj" -> twoTableSql,
    "opt06_dp_join_order" -> fourTableSql,
    "opt07_exhaustive" -> threeTableSql,
    "opt08_random_order" -> fourTableSql,
    "opt09_precise_cards" -> threeTableSql,
    "opt11_injected_cards" -> fourTableSql,
    "opt13_tonic_feedback" -> threeTableSql,
    "opt12_statistical_cards" -> flagshipSql,
    "opt10_augmented_graph" ->
      """SELECT c_mktsegment, count(*) AS n
         FROM customer, orders, lineitem
         WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "opt14_goo_manyjoin" -> jobSql("q01_8way_asia_promo"),
    "opt15_ikkbz_manyjoin" -> jobSql("q02_9way_crossregion"),
    "opt16_sort_aware_dp" -> sharedKeySql,
    "opt17_bao_selection" -> fourTableSql,
    // the parallel executor's output is (label, status, result-row-count):
    // the oracle recomputes each query's cardinality independently
    "opt18_parallel_exec" ->
      """SELECT 'p_nation' AS label, 'ok' AS status,
                (SELECT count(*) FROM nation WHERE n_regionkey < 3) AS n_rows
         UNION ALL
         SELECT 'p_topsupp', 'ok',
                (SELECT count(DISTINCT s_nationkey) FROM supplier)
         UNION ALL
         SELECT 'p_orders', 'ok',
                (SELECT count(DISTINCT o_orderstatus) FROM orders)""",
    "opt19_ues_job_10way" -> jobSql("q03_10way_order_pair"),
    "opt20_adaptive_reopt" -> flagshipSql,
    "opt22_pessimistic_dp" -> jobSql("q08_6way_cyclic_triangle"),
    "opt23_ues_stats_correlated" -> statsSql("q04_same_cluster_doc_pairs"),
    "opt24_ues_walk_correlated" -> jobSql("gw07_walk_seed10"),
    "opt25_ues_alias_walk" -> jobSql("gw23_alias_seed114"),
    "opt26_ues_clone_clique" -> jobSql("gw73_alias_seed227"),
    "opt27_ues_cms_tier" -> jobSql("gw07_walk_seed10"),
    "opt28_ues_closure_bucket" -> statsSql("sw11_walk_seed5015"),
    "opt21_ues_stack_funnel" -> stackSql("q01_funnel_3step"),
    "tr01_training_warmstart" -> flagshipSql,
    "tr02_training_bao" -> flagshipSql,

    // the generated queries, verbatim, labeled and unioned — DuckDB runs
    // exactly what the Spark pipeline optimized
    "g01_ceb_generated" -> cebWorkload.map { case (label, sql) =>
      s"SELECT '$label' AS label, n FROM ($sql) AS ${label.replace('-', '_')}"
    }.mkString("", " UNION ALL ", " ORDER BY label"),

    "g02_randomwalk_generated" -> walkWorkload.map { case (label, sql) =>
      s"SELECT '$label' AS label, n FROM ($sql) AS ${label.replace('-', '_')}"
    }.mkString("", " UNION ALL ", " ORDER BY label")
  )
}
