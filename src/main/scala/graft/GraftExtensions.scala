package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.enforce.StatsOverrideStrategy
import graft.transforms.AugmentEquiJoinPredicates

/** Session-extensions entry point for cluster deployments: register with
  * `--conf spark.sql.extensions=graft.GraftExtensions` so every session
  * (including executor-side thrift/connect sessions) carries graft's
  * Catalyst additions without per-session imperative registration.
  *
  * Injected pieces:
  *  - [[graft.enforce.StatsOverrideStrategy]] — plans the cardinality-
  *    injection leaf ([[graft.enforce.StatsOverride]]), the analog of the
  *    reference's `Rows(... #n)` hints
  *    (/root/reference/postbound/postgres.py:2289-2301).
  *  - [[graft.transforms.AugmentEquiJoinPredicates]] — transitive equi-join
  *    closure (reference add_ec_predicates,
  *    /root/reference/postbound/transform.py:641); semantics-preserving, it
  *    only widens the optimizer's choice of join edges.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => StatsOverrideStrategy)
    ext.injectOptimizerRule(_ => AugmentEquiJoinPredicates)
    // SQL-callable custom kernels: `SELECT cosine_sim(a, b)`,
    // `SELECT rolling_hash(text)`, `SELECT minhash_signature(text, 3, 128)`,
    // `SELECT ngram_jaccard(a, b, 3)`
    // work from any SQL surface (thrift, connect) without imperative
    // per-session registration
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.size == 2, "cosine_sim(a, b) takes two array args")
        graft.functions.CosineSimilarity(args.head, args(1))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hash"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.RollingHash].getName, "rolling_hash"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.size == 1, "rolling_hash(text) takes one arg")
        graft.functions.RollingHash(args.head)
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_signature"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MinHashSignature].getName, "minhash_signature"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.size == 3 && args.tail.forall(_.foldable),
          "minhash_signature(text, ngram, numPerm) takes constant ngram and numPerm")
        graft.functions.MinHashSignature(args.head,
          args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Int])
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("ngram_jaccard"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NgramJaccard].getName, "ngram_jaccard"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.size == 3 && args(2).foldable,
          "ngram_jaccard(a, b, ngram) takes two texts and a constant ngram")
        graft.functions.NgramJaccard(args.head, args(1),
          args(2).eval().asInstanceOf[Int])
      }))
  }
}
