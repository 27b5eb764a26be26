package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions is the cluster deployment path
  * (`--conf spark.sql.extensions=graft.GraftExtensions`): a session built
  * with it must carry the planner strategy, the optimizer rule, and the
  * SQL-callable custom kernels with no imperative registration.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("an extensions-built session exposes the custom kernels in SQL") {
    // other suites may already hold a session in this JVM: clear the
    // active/default slots so the builder constructs a NEW SparkSession
    // (over the shared context, extensions applied), and restore the
    // slots afterwards — never stop(), that would kill the shared
    // SparkContext under every later suite
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions, not .config("spark.sql.extensions", ...): the
      // conf is STATIC, so Spark ignores it when the builder reuses an
      // existing SparkContext (the full-suite case) — the builder API
      // applies our class either way
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-extensions-spec")
        .config("spark.sql.shuffle.partitions", 2)
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val cos = spark.sql(
        "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
        .head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      val orth = spark.sql(
        "SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c")
        .head().getDouble(0)
      assert(math.abs(orth) < 1e-12)
      // rolling_hash must agree with the library call on the same input
      val viaSql = spark.sql("SELECT rolling_hash('abc') AS h")
        .head().getLong(0)
      import spark.implicits._
      val viaApi = Seq("abc").toDF("t")
        .select(graft.functions.RollingHash.rollingHash(
          org.apache.spark.sql.functions.col("t")))
        .head().getLong(0)
      assert(viaSql === viaApi)
      val sigSql = spark.sql("SELECT minhash_signature('a b c d', 3, 16) AS s")
        .head().getSeq[Long](0)
      val sigApi = Seq("a b c d").toDF("t")
        .select(graft.functions.MinHashSignature.minHashSignature(
          org.apache.spark.sql.functions.col("t"), 3, 16))
        .head().getSeq[Long](0)
      assert(sigSql.size === 16 && sigSql === sigApi)
      // {a b c, b c d} against {a b c, b c e}: one shared of three
      assert(spark.sql("SELECT ngram_jaccard('a b c d', 'a b c e', 3)")
        .head().getDouble(0) === 1.0 / 3.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
