package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.functions.PqQueryLut

class PqQueryLutSpec extends SparkSpec {

  private val numSub = 4
  private val ksz = 8
  private val sub = 3

  private def cbLiteral(cb: Array[Array[Array[Double]]]): String =
    cb.map(_.map(c => s"array(${c.mkString(",")})")
        .mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  test("native query LUT matches the HOF/literal formulation bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cb = Array.fill(numSub, ksz, sub)(rnd.nextDouble() - 0.5)
    val rows = (0 until 200).map(i => (i, Array.fill(numSub * sub)(
      rnd.nextDouble() - 0.5)))
    val cbl = cbLiteral(cb)
    val base = rows.toDF("i", "vn")
    // the HOF reference is a CodegenFallback, which would keep the whole
    // operator out of whole-stage codegen: compute it on its own side
    val hof = base.select(col("i"), expr(
        s"transform(sequence(0, ${numSub - 1}), m -> " +
          s"transform(sequence(0, ${ksz - 1}), k -> " +
          s"aggregate(sequence(1, $sub), 0D, (a, i) -> " +
          s"a + element_at(vn, m * $sub + i) * " +
          s"element_at(element_at(element_at($cbl, m + 1), k + 1), i))))")
        .as("hof"))
    // the local input is folded by ConvertToLocalRelation (nullSafeEval);
    // behind an exchange the expression runs compiled (doGenCode)
    for ((input, codegen) <- Seq(base -> false, base.repartition(2) -> true)) {
      val df = input
        .select(col("i"), PqQueryLut.queryLut(col("vn"), cb).as("native"))
        .join(hof, "i")
        .select((col("native") <=> col("hof")).as("same"))
      if (codegen) {
        val plan = df.queryExecution.executedPlan
        assert(plan.exists {
          case w: WholeStageCodegenExec => w.child.exists(
            _.expressions.exists(_.exists(_.isInstanceOf[PqQueryLut])))
          case _ => false
        }, s"pq_query_lut is not whole-stage compiled:\n$plan")
      }
      val fallback = spark.conf.get("spark.sql.codegen.fallback")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val same = try df.collect().map(_.getBoolean(0)) finally
        spark.conf.set("spark.sql.codegen.fallback", fallback)
      // bit-for-bit: same sequential fold order, compared as exact doubles
      assert(same.length === rows.size)
      assert(same.forall(identity))
    }
  }

  test("short vectors null the out-of-range subspaces (both eval paths)") {
    val cb = Array.fill(numSub, ksz, sub)(0.5)
    // only the first subspace is covered: entries 1.. must be null.
    // Codegen path: a range source is neither local nor foldable, so the
    // expression is compiled into the whole-stage Project (a local Seq
    // would be evaluated by ConvertToLocalRelation in the optimizer).
    val df = spark.range(1)
      .select(array(Seq.fill(sub)((col("id") + 1).cast("double")): _*).as("vn"))
      .select(PqQueryLut.queryLut(col("vn"), cb).as("lut"))
    val plan = df.queryExecution.executedPlan
    assert(plan.exists {
      case w: WholeStageCodegenExec => w.child.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[PqQueryLut])))
      case _ => false
    }, s"pq_query_lut is not whole-stage compiled:\n$plan")
    // no silent fallback to the interpreted plan if doGenCode fails to compile
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val rows = try df.collect() finally
      spark.conf.set("spark.sql.codegen.fallback", fallback)
    // Spark returns the inner arrays as mutable.ArraySeq: read them as
    // collection.Seq, not the immutable Seq that Seq[...] means in 2.13
    val lut = rows.head.getSeq[collection.Seq[java.lang.Double]](0)
    assert(lut.size === numSub)
    assert(lut.head.forall(_ == 0.5 * sub))
    assert(lut.tail.forall(_.forall(_ == null)))
    // interpreted path via constant folding on a literal input
    val lit = spark.sql(s"SELECT array(${Array.fill(sub)("1D").mkString(",")}) AS vn")
      .withColumn("lut", PqQueryLut.queryLut(col("vn"), cb))
    val lut2 = lit.select("lut").head().getSeq[collection.Seq[java.lang.Double]](0)
    assert(lut2.head.forall(_ == 0.5 * sub) && lut2.tail.forall(_.forall(_ == null)))
  }
}
