package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native exact Jaccard of two texts' `ngram`-word shingle sets, in one
  * row-local merge over their sorted, distinct shingle keys
  * ([[Shingles.shingleKeys]]) — no shingle explode, no intersection join,
  * no size aggregate.
  *
  * Bit-identical to the relational verification it replaces (explode the
  * distinct `xxhash64(slice(w, i+1, n))` keys per document, join the two
  * documents' keys for the intersection count, join both set sizes, then
  * `inter / (n_a + n_b - inter)` in double arithmetic). Null text, or text
  * of fewer than `ngram` words (no shingle), yields null — the pairs the
  * relational joins dropped. Two texts with no shared shingle yield 0.0.
  *
  * Output: double in [0, 1].
  */
case class NgramJaccard(left: Expression, right: Expression, ngram: Int)
    extends BinaryExpression {
  require(ngram >= 1)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("ngram_jaccard expects two strings, " +
      s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "ngram_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val j = NgramJaccard.kernel(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], ngram)
    if (java.lang.Double.isNaN(j)) null else j
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val j = ctx.freshName("jaccard")
      s"""
        double $j = graft.functions.NgramJaccard.kernel($a, $b, $ngram);
        if (java.lang.Double.isNaN($j)) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $j;
        }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NgramJaccard {

  /** Shared by eval and codegen: the Jaccard of the two texts' shingle
    * sets, or NaN (read as null) when either has fewer than `ngram` words. */
  def kernel(a: UTF8String, b: UTF8String, ngram: Int): Double = {
    val ka = Shingles.shingleKeys(a, ngram)
    if (ka == null) return Double.NaN
    val kb = Shingles.shingleKeys(b, ngram)
    if (kb == null) return Double.NaN
    var i = 0
    var j = 0
    var inter = 0L
    while (i < ka.length && j < kb.length) {
      if (ka(i) < kb(j)) i += 1
      else if (ka(i) > kb(j)) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    inter.toDouble / (ka.length + kb.length - inter).toDouble
  }

  /** DataFrame-API entry point. */
  def ngramJaccard(left: Column, right: Column, ngram: Int): Column =
    GraftShims.column(NgramJaccard(GraftShims.expression(left),
      GraftShims.expression(right), ngram))
}
