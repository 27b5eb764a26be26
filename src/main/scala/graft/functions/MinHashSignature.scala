package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature of a document's text: `numPerm` values
  * sig_i = min over the text's `ngram`-word shingles s of
  * (a_i*h(s) + b_i) mod P, in one row-local loop — no explode of the
  * shingles, no shuffle by document, no per-position aggregate.
  *
  * Bit-identical to the relational formulation it replaces
  * (`split(text, ' ')`, `xxhash64(slice(w, i+1, n))` per shingle,
  * h = `pmod(hash(shingle), P)`, then `min(pmod(h*a_i + b_i, P))` per
  * position grouped by document): words and shingle keys come from
  * [[Shingles]] (empty words from leading, trailing or doubled spaces
  * included), and h is `Murmur3_x86_32.hashLong(key, 42)` mod P. Repeated
  * shingles need no distinct: a minimum is idempotent. Null text, or text
  * of fewer than `ngram` words (no shingle), yields null — the rows the
  * relational path's `size(w) >= n` filter dropped.
  *
  * Output: array<bigint> of `numPerm` values in [0, P).
  */
case class MinHashSignature(child: Expression, ngram: Int, numPerm: Int)
    extends UnaryExpression {
  require(ngram >= 1 && numPerm >= 1)

  // the (a_i, b_i) columns of perms(numPerm); recomputed where the
  // expression is deserialized, bound into generated code as references
  @transient private lazy val ab = MinHashSignature.perms(numPerm)
  @transient private lazy val a = ab.map(_._1).toArray
  @transient private lazy val b = ab.map(_._2).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects string, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(v: Any): Any = {
    val sig = MinHashSignature.kernel(v.asInstanceOf[UTF8String], ngram, a, b)
    if (sig == null) null else UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val ra = ctx.addReferenceObj("mhA", a, "long[]")
      val rb = ctx.addReferenceObj("mhB", b, "long[]")
      val sig = ctx.freshName("sig")
      s"""
        long[] $sig = graft.functions.MinHashSignature.kernel($x, $ngram, $ra, $rb);
        if ($sig == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
            .fromPrimitiveArray($sig);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {

  /** Mersenne prime 2^31-1: the modulus of the universal-hash family used
    * as MinHash "permutations". The mod is what makes pi(h) = (a*h+b) mod P
    * order-scrambling — WITHOUT it, a*h+b with a>0 is monotonic in h, the
    * argmin of every "permutation" is the one shingle with the smallest
    * base hash, all signature positions encode that single shingle, and
    * signature agreement degenerates to a 0/1 coin whose heads-probability
    * is J (pairs collide iff they share the globally-minimal shingle).
    * That degenerate form passes small fixtures with probability ~prod(J_i)
    * and silently guts recall at scale — a real bug caught in round 4 when
    * re-hashing shingles re-rolled the argmins.
    */
  val MersenneP = 2147483647L

  /** Deterministic universal-hash parameters for MinHash (java.util.Random
    * LCG is spec-fixed, so signatures are reproducible across runs/JVMs and
    * a persisted band index stays valid). a in [1, P), b in [0, P):
    * a*h+b <= (P-1)^2 + P-1 < 2^62 never overflows a long.
    */
  def perms(numPerm: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(seed)
    def next(bound: Long): Long = math.floorMod(rnd.nextLong(), bound)
    Seq.fill(numPerm)((next(MersenneP - 1) + 1, next(MersenneP)))
  }

  /** Shared by eval and codegen: the signature of `text`, or null when it
    * has fewer than `ngram` words. */
  def kernel(text: UTF8String, ngram: Int, a: Array[Long],
      b: Array[Long]): Array[Long] = {
    val w = Shingles.words(text)
    val shingles = w.length - ngram + 1
    if (shingles <= 0) return null
    val k = a.length
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < shingles) {
      val key = Shingles.shingleKey(w, i, ngram)
      val h = math.floorMod(Murmur3_x86_32.hashLong(key, 42).toLong, MersenneP)
      var p = 0
      while (p < k) {
        val v = (a(p) * h + b(p)) % MersenneP
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** DataFrame-API entry point. */
  def minHashSignature(text: Column, ngram: Int, numPerm: Int): Column =
    GraftShims.column(MinHashSignature(GraftShims.expression(text), ngram,
      numPerm))
}
