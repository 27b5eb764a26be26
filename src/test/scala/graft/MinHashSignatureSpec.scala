package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.functions.MinHashSignature
import graft.llm.Dedup

/** The native MinHash signature against the relational formulation it
  * replaced: explode the hashed shingles, group by document, one
  * `min(pmod(h*a+b, P))` aggregate per position. Signatures must agree
  * bit for bit — persisted band indexes stay valid only if they do. */
class MinHashSignatureSpec extends SparkSpec {

  private val P = MinHashSignature.MersenneP

  /** The explode/groupBy/per-position-min reference (doc_id, sig). */
  private def reference(docs: DataFrame, ngram: Int, numPerm: Int): DataFrame = {
    val base = Dedup.shingles(docs, "doc_id", "text", ngram)
      .withColumn("h", pmod(hash(col("shingle")).cast("bigint"), lit(P)))
    val mins: Seq[Column] = MinHashSignature.perms(numPerm).zipWithIndex.map {
      case ((a, b), i) => min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"m$i")
    }
    base.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerm).map(i => col(s"m$i")): _*).as("sig"))
  }

  private def sigMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

  /** Edge-case texts: null, empty, short, exactly-n, odd spacing,
    * non-ASCII words and repeated shingles, then random word runs. */
  private def generated(ngram: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    val vocab = Seq("a", "b", "the", "dog", "naïve", "straße", "日本語",
      "😀", "x1", "Ωμέγα", "")
    val fixed = Seq(
      null, "", " ", "  ",
      Seq.fill(ngram - 1)("w").mkString(" "),
      (1 to ngram).map(i => s"w$i").mkString(" "),
      " lead " + (1 to ngram).map(i => s"w$i").mkString(" "),
      (1 to ngram).map(i => s"w$i").mkString(" ") + " ",
      (1 to ngram + 2).map(i => s"w$i").mkString("  "),
      "café naïve 日本語 text 😀 ünïcödé words",
      Seq.fill(12)("the dog").mkString(" "),
      Seq.fill(9)("a").mkString(" "))
    val random = Seq.fill(120) {
      Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    (fixed ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private def nativeSigs(input: DataFrame, ngram: Int, numPerm: Int): DataFrame =
    Dedup.minHashSignatures(input, "doc_id", "text", ngram, numPerm)

  private def compiled(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists {
      case w: WholeStageCodegenExec => w.child.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[MinHashSignature])))
      case _ => false
    }

  private def collectNoFallback(df: DataFrame): Map[Long, Seq[Long]] = {
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try sigMap(df) finally spark.conf.set("spark.sql.codegen.fallback", fallback)
  }

  test("native signatures match the explode/groupBy/min pipeline (both eval paths)") {
    import spark.implicits._
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    for ((rows, ngram, numPerm) <- Seq((corpus, 3, 128),
        (generated(3), 3, 128), (generated(2), 2, 16))) {
      val base = rows.toDF("doc_id", "text")
      val expected = sigMap(reference(base, ngram, numPerm))
      assert(expected.nonEmpty)
      // the local input is folded by ConvertToLocalRelation (nullSafeEval);
      // behind an exchange the expression runs compiled (doGenCode)
      for ((input, codegen) <- Seq(base -> false, base.repartition(2) -> true)) {
        val df = nativeSigs(input, ngram, numPerm)
        assert(compiled(df) === codegen,
          s"codegen=$codegen:\n${df.queryExecution.executedPlan}")
        val got = collectNoFallback(df)
        assert(got.keySet === expected.keySet, s"ngram=$ngram codegen=$codegen")
        for ((id, sig) <- expected)
          assert(got(id) === sig, s"doc $id ngram=$ngram codegen=$codegen")
        assert(got.values.forall(s => s.size == numPerm && s.forall(v => v >= 0 && v < P)))
      }
    }
  }

  test("null, empty and short texts have no signature; exactly ngram words have one") {
    import spark.implicits._
    val rows = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "a b"),
      (4L, "a b c"), (5L, "a  b"))
    val sigs = rows.toDF("doc_id", "text").repartition(2)
      .select(col("doc_id"),
        MinHashSignature.minHashSignature(col("text"), 3, 8).as("sig"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(sigs(1L).isEmpty && sigs(2L).isEmpty && sigs(3L).isEmpty)
    // "a  b" splits into three words (a, "", b): one shingle
    assert(sigs(4L).exists(_.size == 8) && sigs(5L).exists(_.size == 8))
    assert(sigs(4L) !== sigs(5L))
  }

  test("a duplicated doc_id keeps one signature per row") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "a completely different text with other words entirely"
    val docs = Seq((1L, a), (1L, b), (2L, a)).toDF("doc_id", "text")
    // the native path never merges rows: id 1 carries two signatures, one
    // per row, where the old groupBy(doc_id) merged them into their
    // per-position minimum
    val perRow = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 128)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
    assert(perRow.count(_._1 == 1L) === 2)
    val one = perRow.filter(_._1 == 1L).map(_._2).toSeq
    val merged = reference(docs, 3, 128).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(one.transpose.map(_.min) === merged(1L))
    assert(perRow.find(_._1 == 2L).map(_._2) === merged.get(2L))
    // the band index holds both rows' bands under id 1
    assert(Dedup.minhashBandIndex(docs, "doc_id", "text")
      .filter(col("doc_id") === 1L).count() === 64L)
    // the pair is found through row (1, a); verification pairs each id-1
    // row's text with id 2's, so at threshold 0 the pair is reported once
    // per pairing: the identical texts with their exact 1.0, and b with a
    // (no shared shingle) with 0.0
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.sorted.toSeq === Seq((1L, 2L, 0.0), (1L, 2L, 1.0)))
  }
}
