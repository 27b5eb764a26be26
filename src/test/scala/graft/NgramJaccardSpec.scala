package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.functions.NgramJaccard
import graft.llm.Dedup

/** The native n-gram Jaccard against the relational verification it
  * replaced: explode each document's distinct shingle keys, join the two
  * documents' keys for the intersection count, join both set sizes, then
  * `inter / (n_a + n_b - inter)`. Pair outputs must agree bit for bit. */
class NgramJaccardSpec extends SparkSpec {

  /** The shingle-join verification the MinHash and SimHash paths ran
    * before the native expression (shingles, candidates (a_id, b_id)). */
  private def referenceVerify(sh: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val hashed =
      if (sh.schema("shingle").dataType == org.apache.spark.sql.types.StringType)
        sh.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      else sh.select(col("doc_id"), col("shingle"))
    val sizes = hashed.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = hashed.select(col("doc_id").as("a_id"), col("shingle"))
    val b = hashed.select(col("doc_id").as("b_id2"),
      col("shingle").as("shingle_b"))
    candidates
      .join(a, "a_id")
      .join(b, col("b_id") === col("b_id2") && col("shingle") === col("shingle_b"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), "b_id")
      .withColumn("jaccard",
        col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Candidate pairs of [[Dedup.minhashNearDuplicates]] (banding plus the
    * signature-estimate pre-filter). */
  private def minhashCandidates(docs: DataFrame): DataFrame = {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 128)
    val sa = sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b"))
    Dedup.lshCandidates(sigs, 32, 4).join(sa, "a_id").join(sb, "b_id")
      .withColumn("est", expr("aggregate(zip_with(sig_a, sig_b, " +
        "(x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v) / cast(128 as double)"))
      .filter(col("est") >= 0.6 - 0.2)
      .select("a_id", "b_id")
  }

  /** Candidate pairs of [[Dedup.incrementalMinhashNearDuplicates]]. */
  private def incrementalCandidates(newDocs: DataFrame,
      index: DataFrame): DataFrame = {
    val banded = Dedup.minhashBandIndex(newDocs, "doc_id", "text")
    val n = banded.select(col("doc_id").as("n_id"), col("band"), col("bh"))
    val o = index.select(col("doc_id").as("o_id"), col("band"), col("bh"))
    val m = banded.select(col("doc_id").as("m_id"), col("band"), col("bh"))
    o.join(n, Seq("band", "bh")).filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
      .union(n.join(m, Seq("band", "bh")).filter(col("n_id") < col("m_id"))
        .select(col("n_id").as("a_id"), col("m_id").as("b_id")))
      .distinct()
  }

  /** Candidate pairs of [[Dedup.simhashNearDuplicates]] at hamming 12. */
  private def simhashCandidates(sh: DataFrame): DataFrame = {
    val sigs = Dedup.simHashSignatures(sh)
    val chunked = sigs.select(col("doc_id"), col("simhash"), posexplode(expr(
      "transform(sequence(0, 15), c -> shiftright(simhash, c*4) & 15)"))
      .as(Seq("chunk", "cv")))
    val a = chunked.select(col("doc_id").as("a_id"), col("simhash").as("sig_a"),
      col("chunk"), col("cv"))
    val b = chunked.select(col("doc_id").as("b_id"), col("simhash").as("sig_b"),
      col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv")).filter(col("a_id") < col("b_id"))
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 12)
      .select("a_id", "b_id").distinct()
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  test("minhash, incremental and simhash pairs match the shingle-join verification") {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val mh = rows(Dedup.minhashNearDuplicates(docs, "doc_id", "text", 0.6))
    assert(mh.nonEmpty)
    assert(mh === rows(referenceVerify(Dedup.shingles(docs, "doc_id", "text", 3),
      minhashCandidates(docs), 0.6)))

    val old = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val index = Dedup.minhashBandIndex(old, "doc_id", "text")
    val inc = rows(Dedup.incrementalMinhashNearDuplicates(batch, docs, index,
      "doc_id", "text", 0.6))
    assert(inc.nonEmpty)
    assert(inc === rows(referenceVerify(Dedup.shingles(docs, "doc_id", "text", 3),
      incrementalCandidates(batch, index), 0.6)))

    val shStr = Dedup.shinglesStr(docs, "doc_id", "text", 3)
    val sim = rows(Dedup.simhashNearDuplicates(docs, "doc_id", "text", 12, 0.6))
    assert(sim.nonEmpty)
    assert(sim === rows(referenceVerify(shStr, simhashCandidates(shStr), 0.6)))
  }

  /** Edge-case texts (null, empty, short, exactly-n, odd spacing,
    * non-ASCII words, repeated shingles) then random word runs over a
    * small vocabulary, so random pairs share shingles. */
  private def texts(ngram: Int): IndexedSeq[String] = {
    val rnd = new scala.util.Random(5)
    val vocab = Seq("a", "b", "naïve", "日本語", "")
    val exact = (1 to ngram).map(i => s"w$i").mkString(" ")
    val fixed = IndexedSeq(
      null, "", " ", "  ",
      Seq.fill(ngram - 1)("w").mkString(" "),
      exact,
      " lead " + exact,
      exact + " ",
      (1 to ngram + 2).map(i => s"w$i").mkString("  "),
      "café naïve 日本語 text 😀 ünïcödé words",
      Seq.fill(12)("the dog").mkString(" "),
      Seq.fill(9)("a").mkString(" "))
    fixed ++ IndexedSeq.fill(60) {
      Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
  }

  /** (pid, l, r) text-index pairs: every fixed text against every text,
    * identical and disjoint pairs, then random pairs. */
  private def pairs(n: Int): Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(17)
    val all = for (l <- 0 until 12; r <- 0 until n) yield (l, r)
    all ++ (0 until n).map(i => (i, i)) ++
      Seq.fill(300)((rnd.nextInt(n), rnd.nextInt(n)))
  }

  /** Relational Jaccard per pair id: null when either side has no
    * shingle, 0.0 when they share none. */
  private def referencePairs(ts: IndexedSeq[String], ps: Seq[(Int, Int)],
      ngram: Int): Map[Long, Option[Double]] = {
    import spark.implicits._
    val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val p = ps.zipWithIndex.map { case ((l, r), i) => (i.toLong, l.toLong, r.toLong) }
      .toDF("pid", "l", "r")
    val sh = Dedup.shingles(docs, "doc_id", "text", ngram)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = p.join(sh.select(col("doc_id").as("l"), col("shingle")), "l")
      .join(sh.select(col("doc_id").as("r"), col("shingle")), Seq("r", "shingle"))
      .groupBy("pid").agg(count(lit(1)).as("inter"))
    p.join(sizes.select(col("doc_id").as("l"), col("n_sh").as("n_a")), Seq("l"), "left")
      .join(sizes.select(col("doc_id").as("r"), col("n_sh").as("n_b")), Seq("r"), "left")
      .join(inter, Seq("pid"), "left")
      .withColumn("i", coalesce(col("inter"), lit(0L)))
      .select(col("pid"), (col("i") / (col("n_a") + col("n_b") - col("i"))).as("j"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
  }

  private def compiled(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists {
      case w: WholeStageCodegenExec => w.child.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[NgramJaccard])))
      case _ => false
    }

  private def collectNoFallback(df: DataFrame): Map[Long, Option[Double]] = {
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.collect().map(r => r.getLong(0) ->
      Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    finally spark.conf.set("spark.sql.codegen.fallback", fallback)
  }

  test("native Jaccard matches the relational formulation on edge cases (both eval paths)") {
    import spark.implicits._
    for (ngram <- Seq(3, 2)) {
      val ts = texts(ngram)
      val ps = pairs(ts.size)
      val expected = referencePairs(ts, ps, ngram)
      assert(expected.size === ps.size)
      val base = ps.zipWithIndex.map { case ((l, r), i) => (i.toLong, ts(l), ts(r)) }
        .toDF("pid", "ta", "tb")
      // the local input is folded by ConvertToLocalRelation (nullSafeEval);
      // behind an exchange the expression runs compiled (doGenCode)
      for ((input, codegen) <- Seq(base -> false, base.repartition(2) -> true)) {
        val df = input.select(col("pid"),
          NgramJaccard.ngramJaccard(col("ta"), col("tb"), ngram).as("j"))
        assert(compiled(df) === codegen,
          s"codegen=$codegen:\n${df.queryExecution.executedPlan}")
        val got = collectNoFallback(df)
        assert(got.keySet === expected.keySet)
        for ((pid, j) <- expected) {
          val (l, r) = ps(pid.toInt)
          // bit-identical doubles, nulls in the same places
          assert(got(pid).map(java.lang.Double.doubleToRawLongBits) ===
            j.map(java.lang.Double.doubleToRawLongBits),
            s"ngram=$ngram codegen=$codegen pair '${ts(l)}' / '${ts(r)}'")
        }
        // null, empty and short texts have no Jaccard; exactly-n has one
        for (short <- Seq(0, 1, 4)) assert(got(ps.indexOf((short, 5)).toLong).isEmpty)
        assert(got(ps.indexOf((5, 5)).toLong) === Some(1.0))
        // identical texts give 1.0, disjoint ones 0.0
        assert((0 until ts.size).map(i => (i, i)).filter(p => got(ps.indexOf(p).toLong)
          .isDefined).forall(p => got(ps.indexOf(p).toLong) === Some(1.0)))
        assert(got(ps.indexOf((5, 9)).toLong) === Some(0.0))
        assert(got.values.count(_.exists(j => j > 0.0 && j < 1.0)) > 20)
      }
    }
  }

  test("ngram_jaccard: odd spacing changes words, repeated shingles count once") {
    import spark.implicits._
    val j = Seq(
      (1, "a b c", "a b c"),
      (2, "a b c", "a  b c"),     // doubled space: an empty word
      (3, "a b c d", " a b c d"), // leading space: shingle ("", a, b)
      (4, "x y x y x y", "x y x"), // repeats: {xyx, yxy} vs {xyx}
      (5, "a b c", "d e f"),
      (6, "a b", "a b c"))
      .toDF("k", "l", "r").repartition(2)
      .select(col("k"), NgramJaccard.ngramJaccard(col("l"), col("r"), 3).as("j"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(j(1) === Some(1.0))
    assert(j(2) === Some(0.0))
    assert(j(3) === Some(2.0 / 3.0))
    assert(j(4) === Some(0.5))
    assert(j(5) === Some(0.0))
    assert(j(6) === None)
  }
}
