package graft

import org.apache.spark.sql.functions._
import graft.llm.{Clustering, Curation, Dedup, Graphs, Multimodal, Perceptron, Similarity, TextAnalysis}

class LlmOpsSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfDir, "documents")
  private def embs = Tables.load(spark, sfDir, "embeddings")

  test("minhash LSH finds exactly the exact-jaccard pairs") {
    val exact = Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3), 0.6)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    val lsh = Dedup.minhashNearDuplicates(docs, "doc_id", "text", 0.6)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    assert(lsh === exact)
  }

  test("minhash positions are independent J-estimators, not a shared argmin") {
    // Regression for the monotonic-"permutation" bug: min(a*h+b) with a>0
    // is monotonic in h, so every signature position encodes the one
    // shingle with the smallest base hash and pairwise signature agreement
    // degenerates to exactly 0 or exactly 1. With a genuine universal-hash
    // permutation ((a*h+b) mod P), agreement concentrates around J.
    import spark.implicits._
    val two = Seq(
      (1L, (0 until 30).map(i => s"w$i").mkString(" ")),
      // shares shingles from the first 20 words => J well inside (0, 1)
      (2L, ((0 until 20).map(i => s"w$i") ++
        (0 until 10).map(i => s"x$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(two, "doc_id", "text", 3)
    val jac = Dedup.jaccardPairs(sh, 0.0).select("jaccard")
      .as[Double].head()
    val sigs = Dedup.minHashSignatures(two, "doc_id", "text", 3, 128).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val est = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b } / 128.0
    assert(jac > 0.2 && jac < 0.8, s"fixture jaccard $jac out of range")
    // 128 positions, sigma = sqrt(J(1-J)/128) ~ 0.044: a 5-sigma band
    // around J excludes the degenerate {0, 1} outcomes with certainty
    assert(math.abs(est - jac) < 0.25, s"est $est should track J=$jac")
    assert(est > 0.01 && est < 0.99, s"est $est is degenerate-binary")
  }

  test("simhash banding finds the exact-jaccard pairs") {
    val exact = Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3), 0.6)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    val sim = Dedup.simhashNearDuplicates(docs, "doc_id", "text", 12, 0.6)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    assert(sim === exact)
  }

  test("exact-collapse minhash is invariant under duplicated corpora") {
    // duplicate every document under new ids: the unique-collapse variant
    // must produce the SAME representative pairs as on the original corpus
    // (exact copies would otherwise explode the LSH candidate set)
    val doubled = docs.select(col("doc_id"), col("text"))
      .union(docs.select(col("doc_id") + 1000000, col("text")))
    val basePairs = Dedup.minhashNearDuplicatesUnique(
        docs, "doc_id", "text", 0.6)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    val doubledPairs = Dedup.minhashNearDuplicatesUnique(
        doubled, "doc_id", "text", 0.6)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    assert(basePairs.nonEmpty)
    assert(doubledPairs === basePairs)
  }

  test("doc-frequency pruning computes exact jaccard of the pruned universe") {
    import spark.implicits._
    // doc 1 = {x, y, c}, doc 2 = {x, y, d}; shingle "c"/"d" unique, "x","y"
    // shared. With maxShingleDocFreq=1 only {c} and {d} survive ->
    // jaccard over the pruned universe is 0. With sizes computed from the
    // UNPRUNED sets (the old bug) the pair would show inter=0 but the
    // threshold filter on 0/(3+3-0)=0 happens to agree; use a case where
    // it differs: docs sharing one rare + one frequent shingle.
    val sh = Seq(
      (1L, "rare1"), (1L, "hot"), (2L, "rare1"), (2L, "hot"),
      (3L, "hot"), (4L, "hot"), (5L, "hot")).toDF("doc_id", "shingle")
    // "hot" appears in 5 docs; prune at <=2. Pruned: doc1={rare1}, doc2={rare1}
    // -> jaccard = 1.0. Old bug: sizes from unpruned (2,2) -> 1/(2+2-1)=0.33.
    val pairs = Dedup.jaccardPairs(sh, 0.9, maxShingleDocFreq = Some(2L))
      .collect()
    assert(pairs.length === 1)
    assert(pairs.head.getDouble(2) === 1.0)
  }

  test("blocked embedding dedup equals brute force with no cartesian in the plan") {
    val brute = Dedup.embeddingNearDuplicates(embs, "vec_id", "embedding", 0.45)
      .collect().map(_.toString).sorted.toSeq
    val blocked = Dedup.embeddingNearDuplicatesBlocked(
      embs, "vec_id", "embedding", 0.45)
    assert(blocked.collect().map(_.toString).sorted.toSeq === brute)
    // the executed plan must contain no corpus x corpus product node:
    // candidates come from an equality join on the partner block
    val physical = blocked.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical)
    assert(!physical.contains("BroadcastNestedLoopJoin"), physical)
  }

  test("embedding LSH achieves recall 1 on a gapped (planted near-dup) corpus") {
    import spark.implicits._
    // 60 random unit-ish vectors + 20 planted near-duplicates (cos > 0.95
    // to their source) — the regime embeddingNearDuplicatesLsh is for.
    val rnd = new scala.util.Random(11)
    val dim = 32
    val base = (0L until 60L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    val planted = (0 until 20).map { j =>
      val (srcId, v) = base(j * 3)
      val noisy = v.map(x => x + rnd.nextGaussian() * 0.02)
      (100L + j, noisy)
    }
    val df = (base ++ planted).map { case (i, v) =>
      (i, v.map(_.toFloat).toSeq) }.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDuplicates(df, "vec_id", "embedding", 0.9)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    val lsh = Dedup.embeddingNearDuplicatesLsh(df, "vec_id", "embedding", 0.9)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    assert(exact.size >= 20)
    assert(lsh === exact)
  }

  test("autoRowsPerBand: collision-bounded, monotone in corpus size, clamped") {
    // r = ceil(log2(bands*n/target)) keeps expected random collisions
    // per row at ~target; doubling the corpus costs exactly one more row
    val r1 = Dedup.autoRowsPerBand(100000L, 64)
    assert(Dedup.autoRowsPerBand(200000L, 64) >= r1)
    // the derived r really bounds expected collisions: bands*n/2^r <= target
    assert(64.0 * 100000L / math.pow(2, r1) <= 4.0 + 1e-9)
    // clamps: tiny corpora never go below 8 (buckets stay useful),
    // astronomically large ones never exceed 24 (recall envelope)
    assert(Dedup.autoRowsPerBand(1L, 64) === 8)
    assert(Dedup.autoRowsPerBand(Long.MaxValue / 2, 64) === 24)
  }

  test("incremental dedup equals the full run restricted to the batch, " +
      "and the index composes by append") {
    import org.apache.spark.sql.functions._
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val index = Dedup.minhashBandIndex(existing, "doc_id", "text")
    val inc = Dedup.incrementalMinhashNearDuplicates(batch, docs, index,
        "doc_id", "text", 0.6)
      .collect().map(_.toString).sorted.toSeq
    val full = Dedup.minhashNearDuplicates(docs, "doc_id", "text", 0.6)
      .filter(col("a_id") % 2 === 1 || col("b_id") % 2 === 1)
      .collect().map(_.toString).sorted.toSeq
    assert(inc.nonEmpty, "fixture has no cross-parity near-dups")
    assert(inc === full)
    // append-compose: index(existing) ∪ bands(batch) == index(all) — the
    // property that lets a pipeline maintain the index incrementally
    val appended = index.unionAll(
      Dedup.minhashBandIndex(batch, "doc_id", "text"))
      .collect().map(_.toString).sorted.toSeq
    val rebuilt = Dedup.minhashBandIndex(docs, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(appended === rebuilt)
  }

  test("simhash chunk count auto-couples to maxHamming") {
    assert(Dedup.simhashChunksFor(0) === 1)
    assert(Dedup.simhashChunksFor(3) === 4)
    assert(Dedup.simhashChunksFor(7) === 8)
    assert(Dedup.simhashChunksFor(12) === 16)
    assert(Dedup.simhashChunksFor(40) === 64)
  }

  test("connected components collapse transitive near-dup chains") {
    import spark.implicits._
    // chain 1~2~3 plus isolated 4: pairs (1,2),(2,3) must produce ONE
    // cluster {1,2,3} even though (1,3) is not an edge
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(vertices, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("connected components run ONE Spark job per round (observe-fused " +
      "convergence) and pointer doubling collapses a chain of 100 in " +
      "O(log n) rounds") {
    import spark.implicits._
    val n = 100
    val vertices = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("a_id", "b_id")
    // count ACTIONS (query executions), not Spark jobs: AQE legitimately
    // splits one action into several jobs, but a separate per-round
    // convergence count() would show up as an extra execution
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet(): Unit
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (labels, rounds) = Dedup.connectedComponentsWithStats(
        vertices, edges, maxRounds = 30, shortcut = true)
      val cc = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(cc.forall(_._2 == 0L), "chain must collapse to component 0")
      assert(cc.length === n)
      // min-label alone needs diameter (99) rounds; path halving needs
      // ~log2(99). Allow slack for the final no-change round.
      assert(rounds <= 12, s"pointer doubling did not engage: $rounds rounds")
      // listener delivery is async; give the bus a moment to drain
      Thread.sleep(1500)
      // one materializing action per round + the edge checkpoint + the
      // initial label checkpoint + the final collect (convergence must
      // NOT cost a count() action)
      assert(actions.get() <= rounds + 3,
        s"${actions.get()} actions for $rounds rounds — convergence not fused")
    } finally spark.listenerManager.unregister(listener)
  }

  test("adaptive shortcut engages on chains but stays out of the way " +
      "on cliques") {
    import spark.implicits._
    // chain of 100: plain min-label needs diameter (99) rounds; the
    // changed-count stays flat round over round, so autoShortcut flips
    // doubling on after the first non-halving round and the rest run in
    // O(log n)
    val n = 100
    val chainV = (0L until n.toLong).toDF("id")
    val chainE = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("a_id", "b_id")
    val (chainLabels, chainRounds) = Dedup.connectedComponentsWithStats(
      chainV, chainE, maxRounds = 50)
    assert(chainLabels.collect().forall(_.getLong(1) == 0L))
    assert(chainRounds <= 15,
      s"adaptive doubling did not engage on a chain: $chainRounds rounds")

    // clique of 8: converges in 2 rounds either way — the changed count
    // collapses immediately, so adaptive must not add doubling overhead
    // (identical round count to plain propagation)
    val k = 8
    val cliqueV = (0L until k.toLong).toDF("id")
    val cliqueE = (for {
      i <- 0L until k.toLong; j <- (i + 1) until k.toLong
    } yield (i, j)).toDF("a_id", "b_id")
    val (_, adaptiveRounds) = Dedup.connectedComponentsWithStats(
      cliqueV, cliqueE, maxRounds = 50)
    val (_, plainRounds) = Dedup.connectedComponentsWithStats(
      cliqueV, cliqueE, maxRounds = 50, autoShortcut = false)
    assert(adaptiveRounds === plainRounds,
      s"adaptive ($adaptiveRounds) vs plain ($plainRounds) on a clique")
  }

  test("duplicate clusters keep exactly one representative per component") {
    val clusters = Dedup.duplicateClusters(docs, "doc_id", "text", 0.6)
    assert(clusters.count() === docs.count())
    // exactly one kept doc per cluster, and it is the cluster minimum
    val perCluster = clusters.groupBy("cluster_id")
      .agg(sum(when(col("is_kept"), 1).otherwise(0)).as("kept"),
        min(col("doc_id")).as("min_id"), max(col("cluster_id")).as("cid"))
    assert(perCluster.filter(col("kept") =!= 1).count() === 0)
    assert(perCluster.filter(col("min_id") =!= col("cid")).count() === 0)
  }

  test("train/eval split is deterministic and near the requested fraction") {
    val s1 = TextAnalysis.trainEvalSplit(docs, "doc_id", 0.125)
    val s2 = TextAnalysis.trainEvalSplit(docs, "doc_id", 0.125)
    assert(s1.select("doc_id", "split").collect().map(_.toString).sorted.toSeq
      === s2.select("doc_id", "split").collect().map(_.toString).sorted.toSeq)
    val evalN = s1.filter(col("split") === "eval").count().toDouble
    val frac = evalN / docs.count()
    assert(frac > 0.05 && frac < 0.25, s"eval fraction $frac")
  }

  test("contamination ratio is 1 for a doc copied from the corpus") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
    val eval_ = Seq((10L, "a b c d e"), (11L, "x y z w q")).toDF("doc_id", "text")
    val out = TextAnalysis.contamination(corpus, eval_, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) === 1.0)
    assert(out(11L) === 0.0)
  }

  test("stop-shingle guard bounds inverted-index candidates and stays " +
      "exact on the pruned universe") {
    import spark.implicits._
    // 60 docs sharing one boilerplate trigram + all-unique tails: without
    // the guard the shared shingle ALONE contributes C(60,2) = 1770 join
    // pairs — the quadratic single-key blowup that kills the join at scale
    val n = 60
    val corpus = (0 until n).map { i =>
      (i.toLong, s"common boiler plate u${i}a u${i}b u${i}c u${i}d")
    }.toDF("doc_id", "text")
    val sh = Dedup.shingles(corpus, "doc_id", "text", 3)
    val cap = Dedup.autoShingleDocFreqCap(n)
    def candidatePairs(s: org.apache.spark.sql.DataFrame) = {
      val a = s.select(col("doc_id").as("a_id"), col("shingle"))
      val b = s.select(col("doc_id").as("b_id"), col("shingle"))
      a.join(b, "shingle").filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct().count()
    }
    val unguarded = candidatePairs(sh)
    val keep = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("shingle")
    val guarded = candidatePairs(sh.join(keep, "shingle"))
    assert(unguarded >= n.toLong * (n - 1) / 2, s"unguarded=$unguarded")
    assert(guarded === 0, s"guarded=$guarded")
    // operator semantics: exact Jaccard over the pruned universe — the
    // boilerplate-only overlaps vanish entirely...
    assert(Dedup.jaccardPairs(sh, 0.3, Some(cap)).count() === 0)
    // ...while genuine near-dups (doc-specific shingles) still surface
    val nd = corpus.union(Seq(
      (1000L, "x1 x2 x3 x4 x5 x6"),
      (1001L, "x1 x2 x3 x4 x5 zz")).toDF("doc_id", "text"))
    val out = Dedup.jaccardPairs(Dedup.shingles(nd, "doc_id", "text", 3),
        0.3, Some(Dedup.autoShingleDocFreqCap(n + 2L))).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1000L, 1001L)))
  }

  test("exact dedup groups cover all documents") {
    val g = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
    assert(g.agg(sum(col("n_copies"))).head().getLong(0) === docs.count())
  }

  test("LSH ANN achieves >=60% recall of exact top-5") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineTopKLsh(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall $recall too low")
  }

  test("IVF ANN achieves >=60% recall of exact top-5") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.cosineTopKIvf(embs, queries, "vec_id", "embedding", 5,
      nlist = 8, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall too low")
  }

  test("planted gapped corpus: LSH and IVF output EQUALS the exact top-5 " +
      "(the s02/s03 hard-oracle contract)") {
    // the planted near-dups sit at cos >= ~0.95 over a <= ~0.5 isotropic
    // background, so recall-1 parameterizations exist: any difference from
    // the exact path here is a bug, not an approximation artifact
    val planted = Similarity.plantedGappedCorpus(embs, "vec_id", "embedding")
    val queries = planted.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val exact = rows(Similarity.cosineTopK(planted, queries, "vec_id",
      "embedding", 5))
    assert(exact.size === 50)
    // every exact neighbor is a planted near-dup (cos >= 0.9): the gap holds
    exact.foreach { r =>
      assert(r(2).asInstanceOf[Long] >= 100000L, s"non-planted neighbor: $r")
      assert(r(3).asInstanceOf[Double] >= 0.9, s"weak neighbor: $r")
    }
    val lsh = rows(Similarity.cosineTopKLsh(planted, queries, "vec_id",
      "embedding", 5, numBands = 32, rowsPerBand = 8, dim = Some(64)))
    assert(lsh === exact)
    val ivf = rows(Similarity.cosineTopKIvf(planted, queries, "vec_id",
      "embedding", 5, nlist = 16, nProbe = 4))
    assert(ivf === exact)
  }

  test("top-k plan is two-phase bounded aggregation, not a per-query window sort") {
    // the 100 TB guard: ranking must partial-aggregate k-row sketches
    // map-side and merge them, never funnel a query's full candidate set
    // through one reducer's sort (row_number over a per-query window did)
    val topk = Similarity.cosineTopK(embs, embs.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5)
    val physical = topk.queryExecution.executedPlan.toString
    assert(!physical.contains("Window"), physical)
    assert(physical.contains("ObjectHashAggregate"), physical)
    assert(physical.contains("partial_topkbyscore")
      || physical.toLowerCase.contains("partial"), physical)
  }

  test("ANN ranks are dense 1..k per query") {
    val topk = Similarity.cosineTopK(embs, embs.filter(col("vec_id") < 3),
      "vec_id", "embedding", 5)
    val byQuery = topk.collect().groupBy(_.getLong(0))
    assert(byQuery.values.forall(_.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
  }

  test("approximate corpus profile tracks exact counts within sketch bounds") {
    val prof = TextAnalysis.corpusProfile(docs, "doc_id", "text", rsd = 0.02)
      .collect().head
    val exactDocs = docs.count()
    val exactDistinct = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .select("t").distinct().count()
    val exactP50 = docs.selectExpr("percentile(size(split(text, ' ')), 0.5)")
      .collect().head.getDouble(0)
    assert(prof.getAs[Long]("n_docs") === exactDocs)
    val approx = prof.getAs[Long]("approx_distinct_tokens").toDouble
    // HLL++ rsd 2%: allow 5 sigma
    assert(math.abs(approx - exactDistinct) <= 0.1 * exactDistinct,
      s"approx $approx vs exact $exactDistinct")
    // percentile_approx with accuracy 10000 on 500 docs is near-exact
    assert(math.abs(prof.getAs[Int]("p50_tokens") - exactP50) <= 2.0)
    assert(prof.getAs[Int]("p95_tokens") >= prof.getAs[Int]("p50_tokens"))
    assert(prof.getAs[Int]("p99_tokens") >= prof.getAs[Int]("p95_tokens"))
  }

  test("language id is deterministic and covers all docs") {
    val out = TextAnalysis.languageId(docs, "doc_id", "text")
    assert(out.count() === docs.count())
    assert(out.filter(col("pred_lang").isNull).count() === 0)
  }

  test("repetition signals match hand-computed values") {
    import spark.implicits._
    // "a b a b a": words 5, distinct 2 -> dup 3/5; bigrams
    // [a b, b a, a b, b a] 4, distinct 2 -> dup 2/4; top word a: 3/5
    val d = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(d, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "dup_word_frac", "dup_bigram_frac", "top_word_share")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 0.6, 0.5, 0.6),
      (2L, 0.0, 0.0, 0.3333),   // no repeats at all
      (3L, 0.0, 0.0, 1.0)))     // single word: zero bigrams, full share
  }

  test("fingerprint is stable across runs") {
    val a = TextAnalysis.fingerprint(docs, "doc_id", "text").collect().toSeq
    val b = TextAnalysis.fingerprint(docs, "doc_id", "text").collect().toSeq
    assert(a.map(_.toString).sorted === b.map(_.toString).sorted)
  }

  test("PPM decode reads genuine dimensions and channel means from bytes") {
    val meta = Multimodal.extractPpmMeta(spark,
      Multimodal.asPpm(docs, "doc_id", "text"))
    val row = meta.filter(_.doc_id == 0L).head()
    // doc 0: width = 4 + 0 % 13, height = 3 + 0 % 7 — decoded, not assumed
    assert(row.width === 4 && row.height === 3 && row.maxval === 255)
    assert(row.n_bytes === "P6\n4 3\n255\n".length + 4 * 3 * 3)
    assert(row.sha256.length === 64)
    // ASCII raster: every channel mean is a printable-byte average
    assert(row.mean_r >= 32.0 && row.mean_r < 127.0)
    // the decoder is a REAL parser: corrupt magic must be rejected
    val bad = "P5\n4 3\n255\n".getBytes ++ Array.fill(36)(65.toByte)
    assertThrows[IllegalArgumentException](
      Multimodal.PpmCodec.parseHeader(bad))
    // header comments (netpbm spec) are honored
    val commented = "P6\n# a comment\n2 2\n255\n".getBytes ++
      Array.fill(12)(66.toByte)
    val hd = Multimodal.PpmCodec.parseHeader(commented)
    assert(hd.width === 2 && hd.height === 2)
  }

  test("curation pipeline composes lang + quality + dedup into one verdict") {
    import graft.llm.Curation
    val v = Curation.curate(docs, "doc_id", "text")
    assert(v.count() === docs.count())
    val kept = v.filter(col("kept")).count()
    assert(kept > 0 && kept < v.count(), s"kept=$kept of ${v.count()}")
    // duplicate copies are never kept
    assert(v.filter(col("is_dup_copy") && col("kept")).count() === 0)
  }

  test("sequence packing: cut points are chunk-size invariant and " +
      "sequences respect the token budget") {
    import graft.llm.Curation
    val budget = 256
    val packed = Curation.packSequences(docs, "doc_id", "text",
      budget, chunkSize = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // chunking is an implementation detail: a different chunk size (and
    // the degenerate single-chunk case) must produce identical packing
    val other = Curation.packSequences(docs, "doc_id", "text",
      budget, chunkSize = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(packed.toSeq === other.toSeq)
    // offsets stay inside the budget and the stream is gapless: each
    // document starts exactly where the previous one ended
    assert(packed.forall(p => p._4 >= 0 && p._4 < budget))
    packed.sliding(2).foreach {
      case Array((_, n1, s1, o1), (_, _, s2, o2)) =>
        val endAbs = s1 * budget + o1 + n1
        assert(s2 * budget + o2 === endAbs,
          s"gap between consecutive docs: $endAbs vs ${s2 * budget + o2}")
      case _ =>
    }
    assert(packed.map(_._3).distinct.length > 1, "budget never crossed")
  }

  test("corpus shuffle ranks are dense, seed-reproducible, and " +
      "bucket-count invariant") {
    import graft.llm.Curation
    val r1 = Curation.shuffleRanks(docs, "doc_id", seed = 3L, nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val r2 = Curation.shuffleRanks(docs, "doc_id", seed = 3L, nBuckets = 512)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(r1.toSeq === r2.toSeq, "bucketing leaked into the ranks")
    // dense permutation of [0, n)
    assert(r1.map(_._2).sorted.toSeq === (0L until r1.length.toLong))
    // a different seed produces a genuinely different order
    val r3 = Curation.shuffleRanks(docs, "doc_id", seed = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.count { case (id, rk) => r3(id) != rk } > r1.length / 2)
    // and the shuffle actually scatters: the identity order survives
    // nowhere near the front
    val byRank = r1.sortBy(_._2).map(_._1)
    assert(byRank.take(20).toSeq !== byRank.take(20).sorted.toSeq)
  }

  test("data mixing keeps exact per-stratum targets, deterministically") {
    import graft.llm.Curation
    val targets = Map("en" -> 30L, "es" -> 10L, "zh" -> 100000L)
    val m1 = Curation.mixCorpus(docs, "doc_id", "lang", targets, seed = 5L,
      nBuckets = 8).collect().map(r => r.getLong(0) -> r.getString(1))
    val m2 = Curation.mixCorpus(docs, "doc_id", "lang", targets, seed = 5L,
      nBuckets = 256).collect().map(r => r.getLong(0) -> r.getString(1))
    assert(m1.sortBy(_._1).toSeq === m2.sortBy(_._1).toSeq,
      "bucketing leaked into the pick")
    val byLang = m1.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang("en") === 30)
    assert(byLang("es") === 10)
    // oversized target keeps the whole stratum; absent strata are dropped
    assert(byLang("zh") === docs.filter(col("lang") === "zh").count())
    assert(!byLang.contains("fr") && !byLang.contains("de"))
    // a different seed picks a different en-subset
    val m3 = Curation.mixCorpus(docs, "doc_id", "lang", targets, seed = 6L)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(m1.filter(_._2 == "en").map(_._1).toSet
      !== m3.filter(_._2 == "en").map(_._1).toSet)
  }

  test("bloom-pruned decontamination equals the exact path and actually " +
      "prunes") {
    import graft.llm.TextAnalysis
    import org.apache.spark.sql.functions.xxhash64
    val corpus = docs.filter(col("doc_id") < 450)
    val eval_ = docs.filter(col("doc_id") >= 450)
    val exact = TextAnalysis.contamination(corpus, eval_, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    val bloomDf = TextAnalysis.contaminationBloom(corpus, eval_, "doc_id",
      "text")
    val bloom = bloomDf.collect().map(_.toString).sorted.toSeq
    assert(bloom === exact)
    // the corpus-side probe is a native codegen'd expression: no
    // ScalaUDF/eval-interpreter boundary anywhere in the physical plan,
    // and the probing Filter sits inside a WholeStageCodegen span
    // (rendered with a "*(n)" prefix)
    val planStr = bloomDf.queryExecution.executedPlan.toString
    assert(!planStr.contains("UDF"), planStr)
    assert("""\*\(\d+\) Filter .*bloom_might_contain""".r
      .findFirstIn(planStr).isDefined, planStr)
    // the pre-filter must shrink the corpus side: survivors are bounded
    // by ~|eval shingles| x (1 + fpp), far below |corpus shingles|
    val corpusSh = Dedup.shingles(corpus, "doc_id", "text", 3)
      .select(xxhash64(col("shingle")).as("h")).distinct()
    val evalN = Dedup.shingles(eval_, "doc_id", "text", 3)
      .select(xxhash64(col("shingle")).as("h")).distinct().count()
    val total = corpusSh.count()
    assert(evalN * 3 < total,
      s"fixture degenerate: eval $evalN vs corpus $total shingles")
  }

  test("chunking covers every token, reaches the end, and normalization " +
      "is idempotent") {
    import graft.llm.TextAnalysis
    val window = 16
    val stride = 10
    val chunks = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
      window, stride).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val tokens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val n = tokens(id)
      val sorted = cs.sortBy(_._2)
      // first chunk starts at 0; consecutive starts advance by stride
      assert(sorted.head._3 === 0)
      sorted.foreach { case (_, c, start, len) =>
        assert(start === c * stride)
        assert(len === math.min(window, n - start))
        assert(len > 0)
      }
      // the last chunk's window reaches the final token, and the chunk
      // before it (if any) does not — no subsumed tails
      assert(sorted.last._3 + sorted.last._4 === n)
      if (sorted.length > 1)
        assert(sorted(sorted.length - 2)._3 + window < n ||
          sorted.length == 2 && n <= window + stride)
    }
    // normalization is a projection: applying it twice changes nothing
    val once = TextAnalysis.normalizeText(docs, "doc_id", "text")
    val twice = TextAnalysis.normalizeText(
      once.withColumnRenamed("norm_text", "text"), "doc_id", "text")
    assert(sameResults(
      once.select("doc_id", "norm_text"),
      twice.select("doc_id", "norm_text")))
  }

  test("IVF probe against a persisted index equals the in-memory path " +
      "and the index composes by appending assignments") {
    val planted = Similarity.plantedGappedCorpus(embs, "vec_id", "embedding")
    val queries = planted.filter(col("vec_id") < 5)
    val direct = Similarity.cosineTopKIvf(planted, queries, "vec_id",
      "embedding", 5).collect().map(_.toString).sorted.toSeq
    val (centroids, assignments) = Similarity.ivfIndex(planted, "vec_id",
      "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec")
    centroids.write.parquet(s"$dir/c")
    assignments.write.partitionBy("cell").parquet(s"$dir/a")
    val viaIndex = Similarity.cosineTopKIvfIndexed(queries, "vec_id",
        "embedding", spark.read.parquet(s"$dir/c"),
        spark.read.parquet(s"$dir/a"), 5)
      .collect().map(_.toString).sorted.toSeq
    assert(viaIndex === direct)
    // append-compose: assigning a new batch with the SAME centroids and
    // appending equals indexing the union corpus (no re-clustering)
    val half = planted.filter(col("vec_id") % 2 === 0)
    val other = planted.filter(col("vec_id") % 2 === 1)
    val (c2, a2) = Similarity.ivfIndex(planted, "vec_id", "embedding")
    val halfAssigned = a2.join(half.select(col("vec_id").as("neighbor_id")),
      "neighbor_id")
    val otherAssigned = a2.join(other.select(col("vec_id").as("neighbor_id")),
      "neighbor_id")
    assert(halfAssigned.count() + otherAssigned.count() === a2.count())
    val _ = c2
  }

  test("int8 quantization bounds reconstruction error") {
    val q = Similarity.quantizeInt8(embs, "vec_id", "embedding")
    // codes fit int8
    assert(q.selectExpr("max(aggregate(q, 0, (m, x) -> greatest(m, abs(x))))")
      .head().getInt(0) <= 127)
    // dequantized vectors stay nearly parallel to the originals
    val deq = Similarity.dequantize(q).select(col("vec_id"), col("v"))
    val joined = embs.select(col("vec_id"), col("embedding"))
      .join(deq, "vec_id")
      .withColumn("cs", graft.functions.CosineSimilarity.cosineSim(
        col("embedding"), col("v")))
    assert(joined.agg(org.apache.spark.sql.functions.min(col("cs")))
      .head().getDouble(0) > 0.99)
  }

  test("byte-histogram features are unit vectors and drive ANN end to end") {
    import graft.llm.Multimodal
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media).toDF()
      .withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("features", "embedding")
    // L2-normalized
    val norms = feats.selectExpr(
      "aggregate(cast(embedding as array<double>), 0D, (a, x) -> a + x * x) AS n2")
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-3))
    // binary columns plug straight into the similarity-search operator
    val queries = feats.filter(col("vec_id") < 3)
    val topk = Similarity.cosineTopK(feats, queries, "vec_id", "embedding", 5)
    assert(topk.count() === queries.count() * 5)
  }

  test("PPM resize halves dimensions and round-trips through the decoder") {
    import graft.llm.Multimodal
    val media = Multimodal.asPpm(docs, "doc_id", "text")
    val orig = Multimodal.extractPpmMeta(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    val resized = Multimodal.resizePpm(spark, media, denom = 2).toDF()
      .select(col("doc_id"), col("media_type"), col("payload"))
    val meta = Multimodal.extractPpmMeta(spark, resized).collect()
    assert(meta.length === orig.size)
    meta.foreach { m =>
      val o = orig(m.doc_id)
      assert(m.width === math.max(o.width / 2, 1), s"doc ${m.doc_id}")
      assert(m.height === math.max(o.height / 2, 1), s"doc ${m.doc_id}")
      // every resized byte is a genuine source pixel: a constant-channel
      // bound survives resampling (means stay within the original range)
      assert(m.mean_r >= 32.0 && m.mean_r < 127.0)
      assert(m.n_bytes < o.n_bytes)
    }
  }

  test("frame sampling keeps every stride-th frame with bounded size") {
    val frames = Multimodal.sampleFrames(
      Multimodal.asMedia(docs, "doc_id", "text"), 32, 2)
    val idx = frames.select("frame_idx").distinct().collect().map(_.getInt(0))
    assert(idx.forall(_ % 2 == 0))
    assert(frames.filter(length(col("frame")) > 32).count() === 0)
  }

  test("span dedup drops a copied passage from the later doc only, " +
      "keeps clean docs verbatim") {
    import spark.implicits._
    val passage = (0 until 8).map(i => s"p$i").mkString(" ") // 2 spans of 4
    val clean = (0 until 12).map(i => s"a$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$passage $clean"),
      (2L, s"${(0 until 4).map(i => s"b$i").mkString(" ")} $passage"),
      (3L, (0 until 8).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.spanDeduplicate(corpus, "doc_id", "text", span = 4)
      .orderBy("doc_id").collect()
    // doc 1 saw the passage first: fully kept
    assert(out(0).getString(1) === s"$passage $clean")
    assert(out(0).getLong(2) === 5L && out(0).getLong(3) === 5L)
    // doc 2's copy of the passage aligns on span boundaries: dropped
    assert(out(1).getString(1) === (0 until 4).map(i => s"b$i").mkString(" "))
    assert(out(1).getLong(2) === 3L && out(1).getLong(3) === 1L)
    // untouched doc survives verbatim
    assert(out(2).getString(1) === (0 until 8).map(i => s"c$i").mkString(" "))
  }

  test("bm25 ranks the term-dense doc above the sparse one and skips " +
      "term-free docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark spark join merge data table"),
      (2L, "spark row data table group filter"),
      (3L, "row data table group filter sort")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(corpus, "doc_id", "text",
        Seq("spark", "join", "merge"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(1L, 2L), "term-free doc must not score")
    assert(out(1L) > out(2L), s"dense doc must outrank sparse: $out")
  }

  test("semdedup prune keeps the first occurrence and lets a pruned doc " +
      "prune later ones (one-pass, no cascade)") {
    import spark.implicits._
    val corpus = Seq(0L, 1L, 2L, 3L).toDF("vec_id")
    // chain 0~1, 1~2 with 0 !~ 2: doc 1 is pruned by 0, and doc 2 is
    // pruned by 1 even though 1 is itself pruned — keep-first semantics
    // never re-runs closure over survivors
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("a_id", "b_id")
    val out = Similarity.semDedupPrune(corpus, pairs, "vec_id")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
    assert(out === Seq((0L, true, -1L), (1L, false, 0L),
      (2L, false, 1L), (3L, true, -1L)))
  }

  test("semdedup pruning is identical under the exact and LSH-banded " +
      "pair generators on the gapped corpus") {
    val planted = Similarity.plantedGappedCorpus(embs, "vec_id", "embedding")
    val exact = Similarity.semDedupPrune(planted,
      Dedup.embeddingNearDuplicatesBlocked(planted, "vec_id", "embedding",
        0.9), "vec_id")
    val banded = Similarity.semDedupPrune(planted,
      Dedup.embeddingNearDuplicatesLsh(planted, "vec_id", "embedding", 0.9,
        numBands = 64, rowsPerBand = 10, dim = Some(64)), "vec_id")
    assert(sameResults(exact, banded))
  }

  test("knn classify recovers planted cluster labels leave-one-out") {
    import spark.implicits._
    // 3 tight clusters around orthogonal axes: every vector's 3 nearest
    // neighbors are its own cluster's other members
    val rows = for { c <- 0 until 3; j <- 0 until 4 } yield {
      val v = Array.tabulate(8)(i =>
        if (i == c) 1.0 else if (i == c + 4) 0.01 * (j + 1) else 0.0)
      ((c * 4 + j).toLong, v, c)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(df, "vec_id", "embedding", "label", 3)
      .collect()
    assert(out.length === 12)
    assert(out.forall(r => r.getInt(1) == r.getInt(2)),
      "every leave-one-out prediction must equal the cluster label")
    assert(out.forall(r => r.getLong(3) == 3L), "all 3 votes in-cluster")
  }

  test("seeded knn classify labels unlabeled vectors from broadcast " +
      "seeds without shuffling the corpus side for scoring") {
    import spark.implicits._
    val seeds = (0 until 3).flatMap { c =>
      (0 until 3).map { j =>
        val v = Array.tabulate(6)(i =>
          if (i == c) 1.0 else if (i == c + 3) 0.01 * (j + 1) else 0.0)
        ((c * 3 + j).toLong, v, c)
      }
    }.toDF("vec_id", "embedding", "label")
    val unlabeled = (0 until 3).map { c =>
      val v = Array.tabulate(6)(i => if (i == c) 1.0 else 0.005)
      ((100 + c).toLong, v, -1)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassifySeeded(unlabeled, seeds, "vec_id",
      "embedding", "label", 3)
    val rows = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows === Map(100L -> 0, 101L -> 1, 102L -> 2))
    assert(out.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "seeds must broadcast into the corpus-side scoring join")
  }

  test("knn classify breaks vote ties toward the smaller label") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0, 0.0, 0.0), 9), // query
      (1L, Array(0.9, 0.1, 0.0), 5), // nearest, label 5
      (2L, Array(0.8, 0.2, 0.0), 2), // second, label 2
      (3L, Array(0.0, 0.0, 1.0), 7)  // far
    ).toDF("vec_id", "embedding", "label")
    val pred = Similarity.knnClassify(df, "vec_id", "embedding", "label", 2)
      .filter(col("vec_id") === 0L).head()
    assert(pred.getInt(2) === 2, s"1-1 tie must resolve to label 2: $pred")
  }

  test("dsir weights rank target-like docs above background; hashed " +
      "buckets reproduce raw-word weights when collision-free") {
    import spark.implicits._
    val raw = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "gamma delta gamma delta"),
      (3L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val target = raw.filter(col("doc_id") === 1L)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = asMap(TextAnalysis.dsirWeights(raw, target, "doc_id", "text"))
    assert(w(1L) > w(3L) && w(3L) > w(2L), s"ordering violated: $w")
    // 4 distinct words into 2^24 buckets: collision-free (deterministic
    // hash — passes once, passes always), so weights are identical
    val wb = asMap(TextAnalysis.dsirWeights(raw, target, "doc_id", "text",
      hashBuckets = Some(1 << 24)))
    assert(wb === w)
  }

  test("streaming ann serve equals the batch probe, is idempotent per " +
      "batch id, and is micro-batch-split-invariant") {
    val e = embs
    val (centroids, assignments) =
      Similarity.ivfIndex(e, "vec_id", "embedding", nlist = 4)
    val root = java.nio.file.Files.createTempDirectory("annserve").toString
    centroids.write.mode("overwrite").parquet(s"$root/centroids")
    assignments.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/assignments")
    val queries = e.filter(col("vec_id") < 6)
    queries.repartition(2).write.mode("overwrite").parquet(s"$root/queries")
    val batch = Similarity.cosineTopKIvfIndexed(queries, "vec_id",
      "embedding", centroids, assignments, 3, nProbe = 2)
    val streamed = graft.streaming.AnnServe.runAvailableNow(spark,
      s"$root/queries", queries.schema, root, s"$root/sink1", 3, 2)
    assert(sameResults(streamed, batch))
    val onePass = graft.streaming.AnnServe.runAvailableNow(spark,
      s"$root/queries", queries.schema, root, s"$root/sink2", 3, 2,
      maxFilesPerTrigger = 2)
    assert(sameResults(onePass, batch))
    graft.streaming.AnnServe.processBatch(queries, 7L, centroids,
      assignments, s"$root/sink3", 3, 2)
    val once = spark.read.parquet(s"$root/sink3").collect()
      .map(_.toString).sorted.toSeq
    graft.streaming.AnnServe.processBatch(queries, 7L, centroids,
      assignments, s"$root/sink3", 3, 2)
    val twice = spark.read.parquet(s"$root/sink3").collect()
      .map(_.toString).sorted.toSeq
    assert(once === twice && once.nonEmpty)
  }

  test("misra-gries heavy hitters survive constant eviction on a " +
      "skewed large vocabulary and recount exactly") {
    import spark.implicits._
    // 1000-word singleton tail + 3 planted hitters; capacity 10 forces
    // eviction in every partition, yet the per-partition superset
    // guarantee keeps each global hitter regardless of stream order,
    // and the exact recount discards every surviving tail candidate
    val words = (0 until 1000).map(i => s"w$i") ++
      Seq.fill(400)("hot1") ++ Seq.fill(300)("hot2") ++
      Seq.fill(200)("hot0")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text").repartition(8)
    // n = 1900, threshold n/10 = 190: exactly the three planted words
    val out = TextAnalysis.heavyHitters(df, "text", 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("hot0" -> 200L, "hot1" -> 400L, "hot2" -> 300L))
  }

  test("bigram perplexity ranks in-distribution text below scrambled " +
      "and gibberish text, with unseen bigrams staying finite") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran on the mat"),
      (3L, "the dog sat on the rug")
    ).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the cat sat on the mat"), // in-distribution
      (11L, "mat the on sat cat the"), // same words, scrambled order
      (12L, "zz qq yy xx ww vv")       // fully out-of-vocabulary
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramPerplexity(train, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) < out(11L) && out(10L) < out(12L), s"$out")
    assert(out.values.forall(p => !p.isNaN && !p.isInfinite && p > 0),
      s"smoothing must keep every score finite: $out")
  }

  test("dedup report counts each group's documents touching any pair, " +
      "zero-dup groups included") {
    import spark.implicits._
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("a_id", "b_id")
    val out = Dedup.dedupReport(d, pairs, "doc_id", "source")
      .orderBy("group_key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out === Seq(("a", 2L, 2L, 1.0), ("b", 2L, 1L, 0.5),
      ("c", 1L, 0L, 0.0)))
  }

  test("score band filter keeps the interpolated percentile band; the " +
      "approx sketch path tracks rank") {
    import spark.implicits._
    val s = (1 to 10).map(i => (i.toLong, i.toDouble))
      .toDF("doc_id", "score")
    val kept = TextAnalysis.scoreBandFilter(s, "score", 0.1, 0.9)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // p10 = 1.9, p90 = 9.1 under linear interpolation => keep 2..9
    assert(kept === (2L to 9L))
    val big = (0 until 1000).map(i => (i.toLong, i.toDouble))
      .toDF("doc_id", "score")
    val ak = TextAnalysis.scoreBandFilter(big, "score", 0.1, 0.9,
      approx = true).count()
    assert(math.abs(ak - 801L) <= 2, s"approx band kept $ak of 1000")
  }

  test("streaming quality router partitions the stream into disjoint " +
      "keep/reject sinks equal to the batch band filter, idempotently") {
    val d = docs
    val scored = TextAnalysis.qualityScore(d, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val b = scored
      .agg(expr("percentile(quality_score, array(0.25, 0.75))").as("b"))
      .select(col("b").getItem(0), col("b").getItem(1)).head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val root = java.nio.file.Files.createTempDirectory("qrouter").toString
    d.repartition(2).write.mode("overwrite").parquet(s"$root/incoming")
    val keep = graft.streaming.QualityRouter.runAvailableNow(spark,
      s"$root/incoming", d.schema, lo, hi, s"$root/keep", s"$root/reject")
    val batchKeep = scored.filter(col("quality_score").between(lo, hi))
    assert(sameResults(keep, batchKeep))
    // keep + reject partition the corpus exactly
    val reject = spark.read.parquet(s"$root/reject")
      .select("doc_id", "quality_score")
    assert(reject.count() + keep.count() === d.count())
    assert(keep.join(reject, "doc_id").count() === 0)
    // retrying a batch replaces its own partitions byte-identically
    graft.streaming.QualityRouter.processBatch(d, 3L, lo, hi,
      s"$root/keep2", s"$root/reject2")
    val once = spark.read.parquet(s"$root/keep2").collect()
      .map(_.toString).sorted.toSeq
    graft.streaming.QualityRouter.processBatch(d, 3L, lo, hi,
      s"$root/keep2", s"$root/reject2")
    val twice = spark.read.parquet(s"$root/keep2").collect()
      .map(_.toString).sorted.toSeq
    assert(once === twice && once.nonEmpty)
  }

  test("pcm frame features decode crossings, rms and peak from raw " +
      "bytes with per-frame isolation") {
    import spark.implicits._
    // frame 0 alternates +/-28 around the 128 bias (a crossing at every
    // step); frame 1 is a constant +2 — features must not bleed across
    // the frame boundary
    val f0 = Array.tabulate(256)(i => (if (i % 2 == 0) 100 else 156).toByte)
    val f1 = Array.fill(256)(130.toByte)
    val media = Seq((1L, "audio/pcm-u8", f0 ++ f1))
      .toDF("doc_id", "media_type", "payload")
    val out = Multimodal.extractPcmFeatures(spark, media).collect()
      .sortBy(_.frame_id)
    assert(out.length === 2)
    assert(out(0).zero_crossings === 255L && out(0).peak === 28)
    assert(math.abs(out(0).rms - 28.0) < 1e-9)
    assert(out(1).zero_crossings === 0L && out(1).peak === 2 &&
      out(1).rms === 2.0)
    // a trailing partial frame is not emitted
    val ragged = Seq((2L, "audio/pcm-u8", f0 ++ f1.take(100)))
      .toDF("doc_id", "media_type", "payload")
    assert(Multimodal.extractPcmFeatures(spark, ragged).count() === 1)
  }

  test("hard negatives exclude exactly the pair relation's partners " +
      "and rank the remainder like exact top-k") {
    import spark.implicits._
    val planted = Similarity.plantedGappedCorpus(embs, "vec_id", "embedding")
    val queries = planted.filter(col("vec_id") < 4)
    val pairs = Dedup.embeddingNearDuplicatesBlocked(planted, "vec_id",
      "embedding", 0.9)
    val negs = Similarity.hardNegatives(planted, queries, "vec_id",
      "embedding", pairs, 5)
    // no mined negative may appear in the pair relation with its query
    val sym = pairs.select(col("a_id").as("query_id"),
        col("b_id").as("neighbor_id"))
      .union(pairs.select(col("b_id").as("query_id"),
        col("a_id").as("neighbor_id")))
    assert(negs.join(sym, Seq("query_id", "neighbor_id")).count() === 0)
    // each query's planted near-dups sit above 0.9 => all are excluded,
    // so every mined negative's cosine is strictly below the dup band
    assert(negs.filter(col("cos_sim") >= 0.9).count() === 0)
    assert(negs.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
    // with an EMPTY pair relation the miner degenerates to exact top-k
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(sameResults(
      Similarity.hardNegatives(planted, queries, "vec_id", "embedding",
        empty, 5),
      Similarity.cosineTopK(planted, queries, "vec_id", "embedding", 5)))
  }

  test("knn graph equals per-query exact top-k and avoids cartesian plans") {
    val g = Similarity.knnGraph(embs, "vec_id", "embedding", k = 3)
    val viaTopK = Similarity.cosineTopK(embs, embs, "vec_id", "embedding", 3)
      .withColumnRenamed("query_id", "vec_id")
    assert(sameResults(g, viaTopK))
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    // ONE triangle join: both pair directions explode out of a single
    // pass (a union of sims with its flip would re-execute the join —
    // and every cosine — twice)
    assert(plan.sliding("ShuffledHashJoin".length).count(
      _ == "ShuffledHashJoin") === 1, plan)
  }

  test("span dedup derives totals before exploding: exactly two block " +
      "explodes in the plan") {
    val plan = Dedup.spanDeduplicate(docs, "doc_id", "text", span = 4)
      .queryExecution.executedPlan.toString
    // kept-join probe side + firsts aggregation; per-doc totals come
    // from size() of the unexploded arrays, never a third explode
    assert(plan.sliding("Generate".length).count(_ == "Generate") === 2,
      plan)
  }

  test("PQ-ADC probe equals exact top-5 on the planted corpus, through " +
      "persisted codebooks and codes") {
    val planted = Similarity.plantedGappedCorpus(embs, "vec_id", "embedding")
    val queries = planted.filter(col("vec_id") < 5)
    val cb = Similarity.pqTrainCodebooks(planted, "vec_id", "embedding",
      numSub = 8, codebookSize = 32, dim = Some(64))
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_spec")
    Similarity.codebooksDf(spark, cb).write.parquet(s"$dir/cb")
    Similarity.pqEncode(planted, "vec_id", "embedding", cb,
      idOut = "neighbor_id").write.parquet(s"$dir/codes")
    val cb2 = Similarity.collectCodebooks(spark.read.parquet(s"$dir/cb"))
    assert(cb2.length === 8 && cb2(0).length === 32 &&
      cb2(0)(0).length === 8)
    val pq = Similarity.cosineTopKPq(planted, queries, "vec_id",
        "embedding", cb2, spark.read.parquet(s"$dir/codes"), 5)
      .collect().map(_.toString).sorted.toSeq
    val exact = Similarity.cosineTopK(planted, queries, "vec_id",
      "embedding", 5).collect().map(_.toString).sorted.toSeq
    assert(pq === exact)
    // served as two micro-batches through the same persisted index, with
    // batch 1 retried: the retry replaces its partition, so the sink
    // still equals the probe
    import graft.streaming.PqServe
    def serve(ids: org.apache.spark.sql.Column, batchId: Long): Unit =
      PqServe.processBatch(queries.filter(ids), batchId, planted, cb2,
        spark.read.parquet(s"$dir/codes"), s"$dir/served", 5, 64)
    serve(col("vec_id") < 2, 0L)
    serve(col("vec_id") >= 2, 1L)
    serve(col("vec_id") >= 2, 1L)
    val served = spark.read.parquet(s"$dir/served").drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    assert(served === exact)
  }

  test("PQ encode is a single map pass (no shuffle, no join, no UDF) " +
      "and codes stay inside the codebook") {
    val cb = Similarity.pqTrainCodebooks(embs, "vec_id", "embedding",
      numSub = 8, codebookSize = 16, iters = 3, dim = Some(64))
    val enc = Similarity.pqEncode(embs, "vec_id", "embedding", cb)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
    val bounds = enc.selectExpr(
      "min(array_min(codes)) AS lo", "max(array_max(codes)) AS hi").head()
    assert(bounds.getInt(0) >= 0 && bounds.getInt(1) < 16, bounds.toString)
  }

  test("ADC scores rank every planted neighbor inside the top-64 " +
      "candidate cut, and reconstructions stay meaningful") {
    val planted = Similarity.plantedGappedCorpus(embs, "vec_id", "embedding")
      .localCheckpoint(true)
    val cb = Similarity.pqTrainCodebooks(planted, "vec_id", "embedding",
      numSub = 8, codebookSize = 32, dim = Some(64))
    val codes = Similarity.pqEncode(planted, "vec_id", "embedding", cb,
      idOut = "neighbor_id").localCheckpoint(true)
    // reconstruct each vector from its codes; the ADC table-lookup score
    // sum_m lut[m][codes[m]] IS dot(unit query, reconstruction), so
    // ranking by that dot reproduces the probe's candidate order exactly
    val cbDf = Similarity.codebooksDf(spark, cb)
    val recon = codes.select(col("neighbor_id"),
        posexplode(col("codes")).as(Seq("m", "k")))
      .join(broadcast(cbDf), Seq("m", "k"))
      .groupBy("neighbor_id")
      .agg(expr("flatten(transform(array_sort(collect_list(" +
        "named_struct('m', m, 'c', centroid))), s -> s.c))").as("vr"))
      .localCheckpoint(true)
    val uq = planted.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> x / sqrt(aggregate(embedding, " +
          "0D, (a, y) -> a + y * y)))").as("uq"))
    val ranked = uq.join(recon, col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", expr(
        "aggregate(zip_with(uq, vr, (x, y) -> x * y), 0D, (a, q) -> a + q)"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("adc").desc, col("neighbor_id"))))
    // every planted near-dup (ids 100000 + q*5 + j) must survive the
    // nCandidates=64 ADC cut — that is what makes the exact re-rank
    // lossless on the gapped corpus
    val missed = ranked.filter(col("neighbor_id") >= 100000L &&
      col("neighbor_id") - 100000L >= col("query_id") * 5 &&
      col("neighbor_id") - 100000L < (col("query_id") + 1) * 5 &&
      col("rnk") > 64).count()
    assert(missed === 0L)
    // residual sanity: on isotropic random fixtures 32 centroids in 8-dim
    // subspaces sit near the rate-distortion floor (~0.65 relative) —
    // assert the reconstruction is not degenerate, not production-tight
    val err = planted
      .select(col("vec_id").as("neighbor_id"),
        expr("transform(embedding, x -> x / sqrt(aggregate(embedding, " +
          "0D, (a, y) -> a + y * y)))").as("u"))
      .join(recon, "neighbor_id")
      .withColumn("resid", expr(
        "sqrt(aggregate(zip_with(u, vr, (x, y) -> (x - y) * (x - y)), " +
          "0D, (a, q) -> a + q))"))
      .agg(avg("resid")).head()
    assert(err.getDouble(0) < 0.80, s"mean residual ${err.getDouble(0)}")
  }

  test("fixed-point PageRank equals a serial reference implementation " +
      "exactly, and rank mass stays within truncation drift") {
    val knn = Similarity.knnGraph(embs, "vec_id", "embedding", k = 3)
      .select(col("vec_id"), col("neighbor_id")).localCheckpoint(true)
    val got = Graphs.pagerankFixedPoint(knn, "vec_id", "neighbor_id",
        iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent serial reference over the collected edge list
    val edges = knn.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val scale = 1000000000000L
    val base = scale / n
    val tp = 15L * base / 100L
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var r = nodes.map(_ -> base).toMap
    for (_ <- 0 until 5) {
      val inc = edges.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
        (r(s) * 85L / 100L) / deg(s)
      }.sum).toMap
      r = nodes.map(v => v -> (tp + inc.getOrElse(v, 0L))).toMap
    }
    assert(got === r)
    // mass: scale minus at most 1 unit lost per (edge, round) of integer
    // truncation plus the initial-division remainder
    val mass = got.values.sum
    assert(mass <= scale && mass > scale - (edges.length.toLong + n) * 10,
      s"mass $mass")
  }

  test("PPS systematic sample draws exactly k slots, repeats heavy docs " +
      "proportionally, and assigns slots without an interval join") {
    import spark.implicits._
    val d = docs.withColumn("n_tokens", size(split(col("text"), " ")))
    val got = Curation.ppsSystematicSample(d, "doc_id", "n_tokens",
      k = 64, seed = 7L)
    assert(got.select("slot").distinct().count() === 64L)
    assert(got.count() === 64L)
    assert(got.agg(min("slot"), max("slot")).head() ===
      org.apache.spark.sql.Row(0L, 63L))
    // a document holding >= 2 strides of the total mass must win >= 2
    // slots (with replacement), and one holding half the line ~ half
    val skew = Seq((1L, 1000L), (2L, 10L), (3L, 10L), (4L, 10L))
      .toDF("doc_id", "w")
    val s2 = Curation.ppsSystematicSample(skew, "doc_id", "w", k = 8,
      seed = 3L)
    val heavy = s2.filter(col("doc_id") === 1L).count()
    assert(heavy >= 7L && s2.count() === 8L, s"heavy=$heavy")
    // slot assignment is per-row arithmetic: the plan's only joins are
    // the tiny chunk-base broadcast, never a range/nested-loop join of
    // positions against intervals
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // deterministic replay: same seed, same draw
    val again = Curation.ppsSystematicSample(d, "doc_id", "n_tokens",
      k = 64, seed = 7L).collect().map(_.toString).sorted.toSeq
    assert(again === got.collect().map(_.toString).sorted.toSeq)
  }

  test("batch perceptron equals a serial reference, and its averaged " +
      "model learns a better-than-majority separator") {
    val d = docs.withColumn("is_en", col("lang") === "en")
    val got = Perceptron.trainHashedBow(d, "doc_id", "text", "is_en",
      dims = 64, rounds = 3)
      .collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    // serial reference over collected (doc, bucket, count, y)
    def rh(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val rows = d.select("doc_id", "text", "is_en").collect().map { r =>
      val y = if (r.getBoolean(2)) 1L else -1L
      val fx = r.getString(1).split(" ").filter(_.nonEmpty)
        .groupBy(t => (((rh(t) % 64) + 64) % 64).toInt)
        .view.mapValues(_.length.toLong).toMap
      (y, fx)
    }
    val w = Array.fill(64)(0L)
    val ws = Array.fill(64)(0L)
    for (_ <- 0 until 3) {
      val upd = Array.fill(64)(0L)
      for ((y, fx) <- rows) {
        val sc = fx.map { case (b, x) => w(b) * x }.sum
        val pred = if (sc > 0) 1L else -1L
        if (pred != y) fx.foreach { case (b, x) => upd(b) += y * x }
      }
      for (b <- 0 until 64) { w(b) += upd(b); ws(b) += w(b) }
    }
    assert(got === w.indices.map(b => b -> (w(b), ws(b))).toMap)
    // learning sanity needs a label the TEXT determines (the fixture's
    // lang is metadata independent of content — no classifier can beat
    // majority there), balanced, and separable THROUGH THE ORIGIN (the
    // model has no bias term): count('batch') > count('small') is
    // exactly w_batch=+1, w_small=-1 in bucket space, ties land on
    // score 0 = predict -1 = the label's own 'false', and the classes
    // split near 50/50
    val sep = docs.withColumn("more_batch", expr(
      "size(filter(split(text, ' '), t -> t = 'batch')) > " +
        "size(filter(split(text, ' '), t -> t = 'small'))"))
    // the AVERAGED model (weight_sum) is the one that classifies: the
    // final weights oscillate with full-batch steps
    val w2 = Perceptron.trainHashedBow(sep, "doc_id", "text",
      "more_batch", dims = 256, rounds = 10)
      .collect().map(r => r.getLong(0).toInt -> r.getLong(2)).toMap
    val rows2 = sep.select("text", "more_batch").collect().map { r =>
      val y = if (r.getBoolean(1)) 1L else -1L
      val fx = r.getString(0).split(" ").filter(_.nonEmpty)
        .groupBy(t => (((rh(t) % 256) + 256) % 256).toInt)
        .view.mapValues(_.length.toLong).toMap
      (y, fx)
    }
    val acc = rows2.count { case (y, fx) =>
      val sc = fx.map { case (b, x) => w2(b) * x }.sum
      (if (sc > 0) 1L else -1L) == y
    }.toDouble / rows2.length
    val majority = math.max(rows2.count(_._1 == 1L),
      rows2.count(_._1 == -1L)).toDouble / rows2.length
    // full-batch updates oscillate near the boundary (no per-sample
    // steps by design — order-freedom is the point), so the bar is
    // clear learning, not perfect separation
    assert(acc > majority + 0.1, s"acc $acc vs majority $majority")
  }

  test("kNN outliers are the isolated vectors: planted near-duplicates " +
      "never rank as outliers, and means are ordered ascending") {
    val planted = Similarity.plantedGappedCorpus(embs, "vec_id", "embedding")
    val out = Similarity.knnOutliers(planted, "vec_id", "embedding",
      k = 3, nOutliers = 20).collect()
    // a planted near-dup sits within cosine ~0.95 of its query and its
    // siblings — nowhere near the isolated tail
    assert(out.forall(_.getLong(0) < 100000L),
      out.map(_.getLong(0)).mkString(","))
    val means = out.map(_.getDouble(1)).toSeq
    assert(means === means.sorted)
    assert(out.length === 20)
  }

  test("kmeans recovers planted well-separated clusters and is " +
      "partitioning-invariant") {
    import spark.implicits._
    // ids 0..3 are four distant centers; ids 4.. are small jitters of
    // center (id % 4) — seeding from the 4 smallest ids starts Lloyd at
    // the true centers, so exact recovery is guaranteed, not just likely
    val centers = Array(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f))
    val rows = (0L until 40L).map { i =>
      val c = centers((i % 4).toInt)
      val jit = if (i < 4) 0f else 0.001f * (i.toFloat / 40f)
      (i, c.map(_ + jit))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Clustering.kmeansFixedPoint(df, "vec_id", "embedding",
      k = 4, iters = 3)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 40L).forall(i => got(i) === got(i % 4)))
    assert(got.values.toSet.size === 4)
    // bit-identical on a different partitioning (integer sums are
    // associative — the whole point of the fixed-point design)
    val re = Clustering.kmeansFixedPoint(df.repartition(13), "vec_id",
      "embedding", k = 4, iters = 3)
    assert(sameResults(out, re))
    // the assignment pass is map-side only: centroids are broadcast
    // literals, so the output plan has no join and no aggregation
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Aggregate"), plan)
  }

  test("domain cap keeps min(cap, |group|) per group via sketch merge, " +
      "no window, partitioning-invariant") {
    val out = Curation.capPerGroup(docs, "doc_id", "source", 10, 13L)
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full.forall { case (g, n) => kept(g) === math.min(10L, n) })
    // the scale contract: bounded-buffer aggregation, not a per-group
    // window sort (a mega-domain would funnel through one task)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    val re = Curation.capPerGroup(docs.repartition(17), "doc_id",
      "source", 10, 13L)
    assert(sameResults(out, re))
  }

  test("label propagation: one hop per round, clamped seeds, ties to " +
      "the smaller label") {
    import spark.implicits._
    // chain 2->1, 3->2, 4->3, 5->4 (each votes from its out-neighbor);
    // node 6 votes from BOTH seed 1 (label 7) and seed 0 (label 3)
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L),
      (6L, 1L), (6L, 0L)).toDF("src", "dst")
    val seeds = Seq((1L, 7L), (0L, 3L)).toDF("node", "label")
    def run(iters: Int) =
      Graphs.labelPropagate(edges, "src", "dst", seeds, "node", "label",
        iters).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r1 = run(1)
    // one hop: 2 and 6 labeled, 3/4/5 unreached; 6's tie breaks to 3
    assert(r1(2L) === 7L && r1(6L) === 3L)
    assert(r1(3L) === -1L && r1(4L) === -1L && r1(5L) === -1L)
    // seeds clamped at their own labels
    assert(r1(1L) === 7L && r1(0L) === 3L)
    val r3 = run(3)
    // three hops down the chain; node 5 still one hop short
    assert(r3(2L) === 7L && r3(3L) === 7L && r3(4L) === 7L)
    assert(r3(5L) === -1L)
  }

  test("length batching equals the single-window rank and beats " +
      "arrival-order batching on padding waste") {
    import org.apache.spark.sql.expressions.Window
    val out = Curation.lengthBatches(docs, "doc_id", "text", 16)
    // brute-force twin: one global window (fine in a spec, the scale
    // cliff the two-level idiom avoids in production)
    val perDoc = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    def stats(ranked: org.apache.spark.sql.DataFrame) = ranked
      .withColumn("batch_id", floor((col("rk") - 1) / 16))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"), max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .withColumn("padding_waste",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
    val sorted = stats(perDoc.withColumn("rk", row_number().over(
      Window.orderBy("n_tokens", "doc_id")).cast("long")))
    assert(sameResults(out, sorted))
    val arrival = stats(perDoc.withColumn("rk", row_number().over(
      Window.orderBy("doc_id")).cast("long")))
    val w = out.agg(sum("padding_waste")).head().getLong(0)
    val wArrival = arrival.agg(sum("padding_waste")).head().getLong(0)
    assert(w < wArrival, s"sorted $w vs arrival $wArrival")
    // partition counts: every doc lands in exactly one batch
    assert(out.agg(sum("n_docs")).head().getLong(0) === docs.count())
  }

  test("bpe merges apply greedy left-to-right non-overlapping, " +
      "including self-pair runs") {
    import spark.implicits._
    import graft.llm.Bpe
    // the adversarial case: (a,a) over odd/even runs. Position counts:
    // aaaa=3, aaa=2, aaaaa=4 => merge 1 is (a,a,9); application must
    // take the ODD positions of each run: aaaa->[aa,aa], aaa->[aa,a],
    // aaaaa->[aa,aa,a]. Round 2: (aa,aa) has 2 positions, (aa,a) has 2
    // => tie breaks to the lexicographically smaller rhs: (aa,a,2).
    val d = Seq((1L, "aaaa aaa aaaaa")).toDF("doc_id", "text")
    val m = Bpe.mergesDf(d, "text", 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq === Seq((1L, "a", "a", 9L), (2L, "aa", "a", 2L)))
    // after both merges: aaaa=[aa,aa] (2), aaa=[aaa] (1),
    // aaaaa=[aa,aaa] (2) => 5 pieces for the document
    val seg = Bpe.segmentCounts(d, "doc_id", "text", 2).collect()
    assert(seg.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 5L)))
    // frequency weighting: the dictionary collapses duplicates but the
    // pair count is weighted by word frequency
    val d2 = Seq((1L, "ab ab ab"), (2L, "ab cd")).toDF("doc_id", "text")
    val m2 = Bpe.mergesDf(d2, "text", 1).head()
    assert((m2.getString(1), m2.getString(2), m2.getLong(3)) ===
      ("a", "b", 4L))
  }

  test("bpe training cost is rounds x vocab: constant jobs per merge " +
      "round, corpus aggregated once") {
    import spark.implicits._
    import graft.llm.Bpe
    // the scaling contract trainMerges documents: after the one-off
    // dictionary build, every merge round costs a CONSTANT number of
    // Spark jobs over the vocabulary-sized dict (argmax collect +
    // checkpoint). If a refactor ever made a round re-touch the corpus
    // or schedule extra jobs, the per-round delta would jump and this
    // pins it.
    val d = Seq((1L, "abab abab banana band bandana"),
      (2L, "ananab nanab abba abab")).toDF("doc_id", "text")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the listener bus is async (and private[spark]) — wait until the
      // count stops moving instead
      def settle(): Int = {
        // bounded: if something keeps scheduling jobs at a sub-250ms
        // cadence the spec must FAIL with a diagnostic, not hang the suite
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var prev = -1
        while (prev != counter.get()) {
          assert(System.nanoTime() < deadline,
            s"job counter never settled within 30s (last count: ${counter.get()})")
          prev = counter.get(); Thread.sleep(250)
        }
        prev
      }
      def jobsFor(k: Int): Int = {
        settle(); counter.set(0)
        Bpe.trainMerges(d, "text", k)
        settle()
      }
      val j2 = jobsFor(2); val j4 = jobsFor(4); val j6 = jobsFor(6)
      val perRound1 = (j4 - j2) / 2.0
      val perRound2 = (j6 - j4) / 2.0
      assert(perRound1 === perRound2,
        s"per-round job cost is not constant: $j2/$j4/$j6 jobs for 2/4/6 merges")
      assert(perRound1 <= 3.0,
        s"a merge round schedules ${perRound1} jobs — more than argmax+checkpoint")
      // the corpus-sized work (wordDict + its checkpoint) is the round-
      // independent intercept; it must not grow with the merge count
      val intercept = j2 - 2 * perRound1
      assert(intercept === j6 - 6 * perRound2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("batched bpe: batchSize=1 is bit-identical to serial greedy, " +
      "rounds are symbol-disjoint, serving fold reproduces the dict") {
    import spark.implicits._
    import graft.llm.Bpe
    val d = Seq((1L, "abab abab banana band bandana low lower lowest"),
      (2L, "ananab nanab abba abab newer newest wide widest")).toDF(
      "doc_id", "text")
    // batchSize=1 must reproduce the serial trainer exactly — merge
    // table AND final dictionary
    val (serial, sdict) = Bpe.trainMerges(d, "text", 6)
    val (r1, bdict1) = Bpe.trainMergesBatched(d, "text", 6, batchSize = 1)
    assert(r1.flatten === serial)
    assert(sameResults(sdict, bdict1))
    // batchSize=3: every round's admissions touch pairwise-disjoint
    // symbols (incl. the fused product), counts are rank-ordered within
    // a round, ranks are globally consecutive, and the requested merge
    // budget is met
    val (r3, bdict3) = Bpe.trainMergesBatched(d, "text", 6, batchSize = 3)
    val flat = r3.flatten
    assert(flat.size === 6)
    assert(flat.map(_.rank) === (1L to 6L))
    r3.foreach { round =>
      assert(round.size <= 3 && round.nonEmpty)
      // disjointness is BETWEEN merges (a self-pair like (ab,ab) is a
      // legal single merge and trivially shares symbols with itself)
      val sets = round.map(m => Set(m.lhs, m.rhs, m.lhs + m.rhs))
      for (i <- sets.indices; j <- sets.indices if i < j)
        assert((sets(i) & sets(j)).isEmpty,
          s"round admitted conflicting symbols: $round")
      assert(round.map(_.count) === round.map(_.count).sortBy(-_))
    }
    // fewer rounds than merges: the whole point of batching
    assert(r3.size < flat.size)
    // each round's FIRST admission is the serial argmax for that dict
    // state (the batch always contains the exact-greedy choice)
    assert(r3.head.head === serial.head)
    // serving-path consistency: applying the flattened rule list in rank
    // order to raw words reproduces the training dictionary's piece
    // counts (same contract the serial path pins via segmentExpr)
    val rules = flat.map(m => (m.lhs, m.rhs))
    val fromRules = d.select(
      Bpe.segmentExpr(col("text"), rules).as("n"), col("doc_id"))
    val fromDict = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(bdict3.select(col("word"), size(col("syms")).as("k")), "word")
      .groupBy("doc_id").agg(sum(col("k").cast("long")).as("n"))
    assert(sameResults(fromRules.select("doc_id", "n"),
      fromDict.select("doc_id", "n")))
  }

  test("batched bpe at a realistic budget: rounds track merges/batchSize " +
      "and per-round job cost is flat") {
    import spark.implicits._
    import graft.llm.Bpe
    // a corpus with enough pair diversity that a 96-merge budget does
    // not exhaust (500 distinct 3-char words over 10 letters)
    val words = for { a <- 'a' to 'j'; b <- 'a' to 'j'; c2 <- 'a' to 'e' }
      yield s"$a$b$c2"
    val d = words.grouped(25).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def settle(): Int = {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var prev = -1
        while (prev != counter.get()) {
          assert(System.nanoTime() < deadline,
            s"job counter never settled within 30s (${counter.get()})")
          prev = counter.get(); Thread.sleep(250)
        }
        prev
      }
      def run(merges: Int): (Int, Int) = {
        settle(); counter.set(0)
        val (rounds, _) = Bpe.trainMergesBatched(d, "text", merges,
          batchSize = 8)
        assert(rounds.flatten.size === merges,
          s"budget not met: ${rounds.flatten.size} of $merges merges")
        // the round count is the 32k-vocab claim: ~merges/batchSize in
        // the limit, never the serial merges count. This corpus is
        // deliberately conflict-heavy (every word shares its letters
        // with many others), so admission thins below the batch size —
        // the pin is that batching still genuinely batches (average
        // admission >= 2 per round), with the exact-structure cases
        // covered by the batchSize=1/3 spec above
        assert(rounds.size >= merges / 8 && rounds.size <= merges / 2,
          s"$merges merges at batch 8 took ${rounds.size} rounds")
        (settle(), rounds.size)
      }
      val (j32, r32) = run(32)
      val (j64, r64) = run(64)
      val (j96, r96) = run(96)
      // per-ROUND job cost must be flat as the budget grows: a round is
      // one ranked-prefix collect plus the dict checkpoint, independent
      // of how many merges have accumulated. The asserted round-count
      // ranges overlap (32 merges may take up to 16 rounds, 64 as few
      // as 8), so the larger budget must actually have taken MORE
      // rounds before a per-round rate is well-defined; and Spark may
      // schedule an occasional extra bookkeeping job, so the two rates
      // compare with a tolerance rather than exact Double equality.
      assert(r64 > r32 && r96 > r64,
        s"round counts collided ($r32/$r64/$r96) — corpus no longer " +
          "separates the budgets; rate comparison undefined")
      val perRoundA = (j64 - j32).toDouble / (r64 - r32)
      val perRoundB = (j96 - j64).toDouble / (r96 - r64)
      assert(math.abs(perRoundA - perRoundB) <= 1.0,
        s"per-round jobs drifted: $j32@$r32 / $j64@$r64 / $j96@$r96")
      assert(perRoundA <= 5.0,
        s"a batched round schedules $perRoundA jobs — more than " +
          "ranked-collect + checkpoint")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("semdedup-kmeans prune set equals the brute-force within-cluster " +
      "rule and the pair join is an equality join") {
    import graft.functions.CosineSimilarity.cosineSim
    val e = embs
    val out = Clustering.semDedupKmeans(e, "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.35)
    // independent derivation: assignment from the batch op, then a
    // brute-force all-pairs cosine filtered to same-cluster smaller-id
    val asg = Clustering.kmeansFixedPoint(e, "vec_id", "embedding",
      k = 4, iters = 2).select(col("vec_id"), col("cluster_id"))
    val v = e.join(asg, "vec_id")
      .select(col("vec_id"), col("cluster_id"),
        col("embedding").cast("array<double>").as("v"))
    val x = v.select(col("vec_id").as("a_id"), col("cluster_id").as("ca"),
      col("v").as("va"))
    val y = v.select(col("vec_id").as("b_id"), col("cluster_id").as("cb"),
      col("v").as("vb"))
    val expect = x.crossJoin(y)
      .filter(col("ca") === col("cb") && col("a_id") < col("b_id") &&
        cosineSim(col("va"), col("vb")) >= 0.35)
      .groupBy(col("b_id").as("vec_id"))
      .agg(min("a_id").as("pruned_by"))
    val got = out.filter(!col("kept")).select("vec_id", "pruned_by")
    assert(sameResults(got, expect))
    assert(out.count() === e.count())
    // the candidate generator is an equality join on cluster_id — the
    // scale contract: no cartesian, no broadcast-nested-loop
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("retrieval eval: perfect candidates score 1/1, disjoint score " +
      "0/0, and a known half-degraded list lands in between") {
    val q = embs.filter(col("vec_id") < 10)
    val truth = Similarity.cosineTopK(embs, q, "vec_id", "embedding", 5)
    // truth vs itself: every relevant hit found, first hit at rank 1
    val self = Similarity.retrievalEval(truth, truth, 5).collect()
    assert(self.length === 10)
    assert(self.forall(r => r.getDouble(1) === 1.0 && r.getDouble(2) === 1.0))
    // candidates that share no neighbor with truth: recall 0, mrr 0
    val shifted = truth.withColumn("neighbor_id",
      col("neighbor_id") + 10000000L)
    val zero = Similarity.retrievalEval(shifted, truth, 5).collect()
    assert(zero.forall(r => r.getDouble(1) === 0.0 && r.getDouble(2) === 0.0))
    // drop truth's even-rank rows from the candidate list: recall is
    // exactly 3/5 and the first relevant hit is still rank 1 (ranks
    // come from the candidate relation, re-numbered 1..3)
    val odd = truth.filter(col("rnk") % 2 === 1)
      .withColumn("rnk", (col("rnk") + 1) / 2)
    val partial = Similarity.retrievalEval(odd, truth, 5).collect()
    assert(partial.forall(r => r.getDouble(1) === 0.6 && r.getDouble(2) === 1.0))
  }

  test("token-id encoding is a broadcast join over dense vocab ranks " +
      "with OOV pinned to zero") {
    // the corpus side never shuffles: vocab broadcasts into a hash join
    // (plan read BEFORE checkpointing collapses it to an RDD scan)
    val plan = TextAnalysis.encodeTokenIds(docs, "doc_id", "text", 32)
      .queryExecution.executedPlan.toString
    val enc = TextAnalysis.encodeTokenIds(docs, "doc_id", "text", 32)
      .localCheckpoint(true)
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"), plan)
    // ids stay in [0, 32]; position count per doc equals the token count
    val b = enc.agg(min("token_id"), max("token_id")).head()
    assert(b.getLong(0) >= 0L && b.getLong(1) <= 32L)
    val counts = enc.groupBy("doc_id").count()
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n")), "doc_id")
      .filter(col("count") =!= col("n")).count()
    assert(counts === 0L)
    // a token encodes to 0 iff it is outside the top-32 vocabulary
    val vocab = TextAnalysis.vocabularyTopK(docs, "text", 32)
      .select("token").collect().map(_.getString(0)).toSet
    val mism = enc
      .join(docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "token")))
        .select(col("doc_id"), (col("p") + 1).cast("long").as("pos"),
          col("token")), Seq("doc_id", "pos"))
      .filter((col("token_id") === 0L) =!=
        !col("token").isin(vocab.toSeq: _*))
      .count()
    assert(mism === 0L)
  }

  test("temperature mix fills each stratum greedily to its isqrt share " +
      "and flattens the raw token distribution") {
    val d = docs.withColumn("n_tokens", size(split(col("text"), " ")))
    val budget = 10000L
    val kept = Curation.temperatureMix(d, "doc_id", "source", "n_tokens",
      budget).localCheckpoint(true)
    // recompute the allocations serially
    val totals = d.groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("tw"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ws = totals.view.mapValues(t =>
      math.sqrt(t.toDouble).toLong).toMap
    val wsum = ws.values.sum
    val base = ws.view.mapValues(w => budget * w / wsum).toMap
    val spare = (budget - base.values.sum).toInt
    val order = ws.toSeq.sortBy { case (s, w) =>
      (-(budget * w % wsum), s)
    }.map(_._1)
    val alloc = base ++ order.take(spare).map(s => s -> (base(s) + 1L))
    val keptTok = kept.groupBy("stratum").agg(sum("n_tokens").as("kt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-stratum: within allocation, and greedy-maximal (the first
    // dropped doc would not have fit)
    val firstDropped = d.select(col("doc_id").cast("long"), col("source"),
        col("n_tokens").cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    for ((s, a) <- alloc) {
      val kt = keptTok.getOrElse(s, 0L)
      assert(kt <= a, s"$s kept $kt > alloc $a")
      // replay the prefix-fit pass: a doc is kept iff its END position
      // on the stratum's token line fits, so keep/drop must match the
      // engine doc for doc (after the first overflow nothing fits)
      var cum = 0L
      for ((id, src, nt) <- firstDropped if src == s) {
        val fits = cum + nt <= a
        assert(fits === keptIds.contains(id), s"doc $id of $s")
        cum += nt
      }
    }
    // temperature flattening: the smallest source's budget share strictly
    // exceeds its raw-token share (sqrt compresses the spread)
    val smallest = totals.minBy(_._2)._1
    val largest = totals.maxBy(_._2)._1
    assert(alloc(smallest).toDouble / alloc(largest) >
      totals(smallest).toDouble / totals(largest),
      s"alloc $alloc vs totals $totals")
  }

  test("gopher rules score hand-built documents rule by rule, " +
      "with a shuffle-free plan") {
    import spark.implicits._
    val fixture = Seq(
      // passes everything: 60 words incl. 2 stop words, mean len sane
      (1L, (Seq("the", "of") ++ (1 to 58).map(i => s"word$i")).mkString(" ")),
      // too short (3 words)
      (2L, "the of tiny"),
      // no stop-word hits
      (3L, (1 to 60).map(i => s"word$i").mkString(" ")),
      // symbol-laden: 60 words but every word is '#'
      (4L, (Seq("the", "of") ++ (1 to 58).map(_ => "#")).mkString(" ")),
      // mean word length too long
      (5L, (Seq("the", "of") ++
        (1 to 58).map(i => "x" * 20 + i)).mkString(" "))
    ).toDF("doc_id", "text")
    val g = TextAnalysis.gopherRules(fixture, "doc_id", "text")
      .orderBy("doc_id").collect()
    val keep = g.map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(keep === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false))
    val r1 = g.head
    assert(r1.getLong(1) === 60L) // n_words
    assert(r1.getLong(5) === 2L)  // stop_hits
    val r4 = g(3)
    assert(r4.getDouble(3) > 0.1, s"symbol ratio ${r4.getDouble(3)}")
    // narrow per-row operator: no Exchange in the physical plan
    val plan = TextAnalysis.gopherRules(fixture, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("grouped band filter trims per group; a doc outside the global " +
      "band survives inside its own group's band") {
    import spark.implicits._
    // group a: scores 1..20; group b: scores 101..120. Globally p10/p90
    // of the 40 values cut deep into group a and group b; per-group
    // bands keep each group's own middle.
    val rows = (1 to 20).map(i => (i.toLong, "a", i.toDouble)) ++
      (1 to 20).map(i => (20L + i, "b", 100.0 + i))
    val df = rows.toDF("doc_id", "grp", "score")
    val grouped = TextAnalysis.groupedScoreBandFilter(df, "grp", "score",
      0.1, 0.9).select("doc_id").as[Long].collect().toSet
    val global = TextAnalysis.scoreBandFilter(df, "score", 0.1, 0.9)
      .select("doc_id").as[Long].collect().toSet
    // per-group: each group keeps its own [p10, p90] band — interpolated
    // indices 1.9 and 17.1 of the sorted 20 => [2.9, 18.1] => ids 3..18
    // resp. 23..38
    assert(grouped === ((3L to 18L) ++ (23L to 38L)).toSet)
    // the global band spans the gap: it keeps all of the upper group's
    // low tail that the grouped band trims
    assert(global.contains(21L) || global.contains(22L))
    assert(!grouped.contains(21L) && !grouped.contains(22L))
    // approx path: approx_percentile returns actual corpus ELEMENTS (no
    // interpolation — bounds [2.0, 18.0] here, vs exact [2.9, 18.1]), so
    // the kept sets may differ only at the band edges
    val approx = TextAnalysis.groupedScoreBandFilter(df, "grp", "score",
      0.1, 0.9, approx = true).select("doc_id").as[Long].collect().toSet
    val edges = Set(2L, 19L, 22L, 39L)
    assert(((approx diff grouped) ++ (grouped diff approx)).subsetOf(edges),
      s"approx $approx vs exact $grouped")
  }

  test("snapshot diff labels added/removed/changed/unchanged and ships " +
      "digests, not text, through the join") {
    import spark.implicits._
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"), (2L, "BETA2"), (4L, "delta"))
      .toDF("doc_id", "text")
    val d = Curation.snapshotDiff(v1, v2, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(d === Array(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // the join's exchanges carry the 32-hex digest, never the text
    // column: text is consumed by the pre-join projection
    val plan = Curation.snapshotDiff(v1, v2, "doc_id", "text")
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.forall(e =>
      !e.child.output.map(_.name).contains("text")),
      plan.toString)
  }

  test("corpus decontamination filter: full-copy docs drop, clean docs " +
      "keep, and the bloom pre-filter is lossless") {
    import spark.implicits._
    val eval_ = Seq(
      (100L, "secret eval question alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim copy of the eval doc: overlap 1.0 => dropped
      (1L, "secret eval question alpha beta gamma delta"),
      // no shared trigrams => kept with 0 hits
      (2L, "totally unrelated training text about spark plans"),
      // shares a 3-word span: some of its shingles hit
      (3L, "prefix words secret eval question and a long clean tail here"),
      // under 3 words: zero shingles, ratio 0, kept
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminateCorpus(corpus, eval_, "doc_id",
      "text", maxOverlap = 0.3).orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(byId(1L) === ((5L, 5L, 1.0, false)))
    assert(byId(2L)._2 === 0L && byId(2L)._4 === true)
    assert(byId(3L)._2 === 1L && byId(3L)._4 === true) // one hit shingle
    assert(byId(4L) === ((0L, 0L, 0.0, true)))
    // the bloom probe is a pre-filter, not the verdict: disabling it by
    // raising fpp to near-1 (bloom passes ~everything) changes nothing
    val sloppy = TextAnalysis.decontaminateCorpus(corpus, eval_, "doc_id",
      "text", maxOverlap = 0.3, fpp = 0.9)
    assert(sameResults(sloppy,
      TextAnalysis.decontaminateCorpus(corpus, eval_, "doc_id", "text",
        maxOverlap = 0.3)))
  }

  test("corpus manifest matches hand-computed group stats in one " +
      "aggregation") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c", "s1", "en"), (2L, "d e", "s1", "en"),
      (3L, "f g h i", "s1", "de"), (4L, "j", "s2", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val m = TextAnalysis.corpusManifest(df, "text", Seq("source", "lang"))
      .orderBy("source", "lang").collect()
    // (s1, de): 1 doc, 4 tokens, 7 chars; (s1, en): 2 docs, 5 tokens;
    // (s2, en): 1 doc, 1 token
    assert(m.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getDouble(5), r.getDouble(6))).toSeq === Seq(
      ("s1", "de", 1L, 4L, 4.0, 4.0),
      ("s1", "en", 2L, 5L, 2.5, 2.5),
      ("s2", "en", 1L, 1L, 1.0, 1.0)))
    // one hash aggregation: exactly one exchange in the plan
    val plan = TextAnalysis.corpusManifest(df, "text", Seq("source", "lang"))
      .queryExecution.executedPlan
    val nEx = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(nEx === 1, plan.toString)
  }

  test("rag retrieval ranks parallel-vector pseudo-ties by id on rounded " +
      "sims, with broadcast queries and no window sort") {
    import spark.implicits._
    // 'a' (97 % 8 = 1) and 'b' (98 % 8 = 2) land in different feature
    // classes: docs 3/4 are PARALLEL count vectors of the query (cosine
    // exactly 1.0 — the pseudo-tie), doc 5 is orthogonal
    val docs = Seq(
      (0L, "a a"), (3L, "a a a a"), (4L, "a a a a a a"), (5L, "b b b")
    ).toDF("doc_id", "text")
    val out = Similarity.ragRetrieve(docs, "doc_id", "text",
      window = 32, stride = 16, k = 3, queryKeyBelow = 300L)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((0L, 1, 300L, 1.0), (0L, 2, 400L, 1.0),
      (0L, 3, 500L, 0.0)))
    val plan = Similarity.ragRetrieve(docs, "doc_id", "text",
      32, 16, 3, 300L).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("WindowExec") && !plan.contains("Window "), plan)
  }

  test("pretraining pipeline equals curate-filter + packSequences " +
      "composed by hand, and is chunk-size invariant") {
    val kept = Curation.curate(docs, "doc_id", "text")
      .filter(col("kept")).select(col("doc_id").cast("bigint").as("doc_id"))
    val keptDocs = docs.select(col("doc_id").cast("bigint").as("doc_id"),
        col("text")).join(kept, "doc_id")
    val manual = Curation.packSequences(keptDocs, "doc_id", "text", 512,
      chunkSize = 64)
    val piped = Curation.pretrainingPipeline(docs, "doc_id", "text",
      budget = 512, chunkSize = 64)
    assert(sameResults(manual, piped))
    val other = Curation.pretrainingPipeline(docs, "doc_id", "text",
      budget = 512, chunkSize = 1000)
    assert(sameResults(piped, other))
    // only kept docs appear
    val ids = piped.select("doc_id").collect().map(_.getLong(0)).toSet
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    assert(ids === keptIds)
  }
}
