package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{MinHashSignature, NgramJaccard}
import scala.util.control.NonFatal

/** Document-deduplication operators for large-scale training-data pipelines.
  *
  * All operators are pure DataFrame transformations: no driver-side loops, no
  * UDFs in the hot path (everything is `functions._`/SQL expressions, so it
  * stays inside whole-stage codegen). Scale design notes per operator:
  *
  *  - exact dedup: hash-aggregate on a digest — one shuffle, combiner-side
  *    partial aggregation, no skew risk beyond genuinely duplicated content.
  *  - n-gram Jaccard: inverted-index self-join on shingles. At 100 TB the
  *    stop-shingle skew dominates — `maxShingleDocFreq` drops shingles that
  *    occur in more than N docs (they contribute candidates, not precision;
  *    standard suffix-filtering trick) before the join.
  *  - MinHash+LSH: each document's K-value signature is one row-local
  *    native expression ([[graft.functions.MinHashSignature]]) over its
  *    text — no shingle explode, no shuffle; banding turns the quadratic
  *    pair space into equality joins on (band, bucket); exact-Jaccard
  *    verification ([[verifyPairs]]) touches only candidates, as one
  *    native expression ([[graft.functions.NgramJaccard]]) over each
  *    pair's two texts. Document ids are keys: the MinHash operators
  *    expect one row per id (see [[minhashBandIndex]]).
  *  - SimHash: 64-bit signature; 16-bit chunk banding (pigeonhole: hamming
  *    distance <= 3 guarantees one of 4 chunks matches exactly).
  *  - embedding near-dup: brute-force O(n^2) baseline kept for oracle
  *    correctness at test SF; the LSH path in [[Similarity]] is the scale
  *    route.
  */
object Dedup {

  /** Cache-lifecycle management for the multiply-consumed intermediates
    * (hashed shingles, signatures, candidate sets). A bare `.cache()` pins
    * the relation for the SESSION's lifetime: storage grows without bound
    * across calls and every later query pays CacheManager plan-matching
    * against the ever-longer cache list (the round-2 bench log showed that
    * accumulation, as `Asked to cache already cached data` warnings). An
    * eager localCheckpoint would free correctly but serializes each
    * intermediate behind a materialization barrier (measured: d03
    * 1.0 s -> 2.7 s). So: a bounded LRU keyed on the canonicalized plan —
    * a repeat of the same dedup call reuses the already-cached relation
    * (no duplicate CacheManager entry, warm-path speed preserved), while
    * distinct calls accumulate only up to [[MaxLiveCaches]] relations
    * before the least-recently-used is unpersisted. Capacity bounds the
    * ENTRY COUNT; the byte bound comes from cache() itself
    * (MEMORY_AND_DISK — spills, never OOMs).
    */
  // 16 since r19: the slim-cache pattern now also covers the iterative
  // operators' loop invariants (graph edges, BPE dictionary, perceptron
  // features, quantized k-means corpus), which raised the number of
  // simultaneously useful entries; each entry is MEMORY_AND_DISK (spills,
  // never OOMs), so the count bound is the only knob that matters here
  private val MaxLiveCaches = 16
  private final case class CacheEntry(cached: DataFrame,
      var slim: Option[DataFrame])
  private def freeEntry(e: CacheEntry): Unit = {
    try e.cached.unpersist(false) catch { case NonFatal(_) => }
    e.slim.foreach(s => try {
      s.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(false): Unit
        case _ =>
      }
    } catch { case NonFatal(_) => })
  }
  // keyed by the canonicalized PLAN OBJECT, never its string rendering:
  // plan.toString truncates past spark.sql.maxPlanStringLength, so two
  // different large plans that agree on their prefix (e.g. consecutive
  // streaming micro-batches whose file lists sit deep in the tree) would
  // collide and silently serve the WRONG cached relation. Case-class
  // equality on the canonicalized tree is exact.
  private val liveCaches =
    new java.util.LinkedHashMap[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        CacheEntry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
            CacheEntry]): Boolean =
        if (size > MaxLiveCaches) { freeEntry(e.getValue); true } else false
    }
  private[graft] def scopedCache(df: DataFrame): DataFrame = liveCaches.synchronized {
    val key = df.queryExecution.analyzed.canonicalized
    val hit = liveCaches.get(key)
    if (hit != null) hit.cached
    else { val c = df.cache(); liveCaches.put(key, CacheEntry(c, None)); c }
  }

  /** [[scopedCache]] returning a SLIM-PLAN view of the cached relation: a
    * lazily local-checkpointed wrapper whose logical plan is a one-node
    * LogicalRDD (materialized from the cache on first use, block-backed
    * afterwards). For relations whose plan TREE is large but whose DATA
    * is small — the dedup candidate sets, whose trees embed the banding
    * self-joins and signature scans several times over — consumers would
    * otherwise pay the ANALYZER and the cache plan-matching for the whole
    * tree again on every chained operation. Measured with the native
    * signature expression in place: plain [[scopedCache]] at the three
    * dedup call sites made a `dedup_ingest` batch cost 3.9 CPU-s instead
    * of 2.8. Same bounded LRU lifecycle; the wrapper is built once per
    * entry so repeated calls share one set of checkpoint blocks. */
  private[graft] def scopedCacheSlim(df: DataFrame): DataFrame =
    liveCaches.synchronized {
      df.queryExecution.analyzed match {
        // already slim (a caller handing a slim view back in) — as-is
        case _: org.apache.spark.sql.execution.LogicalRDD => df
        case analyzed =>
          val key = analyzed.canonicalized
          var e = liveCaches.get(key)
          if (e == null) {
            e = CacheEntry(df.cache(), None)
            liveCaches.put(key, e): Unit
          }
          e.slim match {
            case Some(s) => s
            case None =>
              val s = e.cached.localCheckpoint(false)
              e.slim = Some(s)
              s
          }
      }
    }

  /** Distinct word n-gram shingles per document, as 64-bit keys:
    * (doc_id, shingle: bigint). The shingle STRING is never materialized —
    * each n-word slice is hashed with xxhash64 directly inside the per-row
    * lambda, so the shingle relation (the largest dataset in every dedup
    * path) is built without any string concatenation and carries 8-byte
    * keys into every downstream join/aggregate. Set semantics are identical
    * to string shingles up to xxhash64 collisions (~(n_sh choose 2)/2^64
    * per doc — vanishing). Distinct is per (doc_id, shingle), so it is
    * computed narrowly inside each row with array_distinct BEFORE the
    * explode — a global .distinct() would shuffle the relation for nothing.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(w)-$n), i -> xxhash64(slice(w, i+1, $n)))")))
        .as("shingle"))

  /** String-shingle variant, for signature schemes whose banded output is
    * sensitive to the exact feature-hash input (SimHash bit sums flip when
    * features change representation; its hamming radii are tuned against
    * string features). Everything Jaccard/MinHash-based takes [[shingles]].
    */
  def shinglesStr(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(w)-$n), i -> concat_ws(' ', slice(w, i+1, $n)))")))
        .as("shingle"))

  /** Exact duplicate groups keyed on md5 digest of the raw text.
    * Output: (digest, n_copies, keep_id = min doc id, ids).
    */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"),
        sort_array(collect_list(col(idCol))).as("ids"))

  /** Default stop-shingle cap for [[jaccardPairs]]'s `maxShingleDocFreq`,
    * derived from corpus size: a shingle present in more than 1% of
    * documents (floor 4) is boilerplate — it contributes candidate PAIRS
    * quadratically (a shingle shared by d docs expands to d(d-1)/2 join
    * rows) but almost no precision, the classic stop-word argument
    * applied to the inverted-index join. At 100 TB this cap is what keeps
    * a single "the the the" key from turning the self-join quadratic;
    * the d10 gate runs WITH the cap and its oracle prunes identically,
    * so the guarded path is hash-verified, not just benchmarked.
    */
  def autoShingleDocFreqCap(nDocs: Long): Long =
    math.max(4L, math.ceil(nDocs * 0.01).toLong)

  /** Exact n-gram Jaccard similarity >= threshold, via inverted-index join.
    * Output: (a_id, b_id, jaccard) with a_id < b_id.
    * `maxShingleDocFreq`: optionally drop shingles present in more than N
    * docs before the join (skew guard at scale; this restricts the shingle
    * universe, so it is off by default for oracle parity). Numerator and
    * denominator are both computed over the pruned universe, so the result
    * is the exact Jaccard of the *pruned* shingle sets — not a biased
    * underestimate of the unpruned one.
    */
  def jaccardPairs(sh: DataFrame, threshold: Double,
      maxShingleDocFreq: Option[Long] = None): DataFrame = {
    val pruned = maxShingleDocFreq match {
      case Some(k) =>
        val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= k).select("shingle")
        sh.join(freq, "shingle")
      case None => sh
    }
    // join on an 8-byte shingle key (see [[shingleKey]] — the column is
    // hashed polymorphically: string shingles get xxhash64, bigint
    // shingles from [[shingles]] pass through already hashed). Identical
    // pair counts up to hash collisions, at a third of the shuffle bytes
    // of string keys. The per-doc set size is computed ONCE (window over
    // the narrow hashed relation, materialized INSIDE the cached
    // relation, so the sort cost is paid exactly once) and carried
    // through the explode legs — the Jaccard denominator then needs no
    // separate sizes aggregate and no post-join size lookups. Pinned
    // because both join legs would otherwise re-run the CPU-heavy shingle
    // construction; 24 bytes/row, spills to disk if a corpus outgrows
    // executor memory.
    val bySize = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val hashed = scopedCache(shingleKey(pruned)
      .withColumn("n_sh", count(lit(1)).over(bySize)))
    val a = hashed.select(col("doc_id").as("a_id"), col("shingle"),
      col("n_sh").as("n_a"))
    val b = hashed.select(col("doc_id").as("b_id"), col("shingle"),
      col("n_sh").as("n_b"))
    val inter = a.join(b, "shingle")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
    inter
      .withColumn("jaccard",
        col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Polymorphic 8-byte shingle key: string shingles (the SimHash path
    * keeps strings — its hamming radii are tuned to string features) are
    * hashed with xxhash64; bigint shingles from [[shingles]] pass through
    * already hashed — a second xxhash64 would be a redundant re-hash with
    * identical join semantics (equality on h(x) vs on x matches the same
    * pairs up to vanishing collisions). Do not "simplify" the string
    * branch away: [[jaccardPairs]] accepts both representations.
    */
  private def shingleKey(sh: DataFrame): DataFrame =
    if (sh.schema("shingle").dataType == org.apache.spark.sql.types.StringType)
      sh.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    else sh.select(col("doc_id"), col("shingle"))

  /** Exact n-gram Jaccard evaluated only on a candidate pair set (the
    * verification stage of the LSH paths). Candidates: (a_id, b_id) of
    * `docs`' `idCol` values, repeats allowed (each distinct pair is
    * verified once). Output: (a_id, b_id, jaccard) for the pairs at or
    * above `threshold`, jaccard rounded to 4 places.
    *
    * Only candidate documents are touched: a broadcast semi-join of
    * `docs` to the candidates' id set (collision-sized) prunes the scan in
    * place, each pair gets both texts, and
    * [[graft.functions.NgramJaccard]] computes the Jaccard of their
    * distinct shingle-key sets in one row-local expression. A text with
    * fewer than `ngram` words has no shingle and no Jaccard. Ids are keys:
    * a candidate whose id names several rows of `docs` gets one output
    * row per pairing of their texts.
    */
  def verifyPairs(candidates: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, ngram: Int, threshold: Double): DataFrame = {
    // the candidate relation's DAG (banding + estimate filter) must run
    // exactly once, not once per consumer — AND its logical plan must
    // not ride into the id set, the semi-join and both text joins: the
    // candidate tree embeds the banding self-joins and signature scans
    // several times over, and every chained operation below re-runs the
    // ANALYZER over the whole accumulated tree. The slim cached view
    // keeps the run-once semantics while handing downstream a one-node
    // plan.
    val cands = scopedCacheSlim(candidates.select("a_id", "b_id").distinct())
    val touched = cands.select(col("a_id").as("t_id"))
      .union(cands.select(col("b_id").as("t_id"))).distinct()
    val texts = docs
      .join(broadcast(touched), docs(idCol) === touched("t_id"), "left_semi")
      .select(col(idCol).as("t_id"), col(textCol).as("t_text"))
    cands
      .join(texts.as("ta"), col("a_id") === col("ta.t_id"))
      .join(texts.as("tb"), col("b_id") === col("tb.t_id"))
      // explode of a one-element array: a filter on a projected column is
      // pushed below the projection (here into the join condition) as a
      // second copy of the expression, while a filter on a generated
      // column stays above the Generate — each Jaccard is computed once
      .select(col("a_id"), col("b_id"), explode(array(NgramJaccard.ngramJaccard(
        col("ta.t_text"), col("tb.t_text"), ngram))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash signatures: (doc_id, sig: array<bigint>) with `numPerm` values,
    * sig_i = min over the text's `ngram`-word shingles of (a_i*h + b_i)
    * mod P — a genuine approximate permutation of the 31-bit base-hash
    * space, so P(sig_i(A) = sig_i(B)) = J(A,B) independently per position.
    * One narrow projection: [[graft.functions.MinHashSignature]] computes
    * each row's signature in place (no explode, no shuffle, no
    * aggregate). Rows whose text is null or shorter than `ngram` words
    * have no shingle and no signature, and are dropped. One output row per
    * input row: two rows sharing an id keep two signatures.
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int, numPerm: Int): DataFrame =
    // the row filter tests the word count, not `sig IS NOT NULL`: the
    // optimizer pushes a filter on `sig` below the projection as a second
    // copy of the signature expression, which would compute every
    // signature twice
    docs.where(size(split(col(textCol), " ")) >= ngram)
      .select(col(idCol).as("doc_id"),
        MinHashSignature.minHashSignature(col(textCol), ngram, numPerm).as("sig"))

  /** Banded signature rows (doc_id, band, bh): one row per document and
    * band, bh = hash of the band's signature slice. This IS the
    * persistable LSH index shape — see [[minhashBandIndex]].
    */
  def bandSignatures(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b, slice(sig, b*$rowsPerBand+1, $rowsPerBand)))"))
      .as(Seq("band", "bh")))

  /** LSH banding: candidate pairs whose signatures collide in >=1 band.
    * bands*rowsPerBand must equal the signature length.
    */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandSignatures(sigs, bands, rowsPerBand)
    val a = banded.select(col("doc_id").as("a_id"), col("band"), col("bh"))
    val b = banded.select(col("doc_id").as("b_id"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** MinHash+LSH near-duplicate pairs, verified with exact Jaccard.
    * Default 128 perms, 32 bands x 4 rows: band-collision probability is
    * J^4, so a pair at Jaccard J shares no band — and is missed — with
    * probability (1 - J^4)^32: 1.2% at the 0.6 threshold, 0.37% at 0.633,
    * 0.09% at 0.667, falling fast above. False-positive candidates from
    * incidentally-shared shingles stay rare — rows-per-band is THE scale
    * knob: with r=2 the candidate set grows quadratically on corpora with
    * overlapping vocabulary. Every reported pair is exact-verified, so
    * the output is a SUBSET of the exact [[jaccardPairs]] result; recall
    * is probabilistic, per pair, not guaranteed. The estimate pre-filter
    * below (margin 0.2) can drop further true pairs whose signature
    * agreement falls far under J. The d03 gate equals the exact result
    * only because its fixture has no pair that misses.
    *
    * Ids are keys: `docs` must hold one row per `idCol` value. Two rows
    * sharing an id get one signature each (banding never pairs them with
    * each other), and a candidate pair through that id is verified once
    * per pairing of its rows' texts ([[verifyPairs]]), so it can be
    * reported once per pairing that reaches the threshold.
    */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, ngram: Int = 3, numPerm: Int = 128,
      bands: Int = 32): DataFrame = {
    // cached: the banding self-join and the estimate joins read the
    // signatures four times (tiny relation, numPerm longs per doc)
    val sigs = scopedCache(minHashSignatures(docs, idCol, textCol, ngram,
      numPerm))
    val rawCands = lshCandidates(sigs, bands, numPerm / bands)
    // MinHash-estimate pre-filter: sig agreement is an unbiased estimate of
    // J with sigma = sqrt(J(1-J)/numPerm) (0.043 at J = 0.6); the margin is
    // about 4.6 sigma, so a true pair is rarely dropped here while the
    // incidental band collisions are, and exact verification only touches
    // near-certain pairs
    val margin = 0.2
    val sa = sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b"))
    val cands = rawCands.join(sa, "a_id").join(sb, "b_id")
      .withColumn("est", expr(
        s"aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v) / cast($numPerm as double)"))
      .filter(col("est") >= threshold - margin)
      .select("a_id", "b_id")
    verifyPairs(cands, docs, idCol, textCol, ngram, threshold)
  }

  /** Banded MinHash signature index of a corpus: (doc_id, band, bh), the
    * structure an INCREMENTAL dedup pipeline persists between ingest
    * batches. Permutations are deterministic, so an index built today
    * collides correctly with signatures computed tomorrow. At scale,
    * write it bucketed by (band, bh) — the per-batch probe join is then
    * shuffle-free on the index side, and the index grows by appending
    * each batch's [[bandSignatures]].
    *
    * Ids are keys: a document id must name one row. Each row is banded
    * on its own, so two rows sharing an id index two signatures under
    * that id (the id collides if either row does).
    */
  def minhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, numPerm: Int = 128, bands: Int = 32): DataFrame =
    bandSignatures(minHashSignatures(docs, idCol, textCol, ngram, numPerm),
      bands, numPerm / bands)

  /** Incremental MinHash+LSH near-duplicates: all near-dup pairs that
    * TOUCH a newly ingested batch — new-vs-indexed-corpus plus
    * new-vs-new — without recomputing anything over the existing corpus
    * except the exact-verification texts of the touched documents (a
    * semi-join pulls just those). The daily-ingest shape at corpus
    * scale: per-batch cost is proportional to the batch and its
    * collision set, never the corpus.
    *
    * `corpus` must contain every document (old and new) so candidates
    * can be exactly verified; `index` is [[minhashBandIndex]] of the
    * PRE-EXISTING corpus (excluding the batch), built with identical
    * (ngram, numPerm, bands). Every reported pair is exact-verified, so
    * the output is a subset of the exact Jaccard join restricted to pairs
    * touching the batch. Recall is probabilistic, as in
    * [[minhashNearDuplicates]]: with d03's parameters a pair at Jaccard J
    * is missed with probability (1 - J^4)^32 (1.2% at 0.6, 0.09% at
    * 0.667; this path has no estimate pre-filter). The d12 gate equals
    * its exact oracle only because the fixture has no pair that misses;
    * the `dedup_ingest` benchmark's seeds 14 and 49 do have one each.
    *
    * Ids are keys, in `newDocs`, `corpus` and `index` alike: a batch row
    * whose id repeats another batch row is banded per row, and exact
    * verification ([[verifyPairs]]) pairs every corpus row under one
    * candidate id with every row under the other, so a repeated id gets
    * one Jaccard per pairing of texts.
    */
  def incrementalMinhashNearDuplicates(newDocs: DataFrame, corpus: DataFrame,
      index: DataFrame, idCol: String, textCol: String, threshold: Double,
      ngram: Int = 3, numPerm: Int = 128, bands: Int = 32): DataFrame = {
    // cached: both probes read the batch's banded signatures
    val newBanded = scopedCache(bandSignatures(
      minHashSignatures(newDocs, idCol, textCol, ngram, numPerm),
      bands, numPerm / bands))
    val n = newBanded.select(col("doc_id").as("n_id"), col("band"), col("bh"))
    val o = index.select(col("doc_id").as("o_id"), col("band"), col("bh"))
    // new-vs-old collisions; the self-pair guard matters when the index
    // ALREADY contains a batch doc (a retried / partially appended ingest
    // batch) — without it every such doc surfaces as its own duplicate.
    // The BATCH side broadcasts: this is the whole point of the
    // incremental shape — the corpus-sized band INDEX must never
    // shuffle for a batch probe (a sort-merge here re-exchanges and
    // re-sorts the index every ingest). The batch's banded signatures
    // are bands rows per new doc — megabytes for any sane ingest batch;
    // a batch too large to broadcast should go through the full
    // minhashNearDuplicates rebuild instead.
    val vsOld = o.join(broadcast(n), Seq("band", "bh"))
      .filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
    // ... plus new-vs-new collisions within the batch
    val m = newBanded.select(col("doc_id").as("m_id"), col("band"), col("bh"))
    val vsNew = n.join(broadcast(m), Seq("band", "bh"))
      .filter(col("n_id") < col("m_id"))
      .select(col("n_id").as("a_id"), col("m_id").as("b_id"))
    // exact verification touches only candidate documents: verifyPairs
    // prunes the corpus scan with a BROADCAST semi-join on the
    // collision-sized candidate id set — never an exchange of the corpus
    // by id
    verifyPairs(vsOld.union(vsNew), corpus, idCol, textCol, ngram, threshold)
  }

  /** MinHash+LSH near-duplicates with exact-duplicate pre-collapse — the
    * corpus-scale composition. Exact copies have identical signatures, so
    * they collide in EVERY band and the candidate set grows with the
    * square of copy multiplicity (measured: 4x-duplicated corpus made the
    * plain path 8x slower while true near-dup work was unchanged). The
    * cheap hash-groupBy collapse runs first, MinHash sees unique texts
    * only, and reported pairs are between keep-representatives (min doc
    * id per exact-duplicate group) — on a corpus without exact copies the
    * output is identical to [[minhashNearDuplicates]].
    */
  def minhashNearDuplicatesUnique(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double, ngram: Int = 3, numPerm: Int = 128,
      bands: Int = 32): DataFrame = {
    val reps = docs.groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as("doc_id"), first(col(textCol)).as("__text"))
      .select(col("doc_id"), col("__text"))
    minhashNearDuplicates(reps, "doc_id", "__text", threshold, ngram,
      numPerm, bands)
  }

  /** 64-bit SimHash per document over a (doc_id, feature) set. Shingle
    * features track n-gram Jaccard much more tightly than word features
    * (removing one word from a doc flips every borderline bit when features
    * are words, but only ~n shingles when features are n-grams), which keeps
    * the hamming radius of true near-dups small enough for chunk banding.
    * Output: (doc_id, simhash: bigint).
    */
  def simHashSignatures(features: DataFrame): DataFrame = {
    val words = features.withColumn("h", xxhash64(col(features.columns(1))))
    val bitSums: Seq[Column] = (0 until 64).map { j =>
      sum(when(expr(s"shiftright(h, $j) & 1") === 1, 1).otherwise(-1)).as(s"b$j")
    }
    words.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"b$j") > 0, expr(s"shiftleft(cast(1 as bigint), $j)")).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Smallest power-of-two chunk count that pigeonhole-covers `maxHamming`:
    * with c chunks over a 64-bit signature, any pair at hamming < c shares
    * at least one exact chunk, so recall 1 needs c >= maxHamming + 1.
    */
  def simhashChunksFor(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < 64)
    Seq(1, 2, 4, 8, 16, 32, 64).find(_ > maxHamming).get
  }

  /** SimHash near-duplicates. Candidate recall is a pigeonhole argument:
    * with `numChunks` chunks, any pair with hamming < numChunks shares at
    * least one exact chunk — so `numChunks` is COUPLED to `maxHamming` and
    * defaults to [[simhashChunksFor]] (the smallest power of two that
    * guarantees recall). The coupling is the scale trade-off of SimHash
    * banding: chunk width is 64/numChunks bits, so the bucket space per
    * chunk is 2^(64/numChunks) values. A tight radius (hamming <= 3, the
    * classic Manber/Google setting) gives 4 chunks x 16-bit buckets —
    * 65k bucket values, scale-safe. A loose radius (e.g. 12, needed when
    * true pairs are only Jaccard ~0.6 and their signatures drift far apart)
    * forces 16 chunks x 4-bit buckets — 16 values per chunk, candidates
    * ~n²/16 per chunk: quadratic on large corpora. For loose thresholds at
    * scale, prefer [[minhashNearDuplicates]] — its bucket space grows with
    * the data instead of being fixed by the signature width.
    */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, jaccardThreshold: Double, ngram: Int = 3,
      numChunksOverride: Option[Int] = None): DataFrame = {
    val numChunks = numChunksOverride.getOrElse(simhashChunksFor(maxHamming))
    val sh = scopedCache(shinglesStr(docs, idCol, textCol, ngram))
    val sigs = simHashSignatures(sh)
    val bits = 64 / numChunks
    val mask = (1L << bits) - 1
    val chunked = sigs.select(col("doc_id"), col("simhash"), posexplode(expr(
      s"transform(sequence(0, ${numChunks - 1}), c -> shiftright(simhash, c*$bits) & $mask)"))
      .as(Seq("chunk", "cv")))
    val a = chunked.select(col("doc_id").as("a_id"), col("simhash").as("sig_a"),
      col("chunk"), col("cv"))
    val b = chunked.select(col("doc_id").as("b_id"), col("simhash").as("sig_b"),
      col("chunk"), col("cv"))
    val cands = a.join(b, Seq("chunk", "cv"))
      .filter(col("a_id") < col("b_id"))
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxHamming)
    // exact verification reads the texts: string shingles and word
    // slices name the same set, so the Jaccard is the one of `sh`'s sets
    verifyPairs(cands, docs, idCol, textCol, ngram, jaccardThreshold)
  }

  /** Brute-force embedding cosine near-duplicates (tiny-data baseline; the
    * inequality join plans as a nested-loop product, so this exists only as
    * the correctness reference for the blocked/LSH paths below).
    * Output: (a_id, b_id, cos_sim). Embeddings are cast to double before any
    * arithmetic so results match engines that compute in float64.
    */
  def embeddingNearDuplicates(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = emb.select(col(idCol).cast("bigint").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val a = e.select(col("id").as("a_id"), col("v").as("va"))
    val b = e.select(col("id").as("b_id"), col("v").as("vb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        graft.functions.CosineSimilarity.cosineSim(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Exact embedding cosine threshold-join as a BLOCKED all-pairs equality
    * join — the distributed-exact path wired into the d05 gate.
    *
    * Why not LSH here: recall-1 LSH banding requires a similarity gap
    * between true pairs and the background. The fixture embeddings are
    * isotropic (pairwise cos ~ N(0, 1/dim); measured p99.99 = 0.452 at a
    * 0.45 threshold), i.e. background pairs approach the threshold
    * continuously — any banding scheme with recall 1 would have to retain
    * essentially all pairs. Exact threshold-joins on gapless data are
    * inherently Θ(n²) comparisons; the scale question is only HOW those
    * comparisons are distributed. This operator answers it the standard
    * way — the classic TRIANGLE join: hash each id into one of
    * `numBlocks` blocks, materialize the (numBlocks·(numBlocks+1)/2)
    * unordered block pairs as a tiny broadcast relation, replicate BOTH
    * sides to their block pairs, and compute each doc pair exactly once
    * inside an equality join on the COMPOSITE (ba, bb) key. The
    * composite key matters at scale: joining on the partner block alone
    * has only B distinct shuffle keys, so a 1000-executor cluster would
    * run B tasks — pair keys give B(B+1)/2-way parallelism for a B-factor
    * replication of the shuffle (the standard all-pairs trade; size B to
    * the cluster, ~sqrt(2·parallelism)). The plan contains no
    * CartesianProduct / BroadcastNestedLoopJoin; every task holds one
    * block-pair (n²/B² comparisons, B sized so a block fits in executor
    * memory). For corpora with a genuine near-dup gap (cos ≥ ~0.9),
    * [[embeddingNearDuplicatesLsh]] is the sub-quadratic route.
    */
  def embeddingNearDuplicatesBlocked(emb: DataFrame, idCol: String,
      vecCol: String, threshold: Double, numBlocks: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // cast float->double ONCE per row, not inside the pair expression:
    // cosineSim wraps its inputs in a cast to array<double>, and left on
    // the joined columns that cast re-allocates both 64-element arrays
    // for every one of the n^2/2 pairs; pre-cast rows make it a no-op
    // (SimplifyCasts) and the pair work a single allocation-free pass
    val e = emb.select(col(idCol).cast("bigint").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(numBlocks)).cast("int"))
    // all unordered block pairs (ba <= bb): B(B+1)/2 rows, broadcast side
    val blockPairs = (for { i <- 0 until numBlocks; j <- i until numBlocks }
      yield (i, j)).toDF("ba", "bb")
    val a = e.select(col("id").as("a_id"), col("v").as("va"),
      col("blk").as("ba"))
      .join(broadcast(blockPairs), "ba") // replicate to partner pairs
    val b = e.select(col("id").as("b_id"), col("v").as("vb"),
      col("blk").as("bb"))
      .join(broadcast(blockPairs), "bb") // replicate to partner pairs
    // SHUFFLE_HASH: with B(B+1)/2 distinct composite keys and huge
    // many-to-many groups, sort-merge pays two sorts for nothing — the
    // hash join builds one side's block per task and streams the other
    a.join(b.hint("SHUFFLE_HASH"), Seq("ba", "bb"))
      // same-block pairs appear from both sides — keep one; cross-block
      // pairs appear exactly once (each (ba, bb) cell pairs block ba's
      // a-rows with block bb's b-rows only)
      .filter(col("ba") =!= col("bb") || col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        graft.functions.CosineSimilarity.cosineSim(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Connected components over an undirected edge set by iterative
    * min-label propagation: every vertex ends with the smallest vertex id
    * reachable from it. This is the step that turns near-duplicate PAIRS
    * into duplicate CLUSTERS (keep one representative per component — a
    * chain a~b~c must collapse to one kept doc even though (a,c) was
    * never emitted as a pair).
    *
    * Scale shape: each round is one edges-⋈-labels join + a min
    * aggregation — all equality shuffles, no driver-side graph. Labels
    * are localCheckpointed per round: iterative self-joins otherwise
    * stack exponentially-growing lineage. Convergence detection rides
    * INSIDE the same materializing job via `observe()` (a CollectMetrics
    * sum of changed labels) — no separate count() job per round.
    *
    * Rounds needed: component diameter with `shortcut = false` (fine for
    * the tiny cliques/short chains near-dup graphs produce), or
    * O(log diameter) with `shortcut = true`, which adds one
    * pointer-doubling self-join per round (label(v) := label(label(v)),
    * the path-halving of Shiloach-Vishkin / the star-contraction family
    * of Kiveris et al.) — the right trade on long-chain graphs, and the
    * output is identical either way. Measured on the near-dup fixture
    * (clique-shaped components, diameter ~2) always-on doubling is ~2x
    * SLOWER end to end — the extra self-join buys no rounds — so the
    * default is ADAPTIVE (`autoShortcut`): propagation starts plain and
    * doubling switches on mid-run iff the per-round changed-label count
    * stops halving, the signature of long chains (each plain round on a
    * chain moves only the frontier, so `changed` decays slowly; on
    * cliques it collapses to 0 in 2-3 rounds and doubling never fires).
    * Output: (id, component) for every vertex in `vertices`.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 30, shortcut: Boolean = false,
      autoShortcut: Boolean = true): DataFrame =
    connectedComponentsWithStats(vertices, edges, maxRounds, shortcut,
      autoShortcut)._1

  /** [[connectedComponents]] plus the number of rounds actually run —
    * the observable the convergence specs assert on.
    */
  def connectedComponentsWithStats(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 30, shortcut: Boolean = false,
      autoShortcut: Boolean = true): (DataFrame, Int) = {
    // materialize the (possibly expensive) edge pipeline ONCE: every
    // round's job re-reads the symmetrized edges, and without this
    // barrier each round would recompute the full upstream candidate
    // generation (for duplicateClusters that is the entire MinHash+LSH
    // pipeline — the dominant cost, paid diameter+1 times). The slim
    // bounded cache replaces the per-invocation eager checkpoint: same
    // one-node downstream plan, but the pipeline runs once per corpus,
    // not once per call
    val sym = scopedCacheSlim(
      edges.select(col("a_id").as("u"), col("b_id").as("v"))
        .union(edges.select(col("b_id").as("u"), col("a_id").as("v"))))
    // iterate over edge ENDPOINTS only: a vertex with no edge can never
    // change its label, so singletons sit out the loop entirely and
    // rejoin at the end as their own component. At corpus scale the
    // duplicate graph is orders of magnitude smaller than the corpus —
    // per-round shuffles size with the dup set, not the dataset.
    var labels = sym.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    var round = 0
    var converged = false
    var doubling = shortcut
    var prevChanged = Long.MaxValue
    while (round < maxRounds && !converged) {
      // candidate label for v: min label among v and its neighbours
      val viaNeighbor = sym
        .join(labels.withColumnRenamed("id", "u"), "u")
        .select(col("v").as("id"), col("component"))
      val propagated = labels.select(col("id"), col("component"))
        .union(viaNeighbor)
        .groupBy("id").agg(min(col("component")).as("component"))
      // pointer doubling: follow the label's own label one hop, halving
      // chain depth per round (left join: a label that is already a
      // component root maps to itself)
      val jumped = if (doubling) {
        val parent = propagated
          .select(col("id").as("component"), col("component").as("jump"))
        propagated.join(parent, Seq("component"), "left")
          .select(col("id"),
            coalesce(col("jump"), col("component")).as("component"))
      } else propagated
      val obs = org.apache.spark.sql.Observation()
      labels = jumped
        .join(labels.withColumnRenamed("component", "old"), "id")
        .select(col("id"), col("component"),
          (col("component") =!= col("old")).cast("long").as("chg"))
        .observe(obs, coalesce(sum(col("chg")), lit(0L)).as("changed"))
        .select("id", "component")
        .localCheckpoint(true) // the one job of the round; fires the metric
      val changed = obs.get("changed").asInstanceOf[Long]
      // changed-count decay rides the same observed metric: on chains a
      // plain round advances only the frontier (changed stays flat), so
      // switch doubling on for the remaining rounds
      if (!doubling && autoShortcut && changed > 0L && changed * 2 > prevChanged)
        doubling = true
      prevChanged = changed
      converged = changed == 0L
      round += 1
    }
    // singletons (and any vertex absent from the edge set) are their own
    // component; one outer join at the end instead of riding every round
    val all = vertices.select(col("id"))
      .join(labels.withColumnRenamed("component", "comp"), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
    (all, round)
  }

  /** Near-duplicate CLUSTERS of a document corpus: MinHash+LSH pairs →
    * connected components → (doc_id, cluster_id, is_kept) where
    * cluster_id is the smallest doc id in the component and exactly the
    * cluster's minimum is kept. Singleton documents are their own
    * cluster. The end-to-end keep/drop decision a dedup pipeline actually
    * ships — pairs alone under-delete transitive chains.
    */
  def duplicateClusters(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, ngram: Int = 3): DataFrame =
    duplicateClustersFromPairs(docs,
      minhashNearDuplicates(docs, idCol, textCol, threshold, ngram), idCol)

  /** Corpus-level SPAN deduplication — the paragraph-dedup shape of the
    * CCNet / MassiveText pipelines adapted to unstructured text: each
    * document splits into consecutive `span`-token blocks, a block
    * occurrence is DROPPED iff an identical block occurred earlier in
    * corpus order (doc_id, then block index — first occurrence wins,
    * including within one document), and every document reassembles from
    * its surviving blocks in original order. Removes boilerplate and
    * copied passages WITHOUT dropping whole documents — the
    * finer-grained sibling of document-level dedup (d01/d03).
    *
    * Scale shape: global first-occurrence is ONE hash aggregation
    * (min (doc_id, idx) per block text) plus one equality join back —
    * never a global ordered window; reassembly sorts each document's
    * own ≤ len/span blocks inside a per-doc aggregate. Cost is two
    * shuffles of the block relation, both keyed well (block text, then
    * doc id). Documents with no tokens are not emitted (they have no
    * blocks; callers keep them with a left join from the corpus).
    * Output: (doc_id, text_dedup, n_blocks, n_kept).
    */
  def spanDeduplicate(docs: DataFrame, idCol: String, textCol: String,
      span: Int = 4): DataFrame = {
    // cached: the block arrays feed BOTH the dedup pipeline and the
    // per-doc totals projection — uncached, the corpus-wide
    // split/transform/concat_ws would run twice
    val base = scopedCache(docs
      .select(col(idCol).cast("bigint").as("doc_id"),
        expr(s"filter(split($textCol, ' '), w -> w != '')").as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), expr(
        s"transform(sequence(0, cast(ceil(size(w) / ${span}.0) as int) - 1), " +
          s"i -> concat_ws(' ', slice(w, i * $span + 1, $span)))").as("blks")))
    // one block-keyed exchange shared by the first-occurrence aggregate
    // and the keep join (both cluster by block text): the explode over
    // the cached block arrays runs once into one shuffle instead of
    // once per consumer
    val blocks = base
      .select(col("doc_id"), posexplode(col("blks")).as(Seq("idx", "block")))
      .repartition(col("block"))
    val firsts = blocks.groupBy("block")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    val kept = blocks.join(firsts, "block")
      .filter(col("doc_id") === col("first.doc_id") &&
        col("idx") === col("first.idx"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("idx"), col("block"))))
          .as("ks"),
        count(lit(1)).as("n_kept"))
      .select(col("doc_id"),
        expr("concat_ws(' ', transform(ks, x -> x.block))").as("text_dedup"),
        col("n_kept"))
    // per-doc totals come from the UNEXPLODED block arrays: a narrow
    // projection, where a blocks.groupBy(doc_id).count() would pay a
    // third explode plus a whole extra shuffle of the block relation
    base.select(col("doc_id"), size(col("blks")).cast("bigint").as("n_blocks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("n_blocks"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Per-group duplication-rate rollup — the observability surface a
    * production dedup pipeline publishes after pair mining: for each
    * value of `groupCol` (source, language, shard, crawl...), how many
    * documents exist and how many participate in at least one
    * near-duplicate pair. Consumes any pair relation `(a_id, b_id, ...)`
    * — exact, MinHash, SimHash or embedding pairs alike.
    *
    * Scale shape: the pair relation explodes to its endpoint ids and
    * distincts (cost ∝ pairs, never corpus), then one left join against
    * the id+group projection of the corpus and a per-group count —
    * document text is never touched. Output: (group_key, n_docs,
    * n_dup_docs, dup_frac).
    */
  def dedupReport(docs: DataFrame, pairs: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    val dupIds = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
      .withColumn("is_dup", lit(1))
    docs.select(col(idCol).cast("bigint").as("doc_id"),
        col(groupCol).cast("string").as("group_key"))
      .join(dupIds, Seq("doc_id"), "left")
      .groupBy("group_key")
      .agg(count(lit(1)).as("n_docs"),
        count(col("is_dup")).as("n_dup_docs"))
      .withColumn("dup_frac",
        round(col("n_dup_docs") / col("n_docs"), 4))
  }

  /** [[duplicateClusters]] over an already-materialized pair relation
    * (a_id, b_id[, ...]) — the production shape: at corpus scale the
    * pair-mining job persists its pairs and cluster formation consumes
    * the pair TABLE, so re-clustering (new threshold, new keep policy)
    * never re-runs MinHash over the corpus.
    */
  def duplicateClustersFromPairs(docs: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val vertices = docs.select(col(idCol).cast("bigint").as("id"))
    connectedComponents(vertices, pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("is_kept"))
  }

  /** Sentinel: derive rows-per-band from the corpus size (see
    * [[autoRowsPerBand]]). */
  val AutoRowsPerBand: Int = -1

  /** Collision-bounded rows-per-band: expected RANDOM bucket collisions
    * are ~numBands·n²/2^r total, so r = ⌈log₂(numBands·n /
    * targetPairsPerRow)⌉ keeps expected random candidate pairs linear in
    * the corpus (≤ targetPairsPerRow per row) — the scale knob the
    * r11/r12 trend flights identified, now self-adjusting. Clamped to
    * [8, 24]: below 8 the buckets are too coarse to help; at r = 24 the
    * per-pair recall 1-(1-p^r)^numBands still exceeds 0.99 at 64 bands
    * for true near-dups (cosine ≥ 0.95, per-plane agreement p ≈ 0.90)
    * but decays for boundary pairs near a 0.9 threshold — the same
    * gapped-corpus requirement the fixed knob already documented. */
  def autoRowsPerBand(n: Long, numBands: Int,
      targetPairsPerRow: Double = 4.0): Int = {
    val raw = math.ceil(math.log(
      numBands.toDouble * math.max(n, 1L) / targetPairsPerRow) /
      math.log(2.0)).toInt
    math.min(24, math.max(8, raw))
  }

  /** LSH-banded embedding near-duplicates: random-hyperplane bucketing
    * ([[Similarity.rhpBuckets]]) generates candidates via an equality join
    * on (band, bucket); exact cosine verifies candidates only — the
    * embedding analog of the d02→d03 MinHash move. Sub-quadratic whenever
    * the corpus has a real similarity gap: at a near-dup threshold of 0.9
    * the per-plane agreement is 1 - acos(0.9)/pi ~ 0.856, so the default
    * 32 bands x 12 rows give per-pair recall 1-(1-0.856^12)^32 > 0.995
    * while a random background pair (cos~0) survives a band with
    * probability 2^-12. NOT suitable for gapless/low thresholds (see
    * [[embeddingNearDuplicatesBlocked]]): recall decays as the threshold
    * approaches the background distribution.
    */
  def embeddingNearDuplicatesLsh(emb: DataFrame, idCol: String,
      vecCol: String, threshold: Double, numBands: Int = 32,
      rowsPerBand: Int = AutoRowsPerBand, seed: Long = 7L,
      dim: Option[Int] = None): DataFrame = {
    // collision-bounded default: the fixed knob hits the ~n²/2^r random-
    // collision wall at scale (the r11/r12 scale-trend flights measured
    // it); deriving r from the corpus size keeps expected random
    // collisions per row bounded while candidate verification stays
    // exact-cosine (extra collisions never change the output — only
    // recall is at stake; see autoRowsPerBand's recall envelope)
    val r = if (rowsPerBand == AutoRowsPerBand)
      autoRowsPerBand(emb.count(), numBands) else rowsPerBand
    val bk = Similarity.rhpBuckets(emb, idCol, vecCol, numBands, r,
      seed, dim = dim)
    val a = bk.select(col("id").as("a_id"), col("band"), col("bucket"))
    val b = bk.select(col("id").as("b_id"), col("band"), col("bucket"))
    val cands = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val e = emb.select(col(idCol).cast("bigint").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    cands
      .join(e.select(col("id").as("a_id"), col("v").as("va")), "a_id")
      .join(e.select(col("id").as("b_id"), col("v").as("vb")), "b_id")
      .withColumn("cos_sim",
        graft.functions.CosineSimilarity.cosineSim(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos_sim"), 4).as("cos_sim"))
  }
}
