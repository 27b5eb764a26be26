package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Bpe, Clustering, Curation, Dedup, Graphs, Multimodal, Perceptron, Similarity, TextAnalysis}

/** LLM-data-pipeline query surface (dedup, similarity search, text analysis,
  * multimodal decode) over the `documents`/`embeddings` fixtures — every
  * entry carries a DuckDB oracle. Approximate operators (LSH/IVF ANN) get
  * HARD oracles by running over a planted gapped corpus where their recall
  * is provably 1, so their output must equal the exact path (the same move
  * d03 makes against the exact d02 Jaccard result).
  */
object LlmQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Stage (once per fixture fingerprint) the persisted IVF index over
    * the planted gapped corpus — the static side shared by the batch
    * probe gate (s05) and the streaming serve gate (st07). Centroids are
    * a plain parquet, assignments are cell-partitioned so probes prune
    * to their nProbe cells. */
  private def stagedIvfIndexDir(s: SparkSession, dir: String): String =
    Staged.dir("graft_ivfidx_", dir) { root =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      val (centroids, assignments) = Similarity.ivfIndex(planted,
        "vec_id", "embedding", nlist = 16)
      centroids.write.mode("overwrite").parquet(s"$root/centroids")
      assignments.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$root/assignments")
    }

  /** Stage (once per fixture fingerprint) the persisted PQ index over
    * the planted gapped corpus: trained codebooks as a tiny (m, k,
    * centroid) parquet and the corpus CODES (vec_id, codes: array<int>)
    * — numSub small ints per vector, the compressed scan the ADC probe
    * reads instead of the float embeddings. */
  private def stagedPqIndexDir(s: SparkSession, dir: String): String =
    Staged.dir("graft_pqidx_", dir) { root =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      val cb = Similarity.pqTrainCodebooks(planted, "vec_id", "embedding",
        numSub = 8, codebookSize = 32, iters = 10, dim = Some(64))
      Similarity.codebooksDf(s, cb).write.mode("overwrite")
        .parquet(s"$root/codebooks")
      Similarity.pqEncode(planted, "vec_id", "embedding", cb,
          idOut = "neighbor_id")
        .write.mode("overwrite").parquet(s"$root/codes")
    }

  /** Staging directory for the streaming gates: the file stream source
    * requires a DIRECTORY, so the single events file is copied into one.
    * It is staged once per data fingerprint: repeated invocations —
    * verify, five bench reps — copy zero new bytes.
    */
  private def stagedEventsDir(dir: String): String =
    Staged.dir("graft_stream_", dir) { staged =>
      import java.nio.file.{Files, Paths}
      Files.createDirectories(Paths.get(staged))
      Files.copy(Paths.get(s"$dir/events.parquet"),
        Paths.get(staged, "events.parquet")): Unit
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup groups (hash-groupBy on content digest)
    "d01_dedup_exact" -> { (s, dir) =>
      Dedup.exactDuplicateGroups(docs(s, dir), "doc_id", "text")
        .select(col("digest"), col("n_copies"), col("keep_id"))
        .orderBy(col("keep_id"))
    },

    // exact word-3-gram Jaccard near-dup pairs (inverted-index join)
    "d02_dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.jaccardPairs(Dedup.shingles(docs(s, dir), "doc_id", "text", 3), 0.6)
    },

    // the d02 inverted-index join WITH the stop-shingle skew guard ON:
    // shingles in more than autoShingleDocFreqCap(n) documents are dropped
    // before the join (they cost O(df^2) candidate rows each and buy no
    // precision), and Jaccard is computed exactly over the PRUNED shingle
    // universe — which the oracle reproduces with the same cap, so the
    // 100 TB skew path is hash-verified instead of merely documented
    "d10_dedup_jaccard_guarded" -> { (s, dir) =>
      val d = docs(s, dir)
      // corpus size via the fingerprint-keyed stats cache: warm runs pay
      // no count() job at plan-construction time (the cache persists
      // across JVMs alongside the optimizer gates' probe cache)
      val stats = graft.OptQueries.statsFor(s, dir)
      val corpusSize = stats.rowCount(d.queryExecution.analyzed)
      Dedup.jaccardPairs(Dedup.shingles(d, "doc_id", "text", 3), 0.6,
        maxShingleDocFreq = Some(Dedup.autoShingleDocFreqCap(corpusSize)))
    },

    // MinHash+LSH with exact-Jaccard verification: candidates via banding,
    // so the output is a subset of the exact d02 result. Recall is
    // probabilistic (a pair at J misses with probability (1 - J^4)^32,
    // 1.2% at 0.6); the gate equals d02 because the fixture has no pair
    // that misses
    "d03_dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashNearDuplicates(docs(s, dir), "doc_id", "text", 0.6)
    },

    // INCREMENTAL dedup in the gate — the daily-ingest shape: even doc
    // ids play the pre-existing indexed corpus, odd ids the newly
    // ingested batch. The batch probes the persisted band index
    // (new-vs-old) plus itself (new-vs-new). With d03's parameters the
    // result is a subset of the exact Jaccard join RESTRICTED to pairs
    // touching the batch — which the oracle computes from scratch with
    // the parity predicate; it equals it because no fixture pair misses
    // the banding (per-pair miss probability (1 - J^4)^32, 1.2% at 0.6)
    "d12_dedup_incremental" -> { (s, dir) =>
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") % 2 === 1)
      // the index is PERSISTED in production — stage it once per fixture
      // so the gate measures the actual per-batch probe, not an index
      // rebuild per run
      val idxDir = Staged.dir("graft_mhidx_", dir) { p =>
        Dedup.minhashBandIndex(d.filter(col("doc_id") % 2 === 0),
            "doc_id", "text")
          .write.mode("overwrite").parquet(p)
      }
      Dedup.incrementalMinhashNearDuplicates(batch, d,
          s.read.parquet(idxDir), "doc_id", "text", 0.6)
        .orderBy(col("a_id"), col("b_id"))
    },

    // sequence PACKING: concat-and-chunk the curated document stream
    // into 512-token training sequences via a TWO-LEVEL distributed
    // prefix sum (chunk size 64 so the gate actually exercises the
    // chunk-base composition); the oracle recomputes the same cut
    // points with one global window in DuckDB
    "d13_sequence_packing" -> { (s, dir) =>
      Curation.packSequences(docs(s, dir), "doc_id", "text",
          budget = 512, chunkSize = 64)
        .orderBy(col("doc_id"))
    },

    // tokenizer-AWARE packing: the packer fed by the learned BPE
    // vocabulary's piece counts (segmentCounts) instead of whitespace
    // counts — the composition a real pipeline ships, since training
    // budgets are measured in model tokens
    "d26_token_packing" -> { (s, dir) =>
      val lens = Bpe.segmentCounts(docs(s, dir), "doc_id", "text",
        numMerges = 6)
      Curation.packByLengths(lens, "doc_id", "n_pieces",
          budget = 512, chunkSize = 64)
        .orderBy(col("doc_id"))
    },

    // deterministic training-order SHUFFLE: seed-reproducible affine
    // permutation ranks via the two-level prefix sum (16 buckets so the
    // gate exercises the bucket-base composition); the oracle recomputes
    // the same keys with the shared constants and one global row_number
    "d14_corpus_shuffle" -> { (s, dir) =>
      Curation.shuffleRanks(docs(s, dir), "doc_id", seed = 7L,
          nBuckets = 16)
        .orderBy(col("doc_id"))
    },

    // data MIXING: exact per-language document counts picked in
    // seed-shuffled order (de absent from the targets -> dropped; the en
    // target exceeds nothing at sf0.01, zh undershoots its stratum);
    // oracle recomputes with the shared constants and one per-stratum
    // window
    "d15_corpus_mix" -> { (s, dir) =>
      Curation.mixCorpus(docs(s, dir), "doc_id", "lang",
          Map("en" -> 120L, "zh" -> 25L, "fr" -> 40L, "es" -> 1000L),
          seed = 11L, nBuckets = 16)
        .orderBy(col("doc_id"))
    },

    // SimHash 64-bit + chunk banding + hamming filter + exact verification
    "d04_dedup_simhash" -> { (s, dir) =>
      Dedup.simhashNearDuplicates(docs(s, dir), "doc_id", "text",
        maxHamming = 12, jaccardThreshold = 0.6)
        .orderBy(col("a_id"), col("b_id"))
    },

    // embedding-cosine near-dup pairs: exact blocked all-pairs — the plan
    // is equality joins on block ids (no CartesianProduct / BNLJ node),
    // every task one balanced block pair. Exact because the fixture
    // embeddings are isotropic (no similarity gap at the 0.45 threshold),
    // so recall-1 banding is impossible; gapped corpora take
    // Dedup.embeddingNearDuplicatesLsh instead (recall spec'd in
    // LlmOpsSpec on planted near-dups).
    "d05_dedup_embedding" -> { (s, dir) =>
      Dedup.embeddingNearDuplicatesBlocked(embs(s, dir), "vec_id",
          "embedding", 0.45)
        .orderBy(col("a_id"), col("b_id"))
    },

    // the SUB-QUADRATIC embedding dedup route with a HARD oracle: on the
    // planted gapped corpus the true pairs sit at cos >= ~0.9 (query-to-
    // planted at 0.95-0.98, planted siblings of one query at ~0.92), so
    // 64 bands x 10 rows recall every true pair with miss probability
    // < 1e-6 per pair and the banded output EQUALS the exact threshold
    // join, which the oracle computes brute-force over the identically
    // constructed corpus
    "d11_dedup_embedding_lsh" -> { (s, dir) =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      Dedup.embeddingNearDuplicatesLsh(planted, "vec_id", "embedding", 0.9,
          numBands = 64, rowsPerBand = 10, dim = Some(64))
        .orderBy(col("a_id"), col("b_id"))
    },

    // near-dup CLUSTERS: MinHash pairs -> connected components -> one kept
    // representative per component (transitive chains collapse correctly)
    "d07_dup_clusters" -> { (s, dir) =>
      val d = docs(s, dir)
      // near-dup pairs are PERSISTED in production (the pair-mining job's
      // output table; cluster formation consumes it) — stage them
      // fingerprint-keyed like d12's band index, so repeated invocations
      // measure cluster formation instead of a MinHash rebuild per rep
      val pairDir = Staged.dir("graft_mhpairs_", dir) { p =>
        Dedup.minhashNearDuplicates(d, "doc_id", "text", 0.6)
          .write.mode("overwrite").parquet(p)
      }
      Dedup.duplicateClustersFromPairs(d,
          s.read.parquet(pairDir), "doc_id")
        .orderBy(col("doc_id"))
    },

    // deterministic hash-based train/eval split (pure function of doc_id,
    // reproducible across engines and re-snapshots)
    "d08_train_eval_split" -> { (s, dir) =>
      TextAnalysis.trainEvalSplit(docs(s, dir), "doc_id", 0.125)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },

    // corpus vocabulary: top-50 tokens by frequency, deterministic ties
    "t05_vocab_topk" -> { (s, dir) =>
      TextAnalysis.vocabularyTopK(docs(s, dir), "text", 50)
    },

    // corpus encoded to token ids against a frequency-built vocabulary
    // (dense ranks over the top 32, OOV -> 0): the materialization step
    // between vocab mining (t05) and sequence packing (d13); the vocab
    // broadcasts, so the corpus never shuffles
    "t19_token_ids" -> { (s, dir) =>
      TextAnalysis.encodeTokenIds(docs(s, dir), "doc_id", "text", 32)
        .orderBy(col("doc_id"), col("pos"))
    },

    // BPE tokenizer TRAINING in-engine: 6 merge rounds over the
    // word-frequency dictionary (the corpus aggregates once; every
    // round after touches only the vocab). BIGINT pair counts +
    // byte-order tie-breaks + greedy left-to-right fold application
    // make the learned merge table bit-reproducible on any partitioning
    "t20_bpe_merges" -> { (s, dir) =>
      Bpe.mergesDf(docs(s, dir), "text", numMerges = 6)
    },

    // the BATCHED trainer's exact-greedy mode (batchSize=1) through the
    // same serial-replay oracle: batchSize=1 must be bit-identical to
    // the serial recipe, and this gate proves it
    "t25_bpe_merges_batched" -> { (s, dir) =>
      import s.implicits._
      Bpe.trainMergesBatched(docs(s, dir), "text", numMerges = 6,
          batchSize = 1)._1.flatten
        .map(m => (m.rank, m.lhs, m.rhs, m.count))
        .toDF("merge_rank", "lhs", "rhs", "pair_count")
    },

    // the k>1 batched path — the actual 32k-vocab scale claim: the
    // batched algorithm is deterministic, so its serial replay is a
    // DuckDB CTE chain with the greedy top-k disjoint admission
    // unrolled per round (Bpe.mergesBatchedOracleSql); this gates the
    // round batching + conflict admission + chain application logic
    // rows+schema+hash, not just by spec pin
    "t26_bpe_merges_batched_k4" -> { (s, dir) =>
      import s.implicits._
      Bpe.trainMergesBatched(docs(s, dir), "text", numMerges = 8,
          batchSize = 4)._1.flatten
        .map(m => (m.rank, m.lhs, m.rhs, m.count))
        .toDF("merge_rank", "lhs", "rhs", "pair_count")
    },

    // the corpus segmented with the learned vocabulary: per-document
    // piece counts after the 6 merges — the batch-sizer's input; corpus
    // side re-tokenizes narrowly and joins the vocab-sized dictionary
    "t21_bpe_segment" -> { (s, dir) =>
      Bpe.segmentCounts(docs(s, dir), "doc_id", "text", numMerges = 6)
        .orderBy(col("doc_id"))
    },

    // benchmark decontamination: distinct 3-gram overlap of an eval slice
    // (doc_id >= 490) against the training corpus (doc_id < 490)
    "t06_decontamination" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.contamination(d.filter(col("doc_id") < 490),
          d.filter(col("doc_id") >= 490), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // the bloom-pruned decontamination path: a broadcast bloom of the
    // eval shingles prunes the corpus side before the exact join — no
    // false negatives, false positives removed by the join, so the
    // output (and oracle) is IDENTICAL to t06's exact path
    "t11_decontaminate_bloom" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.contaminationBloom(d.filter(col("doc_id") < 490),
          d.filter(col("doc_id") >= 490), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // canonical normalization (lowercase, non-alnum -> space, collapse,
    // trim): every step engine-independent, hash-matched byte for byte
    "t12_normalize" -> { (s, dir) =>
      TextAnalysis.normalizeText(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // fixed-window token chunking with stride (the embedding/RAG window
    // split): window 40, stride 30 — chunk boundaries, sizes, and texts
    // all recomputed by the oracle with the same arithmetic
    "d16_doc_chunking" -> { (s, dir) =>
      TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text",
          window = 40, stride = 30)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // corpus-level SPAN dedup (the CCNet/MassiveText paragraph-dedup
    // shape): 4-token blocks, first occurrence in (doc_id, idx) order
    // wins, documents reassemble from surviving blocks — block strings,
    // counts and the rebuilt texts are all exactly recomputable
    "d17_span_dedup" -> { (s, dir) =>
      Dedup.spanDeduplicate(docs(s, dir), "doc_id", "text", span = 4)
        .orderBy(col("doc_id"))
    },

    // BM25 against a fixed seed-term query (the domain-mining scorer):
    // integer tf/df/dl statistics, shared closed-form scoring expression
    "t13_bm25" -> { (s, dir) =>
      TextAnalysis.bm25(docs(s, dir), "doc_id", "text",
          Seq("spark", "join", "merge"))
        .orderBy(col("doc_id"))
    },

    // per-source duplication-rate rollup over the MinHash pair relation
    // (the pairs are d03's: they equal the exact Jaccard join on this
    // fixture, where no pair misses the banding, so the report is exactly
    // recomputable)
    "d18_dedup_report" -> { (s, dir) =>
      val d = docs(s, dir)
      Dedup.dedupReport(d,
          Dedup.minhashNearDuplicates(d, "doc_id", "text", 0.6),
          "doc_id", "source")
        .orderBy(col("group_key"))
    },

    // percentile-band quality trim: keep docs inside the exact
    // [p10, p90] band of the composite quality score (the approximate
    // sketch path is spec-pinned)
    "t15_quality_band" -> { (s, dir) =>
      TextAnalysis.scoreBandFilter(
          TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
            .select(col("doc_id"), col("quality_score")),
          "quality_score", 0.1, 0.9)
        .orderBy(col("doc_id"))
    },

    // exact heavy hitters (freq > n/50) via per-partition Misra-Gries
    // candidates + exact recount — output provably equals the plain
    // HAVING-count query the oracle runs
    "t16_heavy_hitters" -> { (s, dir) =>
      TextAnalysis.heavyHitters(docs(s, dir), "text", 50)
        .orderBy(col("word"))
    },

    // CCNet-style perplexity filter: a smoothed bigram LM estimated from
    // the corpus scores every document's fluency; exact counts + closed-
    // form smoothing make the whole model SQL-recomputable
    "t17_perplexity" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.bigramPerplexity(d, d, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Gopher rule-based document filter: every published metric a narrow
    // per-row expression, verdict = the rule conjunction. The stop list
    // is fixture-tuned (the corpus vocabulary has no 'of'/'and'), which
    // the operator parameterizes exactly because real pipelines retune it
    "t22_gopher_rules" -> { (s, dir) =>
      TextAnalysis.gopherRules(docs(s, dir), "doc_id", "text",
          stopWords = Seq("the", "a", "customer", "data"))
        .orderBy(col("doc_id"))
    },

    // per-LANGUAGE percentile band trim — the grouped form of t15: one
    // grouped exact-percentile aggregation, bounds broadcast, corpus
    // never shuffles (no per-group window sort anywhere)
    "t23_quality_band_grouped" -> { (s, dir) =>
      val d = docs(s, dir)
      val scored = TextAnalysis.qualityScore(d, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.groupedScoreBandFilter(scored, "lang", "quality_score",
          0.1, 0.9)
        .select(col("doc_id"), col("lang"), col("quality_score"))
        .orderBy(col("doc_id"))
    },

    // corpus snapshot diff between two derived versions (v1 drops ids
    // ending in 3, v2 drops ids ending in 7 and revises multiples of 5):
    // digest-only full-outer join — text never shuffles
    "d23_snapshot_diff" -> { (s, dir) =>
      val d = docs(s, dir)
      val v1 = d.filter(col("doc_id") % 10 =!= 3)
      val v2 = d.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      Curation.snapshotDiff(v1, v2, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // corpus-side decontamination FILTER (the removal direction of t06):
    // per-doc totals in-row, bloom-pruned candidate hits, keep verdict
    "t24_decontaminate_filter" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.decontaminateCorpus(d.filter(col("doc_id") < 490),
          d.filter(col("doc_id") >= 490), "doc_id", "text",
          maxOverlap = 0.04)
        .orderBy(col("doc_id"))
    },

    // continuous ingest as append-log + compacted view: a revision
    // stream (rev 0 for all docs, rev 1 for multiples of 3, rev 2 for
    // multiples of 9) drains through foreachBatch into a
    // batch-partitioned log; the last-writer-wins compaction must equal
    // the batch recomputation regardless of micro-batch splits
    "st12_stream_upsert_compact" -> { (s, dir) =>
      val d = docs(s, dir)
      val boot = Staged.dir("graft_st12boot_", dir) { p =>
        val revs = d.select(col("doc_id"), lit(0).as("rev"), col("text"))
          .unionByName(d.filter(col("doc_id") % 3 === 0)
            .select(col("doc_id"), lit(1).as("rev"),
              concat(col("text"), lit(" r1")).as("text")))
          .unionByName(d.filter(col("doc_id") % 9 === 0)
            .select(col("doc_id"), lit(2).as("rev"),
              concat(col("text"), lit(" r2")).as("text")))
        revs.repartition(3).write.mode("overwrite")
          .parquet(s"$p/incoming")
      }
      val run = Staged.runDir("graft_st12run_")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rev",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.streaming.UpsertIngest.runAvailableNow(s,
          s"$boot/incoming", schema, s"$run/log")
        .orderBy(col("doc_id"))
    },

    // the RAG chain composed end to end: chunk -> deterministic 8-dim
    // hash-count embedding -> cosine top-5 of query chunks (docs 0-2)
    // against the rest of the chunk corpus; ranking on ROUNDED sims so
    // integer-feature pseudo-ties cannot reorder across engines
    "r01_rag_pipeline" -> { (s, dir) =>
      Similarity.ragRetrieve(docs(s, dir), "doc_id", "text",
          window = 32, stride = 16, k = 5, queryKeyBelow = 300L)
        .orderBy(col("query_id"), col("rnk"))
    },

    // grouped corpus manifest: the dataset-card numbers per
    // (source, language) in one hash aggregation
    "d25_corpus_manifest" -> { (s, dir) =>
      TextAnalysis.corpusManifest(docs(s, dir), "text",
          Seq("source", "lang"))
        .orderBy(col("source"), col("lang"))
    },

    // the END-TO-END pretraining pipeline: curation verdict -> kept
    // stream -> sequence packing, one declarative plan (chunk size 64 so
    // the two-level prefix sum's chunk-base composition is exercised)
    "d24_pretraining_pipeline" -> { (s, dir) =>
      Curation.pretrainingPipeline(docs(s, dir), "doc_id", "text",
          budget = 512, chunkSize = 64)
        .orderBy(col("doc_id"))
    },

    // DSIR importance weights against the lang='en' target slice: exact
    // unigram log-likelihood ratios, alpha=0.5 smoothing, raw-word
    // features (the hashed-bucket scale path is spec-pinned)
    "t14_dsir_weights" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.dsirWeights(d, d.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // exact k-nearest-neighbor GRAPH (corpus vs corpus, k = 3) via the
    // triangle block-pair join — the SemDeDup primitive; the oracle
    // ranks the same brute-force cosines
    "s06_knn_graph" -> { (s, dir) =>
      Similarity.knnGraph(embs(s, dir), "vec_id", "embedding", k = 3)
        .orderBy(col("vec_id"), col("rnk"))
    },

    // batch perceptron trained IN the engine: hashed bag-of-words
    // features (rolling_hash buckets), BIGINT margins, sign(0) = -1,
    // integer batch updates — associative, so the distributed weights
    // equal the oracle's serial unrolled rounds bit for bit (the en
    // label exercises the mechanism; the spec proves learning on a
    // separable label — convergence is pinned there)
    "t18_perceptron" -> { (s, dir) =>
      Perceptron.trainHashedBow(
          docs(s, dir).withColumn("is_en", col("lang") === "en"),
          "doc_id", "text", "is_en", dims = 64, rounds = 3)
        .orderBy(col("bucket"))
    },

    // PPS systematic weighted sample: exactly 64 slots drawn with
    // probability proportional to token count — all-BIGINT token-line
    // positions (two-level prefix sum, join-free slot arithmetic) make
    // the draw bit-reproducible, so the oracle replays it exactly
    "d19_weighted_sample" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")))
      Curation.ppsSystematicSample(d, "doc_id", "n_tokens", k = 64,
          seed = 7L)
        .orderBy(col("slot"))
    },

    // temperature-scaled (tau=2) token-budget mixing: per-source
    // allocations proportional to isqrt(source tokens) settled by
    // largest-remainder, then whole-document greedy fill — all-BIGINT
    // (IEEE sqrt is correctly rounded, so isqrt is engine-identical)
    "d20_temperature_mix" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")))
      Curation.temperatureMix(d, "doc_id", "source", "n_tokens",
          budget = 10000L)
        .orderBy(col("doc_id"))
    },

    // per-source frequency cap (the CommonCrawl "domain cap"): keep at
    // most 15 docs per source as a deterministic seed-shuffled sample.
    // No per-group window — the bounded top-k UDAF merges cap-row
    // sketches, so a mega-domain costs O(cap), not a one-task sort
    "d22_domain_cap" -> { (s, dir) =>
      Curation.capPerGroup(docs(s, dir), "doc_id", "source", cap = 15,
          seed = 13L)
        .orderBy(col("doc_id"))
    },

    // length-grouped batch packing: rank by (token count, doc_id) via
    // the two-level idiom (serial window only over the tiny
    // one-row-per-distinct-length relation), cut into 32-doc batches,
    // report each batch's padding economics — the sizer that collapses
    // padding waste versus arrival-order batching, and quantifies it
    "d21_length_batching" -> { (s, dir) =>
      Curation.lengthBatches(docs(s, dir), "doc_id", "text",
          batchSize = 32)
        .orderBy(col("batch_id"))
    },

    // retrieval eval harness: recall@5 and MRR of a DEGRADED serving
    // path (exact top-k over only the even half of the corpus — "half
    // the index shards answered") against full-corpus truth; both
    // sides are brute-force relations, so the oracle recomputes the
    // metrics exactly
    "e01_retrieval_eval" -> { (s, dir) =>
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val truth = Similarity.cosineTopK(e, q, "vec_id", "embedding", 5)
      val res = Similarity.cosineTopK(e.filter(col("vec_id") % 2 === 0),
        q, "vec_id", "embedding", 5)
      Similarity.retrievalEval(res, truth, 5).orderBy(col("query_id"))
    },

    // embedding-space outliers: the 20 vectors with the LOWEST mean
    // cosine to their own 3 nearest neighbors — the isolated rows a
    // curation pass routes to review; pure composition over the exact
    // kNN graph, so the oracle ranks the same brute-force cosines
    "s12_knn_outliers" -> { (s, dir) =>
      Similarity.knnOutliers(embs(s, dir), "vec_id", "embedding", k = 3,
        nOutliers = 20)
    },

    // fixed-point integer k-means over quantized embeddings: the
    // semantic-cluster step curation pipelines hang sampling / SemDeDup
    // / mixture reports off. floor(x * 2^16) quantization is EXACT
    // (power-of-two multiply), every distance and centroid sum is
    // BIGINT, so the distributed result is bit-identical to the
    // oracle's serially unrolled Lloyd rounds on any partitioning
    "s13_kmeans" -> { (s, dir) =>
      Clustering.kmeansFixedPoint(embs(s, dir), "vec_id", "embedding",
        k = 8, iters = 4).orderBy(col("vec_id"))
    },

    // SemDeDup PROPER (the published recipe, end to end): k-means
    // clusters bound the candidate space, pairs are generated only
    // within a cluster (equality join on cluster_id — never a global
    // cross product), then keep-first pruning. Deterministic throughout
    // (integer Lloyd + fused-loop cosine), so the oracle replays the
    // unrolled rounds AND the within-cluster pair predicate exactly
    "s14_semdedup_kmeans" -> { (s, dir) =>
      Clustering.semDedupKmeans(embs(s, dir), "vec_id", "embedding",
        k = 8, iters = 4, threshold = 0.4).orderBy(col("vec_id"))
    },

    // semi-supervised label propagation over the exact kNN graph: 20%
    // of nodes are clamped seeds (the hand-audited set), the rest take
    // the per-round majority label of their 3 nearest neighbors (ties
    // to the smaller label, -1 while unreached) — integer votes, so the
    // distributed rounds equal the oracle's serial unrolling exactly
    "gr02_label_prop" -> { (s, dir) =>
      val e = embs(s, dir)
      val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 3)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      val seeds = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("label"))
      Graphs.labelPropagate(edges, "src", "dst", seeds, "vec_id", "label",
          iters = 3)
        .orderBy(col("node"))
    },

    // fixed-point PageRank centrality over the exact kNN graph — BIGINT
    // rank units make every partial sum associative, so the distributed
    // result is bit-identical to the oracle's serial unrolled iterations
    // regardless of partitioning (a float PageRank's shuffle-order ulps
    // would break both the oracle and corpus-curation reproducibility)
    "gr01_pagerank_knn" -> { (s, dir) =>
      Graphs.pagerankFixedPoint(
          Similarity.knnGraph(embs(s, dir), "vec_id", "embedding", k = 3),
          "vec_id", "neighbor_id", iters = 5)
        .orderBy(col("node"))
    },

    // exact brute-force cosine top-5 for query vectors vec_id < 10
    "s01_ann_topk" -> { (s, dir) =>
      val e = embs(s, dir)
      Similarity.cosineTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", 5)
    },

    // LSH-bucketed ANN with a HARD oracle: on the planted gapped corpus
    // (near-dups at cos >= 0.95 over an isotropic <= ~0.5 background, see
    // Similarity.plantedGappedCorpus) the 32x8 banding misses a true pair
    // with probability < 1e-7, so the LSH output EQUALS the exact top-k —
    // which the DuckDB oracle computes brute-force over the identically
    // constructed corpus. dim = 64 is the fixture's embedding width
    // (passing it avoids the per-call dimensionality probe job).
    "s02_ann_lsh" -> { (s, dir) =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      Similarity.cosineTopKLsh(planted, planted.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, numBands = 32, rowsPerBand = 8,
          dim = Some(64))
        .orderBy(col("query_id"), col("rnk"))
    },

    // IVF ANN with the same HARD oracle: the planted near-dups sit at
    // cos >= 0.95 from their query, so query and neighbors agree on their
    // nearest coarse-quantizer cells and an nProbe=4-of-16 probe set
    // covers all true top-5 — output equals the exact path
    "s03_ann_ivf" -> { (s, dir) =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      Similarity.cosineTopKIvf(planted, planted.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, nlist = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rnk"))
    },

    // IVF probe against a PERSISTED index (the ANN-service shape):
    // centroids + cell-partitioned assignments staged fingerprint-keyed,
    // the gate measures only the probe — same planted-corpus hard oracle
    // as s03 (probe output equals exact top-k)
    "s05_ann_ivf_indexed" -> { (s, dir) =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      val root = stagedIvfIndexDir(s, dir)
      Similarity.cosineTopKIvfIndexed(planted.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          s.read.parquet(s"$root/centroids"),
          s.read.parquet(s"$root/assignments"), 5, nProbe = 4)
        .orderBy(col("query_id"), col("rnk"))
    },

    // PQ-ADC ANN against a PERSISTED product-quantization index (the
    // compressed-scan half of an IVF-PQ service): the probe reads only
    // the 8-int CODES per corpus vector, takes top-64 candidates per
    // query by table-lookup ADC score, and exact-cosine re-ranks the
    // candidates — planted near-dups are tiny rotations of their query,
    // so they quantize to (nearly) the query's own codes and top the ADC
    // scan; with a 64-of-~550 budget (coverage pinned by spec) the
    // output equals the exact top-k and shares the s02/s03 hard oracle
    "s11_ann_pq" -> { (s, dir) =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      val root = stagedPqIndexDir(s, dir)
      Similarity.cosineTopKPq(planted, planted.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          Similarity.collectCodebooks(s.read.parquet(s"$root/codebooks")),
          s.read.parquet(s"$root/codes"), 5, nCandidates = 64)
        .orderBy(col("query_id"), col("rnk"))
    },

    // SemDeDup pruning over the exact blocked pair relation: keep-first
    // (smallest-id) semantics are one-pass deterministic — a vector is
    // pruned iff a smaller-id vector sits within cosine 0.45 — so the
    // oracle restates the same EXISTS in SQL. The pair generator is
    // swappable (IVF/LSH-restricted pairs at scale; parity with the
    // banded generator on the planted corpus is spec-pinned).
    "s07_semdedup" -> { (s, dir) =>
      val e = embs(s, dir)
      Similarity.semDedupPrune(e,
          Dedup.embeddingNearDuplicatesBlocked(e, "vec_id", "embedding",
            0.45), "vec_id")
        .orderBy(col("vec_id"))
    },

    // leave-one-out 5-NN majority-vote label prediction (ties toward the
    // smaller label id) — fully deterministic, so the oracle replays the
    // vote over the brute-force neighbor ranking
    "s08_knn_classify" -> { (s, dir) =>
      Similarity.knnClassify(embs(s, dir), "vec_id", "embedding",
          "label", 5)
        .orderBy(col("vec_id"))
    },

    // hard-negative mining on the planted corpus: top-5 per query
    // EXCLUDING the exact near-dup pair relation at cos >= 0.9 (the
    // planted duplicates) — the oracle applies the same exclusion as a
    // predicate, exact because the pair generator is exact
    "s10_hard_negatives" -> { (s, dir) =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      Similarity.hardNegatives(planted, planted.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          Dedup.embeddingNearDuplicatesBlocked(planted, "vec_id",
            "embedding", 0.9), 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    // the production classify direction: a small labeled SEED set
    // (vec_id < 100) broadcast against the unlabeled remainder — same
    // deterministic vote, seeds-side broadcast so the corpus never
    // shuffles before its bounded top-k
    "s09_knn_classify_seeded" -> { (s, dir) =>
      val e = embs(s, dir)
      Similarity.knnClassifySeeded(e.filter(col("vec_id") >= 100),
          e.filter(col("vec_id") < 100), "vec_id", "embedding",
          "label", 5)
        .orderBy(col("vec_id"))
    },

    // language ID (marker-word argmax + CJK script detection)
    "t01_lang_id" -> { (s, dir) =>
      TextAnalysis.languageId(docs(s, dir), "doc_id", "text")
    },

    // quality features + composite score
    "t02_quality_score" -> { (s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // whitespace + BPE-ish token counts
    "t03_token_count" -> { (s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
    },

    // rolling-hash document fingerprint
    "t04_fingerprint" -> { (s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition filters: duplicate word/bigram occurrence
    // fractions (computed in-row, no shuffle) + top-word share
    "t07_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionSignals(docs(s, dir), "doc_id", "text")
    },

    // PII scrub: the fixture corpus contains no PII, so the gate injects
    // deterministic synthetic PII derived from doc_id (the oracle builds
    // the identical augmented text), then runs the staged redaction
    // operator — the regexes are exercised on real matches, not no-ops
    "t08_pii_redact" -> { (s, dir) =>
      val aug = docs(s, dir).select(col("doc_id"), concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example.com or +1 555 01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit(" at 10."), (col("doc_id") % 200).cast("string"), lit(".0.1")
      ).as("text"))
      TextAnalysis.redactPii(aug, "doc_id", "text").orderBy(col("doc_id"))
    },

    // unigram-LM rarity (perplexity proxy): OOV-of-top-100 fraction +
    // exact median corpus frequency per document
    "t09_lexical_rarity" -> { (s, dir) =>
      TextAnalysis.lexicalRarity(docs(s, dir), "doc_id", "text", 100)
        .orderBy(col("doc_id"))
    },

    // char-class histogram features (in-row, shuffle-free; the exact
    // oracle-able twin of the multimodal byte-histogram features)
    "t10_char_histogram" -> { (s, dir) =>
      TextAnalysis.charClassHistogram(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // deterministic per-language downsampling (keep 1/4 of en, 1/2 of es,
    // everything else) — a pure per-row predicate, reproducible across
    // engines and re-snapshots
    "d09_stratified_sample" -> { (s, dir) =>
      TextAnalysis.stratifiedSample(docs(s, dir), "doc_id", "lang",
          Map("en" -> 0.25, "es" -> 0.5), defaultRate = 1.0)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    },

    // multimodal REAL decode: synthesized binary P6 PPM payloads -> strict
    // per-partition JVM parser -> genuine decoded width/height/maxval and
    // per-channel means. The oracle rebuilds the identical payload with
    // string functions (the corpus is ASCII: bytes == characters) and
    // recomputes every decoded value from it — a hash mismatch means the
    // parser misread actual bytes.
    // multimodal AUDIO: per-frame RMS / sign crossings / peak decoded
    // from a real u8-PCM payload by the mapPartitions codec; the oracle
    // rebuilds the identical sample stream from text with string
    // functions (bias 64 so the ASCII-range fixture crosses sign)
    "m04_pcm_frames" -> { (s, dir) =>
      Multimodal.extractPcmFeatures(s,
          Multimodal.asPcm(docs(s, dir), "doc_id", "text"), bias = 64)
        .toDF()
        .select(col("doc_id"), col("frame_id"),
          round(col("rms"), 4).as("rms"), col("zero_crossings"),
          col("peak"))
        .orderBy(col("doc_id"), col("frame_id"))
    },

    "m01_media_meta" -> { (s, dir) =>
      Multimodal.extractPpmMeta(s,
          Multimodal.asPpm(docs(s, dir), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("sha256"),
          col("width"), col("height"), col("maxval"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy(col("doc_id"))
    },

    // multimodal REAL resize: decode -> nearest-neighbor resample to half
    // dimensions -> re-encode -> ROUND-TRIP decode of the engine's own
    // output. The oracle performs the same floor-mapped resample in SQL
    // over the reconstructed raster and hashes the resized payload, so
    // the emitted bytes (header + every resampled pixel) are pinned.
    "m03_ppm_resize" -> { (s, dir) =>
      val media = Multimodal.asPpm(docs(s, dir), "doc_id", "text")
      Multimodal.extractPpmMeta(s,
          Multimodal.resizePpm(s, media, denom = 2).toDF()
            .select(col("doc_id"), col("media_type"), col("payload")))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
          col("sha256"))
        .orderBy(col("doc_id"))
    },

    // STREAMING in the correctness gate: the hourly aggregation executed as
    // an actual Structured Streaming job (file source -> complete-mode
    // memory sink); result must equal the batch/DuckDB oracle
    "st01_stream_hourly" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      // the file stream source requires a directory: stage the single
      // events file into one
      val stream = graft.streaming.EventOps.readEventStream(s,
        stagedEventsDir(dir))
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("sum_value"))
      val qname = s"st01_out_${System.nanoTime()}"
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      // surface a slow run as a clear timeout failure, not as a
      // row-count/hash mismatch on a half-filled in-memory sink
      require(q.awaitTermination(300000),
        "streaming gate query timed out after 300 s")
      s.table(qname).orderBy(col("hour_start"), col("event_type"))
    },

    // the composed curation pipeline: language id + quality gate +
    // exact-dup keep-first in one per-document verdict
    "d06_curation_pipeline" -> { (s, dir) =>
      Curation.curate(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // int8 scalar quantization of the embedding table (storage compression
    // for the similarity path; floor-based half-up keeps the codes
    // bit-reproducible across engines)
    "s04_quantize_int8" -> { (s, dir) =>
      Similarity.quantizeInt8(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          array_join(col("q").cast("array<string>"), ",").as("q"))
        .orderBy(col("vec_id"))
    },

    // STREAMING with CUSTOM state in the gate: flatMapGroupsWithState
    // sessionization as an actual streaming job. The huge watermark delay
    // means no event-time timeout ever fires, so the emitted set is
    // exactly "every session closed by a successor event" — all sessions
    // except each user's last, which the oracle reproduces with
    // gaps-and-islands SQL.
    "st02_stream_sessions" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val stream = graft.streaming.EventOps.readEventStream(s,
        stagedEventsDir(dir))
      val sessions = graft.streaming.EventOps
        .sessionizeWithState(stream, gapMinutes = 30, watermark = "87600 hours")
        .toDF()
        .select(col("user_id"), col("session_start"), col("n_events"))
      val qname = s"st02_out_${System.nanoTime()}"
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      // surface a slow run as a clear timeout failure, not as a
      // row-count/hash mismatch on a half-filled in-memory sink
      require(q.awaitTermination(300000),
        "streaming gate query timed out after 300 s")
      s.table(qname).orderBy(col("user_id"), col("session_start"))
    },

    // STREAM-STREAM interval join in the gate: signup events joined to
    // purchase events of the same user within ±15 min, executed as an
    // actual streaming job (two watermarked stream legs, state bounded by
    // rate × interval). Inner interval joins emit matches as both sides
    // arrive, so on bounded input the streamed result equals the batch
    // join — which the DuckDB oracle expresses directly.
    "st03_stream_interval_join" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val stream = graft.streaming.EventOps.readEventStream(s,
        stagedEventsDir(dir))
      val joined = graft.streaming.EventOps.correlateEvents(stream,
        "signup", "purchase", withinMinutes = 15, watermark = "87600 hours")
      val qname = s"st03_out_${System.nanoTime()}"
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      // surface a slow run as a clear timeout failure, not as a
      // row-count/hash mismatch on a half-filled in-memory sink
      require(q.awaitTermination(300000),
        "streaming gate query timed out after 300 s")
      s.table(qname).orderBy(col("user_id"), col("a_id"), col("b_id"))
    },

    // STREAMING dropDuplicatesWithinWatermark in the gate: distinct
    // (user_id, event_type) pairs computed by the streaming dedup operator
    // — with a watermark horizon covering the whole bounded input, every
    // duplicate is dropped and the streamed output equals batch DISTINCT,
    // which the DuckDB oracle states directly
    "st04_stream_dedup" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val stream = graft.streaming.EventOps.readEventStream(s,
        stagedEventsDir(dir))
      val dedup = graft.streaming.EventOps.dedupeWithinWatermark(
          stream.select(col("ts"), col("user_id"), col("event_type")),
          watermark = "87600 hours", keys = Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
      val qname = s"st04_out_${System.nanoTime()}"
      val q = dedup.writeStream.outputMode("append")
        .format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      // surface a slow run as a clear timeout failure, not as a
      // row-count/hash mismatch on a half-filled in-memory sink
      require(q.awaitTermination(300000),
        "streaming gate query timed out after 300 s")
      s.table(qname)
    },

    // BATCH TWINS of the stateful streaming ops (st02/st03/st04): the
    // EventOps transformations are batch/stream agnostic, so the same
    // code paths run here as plain batch plans — giving the session /
    // interval-join / dedup state logic a round-over-round bench trend
    // without paying micro-batch scheduling overhead 6x per bench run.
    // Oracles are identical to their streaming twins'.
    "st02b_sessions_batch" -> { (s, dir) =>
      graft.streaming.EventOps
        .sessionizeWithState(Tables.load(s, dir, "events"), gapMinutes = 30)
        .toDF()
        .select(col("user_id"), col("session_start"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },

    "st03b_interval_join_batch" -> { (s, dir) =>
      graft.streaming.EventOps.correlateEvents(
          Tables.load(s, dir, "events"), "signup", "purchase",
          withinMinutes = 15)
        .orderBy(col("user_id"), col("a_id"), col("b_id"))
    },

    "st04b_dedup_batch" -> { (s, dir) =>
      graft.streaming.EventOps.dedupeWithinWatermark(
          Tables.load(s, dir, "events")
            .select(col("ts"), col("user_id"), col("event_type")),
          keys = Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
    },

    // STREAMING incremental dedup — the foreachBatch + index-append
    // production architecture: newly ingested documents arrive as a file
    // stream in MULTIPLE micro-batches (maxFilesPerTrigger=1 over a
    // two-file batch); each micro-batch probes the persisted band index,
    // exact-verifies its candidates, and APPENDS its own band signatures
    // to the index before the next batch runs. The cumulative streamed
    // result is exactly-once and micro-batch-split-INVARIANT: a pair
    // within one batch surfaces via new-vs-new, a pair across batches
    // surfaces when the later batch probes the index that now contains
    // the earlier one — so the output equals the one-shot incremental
    // run, and the oracle is d12's exact restricted Jaccard join.
    "st06_stream_incremental_dedup" -> { (s, dir) =>
      val d = docs(s, dir)
      // bootstrap index + incoming files are deterministic per fixture
      // and PRE-EXIST in production (the index is yesterday's state, the
      // files are the ingest drop) — stage both fingerprint-keyed so
      // repeated invocations measure the DRAIN, not a bootstrap rebuild
      val boot = Staged.dir("graft_st06boot_", dir) { p =>
        graft.streaming.IncrementalDedup.writeIndex(
          d.filter(col("doc_id") % 2 === 0), s"$p/index", batchId = -1L)
        d.filter(col("doc_id") % 2 === 1).repartition(2)
          .write.mode("overwrite").parquet(s"$p/incoming")
      }
      val run = Staged.runDir("graft_st06run_")
      // the run APPENDS to its index — work on a copy of the bootstrap
      val src = java.nio.file.Paths.get(s"$boot/index")
      val dst = java.nio.file.Paths.get(s"$run/index")
      scala.util.Using.resource(java.nio.file.Files.walk(src))(_.forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t); ()
        }
      })
      graft.streaming.IncrementalDedup.runAvailableNow(
        s, d, s"$boot/incoming", d.schema, dst.toString, s"$run/pairs", 0.6)
        .orderBy(col("a_id"), col("b_id"))
    },

    // STREAMING similarity serving: query vectors arrive as a 2-file
    // stream (2 micro-batches), each batch probes the PERSISTED IVF
    // index (same staged index as s05), top-k lands in a batch-id-
    // partitioned sink. Batches are independent (no state append), so
    // the cumulative sink equals the batch probe — which on the planted
    // gapped corpus equals the exact top-k the oracle computes.
    "st07_stream_ann_serve" -> { (s, dir) =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      val idxRoot = stagedIvfIndexDir(s, dir)
      val boot = Staged.dir("graft_st07boot_", dir) { p =>
        planted.filter(col("vec_id") < 10).repartition(2)
          .write.mode("overwrite").parquet(s"$p/queries")
      }
      val run = Staged.runDir("graft_st07run_")
      graft.streaming.AnnServe.runAvailableNow(s, s"$boot/queries",
          planted.schema, idxRoot, s"$run/topk", 5, 4)
        .orderBy(col("query_id"), col("rnk"))
    },

    // STREAMING PQ-ADC serving: the same query stream served from the
    // persisted s11 index (codebooks + compressed codes). Stateless per
    // batch => the cumulative sink equals the batch probe, so the
    // planted-gap hard oracle carries over verbatim.
    "st09_stream_pq_serve" -> { (s, dir) =>
      val planted = Similarity.plantedGappedCorpus(embs(s, dir), "vec_id",
        "embedding")
      val idxRoot = stagedPqIndexDir(s, dir)
      val boot = Staged.dir("graft_st09boot_", dir) { p =>
        planted.filter(col("vec_id") < 10).repartition(2)
          .write.mode("overwrite").parquet(s"$p/queries")
      }
      val run = Staged.runDir("graft_st09run_")
      graft.streaming.PqServe.runAvailableNow(s, s"$boot/queries",
          planted.schema, idxRoot, planted, s"$run/topk", 5, 64)
        .orderBy(col("query_id"), col("rnk"))
    },

    // STREAMING cluster routing: vectors arrive as a 2-file stream and
    // each micro-batch is assigned to its semantic cluster against the
    // PERSISTED centroid set trained once by the s13 rounds. Stateless
    // per batch (centroids are frozen broadcast literals, assignment is
    // a narrow map-side pass) => the cumulative sink equals the batch
    // assignment, so s13's unrolled-Lloyd oracle carries over verbatim.
    "st10_stream_cluster_route" -> { (s, dir) =>
      val e = embs(s, dir)
      val boot = Staged.dir("graft_st10boot_", dir) { p =>
        Clustering.centroidsDf(s, Clustering.kmeansCentroids(e, "vec_id",
            "embedding", k = 8, iters = 4))
          .write.mode("overwrite").parquet(s"$p/centroids")
        e.repartition(2).write.mode("overwrite").parquet(s"$p/incoming")
      }
      val run = Staged.runDir("graft_st10run_")
      graft.streaming.ClusterServe.runAvailableNow(s, s"$boot/incoming",
          e.schema, s"$boot/centroids", s"$run/assign")
        .orderBy(col("vec_id"))
    },

    // STREAMING BPE segmentation: documents stream in as 2 micro-batches
    // and each is tokenized against the PERSISTED merge table by
    // applying the merge RULES in rank order (pure per-row fold — no
    // dictionary join, the shape that also handles unseen words).
    // Stateless per batch => the cumulative sink equals the batch
    // segmentation, so t21's serially-replayed oracle carries over.
    "st11_stream_bpe_segment" -> { (s, dir) =>
      val d = docs(s, dir)
      val boot = Staged.dir("graft_st11boot_", dir) { p =>
        Bpe.mergesDf(d, "text", numMerges = 6)
          .write.mode("overwrite").parquet(s"$p/merges")
        d.repartition(2).write.mode("overwrite").parquet(s"$p/incoming")
      }
      val run = Staged.runDir("graft_st11run_")
      graft.streaming.BpeServe.runAvailableNow(s, s"$boot/incoming",
          d.schema, s"$boot/merges", s"$run/pieces")
        .orderBy(col("doc_id"))
    },

    // STREAMING quality routing: documents stream in as 2 micro-batches,
    // each scored and split into keep/reject sinks against FIXED band
    // bounds (the exact [p10, p90] of the reference corpus — computed
    // once, batch-side, exactly like t15). Stateless per-doc routing =>
    // the cumulative keep sink equals the batch band filter, which is
    // t15's oracle verbatim.
    "st08_stream_quality_router" -> { (s, dir) =>
      val d = docs(s, dir)
      val b = TextAnalysis.qualityScore(d, "doc_id", "text")
        .agg(expr("percentile(quality_score, array(0.1, 0.9))").as("b"))
        .select(col("b").getItem(0).as("lo"), col("b").getItem(1).as("hi"))
        .head()
      val boot = Staged.dir("graft_st08boot_", dir) { p =>
        d.repartition(2).write.mode("overwrite").parquet(s"$p/incoming")
      }
      val run = Staged.runDir("graft_st08run_")
      graft.streaming.QualityRouter.runAvailableNow(s, s"$boot/incoming",
          d.schema, b.getDouble(0), b.getDouble(1), s"$run/keep",
          s"$run/reject")
        .orderBy(col("doc_id"))
    },

    // STREAM-STATIC join in the gate: the event stream enriched with the
    // (batch) customer dimension — broadcast per micro-batch, stateless —
    // then aggregated per (segment, event_type) in complete mode. On
    // bounded input the streamed result equals the batch join+group-by,
    // which the DuckDB oracle states directly.
    "st05_stream_static_join" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val stream = graft.streaming.EventOps.readEventStream(s,
        stagedEventsDir(dir))
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = graft.streaming.EventOps
        .enrichWithStatic(stream, dim, "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      val qname = s"st05_out_${System.nanoTime()}"
      val q = enriched.writeStream.outputMode("complete")
        .format("memory").queryName(qname)
        .trigger(Trigger.AvailableNow()).start()
      require(q.awaitTermination(300000),
        "streaming gate query timed out after 300 s")
      s.table(qname).orderBy(col("c_mktsegment"), col("event_type"))
    },

    // multimodal: frame-sampling plumbing over binary payloads
    "m02_frame_sample" -> { (s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.asMedia(docs(s, dir), "doc_id", "text"), 32, 2)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("bigint").as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }
  )

  /** t02's composite quality score trimmed to the exact continuous
    * [p10, p90] band (shared by the batch t15 gate and the streamed
    * st08 router, whose fixed-bound routing makes the cumulative keep
    * sink equal the batch filter). */
  private val qualityBandOracle =
    """WITH q AS (SELECT doc_id,
           round(least(len(string_split(text, ' ')) / 30.0, 1.0) * 0.5 +
             CASE WHEN (length(text) - (length(text) -
                    length(replace(text, ' ', ''))))
                    * 1.0 / len(string_split(text, ' '))
                    BETWEEN 3.0 AND 8.0
                  THEN 0.3 ELSE 0.0 END +
             CASE WHEN (length(text) - length(replace(text, ' ', '')))
                    * 1.0 / length(text) BETWEEN 0.1 AND 0.3
                  THEN 0.2 ELSE 0.0 END, 4) AS quality_score
         FROM documents),
       b AS (SELECT quantile_cont(quality_score, 0.1) AS lo,
                    quantile_cont(quality_score, 0.9) AS hi FROM q)
     SELECT q.doc_id, q.quality_score FROM q CROSS JOIN b
     WHERE quality_score BETWEEN lo AND hi
     ORDER BY doc_id"""

  private val jaccardOracle =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                      WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
       SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6
       ORDER BY a_id, b_id"""

  /** Exact cosine top-5 over the planted gapped corpus (the s02/s03
    * oracle): the corpus construction mirrors
    * [[Similarity.plantedGappedCorpus]] step for step in IEEE double
    * arithmetic, and the gap (planted near-dups at cos >= 0.95 vs an
    * isotropic <= ~0.5 background) makes the approximate paths' recall
    * exactly 1 at their gate parameters — so LSH/IVF output must equal
    * this brute-force result.
    */
  private val plantedAnnOracle =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         planted AS (
           SELECT 100000 + q.vec_id * 5 + t.j AS vec_id,
             list_transform(generate_series(1, len(q.v)),
               i -> q.v[i] + 0.3 * p.v[i]) AS v
           FROM base q
           CROSS JOIN unnest(generate_series(0, 4)) AS t(j)
           JOIN base p ON p.vec_id = 10 + q.vec_id * 5 + t.j
           WHERE q.vec_id < 10),
         corpus AS (SELECT vec_id, v FROM base
                    UNION ALL SELECT vec_id, v FROM planted),
         qs AS (SELECT vec_id AS query_id, v AS vq FROM base WHERE vec_id < 10),
         sims AS (SELECT query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(vq, c.v) AS sim
                  FROM qs CROSS JOIN corpus c WHERE query_id <> c.vec_id),
         ranked AS (SELECT query_id, neighbor_id, sim,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM sims)
       SELECT query_id, rnk, neighbor_id, round(sim, 4) AS cos_sim
       FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""

  val oracles: Map[String, String] = Map(
    "s02_ann_lsh" -> plantedAnnOracle,
    "s03_ann_ivf" -> plantedAnnOracle,
    "s05_ann_ivf_indexed" -> plantedAnnOracle,
    // ADC candidate generation is a lossless pre-filter on the gapped
    // corpus (near-dups quantize onto their query's codes and the 64-wide
    // budget absorbs the quantization noise — coverage pinned by spec),
    // so the exact re-rank reproduces the brute-force top-k bit for bit
    "s11_ann_pq" -> plantedAnnOracle,
    // stream-served probe of the same index over the same queries: batch
    // independence makes the cumulative sink equal the batch probe, and
    // the planted gap makes the probe equal the exact top-k
    "st07_stream_ann_serve" -> plantedAnnOracle,
    // stateless per batch against a static PQ index: the streamed sink
    // equals the batch ADC probe, i.e. the exact top-k on the gapped
    // corpus (s11's argument)
    "st09_stream_pq_serve" -> plantedAnnOracle,

    // exclusion via the exact pair relation at cos >= 0.9 equals the
    // predicate sim < 0.9 over identical IEEE cosine arithmetic
    "s10_hard_negatives" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings),
           planted AS (
             SELECT 100000 + q.vec_id * 5 + t.j AS vec_id,
               list_transform(generate_series(1, len(q.v)),
                 i -> q.v[i] + 0.3 * p.v[i]) AS v
             FROM base q
             CROSS JOIN unnest(generate_series(0, 4)) AS t(j)
             JOIN base p ON p.vec_id = 10 + q.vec_id * 5 + t.j
             WHERE q.vec_id < 10),
           corpus AS (SELECT vec_id, v FROM base
                      UNION ALL SELECT vec_id, v FROM planted),
           qs AS (SELECT vec_id AS query_id, v AS vq FROM base
                  WHERE vec_id < 10),
           sims AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_cosine_similarity(vq, c.v) AS sim
                    FROM qs CROSS JOIN corpus c
                    WHERE query_id <> c.vec_id),
           ranked AS (SELECT query_id, neighbor_id, sim,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id) AS rnk
                      FROM sims WHERE sim < 0.9)
         SELECT query_id, rnk, neighbor_id, round(sim, 4) AS cos_sim
         FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""",

    // pruned iff a smaller-id vector sits within the cosine threshold;
    // first_pruner = the smallest such id — the same one-pass keep-first
    // semantics the Spark side aggregates from the pair relation
    "s07_semdedup" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
           pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
                     FROM c a JOIN c b ON a.vec_id < b.vec_id
                     WHERE list_cosine_similarity(a.v, b.v) >= 0.45),
           pr AS (SELECT b_id AS vec_id, min(a_id) AS first_pruner
                  FROM pairs GROUP BY 1)
         SELECT c.vec_id, pr.vec_id IS NULL AS kept,
                CAST(coalesce(pr.first_pruner, -1) AS BIGINT) AS pruned_by
         FROM c LEFT JOIN pr ON c.vec_id = pr.vec_id
         ORDER BY c.vec_id""",

    // identical neighbor ranking (sim desc, id asc) and identical vote
    // tie-break (votes desc, label asc) as the Spark max-struct argmax
    "s08_knn_classify" ->
      """WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           sims AS (SELECT a.vec_id, b.vec_id AS nb, b.label AS n_label,
                      list_cosine_similarity(a.v, b.v) AS sim
                    FROM c a JOIN c b ON a.vec_id <> b.vec_id),
           ranked AS (SELECT vec_id, n_label,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, nb) AS rnk
                      FROM sims),
           votes AS (SELECT vec_id, n_label, count(*) AS votes
                     FROM ranked WHERE rnk <= 5 GROUP BY 1, 2),
           best AS (SELECT vec_id, n_label AS pred_label, votes,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY votes DESC, n_label) AS brn
                    FROM votes)
         SELECT c.vec_id, CAST(c.label AS INTEGER) AS label,
                CAST(b.pred_label AS INTEGER) AS pred_label, b.votes
         FROM c JOIN best b ON c.vec_id = b.vec_id AND b.brn = 1
         ORDER BY c.vec_id""",

    // seeds vs unlabeled are disjoint id ranges, so no self-exclusion;
    // identical ranking and vote tie-breaks as s08
    "s09_knn_classify_seeded" ->
      """WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           q AS (SELECT vec_id, v FROM c WHERE vec_id >= 100),
           sd AS (SELECT vec_id, label, v FROM c WHERE vec_id < 100),
           sims AS (SELECT q.vec_id, sd.vec_id AS nb, sd.label AS n_label,
                      list_cosine_similarity(q.v, sd.v) AS sim
                    FROM q CROSS JOIN sd),
           ranked AS (SELECT vec_id, n_label,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, nb) AS rnk
                      FROM sims),
           votes AS (SELECT vec_id, n_label, count(*) AS votes
                     FROM ranked WHERE rnk <= 5 GROUP BY 1, 2),
           best AS (SELECT vec_id, n_label AS pred_label, votes,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY votes DESC, n_label) AS brn
                    FROM votes)
         SELECT vec_id, CAST(pred_label AS INTEGER) AS pred_label, votes
         FROM best WHERE brn = 1
         ORDER BY vec_id""",

    // exact cosine threshold join over the planted corpus — what the
    // banded d11 path must reproduce pair for pair
    "d11_dedup_embedding_lsh" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           planted AS (
             SELECT 100000 + q.vec_id * 5 + t.j AS vec_id,
               list_transform(generate_series(1, len(q.v)),
                 i -> q.v[i] + 0.3 * p.v[i]) AS v
             FROM base q
             CROSS JOIN unnest(generate_series(0, 4)) AS t(j)
             JOIN base p ON p.vec_id = 10 + q.vec_id * 5 + t.j
             WHERE q.vec_id < 10),
           corpus AS (SELECT vec_id, v FROM base
                      UNION ALL SELECT vec_id, v FROM planted)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
         FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.9
         ORDER BY a_id, b_id""",
    "d01_dedup_exact" ->
      """SELECT md5(text) AS digest, count(*) AS n_copies, min(doc_id) AS keep_id
         FROM documents GROUP BY text ORDER BY keep_id""",

    "d02_dedup_ngram_jaccard" -> jaccardOracle,

    // d02 with the stop-shingle guard: identical pipeline, but shingles
    // with doc-frequency above the corpus-derived cap are dropped before
    // the join and Jaccard is exact over the pruned universe
    "d10_dedup_jaccard_guarded" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                        WHERE len(string_split(text, ' ')) >= 3),
         sh0 AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words),
         keep AS (SELECT shingle FROM sh0 GROUP BY shingle
                  HAVING count(*) <= greatest(4, CAST(ceil(0.01 *
                    (SELECT count(*) FROM documents)) AS BIGINT))),
         sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
       SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6
       ORDER BY a_id, b_id""",
    "d03_dedup_minhash_lsh" -> jaccardOracle,

    // same affine permutation, one global row_number — the constants are
    // interpolated from the SHARED shuffleConstants(7) so both engines
    // compute byte-identical keys
    "d14_corpus_shuffle" -> {
      val (a, b) = Curation.shuffleConstants(7L)
      s"""SELECT doc_id,
            row_number() OVER (ORDER BY
              ((doc_id % 2147483647) * $a + $b) % 2147483647) - 1
              AS shuffle_rank
          FROM documents ORDER BY doc_id"""
    },

    // per-stratum shuffled row_number with the same shared constants;
    // CASE carries the per-language targets
    "d15_corpus_mix" -> {
      val (a, b) = Curation.shuffleConstants(11L)
      s"""WITH ranked AS (
            SELECT doc_id, lang AS stratum,
              row_number() OVER (PARTITION BY lang ORDER BY
                ((doc_id % 2147483647) * $a + $b) % 2147483647, doc_id)
                AS rk
            FROM documents WHERE lang IN ('en', 'zh', 'fr', 'es'))
          SELECT doc_id, stratum FROM ranked
          WHERE rk <= CASE stratum WHEN 'en' THEN 120 WHEN 'zh' THEN 25
                                   WHEN 'fr' THEN 40 ELSE 1000 END
          ORDER BY doc_id"""
    },

    // one global running sum reproduces the two-level prefix sum's cut
    // points exactly (whitespace tokens are engine-independent)
    "d13_sequence_packing" ->
      """WITH t AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
         c AS (SELECT doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
               FROM t)
       SELECT doc_id, n_tokens,
              CAST(floor(cum_before / 512) AS BIGINT) AS seq_id,
              CAST(cum_before % 512 AS BIGINT) AS seq_offset
       FROM c ORDER BY doc_id""",

    // every Gopher metric recomputed with DuckDB list/string functions;
    // keep compares the UNROUNDED ratios, as the engine does
    "t22_gopher_rules" ->
      """WITH w AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x != '') AS ws,
             length(replace(text, ' ', '')) AS char_sum,
             (length(text) - length(replace(text, '#', ''))) AS hashes,
             (length(text) - length(replace(text, '...', ''))) / 3
               AS ellipses
           FROM documents),
         m AS (SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             char_sum * 1.0 / len(ws) AS mean_word_len,
             (hashes + ellipses) * 1.0 / len(ws) AS symbol_ratio,
             len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
               * 1.0 / len(ws) AS alpha_frac,
             CAST(len(list_intersect(ws, ['the','a','customer','data']))
               AS BIGINT) AS stop_hits
           FROM w)
       SELECT doc_id, n_words, round(mean_word_len, 4) AS mean_word_len,
         round(symbol_ratio, 4) AS symbol_ratio,
         round(alpha_frac, 4) AS alpha_frac, stop_hits,
         (n_words BETWEEN 50 AND 100000
           AND mean_word_len BETWEEN 3.0 AND 10.0
           AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
           AND stop_hits >= 2) AS keep
       FROM m ORDER BY doc_id""",

    // per-language exact percentile band (t15's oracle, grouped)
    "t23_quality_band_grouped" ->
      """WITH q AS (SELECT doc_id, lang,
             round(least(len(string_split(text, ' ')) / 30.0, 1.0) * 0.5 +
               CASE WHEN (length(text) - (length(text) -
                      length(replace(text, ' ', ''))))
                      * 1.0 / len(string_split(text, ' '))
                      BETWEEN 3.0 AND 8.0
                    THEN 0.3 ELSE 0.0 END +
               CASE WHEN (length(text) - length(replace(text, ' ', '')))
                      * 1.0 / length(text) BETWEEN 0.1 AND 0.3
                    THEN 0.2 ELSE 0.0 END, 4) AS quality_score
           FROM documents),
         b AS (SELECT lang, quantile_cont(quality_score, 0.1) AS lo,
                      quantile_cont(quality_score, 0.9) AS hi
               FROM q GROUP BY lang)
       SELECT q.doc_id, q.lang, q.quality_score
       FROM q JOIN b USING (lang)
       WHERE quality_score BETWEEN lo AND hi
       ORDER BY doc_id""",

    // corpus-side decontamination recomputed with string shingles (hash
    // vs string identity — the t06 parity argument); totals via the same
    // distinct-shingle universe, keep on the rounded ratio
    "t24_decontaminate_filter" ->
      """WITH cw AS (SELECT doc_id, string_split(text, ' ') AS w
                     FROM documents WHERE doc_id < 490),
         csh AS (SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 2),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                 FROM cw WHERE len(w) >= 3),
         base AS (SELECT doc_id, count(*) AS n_shingles FROM csh GROUP BY 1),
         ew AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE doc_id >= 490),
         esh AS (SELECT DISTINCT
                   unnest(list_transform(generate_series(1, len(w) - 2),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                 FROM ew WHERE len(w) >= 3),
         hits AS (SELECT doc_id, count(*) AS n_hits
                  FROM csh JOIN esh USING (shingle) GROUP BY 1),
         scored AS (SELECT c.doc_id,
             coalesce(b.n_shingles, 0) AS n_shingles,
             coalesce(h.n_hits, 0) AS n_hits,
             CASE WHEN coalesce(b.n_shingles, 0) = 0 THEN 0.0
                  ELSE round(coalesce(h.n_hits, 0) * 1.0 / b.n_shingles, 4)
             END AS overlap_ratio
           FROM (SELECT doc_id FROM documents WHERE doc_id < 490) c
           LEFT JOIN base b USING (doc_id)
           LEFT JOIN hits h USING (doc_id))
       SELECT doc_id, n_shingles, n_hits, overlap_ratio,
              (overlap_ratio <= 0.04) AS keep
       FROM scored ORDER BY doc_id""",

    // last-writer-wins over the replayed revision set — batch semantics
    // the split-invariant streamed log must reproduce
    "st12_stream_upsert_compact" ->
      """WITH revs AS (
           SELECT doc_id, 0 AS rev, text FROM documents
           UNION ALL
           SELECT doc_id, 1, text || ' r1' FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id, 2, text || ' r2' FROM documents WHERE doc_id % 9 = 0),
         latest AS (SELECT doc_id, max(rev) AS rev FROM revs GROUP BY 1)
       SELECT r.doc_id, CAST(r.rev AS BIGINT) AS rev,
              CAST(length(r.text) AS BIGINT) AS n_chars
       FROM revs r JOIN latest l ON r.doc_id = l.doc_id AND r.rev = l.rev
       ORDER BY r.doc_id""",

    // RAG chain replayed in SQL: the d16 chunking CTE, per-chunk ascii%8
    // first-char count vectors, cosine, rounded ranking with id ties
    "r01_rag_pipeline" ->
      ("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                      len(string_split(text, ' ')) AS n FROM documents),
         c0 AS (SELECT doc_id, w, n,
                  unnest(generate_series(0, greatest(0,
                    CAST(ceil((n - 32) / 16.0) AS INT)))) AS chunk_id
                FROM t),
         ch AS (SELECT doc_id * 100 + chunk_id AS chunk_key,
                  array_to_string(list_slice(w, chunk_id * 16 + 1,
                    chunk_id * 16 + least(32, n - chunk_id * 16)), ' ')
                    AS chunk_text
                FROM c0),
         emb AS (SELECT chunk_key, [""" +
        (0 until 8).map(b =>
          "len(list_filter(string_split(chunk_text, ' '), " +
            s"x -> x != '' AND ascii(substring(x, 1, 1)) % 8 = $b))")
          .mkString(", ") +
        """]::DOUBLE[] AS v FROM ch),
         sims AS (SELECT q.chunk_key AS query_id, c.chunk_key AS neighbor_id,
                    round(list_cosine_similarity(q.v, c.v), 4) AS sim
                  FROM emb q, emb c
                  WHERE q.chunk_key < 300 AND c.chunk_key >= 300),
         ranked AS (SELECT query_id, neighbor_id, sim,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM sims)
       SELECT query_id, rnk, neighbor_id, sim AS cos_sim
       FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""),

    // dataset-card rollup; windowless single aggregation (sums cast back
    // from HUGEINT, the pandas-float64 trap)
    "d25_corpus_manifest" ->
      """SELECT source, lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
           quantile_cont(len(string_split(text, ' ')), 0.5) AS p50_tokens
         FROM documents GROUP BY 1, 2 ORDER BY source, lang""",

    // version diff recomputed as a full outer join with direct text
    // equality (digest equality and text equality agree by definition)
    "d23_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents
                     WHERE doc_id % 10 <> 3),
         v2 AS (SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                       ELSE text END AS text
                FROM documents WHERE doc_id % 10 <> 7)
       SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.text = v2.text THEN 'unchanged'
              ELSE 'changed' END AS status
       FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
       ORDER BY doc_id""",

    // d06's verdict CTEs feed d13's packing window: the composed
    // pipeline oracle (every windowed sum cast back to BIGINT — the
    // HUGEINT/pandas-float64 trap)
    "d24_pretraining_pipeline" ->
      """WITH lang AS (
           SELECT doc_id,
             CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                  WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
                  WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
                  WHEN es >= fr AND es > 0 THEN 'es'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'und' END AS pred_lang
           FROM (SELECT doc_id, text,
                   len(list_intersect(string_split(text, ' '),
                     ['the','a','and','of','to','is'])) AS en,
                   len(list_intersect(string_split(text, ' '),
                     ['der','die','und','ist','das','ein'])) AS de,
                   len(list_intersect(string_split(text, ' '),
                     ['el','la','que','los','una','es'])) AS es,
                   len(list_intersect(string_split(text, ' '),
                     ['le','les','et','des','une','est'])) AS fr
                 FROM documents) t),
         qual AS (
           SELECT doc_id,
             round(least(len(string_split(text, ' ')) / 30.0, 1.0) * 0.5 +
               CASE WHEN (length(text) - (length(text) -
                      length(replace(text, ' ', ''))))
                      * 1.0 / len(string_split(text, ' '))
                      BETWEEN 3.0 AND 8.0
                    THEN 0.3 ELSE 0.0 END +
               CASE WHEN (length(text) - length(replace(text, ' ', '')))
                      * 1.0 / length(text) BETWEEN 0.1 AND 0.3
                    THEN 0.2 ELSE 0.0 END, 4) AS quality_score
           FROM documents),
         dup AS (
           SELECT doc_id,
             (doc_id <> min(doc_id) OVER (PARTITION BY text)) AS is_dup_copy
           FROM documents),
         verdict AS (
           SELECT l.doc_id
           FROM lang l JOIN qual USING (doc_id) JOIN dup USING (doc_id)
           WHERE quality_score >= 0.8 AND pred_lang IN ('en', 'es')
             AND NOT is_dup_copy),
         t AS (SELECT d.doc_id,
                 CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
               FROM documents d JOIN verdict USING (doc_id)),
         c AS (SELECT doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
               FROM t)
       SELECT doc_id, n_tokens,
              CAST(floor(cum_before / 512) AS BIGINT) AS seq_id,
              CAST(cum_before % 512 AS BIGINT) AS seq_offset
       FROM c ORDER BY doc_id""",

    // the streamed cumulative result must equal the one-shot incremental
    // run — same oracle as d12 (exactly-once, split-invariant)
    "st06_stream_incremental_dedup" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                        WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
       SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6
         AND (a_id % 2 = 1 OR b_id % 2 = 1)
       ORDER BY a_id, b_id""",

    // the exact Jaccard join restricted to pairs touching the "new"
    // (odd-id) batch — what the incremental index probe must reproduce
    "d12_dedup_incremental" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                        WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
       SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6
         AND (a_id % 2 = 1 OR b_id % 2 = 1)
       ORDER BY a_id, b_id""",
    "d04_dedup_simhash" -> jaccardOracle,

    // connected components of the near-dup pair graph via recursive CTE:
    // min reachable doc id = cluster id; singletons are their own cluster
    "d07_dup_clusters" ->
      """WITH RECURSIVE
         words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                   WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT a_id, b_id FROM inter
                   JOIN sizes sa ON sa.doc_id = a_id
                   JOIN sizes sb ON sb.doc_id = b_id
                   WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6),
         edges AS (SELECT a_id AS u, b_id AS v FROM pairs
                   UNION SELECT b_id, a_id FROM pairs),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u)
         SELECT id AS doc_id, min(r) AS cluster_id,
           (id = min(r)) AS is_kept
         FROM reach GROUP BY id ORDER BY doc_id""",

    "d08_train_eval_split" ->
      """SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) < 32
                THEN 'eval' ELSE 'train' END AS split
         FROM documents ORDER BY doc_id""",

    "t05_vocab_topk" ->
      """SELECT token, count(*) AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         WHERE length(token) > 0
         GROUP BY token ORDER BY freq DESC, token LIMIT 50""",

    // identical dense-rank vocabulary and positional encode, serially:
    // 1-based positions from the full split (empties filtered after,
    // like the engine), OOV coalesces to 0
    "t19_token_ids" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents),
         toks AS (SELECT doc_id,
                    CAST(generate_subscripts(w, 1) AS BIGINT) AS pos,
                    unnest(w) AS token
                  FROM words),
         vocab AS (SELECT token,
                     row_number() OVER (ORDER BY freq DESC, token)
                       AS token_id
                   FROM (SELECT token, count(*) AS freq FROM toks
                         WHERE length(token) > 0 GROUP BY 1
                         ORDER BY freq DESC, token LIMIT 32))
       SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS token_id
       FROM toks t LEFT JOIN vocab v USING (token)
       WHERE length(t.token) > 0
       ORDER BY t.doc_id, t.pos""",

    // the same merge rounds replayed serially: materialized CTE chain
    // (adjacency via lead(), argmax pair, run-parity match selection =
    // greedy left-to-right non-overlapping, dictionary rewrite) —
    // generated by the engine's own oracle builder so round count and
    // constants cannot drift
    "t20_bpe_merges" -> Bpe.mergesOracleSql(numMerges = 6),
    "t25_bpe_merges_batched" -> Bpe.mergesOracleSql(numMerges = 6),
    "t26_bpe_merges_batched_k4" ->
      Bpe.mergesBatchedOracleSql(numMerges = 8, batchSize = 4),
    "d26_token_packing" ->
      Bpe.tokenPackingOracleSql(numMerges = 6, budget = 512),

    // same chain, then piece counts joined back onto the token instances
    "t21_bpe_segment" -> Bpe.segmentOracleSql(numMerges = 6),

    // rule application equals dictionary lookup for in-vocabulary text
    // (same rules, same greedy fold), so the streamed serve shares the
    // batch twin's oracle verbatim
    "st11_stream_bpe_segment" -> Bpe.segmentOracleSql(numMerges = 6),

    "t06_decontamination" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                        WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words),
         corpus AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 490),
         ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 490)
         SELECT ev.doc_id, count(*) AS n_shingles,
           count(corpus.shingle) AS n_contaminated,
           round(count(corpus.shingle) * 1.0 / count(*), 4) AS contamination_ratio
         FROM ev LEFT JOIN corpus ON ev.shingle = corpus.shingle
         GROUP BY ev.doc_id ORDER BY ev.doc_id""",

    // identical to t06 by construction (bloom pre-filter is lossless
    // after exact verification)
    "t11_decontaminate_bloom" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                        WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words),
         corpus AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 490),
         ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 490)
         SELECT ev.doc_id, count(*) AS n_shingles,
           count(corpus.shingle) AS n_contaminated,
           round(count(corpus.shingle) * 1.0 / count(*), 4) AS contamination_ratio
         FROM ev LEFT JOIN corpus ON ev.shingle = corpus.shingle
         GROUP BY ev.doc_id ORDER BY ev.doc_id""",

    "t12_normalize" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_chars_norm
         FROM documents ORDER BY doc_id""",

    // same chunk arithmetic: count = 1 + max(0, ceil((n-40)/30.0)),
    // start = c*30, len = least(40, n - start)
    "d16_doc_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                      len(string_split(text, ' ')) AS n
                    FROM documents),
         c AS (SELECT doc_id, w, n,
                 unnest(generate_series(0, greatest(0,
                   CAST(ceil((n - 40) / 30.0) AS INT)))) AS chunk_id
               FROM t)
       SELECT doc_id, chunk_id, chunk_id * 30 AS start_token,
              least(40, n - chunk_id * 30) AS n_tokens,
              array_to_string(list_slice(w, chunk_id * 30 + 1,
                chunk_id * 30 + least(40, n - chunk_id * 30)), ' ')
                AS chunk_text
       FROM c ORDER BY doc_id, chunk_id""",

    // first-occurrence-wins over (doc_id, idx): the window formulation
    // here equals the Spark side's min-struct hash aggregation exactly
    "d17_span_dedup" ->
      """WITH words AS (SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w != '') AS w
           FROM documents),
         idxs AS (SELECT doc_id, w,
             unnest(range(0, CAST(ceil(len(w) / 4.0) AS BIGINT))) AS idx
           FROM words WHERE len(w) > 0),
         blocks AS (SELECT doc_id, idx,
             array_to_string(w[(idx * 4 + 1):(idx * 4 + 4)], ' ') AS block
           FROM idxs),
         firsts AS (SELECT block, doc_id, idx,
             row_number() OVER (PARTITION BY block
               ORDER BY doc_id, idx) AS rn
           FROM blocks),
         kept AS (SELECT doc_id, idx, block FROM firsts WHERE rn = 1),
         rebuilt AS (SELECT doc_id,
             string_agg(block, ' ' ORDER BY idx) AS text_dedup,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id),
         totals AS (SELECT doc_id, count(*) AS n_blocks
           FROM blocks GROUP BY doc_id)
       SELECT t.doc_id, coalesce(r.text_dedup, '') AS text_dedup,
              t.n_blocks, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
       FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
       ORDER BY t.doc_id""",

    // identical closed-form scoring expression on identical integer
    // statistics; the only doubles are avgdl and the final score (round 4)
    "t13_bm25" ->
      """WITH words AS (SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w != ''))
               AS word
           FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         qw AS (SELECT doc_id, word FROM words
                WHERE word IN ('spark', 'join', 'merge')),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM qw GROUP BY 1, 2),
         dfreq AS (SELECT word, count(DISTINCT doc_id) AS df
                   FROM qw GROUP BY 1)
       SELECT doc_id,
              round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf
                * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                4) AS bm25
       FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id)
       CROSS JOIN stats
       GROUP BY doc_id ORDER BY doc_id""",

    // the d03 exact-Jaccard pair relation rolled up per source; counts
    // of non-null join hits keep every aggregate BIGINT on both engines
    "d18_dedup_report" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents
                        WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
                FROM words),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
                   FROM sh a JOIN sh b ON a.shingle = b.shingle
                     AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT a_id, b_id FROM inter
                   JOIN sizes sa ON sa.doc_id = a_id
                   JOIN sizes sb ON sb.doc_id = b_id
                   WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6),
         dup AS (SELECT DISTINCT doc_id FROM
                   (SELECT a_id AS doc_id FROM pairs
                    UNION ALL SELECT b_id FROM pairs)),
         base AS (SELECT d.doc_id, d.source, dup.doc_id AS hit
                  FROM documents d
                  LEFT JOIN dup ON d.doc_id = dup.doc_id)
       SELECT source AS group_key, count(*) AS n_docs,
              count(hit) AS n_dup_docs,
              round(count(hit) * 1.0 / count(*), 4) AS dup_frac
       FROM base GROUP BY 1 ORDER BY 1""",

    // same composite score as t02, trimmed to the exact continuous
    // [p10, p90] band — Spark's percentile and DuckDB's quantile_cont
    // share the linear-interpolation definition over identical
    // round-4 inputs
    "t15_quality_band" -> qualityBandOracle,
    // the streamed router's cumulative keep sink equals the batch band
    // filter (fixed bounds => stateless routing, batch-split-invariant)
    "st08_stream_quality_router" -> qualityBandOracle,

    // the exact definition the two-phase MG pipeline must reproduce;
    // integer threshold arithmetic (freq * k > n) on both engines
    "t16_heavy_hitters" ->
      """WITH words AS (SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w != ''))
               AS word
           FROM documents)
       SELECT word, count(*) AS freq FROM words
       GROUP BY 1
       HAVING count(*) * 50 > (SELECT count(*) FROM words)
       ORDER BY word""",

    // identical bigram extraction (1-based list indexing), identical
    // smoothed model; self-scoring so every bigram/context is seen, but
    // the coalesces mirror the engine's unseen-fallbacks anyway
    "t17_perplexity" ->
      """WITH d AS (SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w != '') AS w
           FROM documents),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
                FROM (SELECT doc_id, w,
                        unnest(generate_series(1, len(w) - 1)) AS i
                      FROM d WHERE len(w) >= 2)),
         ctx AS (SELECT w1, count(*) AS cw FROM bg GROUP BY 1),
         big AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
         stats AS (SELECT count(DISTINCT w2) AS v FROM bg),
         scored AS (SELECT s.doc_id,
             ln((coalesce(b.cb, 0) + 0.5) /
                (coalesce(c.cw, 0) + 0.5 * stats.v)) AS lp
           FROM bg s
           LEFT JOIN big b ON s.w1 = b.w1 AND s.w2 = b.w2
           LEFT JOIN ctx c ON s.w1 = c.w1
           CROSS JOIN stats)
       SELECT doc_id, count(*) AS n_bigrams,
              round(avg(lp), 4) AS avg_logp,
              round(exp(-avg(lp)), 4) AS ppl
       FROM scored GROUP BY 1 ORDER BY 1""",

    // identical smoothed log-ratio table over the union vocabulary; the
    // totals feed only double arithmetic, so DuckDB's HUGEINT sums never
    // reach an output column
    "t14_dsir_weights" ->
      """WITH words AS (SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w != ''))
               AS word
           FROM documents),
         tw AS (SELECT w.doc_id, w.word FROM words w
                JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
         rc AS (SELECT word, count(*) AS cr FROM words GROUP BY 1),
         tc AS (SELECT word, count(*) AS ct FROM tw GROUP BY 1),
         vocab AS (SELECT coalesce(rc.word, tc.word) AS word,
                     coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
                   FROM rc FULL OUTER JOIN tc ON rc.word = tc.word),
         stats AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v
                   FROM vocab),
         lr AS (SELECT word,
                  ln((ct + 0.5) / (nt + 0.5 * v)) -
                  ln((cr + 0.5) / (nr + 0.5 * v)) AS lr
                FROM vocab CROSS JOIN stats)
       SELECT w.doc_id, round(sum(l.lr), 4) AS dsir_logw
       FROM words w JOIN lr l ON w.word = l.word
       GROUP BY 1 ORDER BY 1""",

    "s06_knn_graph" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         sims AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                    list_cosine_similarity(a.v, b.v) AS sim
                  FROM c a, c b WHERE a.vec_id <> b.vec_id),
         ranked AS (SELECT vec_id, neighbor_id, sim,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM sims)
       SELECT vec_id, rnk, neighbor_id, round(sim, 4) AS cos_sim
       FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rnk""",

    // the same three batch-perceptron rounds unrolled serially: round 1
    // degenerates to summing the positive class (w0 = 0 scores 0, and
    // sign(0) = -1), rounds 2-3 re-score against the previous weights;
    // every margin and update is BIGINT (sums cast from HUGEINT)
    "t18_perceptron" ->
      """WITH toks AS (SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             unnest(string_split(text, ' ')) AS tok
           FROM documents),
         feats AS (SELECT doc_id, y,
             list_reduce(list_transform(string_split(tok, ''),
               c -> ascii(c)::BIGINT),
               (acc, x) -> (acc * 31 + x) % 1000000007) % 64 AS bucket,
             CAST(count(*) AS BIGINT) AS x
           FROM toks WHERE length(tok) > 0 GROUP BY 1, 2, 3),
         buckets AS (SELECT i AS bucket FROM range(0, 64) t(i)),
         u1 AS (SELECT bucket, CAST(sum(y * x) AS BIGINT) AS u
                FROM feats WHERE y = 1 GROUP BY 1),
         w1 AS (SELECT b.bucket, coalesce(u1.u, 0) AS w
                FROM buckets b LEFT JOIN u1 ON b.bucket = u1.bucket),
         s2 AS (SELECT f.doc_id, f.y,
                  CAST(sum(f.x * w1.w) AS BIGINT) AS sc
                FROM feats f JOIN w1 ON f.bucket = w1.bucket
                GROUP BY 1, 2),
         m2 AS (SELECT doc_id, y FROM s2
                WHERE (CASE WHEN sc > 0 THEN 1 ELSE -1 END) <> y),
         u2 AS (SELECT f.bucket, CAST(sum(m.y * f.x) AS BIGINT) AS u
                FROM feats f JOIN m2 m ON f.doc_id = m.doc_id
                GROUP BY 1),
         w2 AS (SELECT w1.bucket, w1.w + coalesce(u2.u, 0) AS w
                FROM w1 LEFT JOIN u2 ON w1.bucket = u2.bucket),
         s3 AS (SELECT f.doc_id, f.y,
                  CAST(sum(f.x * w2.w) AS BIGINT) AS sc
                FROM feats f JOIN w2 ON f.bucket = w2.bucket
                GROUP BY 1, 2),
         m3 AS (SELECT doc_id, y FROM s3
                WHERE (CASE WHEN sc > 0 THEN 1 ELSE -1 END) <> y),
         u3 AS (SELECT f.bucket, CAST(sum(m.y * f.x) AS BIGINT) AS u
                FROM feats f JOIN m3 m ON f.doc_id = m.doc_id
                GROUP BY 1),
         w3 AS (SELECT w2.bucket, w2.w + coalesce(u3.u, 0) AS w
                FROM w2 LEFT JOIN u3 ON w2.bucket = u3.bucket)
       SELECT w3.bucket, w3.w AS weight,
              w1.w + w2.w + w3.w AS weight_sum
       FROM w3 JOIN w2 ON w3.bucket = w2.bucket
       JOIN w1 ON w3.bucket = w1.bucket
       ORDER BY w3.bucket""",

    // replays the identical BIGINT draw serially: exclusive prefix sum
    // in doc_id order, stride = total//64, affine-mixed offset, interval
    // containment — the engine's join-free slot arithmetic must land on
    // the same 64 (slot, doc) pairs
    "d19_weighted_sample" ->
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS weight
           FROM documents),
         cum AS (SELECT doc_id, weight,
             CAST(coalesce(sum(weight) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cb
           FROM w),
         p AS (SELECT CAST(sum(weight) AS BIGINT) AS total FROM w),
         s AS (SELECT total, total // 64 AS stride,
                 ((7 * 48271) % 2147483647 + 11) % 2147483647
                   % (total // 64) AS off
               FROM p),
         slots AS (SELECT i AS slot, s.off + i * s.stride AS pos
                   FROM range(0, 64) t(i), s)
       SELECT slot, c.doc_id, c.weight
       FROM slots JOIN cum c ON pos >= c.cb AND pos < c.cb + c.weight
       ORDER BY slot""",

    // same integer apportionment serially: isqrt weights, floor shares,
    // largest-remainder (ties by source), per-source running token sum
    // in doc_id order, keep while the next document still fits
    "d20_temperature_mix" ->
      """WITH w AS (SELECT doc_id, source AS stratum,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         t AS (SELECT stratum, CAST(sum(n_tokens) AS BIGINT) AS tw
               FROM w GROUP BY 1),
         t2 AS (SELECT stratum,
                  CAST(floor(sqrt(CAST(tw AS DOUBLE))) AS BIGINT) AS ws
                FROM t),
         p AS (SELECT CAST(sum(ws) AS BIGINT) AS wsum FROM t2),
         a AS (SELECT stratum, (10000 * ws) // wsum AS base_alloc,
                 row_number() OVER (ORDER BY (10000 * ws) % wsum DESC,
                   stratum) AS rnk
               FROM t2, p),
         a2 AS (SELECT stratum, base_alloc +
                  CASE WHEN rnk <= 10000 -
                    (SELECT CAST(sum(base_alloc) AS BIGINT) FROM a)
                  THEN 1 ELSE 0 END AS alloc
                FROM a),
         cum AS (SELECT doc_id, stratum, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY stratum
                     ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS cb
                 FROM w)
       SELECT c.doc_id, c.stratum, c.n_tokens
       FROM cum c JOIN a2 ON c.stratum = a2.stratum
       WHERE c.cb + c.n_tokens <= a2.alloc
       ORDER BY c.doc_id""",

    // the same affine-keyed per-source rank as one serial window (the
    // oracle can afford it), same constants from the shared generator
    "d22_domain_cap" -> {
      val (a, b) = Curation.shuffleConstants(13L)
      s"""WITH r AS (
            SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY
                ((doc_id % 2147483647) * $a + $b) % 2147483647, doc_id)
                AS rk
            FROM documents)
          SELECT doc_id, source FROM r WHERE rk <= 15
          ORDER BY doc_id"""
    },

    // the same (n_tokens, doc_id) ranking as one serial window, then
    // identical batch arithmetic (integer div on non-negative ranks)
    "d21_length_batching" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (SELECT doc_id, n_tokens,
                 row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS rk
               FROM d)
       SELECT rk // 32 AS batch_id,
              CAST(count(*) AS BIGINT) AS n_docs,
              max(n_tokens) AS max_tokens,
              CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
              CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
                AS padding_waste
       FROM r GROUP BY 1 ORDER BY 1""",

    // the same two brute-force top-5 relations and the same metric
    // arithmetic, serially (sums cast off HUGEINT; 1.0/rnk is plain
    // IEEE division on both engines)
    "e01_retrieval_eval" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
         truth AS (SELECT query_id, neighbor_id FROM
                     (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY list_cosine_similarity(q.v, b.v) DESC,
                            b.vec_id) AS rnk
                      FROM q, c b WHERE q.vec_id <> b.vec_id)
                   WHERE rnk <= 5),
         res AS (SELECT query_id, rnk, neighbor_id FROM
                   (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                      row_number() OVER (PARTITION BY q.vec_id
                        ORDER BY list_cosine_similarity(q.v, b.v) DESC,
                          b.vec_id) AS rnk
                    FROM q, c b
                    WHERE q.vec_id <> b.vec_id AND b.vec_id % 2 = 0)
                 WHERE rnk <= 5),
         j AS (SELECT r.query_id, r.rnk,
                 CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END
                   AS rel
               FROM res r LEFT JOIN truth t
                 ON r.query_id = t.query_id
                AND r.neighbor_id = t.neighbor_id)
       SELECT query_id,
              round(CAST(sum(rel) AS BIGINT) / 5.0, 4) AS recall_at_k,
              round(coalesce(max(CASE WHEN rel = 1
                THEN 1.0 / rnk END), 0), 4) AS mrr
       FROM j GROUP BY 1 ORDER BY 1""",

    // the same Lloyd rounds unrolled serially as a generated CTE chain
    // (one assignment + one integer centroid update per round) — the
    // generator shares the engine's round count and constants, so gate
    // and engine cannot drift
    "s13_kmeans" -> Clustering.kmeansOracleSql(k = 8, iters = 4),

    // stateless-per-batch serving: the cumulative sink equals the batch
    // assignment, so the streamed result shares the batch twin's
    // unrolled-Lloyd oracle verbatim
    "st10_stream_cluster_route" -> Clustering.kmeansOracleSql(k = 8,
      iters = 4),

    // the Lloyd chain + final assignment + the same within-cluster pair
    // predicate on the raw vectors + s07's prune rule, serially
    "s14_semdedup_kmeans" -> Clustering.semDedupKmeansOracleSql(k = 8,
      iters = 4, threshold = 0.4),

    // same brute-force kNN means, serially: per-edge cosines rounded
    // like the engine's graph output, then averaged and re-rounded
    "s12_knn_outliers" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         sims AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                    list_cosine_similarity(a.v, b.v) AS sim
                  FROM c a, c b WHERE a.vec_id <> b.vec_id),
         ranked AS (SELECT vec_id, sim,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, neighbor_id) AS rnk
                    FROM sims),
         sel AS (SELECT vec_id, round(sim, 4) AS cs FROM ranked
                 WHERE rnk <= 3)
       SELECT vec_id, round(avg(cs), 4) AS mean_knn_sim
       FROM sel GROUP BY 1
       ORDER BY mean_knn_sim, vec_id LIMIT 20""",

    // five unrolled synchronous iterations of the SAME integer
    // recurrence the engine runs: share = ((r*85)//100)//deg, teleport
    // = (15*(S//n))//100 — pure BIGINT, so serial DuckDB and shuffled
    // Spark agree bit for bit (sums cast back from HUGEINT)
    // the same synchronous vote rounds unrolled serially over the
    // brute-force kNN edges (s06's definition), generated by the
    // engine's own builder so k/rounds/seed-set cannot drift
    "gr02_label_prop" -> Graphs.labelPropKnnOracleSql(k = 3, iters = 3,
      seedMod = 5L),

    "gr01_pagerank_knn" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         sims AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                    list_cosine_similarity(a.v, b.v) AS sim
                  FROM c a, c b WHERE a.vec_id <> b.vec_id),
         edges AS (SELECT vec_id AS src, neighbor_id AS dst FROM
                     (SELECT vec_id, neighbor_id,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, neighbor_id) AS rnk
                      FROM sims)
                   WHERE rnk <= 3),
         nodes AS (SELECT DISTINCT src AS node FROM edges
                   UNION SELECT DISTINCT dst FROM edges),
         p AS (SELECT count(*) AS n, 1000000000000 // count(*) AS base,
                 (15 * (1000000000000 // count(*))) // 100 AS tp
               FROM nodes),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
         r0 AS (SELECT node, base AS r FROM nodes, p),
         c1 AS (SELECT e.dst AS node,
                  CAST(sum(((r.r * 85) // 100) // deg.d) AS BIGINT) AS inc
                FROM edges e JOIN r0 r ON e.src = r.node
                JOIN deg ON deg.src = e.src GROUP BY 1),
         r1 AS (SELECT nd.node, p.tp + coalesce(c1.inc, 0) AS r
                FROM nodes nd CROSS JOIN p
                LEFT JOIN c1 ON c1.node = nd.node),
         c2 AS (SELECT e.dst AS node,
                  CAST(sum(((r.r * 85) // 100) // deg.d) AS BIGINT) AS inc
                FROM edges e JOIN r1 r ON e.src = r.node
                JOIN deg ON deg.src = e.src GROUP BY 1),
         r2 AS (SELECT nd.node, p.tp + coalesce(c2.inc, 0) AS r
                FROM nodes nd CROSS JOIN p
                LEFT JOIN c2 ON c2.node = nd.node),
         c3 AS (SELECT e.dst AS node,
                  CAST(sum(((r.r * 85) // 100) // deg.d) AS BIGINT) AS inc
                FROM edges e JOIN r2 r ON e.src = r.node
                JOIN deg ON deg.src = e.src GROUP BY 1),
         r3 AS (SELECT nd.node, p.tp + coalesce(c3.inc, 0) AS r
                FROM nodes nd CROSS JOIN p
                LEFT JOIN c3 ON c3.node = nd.node),
         c4 AS (SELECT e.dst AS node,
                  CAST(sum(((r.r * 85) // 100) // deg.d) AS BIGINT) AS inc
                FROM edges e JOIN r3 r ON e.src = r.node
                JOIN deg ON deg.src = e.src GROUP BY 1),
         r4 AS (SELECT nd.node, p.tp + coalesce(c4.inc, 0) AS r
                FROM nodes nd CROSS JOIN p
                LEFT JOIN c4 ON c4.node = nd.node),
         c5 AS (SELECT e.dst AS node,
                  CAST(sum(((r.r * 85) // 100) // deg.d) AS BIGINT) AS inc
                FROM edges e JOIN r4 r ON e.src = r.node
                JOIN deg ON deg.src = e.src GROUP BY 1),
         r5 AS (SELECT nd.node, p.tp + coalesce(c5.inc, 0) AS r
                FROM nodes nd CROSS JOIN p
                LEFT JOIN c5 ON c5.node = nd.node)
       SELECT node, r AS rank_fp FROM r5 ORDER BY node""",

    "t07_repetition" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents),
           narrow AS (SELECT doc_id,
               round((len(w) - len(list_distinct(w))) * 1.0 / len(w), 4)
                 AS dup_word_frac,
               CASE WHEN len(w) >= 2
                    THEN list_transform(range(1, len(w)),
                           i -> w[i] || ' ' || w[i+1])
                    ELSE [] END AS bi
             FROM words),
           narrow2 AS (SELECT doc_id, dup_word_frac,
               CASE WHEN len(bi) > 0
                    THEN round((len(bi) - len(list_distinct(bi))) * 1.0
                               / len(bi), 4)
                    ELSE 0.0 END AS dup_bigram_frac
             FROM narrow),
           counts AS (SELECT doc_id, word, count(*) AS c
             FROM (SELECT doc_id, unnest(w) AS word FROM words)
             GROUP BY 1, 2),
           top AS (SELECT doc_id,
                     round(max(c) * 1.0 / sum(c), 4) AS top_word_share
                   FROM counts GROUP BY 1)
         SELECT narrow2.doc_id, dup_word_frac, dup_bigram_frac,
                top_word_share
         FROM narrow2 JOIN top ON narrow2.doc_id = top.doc_id""",

    "t08_pii_redact" ->
      """WITH aug AS (SELECT doc_id,
             text || ' reach user' || CAST(doc_id AS VARCHAR) ||
             '@mail.example.com or +1 555 01' ||
             lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
             ' at 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1' AS text
           FROM documents),
         s1 AS (SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g') AS t1
           FROM aug),
         s2 AS (SELECT doc_id, text, t1,
             regexp_replace(t1, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b',
               '[IP]', 'g') AS t2
           FROM s1)
         SELECT doc_id,
           len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t1,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips,
           len(regexp_extract_all(t2, '\+?[0-9][0-9 -]{6,}[0-9]')) AS n_phones,
           regexp_replace(t2, '\+?[0-9][0-9 -]{6,}[0-9]', '[PHONE]', 'g')
             AS redacted
         FROM s2 ORDER BY doc_id""",

    "t09_lexical_rarity" ->
      """WITH words AS (SELECT doc_id,
             unnest(string_split(text, ' ')) AS word FROM documents),
         w2 AS (SELECT doc_id, word FROM words WHERE length(word) > 0),
         freq AS (SELECT word, count(*) AS freq FROM w2 GROUP BY 1),
         top AS (SELECT word, 1 AS in_top FROM freq
                 ORDER BY freq DESC, word LIMIT 100)
         SELECT doc_id, count(*) AS n_words,
           round(sum(CASE WHEN top.in_top IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS oov_frac,
           round(median(freq.freq), 1) AS median_word_freq
         FROM w2 JOIN freq USING (word) LEFT JOIN top ON w2.word = top.word
         GROUP BY doc_id ORDER BY doc_id""",

    "t10_char_histogram" ->
      ("SELECT doc_id, " + (0 until 8).map(b =>
          s"len(list_filter(list_transform(range(1, length(text) + 1), " +
          s"i -> ascii(substring(text, CAST(i AS INT), 1)) % 8), " +
          s"x -> x = $b)) AS b$b").mkString(", ") +
        " FROM documents ORDER BY doc_id"),

    "d09_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
           < CASE lang WHEN 'en' THEN 64 WHEN 'es' THEN 128 ELSE 256 END
         ORDER BY doc_id""",

    "d05_dedup_embedding" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
         ORDER BY a_id, b_id""",

    "s01_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS vq
                    FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS vc FROM embeddings),
           sims AS (SELECT query_id, neighbor_id,
                      list_cosine_similarity(vq, vc) AS sim
                    FROM q, c WHERE query_id <> neighbor_id),
           ranked AS (SELECT query_id, neighbor_id, sim,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id) AS rnk
                      FROM sims)
         SELECT query_id, rnk, neighbor_id, round(sim, 4) AS cos_sim
         FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""",

    "t01_lang_id" ->
      """SELECT doc_id,
           CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
                WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
                WHEN es >= fr AND es > 0 THEN 'es'
                WHEN fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang
         FROM (SELECT doc_id, text,
                 len(list_intersect(string_split(text, ' '),
                   ['the','a','and','of','to','is'])) AS en,
                 len(list_intersect(string_split(text, ' '),
                   ['der','die','und','ist','das','ein'])) AS de,
                 len(list_intersect(string_split(text, ' '),
                   ['el','la','que','los','una','es'])) AS es,
                 len(list_intersect(string_split(text, ' '),
                   ['le','les','et','des','une','est'])) AS fr
               FROM documents) t
         ORDER BY doc_id""",

    "t02_quality_score" ->
      """SELECT doc_id, length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           round((length(text) - (length(text) - length(replace(text, ' ', ''))))
             * 1.0 / len(string_split(text, ' ')), 4) AS avg_token_len,
           round((length(text) - length(replace(text, ' ', ''))) * 1.0
             / length(text), 4) AS space_ratio,
           round(least(len(string_split(text, ' ')) / 30.0, 1.0) * 0.5 +
             CASE WHEN (length(text) - (length(text) - length(replace(text, ' ', ''))))
                    * 1.0 / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
                  THEN 0.3 ELSE 0.0 END +
             CASE WHEN (length(text) - length(replace(text, ' ', ''))) * 1.0
                    / length(text) BETWEEN 0.1 AND 0.3
                  THEN 0.2 ELSE 0.0 END, 4) AS quality_score
         FROM documents ORDER BY doc_id""",

    "t03_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
         FROM documents ORDER BY doc_id""",

    "t04_fingerprint" ->
      """SELECT doc_id,
           list_reduce(list_transform(string_split(text, ''), c -> ascii(c)::BIGINT),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
         FROM documents WHERE length(text) > 0 ORDER BY doc_id""",

    // rebuild the PPM payload (ASCII corpus: string ops == byte ops) and
    // recompute every value the decoder claims to have read from it
    // identical sample reconstruction: byte k of the payload is char
    // ((k-1) % len) + 1 of the text; integer sums of squares are exact
    // on both engines, so sqrt/round agree bit for bit; the crossing
    // sum is CAST to BIGINT (DuckDB HUGEINT gotcha)
    "m04_pcm_frames" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
                      256 * (2 + doc_id % 3) AS n
                    FROM documents WHERE length(text) > 0),
         idx AS (SELECT doc_id, text, L,
                   unnest(generate_series(0, n - 1)) AS i
                 FROM d),
         smp AS (SELECT doc_id, i // 256 AS frame_id, i,
                   ascii(substr(text, CAST(i % L AS INTEGER) + 1, 1)) - 64
                     AS c
                 FROM idx),
         lagd AS (SELECT doc_id, frame_id, c,
                    lag(c) OVER (PARTITION BY doc_id, frame_id
                      ORDER BY i) AS pc
                  FROM smp)
       SELECT doc_id, frame_id,
              round(sqrt(sum(c * c) * 1.0 / 256), 4) AS rms,
              CAST(sum(CASE WHEN pc IS NOT NULL AND ((c < 0) <> (pc < 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS zero_crossings,
              max(abs(c)) AS peak
       FROM lagd GROUP BY doc_id, frame_id
       ORDER BY doc_id, frame_id""",

    "m01_media_meta" ->
      """WITH g AS (SELECT doc_id, text,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(3 + doc_id % 7 AS INT) AS height,
             CAST((4 + doc_id % 13) * (3 + doc_id % 7) * 3 AS INT) AS n3
           FROM documents),
         p AS (SELECT doc_id, width, height, n3,
             'P6' || chr(10) || CAST(width AS VARCHAR) || ' ' ||
               CAST(height AS VARCHAR) || chr(10) || '255' || chr(10) ||
               substr(repeat(text, CAST(ceil(n3 / length(text)) AS INT)),
                 1, n3) AS payload,
             substr(repeat(text, CAST(ceil(n3 / length(text)) AS INT)),
               1, n3) AS pix
           FROM g),
         px AS (SELECT doc_id, width, height, n3, payload,
             list_transform(generate_series(1, n3),
               i -> ascii(substr(pix, CAST(i AS INT), 1))) AS b
           FROM p)
         SELECT doc_id, octet_length(encode(payload)) AS n_bytes,
           sha256(payload) AS sha256, width, height, 255 AS maxval,
           round(list_sum(list_filter(list_transform(generate_series(1, n3),
             i -> CASE WHEN (i - 1) % 3 = 0 THEN b[CAST(i AS INT)] END),
             v -> v IS NOT NULL)) * 1.0 / (width * height), 4) AS mean_r,
           round(list_sum(list_filter(list_transform(generate_series(1, n3),
             i -> CASE WHEN (i - 1) % 3 = 1 THEN b[CAST(i AS INT)] END),
             v -> v IS NOT NULL)) * 1.0 / (width * height), 4) AS mean_g,
           round(list_sum(list_filter(list_transform(generate_series(1, n3),
             i -> CASE WHEN (i - 1) % 3 = 2 THEN b[CAST(i AS INT)] END),
             v -> v IS NOT NULL)) * 1.0 / (width * height), 4) AS mean_b
         FROM px ORDER BY doc_id""",

    // same raster reconstruction, then the floor-mapped nearest-neighbor
    // resample in SQL; the resized payload is hashed byte for byte
    "m03_ppm_resize" ->
      """WITH g AS (SELECT doc_id, text,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(3 + doc_id % 7 AS INT) AS height,
             CAST((4 + doc_id % 13) * (3 + doc_id % 7) * 3 AS INT) AS n3
           FROM documents),
         p AS (SELECT doc_id, width, height,
             substr(repeat(text, CAST(ceil(n3 / length(text)) AS INT)),
               1, n3) AS pix
           FROM g),
         r AS (SELECT doc_id, width, height, pix,
             greatest(width // 2, 1) AS nw, greatest(height // 2, 1) AS nh
           FROM p),
         rp AS (SELECT doc_id, nw, nh,
             array_to_string(list_transform(generate_series(1, nw * nh * 3),
               i -> substr(pix,
                 ((((((i - 1) // (3 * nw))) * height) // nh) * width
                   + ((((i - 1) // 3) % nw) * width) // nw) * 3
                   + ((i - 1) % 3) + 1, 1)), '') AS npix
           FROM r),
         enc AS (SELECT doc_id, nw, nh,
             'P6' || chr(10) || CAST(nw AS VARCHAR) || ' ' ||
               CAST(nh AS VARCHAR) || chr(10) || '255' || chr(10) || npix
               AS payload
           FROM rp)
         SELECT doc_id, nw AS width, nh AS height,
           octet_length(encode(payload)) AS n_bytes, sha256(payload) AS sha256
         FROM enc ORDER BY doc_id""",

    "st01_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",

    "d06_curation_pipeline" ->
      """WITH lang AS (
           SELECT doc_id,
             CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                  WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
                  WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
                  WHEN es >= fr AND es > 0 THEN 'es'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'und' END AS pred_lang
           FROM (SELECT doc_id, text,
                   len(list_intersect(string_split(text, ' '),
                     ['the','a','and','of','to','is'])) AS en,
                   len(list_intersect(string_split(text, ' '),
                     ['der','die','und','ist','das','ein'])) AS de,
                   len(list_intersect(string_split(text, ' '),
                     ['el','la','que','los','una','es'])) AS es,
                   len(list_intersect(string_split(text, ' '),
                     ['le','les','et','des','une','est'])) AS fr
                 FROM documents) t),
         qual AS (
           SELECT doc_id,
             round(least(len(string_split(text, ' ')) / 30.0, 1.0) * 0.5 +
               CASE WHEN (length(text) - (length(text) - length(replace(text, ' ', ''))))
                      * 1.0 / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
                    THEN 0.3 ELSE 0.0 END +
               CASE WHEN (length(text) - length(replace(text, ' ', ''))) * 1.0
                      / length(text) BETWEEN 0.1 AND 0.3
                    THEN 0.2 ELSE 0.0 END, 4) AS quality_score
           FROM documents),
         dup AS (
           SELECT doc_id,
             (doc_id <> min(doc_id) OVER (PARTITION BY text)) AS is_dup_copy
           FROM documents)
         SELECT l.doc_id, pred_lang, quality_score, is_dup_copy,
           (quality_score >= 0.8 AND pred_lang IN ('en', 'es')
             AND NOT is_dup_copy) AS kept
         FROM lang l JOIN qual USING (doc_id) JOIN dup USING (doc_id)
         ORDER BY doc_id""",

    "s04_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
           FROM e)
         SELECT vec_id, round(scale, 8) AS scale,
           CASE WHEN scale = 0 THEN array_to_string(list_transform(v, x -> 0), ',')
                ELSE array_to_string(list_transform(v,
                  x -> CAST(floor(x / scale + 0.5) AS INT)), ',') END AS q
         FROM s ORDER BY vec_id""",

    "st02_stream_sessions" ->
      """WITH a AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         b AS (
           SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM a),
         s AS (
           SELECT user_id, sess_id, min(ts) AS session_start,
             count(*) AS n_events
           FROM b GROUP BY user_id, sess_id)
         SELECT user_id, session_start, n_events FROM s
         WHERE sess_id < (SELECT max(sess_id) FROM s s2
                          WHERE s2.user_id = s.user_id)
         ORDER BY user_id, session_start""",

    "st03_stream_interval_join" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
           a.ts AS a_ts, b.ts AS b_ts
         FROM events a JOIN events b ON a.user_id = b.user_id
           AND a.event_type = 'signup' AND b.event_type = 'purchase'
           AND b.ts BETWEEN a.ts - INTERVAL 15 MINUTE
                        AND a.ts + INTERVAL 15 MINUTE
         ORDER BY a.user_id, a_id, b_id""",

    "st04_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // batch twins share their streaming counterparts' oracles verbatim
    "st02b_sessions_batch" ->
      """WITH a AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         b AS (
           SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM a),
         s AS (
           SELECT user_id, sess_id, min(ts) AS session_start,
             count(*) AS n_events
           FROM b GROUP BY user_id, sess_id)
         SELECT user_id, session_start, n_events FROM s
         WHERE sess_id < (SELECT max(sess_id) FROM s s2
                          WHERE s2.user_id = s.user_id)
         ORDER BY user_id, session_start""",

    "st03b_interval_join_batch" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
           a.ts AS a_ts, b.ts AS b_ts
         FROM events a JOIN events b ON a.user_id = b.user_id
           AND a.event_type = 'signup' AND b.event_type = 'purchase'
           AND b.ts BETWEEN a.ts - INTERVAL 15 MINUTE
                        AND a.ts + INTERVAL 15 MINUTE
         ORDER BY a.user_id, a_id, b_id""",

    "st04b_dedup_batch" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "st05_stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
           round(sum(value), 2) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""",

    "m02_frame_sample" ->
      """SELECT doc_id, i AS frame_idx,
           least(32, octet_length(encode(text)) - i * 32)::BIGINT AS frame_bytes
         FROM documents,
           unnest(list_filter(generate_series(0,
             greatest(CAST(ceil(octet_length(encode(text)) / 32.0) AS INT) - 1, 0)),
             i -> i % 2 = 0)) AS u(i)
         ORDER BY doc_id, frame_idx"""
  )
}
