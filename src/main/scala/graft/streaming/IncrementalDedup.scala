package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.llm.Dedup

/** Production shape of STREAMING incremental near-duplicate detection:
  * newly ingested documents arrive as a file stream; each micro-batch
  * probes the persisted MinHash band index, exact-verifies its candidate
  * pairs, APPENDS the discovered pairs to a parquet sink and its own band
  * signatures to the index — all executor-side, nothing accumulates on
  * the driver.
  *
  * Both the sink and the index are directories of `batch_id=<id>`
  * partitions written by [[BatchSink.writePartition]]: a killed write
  * leaves nothing a reader trusts, a retried batch replaces its own
  * partitions, and no plan a batch runs carries the batch id.
  * Probe-then-append ordering inside a batch plus the self-pair guard in
  * [[Dedup.incrementalMinhashNearDuplicates]] make the cumulative sink
  * exactly-once and micro-batch-split-invariant: a within-batch pair
  * surfaces via new-vs-new, a cross-batch pair surfaces when the later
  * batch probes the index that already holds the earlier one.
  *
  * At 100 TB the per-batch cost is proportional to the batch and its
  * collision set (the index side of the probe is an equality join on
  * (band, bh); bucket the index by those keys to make it shuffle-free),
  * never the corpus.
  */
object IncrementalDedup {

  /** Write `docs`' band signatures as the index partition `batch_id=` the
    * given id (use -1L to bootstrap the pre-existing corpus), replacing
    * that partition if it exists, so re-runs are idempotent. The write is
    * atomic: see [[BatchSink.writePartition]]. */
  def writeIndex(docs: DataFrame, indexDir: String, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    BatchSink.writePartition(Dedup.minhashBandIndex(docs, idCol, textCol),
      indexDir, batchId)

  /** One micro-batch: probe the current index, verify, write pairs and
    * index signatures under this batch id. Exposed so idempotence is
    * directly testable — calling it twice with the same batchId leaves
    * the sink and index byte-identical. */
  def processBatch(spark: SparkSession, corpus: DataFrame, batch: DataFrame,
      batchId: Long, indexDir: String, pairsDir: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    // the index must not hold the batch while the batch probes it: drop
    // the index partition of an earlier attempt that died after its index
    // write, so the probe reads the index as a whole
    val (fs, part) = BatchSink.partition(spark, indexDir, batchId)
    fs.delete(part, true)
    val pairs = Dedup.incrementalMinhashNearDuplicates(
      batch, corpus, spark.read.parquet(indexDir), idCol, textCol, threshold)
    BatchSink.writePartition(pairs, pairsDir, batchId)
    // append AFTER probing: the index must contain the batch before any
    // later batch runs
    writeIndex(batch, indexDir, batchId, idCol, textCol)
  }

  /** Drain every file currently in `incomingDir` through the incremental
    * pipeline (Trigger.AvailableNow) and return the cumulative pairs read
    * back from the sink. `corpus` must contain every document (old and
    * new) for exact verification; the index at `indexDir` must hold the
    * pre-existing corpus's signatures ([[writeIndex]] with batchId -1). */
  def runAvailableNow(spark: SparkSession, corpus: DataFrame,
      incomingDir: String, schema: StructType, indexDir: String,
      pairsDir: String, threshold: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    BatchSink.drain(spark, incomingDir, schema, "incremental-dedup") {
      (batch, batchId) =>
        processBatch(spark, corpus, batch, batchId, indexDir, pairsDir,
          threshold, idCol, textCol)
    }
    spark.read.parquet(pairsDir).select(
      col("a_id"), col("b_id"), col("jaccard"))
  }
}
