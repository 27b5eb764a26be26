package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Continuous corpus INGEST in the append-log + compacted-view shape —
  * the CDC pattern a versioned 100 TB corpus actually uses. Document
  * revisions arrive as a file stream; every micro-batch APPENDS its rows
  * to a batch-id-partitioned parquet log ([[BatchSink.writePartition]],
  * an atomic replace, so a retried batch replaces its own partition —
  * idempotent per batch, exactly-once cumulatively, nothing else mutates
  * in place). Readers never see the log: they read the COMPACTED view,
  * last-writer-wins per document.
  *
  * Compaction is one `max(struct(rev, ...))` hash aggregation keyed on
  * the document id — map-side combined, one shuffle sized by the key
  * space, no window sort anywhere. Micro-batch splitting cannot change
  * the view: the log's row SET is split-invariant (append-only, keyed by
  * content, batch_id only partitions the files) and compaction is a pure
  * function of that set.
  */
object UpsertIngest {

  /** One micro-batch: append this batch's revisions under its batch id.
    * Exposed so idempotence is directly testable — re-running a batch id
    * leaves the log byte-identical. */
  def appendBatch(batch: DataFrame, batchId: Long, logDir: String): Unit =
    BatchSink.writePartition(batch, logDir, batchId)

  /** Last-writer-wins view of the log: the highest-revision row per
    * document (struct ordering: rev first, text as the deterministic
    * final tie-break for malformed duplicate revisions).
    * Output: (doc_id, rev, n_chars). */
  def compactedView(spark: SparkSession, logDir: String): DataFrame =
    spark.read.parquet(logDir)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("rev"), col("text"))).as("s"))
      .select(col("doc_id"), col("s.rev").cast("long").as("rev"),
        length(col("s.text")).cast("long").as("n_chars"))

  /** Drain every revision file currently in `incomingDir` into the log
    * (Trigger.AvailableNow) and return the compacted view. */
  def runAvailableNow(spark: SparkSession, incomingDir: String,
      schema: StructType, logDir: String): DataFrame = {
    BatchSink.drain(spark, incomingDir, schema, "upsert-ingest") {
      (batch, batchId) => appendBatch(batch, batchId, logDir)
    }
    compactedView(spark, logDir)
  }
}
