package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.llm.TextAnalysis

/** Production shape of STREAMING quality routing: newly ingested
  * documents arrive as a file stream, each micro-batch scores them with
  * the composite quality heuristics and ROUTES every document to
  * exactly one of two parquet sinks — keep (score inside the configured
  * band) or reject (outside) — so downstream training-data consumers
  * read a pre-filtered lake and auditors can sample what was dropped.
  *
  * The band bounds are FIXED inputs (computed once from a reference
  * corpus, e.g. [[TextAnalysis.scoreBandFilter]]'s percentiles over
  * yesterday's lake): a stream cannot know global percentiles of data
  * it has not seen, and recomputing them per batch would make routing
  * depend on batch boundaries. With fixed bounds, routing is stateless
  * and per-document, so the cumulative sinks are independent of how
  * the stream splits into micro-batches.
  *
  * Both sinks hold one partition per micro-batch, replaced atomically by
  * [[BatchSink.writePartition]] — a retried batch (foreachBatch is
  * at-least-once) replaces its own partitions, keeping keep/reject
  * disjoint and exactly-once cumulatively. Nothing accumulates on the
  * driver; the per-batch cost is one narrow scoring projection plus two
  * filtered writes of that batch.
  */
object QualityRouter {

  /** One micro-batch: score, split on [lo, hi], write both sides under
    * this batch id. Exposed so retry idempotence is directly testable. */
  def processBatch(batch: DataFrame, batchId: Long, lo: Double, hi: Double,
      keepDir: String, rejectDir: String, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val scored = TextAnalysis.qualityScore(batch, idCol, textCol)
      .select(col("doc_id"), col("quality_score"))
    val inBand = col("quality_score").between(lo, hi)
    BatchSink.writePartition(scored.filter(inBand), keepDir, batchId)
    BatchSink.writePartition(scored.filter(!inBand), rejectDir, batchId)
  }

  /** Drain every file currently in `incomingDir` through the router
    * (Trigger.AvailableNow) and return the cumulative KEEP side read
    * back from its sink (the reject side stays queryable at
    * `rejectDir`). */
  def runAvailableNow(spark: SparkSession, incomingDir: String,
      schema: StructType, lo: Double, hi: Double, keepDir: String,
      rejectDir: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    BatchSink.drain(spark, incomingDir, schema, "quality-router") {
      (batch, batchId) =>
        processBatch(batch, batchId, lo, hi, keepDir, rejectDir, idCol,
          textCol)
    }
    spark.read.parquet(keepDir).select(col("doc_id"), col("quality_score"))
  }
}
