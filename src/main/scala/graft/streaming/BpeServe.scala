package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.llm.Bpe

/** Production shape of STREAMING BPE segmentation: documents arrive as
  * a file stream and each micro-batch is tokenized against the PERSISTED
  * merge table (trained once by [[graft.llm.Bpe.trainMerges]], written
  * via `mergesDf`). Unlike the batch gate's dictionary join, serving
  * applies the merge RULES in rank order — a pure per-row fold, so an
  * unseen word segments exactly like the reference BPE encoder — and the
  * per-document piece counts land in the micro-batch's partition of a
  * parquet sink, replaced atomically by [[BatchSink.writePartition]]
  * (idempotent per batch, exactly-once cumulatively; nothing accumulates
  * on the driver).
  *
  * At scale the merge table is numMerges rows — read once, baked into
  * the segmentation expression as literals, so each micro-batch is a
  * narrow map-side pass: no join, no shuffle, cost exactly the batch
  * size. Batches share no state, so micro-batch splitting cannot change
  * any document's count — the cumulative sink equals the batch
  * segmentation, and t21's serially-replayed oracle carries over.
  */
object BpeServe {

  /** One micro-batch: segment this batch's documents, write under the
    * batch id. Exposed so idempotence is directly testable. */
  def processBatch(batch: DataFrame, batchId: Long,
      merges: Seq[(String, String)], sinkDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    BatchSink.writePartition(batch.select(col(idCol),
      Bpe.segmentExpr(col(textCol), merges).as("n_pieces")), sinkDir, batchId)

  /** Drain every document file currently in `incomingDir` through the
    * segmentation pipeline (Trigger.AvailableNow) and return the
    * cumulative per-document piece counts read back from the sink.
    * `mergesDir` holds the persisted merge table. */
  def runAvailableNow(spark: SparkSession, incomingDir: String,
      schema: StructType, mergesDir: String, sinkDir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val merges = Bpe.collectMerges(spark.read.parquet(mergesDir))
    BatchSink.drain(spark, incomingDir, schema, "bpe-serve") {
      (batch, batchId) =>
        processBatch(batch, batchId, merges, sinkDir, idCol, textCol)
    }
    spark.read.parquet(sinkDir).select(col(idCol), col("n_pieces"))
  }
}
