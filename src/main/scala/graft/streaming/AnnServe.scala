package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.llm.Similarity

/** Production shape of STREAMING similarity serving: query vectors
  * arrive as a file stream, each micro-batch probes a PERSISTED IVF
  * index ([[graft.llm.Similarity.ivfIndex]] written once, centroids +
  * cell-partitioned assignments), exact cosine re-ranks within the
  * probed cells, and the per-query top-k lands in the micro-batch's
  * partition of a parquet sink, replaced atomically by
  * [[BatchSink.writePartition]] — a RETRIED batch (foreachBatch is
  * at-least-once) replaces its own partition, so the sink is idempotent
  * per batch and exactly-once cumulatively. Nothing accumulates on the
  * driver.
  *
  * At scale the index is the static side: the tiny centroid table
  * broadcasts, and a batch's probe touches only nProbe/nlist of the
  * cell-partitioned assignments (partition pruning on the cell key), so
  * per-batch cost is proportional to the batch times the probed
  * fraction — never the corpus. Batches are independent: unlike
  * incremental dedup there is no index append, so micro-batch splitting
  * cannot change any query's result.
  */
object AnnServe {

  /** One micro-batch: probe the index for this batch's queries, write
    * their top-k under the batch id. Exposed so idempotence is directly
    * testable — re-running a batch id leaves the sink byte-identical. */
  def processBatch(batch: DataFrame, batchId: Long, centroids: DataFrame,
      assignments: DataFrame, sinkDir: String, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    BatchSink.writePartition(Similarity.cosineTopKIvfIndexed(batch, idCol,
      vecCol, centroids, assignments, k, nProbe), sinkDir, batchId)

  /** Drain every query file currently in `incomingDir` through the
    * serving pipeline (Trigger.AvailableNow) and return the cumulative
    * top-k read back from the sink. The index at `indexDir` must hold
    * `centroids/` and cell-partitioned `assignments/` as written by the
    * s05 staging path. */
  def runAvailableNow(spark: SparkSession, incomingDir: String,
      schema: StructType, indexDir: String, sinkDir: String, k: Int,
      nProbe: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // static side, initialised ONCE and reused by every micro-batch:
    // the tiny centroid table is cached (bounded LRU), so each batch's
    // probe reads it from memory instead of re-listing and re-scanning
    // its parquet per trigger. The assignments stay a plain parquet
    // relation on purpose — at scale they are the corpus-sized side
    // whose per-batch read must go through cell partition pruning, not
    // through a cache.
    val centroids = graft.llm.Dedup.scopedCache(
      spark.read.parquet(s"$indexDir/centroids"))
    val assignments = spark.read.parquet(s"$indexDir/assignments")
    BatchSink.drain(spark, incomingDir, schema, "ann-serve",
        maxFilesPerTrigger) { (batch, batchId) =>
      processBatch(batch, batchId, centroids, assignments, sinkDir, k,
        nProbe, idCol, vecCol)
    }
    spark.read.parquet(sinkDir)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("cos_sim"))
  }
}
