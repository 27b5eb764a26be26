package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.llm.Clustering

/** Production shape of STREAMING cluster assignment: vectors arrive as a
  * file stream and each micro-batch is routed to its semantic cluster
  * against a PERSISTED centroid set (trained once by
  * [[graft.llm.Clustering.kmeansCentroids]], written via `centroidsDf`).
  * Assignments land in the micro-batch's partition of a parquet sink,
  * replaced atomically by [[BatchSink.writePartition]] — a retried batch
  * (foreachBatch is at-least-once) replaces its own partition, so the
  * sink is idempotent per batch and exactly-once cumulatively. Nothing
  * accumulates on the driver.
  *
  * At scale the centroid set is k x dim BIGINTs — a few KB read once and
  * baked into the assignment expression as broadcast literals, so each
  * micro-batch is a narrow map-side pass (no join, no shuffle): per-batch
  * cost is exactly the batch size. Batches share no state, so micro-batch
  * splitting cannot change any row's cluster — the cumulative sink equals
  * the batch assignment, and the batch twin's oracle carries over
  * verbatim.
  */
object ClusterServe {

  /** One micro-batch: assign this batch's vectors, write under the batch
    * id. Exposed so idempotence is directly testable — re-running a
    * batch id leaves the sink byte-identical. */
  def processBatch(batch: DataFrame, batchId: Long,
      centroids: Array[Array[Long]], sinkDir: String, scale: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    BatchSink.writePartition(Clustering.assignWithCentroids(batch, idCol,
      vecCol, centroids, scale), sinkDir, batchId)

  /** Drain every vector file currently in `incomingDir` through the
    * routing pipeline (Trigger.AvailableNow) and return the cumulative
    * assignments read back from the sink. `centroidsDir` holds the
    * persisted (cid, centroid) table. */
  def runAvailableNow(spark: SparkSession, incomingDir: String,
      schema: StructType, centroidsDir: String, sinkDir: String,
      scale: Long = 65536L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // static side: the tiny centroid table, read once for every batch
    val centroids =
      Clustering.collectCentroids(spark.read.parquet(centroidsDir))
    BatchSink.drain(spark, incomingDir, schema, "cluster-serve") {
      (batch, batchId) =>
        processBatch(batch, batchId, centroids, sinkDir, scale, idCol,
          vecCol)
    }
    spark.read.parquet(sinkDir)
      .select(col(idCol), col("cluster_id"), col("sq_dist"))
  }
}
