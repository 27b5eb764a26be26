package graft.streaming

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
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
  * partitions (read back, `batch_id` is inferred from the directory
  * names). A batch writes each of its partitions whole under a sibling
  * that Spark's listing skips, then renames it into place, replacing the
  * partition an earlier attempt left: a killed write leaves nothing a
  * reader trusts, and a RETRIED batch (foreachBatch is at-least-once)
  * replaces its own partitions instead of duplicating them — the sink and
  * the index are idempotent per batch id. The batch id only names
  * directories: no plan a batch runs carries it, so no generated source
  * depends on it. Probe-then-append ordering inside a batch plus
  * the self-pair guard in [[Dedup.incrementalMinhashNearDuplicates]] make
  * the cumulative sink exactly-once and micro-batch-split-invariant: a
  * within-batch pair surfaces via new-vs-new, a cross-batch pair surfaces
  * when the later batch probes the index that already holds the earlier
  * one.
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
    * atomic: see [[writePartition]]. */
  def writeIndex(docs: DataFrame, indexDir: String, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    writePartition(Dedup.minhashBandIndex(docs, idCol, textCol), indexDir,
      batchId)

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
    val (fs, part) = partition(spark, indexDir, batchId)
    fs.delete(part, true)
    val pairs = Dedup.incrementalMinhashNearDuplicates(
      batch, corpus, spark.read.parquet(indexDir), idCol, textCol, threshold)
    writePartition(pairs, pairsDir, batchId)
    // append AFTER probing: the index must contain the batch before any
    // later batch runs
    writeIndex(batch, indexDir, batchId, idCol, textCol)
  }

  /** The file system and path of partition `batch_id=<batchId>` of `dir`. */
  private def partition(spark: SparkSession, dir: String,
      batchId: Long): (FileSystem, Path) = {
    val p = new Path(dir, s"batch_id=$batchId")
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Write `df` as the partition `<dir>/batch_id=<batchId>`, atomically:
    * it is built under `<dir>/.batch_id=<batchId>.tmp-<uuid>`, an existing
    * partition is moved aside to a `.old-` sibling, the new one is renamed
    * into place and the old one deleted. The `.` prefix keeps both out of
    * Spark's listing (a `_` name containing `=` would be listed, as a
    * partition). Siblings that a killed attempt of the same batch left
    * behind are deleted first. */
  private def writePartition(df: DataFrame, dir: String, batchId: Long): Unit = {
    val (fs, part) = partition(df.sparkSession, dir, batchId)
    val root = part.getParent
    val hidden = s".batch_id=$batchId."
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith(hidden)).foreach(fs.delete(_, true))
    val tmp = new Path(root, s"${hidden}tmp-${UUID.randomUUID()}")
    try {
      df.write.parquet(tmp.toString)
      val old = new Path(root, s"${hidden}old-${UUID.randomUUID()}")
      val replaced = fs.exists(part)
      if (replaced && !fs.rename(part, old))
        throw new IOException(s"could not move $part aside")
      if (!fs.rename(tmp, part)) {
        if (replaced) fs.rename(old, part)
        throw new IOException(s"could not move $tmp to $part")
      }
      if (replaced) fs.delete(old, true)
    } finally fs.delete(tmp, true)
  }

  /** Drain every file currently in `incomingDir` through the incremental
    * pipeline (Trigger.AvailableNow) and return the cumulative pairs read
    * back from the sink. `corpus` must contain every document (old and
    * new) for exact verification; the index at `indexDir` must hold the
    * pre-existing corpus's signatures ([[writeIndex]] with batchId -1). */
  def runAvailableNow(spark: SparkSession, corpus: DataFrame,
      incomingDir: String, schema: StructType, indexDir: String,
      pairsDir: String, threshold: Double, idCol: String = "doc_id",
      textCol: String = "text", maxFilesPerTrigger: Int = 1,
      timeoutMs: Long = 300000): DataFrame = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(incomingDir)
    val q = stream.writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, corpus, batch, batchId, indexDir, pairsDir,
          threshold, idCol, textCol)
      }
      .start()
    require(q.awaitTermination(timeoutMs),
      s"incremental-dedup stream timed out after $timeoutMs ms")
    spark.read.parquet(pairsDir).select(
      col("a_id"), col("b_id"), col("jaccard"))
  }
}
