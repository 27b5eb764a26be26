package graft.streaming

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** What every streaming server does: drain a file stream through
  * `foreachBatch` ([[drain]]) and write each micro-batch's output as the
  * partition `batch_id=<id>` of a parquet directory ([[writePartition]]).
  * Read back, `batch_id` is inferred from the directory names, so the
  * batch id only names directories: no plan a batch runs carries it, and
  * no generated source depends on it. The partition write is atomic and
  * replaces the partition an earlier attempt left, so a RETRIED batch
  * (foreachBatch is at-least-once) replaces its own output instead of
  * duplicating it: every sink is idempotent per batch id.
  */
object BatchSink {

  /** How long [[drain]] waits for a stream to run dry. */
  private val TimeoutMs = 300000L

  /** The file system and path of partition `batch_id=<batchId>` of `dir`. */
  private[streaming] def partition(spark: SparkSession, dir: String,
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
  def writePartition(df: DataFrame, dir: String, batchId: Long): Unit = {
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

  /** Run `process` on every micro-batch of the parquet files currently in
    * `incomingDir` (Trigger.AvailableNow, `maxFilesPerTrigger` files a
    * batch) and return once the stream has run dry. `name` labels the
    * timeout error. The query is stopped on every exit, so a timed-out
    * or failed drain leaves nothing writing into the sink. */
  def drain(spark: SparkSession, incomingDir: String, schema: StructType,
      name: String, maxFilesPerTrigger: Int = 1)(
      process: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(incomingDir)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(process)
      .start()
    try require(q.awaitTermination(TimeoutMs),
      s"$name stream timed out after $TimeoutMs ms")
    finally q.stop()
  }
}
