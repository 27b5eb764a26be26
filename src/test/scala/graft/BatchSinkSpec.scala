package graft

import java.io.File
import java.nio.file.Files

import graft.streaming.BatchSink

/** The streaming servers' shared partition write, with no server involved:
  * what a killed attempt leaves is invisible to readers and gone after the
  * retry, and a retried batch id replaces its partition. */
class BatchSinkSpec extends SparkSpec {

  test("a killed attempt's siblings are invisible, a retry removes them " +
      "and replaces its partition") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_batchsink").toFile
    dir.deleteOnExit()
    def sink() = spark.read.parquet(dir.toString)
      .select($"batch_id".cast("long"), $"v").as[(Long, String)]
      .collect().sorted.toSeq
    BatchSink.writePartition(Seq("a0").toDF("v"), dir.toString, 0L)
    BatchSink.writePartition(Seq("a1", "b1").toDF("v"), dir.toString, 1L)
    // a killed attempt of batch 1 left a temp and a moved-aside sibling
    // whose files are not parquet; batch 10's leftover shares the prefix
    // `.batch_id=1` and must survive batch 1's retry
    val mine = Seq(".batch_id=1.tmp-killed", ".batch_id=1.old-killed")
    val other = ".batch_id=10.tmp-killed"
    for (t <- mine :+ other) {
      new File(dir, t).mkdirs()
      Files.writeString(new File(new File(dir, t), "part-0.parquet").toPath,
        "torn")
    }
    assert(sink() === Seq((0L, "a0"), (1L, "a1"), (1L, "b1")))
    BatchSink.writePartition(Seq("c1").toDF("v"), dir.toString, 1L)
    assert(sink() === Seq((0L, "a0"), (1L, "c1")))
    assert(mine.forall(t => !new File(dir, t).exists()))
    assert(new File(dir, other).exists())
    assert(dir.list().filter(_.startsWith(".batch_id=1.")).isEmpty)
  }
}
