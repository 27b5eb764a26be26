package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventOps

/** Streaming semantics: batch/stream parity for windowed aggregation, and
  * watermark-driven session closing (sessions only emit after the watermark
  * passes their end — the defining property of append-mode streaming).
  */
class StreamingSpec extends SparkSpec {

  private def splitEventsDir(): String = {
    // split events into 2 files by time so the second micro-batch advances
    // the watermark past the first batch's sessions
    val out = Files.createTempDirectory("graft_events").toFile
    out.deleteOnExit()
    val ev = Tables.load(spark, sfDir, "events").orderBy(col("ts"))
    val cut = ev.selectExpr(
      "timestamp_micros(cast(percentile_approx(unix_micros(ts), 0.9) as long)) as c")
      .head().getTimestamp(0)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    ev.filter(col("ts") <= lit(cut)).coalesce(1)
      .write.parquet(s"$out/batch1_dir")
    ev.filter(col("ts") > lit(cut)).coalesce(1)
      .write.parquet(s"$out/batch2_dir")
    // move parquet parts up as lexically ordered files
    val dir = Files.createTempDirectory("graft_stream").toFile
    dir.deleteOnExit()
    def move(sub: String, name: String): Unit = {
      val part = new java.io.File(s"$out/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, name).toPath)
    }
    move("batch1_dir", "part-a.parquet")
    move("batch2_dir", "part-b.parquet")
    dir.getAbsolutePath
  }

  test("windowed aggregation: streaming (complete mode) equals batch") {
    val dir = splitEventsDir()
    val stream = spark.readStream
      .schema(Tables.load(spark, sfDir, "events").schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_out")
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
    assert(sameResults(streamed, batch))
  }

  test("session windows close when the watermark passes them") {
    val dir = splitEventsDir()
    val stream = EventOps.readEventStream(spark, dir) // nanos path not used here
    val sessions = EventOps.sessionize(stream, gap = "30 minutes",
      watermark = "1 minute")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("sessions_out")
    // every emitted session must be a real batch session (same key + count)
    val batchSessions = Relational.queries("q41_events_sessions")(spark, sfDir)
    val emittedKeys = emitted
      .filter(col("user_id") < 100)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(_.toString).toSet
    val batchKeys = batchSessions.collect().map(_.toString).toSet
    assert(emittedKeys.nonEmpty, "no sessions emitted")
    assert(emittedKeys.subsetOf(batchKeys),
      s"streaming emitted sessions not present in batch result: ${
        emittedKeys.diff(batchKeys).take(3)}")
  }

  test("custom-state sessionization matches session_window (batch parity)") {
    val ev = Tables.load(spark, sfDir, "events")
    val custom = EventOps.sessionizeWithState(ev).toDF()
    // batch-mode flatMapGroupsWithState emits only sessions closed by a
    // successor event — every session except each user's last
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("session_start").desc)
    val expected = EventOps.sessionize(ev)
      .withColumn("rk", row_number().over(w)).filter(col("rk") > 1).drop("rk")
    assert(sameResults(custom, expected))
  }

  test("custom-state sessionization emits valid closed sessions on a stream") {
    val dir = splitEventsDir()
    val stream = EventOps.readEventStream(spark, dir)
    val q = EventOps.sessionizeWithState(stream, watermark = "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("state_sessions_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("state_sessions_out")
    val all = EventOps.sessionize(Tables.load(spark, sfDir, "events"))
      .collect().map(_.toString).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("session_start").desc)
    val mustEmit = EventOps.sessionize(Tables.load(spark, sfDir, "events"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") > 1).drop("rk")
      .collect().map(_.toString).toSet
    val got = emitted.collect().map(_.toString).toSet
    // emitted ⊆ all batch sessions; ⊇ all sessions closed by a successor
    // (the last session per user may or may not emit, depending on whether
    // the final watermark passed its timeout)
    assert(got.subsetOf(all), s"phantom sessions: ${got.diff(all).take(3)}")
    assert(mustEmit.subsetOf(got), s"missing: ${mustEmit.diff(got).take(3)}")
  }

  test("stream-stream interval join equals the batch join") {
    val dir = splitEventsDir()
    val stream = EventOps.readEventStream(spark, dir)
    val q = EventOps.correlateEvents(stream, "view", "purchase")
      .writeStream.outputMode("append")
      .format("memory").queryName("corr_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("corr_out")
    val batch = EventOps.correlateEvents(
      Tables.load(spark, sfDir, "events"), "view", "purchase")
    assert(streamed.count() > 0, "no correlated pairs")
    assert(sameResults(streamed, batch))
  }

  test("dropDuplicatesWithinWatermark removes duplicate event ids") {
    val dir = splitEventsDir()
    val ev = Tables.load(spark, sfDir, "events")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val doubled = stream.union(stream) // duplicate every event
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = doubled.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val n = spark.table("dedup_out").count()
    assert(n === ev.count())
  }

  test("incremental-dedup production sink: split-invariant, idempotent " +
      "under batch retries, no self-pairs") {
    import graft.streaming.IncrementalDedup
    val docs = Tables.load(spark, sfDir, "documents")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    // reference: the one-shot incremental run over the whole new batch
    val oneShot = {
      val idx = graft.llm.Dedup.minhashBandIndex(old, "doc_id", "text")
      graft.llm.Dedup.incrementalMinhashNearDuplicates(
        newDocs, docs, idx, "doc_id", "text", 0.6)
        .collect().map(_.toString).sorted.toSeq
    }
    val run = Files.createTempDirectory("graft_incdedup").toFile
    run.deleteOnExit()
    val indexDir = s"$run/index"
    val pairsDir = s"$run/pairs"
    IncrementalDedup.writeIndex(old, indexDir, batchId = -1L)
    val b0 = newDocs.filter(col("doc_id") % 4 === 1)
    val b1 = newDocs.filter(col("doc_id") % 4 === 3)
    IncrementalDedup.processBatch(spark, docs, b0, 0L, indexDir, pairsDir, 0.6)
    IncrementalDedup.processBatch(spark, docs, b1, 1L, indexDir, pairsDir, 0.6)
    def sink() = spark.read.parquet(pairsDir)
      .select("a_id", "b_id", "jaccard")
    // split into micro-batches == one-shot (cross-batch pairs surface via
    // the index, within-batch via new-vs-new; nothing twice)
    assert(sink().collect().map(_.toString).sorted.toSeq === oneShot)
    // foreachBatch is at-least-once: a RETRIED batch id must replace its
    // own sink/index partitions, not duplicate them, and must not emit
    // self-pairs even though the index already holds its signatures
    IncrementalDedup.processBatch(spark, docs, b1, 1L, indexDir, pairsDir, 0.6)
    assert(sink().collect().map(_.toString).sorted.toSeq === oneShot)
    assert(sink().filter(col("a_id") === col("b_id")).head(1).isEmpty)
  }

  test("incremental-dedup: no plan carries the batch id, a killed attempt's " +
      "leftovers are replaced, and the sink equals the one-shot run") {
    import spark.implicits._
    import graft.streaming.IncrementalDedup
    val batchId = 987654321L
    // the walk sees a literal of the id where there is one
    assert(PlanLiterals.of(spark.range(1).select(lit(batchId)).queryExecution,
      batchId).nonEmpty)

    val docs = Tables.load(spark, sfDir, "documents")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val oneShot = graft.llm.Dedup.incrementalMinhashNearDuplicates(batch, docs,
        graft.llm.Dedup.minhashBandIndex(old, "doc_id", "text"), "doc_id", "text", 0.6)
      .collect().map(_.toString).sorted.toSeq
    val run = Files.createTempDirectory("graft_incdedup_killed").toFile
    run.deleteOnExit()
    val indexDir = s"$run/index"
    val pairsDir = s"$run/pairs"
    IncrementalDedup.writeIndex(old, indexDir, batchId = -1L)
    // a killed attempt of the batch left: its index partition, a stale
    // pairs partition with a wrong row, and half-written temp siblings
    // whose files are not parquet at all
    IncrementalDedup.writeIndex(batch, indexDir, batchId)
    Seq((1L, 2L, 0.5)).toDF("a_id", "b_id", "jaccard")
      .write.parquet(s"$pairsDir/batch_id=$batchId")
    val torn = Seq(s"$pairsDir/.batch_id=$batchId.tmp-killed",
      s"$indexDir/.batch_id=$batchId.tmp-killed",
      s"$indexDir/.batch_id=$batchId.old-killed")
    for (t <- torn) {
      new java.io.File(t).mkdirs()
      Files.writeString(new java.io.File(t, "part-0.parquet").toPath, "torn")
    }
    def sink() = spark.read.parquet(pairsDir).select("a_id", "b_id", "jaccard")
    // the leftovers are invisible to readers
    assert(sink().collect().map(_.toString).toSeq === Seq("[1,2,0.5]"))

    // the batch's last write is its index partition
    val plans = PlanLiterals.captured(spark, pairsDir, indexDir) {
      IncrementalDedup.processBatch(spark, docs, batch, batchId, indexDir,
        pairsDir, 0.6)
    }
    // the verification ran among the observed plans
    assert(plans.exists(_.executedPlan.toString.contains("ngram_jaccard")))
    for (qe <- plans)
      assert(PlanLiterals.of(qe, batchId).isEmpty,
        s"batch id literal in:\n${qe.executedPlan}")

    assert(sink().collect().map(_.toString).sorted.toSeq === oneShot)
    assert(torn.forall(t => !new java.io.File(t).exists()))
    for (d <- Seq(indexDir, pairsDir))
      assert(new java.io.File(d).list().filter(_.startsWith(".batch_id")).isEmpty)
    // the index holds the batch's bands once, under its own partition
    val bands = spark.read.parquet(indexDir)
      .groupBy(col("batch_id").cast("long")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bands === Map(-1L -> old.count() * 32, batchId -> batch.count() * 32))
  }

  test("no other streaming server's micro-batch plan carries the batch id") {
    import spark.implicits._
    import graft.llm.Similarity
    import graft.streaming._
    val batchId = 987654321L
    val docs = Tables.load(spark, sfDir, "documents")
    val e = Tables.load(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 6)
    val (ivfCentroids, ivfCells) =
      Similarity.ivfIndex(e, "vec_id", "embedding", nlist = 4)
    val cb = Similarity.pqTrainCodebooks(e, "vec_id", "embedding",
      numSub = 8, codebookSize = 16, iters = 3, dim = Some(64))
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb,
      idOut = "neighbor_id")
    // hand-made centroids and merge rules: training them would add
    // slim-cache entries, and evicting those later logs a lineage warning
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val centroids =
      Array.tabulate(4, dim)((c, j) => if (j == c) 65536L else 0L)
    val merges = Seq(("t", "h"), ("th", "e"))
    // a scan, not a local relation: the optimizer folds a projection over
    // local rows into the rows themselves
    val revs = docs.select(col("doc_id"), lit(0).as("rev"), col("text"))
    val run = Files.createTempDirectory("graft_batchlit").toFile
    run.deleteOnExit()
    // (server, the sinks its batch writes, one batch)
    val servers = Seq[(String, Seq[String], () => Unit)](
      ("AnnServe", Seq(s"$run/ann"), () => AnnServe.processBatch(queries,
        batchId, ivfCentroids, ivfCells, s"$run/ann", 3, 2)),
      ("PqServe", Seq(s"$run/pq"), () => PqServe.processBatch(queries,
        batchId, e, cb, codes, s"$run/pq", 3, 16)),
      ("ClusterServe", Seq(s"$run/cluster"), () => ClusterServe.processBatch(
        e, batchId, centroids, s"$run/cluster", 65536L)),
      ("BpeServe", Seq(s"$run/bpe"), () => BpeServe.processBatch(docs,
        batchId, merges, s"$run/bpe")),
      ("QualityRouter", Seq(s"$run/keep", s"$run/reject"), () =>
        QualityRouter.processBatch(docs, batchId, 0.3, 0.7, s"$run/keep",
          s"$run/reject")),
      ("UpsertIngest", Seq(s"$run/log"), () =>
        UpsertIngest.appendBatch(revs, batchId, s"$run/log")))
    val carrying = servers.flatMap { case (name, sinks, batch) =>
      val plans = PlanLiterals.captured(spark, sinks: _*)(batch())
      // every sink reads back as the batch's partition
      for (d <- sinks)
        assert(spark.read.parquet(d).select(col("batch_id").cast("long"))
          .distinct().as[Long].collect().toSeq === Seq(batchId), s"$name $d")
      plans.filter(PlanLiterals.of(_, batchId).nonEmpty).map(name -> _)
    }
    assert(carrying.isEmpty, s"batch id literal in the plans of ${
      carrying.map(_._1).distinct.mkString(", ")}:\n${
      carrying.map(_._2.executedPlan).mkString("\n")}")
  }

  test("bpe-serve applies merge rules to unseen words and a retried " +
      "batch replaces its own partition") {
    import spark.implicits._
    import graft.llm.Bpe
    import graft.streaming.BpeServe
    // rules learned from the self-pair corpus: (a,a) then (aa,a)
    val train = Seq((1L, "aaaa aaa aaaaa")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(train, "text", 2)._1
      .map(m => (m.lhs, m.rhs))
    // UNSEEN words segment by rule application, not dictionary lookup:
    // aaaaaa -> [aa,aa,aa] (3); aaaaaaa -> [aa,aa,aaa] (3)
    val unseen = Seq((10L, "aaaaaa"), (11L, "aaaaaaa"))
      .toDF("doc_id", "text")
    val seg = unseen.select(col("doc_id"),
      Bpe.segmentExpr(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seg === Map(10L -> 3L, 11L -> 3L))
    // sink idempotence under foreachBatch's at-least-once retries
    val run = Files.createTempDirectory("graft_bpeserve").toFile
    run.deleteOnExit()
    val sinkDir = s"$run/pieces"
    BpeServe.processBatch(unseen.filter(col("doc_id") === 10L), 0L,
      merges, sinkDir)
    BpeServe.processBatch(unseen.filter(col("doc_id") === 11L), 1L,
      merges, sinkDir)
    BpeServe.processBatch(unseen.filter(col("doc_id") === 11L), 1L,
      merges, sinkDir)
    val sink = spark.read.parquet(sinkDir).select("doc_id", "n_pieces")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sink === Map(10L -> 3L, 11L -> 3L))
  }

  test("cluster-serve sink equals the batch assignment and a retried " +
      "batch replaces its own partition") {
    import graft.llm.Clustering
    import graft.streaming.ClusterServe
    val e = Tables.load(spark, sfDir, "embeddings")
    val cents = Clustering.kmeansCentroids(e, "vec_id", "embedding",
      k = 4, iters = 2)
    val batchTwin = Clustering.assignWithCentroids(e, "vec_id",
      "embedding", cents).collect().map(_.toString).sorted.toSeq
    val run = Files.createTempDirectory("graft_clserve").toFile
    run.deleteOnExit()
    val sinkDir = s"$run/assign"
    val b0 = e.filter(col("vec_id") % 2 === 0)
    val b1 = e.filter(col("vec_id") % 2 === 1)
    ClusterServe.processBatch(b0, 0L, cents, sinkDir, 65536L)
    ClusterServe.processBatch(b1, 1L, cents, sinkDir, 65536L)
    def sink() = spark.read.parquet(sinkDir)
      .select("vec_id", "cluster_id", "sq_dist")
      .collect().map(_.toString).sorted.toSeq
    assert(sink() === batchTwin)
    // at-least-once retry: the partition is replaced, not duplicated
    ClusterServe.processBatch(b1, 1L, cents, sinkDir, 65536L)
    assert(sink() === batchTwin)
  }

  test("upsert ingest: compacted view is split-invariant and a retried " +
      "batch replaces its own log partition") {
    import spark.implicits._
    import graft.streaming.UpsertIngest
    val revs = Seq(
      (1L, 0, "one"), (2L, 0, "two"), (3L, 0, "three"),
      (1L, 1, "one revised"), (3L, 1, "three revised"),
      (1L, 2, "one final")
    ).toDF("doc_id", "rev", "text")
    val expected = Seq((1L, 2L, 9L), (2L, 0L, 3L), (3L, 1L, 13L))
    def view(logDir: String) = UpsertIngest.compactedView(spark, logDir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // split A: all revisions in one batch
    val runA = Files.createTempDirectory("graft_upsA").toFile
    runA.deleteOnExit()
    UpsertIngest.appendBatch(revs, 0L, s"$runA/log")
    assert(view(s"$runA/log") === expected)
    // split B: revisions interleaved across three batches by rev level
    val runB = Files.createTempDirectory("graft_upsB").toFile
    runB.deleteOnExit()
    (0 to 2).foreach { r =>
      UpsertIngest.appendBatch(revs.filter(col("rev") === r), r.toLong,
        s"$runB/log")
    }
    assert(view(s"$runB/log") === expected)
    // at-least-once retry: re-running batch 1 must replace its own
    // partition (an atomic replace), leaving the view unchanged
    UpsertIngest.appendBatch(revs.filter(col("rev") === 1), 1L,
      s"$runB/log")
    assert(view(s"$runB/log") === expected)
    // compaction is one hash aggregation — no window sort in the plan
    val plan = UpsertIngest.compactedView(spark, s"$runB/log")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), plan)
  }
}
