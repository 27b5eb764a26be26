package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.bench.QueryGenerator
import graft.llm.Curation
import graft.stats.EmulatedStatistics
import graft.streaming.IncrementalDedup

object Workloads {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Root span of one traced op, carrying the stats memo's growth. */
  def opSpan[T](tr: Tracer, stats: EmulatedStatistics)(body: => T): T = {
    val entries = stats.cacheSize
    tr.span("op", Map("stats.cache_entries_added" -> (stats.cacheSize - entries).toDouble))(body)
  }
}
import Workloads._

/** Planning alone, of JOB-style kit queries with warm statistics:
  * UES ordering, enforcement and Catalyst planning; nothing executes. */
final class JobPlan(spark: SparkSession, kitDir: String, seed: Long,
    sampleSize: Int) extends Workload {
  /** One query per stratum of the kit sorted by FROM-list size, so every
    * seed draws a sample of the same shape. */
  private val sample: IndexedSeq[(String, String)] = {
    val kit = graft.bench.Workload.fromDirectory("job", kitDir).queries.toIndexedSeq
    require(kit.size >= sampleSize, s"kit at $kitDir has ${kit.size} queries")
    def width(sql: String): Int = {
      val s = sql.replaceAll("--[^\n]*", "")
      "(?is)\\bFROM\\b(.*?)\\bWHERE\\b".r.findFirstMatchIn(s)
        .map(_.group(1).count(_ == ',') + 1).getOrElse(0)
    }
    val sorted = kit.sortBy { case (l, q) => (width(q), l) }
    val rnd = new Random(seed)
    (0 until sampleSize).map { k =>
      val lo = k * sorted.size / sampleSize
      val hi = (k + 1) * sorted.size / sampleSize
      sorted(lo + rnd.nextInt(hi - lo))
    }
  }
  override def cycle: Int = sampleSize
  private val trees = new Planning.TreeCheck
  private val nativeSchemas = scala.collection.mutable.Map.empty[String, Seq[(String, String)]]
  private var stats: EmulatedStatistics = _
  private var ues: Planning.Ues = _

  /** Fresh statistics, warmed by one cold pass over the sample. */
  def setup(): Unit = {
    stats = new EmulatedStatistics(spark)
    ues = new Planning.Ues(spark, stats)
    warmPass()
  }

  def warmPass(): Unit = sample.foreach { case (_, sql) => ues(sql, None) }

  def op(i: Int, tracer: Option[Tracer]): OpResult = {
    val (label, sql) = sample(i % sample.size)
    val t0 = System.nanoTime()
    val planned = tracer match {
      case None => ues(sql, None)
      case Some(tr) => opSpan(tr, stats)(ues(sql, tracer))
    }
    val lat = ms(t0)
    last = (label, sql, planned)
    OpResult(lat, 1, optMs = lat)
  }

  private var last: (String, String, Planning.Planned) = _

  /** The join tree is the one this query got before, and the output
    * schema is native Spark's. */
  def checkLast(): Option[String] = {
    val (label, sql, planned) = last
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
    val native = nativeSchemas.getOrElseUpdate(label, shape(spark.sql(sql).schema))
    trees(label, planned.tree).orElse(
      if (shape(planned.df.schema) == native) None
      else Some(s"$label: output schema ${shape(planned.df.schema)} != native $native"))
  }
}

/** The optimize-then-run loop on queries never seen before: each op is a
  * new FK random walk, planned by textbook DP and executed. */
final class WalkDp(spark: SparkSession, seed: Long) extends Workload {
  private val measuredBase = seed * 1000003L
  private val warmBase = measuredBase + 500000L
  // every warm-up query is new
  private var warmed = 0
  private var stats: EmulatedStatistics = _
  private var dp: Planning.Dp = _

  /** Fresh statistics, warmed by planning [[WalkDp.Cover]]: the ops then
    * miss the memo only on their filters. */
  def setup(): Unit = {
    stats = new EmulatedStatistics(spark)
    dp = new Planning.Dp(spark, stats)
    dp(WalkDp.Cover, None)
  }

  override def cycle: Int = 12
  /** Two whole cycles: the statistics memo fills as a window runs, so a
    * window of another length would read another median. */
  override def minOps: Int = 2 * cycle

  /** A walk over `tables` tables with `filters` filters; the seed picks
    * the tables, filter columns, operators and literals. */
  private def walk(seed: Long, tables: Int, filters: Int): String =
    QueryGenerator.randomWalkQuery(seed, minTables = tables, maxTables = tables,
      minFilters = filters, maxFilters = filters)

  private val used = scala.collection.mutable.Set.empty[String]

  /** The i-th op's query. Its table count (2 to 5) and filter count (1
    * to 3) cycle every 12 ops, and its tables are those of the walk that
    * a stream every run shares has at the same place in the cycle. It is
    * the first walk of the seed's stream, from position
    * `i * WalkDp.Stride` on, that joins those tables and that no earlier
    * op ran. So every run and every seed plans and executes the same
    * table sets in the same order, and the seed picks the filters
    * (columns, operators, literals), which are new to the statistics
    * memo. */
  private def opQuery(i: Int): String = {
    val (tables, filters) = (2 + i % 4, 1 + (i / 4) % 3)
    def from(sql: String) = sql.substring(sql.indexOf(" FROM "), sql.indexOf(" WHERE "))
    val want = from(walk(WalkDp.SharedBase + i % cycle, tables, filters))
    Iterator.from(i * WalkDp.Stride).map(j => walk(measuredBase + j, tables, filters))
      .find(q => from(q) == want && !used(q)).map { q => used += q; q }.get
  }

  /** Four new walks, one of each table count, with two filters each, so
    * passes compare. */
  def warmPass(): Unit = (1 to 4).foreach { _ =>
    warmed += 1
    dp(walk(warmBase + warmed, 2 + warmed % 4, 2), None).df.collect()
  }

  /** Optimization (the pipeline and Catalyst's physical planning), then
    * execution. */
  def op(i: Int, tracer: Option[Tracer]): OpResult = {
    val sql = opQuery(i)
    val t0 = System.nanoTime()
    val df = tracer match {
      case None => dp(sql, None).df
      case Some(tr) => opSpan(tr, stats)(dp(sql, tracer).df)
    }
    val optMs = ms(t0)
    val t1 = System.nanoTime()
    val rows = tracer match {
      case None => df.collect()
      case Some(tr) => tr.span("spark.execute")(df.collect())
    }
    val execMs = ms(t1)
    last = (sql, rows.map(_.toString).sorted.toSeq)
    OpResult(optMs + execMs, 1, optMs, execMs)
  }

  private var last: (String, Seq[String]) = _

  private var presetChecked = false

  /** The optimized plan returned what native Spark returns; on the first
    * op, also that `Presets.dynprog` picks the same plan. */
  def checkLast(): Option[String] = {
    val (sql, got) = last
    val want = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val preset = if (presetChecked) None else { presetChecked = true; dp.sameAsPreset(sql) }
    preset.orElse(if (got == want) None else Some(s"$sql: $got != native $want"))
  }
}

object WalkDp {
  /** The stream whose walks fix each op's tables. */
  val SharedBase = 7L
  /** Walks of the seed's stream set aside per op. */
  val Stride = 1000
  /** Every table of the walk schema joined on its keys, without filters. */
  val Cover: String = {
    val tables = QueryGenerator.schemaEdges.flatMap(e => Seq(e._1, e._3)).distinct.sorted
    s"SELECT count(*) AS n FROM ${tables.mkString(", ")} WHERE " +
      QueryGenerator.fkJoinPredicates(tables).mkString(" AND ")
  }
}

/** Incremental near-duplicate ingest: each op appends one batch to the
  * corpus, probes and extends the MinHash band index, and runs the
  * curation and packing pipeline over the batch. */
final class DedupIngest(spark: SparkSession, inputDir: String, runDir: String,
    warmBatches: Int, traced: Boolean) extends Workload {
  private val threshold = DedupIngest.Threshold
  private val batchFiles: IndexedSeq[String] =
    Option(new java.io.File(s"$inputDir/batches").listFiles()).getOrElse(Array.empty)
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toIndexedSeq
  require(batchFiles.size > warmBatches, s"too few batches under $inputDir")
  /** Every document's text, for checking reported pairs. */
  private val texts: Map[Long, String] =
    spark.read.parquet(s"$inputDir/documents.parquet" +: batchFiles: _*)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  private def firstId(b: Int) = DedupIngest.FirstBatchId + b.toLong * DedupIngest.BatchIdStride
  private def inBatch(b: Int)(id: Long) = id >= firstId(b) && id < firstId(b + 1)
  private val batchSizes = batchFiles.indices.map(b => texts.keys.count(inBatch(b)))
  private val shingles = scala.collection.mutable.Map.empty[Long, Set[String]]
  private def jaccard(a: Long, b: Long): Double = {
    def sh(id: Long) = shingles.getOrElseUpdate(id, DedupIngest.shingleSet(texts(id)))
    DedupIngest.jaccard(sh(a), sh(b))
  }
  private val planted: Map[Long, Long] = scala.io.Source
    .fromFile(s"$inputDir/planted.csv").getLines()
    .map(_.split(",")).map(a => a(0).toLong -> a(1).toLong).toMap

  private val writes = if (traced) {
    val l = new WriteTimes; spark.sparkContext.addSparkListener(l); Some(l)
  } else None

  private var rep = 0
  private var dirs: Path = _
  // the first `warmBatches` batches are the warm-up's, the rest the
  // window's: a repeated batch would hit the program's plan-keyed cache
  private var warmed = 0
  private def sub(name: String) = dirs.resolve(name).toString

  override def maxOps: Int = batchFiles.size - warmBatches

  /** A fresh copy of the built state: the corpus written to a parquet
    * directory and its band index bootstrapped. The first call builds it;
    * later calls copy its files, which gives the same state in
    * milliseconds instead of another build. */
  def setup(): Unit = {
    val built = Paths.get(runDir, "dedup", "built")
    if (!Files.exists(built)) {
      val corpus = built.resolve("corpus").toString
      spark.read.parquet(s"$inputDir/documents.parquet").write.parquet(corpus)
      IncrementalDedup.writeIndex(spark.read.parquet(corpus), built.resolve("index").toString, -1L)
    }
    rep += 1
    dirs = Paths.get(runDir, "dedup", s"rep$rep")
    val files = Files.walk(built)
    try files.forEach(f => Files.copy(f, dirs.resolve(built.relativize(f).toString)))
    finally files.close()
  }

  def warmPass(): Unit = {
    ingest(warmed, None)
    warmed += 1
  }

  private def ingest(b: Int, tracer: Option[Tracer]): Unit = {
    val batch = spark.read.parquet(batchFiles(b))
    def span[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))
    span("streaming.corpus_append")(batch.write.mode("append").parquet(sub("corpus")))
    val corpus = spark.read.parquet(sub("corpus"))
    span("streaming.process_batch") {
      IncrementalDedup.processBatch(spark, corpus, batch, b, sub("index"),
        sub("pairs"), threshold)
    }
    tracer.foreach(tr => splitWrites(tr, tr.spans.last))
    span("llm.curate_pack") {
      Curation.pretrainingPipeline(batch, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Splits the span of `processBatch` in two child spans at the start
    * of its last step, the band-index write (as Spark timed it):
    * `llm.dedup_build` before it (index probe, exact verification, pair
    * write) and `streaming.index_write`. */
  private def splitWrites(tr: Tracer, parent: Span): Unit = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    // earlier ops' writes are drained here too; epoch times are whole ms
    writes.get.drain(spark.sparkContext).collect {
      case (node, t0, t1) if node.contains(sub("index")) &&
          t0 * 1000000L + offsetNs >= parent.startNs - 1000000L =>
        (t0 * 1000000L + offsetNs, t1 * 1000000L + offsetNs)
    }.lastOption.foreach { case (s, e) =>
      tr.record("llm.dedup_build", parent.startNs, s, parent.id)
      tr.record("streaming.index_write", s, e, parent.id)
    }
  }

  def op(i: Int, tracer: Option[Tracer]): OpResult = {
    val b = warmBatches + i
    val t0 = System.nanoTime()
    tracer match {
      case None => ingest(b, None)
      case Some(tr) => tr.span("op")(ingest(b, tracer))
    }
    lastBatch = b
    OpResult(ms(t0), batchSizes(b))
  }

  private var lastBatch = -1

  /** Every planted pair at or above the threshold is reported, and every
    * reported pair is at or above it when recomputed from the texts. */
  def checkLast(): Option[String] = {
    val b = lastBatch
    val reported = spark.read.parquet(sub("pairs")).where(col("batch_id") === b)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = planted.toSeq.collect { case (id, src) if inBatch(b)(id) => (src, id) }
      .filter { case (a, c) => jaccard(a, c) >= threshold }
      .filterNot(reported.contains)
    val wrong = reported.filter { case (a, c) => jaccard(a, c) < threshold - 1e-9 }
    if (missed.isEmpty && wrong.isEmpty) None
    else Some(s"batch $b: missed planted ${missed.take(5).mkString(",")}, " +
      s"below threshold ${wrong.take(5).mkString(",")}")
  }

  private def bytesUnder(dir: String, batches: Range): Long =
    batches.map(b => Paths.get(dir, s"batch_id=$b")).filter(Files.exists(_)).map { p =>
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }.sum

  override def indexBytesPerUnit(ops: Seq[OpResult]): Double = {
    val measured = warmBatches until (warmBatches + ops.size)
    val bytes = bytesUnder(sub("index"), measured) + bytesUnder(sub("pairs"), measured)
    bytes.toDouble / math.max(ops.map(_.units).sum, 1)
  }
}

object DedupIngest {
  val Threshold = 0.6
  /** Batch document ids start here; corpus ids are below it. */
  val FirstBatchId = 1000000L
  /** Batch b's document ids start at FirstBatchId + b * BatchIdStride. */
  val BatchIdStride = 1000L

  def shingleSet(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a intersect b).size.toDouble / (a union b).size
}
