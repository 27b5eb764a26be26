package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, a window of `--seconds`.
  * Inputs are generated beforehand into `--data`; everything the run
  * writes goes under `--run-dir`. The result object goes to `--result`. */
object Main {
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[perfbench] $up%6.1f s $msg")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val cpus = arg("cpus").toInt
    val runDir = arg("run-dir")
    val data = arg("data")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Main.log("session ready")
    try {
      def register(): Unit = Seq("region", "nation", "customer", "supplier",
        "part", "orders", "lineitem", "events").foreach { t =>
        graft.Tables.load(spark, data, t).createOrReplaceTempView(t)
      }
      val w: Workload = workload match {
        case "job_plan" =>
          register(); new JobPlan(spark, arg("kit"), seed, arg("sample").toInt)
        case "walk_dp" => register(); new WalkDp(spark, seed)
        case "dedup_ingest" =>
          new DedupIngest(spark, data, runDir, arg("max-warm").toInt, trace)
        case other => sys.error(s"unknown workload $other")
      }
      Main.log("inputs loaded")
      val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
      val (ops, metrics) = new Harness(spark, cpus, arg("min-warm").toInt, arg("max-warm").toInt)
        .run(w, seconds, tracer)
      tracer.foreach(_.write(arg("trace-out")))
      val failed = ops.count(_.error.nonEmpty)
      val m = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k":{"value":${v.value},"unit":"${v.unit}"}"""
      }.mkString(",")
      val out = s"""{"correct":${failed == 0},"attempted":${ops.size},""" +
        s""""failed":$failed,"metrics":{$m}}"""
      Main.log("window done")
      java.nio.file.Files.write(java.nio.file.Paths.get(arg("result")),
        out.getBytes("UTF-8"))
    } finally spark.stop()
  }
}
