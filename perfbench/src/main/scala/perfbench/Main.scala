package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `setupEnd` is in [[Clock]] time;
  * `attempted`/`failed` count operations (queries or events);
  * `passes` is how often each catalog query ran in the timed region and
  * `failedByQuery` how many of those runs threw. */
final case class Outcome(setupEnd: Long, e2e: Seq[(String, Double)],
                         layers: Seq[(String, Double)], attempted: Long, failed: Long,
                         errors: Seq[String], checkDir: Option[String], passes: Int,
                         failedByQuery: Map[String, Int])

/** One benchmark run in a fresh JVM and session:
  * `--workload egv_stream|catalog --seed N --seconds S --trace 0|1
  * --cores C --work DIR [--data DIR --queries a,b,c]`.
  * Writes `result.json` (and `spans.json` when tracing) under `--work`. */
object Main {
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally f.close()
  }

  /** (stolen, total) CPU jiffies of the host so far, from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cols = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (cols.length > 7) cols(7) else 0L, cols.take(8).sum)
    } finally f.close()
  }

  /** Share of CPU time the hypervisor gave to other guests between two
    * [[cpuJiffies]] readings. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments come in --name value pairs")
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores")
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    // The same session settings as graft.Bench.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(_.register(spark))
    val spans = new Spans(trace)
    val out = workload match {
      case "egv_stream" =>
        new StreamBench(spark, seed, seconds, work, spans, listener).run()
      case "catalog" =>
        new CatalogBench(spark, opt("data"), opt("queries").split(",").toSeq,
          seconds, work, spans, listener).run()
      case w => sys.error(s"unknown workload $w")
    }
    val jvmStartNs = Clock.fromMs(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val e2e = out.e2e.map {
      case ("setup_s", _) => "setup_s" -> (out.setupEnd - jvmStartNs) / 1e9
      case kv => kv
    }
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "passes" -> out.passes.toString,
      "failed_by_query" -> Json.obj(out.failedByQuery.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "check_dir" -> out.checkDir.map(Json.str).getOrElse("null"),
      "errors" -> Json.strs(out.errors),
      "end_to_end" -> Json.nums(e2e),
      "per_layer" -> Json.nums(out.layers)))
    Files.writeString(Paths.get(s"$work/result.json"), json)
    if (trace) Files.writeString(Paths.get(s"$work/spans.json"), spans.toJson)
    spark.stop()
  }
}
