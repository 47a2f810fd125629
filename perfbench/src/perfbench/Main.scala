package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Command-line options, as run.py passes them. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cpus: Int, work: String)

/** What one workload run hands back: operation counts, check verdicts
  * and the metrics it measured. A failed check makes the run incorrect;
  * an operation that throws is counted in `failed` and its output goes
  * unchecked.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var nChecks = 0

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    nChecks += 1
    if (!ok) {
      failures += s"$name: $detail"
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
  }
  /** Run one operation, counting it; None if it threw. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] OPERATION FAILED $name: $e")
        None
    }
  }

  def correct: Boolean = failures.isEmpty && nChecks > 0
  def checks: Int = nChecks
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Time `body`, returning (result, seconds). */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }
}

/** The data files under a store or index directory. */
object Disk {
  /** (parquet files, directories holding them, bytes), skipping
    * metadata trees whose names start with `_`.
    */
  def layout(root: String): (Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val top = java.nio.file.Paths.get(root)
    val files = java.nio.file.Files.walk(top).iterator().asScala.toSeq
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !top.relativize(p).iterator().asScala.exists(_.toString.startsWith("_")))
    (files.size.toLong, files.map(_.getParent).distinct.size.toLong,
      files.map(java.nio.file.Files.size).sum)
  }
}

/** The metric names every run prints, with their units. A workload that
  * bypasses a layer reports 0 for it, so each traced run carries the full
  * per-layer set and each untraced run the full end-to-end set.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "bytes_per_item" -> "B/item")

  val perLayer: Seq[(String, String)] = Seq(
    // cloudfront
    "cloudfront.parse_melt_lines_per_s" -> "lines/s",
    // streaming: backlog throughput and the rollup-and-alerts pass
    "streaming.backlog_lines_per_s" -> "lines/s",
    "streaming.rollup_alerts_s" -> "s",
    // streaming: the store-ingest stream, per data trigger
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms",
    "streaming.triggers" -> "count",
    "streaming.lines_per_trigger" -> "lines",
    "streaming.rollup_get_batch_ms" -> "ms",
    "streaming.rollup_add_batch_ms" -> "ms",
    "streaming.rollup_state_rows" -> "rows",
    "streaming.rollup_state_bytes" -> "B",
    "streaming.alerts_ms" -> "ms",
    "streaming.alerts_state_rows" -> "rows",
    "streaming.alerts" -> "count",
    "gen.lateness_ms_max" -> "ms",
    // timeseries: the first pass of the five shapes, then per-shape
    // medians over the dashboard mix
    "timeseries.first_pass_s" -> "s",
    "timeseries.headline_ms" -> "ms",
    "timeseries.series_ms" -> "ms",
    "timeseries.country_ms" -> "ms",
    "timeseries.status_ms" -> "ms",
    "timeseries.latency_pct_ms" -> "ms",
    // sources
    "sources.store_files" -> "count",
    "sources.store_partitions" -> "count",
    "sources.store_bytes" -> "B",
    // spark
    "spark.jobs_per_trigger" -> "count",
    "spark.tasks_per_trigger" -> "count",
    "spark.analysis_ms" -> "ms",
    "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms",
    "spark.files_read_per_query" -> "count",
    "spark.partitions_read_per_query" -> "count",
    "spark.scan_metadata_ms" -> "ms",
    "spark.input_bytes_per_query" -> "B",
    "spark.jobs_per_query" -> "count",
    "spark.task_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B",
    "spark.input_bytes" -> "B",
    "jvm.heap_peak_mb" -> "MB",
    // self time per layer, from the spans around each public call
    "cloudfront.self_ms" -> "ms",
    "streaming.self_ms" -> "ms",
    "timeseries.self_ms" -> "ms",
    "benchmark.self_ms" -> "ms")
}

object Main {

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cpus").toInt, need("work"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.maxPlanStringLength", (16 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def json(o: Outcome, trace: Boolean): String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v)
        .stripTrailingZeros.toPlainString
    val (names, values) =
      if (trace) (Metrics.perLayer, o.layer) else (Metrics.endToEnd, o.e2e)
    val ms = names.map { case (n, u) =>
      s""""$n": {"value": ${num(values.getOrElse(n, 0.0))}, "unit": "$u"}"""
    }
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    val (steal0, jiffies0) = graft.SysStat.cpuSteal()
    val load0 = graft.SysStat.loadAvg
    val spark = session(o)
    val out = new Outcome
    val sessionS = Stats.secondsSince(t0)
    val tracer = new Tracer(spark, o.trace)
    try {
      o.workload match {
        case "cf_stream" => CfStream.run(spark, o, tracer, out, t0)
        case "cf_dashboard" => CfDashboard.run(spark, o, tracer, out, t0)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (o.trace) {
        tracer.finish(out)
        tracer.writeSpans(s"${new java.io.File(o.work).getParentFile
          .getParent}/traces/${o.workload}-seed${o.seed}.json")
      }
    } finally spark.stop()
    val (steal1, jiffies1) = graft.SysStat.cpuSteal()
    val stamp = Seq(
      "workload" -> s""""${o.workload}"""", "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "local_n" -> o.cpus.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "load_avg_start" -> f"$load0%.2f",
      "steal_pct" ->
        f"${graft.SysStat.stealPct(steal0, jiffies0, steal1, jiffies1)}%.2f",
      "checks" -> out.checks.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "session_s" -> f"$sessionS%.3f") ++
      out.e2e.map { case (k, v) => s"e2e.$k" -> f"$v%.4f" }
    println(stamp.map { case (k, v) => s""""$k": $v""" }
      .mkString("""{"stamp": {""", ", ", "}}"))
    println("PERFBENCH_RESULT " + json(out, o.trace))
  }
}
