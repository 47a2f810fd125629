package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Typed-parse throughput — the ONE number directly comparable to the
  * reference's per-record parse loop — promoted (r10) from three
  * console lines to a stamped JSON artifact with the same contention
  * self-defense as [[Bench]]: pre-run load average, hypervisor steal
  * across the run window, and a `contended` stamp, so the
  * baseline-comparison figure is as self-defending as the gate bench.
  *
  * Output: one JSON line on stdout and at SPARK_GRAFT_PBENCH_OUT
  * (default pbench_out.json) — runs[] in M lines/s, best run, line
  * count, and the env block.
  */
object ParseBench {
  def main(args: Array[String]): Unit = {
    val cpus = SysStat.cpus
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val load0 = SysStat.loadAvg
    val (steal0, jiffies0) = SysStat.cpuSteal()
    val ev = graft.sources.Tables.events(spark, sfDir)
    val one = graft.operators.CloudFrontPack.synthLines(ev)
    val lines = (1 to 20).map(_ => one).reduce(_ union _)
      .repartition(cpus.toInt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val n = lines.count()
    val runs = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      graft.cloudfront.CloudFrontLogs.parse(lines)
        .agg(sum(col("sc_bytes")), count(col("c_ip"))).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      val mps = n / dt / 1e6
      System.err.println(
        f"[pbench] run$i n=$n parse+agg $dt%.2f s = $mps%.2f M lines/s")
      mps
    }
    val (steal1, jiffies1) = SysStat.cpuSteal()
    val stealPct = SysStat.stealPct(steal0, jiffies0, steal1, jiffies1)
    val load1 = SysStat.loadAvg
    val loadThreshold = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_MAX_LOAD", "1.0").toDouble
    val stealThreshold = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_MAX_STEAL_PCT", "2.0").toDouble
    val contended = load0 > loadThreshold || stealPct > stealThreshold
    val line =
      s"""{"metric":"parse_mlines_per_sec","value":${f"${runs.max}%.3f"}""" +
      s""","unit":"M lines/s","n_lines":$n,"runs":${runs
        .map(r => f"$r%.3f").mkString("[", ",", "]")}""" +
      s""","sf":"$sfDir","env":{"cpus":$cpus""" +
      s""","load_avg_start":$load0,"load_avg_end":$load1""" +
      f""","steal_pct":$stealPct%.3f,"load_threshold":$loadThreshold""" +
      s""","steal_threshold":$stealThreshold}""" +
      s""","contended":$contended}"""
    println(line)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PBENCH_OUT", "pbench_out.json"))
    java.nio.file.Files.write(out,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
