package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time one query and dump its formatted physical plan.
  * Usage: runMain graft.Explain <queryName> [sfDir] [explain|time|both]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "both"
    val cpus = SysStat.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "64KB")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect() // warmup
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (mode != "time") df.explain("formatted")
    if (mode != "explain") {
      var last = 0L
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        last = System.nanoTime() - t0
        println(f"[explain] run$i $name rows=$n time=${last / 1e9}%.2fs")
      }
    }
    spark.stop()
  }
}
