package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (r16 optimization round): dump `explain("formatted")` for a
  * list of registry queries into a directory, one file per query, in ONE
  * JVM — [[Explain]] spawns a JVM per query, which makes capturing the
  * before/after plan set for a multi-query optimization batch needlessly
  * slow. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  * writes <outDir>/<query>_<suffix>.txt for each query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
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
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val plan = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable =>
        s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    graft.Caches.releaseAll()
    spark.stop()
  }
}
