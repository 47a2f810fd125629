package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable end-to-end monitor-and-alert topology — the reference's full
  * story (CloudFront real-time lines → store → rollup → anomaly alert)
  * as one `main` a user can point at a directory of raw tab-delimited
  * log lines:
  *
  * {{{
  *   sbt "runMain graft.streaming.MonitorDemo <linesDir> [workDir]"
  * }}}
  *
  * The three streaming jobs are exactly the ones StreamingSpec drives
  * ("alert topology end-to-end"): [[CloudFrontStream.toTimestreamStore]]
  * (ingest, exactly-once), [[CloudFrontStream.rollupStore]] (hourly
  * per-edge rollup — the dashboard feed), and
  * [[CloudFrontStream.storeAlerts]] (prior-baseline z-score per closed
  * bin). The file source stands in for Kinesis; swap the first
  * `readStream` for a connector and nothing downstream changes.
  */
object MonitorDemo {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: MonitorDemo <linesDir> [workDir] — linesDir holds raw " +
        "tab-delimited CloudFront real-time log lines (text files)")
    val linesDir = args(0)
    val workDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-monitor").toString
    val store = s"$workDir/store"
    val rollup = s"$workDir/rollup"
    val cpus = graft.SysStat.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-monitor-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // convenience: pointed at a graft testdata dir instead of raw lines,
    // synthesize faithful log lines from its events table first — the
    // demo is then runnable against /root/testdata/sf0.001 with no prep
    val rawDir =
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$linesDir/events.parquet"))) {
        val d = s"$workDir/lines"
        graft.operators.CloudFrontPack
          .synthLines(graft.sources.Tables.events(spark, linesDir))
          .coalesce(4).write.mode("overwrite").text(d)
        println(s"[monitor] synthesized lines from $linesDir/events.parquet")
        d
      } else linesDir

    CloudFrontStream.initStore(spark, store, retentionDays = 7)
    println(s"[monitor] store initialized at $store (retention 7d)")

    val lines = spark.readStream.schema("value STRING").text(rawDir)
      .withColumnRenamed("value", "line")
    val ingest = CloudFrontStream.toTimestreamStore(
      lines, store, s"$workDir/ckpt-ingest")
    ingest.processAllAvailable(); ingest.stop()
    val stored = spark.read.parquet(store)
    println(s"[monitor] ingested ${stored.count()} records into " +
      s"${stored.select("measure_name", "day").distinct().count()} partitions")

    val roll = CloudFrontStream.rollupStore(
      spark, store, rollup, s"$workDir/ckpt-rollup")
    roll.processAllAvailable(); roll.stop()
    println(s"[monitor] rollup bins: ${spark.read.parquet(rollup).count()}")

    val alerts = CloudFrontStream.storeAlerts(spark, rollup)
      .writeStream.format("memory").queryName("graft_alerts")
      .outputMode("append").start()
    alerts.processAllAvailable(); alerts.stop()
    val found = spark.table("graft_alerts")
      .orderBy(col("key"), col("bin_start"))
    println(s"[monitor] anomalies: ${found.count()}")
    found.show(100, truncate = false)

    // observability stores on the same live feed (the A10g/A10k/A19b
    // streaming legs): seed from a first slice, stream the rest in two
    // micro-batches through StreamingMonitor, then poll the stores the
    // way a dashboard would — each read is exactly the one-global-pass
    // answer (the StreamingMonitorSpec contract)
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$linesDir/events.parquet"))) {
      import graft.sources.{MetricsStore, SnapshotStore, Tables}
      val ev = Tables.events(spark, linesDir)
      val seed = ev.filter(pmod(col("event_id"), lit(3)) === 0)
      MetricsStore.write(seed, col("event_type"), col("ts"),
        col("user_id"), "monitor_kmv", s"$workDir/kmv")
      MetricsStore.writeCms(seed, col("ts"), col("user_id"),
        "monitor_cms", s"$workDir/cms")
      SnapshotStore.write(seed, "monitor_snap", s"$workDir/snap")
      val incoming = s"$workDir/ev-incoming"
      ev.filter(pmod(col("event_id"), lit(3)) === 1)
        .coalesce(1).write.parquet(s"$incoming/b1")
      ev.filter(pmod(col("event_id"), lit(3)) === 2)
        .coalesce(1).write.parquet(s"$incoming/b2")
      val evStream = spark.readStream
        .schema("event_id LONG, user_id LONG, ts TIMESTAMP_NTZ, " +
          "event_type STRING, value DOUBLE, props STRING")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(incoming)
        .select(ev.columns.map(col): _*)
      val mon = StreamingMonitor.run(spark, evStream, "monitor_kmv",
        "monitor_cms", "monitor_snap",
        id => println(s"[monitor] observability fold: micro-batch $id"))
      mon.processAllAvailable(); mon.stop()
      val est = MetricsStore.estimate(spark, "monitor_kmv")
        .orderBy(col("key")).collect()
      println("[monitor] distinct users per event_type (KMV store): " +
        est.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
      println(s"[monitor] CMS cells stored: " +
        s"${MetricsStore.cmsCells(spark, "monitor_cms").count()}; " +
        s"snapshot keys: " +
        s"${SnapshotStore.snapshot(spark, "monitor_snap").count()}")
    }
    spark.stop()
  }
}
