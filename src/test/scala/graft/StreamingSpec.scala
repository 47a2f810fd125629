package graft

import java.nio.file.Files

import graft.operators.CloudFrontPack
import graft.sources.Tables
import graft.streaming.CloudFrontStream
import org.apache.spark.sql.functions._

/** A8/A9 — the streaming pipeline, driven end-to-end with the file
  * source standing in for Kinesis and a memory sink.
  */
class StreamingSpec extends GraftSpec {

  private def writeLines(dir: String): Long = {
    val lines = CloudFrontPack.synthLines(Tables.events(spark, sfDir))
    lines.coalesce(1).write.mode("overwrite").text(dir)
    lines.count()
  }

  test("cf_stream: file-source stream parses and aggregates hourly") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val n = writeLines(dir)
    val stream = spark.readStream
      .schema("value STRING")
      .text(dir)
      .withColumnRenamed("value", "line")
    val agg = CloudFrontStream.hourlyBytesByEdge(stream)
    val q = agg.writeStream
      .format("memory")
      .queryName("cf_hourly")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("cf_hourly")
      // compare against the identical batch computation
      val batch = CloudFrontStream.hourlyBytesByEdge(
        CloudFrontPack.synthLines(Tables.events(spark, sfDir)))
      val g = got.agg(sum("total_bytes"), sum("n_requests")).head()
      val b = batch.agg(sum("total_bytes"), sum("n_requests")).head()
      assert(g.getLong(1) == n && b.getLong(1) == n)
      assert(g.getLong(0) == b.getLong(0))
      assert(got.count() == batch.count())
    } finally q.stop()
  }

  test("cf_stream sessions: session_window closes on gap") {
    val dir = Files.createTempDirectory("graft-stream-s").toString
    writeLines(dir)
    val stream = spark.readStream
      .schema("value STRING")
      .text(dir)
      .withColumnRenamed("value", "line")
    val q = CloudFrontStream.sessions(stream)
      .writeStream.format("memory").queryName("cf_sessions")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cf_sessions")
      assert(got.count() > 0)
      // batch equivalence: same session_window computation on the same data
      val batch = CloudFrontStream.sessions(
        CloudFrontPack.synthLines(Tables.events(spark, sfDir)))
      assert(got.agg(sum("n_requests")).head().getLong(0) ==
        batch.agg(sum("n_requests")).head().getLong(0))
      assert(got.count() == batch.count())
    } finally q.stop()
  }

  test("cf_stream store: melted records land partitioned by measure/day") {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    val out = Files.createTempDirectory("graft-tsdb").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val n = writeLines(dir)
    val stream = spark.readStream.schema("value STRING").text(dir)
      .withColumnRenamed("value", "line")
    val q = CloudFrontStream.toTimestreamStore(stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val stored = spark.read.parquet(out)
    // two measures per input line; partition columns round-trip
    assert(stored.count() == 2 * n)
    assert(stored.select("measure_name").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("sc_bytes", "time_taken"))
    assert(stored.columns.contains("day"))
    // partition pruning surface: one measure+day selects a strict subset
    val one = spark.read.parquet(out)
      .filter(col("measure_name") === "sc_bytes")
    assert(one.count() == n)
    // and the pruning is structural, not a post-scan filter: the
    // measure predicate must land in the scan's PartitionFilters
    val scanPlan = one.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*measure_name".r
        .findFirstIn(scanPlan).isDefined,
      s"measure_name not pruned at the scan:\n$scanPlan")
    // dimensions map survives the store round-trip
    assert(stored.select(col("dimensions")("x_edge_location")).distinct()
      .count() == 8)
  }

  test("store commit is exactly-once across a crash between data and marker") {
    val out = Files.createTempDirectory("graft-tsdb-crash").toString + "/store"
    val records = graft.cloudfront.CloudFrontLogs.toRecords(
        CloudFrontStream.parsed(
          CloudFrontPack.synthLines(Tables.events(spark, sfDir)))
          .drop("event_time"),
        Seq("sc_bytes", "time_taken"),
        Seq("x_edge_location", "c_country", "sc_status"))
      .withColumn("day", to_date(col("time")))
    val total = records.count()
    val b0 = records.filter(col("measure_name") === "sc_bytes")
    val b1 = records.filter(col("measure_name") === "time_taken")
    CloudFrontStream.commitBatch(b0, out, "t", 0)
    // crash in the historical at-least-once window: batch 1's data is
    // fully published to the live tree but its marker never lands
    intercept[IllegalStateException] {
      CloudFrontStream.commitBatch(b1, out, "t", 1, crashBeforeMarker = true)
    }
    assert(spark.read.parquet(out).count() == total,
      "crashed attempt should have published its data")
    // foreachBatch re-executes the same batchId after the crash: the
    // re-run must REPLACE the partial publish, not append a second copy
    CloudFrontStream.commitBatch(b1, out, "t", 1)
    val stored = spark.read.parquet(out)
    assert(stored.count() == total, "re-executed batch duplicated rows")
    assert(stored.groupBy("measure_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("sc_bytes" -> total / 2, "time_taken" -> total / 2))
    // post-marker re-execution (restart after a completed batch) no-ops
    CloudFrontStream.commitBatch(b1, out, "t", 1)
    assert(spark.read.parquet(out).count() == total)
    // staging fully swept once committed
    val staging = new java.io.File(out, "_staging")
    assert(!staging.exists() || staging.listFiles().isEmpty)
  }

  test("store commit path starts no process: no Hadoop Shell fork in the stream, its checkpoint or commitBatch") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-stream-nofork").toString
    val out = Files.createTempDirectory("graft-tsdb-nofork").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-nofork").toString
    val lines = CloudFrontPack.synthLines(Tables.events(spark, sfDir))
      .limit(300)
    lines.repartition(3).write.mode("overwrite").text(dir) // three files
    val records = graft.cloudfront.CloudFrontLogs.toRecords(
        CloudFrontStream.parsed(lines).drop("event_time"),
        Seq("sc_bytes"), Seq("x_edge_location"))
      .withColumn("day", to_date(col("time")))
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.setDestination(jfr)
    rec.start()
    try {
      val stream = spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", 1).text(dir)
        .withColumnRenamed("value", "line")
      val q = CloudFrontStream.toTimestreamStore(stream, s"$out/stream", ckpt)
      try q.processAllAvailable() finally q.stop()
      CloudFrontStream.commitBatch(records, s"$out/direct", "t", 0)
      CloudFrontStream.commitBatch(records, s"$out/direct", "t", 1)
    } finally rec.stop() // writes the recording to `jfr`
    rec.close()
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    val shell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(shell.isEmpty, s"${shell.size} of ${starts.size} process starts " +
      s"came from Hadoop's Shell, e.g. " +
      shell.take(3).map(_.getString("command")).mkString("; "))
    // both measures of 300 lines; one measure of 300 lines, twice
    assert(spark.read.parquet(s"$out/stream").count() == 600)
    assert(spark.read.parquet(s"$out/direct").count() == 600)
  }

  test("cf_stream top-k: windowed uri counts rank to the batch answer") {
    val dir = Files.createTempDirectory("graft-stream-t").toString
    writeLines(dir)
    val stream = spark.readStream.schema("value STRING").text(dir)
      .withColumnRenamed("value", "line")
    val q = CloudFrontStream.uriCountsPerWindow(stream)
      .writeStream.format("memory").queryName("cf_uri_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = CloudFrontStream.rankTop(spark.table("cf_uri_counts"), 3)
      val batch = CloudFrontStream.rankTop(
        CloudFrontStream.uriCountsPerWindow(
          CloudFrontPack.synthLines(Tables.events(spark, sfDir))), 3)
      assert(got.count() == batch.count())
      assert(got.agg(sum("total_bytes")).head().getLong(0) ==
        batch.agg(sum("total_bytes")).head().getLong(0))
      // every window contributes at most k rows
      assert(got.groupBy("window").count()
        .filter(col("count") > 3).count() == 0)
    } finally q.stop()
  }

  test("cf_stream dedup: dropDuplicatesWithinWatermark keeps one per request id") {
    val dir = Files.createTempDirectory("graft-stream-d").toString
    // duplicate every line (retry semantics) by writing the corpus twice
    val lines = CloudFrontPack.synthLines(Tables.events(spark, sfDir))
    val n = lines.count()
    lines.union(lines).coalesce(1).write.mode("overwrite").text(dir)
    val stream = spark.readStream.schema("value STRING").text(dir)
      .withColumnRenamed("value", "line")
    val q = CloudFrontStream.parsed(stream)
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("x_edge_request_id")
      .groupBy().count()
      .writeStream.format("memory").queryName("cf_dedup_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // every duplicate collapsed: one row per unique request id
      assert(spark.table("cf_dedup_stream").head().getLong(0) == n)
    } finally q.stop()
  }

  test("cf_stream stream-stream join bounds state and matches batch") {
    val dir = Files.createTempDirectory("graft-stream-j").toString
    writeLines(dir)
    val stream = spark.readStream.schema("value STRING").text(dir)
      .withColumnRenamed("value", "line")
    val q = CloudFrontStream.errorsNearRequests(stream)
      .writeStream.format("memory").queryName("cf_err_near")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cf_err_near")
      val batch = CloudFrontStream.errorsNearRequests(
        CloudFrontPack.synthLines(Tables.events(spark, sfDir)))
      // inner stream-stream joins emit only watermark-resolved matches;
      // everything emitted must be a true batch match, and the join must
      // produce a substantial share of them on this bounded input
      val gotKeys = got.collect().map(_.toString).toSet
      val batchKeys = batch.collect().map(_.toString).toSet
      assert(gotKeys.nonEmpty)
      assert(gotKeys.subsetOf(batchKeys))
      assert(gotKeys.size >= batchKeys.size / 2)
    } finally q.stop()
  }

  test("cf_stream end-to-end: stream into the store, answer the dashboard from it") {
    val dir = Files.createTempDirectory("graft-stream-e2e").toString
    val out = Files.createTempDirectory("graft-tsdb-e2e").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-ckpt-e2e").toString
    writeLines(dir)
    val stream = spark.readStream.schema("value STRING").text(dir)
      .withColumnRenamed("value", "line")
    val q = CloudFrontStream.toTimestreamStore(stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    // the README headline query served FROM THE STORE: measure+day
    // partition pruning, bin(1h) × edge, sum of the melted measure
    val stored = spark.read.parquet(out)
      .filter(col("measure_name") === "sc_bytes")
    val got = stored.groupBy(
        graft.timeseries.TimeSeries.bin(col("time"), 3600).as("bin"),
        col("dimensions")("x_edge_location").as("edge"))
      .agg(sum(col("measure_value").cast("long")).as("bytes"))
    // equals the same aggregation straight off the raw parse
    val parsed = CloudFrontStream.parsed(
      CloudFrontPack.synthLines(Tables.events(spark, sfDir)))
    val want = parsed.groupBy(
        graft.timeseries.TimeSeries.bin(
          col("event_time"), 3600).as("bin"),
        col("x_edge_location").as("edge"))
      .agg(sum(col("sc_bytes")).as("bytes"))
    assert(got.orderBy("bin", "edge").collect().toSeq ==
      want.orderBy("bin", "edge").collect().toSeq)
  }

  test("cf_stream store compaction collapses micro-batch files, keeps data") {
    val dir = Files.createTempDirectory("graft-stream-c").toString
    val out = Files.createTempDirectory("graft-tsdb-c").toString + "/store"
    val n = writeLines(dir)
    // two separate micro-batched runs → >= 2 files per partition
    (1 to 2).foreach { i =>
      val ckpt = Files.createTempDirectory(s"graft-ckpt-c$i").toString
      val stream = spark.readStream.schema("value STRING").text(dir)
        .withColumnRenamed("value", "line")
      val q = CloudFrontStream.toTimestreamStore(stream, out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    val before = spark.read.parquet(out)
    val beforeCount = before.count()
    val beforeSum = before.filter(col("measure_name") === "sc_bytes")
      .agg(sum(col("measure_value"))).head().getDouble(0)
    assert(beforeCount == 4 * n) // 2 runs x 2 measures
    CloudFrontStream.compactStore(spark, out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("measure_name="))
      .flatMap(_.listFiles()).filter(_.isDirectory)
      .map(d => d -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty && files.forall(_._2 == 1),
      files.map { case (d, c) => s"${d.getName}: $c" }.mkString(", "))
    val after = spark.read.parquet(out)
    assert(after.count() == beforeCount)
    assert(after.filter(col("measure_name") === "sc_bytes")
      .agg(sum(col("measure_value"))).head().getDouble(0) == beforeSum)
  }

  test("cf_stream store retention drops expired days; survivors byte-identical") {
    val out = Files.createTempDirectory("graft-tsdb-x").toString + "/store"
    import spark.implicits._
    Seq(
      ("sc_bytes", "2026-08-01", 1.0), ("sc_bytes", "2026-08-05", 2.0),
      ("sc_bytes", "2026-08-10", 3.0), ("time_taken", "2026-08-01", 4.0),
      ("time_taken", "2026-08-10", 5.0))
      .toDF("measure_name", "day_s", "measure_value")
      .withColumn("day", to_date(col("day_s"))).drop("day_s")
      .write.partitionBy("measure_name", "day").parquet(out)
    // idempotence markers must ride through the sweep untouched
    val commits = new java.io.File(out, "_graft_commits")
    commits.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(commits, "tag-0").toPath, "x".getBytes)
    def snapshot(): Map[String, String] = {
      val root = java.nio.file.Paths.get(out)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f))
          root.relativize(f).toString -> md.map("%02x".format(_)).mkString
        }.toMap
    }
    val before = snapshot()
    // cutoff = asOf - 7d = 2026-08-05: the 08-01 partitions expire, the
    // 08-05 partition survives exactly on the boundary
    CloudFrontStream.expireStore(spark, out, maxAgeDays = 7,
      asOf = java.time.LocalDate.parse("2026-08-12"))
    val after = snapshot()
    val expired = before.keySet.filter(_.contains("day=2026-08-01"))
    assert(expired.nonEmpty && after.keySet.intersect(expired).isEmpty)
    val survivors = before.view.filterKeys(!expired.contains(_)).toMap
    assert(after == survivors) // byte-identical, markers included
    assert(after.contains("_graft_commits/tag-0"))
    val left = spark.read.parquet(out)
    assert(left.count() == 3 &&
      left.agg(sum("measure_value")).head().getDouble(0) == 10.0)
    assert(!new java.io.File(out + "__expiring").exists() &&
      !new java.io.File(out + "__preexpire").exists())
  }

  test("store lifecycle: init → ingest → compact → manifest-driven expire") {
    val out = Files.createTempDirectory("graft-tsdb-life").toString + "/store"
    CloudFrontStream.initStore(spark, out, retentionDays = 7)
    // re-provisioning an existing store must fail, not clobber it
    intercept[IllegalArgumentException] {
      CloudFrontStream.initStore(spark, out, retentionDays = 3)
    }
    assert(CloudFrontStream.storeRetentionDays(spark, out) == 7)
    import spark.implicits._
    val records = Seq(
      ("sc_bytes", "2026-08-01", 1.0), ("sc_bytes", "2026-08-10", 3.0),
      ("time_taken", "2026-08-01", 4.0), ("time_taken", "2026-08-10", 5.0))
      .toDF("measure_name", "day_s", "measure_value")
      .withColumn("day", to_date(col("day_s"))).drop("day_s")
    CloudFrontStream.commitBatch(records, out, "t", 0)
    CloudFrontStream.compactStore(spark, out)
    // compaction must carry the store metadata: the manifest (retention
    // policy) and the commit markers (exactly-once across a restart —
    // the rewrite strips batch prefixes, so only the marker stops a
    // re-executed batchId from duplicating)
    assert(CloudFrontStream.storeRetentionDays(spark, out) == 7)
    assert(new java.io.File(out, "_graft_commits/t-0").exists(),
      "compaction dropped the idempotence markers")
    CloudFrontStream.commitBatch(records, out, "t", 0) // re-execution
    assert(spark.read.parquet(out).count() == 4, "post-compact duplicate")
    // manifest-driven sweep: cutoff = asOf - 7d drops the 08-01 day
    CloudFrontStream.expireStore(spark, out,
      java.time.LocalDate.parse("2026-08-12"))
    val left = spark.read.parquet(out)
    assert(left.count() == 2 &&
      left.agg(sum("measure_value")).head().getDouble(0) == 8.0)
    // the manifest survives its own sweep — the next sweep still works
    assert(CloudFrontStream.storeRetentionDays(spark, out) == 7)
  }

  test("store swap aborts when the live path reappears; staged data intact") {
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft-swap").toString
    val p = new Path(base + "/store")
    val tmp = new Path(base + "/store__expiring")
    val old = new Path(base + "/store__preexpire")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p) // the "live writer recreated it" hazard
    fs.mkdirs(tmp); fs.create(new Path(tmp, "keep"), false).close()
    fs.mkdirs(old); fs.create(new Path(old, "expired"), false).close()
    val e = intercept[IllegalArgumentException] {
      CloudFrontStream.finishSwap(fs, p, tmp, old, "expire")
    }
    assert(e.getMessage.contains("reappeared"))
    assert(fs.exists(new Path(tmp, "keep")) &&
      fs.exists(new Path(old, "expired")))
  }

  test("alert topology end-to-end: injected spike in the raw lines surfaces as an anomaly") {
    import graft.streaming.StreamingAnomaly
    val linesDir = Files.createTempDirectory("graft-alert-lines").toString
    val store = Files.createTempDirectory("graft-alert-store").toString + "/store"
    val rollup = Files.createTempDirectory("graft-alert-roll").toString + "/rollup"
    val ckpt1 = Files.createTempDirectory("graft-alert-c1").toString
    val ckpt2 = Files.createTempDirectory("graft-alert-c2").toString
    import spark.implicits._
    // 30 hours of traffic from one edge (user_id=1 → EDGE-1): a gently
    // varying baseline (variance > 0, well under threshold) with a 40×
    // bytes spike injected in hour 20
    val base = java.time.Instant.parse("2026-08-01T00:00:00Z").getEpochSecond
    val events = (0 until 30).flatMap { h =>
      (0 until 20).map { i =>
        val v = if (h == 20) 500.0 else 10.0 + (h % 7) * 0.3
        (base + h * 3600L + i * 60L, 1, h * 100 + i, v, "view")
      }
    }.toDF("epoch", "user_id", "event_id", "value", "event_type")
      .withColumn("ts", timestamp_seconds(col("epoch"))).drop("epoch")
    CloudFrontPack.synthLines(events)
      .coalesce(1).write.mode("overwrite").text(linesDir)
    // job 1: raw lines → partitioned store
    val stream = spark.readStream.schema("value STRING").text(linesDir)
      .withColumnRenamed("value", "line")
    val q1 = CloudFrontStream.toTimestreamStore(stream, store, ckpt1)
    try q1.processAllAvailable() finally q1.stop()
    // job 2: store → hourly rollup (watermark closes hours 0..27)
    val q2 = CloudFrontStream.rollupStore(spark, store, rollup, ckpt2)
    try q2.processAllAvailable() finally q2.stop()
    // job 3: rollup → alerts
    val q3 = CloudFrontStream.storeAlerts(spark, rollup, zThreshold = 3.0)
      .toDF().writeStream.format("memory").queryName("cf_alerts")
      .outputMode("append").start()
    try {
      q3.processAllAvailable()
      val got = spark.table("cf_alerts").as[StreamingAnomaly.Anomaly].collect()
      val spike = base + 20 * 3600L
      assert(got.exists(a =>
        a.key == "EDGE-1" && a.bin_start == spike && a.z_ppm > 0 &&
          a.n_prior == 20L),
        got.mkString("; "))
      assert(got.forall(_.bin_start == spike),
        "baseline hours must not alert: " + got.mkString("; "))
    } finally q3.stop()
  }

  test("cf_stream store resumes from checkpoint without re-ingesting") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft-stream-r").toString
    val out = Files.createTempDirectory("graft-tsdb-r").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-ckpt-r").toString
    val lines = CloudFrontPack.synthLines(Tables.events(spark, sfDir))
      .limit(500).collect().map(_.getString(0))
    java.nio.file.Files.write(Paths.get(dir, "a.txt"),
      lines.take(300).mkString("\n").getBytes)
    def run(): Unit = {
      val stream = spark.readStream.schema("value STRING").text(dir)
        .withColumnRenamed("value", "line")
      val q = CloudFrontStream.toTimestreamStore(stream, out, ckpt,
        dimensions = Seq("x_edge_location", "x_edge_request_id"))
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() == 2 * 300)
    // second run against the SAME checkpoint: only the new file lands
    java.nio.file.Files.write(Paths.get(dir, "b.txt"),
      lines.drop(300).mkString("\n").getBytes)
    run()
    val stored = spark.read.parquet(out)
    assert(stored.count() == 2 * 500)
    // no request id ingested twice per measure
    assert(stored.groupBy(col("measure_name"),
        col("dimensions")("x_edge_request_id")).count()
      .filter(col("count") > 1).count() == 0)
  }

  test("cf_stream enrich: stream-static broadcast join adds geography") {
    val dir = Files.createTempDirectory("graft-stream-e").toString
    val n = writeLines(dir)
    import spark.implicits._
    val dims = (0 until 8)
      .map(i => (s"EDGE-$i", if (i < 4) "us-east" else "eu-west"))
      .toDF("x_edge_location", "region")
    val stream = spark.readStream.schema("value STRING").text(dir)
      .withColumnRenamed("value", "line")
    val q = CloudFrontStream.enrich(stream, dims)
      .groupBy(col("region")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("cf_enriched")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cf_enriched")
      assert(got.agg(sum("n")).head().getLong(0) == n)
      assert(got.filter(col("region").isNull).count() == 0)
      val batch = CloudFrontStream.enrich(
          CloudFrontPack.synthLines(Tables.events(spark, sfDir)), dims)
        .groupBy(col("region")).agg(count(lit(1)).as("n"))
      assert(got.orderBy("region").collect().toSeq ==
        batch.orderBy("region").collect().toSeq)
    } finally q.stop()
  }
}
