package perfbench

import graft.cloudfront.CloudFrontLogs
import graft.streaming.{CloudFrontStream, StreamingAnomaly}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** cf_stream: raw CloudFront lines land in a file-source directory and
  * stream through `toTimestreamStore`; the store then feeds `rollupStore`
  * and `storeAlerts`.
  *
  *  - Backlog phase: a fixed set of files is present at the start and
  *    each trigger takes a fixed number of them, so batching and the
  *    stored layout repeat exactly. Gives lines/s and bytes stored.
  *  - Paced phase: one load-generator thread lands a file on a fixed
  *    schedule (open loop) for the run's seconds. Gives freshness: from
  *    when a file was due until the trigger that committed it finished.
  *  - Rollup and alerts, each run to completion over the whole store.
  */
object CfStream {
  val BacklogFiles = 12
  val LinesPerBacklogFile = 2000
  val FilesPerTrigger = 1
  val WarmTriggers = 12
  val PacedLines = 400
  val PacedPeriodMs = 1000L
  val LateShare = 0.03
  val MaxLateS: Long = 45 * 60L
  val StepReps = 3
  val Measures = Seq("sc_bytes", "time_taken")
  val Dims = Seq("x_edge_location", "c_country", "sc_status")

  /** Generated input: the backlog files' lines and the paced files'
    * lines, plus every record for the checks.
    */
  final case class Input(backlog: Seq[Seq[String]], paced: Seq[Seq[String]],
      records: Array[CfRec])

  /** Records in arrival order: a seeded share arrives up to 45 minutes
    * late (inside the 1 h watermark); the rest arrive in time order.
    */
  private def arrivalOrder(r: scala.util.Random,
      recs: Array[CfRec]): Array[CfRec] =
    recs.map { c =>
      val late = if (r.nextDouble() < LateShare)
        1000L * (60 + r.nextInt(MaxLateS.toInt - 60)) else 0L
      (c.tMs + late, c)
    }.sortBy(_._1).map(_._2)

  def generate(seed: Long, nPaced: Int): Input = {
    val r = Gen.rng(seed, 11)
    val nBack = BacklogFiles * LinesPerBacklogFile
    val back = arrivalOrder(r, Gen.cfRecords(r, nBack, Gen.T0))
    val paced = (0 until nPaced).map(i => Gen.cfRecords(r, PacedLines,
      Gen.T0 + Gen.spanS(nBack) + i * Gen.spanS(PacedLines)))
    Input(back.grouped(LinesPerBacklogFile).map(_.map(Gen.cfLine(_, r)).toSeq)
        .toSeq,
      paced.map(_.map(Gen.cfLine(_, r)).toSeq),
      back ++ paced.flatten)
  }

  private def linesStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toString)
      .text(dir).withColumnRenamed("value", "line")

  private def dataTriggers(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

  private def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)

  /** Run `q` until it has taken every file present; a stream that fails
    * leaves its files uncommitted, and they count as failed operations.
    */
  private def drive(q: StreamingQuery): Unit =
    try q.processAllAvailable() catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        System.err.println(s"[perfbench] OPERATION FAILED ingest stream: $e")
    }

  private def phaseMs(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    ps.map(_.durationMs.getOrDefault(k, 0L).toDouble)

  def run(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome,
      t0: Long): Unit = {
    import spark.implicits._
    val nPaced = math.max(1, (o.seconds * 1000L / PacedPeriodMs).toInt)

    // ---- set-up: input files, then a warm-up stream through ingest,
    // rollup and alerts on a throwaway store
    val input = generate(o.seed, nPaced)
    val src = Files.createDirectories(Paths.get(o.work, "src"))
    input.backlog.zipWithIndex.foreach { case (ls, j) =>
      Gen.landFile(src, f"backlog-$j%04d.log", ls.iterator) }
    tr.span("benchmark", "warmup") {
      // backlog-sized triggers, so the measured phase starts warm
      val wsrc = Files.createDirectories(Paths.get(o.work, "warm-src"))
      input.backlog.take(WarmTriggers * FilesPerTrigger).zipWithIndex.foreach {
        case (ls, j) => Gen.landFile(wsrc, f"warm-$j%04d.log", ls.iterator) }
      val wq = CloudFrontStream.toTimestreamStore(
        linesStream(spark, wsrc.toString), s"${o.work}/warm-store",
        s"${o.work}/warm-ckpt")
      wq.processAllAvailable(); wq.stop()
      rollupAndAlerts(spark, s"${o.work}/warm-store", s"${o.work}/warm")
    }
    val setupS = Stats.secondsSince(t0)
    tr.measureStart()

    // ---- backlog phase
    val store = s"${o.work}/store"
    val nBack = BacklogFiles * LinesPerBacklogFile
    val tb0 = System.nanoTime()
    val q = tr.span("streaming", "toTimestreamStore", "ingest") {
      CloudFrontStream.toTimestreamStore(linesStream(spark, src.toString),
        store, s"${o.work}/ckpt")
    }
    tr.span("streaming", "backlog") { drive(q) }
    val backlogS = Stats.secondsSince(tb0)
    val backlogTriggers = dataTriggers(q)
    // lines committed per second of trigger time, median over the triggers
    val linesPerS = Stats.median(backlogTriggers.map(p => p.numInputRows /
      (p.durationMs.getOrDefault("triggerExecution", 1L) / 1000.0)))
    val (storeFiles, storeParts, storeBytes) = Disk.layout(store)

    // ---- paced phase: one generator thread, open loop
    val due = new Array[Long](nPaced)
    val lateness = new Array[Long](nPaced)
    @volatile var landed = 0
    val start = System.currentTimeMillis() + 200L
    val gen = new Thread(() => {
      input.paced.zipWithIndex.foreach { case (ls, i) =>
        due(i) = start + i * PacedPeriodMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Gen.landFile(src, f"paced-$i%04d.log", ls.iterator)
        lateness(i) = math.max(0L, System.currentTimeMillis() - due(i))
        landed = i + 1
      }
    }, "perfbench-load")
    tr.span("streaming", "paced") {
      gen.start(); gen.join()
      drive(q)
    }
    q.stop()
    // an operation is a landed file; it succeeded once a trigger committed
    // all of its lines (files commit in landing order)
    val triggers = dataTriggers(q)
    val cum = triggers.scanLeft(0L)(_ + _.numInputRows).tail
    def committedBy(lines: Long) = triggers.zip(cum).find(_._2 >= lines)
    val fileEnds = (1 to BacklogFiles).map(_.toLong * LinesPerBacklogFile) ++
      (1 to landed).map(nBack + _.toLong * PacedLines)
    out.attempted += fileEnds.size
    out.failed += fileEnds.count(committedBy(_).isEmpty)
    // the records of the committed files, which the checks hold the store to
    val committed = input.records.take(
      fileEnds.takeWhile(committedBy(_).isDefined).lastOption.getOrElse(0L).toInt)
    val freshness = (0 until landed).flatMap { i =>
      committedBy(nBack + (i + 1L) * PacedLines).map { case (p, _) =>
        (endMs(p) - due(i)).toDouble }
    }

    // ---- rollup and alerts over the whole store, StepReps times afresh
    val steps = (0 until StepReps).flatMap { i =>
      out.op("rollup+alerts") {
        i -> Stats.timed(rollupAndAlerts(spark, store, s"${o.work}/step$i",
          Some(tr)))
      }
    }
    val alerts = steps.lastOption.fold(Array.empty[StreamingAnomaly.Anomaly])(
      _._2._1._3)
    val stepS = Stats.median(steps.map(_._2._2))

    // ---- checks, against the generator's own records
    tr.span("benchmark", "checks") {
      checkStore(spark, store, committed, out)
      steps.foreach { case (i, ((_, _, got), _)) =>
        val rolled = spark.read.parquet(s"${o.work}/step$i/rollup")
          .as[StreamingAnomaly.Bin].collect()
        checkRollupAndAlerts(committed, rolled, got, out)
      }
    }

    out.e2e("setup_s") = setupS
    out.e2e("op_p50_ms") = Stats.median(freshness)
    // too unsteady across runs on a shared machine to carry a bound, so
    // these two are per-layer figures
    out.layer("streaming.backlog_lines_per_s") = linesPerS
    out.layer("streaming.rollup_alerts_s") = stepS
    out.e2e("bytes_per_item") = storeBytes.toDouble / nBack

    if (tr.on) {
      triggers.foreach(p => tr.record("streaming", "trigger",
        s"ingest#${p.batchId}", java.time.Instant.parse(p.timestamp)
          .toEpochMilli, p.durationMs.getOrDefault("triggerExecution", 0L)))
      // the parse and melt alone, into a no-op sink, over every file read
      val (_, parseS) = tr.span("cloudfront", "parse+toRecords", "parse") {
        Stats.timed {
          CloudFrontLogs.toRecords(CloudFrontLogs.parse(
              spark.read.text(src.toString).withColumnRenamed("value", "line")),
            Measures, Dims)
            .write.format("noop").mode("overwrite").save()
        }
      }
      tr.drain()
      val l = out.layer
      l("cloudfront.parse_melt_lines_per_s") =
        (nBack + landed.toLong * PacedLines) / parseS
      Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
        "query_planning_ms" -> "queryPlanning", "wal_commit_ms" -> "walCommit",
        "commit_offsets_ms" -> "commitOffsets",
        "latest_offset_ms" -> "latestOffset", "get_batch_ms" -> "getBatch")
        .foreach { case (m, k) =>
          l(s"streaming.$m") = Stats.median(phaseMs(triggers, k)) }
      l("streaming.triggers") = triggers.size
      l("streaming.lines_per_trigger") =
        triggers.map(_.numInputRows).sum.toDouble / triggers.size
      val runId = q.runId.toString
      tr.counters.foreach { c =>
        val w = c.workFor(_.startsWith(runId + "#"))
        l("spark.jobs_per_trigger") = w.jobs.toDouble / triggers.size
        l("spark.tasks_per_trigger") = w.tasks.toDouble / triggers.size
      }
      l("sources.store_files") = storeFiles
      l("sources.store_partitions") = storeParts
      l("sources.store_bytes") = storeBytes
      val (rq, aq, _) = steps.last._2._1
      val rp = rq.recentProgress.toSeq
      l("streaming.rollup_get_batch_ms") = phaseMs(rp, "getBatch").sum
      l("streaming.rollup_add_batch_ms") = phaseMs(rp, "addBatch").sum
      l("streaming.rollup_state_rows") = (rp.flatMap(_.stateOperators
        .map(_.numRowsTotal)) :+ 0L).max
      l("streaming.rollup_state_bytes") = (rp.flatMap(_.stateOperators
        .map(_.memoryUsedBytes)) :+ 0L).max
      val ap = aq.recentProgress.toSeq
      l("streaming.alerts_ms") = phaseMs(ap, "triggerExecution").sum
      l("streaming.alerts_state_rows") = (ap.flatMap(_.stateOperators
        .map(_.numRowsTotal)) :+ 0L).max
      l("streaming.alerts") = alerts.length
      l("gen.lateness_ms_max") = lateness.max
    }
    println(s"[perfbench] cf_stream backlog ${nBack} lines in " +
      f"$backlogS%.2f s over ${backlogTriggers.size} triggers; paced $nPaced files; " +
      f"step $stepS%.2f s (passes ${steps.map(x => f"${x._2._2}%.2f").mkString(",")}); " +
      s"${alerts.length} alerts; freshness ms " +
      freshness.map(_.toLong).mkString(",") + "; trigger ms " +
      triggers.map(_.durationMs.get("triggerExecution")).mkString(","))
  }

  /** rollupStore then storeAlerts, each run to completion; returns both
    * queries (for their progress) and the alerts raised.
    */
  def rollupAndAlerts(spark: SparkSession, store: String, dir: String,
      tr: Option[Tracer] = None)
      : (StreamingQuery, StreamingQuery, Array[StreamingAnomaly.Anomaly]) = {
    def span[T](name: String)(body: => T): T =
      tr.fold(body)(_.span("streaming", name, name)(body))
    val rq = span("rollupStore") {
      val q = CloudFrontStream.rollupStore(spark, store, s"$dir/rollup",
        s"$dir/rollup-ckpt")
      q.processAllAvailable(); q.stop(); q
    }
    val got = mutable.ArrayBuffer.empty[StreamingAnomaly.Anomaly]
    val aq = span("storeAlerts") {
      val q = CloudFrontStream.storeAlerts(spark, s"$dir/rollup")
        .writeStream.option("checkpointLocation", s"$dir/alerts-ckpt")
        .foreachBatch { (ds: Dataset[StreamingAnomaly.Anomaly], _: Long) =>
          got.synchronized { got ++= ds.collect() }
          ()
        }.start()
      q.processAllAvailable(); q.stop(); q
    }
    (rq, aq, got.synchronized(got.toArray))
  }

  private def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Exactly two records per line, and per (measure, day, edge) counts
    * and sums equal to the generator's.
    */
  def checkStore(spark: SparkSession, store: String, recs: Array[CfRec],
      out: Outcome): Unit = {
    val df = spark.read.parquet(store)
    val got = df.groupBy(col("measure_name"), col("day").cast("string"),
        col("dimensions")("x_edge_location"))
      .agg(count(lit(1)), sum(col("measure_value")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    val want = mutable.HashMap.empty[(String, String, String), (Long, Double)]
    recs.foreach { c =>
      val day = java.time.LocalDate.ofEpochDay(Math.floorDiv(c.t, 86400L))
        .toString
      Seq("sc_bytes" -> c.bytes.toDouble, "time_taken" -> c.timeTaken)
        .foreach { case (m, v) =>
          val k = (m, day, c.edge)
          val (n, s) = want.getOrElse(k, (0L, 0.0))
          want(k) = (n + 1, s + v)
        }
    }
    val total = got.values.map(_._1).sum
    out.check("store.two_records_per_line", total == 2L * recs.length,
      s"$total records for ${recs.length} lines")
    val bad = (want.keySet ++ got.keySet).filter { k =>
      (want.get(k), got.get(k)) match {
        case (Some((n1, s1)), Some((n2, s2))) => n1 != n2 || !close(s1, s2, 1e-9)
        case _ => true
      }
    }
    out.check("store.sums_per_measure_day_edge", bad.isEmpty,
      s"${bad.size} mismatched groups, e.g. ${bad.take(3).map(k =>
        s"$k want ${want.get(k)} got ${got.get(k)}").mkString("; ")}")
  }

  /** Rolled-up bins equal independent hourly sums per edge, every bin the
    * watermark closed is there, and each alert's z-score, recomputed from
    * its key's prior bins, clears the threshold (and every bin whose
    * z-score clearly clears it raised an alert).
    */
  def checkRollupAndAlerts(recs: Array[CfRec],
      rolled: Array[StreamingAnomaly.Bin],
      alerts: Array[StreamingAnomaly.Anomaly], out: Outcome): Unit = {
    val hourly = recs.groupMapReduce(c => (c.edge, c.t / 3600 * 3600))(
      _.bytes.toDouble)(_ + _)
    val wmS = recs.map(_.t).max - 3600L
    val got = rolled.map(b => (b.key, b.bin_start) -> b.x).toMap
    out.check("rollup.no_duplicate_bins", got.size == rolled.length,
      s"${rolled.length} rows for ${got.size} bins")
    val wrong = got.filter { case (k, x) =>
      !hourly.get(k).exists(close(_, x, 1e-9)) || k._2 + 3600L > wmS }
    out.check("rollup.bins_equal_hourly_sums", wrong.isEmpty,
      s"${wrong.size} wrong or unclosed bins, e.g. ${wrong.take(3)}")
    val missing = hourly.keys.filter(k => k._2 + 3600L < wmS && !got.contains(k))
    out.check("rollup.closed_bins_present", missing.isEmpty,
      s"${missing.size} closed bins missing, e.g. ${missing.take(3)}")
    out.check("rollup.nonempty", got.nonEmpty, "no bins rolled up")

    // z-scores over each key's rolled-up bins, in bin order, prior-only
    val zs = got.toSeq.groupBy(_._1._1).toSeq.flatMap { case (key, bins) =>
      val xs = bins.sortBy(_._1._2).map { case ((_, b), x) => b -> x }
      xs.indices.map { i =>
        val prior = xs.take(i).map(_._2)
        val n = prior.size
        val mean = if (n == 0) 0.0 else prior.sum / n
        val v = if (n == 0) 0.0 else prior.map(p => (p - mean) * (p - mean)).sum / n
        val z = if (v > 0) (xs(i)._2 - mean) / math.sqrt(v) else Double.NaN
        (key, xs(i)._1) -> (n, z)
      }
    }.toMap
    val alerted = alerts.map(a => (a.key, a.bin_start) -> a).toMap
    val badAlerts = alerts.filterNot { a =>
      zs.get((a.key, a.bin_start)).exists { case (n, z) =>
        n >= 5 && n == a.n_prior && math.abs(z) >= 2.0 - 1e-9 &&
          math.abs(a.z_ppm / 1e6 - z) <= 1e-5 * math.max(1.0, math.abs(z)) }
    }
    out.check("alerts.z_recomputed_clears_threshold", badAlerts.isEmpty,
      s"${badAlerts.length} alerts fail the recomputation, e.g. " +
        badAlerts.take(3).map(a => s"$a vs ${zs.get((a.key, a.bin_start))}")
          .mkString("; "))
    val unflagged = zs.filter { case (k, (n, z)) =>
      n >= 5 && !z.isNaN && math.abs(z) >= 2.0 + 1e-6 && !alerted.contains(k) }
    out.check("alerts.every_clear_anomaly_raised", unflagged.isEmpty,
      s"${unflagged.size} bins clear the threshold without an alert, e.g. " +
        unflagged.take(3))
  }
}
