package graft
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

/** Benchmark main — one JSON line the round driver parses.
  *
  * Structure (round-6 rework; the round-5 artifact was untrustworthy):
  *  - DETERMINISTIC query order (sorted by name). The registry is a
  *    hash Map, whose iteration order made cold cache attribution —
  *    and with it round-over-round comparison — arbitrary.
  *  - An explicit WARMUP phase materializes each pack's cross-query
  *    shared caches ([[QueryPack.warm]]) under their own names, so a
  *    query's cold time is ITS plan+codegen+execution, not whichever
  *    shared build it happened to touch first (round 5: cf_top_uris
  *    charged 28.6 s for the shared parse cache).
  *  - Per-query TASK metrics (executor run ms, JVM GC ms, shuffle
  *    read/write bytes) from a SparkListener, plus per-pass driver GC
  *    and system load — separating plan cost from environment noise
  *    (round 5's driver bench ran 3× the builder's numbers on
  *    identical code; nothing in the artifact could say why).
  *  - Environment facts (heap max, cpus, load averages) so a
  *    memory-starved or contended run is visible in the artifact.
  *
  * "value" stays comparable across rounds: warmup + cold, i.e. the
  * total first-touch cost of the whole surface, exactly what previous
  * rounds' cold pass measured (modulo shared builds now being counted
  * once, deterministically, instead of once per arbitrary first
  * toucher).
  */
object Bench {

  /** Task-metric sums bucketed by the query label active at TaskEnd. */
  private final class MetricsListener extends SparkListener {
    @volatile var current: String = "init"
    val acc = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc.computeIfAbsent(current, _ => new Array[Long](6))
        a.synchronized {
          a(0) += m.executorRunTime
          a(1) += m.jvmGCTime
          a(2) += m.shuffleReadMetrics.totalBytesRead
          a(3) += m.shuffleWriteMetrics.bytesWritten
          // bytes read from sources AND from cached blocks — a steady
          // pass that re-reads parquet (cache eviction) shows up here
          a(4) += m.inputMetrics.bytesRead
          a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    // Cached-RDD blocks DROPPED while this label was active. The
    // before/after storage snapshot below nets to ZERO when a cache is
    // evicted and rebuilt within the same timed body — exactly the
    // evict-and-recompute episode worth catching; the block-update
    // stream sees each drop as it happens, rebuild or not. (Validated
    // under a shrunken storage pool: storage-pressure drops arrive as
    // BlockUpdated events with an invalid level on the standard bus —
    // no extra conf needed — so a 0 here means no drops, not no data.)
    val droppedBlocks =
      new java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.atomic.LongAdder]()
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isInstanceOf[RDDBlockId] &&
          !info.storageLevel.isValid)
        droppedBlocks.computeIfAbsent(current,
          _ => new java.util.concurrent.atomic.LongAdder).increment()
    }
  }

  private def driverGcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SysStat.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Bytes-based partition coalescing misjudges compute-dense,
      // byte-light stages (candidate-pair verification reads ~4MB but
      // burns ~10s of CPU); a smaller floor keeps such stages parallel.
      // At cluster scale shuffle partitions exceed any floor anyway.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "64KB")
      .config("spark.ui.enabled", "false")
      // Cap the per-action SQLExecution event plan rendering (default
      // ~2 GB): the deep iterative cell-build plans render hundreds of
      // MB of throwaway string per action with the UI off — pure
      // driver overhead inside the timed windows (r17, guide §5).
      // Debug-string truncation only; the timed action, the JSON line
      // and every query result are untouched.
      .config("spark.sql.maxPlanStringLength", (16 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    // JIT/codegen warmup so the first timed query doesn't absorb it
    spark.range(1000).selectExpr("sum(id)").collect()

    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
    def loadAvg: Double =
      math.max(0.0, osBean.getSystemLoadAverage)

    // Contention self-disqualification (round-8 lesson: the driver's
    // artifact recorded 262 s steady on a box whose own env block
    // proved co-tenant CPU starvation — median 1.58× per-query
    // inflation, zero evictions/spill, input bytes flat — and would
    // read as a 3× regression to anyone not cross-checking). The
    // 1-minute load average BEFORE the run is the one sample our own
    // work cannot pollute: above the threshold the artifact stamps
    // itself "contended":true in BOTH output lines, so it can never
    // silently read as a pass or a regression. (Mid/end samples stay
    // recorded but are not gates — by then they include the bench's
    // own 32 threads.)
    val loadThreshold = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_MAX_LOAD", "1.0").toDouble
    // Self-HEALING, not just self-disqualifying (r9 verdict: two rounds
    // running the committed gate artifact was load-polluted; the stamp
    // caught it but the artifact still wasn't usable as a gate). If the
    // box is busy BEFORE we start, sleep-and-resample up to N bounded
    // retries — co-tenant load spikes on a shared box drain in minutes
    // — and only then run with whatever the final sample says. The
    // waits are recorded so the artifact shows its own history.
    val maxWaits = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_LOAD_RETRIES", "6").toInt
    val waitSecs = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_LOAD_WAIT_S", "30").toInt
    val loadSamples = scala.collection.mutable.ArrayBuffer(loadAvg)
    while (loadSamples.last > loadThreshold &&
           loadSamples.size <= maxWaits) {
      System.err.println(
        f"[bench] load_avg ${loadSamples.last}%.2f > $loadThreshold%.2f" +
          f" — waiting ${waitSecs}s for the box to drain " +
          s"(${loadSamples.size}/$maxWaits)")
      Thread.sleep(waitSecs * 1000L)
      loadSamples += loadAvg
    }
    // Hypervisor CPU STEAL across the run window — the co-tenant
    // signature load_avg CANNOT see: on a contended VM host, steal
    // inflates every query uniformly with zero evictions, flat input
    // bytes and normal GC (exactly the residual the r9 clean runs
    // showed vs r8c, on a box whose cumulative /proc/stat steal showed
    // hours of historical theft). (-1, -1) where /proc/stat is absent.
    val (steal0, jiffies0) = SysStat.cpuSteal()
    // > ~2% steal inflates every query visibly on a 32-thread bench
    val stealThreshold = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_MAX_STEAL_PCT", "2.0").toDouble

    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // Cached-storage deltas per query: a snapshot of every cached RDD's
    // (partitions, bytes) before and after each timed body. A cached
    // partition present before and gone after was EVICTED during the
    // query — the signature the round-6 steady-pass anomalies lacked an
    // instrument for (steady wall ≫ cold with real task time and no GC
    // reads as "a shared cache was evicted and a frame recomputed", but
    // the artifact could not say WHICH query evicted or recomputed).
    // The delta is NET, so it misses a cache evicted and rebuilt inside
    // the same body; the listener's droppedBlocks counter covers that
    // case (dropped_rdd_blocks_* fields) — read the two together.
    def storageSnap(): Map[Int, (Int, Long)] =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.id -> ((i.numCachedPartitions, i.memSize + i.diskSize)))
        .toMap
    val evictedParts =
      scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val evictedBytes =
      scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timed(label: String, body: () => Unit): Double = {
      listener.current = label
      val before = storageSnap()
      val t0 = System.nanoTime()
      // a failed query must not abort the artifact, but it must not
      // masquerade as a fast time either — it lands in "errors"
      try body() catch { case _: Throwable => errors += label }
      val t = (System.nanoTime() - t0) / 1e9
      // drain OUTSIDE the measured window: the bus backlog is
      // instrumentation latency, not query cost — charging it would
      // skew the round-over-round "value" contract upward
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      val after = storageSnap()
      val ev = before.toSeq.map { case (id, (p, b)) =>
        val (p2, b2) = after.getOrElse(id, (0, 0L))
        (math.max(0, p - p2).toLong, math.max(0L, b - b2))
      }
      evictedParts(label) = ev.map(_._1).sum
      evictedBytes(label) = ev.map(_._2).sum
      t
    }

    // ---- warmup: build each pack's cross-query shared caches ----
    val gc0 = driverGcMs
    val load0 = loadAvg
    val warmup: Seq[(String, Double)] = SparkEntry.warmups.map {
      case (name, fn) => name -> timed(s"w:$name",
        () => { fn(spark, sfDir).count(); () })
    }
    val gcWarm = driverGcMs - gc0
    // per-PASS steal windows (r14 — the r13 verdict's task 5: the
    // committed artifact was a warm window two rounds running, and one
    // whole-run steal number cannot say WHICH pass was polluted)
    val (stealC0, jiffC0) = SysStat.cpuSteal()
    val stealWarm = SysStat.stealPct(steal0, jiffies0, stealC0, jiffC0)

    // ---- cold pass: plan + codegen + execute, shared caches hot ----
    // SPARK_GRAFT_BENCH_ONLY (comma-separated names) is a dev-iteration
    // filter; the driver never sets it and the full set runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    def pass(prefix: String): Seq[(String, Double)] = names.map { n =>
      n -> timed(s"$prefix:$n",
        () => { SparkEntry.queries(n)(spark, sfDir).count(); () })
    }
    val cold = pass("c")
    val gcCold = driverGcMs - gc0 - gcWarm
    val loadMid = loadAvg
    val (stealS0v, jiffS0v) = SysStat.cpuSteal()
    val stealCold = SysStat.stealPct(stealC0, jiffC0, stealS0v, jiffS0v)
    // ---- steady pass: plan/codegen cached, everything warm ----
    // SELF-HEALING steady (r14, task 5): the steady pass is the one
    // window that can legitimately RE-RUN (plans, codegen and caches
    // are already warm — a repeat measures the same thing), so when
    // the pass was provably polluted, re-measure instead of stamping a
    // wrong number the round diff then chases. Two triggers, both
    // signals our own 32 threads cannot produce: hypervisor steal over
    // the pass window, and steady_total exceeding cold_total (steady
    // strictly removes plan+codegen work from cold; on a quiet box it
    // is never slower — a 1.05 margin absorbs timer noise). Bounded
    // retries with a drain wait; every attempt's total is recorded in
    // "steady_attempts" so the artifact shows its own history. Cold
    // cannot re-run (a second cold IS a steady), so cold pollution
    // still stamps contended below.
    val steadyRetries = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_STEADY_RETRIES", "2").toInt
    var steadyStart = (stealS0v, jiffS0v)
    var steady = pass("s")
    var gcSteady = driverGcMs - gc0 - gcWarm - gcCold
    var steadyEnd = SysStat.cpuSteal()
    var stealSteady = SysStat.stealPct(steadyStart._1, steadyStart._2,
      steadyEnd._1, steadyEnd._2)
    val coldTotal0 = cold.map(_._2).sum
    val steadyAttempts =
      scala.collection.mutable.ArrayBuffer(steady.map(_._2).sum)
    var retries = 0
    while (retries < steadyRetries &&
        (stealSteady > stealThreshold ||
          steadyAttempts.last > coldTotal0 * 1.05)) {
      retries += 1
      System.err.println(
        f"[bench] steady pass polluted (steal $stealSteady%.3f%%, " +
          f"total ${steadyAttempts.last}%.1f s vs cold $coldTotal0%.1f s)" +
          f" — draining ${waitSecs}s and re-running " +
          s"($retries/$steadyRetries)")
      Thread.sleep(waitSecs * 1000L)
      // the discarded attempt's task metrics must not double-count
      listener.acc.keySet.removeIf(_.startsWith("s:"))
      listener.droppedBlocks.keySet.removeIf(_.startsWith("s:"))
      val gcPre = driverGcMs
      steadyStart = SysStat.cpuSteal()
      steady = pass("s")
      gcSteady = driverGcMs - gcPre
      steadyEnd = SysStat.cpuSteal()
      stealSteady = SysStat.stealPct(steadyStart._1, steadyStart._2,
        steadyEnd._1, steadyEnd._2)
      steadyAttempts += steady.map(_._2).sum
    }
    val load1 = loadAvg

    def fmt(m: Seq[(String, Double)]) = m
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def fmtL(m: Seq[(String, Long)]) = m
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def task(prefix: String, idx: Int): Seq[(String, Long)] = names.map {
      n =>
        val a = listener.acc.get(s"$prefix:$n")
        n -> (if (a == null) 0L else a(idx))
    }
    val warmupTotal = warmup.map(_._2).sum
    val coldTotal = cold.map(_._2).sum
    val steadyTotal = steady.map(_._2).sum
    val total = warmupTotal + coldTotal
    val heapMaxMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val (steal1, jiffies1) = SysStat.cpuSteal()
    // % of the machine's cpu-time the hypervisor withheld over the
    // WHOLE wall window (informational once steady retries exist — it
    // includes any discarded polluted attempts); the per-pass windows
    // are the gates: warmup/cold pollution cannot re-run (a second
    // cold IS a steady), so it stamps contended, and the final
    // steady's own window gates after the retries above
    val stealPct = SysStat.stealPct(steal0, jiffies0, steal1, jiffies1)
    val contended = load0 > loadThreshold ||
      math.max(stealWarm, math.max(stealCold, stealSteady)) > stealThreshold
    if (contended) System.err.println(
      f"[bench] WARNING: load_avg_start $load0%.2f (threshold " +
        f"$loadThreshold%.2f) / per-pass steal w=$stealWarm%.2f%% " +
        f"c=$stealCold%.2f%% s=$stealSteady%.2f%% (threshold " +
        f"$stealThreshold%.2f%%) — the box was busy before the run or " +
        "the hypervisor withheld cpu during it; the artifact is " +
        "stamped \"contended\":true and must not gate performance. " +
        "Re-run on a quiet box.")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec"""" +
      s""","queries":${fmt(cold)},"sf":"$sfDir"""" +
      s""","steady_total":$steadyTotal,"queries_steady":${fmt(steady)}""" +
      s""","warmup_total":$warmupTotal,"cold_total":$coldTotal""" +
      s""","warmup":${fmt(warmup)}""" +
      s""","task_run_ms_cold":${fmtL(task("c", 0))}""" +
      s""","task_gc_ms_cold":${fmtL(task("c", 1))}""" +
      s""","task_run_ms_steady":${fmtL(task("s", 0))}""" +
      s""","task_gc_ms_steady":${fmtL(task("s", 1))}""" +
      s""","shuffle_read_b_steady":${fmtL(task("s", 2))}""" +
      s""","shuffle_write_b_steady":${fmtL(task("s", 3))}""" +
      s""","input_read_b_cold":${fmtL(task("c", 4))}""" +
      s""","input_read_b_steady":${fmtL(task("s", 4))}""" +
      s""","spill_b_steady":${fmtL(task("s", 5))}""" +
      s""","evicted_parts_cold":${fmtL(names.map(n =>
            n -> evictedParts.getOrElse(s"c:$n", 0L)))}""" +
      s""","evicted_b_cold":${fmtL(names.map(n =>
            n -> evictedBytes.getOrElse(s"c:$n", 0L)))}""" +
      s""","evicted_parts_steady":${fmtL(names.map(n =>
            n -> evictedParts.getOrElse(s"s:$n", 0L)))}""" +
      s""","evicted_b_steady":${fmtL(names.map(n =>
            n -> evictedBytes.getOrElse(s"s:$n", 0L)))}""" +
      s""","dropped_rdd_blocks_cold":${fmtL(names.map { n =>
            val c = listener.droppedBlocks.get(s"c:$n")
            n -> (if (c == null) 0L else c.sum())
          })}""" +
      s""","dropped_rdd_blocks_steady":${fmtL(names.map { n =>
            val c = listener.droppedBlocks.get(s"s:$n")
            n -> (if (c == null) 0L else c.sum())
          })}""" +
      s""","task_run_ms_warmup":${fmtL(warmup.map { case (n, _) =>
            val a = listener.acc.get(s"w:$n")
            n -> (if (a == null) 0L else a(0))
          })}""" +
      s""","driver_gc_ms":{"warmup":$gcWarm,"cold":$gcCold,"steady":$gcSteady}""" +
      s""","env":{"heap_max_mb":$heapMaxMb,"cpus":$cpus,""" +
      s""""load_avg_start":$load0,"load_avg_mid":$loadMid,""" +
      s""""load_avg_end":$load1,"load_threshold":$loadThreshold,""" +
      s""""load_wait_samples":${loadSamples.map(v => f"$v%.2f")
            .mkString("[", ",", "]")},""" +
      f""""steal_pct":$stealPct%.3f,"steal_threshold":$stealThreshold,""" +
      f""""steal_pct_warmup":$stealWarm%.3f,""" +
      f""""steal_pct_cold":$stealCold%.3f,""" +
      f""""steal_pct_steady":$stealSteady%.3f,""" +
      s""""steady_retries":$retries,""" +
      s""""steady_attempts":${steadyAttempts.map(v => f"$v%.3f")
            .mkString("[", ",", "]")}}""" +
      s""","contended":$contended""" +
      s""","errors":${errors.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    println(line)
    // Also land the line in a file: sbt's logger can interleave or
    // prefix stdout, and a round artifact should carry structured
    // numbers regardless of how the launcher captures the console.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    java.nio.file.Files.write(out,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.Caches.releaseAll()
    // The full line above has been tail-truncated by the harness's
    // capture three rounds running (BENCH_r01..r03 all carry
    // "parsed": null). Repeat a COMPACT totals-only record as the very
    // LAST stdout line so a structured number survives any tail window.
    System.out.flush()
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","steady_total":$steadyTotal,"warmup_total":$warmupTotal,"cold_total":$coldTotal,"heap_max_mb":$heapMaxMb,"driver_gc_ms":${gcWarm + gcCold + gcSteady},"load_avg_start":$load0,"load_avg_end":$load1,"steal_pct":${f"$stealPct%.3f"},"steal_pct_steady":${f"$stealSteady%.3f"},"steady_retries":$retries,"contended":$contended,"failed":${errors.size}}""")
    System.out.flush()
    spark.stop()
    // A run where queries failed must not read as success downstream:
    // round 7's artifact carried rc=0 with 71 entries in "errors" and
    // was nearly committed as a passing round. The compact line above
    // carries "failed" for parsers that only see the tail; the exit
    // code covers wrappers that only see rc.
    if (errors.nonEmpty) {
      System.err.println(
        s"[bench] ${errors.size} query run(s) failed: " +
          errors.mkString(", "))
      sys.exit(1)
    }
  }
}
