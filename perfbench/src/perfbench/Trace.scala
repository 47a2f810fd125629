package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call: `key` names the trigger, query, batch or search it
  * belongs to; `parent` is the enclosing span's id (0 at top level).
  */
final case class Span(id: Int, name: String, layer: String, key: String,
    parent: Int, startNs: Long, endNs: Long)

/** Work the engine did for one key, summed from the listener events. */
final class Work {
  var jobs, tasks, taskMs, gcMs, shuffleWriteBytes, inputBytes = 0L
  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    inputBytes += o.inputBytes
  }
}

/** Planning phases and scan-node SQL metrics of one executed query. */
final case class QueryStats(key: String, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, files: Long,
    partitions: Long, metadataMs: Long, bytes: Long)

/** Spark's public listeners, keyed by the job group each job ran under:
  * a span's key for the calls the benchmark makes, and the run id plus
  * batch id for a streaming query's jobs.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val work = mutable.HashMap.empty[String, Work]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val queries = mutable.ArrayBuffer.empty[QueryStats]
  // job group of the SQL execution that started last. The execution
  // listener hears of a query's end on the same listener-bus queue, after
  // its start, and the benchmark keeps one query in flight at a time.
  private var openGroup = ""
  @volatile var events = 0L

  private def keyOf(p: java.util.Properties): String =
    if (p == null) "" else {
      val g = Option(p.getProperty("spark.jobGroup.id")).getOrElse("")
      Option(p.getProperty("streaming.sql.batchId")).fold(g)(b => s"$g#$b")
    }

  private def at(key: String) = work.getOrElseUpdate(key, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val k = keyOf(e.properties)
    at(k).jobs += 1
    e.stageIds.foreach(stageKey(_) = k)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val w = at(stageKey.getOrElse(e.stageId, ""))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      events += 1
      openGroup = s.jobGroupId.getOrElse("")
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val scans = Counters.scans(qe)
    def metric(n: String) =
      scans.map(s => s.metrics.get(n).map(_.value).getOrElse(0L)).sum
    val st = QueryStats("", phase("analysis"), phase("optimization"),
      phase("planning"), metric("numFiles"), metric("numPartitions"),
      metric("metadataTime"), metric("filesSize"))
    synchronized { events += 1; queries += st.copy(key = openGroup) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Work summed over every key `pick` accepts. */
  def workFor(pick: String => Boolean): Work = synchronized {
    val w = new Work
    work.foreach { case (k, v) => if (pick(k)) w += v }
    w
  }

  /** Query statistics, each tagged with the job group it ran under. */
  def queryStats: Seq[QueryStats] = synchronized(queries.toSeq)
}

object Counters extends AdaptiveSparkPlanHelper {
  def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
}

/** Spans around the benchmark's calls into the program, plus Spark's
  * listeners, when tracing is on; a pass-through otherwise. Spans stay in
  * memory and are written once, when the run ends.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0
  // epoch-ms → nanoTime, for spans rebuilt from streaming progress
  private val nanoMinusEpochNs =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  val counters: Option[Counters] =
    if (!on) None
    else {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    }

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Run `body` as a span of `layer`; jobs it starts run under job group
    * `key` when one is given, so the listeners attribute them to it.
    */
  def span[T](layer: String, name: String, key: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      if (key.nonEmpty) sc.setJobGroup(key, name)
      val s0 = System.nanoTime()
      try body
      finally {
        val s1 = System.nanoTime()
        stack.set(stack.get.tail)
        if (key.nonEmpty) {
          if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, "")
        }
        synchronized { spans += Span(id, name, layer, key, parent, s0, s1) }
      }
    }

  /** A span measured elsewhere, in epoch milliseconds (a streaming
    * trigger, from its StreamingQueryProgress). Its parent is the
    * shortest recorded span it started in.
    */
  def record(layer: String, name: String, key: String,
      startEpochMs: Long, durationMs: Long): Unit =
    if (on) {
      val s0 = startEpochMs * 1000000L + nanoMinusEpochNs
      synchronized {
        val parent = spans.filter(p => p.startNs <= s0 && s0 < p.endNs)
          .sortBy(p => p.endNs - p.startNs).headOption.fold(0)(_.id)
        spans += Span(newId(), name, layer, key, parent, s0,
          s0 + durationMs * 1000000L)
      }
    }

  /** Wait until the listener bus has delivered every event: the count of
    * delivered events must hold still for 300 ms (at most 10 s).
    */
  def drain(): Unit = counters.foreach { c =>
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (c.events != last && System.nanoTime() < deadline) {
      last = c.events
      Thread.sleep(300)
    }
  }

  /** Self time per layer: each span's duration minus the part of it
    * that its child spans cover.
    */
  def selfMs: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - math.max(a, end), b)
        }._1
      s.layer -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private var atStart = new Work

  /** Mark the end of set-up: engine totals and the heap peak count from
    * here on.
    */
  def measureStart(): Unit = {
    Heap.reset()
    drain()
    counters.foreach(c => atStart = c.workFor(_ => true))
  }

  /** Record the per-layer totals every workload shares. */
  def finish(out: Outcome): Unit = {
    drain()
    val self = selfMs
    Seq("cloudfront", "streaming", "timeseries", "benchmark")
      .foreach(l => out.layer(s"$l.self_ms") = self.getOrElse(l, 0.0))
    counters.foreach { c =>
      val all = c.workFor(_ => true)
      out.layer("spark.task_ms") = (all.taskMs - atStart.taskMs).toDouble
      out.layer("spark.gc_ms") = (all.gcMs - atStart.gcMs).toDouble
      out.layer("spark.shuffle_write_bytes") =
        (all.shuffleWriteBytes - atStart.shuffleWriteBytes).toDouble
      out.layer("spark.input_bytes") =
        (all.inputBytes - atStart.inputBytes).toDouble
    }
    out.layer("jvm.heap_peak_mb") = Heap.peakMb
  }

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      w.println(synchronized(spans.toSeq).sortBy(_.startNs).map { s =>
        s"""{"id": ${s.id}, "name": "${s.name}", "layer": "${s.layer}", """ +
          s""""key": "${s.key}", "parent": ${s.parent}, "start_ns": """ +
          s"""${s.startNs}, "end_ns": ${s.endNs}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}

/** Peak heap use over the heap memory pools since the last reset. */
object Heap {
  private def pools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def reset(): Unit = pools.foreach(_.resetPeakUsage())

  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
