package perfbench

import graft.streaming.CloudFrontStream
import graft.timeseries.TimeSeries
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** cf_dashboard: the README's query surface over the (measure_name, day)
  * store, issued by one closed-loop client with one query in flight.
  * Set-up builds the store from generated lines through
  * `toTimestreamStore`; each query then reads the store afresh, so its
  * time is planning, file listing and pruning, and the scan.
  */
object CfDashboard {
  val Lines = 24000
  val SourceFiles = 4
  val Shapes = Seq("headline", "series", "country", "status", "latency_pct")

  /** One dashboard query: its shape and its day parameter. */
  final case class Query(shape: String, day: LocalDate)

  private def day(c: CfRec): LocalDate =
    LocalDate.ofEpochDay(Math.floorDiv(c.t, 86400L))

  private def lit_(d: LocalDate) = lit(java.sql.Date.valueOf(d))

  private def edge = col("dimensions")("x_edge_location")

  private def secs(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime / 1000L
    case i: java.time.Instant => i.getEpochSecond
    case l: java.time.LocalDateTime => l.toEpochSecond(java.time.ZoneOffset.UTC)
  }

  /** The query through the program's public functions, collected into
    * rows of strings and doubles that compare exactly or within 1e-9.
    */
  def execute(spark: SparkSession, store: String, q: Query): Set[Seq[Any]] = {
    val s = spark.read.parquet(store)
    def bytesOn(f: org.apache.spark.sql.Column) =
      s.filter(col("measure_name") === "sc_bytes" && f)
    val rows: Array[Row] = q.shape match {
      case "headline" =>
        TimeSeries.ago(s, "time", 24 * 3600L)
          .groupBy(TimeSeries.bin(col("time"), 3600L).as("hour"), edge.as("edge"))
          .agg(sum(when(col("measure_name") === "sc_bytes", col("measure_value"))),
            sum(when(col("measure_name") === "time_taken", col("measure_value"))),
            count(when(col("measure_name") === "sc_bytes", lit(1))))
          .collect()
      case "series" =>
        TimeSeries.createTimeSeries(bytesOn(col("day") === lit_(q.day)), edge,
          col("time"), lit(0), col("measure_value")).collect()
      case "country" =>
        bytesOn(col("day") > lit_(q.day.minusDays(7)) && col("day") <= lit_(q.day))
          .groupBy(col("dimensions")("c_country"))
          .agg(sum(col("measure_value")), count(lit(1))).collect()
      case "status" =>
        bytesOn(col("day") === lit_(q.day))
          .groupBy(TimeSeries.bin(col("time"), 3600L),
            col("dimensions")("sc_status"))
          .count().collect()
      case "latency_pct" =>
        s.filter(col("measure_name") === "time_taken" && col("day") === lit_(q.day))
          .groupBy(edge)
          .agg(expr("percentile(measure_value, array(0.5, 0.9, 0.99))"))
          .collect()
    }
    rows.map { r =>
      q.shape match {
        case "headline" => Seq(secs(r.get(0)), r.getString(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4))
        case "series" => Seq(r.getString(0), r.getSeq[Double](1))
        case "country" => Seq(r.getString(0), r.getDouble(1), r.getLong(2))
        case "status" => Seq(secs(r.get(0)), r.getString(1), r.getLong(2))
        case "latency_pct" => Seq(r.getString(0)) ++ r.getSeq[Double](1)
      }
    }.toSet
  }

  /** The same answer, computed from the generator's records alone. */
  def expected(recs: Array[CfRec], q: Query): Set[Seq[Any]] = q.shape match {
    case "headline" =>
      val maxT = recs.map(_.t).max
      recs.filter(_.t >= maxT - 24 * 3600L)
        .groupBy(c => (c.t / 3600 * 3600, c.edge)).map { case ((h, e), cs) =>
          Seq(h, e, cs.map(_.bytes.toDouble).sum, cs.map(_.timeTaken).sum,
            cs.length.toLong)
        }.toSet
    case "series" =>
      recs.filter(day(_) == q.day).groupBy(_.edge).map { case (e, cs) =>
        Seq(e, cs.map(c => (c.t, c.bytes.toDouble)).sorted.map(_._2).toSeq)
      }.toSet
    case "country" =>
      recs.filter(c => day(c).isAfter(q.day.minusDays(7)) && !day(c).isAfter(q.day))
        .groupBy(_.country).map { case (k, cs) =>
          Seq(k, cs.map(_.bytes.toDouble).sum, cs.length.toLong) }.toSet
    case "status" =>
      recs.filter(day(_) == q.day).groupBy(c => (c.t / 3600 * 3600, c.status))
        .map { case ((h, st), cs) => Seq(h, st.toString, cs.length.toLong) }.toSet
    case "latency_pct" =>
      recs.filter(day(_) == q.day).groupBy(_.edge).map { case (e, cs) =>
        val v = cs.map(_.timeTaken).toSeq
        Seq(e) ++ Seq(0.5, 0.9, 0.99).map(Stats.quantile(v, _))
      }.toSet
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** Rows match one to one (ordered by their non-double fields). */
  def agree(got: Set[Seq[Any]], want: Set[Seq[Any]]): Boolean = {
    def key(r: Seq[Any]) = r.collect { case s: String => s; case l: Long => l.toString }
      .mkString("|")
    got.size == want.size && {
      val w = want.map(r => key(r) -> r).toMap
      got.forall(r => w.get(key(r)).exists(same(r, _)))
    }
  }

  def run(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome,
      t0: Long): Unit = {
    val r = Gen.rng(o.seed, 22)
    val gr = Gen.rng(o.seed, 21)
    val recs = Gen.cfRecords(gr, Lines, Gen.T0)
    val src = Files.createDirectories(Paths.get(o.work, "src"))
    recs.grouped(Lines / SourceFiles).zipWithIndex.foreach { case (cs, j) =>
      Gen.landFile(src, f"part-$j%04d.log", cs.iterator.map(Gen.cfLine(_, gr)))
    }
    val store = s"${o.work}/store"
    val bq = CloudFrontStream.toTimestreamStore(
      spark.readStream.option("maxFilesPerTrigger", "2").text(src.toString)
        .withColumnRenamed("value", "line"),
      store, s"${o.work}/ckpt")
    bq.processAllAvailable(); bq.stop()
    val setupS = Stats.secondsSince(t0)
    tr.measureStart()

    val days = recs.map(day).distinct.sorted
    val last = days.last
    val wanted = scala.collection.mutable.HashMap.empty[Query, Set[Seq[Any]]]
    var n = 0
    /** Run and check one query; its wall time, or None if it threw. */
    def issue(q: Query): Option[Double] = {
      n += 1
      out.op(s"dashboard.${q.shape}") {
        tr.span("timeseries", q.shape, s"q$n") {
          Stats.timed(execute(spark, store, q))
        }
      }.map { case (got, s) =>
        val ok = agree(got, wanted.getOrElseUpdate(q, expected(recs, q)))
        out.check(s"dashboard.${q.shape}", ok,
          s"query $q returned ${got.size} rows that differ from the " +
            s"${wanted(q).size} computed apart, e.g. ${got.diff(wanted(q)).take(2)}")
        s
      }
    }

    // step: the first pass over the five shapes after the store is built,
    // which is what a dashboard pays after a restart
    val stepS = Shapes.flatMap(sh => issue(Query(sh, last))).sum
    val per = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val loop0 = System.nanoTime()
    while (Stats.secondsSince(loop0) < o.seconds) {
      // one round: every shape once, in a seeded order, on a seeded day
      r.shuffle(Shapes).foreach { sh =>
        val d = if (sh == "headline") last else days(1 + r.nextInt(days.length - 1))
        issue(Query(sh, d)).foreach(s => per += sh -> s)
      }
    }
    val (_, _, storeBytes) = Disk.layout(store)
    out.e2e("setup_s") = setupS
    out.e2e("op_p50_ms") = Stats.median(per.map(_._2 * 1000).toSeq)
    out.layer("timeseries.first_pass_s") = stepS
    out.e2e("bytes_per_item") = storeBytes.toDouble / Lines

    if (tr.on) {
      tr.drain()
      val l = out.layer
      per.groupBy(_._1).foreach { case (sh, xs) =>
        l(s"timeseries.${sh}_ms") = Stats.median(xs.map(_._2 * 1000).toSeq) }
      val (files, parts, bytes) = Disk.layout(store)
      l("sources.store_files") = files
      l("sources.store_partitions") = parts
      l("sources.store_bytes") = bytes
      tr.counters.foreach { c =>
        val qs = c.queryStats.filter(_.key.startsWith("q")).groupBy(_.key)
          .values.toSeq
        def med(f: QueryStats => Double) = Stats.median(qs.map(_.map(f).sum))
        l("spark.analysis_ms") = med(_.analysisMs)
        l("spark.optimization_ms") = med(_.optimizationMs)
        l("spark.planning_ms") = med(_.planningMs)
        l("spark.files_read_per_query") = med(_.files.toDouble)
        l("spark.partitions_read_per_query") = med(_.partitions.toDouble)
        l("spark.scan_metadata_ms") = med(_.metadataMs.toDouble)
        l("spark.input_bytes_per_query") = med(_.bytes.toDouble)
        l("spark.jobs_per_query") =
          c.workFor(_.startsWith("q")).jobs.toDouble / n
      }
    }
    println(s"[perfbench] cf_dashboard $n queries, step " +
      f"$stepS%.2f s, loop ${per.size} queries")
  }
}
