package graft.operators

import graft.{GraftQuery, QueryPack}
import graft.sources.Tables
import graft.timeseries.TimeSeries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 block A4–A10 — the Timestream-style query surface over the
  * `events` stream table (ts ↔ CloudFront `timestamp`, event_type ↔ a
  * dimension such as x_edge_location, value ↔ the sc_bytes measure).
  *
  * Every aggregate is exact (decimal sums, integer counts, IEEE-identical
  * divisions) so results are partition-order independent — the property
  * that makes them safe on a 1000-executor cluster, and incidentally what
  * lets DuckDB hash-match them.
  */
object TimeSeriesPack extends QueryPack {

  private def dsumValue = sum(col("value").cast(DecimalType(18, 2)))
    .cast(DoubleType)

  // A4/A6 — the README headline query shape: bin(time, 1h) × dimension,
  // SUM(measure). One scan, one shuffle on (bin, dim) with map-side
  // partial aggregation.
  private val tsBin = GraftQuery(
    "ts_bin",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(
          TimeSeries.bin(col("ts"), 3600).cast(TimestampNTZType)
            .as("binned_time"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsumValue.as("sum_value"))
        .orderBy(col("binned_time"), col("event_type"))
    },
    Some("""
      SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS binned_time,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY binned_time, event_type
    """))

  // A5 — ago(24h) relative-time filter, anchored at max(ts) so the answer
  // is a function of the data alone. The anchor is a 1-row broadcast.
  private val tsAgo = GraftQuery(
    "ts_ago",
    (s, d) => {
      TimeSeries.ago(Tables.events(s, d), "ts", 24 * 3600)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsumValue.as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE ts >= (SELECT max(ts) - INTERVAL 24 HOUR FROM events)
      GROUP BY event_type
      ORDER BY event_type
    """))

  // A7 — CREATE_TIME_SERIES: per-dimension time-ordered array of measure
  // values (bounded per-key cardinality, like Timestream series). The
  // verify surface serializes the series to a ppm-integer string — the
  // driver's comparison sorts rows by every column, which an array-typed
  // column cannot support; floor-to-ppm avoids float-formatting drift.
  private val tsSeries = GraftQuery(
    "create_time_series",
    (s, d) => {
      TimeSeries.createTimeSeries(Tables.events(s, d),
          key = col("event_type"), ts = col("ts"),
          tiebreak = col("event_id"), value = col("value"))
        .select(col("event_type"),
          array_join(transform(col("series"),
            v => floor(v * lit(1000000.0d)).cast(LongType)
              .cast(StringType)), ",").as("series_ppm"),
          size(col("series")).cast(LongType).as("n"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
        string_agg(CAST(CAST(floor(value * 1000000.0) AS BIGINT) AS VARCHAR),
                   ',' ORDER BY ts, event_id) AS series_ppm,
        COUNT(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """))

  // A9 — gap-based sessionization (30-min inactivity): window functions
  // over one shuffle on the user key, then a session-level rollup.
  private val sessionize = GraftQuery(
    "sessionize",
    (s, d) => {
      TimeSeries.sessionize(Tables.events(s, d),
          userCol = "user_id", tsCol = "ts", tiebreakCol = "event_id",
          gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"),
          max(col("ts")).as("end_ts"),
          dsumValue.as("session_value"))
        .orderBy(col("user_id"), col("session_seq"))
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
               THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessions AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged)
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        COUNT(*) AS n_events,
        MIN(ts) AS start_ts, MAX(ts) AS end_ts,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sessions
      GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq
    """))

  // A10a — daily operational metrics: volumes, error rate, exact distinct
  // visitors. Counts and IEEE division only — deterministic everywhere.
  private val metricsDaily = GraftQuery(
    "metrics_daily",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(TimeSeries.bin(col("ts"), 86400).cast(TimestampNTZType)
          .as("day"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"),
          (sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .cast(DoubleType) / count(lit(1))).as("error_rate"),
          countDistinct(col("user_id")).as("uniq_users"),
          dsumValue.as("total_value"))
        .orderBy(col("day"))
    },
    Some("""
      SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS day,
        COUNT(*) AS n,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_errors,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS error_rate,
        COUNT(DISTINCT user_id) AS uniq_users,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1
      ORDER BY day
    """))

  // A10b — exact discrete percentiles per dimension via the shared
  // two-pass histogram rank-selection (HistogramRank.scala): no task
  // ever sorts a dimension's raw rows, and the result is identical to
  // the row_number construction the oracle keeps.
  private val percentiles = GraftQuery(
    "metrics_percentiles",
    (s, d) => HistogramRank.percentiles(Tables.events(s, d),
        col("event_type"), col("value"),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99), "vmax")
      .orderBy(col("event_type")),
    Some("""
      WITH ranked AS (
        SELECT event_type, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events)
      SELECT event_type,
        MAX(CASE WHEN rn = CAST(floor((cnt-1) * 0.5) AS BIGINT) + 1 THEN value END) AS p50,
        MAX(CASE WHEN rn = CAST(floor((cnt-1) * 0.9) AS BIGINT) + 1 THEN value END) AS p90,
        MAX(CASE WHEN rn = CAST(floor((cnt-1) * 0.99) AS BIGINT) + 1 THEN value END) AS p99,
        MAX(value) AS vmax
      FROM ranked
      GROUP BY event_type
      ORDER BY event_type
    """))

  // A10c — top-k dimension values by exact total (top URIs / heavy
  // hitters): per-partition top-k then single merge, never a full sort.
  private val topUsers = GraftQuery(
    "metrics_top_users",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), dsumValue.as("total_value"))
        .orderBy(col("total_value").desc, col("user_id"))
        .limit(10)
    },
    Some("""
      SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY user_id
      ORDER BY total_value DESC, user_id
      LIMIT 10
    """))

  // A10d — the scale path for distincts/percentiles: sketches (HLL,
  // KLL-style quantiles). Approximate by design → rows-only driver check;
  // the spec asserts bounded error against the exact variants.
  private val approxMetrics = GraftQuery(
    "metrics_approx",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          approx_percentile(col("value"), lit(0.5), lit(10000)).as("ap50"),
          approx_percentile(col("value"), lit(0.99), lit(10000)).as("ap99"))
        .orderBy(col("event_type"))
    },
    None)

  // A10e — KMV distinct sketch, the ENGINE-PORTABLE answer to HLL's
  // rows-only check: k smallest distinct values of an explicit
  // prime-field affine hash (pure int64 arithmetic, identical in any
  // engine), estimator (k-1)·P/h_(k). Gets a FULL hash-match oracle.
  // The k-smallest step is the TopKPerKey bounded-heap plan — map-side
  // pruned to k per group before its exchange, so the post-distinct
  // shuffle is sketch-sized at any corpus scale.
  private val kmvK = 64
  private val kmvOracle = s"""
      WITH h AS (
        SELECT DISTINCT event_type,
          (((user_id % 2147483647 + 2147483647) % 2147483647)
            * 1103515245 + 12345) % 2147483647 AS hv
        FROM events),
      r AS (
        SELECT event_type, hv,
          row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
        FROM h)
      SELECT event_type,
        CASE WHEN COUNT(*) < $kmvK THEN CAST(COUNT(*) AS DOUBLE)
          ELSE (${kmvK - 1}.0 * 2147483647.0) /
            CAST(MAX(CASE WHEN rk = $kmvK THEN hv END) AS DOUBLE)
        END AS kmv_distinct
      FROM r WHERE rk <= $kmvK
      GROUP BY event_type
      ORDER BY event_type
      """
  private val kmvMetrics = GraftQuery(
    "metrics_kmv",
    (s, d) => {
      val ev = Tables.events(s, d)
      TimeSeries.kmvEstimate(
        TimeSeries.kmvMerge(
          ev.select(col("event_type").as("key"),
            TimeSeries.kmvHash(col("user_id")).as("hv")), kmvK), kmvK)
        .withColumnRenamed("key", "event_type")
        .orderBy(col("event_type"))
    },
    Some(kmvOracle))

  // A10f — per-(key, day) KMV sketches rolled up per key. The merge is
  // provably lossless (every globally-k-smallest hash is among its own
  // day's k smallest), so this SHARES the direct query's oracle — the
  // driver gate itself proves daily-sketch → rollup equals one global
  // pass, which is the pre-aggregate contract a dashboard relies on.
  private val kmvRollup = GraftQuery(
    "metrics_kmv_rollup",
    (s, d) => {
      val daily = TimeSeries.kmvDaily(Tables.events(s, d),
        col("event_type"), col("ts"), col("user_id"), kmvK)
      TimeSeries.kmvEstimate(TimeSeries.kmvMerge(daily, kmvK), kmvK)
        .withColumnRenamed("key", "event_type")
        .orderBy(col("event_type"))
    },
    Some(kmvOracle))

  // A10g — the persisted KMV sketch store through the driver gate: the
  // observability leg of the incremental-store family. Build on even
  // event_ids, APPEND the odds (a day-splitting slice — the merge's
  // losslessness is partition-shape-independent), estimate — and the
  // result must hash-match the SAME oracle as the in-query
  // metrics_kmv, which is the "estimate-after-append ≡ one global
  // pass" contract a monitoring dashboard relies on.
  private def kmvStore(s: SparkSession, d: String): String =
    graft.Caches.store(s, d, "graft_kmv_store_%s")(
        b => Seq(s"${b}_kmv", s"${b}_meta")) { (base, dir) =>
      val ev = Tables.events(s, d)
      graft.sources.MetricsStore.write(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        col("event_type"), col("ts"), col("user_id"),
        base, dir, k = kmvK)
      graft.sources.MetricsStore.append(s, base,
        ev.filter(pmod(col("event_id"), lit(2)) =!= 0),
        col("event_type"), col("ts"), col("user_id"))
    }

  private val kmvStoreEstimate = GraftQuery(
    "kmv_store_estimate",
    (s, d) => graft.sources.MetricsStore.estimate(s, kmvStore(s, d))
      .withColumnRenamed("key", "event_type")
      .orderBy(col("event_type")),
    Some(kmvOracle))

  // A10h — count-min sketch over the user_id stream: the
  // bounded-memory FREQUENCY sketch beside KMV's distinct-count and
  // the HLL/histogram rollups. Every cell is an integer sum, so —
  // unusually for a sketch — the whole d×w structure AND its point
  // estimates are deterministic and carry full hash-match oracles.
  // The build is one map-side-combining aggregation from the corpus to
  // ≤ d·w cells; partials are themselves sketches, so a 100 TB scan
  // ships d·w longs per task.
  /** DuckDB mirror of [[TimeSeries.cmsCells]] ending in CTE
    * `cells(row_id, bucket, cnt)` — the CMS-local affine family
    * (large odd multipliers a_j = ((2j+1)·1103515245) mod P, see
    * TimeSeries.cmsBucket) over P reduced mod w, the double-mod idiom
    * keeping both engines' `%` agreeing.
    */
  private val cmsCellsSql = s"""
      js AS (SELECT unnest(range(${TimeSeries.cmsD})) AS j),
      cb AS (SELECT js.j AS row_id,
          ((((2*js.j+1) * 1103515245) % 2147483647)
            * ((user_id % 2147483647 + 2147483647) % 2147483647)
            + (js.j*40503+13) % 2147483647) % 2147483647
            % ${TimeSeries.cmsW} AS bucket
        FROM events CROSS JOIN js),
      cells AS (SELECT row_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cb GROUP BY 1, 2)"""

  private val cmsOracle = s"""
      WITH $cmsCellsSql
      SELECT row_id, bucket, cnt FROM cells ORDER BY row_id, bucket
      """

  private val cmsMetrics = GraftQuery(
    "metrics_cms",
    (s, d) => TimeSeries.cmsCells(Tables.events(s, d), col("user_id"))
      .orderBy(col("row_id"), col("bucket")),
    Some(cmsOracle))

  // A10i — per-day partial sketches merged cell-wise: integer sums
  // commute, so the rollup is EXACTLY the direct build for any
  // day-partitioning — proven by sharing metrics_cms's oracle
  // verbatim, the pre-aggregate contract a monitoring store relies on.
  private val cmsRollup = GraftQuery(
    "metrics_cms_rollup",
    (s, d) => TimeSeries.cmsMerge(
        TimeSeries.cmsDailyCells(Tables.events(s, d), col("ts"),
          col("user_id")))
      .orderBy(col("row_id"), col("bucket")),
    Some(cmsOracle))

  // A10j — CMS point estimates beside the exact counts: est = min over
  // hash rows of the bucket count, ≥ exact by construction (collisions
  // only add) — the (user, est, exact) view is the sketch-error audit
  // a dashboard runs at sketch-sized cost when exact counting is the
  // thing being avoided (here the exact side doubles as the gate).
  private val cmsEstimate = GraftQuery(
    "metrics_cms_estimate",
    (s, d) => {
      val ev = Tables.events(s, d)
      val cells = TimeSeries.cmsCells(ev, col("user_id"))
      ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        .join(TimeSeries.cmsEstimate(ev, col("user_id"), cells)
          .withColumnRenamed("id", "user_id"), Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("n_est"))
        .orderBy(col("user_id"))
    },
    Some(s"""
      WITH $cmsCellsSql,
      u AS (SELECT DISTINCT user_id FROM events),
      probes AS (SELECT user_id, js.j AS row_id,
          ((((2*js.j+1) * 1103515245) % 2147483647)
            * ((user_id % 2147483647 + 2147483647) % 2147483647)
            + (js.j*40503+13) % 2147483647) % 2147483647
            % ${TimeSeries.cmsW} AS bucket
        FROM u CROSS JOIN js),
      est AS (SELECT user_id, MIN(cnt) AS n_est
        FROM probes JOIN cells USING (row_id, bucket) GROUP BY 1),
      ex AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM events GROUP BY 1)
      SELECT ex.user_id, ex.n_exact, est.n_est
      FROM ex JOIN est ON ex.user_id = est.user_id
      ORDER BY ex.user_id
      """))

  // A10j2 — CMS-pruned exact heavy hitters: the two-pass shape that is
  // the POINT of a frequency sketch at 100 TB — pass 1 reduces the
  // corpus to the d×w cells (map-side combining, no wide shuffle),
  // candidates are the keys whose ESTIMATE clears the threshold
  // (est ≥ exact always ⇒ no true heavy hitter can be missed), and
  // only the candidates' events are exactly counted (broadcast
  // semi-join — the full per-key aggregation never runs). The oracle
  // is the plain exact query with no sketch at all, so the hash match
  // re-proves the pruning's recall 1 on every run (the I8 pattern).
  // Threshold: 25% above the mean events-per-user, in exact integer
  // division so both engines agree on the boundary.
  private val cmsHeavyHitters = GraftQuery(
    "cms_heavy_hitters",
    (s, d) => {
      val ev = Tables.events(s, d)
      val cells = TimeSeries.cmsCells(ev, col("user_id"))
      val thr = broadcast(ev
        .agg(count(lit(1)).as("n_total"),
          countDistinct(col("user_id")).as("n_users"))
        .select(expr("(5 * n_total) div (4 * n_users)").as("thr")))
      val cand = TimeSeries.cmsEstimate(ev, col("user_id"), cells)
        .crossJoin(thr)
        .filter(col("n_est") >= col("thr"))
        .select(col("id").as("user_id"))
      ev.join(broadcast(cand), Seq("user_id"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .crossJoin(thr)
        .filter(col("n_events") >= col("thr"))
        .select(col("user_id"), col("n_events"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH t AS (SELECT (5 * (SELECT COUNT(*) FROM events))
          // (4 * (SELECT COUNT(DISTINCT user_id) FROM events)) AS thr),
      g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1)
      SELECT user_id, n_events FROM g
      WHERE n_events >= (SELECT thr FROM t)
      ORDER BY user_id
      """))

  // A10k — the persisted CMS cell store through the driver gate: build
  // on even event_ids, APPEND the odds (a day-splitting slice — cell
  // sums are partition-shape-independent), read the merged cells — and
  // the result must hash-match the SAME oracle as the in-query
  // metrics_cms, the cells-after-append ≡ one-global-pass contract.
  private def cmsStore(s: SparkSession, d: String): String =
    graft.Caches.store(s, d, "graft_cms_store_%s")(
        b => Seq(s"${b}_cms")) { (base, dir) =>
      val ev = Tables.events(s, d)
      graft.sources.MetricsStore.writeCms(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        col("ts"), col("user_id"), base, dir)
      graft.sources.MetricsStore.appendCms(s, base,
        ev.filter(pmod(col("event_id"), lit(2)) =!= 0),
        col("ts"), col("user_id"))
    }

  private val cmsStoreEstimate = GraftQuery(
    "cms_store_estimate",
    (s, d) => graft.sources.MetricsStore.cmsCells(s, cmsStore(s, d))
      .orderBy(col("row_id"), col("bucket")),
    Some(cmsOracle))

  // A23 — exponential smoothing (Brown's simple EMA, the monitoring
  // dashboard's trend line) over each dimension's OBSERVED hourly
  // series: s_0 = x_0, s_t = s_{t-1} + α·(x_t − s_{t-1}), α = 1/4.
  // A recurrence is order-sequential by definition, so the Spark shape
  // is the A7 series shape: one shuffle collects each dimension's
  // (bin, avg) points, sort_array fixes the order, and ONE
  // higher-order aggregate folds the recurrence — per-key state is the
  // series, bounded by the retention window's bin count (the
  // Timestream-model contract), never by corpus size. α is dyadic so
  // the multiply is exact, and every step is the same three IEEE
  // binary64 ops in both engines — the DuckDB oracle replays the exact
  // recurrence as a recursive CTE and hash-matches bit-for-bit (the
  // same reason a LIBM-based smoothing constant could not be gated).
  // The hourly-average input is hourlySpine's `bins` frame BY
  // REFERENCE, so the subplan is plan-identical with A11's and the
  // CacheManager shares one build.
  private val tsEma = GraftQuery(
    "ts_ema",
    (s, d) => {
      val bins = hourlySpine(s, d)._1
      val p0 = col("pts")(0)
      val folded = bins
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(
          struct(col("bin"), col("avg_val")))).as("pts"))
        .select(col("event_type"), aggregate(
          slice(col("pts"), lit(2),
            greatest(size(col("pts")) - 1, lit(0))),
          struct(
            array(struct(p0("bin").as("bin"),
              p0("avg_val").as("avg_val"),
              p0("avg_val").as("ema"))).as("out"),
            p0("avg_val").as("s")),
          (acc, p) => {
            val s2 = acc("s") + lit(0.25) * (p("avg_val") - acc("s"))
            struct(
              concat(acc("out"), array(struct(p("bin").as("bin"),
                p("avg_val").as("avg_val"), s2.as("ema")))).as("out"),
              s2.as("s"))
          },
          acc => acc("out")).as("sm"))
      folded
        .select(col("event_type"), explode(col("sm")).as("p"))
        .select(col("event_type"), col("p.bin").as("bin"),
          col("p.avg_val").as("avg_val"), col("p.ema").as("ema"))
        .orderBy(col("event_type"), col("bin"))
    },
    Some("""
      WITH RECURSIVE bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            AS avg_val
        FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, bin, avg_val, ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY bin) AS rn FROM bins),
      rec(event_type, rn, bin, avg_val, ema) AS (
        SELECT event_type, rn, bin, avg_val, avg_val FROM b WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.rn, b.bin, b.avg_val,
          r.ema + CAST(0.25 AS DOUBLE) * (b.avg_val - r.ema)
        FROM rec r JOIN b ON b.event_type = r.event_type
          AND b.rn = r.rn + 1)
      SELECT event_type, bin, avg_val, ema FROM rec
      ORDER BY event_type, bin
      """))

  // A24 — Holt's linear-trend (double exponential) smoothing over the
  // same observed hourly series as A23: level s and trend b evolve as
  //   s_t = α·x_t + (1−α)·(s_{t−1} + b_{t−1}),  α = 1/2
  //   b_t = β·(s_t − s_{t−1}) + (1−β)·b_{t−1},  β = 1/4
  // with s_0 = x_0, b_0 = 0 — the dashboard's short-horizon forecast
  // line (forecast = s + b). Same discipline as A23: dyadic constants,
  // one HOF fold per key, a recursive-CTE replay of the two-state
  // recurrence hash-matching bit-for-bit; the hourly input is
  // hourlySpine's bins frame by reference again.
  private val tsHolt = GraftQuery(
    "ts_holt",
    (s, d) => {
      val bins = hourlySpine(s, d)._1
      val p0 = col("pts")(0)
      val folded = bins
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(
          struct(col("bin"), col("avg_val")))).as("pts"))
        .select(col("event_type"), aggregate(
          slice(col("pts"), lit(2),
            greatest(size(col("pts")) - 1, lit(0))),
          struct(
            array(struct(p0("bin").as("bin"),
              p0("avg_val").as("avg_val"),
              p0("avg_val").as("level"),
              lit(0.0).as("trend"))).as("out"),
            p0("avg_val").as("s"), lit(0.0).as("b")),
          (acc, p) => {
            val sNew = lit(0.5) * p("avg_val") +
              lit(0.5) * (acc("s") + acc("b"))
            val bNew = lit(0.25) * (sNew - acc("s")) +
              lit(0.75) * acc("b")
            struct(
              concat(acc("out"), array(struct(p("bin").as("bin"),
                p("avg_val").as("avg_val"), sNew.as("level"),
                bNew.as("trend")))).as("out"),
              sNew.as("s"), bNew.as("b"))
          },
          acc => acc("out")).as("sm"))
      folded
        .select(col("event_type"), explode(col("sm")).as("p"))
        .select(col("event_type"), col("p.bin").as("bin"),
          col("p.avg_val").as("avg_val"), col("p.level").as("level"),
          col("p.trend").as("trend"),
          (col("p.level") + col("p.trend")).as("forecast"))
        .orderBy(col("event_type"), col("bin"))
    },
    Some("""
      WITH RECURSIVE bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            AS avg_val
        FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, bin, avg_val, ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY bin) AS rn FROM bins),
      rec(event_type, rn, bin, avg_val, s, t) AS (
        SELECT event_type, rn, bin, avg_val, avg_val,
          CAST(0 AS DOUBLE) FROM b WHERE rn = 1
        UNION ALL
        SELECT bb.event_type, bb.rn, bb.bin, bb.avg_val,
          CAST(0.5 AS DOUBLE) * bb.avg_val
            + CAST(0.5 AS DOUBLE) * (r.s + r.t),
          CAST(0.25 AS DOUBLE) *
            ((CAST(0.5 AS DOUBLE) * bb.avg_val
              + CAST(0.5 AS DOUBLE) * (r.s + r.t)) - r.s)
            + CAST(0.75 AS DOUBLE) * r.t
        FROM rec r JOIN b bb ON bb.event_type = r.event_type
          AND bb.rn = r.rn + 1)
      SELECT event_type, bin, avg_val, s AS level, t AS trend,
        s + t AS forecast
      FROM rec ORDER BY event_type, bin
      """))

  // A11 — Timestream INTERPOLATE_LINEAR: hourly per-dimension series
  // with missing bins linearly interpolated between the nearest
  // observed neighbors. prev/next lookups use running max/min windows
  // over CASE-tagged bins (no IGNORE NULLS dependency, identical in
  // both engines), then join the values back — never a per-gap scan.
  /** Shared hourly-spine scaffold for A11 ts_interpolate and A11b
    * ts_locf_fill: per-type hourly averages, the dense min..max hour
    * spine left-joined onto them, the running last-observed-bin window
    * frame, and the prev-value lookup. ONE spelling keeps the two
    * interpolation modes' plans identical prefixes (the CacheManager
    * can share the subplan in-session) and makes bin-width or spine
    * changes atomic across both queries. Returns (bins, joined spine,
    * wPrev, prev-value table).
    */
  private def hourlySpine(s: SparkSession, d: String): (DataFrame,
      DataFrame, org.apache.spark.sql.expressions.WindowSpec, DataFrame) = {
    val binCol = TimeSeries.bin(col("ts"), 3600).cast(TimestampNTZType)
    val bins = Tables.events(s, d)
      .groupBy(col("event_type"), binCol.as("bin"))
      .agg((dsumValue / count(lit(1))).as("avg_val"))
    val spine = bins.groupBy(col("event_type"))
      .agg(min(col("bin")).as("mn"), max(col("bin")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 HOUR"))).as("bin"))
    val j = spine.join(bins, Seq("event_type", "bin"), "left")
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pv = bins.select(col("event_type"), col("bin").as("prev_bin"),
      col("avg_val").as("prev_val"))
    (bins, j, wPrev, pv)
  }

  private val tsInterpolate = GraftQuery(
    "ts_interpolate",
    (s, d) => {
      val (bins, j, wPrev, pv) = hourlySpine(s, d)
      val wNext = Window.partitionBy(col("event_type")).orderBy(col("bin"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val tagged = j
        .withColumn("prev_bin",
          max(when(col("avg_val").isNotNull, col("bin"))).over(wPrev))
        .withColumn("next_bin",
          min(when(col("avg_val").isNotNull, col("bin"))).over(wNext))
      val nv = bins.select(col("event_type"), col("bin").as("next_bin"),
        col("avg_val").as("next_val"))
      val us = (c: Column) => unix_micros(c.cast(TimestampType))
      tagged
        .join(pv, Seq("event_type", "prev_bin"), "left")
        .join(nv, Seq("event_type", "next_bin"), "left")
        .select(col("event_type"), col("bin"),
          when(col("avg_val").isNotNull, col("avg_val"))
            .when(col("prev_val").isNull || col("next_val").isNull,
              lit(null))
            .otherwise(col("prev_val") +
              (col("next_val") - col("prev_val")) *
                ((us(col("bin")) - us(col("prev_bin"))).cast(DoubleType) /
                  (us(col("next_bin")) - us(col("prev_bin")))))
            .as("value"),
          col("avg_val").isNull.as("interpolated"))
        .orderBy(col("event_type"), col("bin"))
    },
    Some("""
      WITH bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            AS avg_val
        FROM events GROUP BY 1, 2),
      spine AS (
        SELECT event_type,
          unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bin
        FROM (SELECT event_type, min(bin) mn, max(bin) mx
              FROM bins GROUP BY 1)),
      j AS (SELECT s.event_type, s.bin, b.avg_val
            FROM spine s LEFT JOIN bins b
              ON s.event_type = b.event_type AND s.bin = b.bin),
      w AS (SELECT *,
          max(CASE WHEN avg_val IS NOT NULL THEN bin END) OVER
            (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_bin,
          min(CASE WHEN avg_val IS NOT NULL THEN bin END) OVER
            (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_bin
        FROM j)
      SELECT w.event_type, w.bin,
        CASE WHEN w.avg_val IS NOT NULL THEN w.avg_val
             WHEN pb.avg_val IS NULL OR nb.avg_val IS NULL THEN NULL
             ELSE pb.avg_val + (nb.avg_val - pb.avg_val) *
               (CAST(epoch_us(w.bin) - epoch_us(w.prev_bin) AS DOUBLE)
                / (epoch_us(w.next_bin) - epoch_us(w.prev_bin))) END
          AS value,
        w.avg_val IS NULL AS interpolated
      FROM w
      LEFT JOIN bins pb
        ON w.event_type = pb.event_type AND w.prev_bin = pb.bin
      LEFT JOIN bins nb
        ON w.event_type = nb.event_type AND w.next_bin = nb.bin
      ORDER BY w.event_type, w.bin
      """))

  /** Hourly per-dimension bins with (prev_x, prev_bin) lag columns —
    * the shared scaffold of the Timestream calculus functions (A20/
    * A21). One shuffle (the bin agg); the lag window runs over
    * per-dimension BIN rows, bounded by the time range, never raw
    * rows. First bin per dimension (no predecessor) is dropped.
    */
  private def binsWithPrev(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    Tables.events(s, d)
      .groupBy(col("event_type"),
        TimeSeries.bin(col("ts"), 3600).cast(TimestampNTZType).as("bin"))
      .agg(dsumValue.as("x"))
      .withColumn("prev_x", lag(col("x"), 1).over(w))
      .withColumn("prev_bin", lag(col("bin"), 1).over(w))
      .filter(col("prev_x").isNotNull)
  }

  /** Microseconds between a bin and its predecessor, as double. */
  private def binMicrosDelta: Column =
    (unix_micros(col("bin").cast(TimestampType)) -
      unix_micros(col("prev_bin").cast(TimestampType))).cast(DoubleType)

  // A20 — Timestream DERIVATIVE_LINEAR: per-dimension rate of change
  // between consecutive hourly bins, (x - prev_x) / Δt_seconds. The
  // division is a single IEEE op on identical inputs in both engines —
  // no rounding needed.
  private val tsDerivative = GraftQuery(
    "ts_derivative",
    (s, d) => binsWithPrev(s, d)
      .select(col("event_type"), col("bin"), col("x"),
        ((col("x") - col("prev_x")) / binMicrosDelta * 1000000.0d)
          .as("dx_dt"))
      .orderBy(col("event_type"), col("bin")),
    Some("""
      WITH bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2),
      l AS (
        SELECT event_type, bin, x,
          lag(x) OVER (PARTITION BY event_type ORDER BY bin) AS prev_x,
          lag(bin) OVER (PARTITION BY event_type ORDER BY bin) AS prev_bin
        FROM bins)
      SELECT event_type, bin, x,
        (x - prev_x) / CAST(epoch_us(bin) - epoch_us(prev_bin) AS DOUBLE)
          * 1000000.0 AS dx_dt
      FROM l WHERE prev_x IS NOT NULL
      ORDER BY event_type, bin
      """))

  // A21 — Timestream INTEGRAL_TRAPEZOIDAL: per-dimension trapezoid
  // integral of the hourly series over the whole period. Each trapezoid
  // term is deterministic per-row IEEE arithmetic; the SUM runs in
  // exact decimal so partition order cannot perturb the total.
  private val tsIntegral = GraftQuery(
    "ts_integral",
    (s, d) => binsWithPrev(s, d)
      .withColumn("term",
        (col("x") + col("prev_x")) * 0.5d * (binMicrosDelta / 1000000.0d))
      .groupBy(col("event_type"))
      .agg(sum(col("term").cast(DecimalType(28, 6))).cast(DoubleType)
        .as("integral"),
        count(lit(1)).as("n_segments"))
      .orderBy(col("event_type")),
    Some("""
      WITH bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2),
      l AS (
        SELECT event_type, bin, x,
          lag(x) OVER (PARTITION BY event_type ORDER BY bin) AS prev_x,
          lag(bin) OVER (PARTITION BY event_type ORDER BY bin) AS prev_bin
        FROM bins),
      t AS (
        SELECT event_type,
          (x + prev_x) * 0.5 *
            (CAST(epoch_us(bin) - epoch_us(prev_bin) AS DOUBLE) / 1000000.0)
            AS term
        FROM l WHERE prev_x IS NOT NULL)
      SELECT event_type,
        CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS integral,
        COUNT(*) AS n_segments
      FROM t GROUP BY event_type
      ORDER BY event_type
      """))

  // A11b — Timestream INTERPOLATE_LOCF + INTERPOLATE_FILL on the same
  // hourly spine as A11: gaps carry the last observed value forward
  // (NULL before the first observation) and, in the fill column, a
  // constant 0. Same bounded-spine windows; one query covers both
  // remaining Timestream interpolation modes.
  private val tsLocfFill = GraftQuery(
    "ts_locf_fill",
    (s, d) => {
      val (_, j, wPrev, pv) = hourlySpine(s, d)
      j.withColumn("prev_bin",
          max(when(col("avg_val").isNotNull, col("bin"))).over(wPrev))
        .join(pv, Seq("event_type", "prev_bin"), "left")
        .select(col("event_type"), col("bin"),
          coalesce(col("avg_val"), col("prev_val")).as("locf_value"),
          coalesce(col("avg_val"), lit(0.0d)).as("fill_value"),
          col("avg_val").isNull.as("filled"))
        .orderBy(col("event_type"), col("bin"))
    },
    Some("""
      WITH bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            AS avg_val
        FROM events GROUP BY 1, 2),
      spine AS (
        SELECT event_type,
          unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bin
        FROM (SELECT event_type, min(bin) mn, max(bin) mx
              FROM bins GROUP BY 1)),
      j AS (SELECT s.event_type, s.bin, b.avg_val
            FROM spine s LEFT JOIN bins b
              ON s.event_type = b.event_type AND s.bin = b.bin),
      w AS (SELECT *,
          max(CASE WHEN avg_val IS NOT NULL THEN bin END) OVER
            (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_bin
        FROM j)
      SELECT w.event_type, w.bin,
        CASE WHEN w.avg_val IS NOT NULL THEN w.avg_val
             ELSE pb.avg_val END AS locf_value,
        CASE WHEN w.avg_val IS NOT NULL THEN w.avg_val
             ELSE 0.0 END AS fill_value,
        w.avg_val IS NULL AS filled
      FROM w
      LEFT JOIN bins pb
        ON w.event_type = pb.event_type AND w.prev_bin = pb.bin
      ORDER BY w.event_type, w.bin
      """))

  // A12 — as-of lookup: for every event, the timestamp and value of the
  // most recent prior 'error' event of the same user. Formulated as a
  // running window (no join, no per-row scan) — the shuffle-minimal way
  // to express an as-of self-join on a time-series table.
  private val tsAsof = GraftQuery(
    "ts_asof",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("last_error_ts",
          max(when(col("event_type") === "error", col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          count(col("last_error_ts")).as("n_after_error"),
          max(col("last_error_ts")).as("latest_error_ts"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH t AS (
        SELECT user_id,
          max(CASE WHEN event_type = 'error' THEN ts END) OVER
            (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS last_error_ts
        FROM events)
      SELECT user_id, COUNT(*) AS n,
        COUNT(last_error_ts) AS n_after_error,
        MAX(last_error_ts) AS latest_error_ts
      FROM t GROUP BY user_id ORDER BY user_id
      """))

  // A17 — z-score anomaly detection on the hourly series: per dimension,
  // flag hours whose bin total departs the dimension's own mean by >= 2
  // population standard deviations — the "alert on unusual traffic"
  // query a monitoring stack runs on exactly this data. Two shuffles
  // (bin agg, per-dimension moments); moments via decimal sums so they
  // are partition-order independent; sqrt/divide are IEEE-identical in
  // both engines, and the reported z is floored to ppm (§7: compound
  // float results are compared via floor-to-integer, never round).
  private val tsAnomaly = GraftQuery(
    "ts_anomaly",
    (s, d) => {
      val bins = Tables.events(s, d)
        .groupBy(col("event_type"),
          TimeSeries.bin(col("ts"), 3600).cast(TimestampNTZType).as("bin"))
        .agg(dsumValue.as("x"))
      val dec = DecimalType(28, 10)
      val moments = bins.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          (sum(col("x").cast(dec)).cast(DoubleType) / count(lit(1)))
            .as("mean"),
          (sum((col("x") * col("x")).cast(dec)).cast(DoubleType) /
            count(lit(1))).as("meansq"))
        .withColumn("std", sqrt(col("meansq") - col("mean") * col("mean")))
      bins.join(moments, "event_type")
        .filter(col("n") > 1 && col("std") > 0)
        .withColumn("z", (col("x") - col("mean")) / col("std"))
        .filter(col("z") >= 2.0 || col("z") <= -2.0)
        .select(col("event_type"), col("bin"), col("x"),
          floor(col("z") * 1000000.0d).cast(LongType).as("z_ppm"))
        .orderBy(col("event_type"), col("bin"))
    },
    Some("""
      WITH bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2),
      m AS (
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mean,
          CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*)
            AS meansq
        FROM bins GROUP BY 1),
      z AS (
        SELECT b.event_type, b.bin, b.x,
          (b.x - m.mean) / sqrt(m.meansq - m.mean * m.mean) AS z
        FROM bins b JOIN m ON b.event_type = m.event_type
        WHERE m.n > 1 AND sqrt(m.meansq - m.mean * m.mean) > 0)
      SELECT event_type, bin, x,
        CAST(floor(z * 1000000.0) AS BIGINT) AS z_ppm
      FROM z WHERE z >= 2.0 OR z <= -2.0
      ORDER BY event_type, bin
      """))

  // A18 — TWO-TABLE as-of join through the generic union-and-carry
  // operator (TimeSeries.asofJoin): every event picks up the most
  // recent quota row (a sparse per-type daily table — only every third
  // day has one, so matches genuinely reach back across gaps). The
  // oracle is DuckDB's NATIVE `ASOF JOIN` — an independent
  // implementation of the semantics, not a rebuild of our plan.
  private val qAsofJoin = GraftQuery(
    "q_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val quotas = ev
        .select(col("event_type"),
          TimeSeries.bin(col("ts"), 86400).cast(TimestampNTZType).as("qts"))
        .distinct()
        .withColumn("dday",
          expr("unix_seconds(CAST(qts AS TIMESTAMP)) div 86400"))
        .filter(pmod(col("dday"), lit(3)) === 0)
        .withColumn("quota",
          pmod(col("dday"), lit(7)) * 100 + length(col("event_type")))
        .select(col("event_type"), col("qts"), col("quota"))
      TimeSeries.asofJoin(ev, quotas, "event_type", "ts", "qts",
          Seq("quota"))
        .filter(col("asof_quota").isNotNull)
        .groupBy(col("event_type"), col("asof_quota"))
        .agg(count(lit(1)).as("n"), dsumValue.as("sum_value"))
        .orderBy(col("event_type"), col("asof_quota"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS qts
        FROM events),
      quotas AS (
        SELECT event_type, qts,
          ((epoch(qts)::BIGINT // 86400) % 7) * 100 + length(event_type)
            AS quota
        FROM days
        WHERE (epoch(qts)::BIGINT // 86400) % 3 = 0)
      SELECT e.event_type, q.quota AS asof_quota, COUNT(*) AS n,
        CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e ASOF JOIN quotas q
        ON e.event_type = q.event_type AND e.ts >= q.qts
      GROUP BY 1, 2
      ORDER BY 1, 2
      """))

  // A18b — the FORWARD direction of the generic as-of join: each event
  // attributed to the NEXT day-quota taking effect at or after it
  // (deploy→first-error, event→next-policy attribution). Same
  // construction as q_asof_join, direction reversed; the engine is
  // asofJoin on the negated time axis, so the time-sliced shape is
  // inherited. Oracle: DuckDB's native ASOF JOIN with the <=
  // comparison — again an independent implementation of the semantics.
  private val qAsofJoinFwd = GraftQuery(
    "q_asof_join_fwd",
    (s, d) => {
      val ev = Tables.events(s, d)
      val quotas = ev
        .select(col("event_type"),
          TimeSeries.bin(col("ts"), 86400).cast(TimestampNTZType).as("qts"))
        .distinct()
        .withColumn("dday",
          expr("unix_seconds(CAST(qts AS TIMESTAMP)) div 86400"))
        .filter(pmod(col("dday"), lit(3)) === 0)
        .withColumn("quota",
          pmod(col("dday"), lit(7)) * 100 + length(col("event_type")))
        .select(col("event_type"), col("qts"), col("quota"))
      TimeSeries.asofJoinForward(ev, quotas, "event_type", "ts", "qts",
          Seq("quota"))
        .filter(col("asof_quota").isNotNull)
        .groupBy(col("event_type"), col("asof_quota"))
        .agg(count(lit(1)).as("n"), dsumValue.as("sum_value"))
        .orderBy(col("event_type"), col("asof_quota"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS qts
        FROM events),
      quotas AS (
        SELECT event_type, qts,
          ((epoch(qts)::BIGINT // 86400) % 7) * 100 + length(event_type)
            AS quota
        FROM days
        WHERE (epoch(qts)::BIGINT // 86400) % 3 = 0)
      SELECT e.event_type, q.quota AS asof_quota, COUNT(*) AS n,
        CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e ASOF JOIN quotas q
        ON e.event_type = q.event_type AND e.ts <= q.qts
      GROUP BY 1, 2
      ORDER BY 1, 2
      """))

  // A25 — per-user burst detection: the rate/abuse view a monitoring
  // pipeline runs beside the anomaly pack — each user's PEAK rolling
  // 3-hour event count and when it happened. The rolling frame is a
  // RANGE window over the integer hour axis (gaps count as empty
  // hours — a RANGE frame over occupied bins only, which a ROWS frame
  // would get wrong), partitioned per user over hour-BINNED rows, so
  // partition size is bounded by the retention window's hours, never
  // by a user's raw event share. All-integer arithmetic; the peak's
  // bin resolves by agg + join-back to the earliest achiever (the C1
  // election shape — no argmax window).
  private val tsBurst = GraftQuery(
    "ts_burst",
    (s, d) => {
      val binned = Tables.events(s, d)
        .groupBy(col("user_id"),
          TimeSeries.bin(col("ts"), 3600).cast(TimestampNTZType).as("bin"))
        .agg(count(lit(1)).as("n"))
        .withColumn("h",
          expr("unix_seconds(CAST(bin AS TIMESTAMP)) div 3600"))
      val wr = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rangeBetween(-2, 0)
      val rolled = binned.withColumn("n_3h", sum(col("n")).over(wr))
      val peaks = rolled.groupBy(col("user_id"))
        .agg(max(col("n_3h")).as("peak_3h"))
      rolled.join(peaks, Seq("user_id"))
        .filter(col("n_3h") === col("peak_3h"))
        .groupBy(col("user_id"), col("peak_3h"))
        .agg(min(col("bin")).as("peak_bin"))
        .select(col("user_id"), col("peak_3h"), col("peak_bin"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH b AS (
        SELECT user_id,
          epoch_us(ts) // 3600000000 AS h,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT user_id, h,
          SUM(n) OVER (PARTITION BY user_id ORDER BY h
            RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS n3
        FROM b),
      p AS (SELECT user_id, MAX(n3) AS peak_3h FROM r GROUP BY 1)
      SELECT r.user_id, CAST(p.peak_3h AS BIGINT) AS peak_3h,
        make_timestamp(MIN(r.h) * 3600000000) AS peak_bin
      FROM r JOIN p ON r.user_id = p.user_id AND r.n3 = p.peak_3h
      GROUP BY 1, 2
      ORDER BY r.user_id
      """))

  // A26 — robust per-dimension outlier stats: MEDIAN and MAD (median
  // absolute deviation) of each dimension's hourly series with the
  // count of bins beyond 3·MAD — the robust companion to A17's z-score
  // (one wild hour corrupts a mean/σ baseline; the median pair
  // shrugs). Medians are EXACT rank selection — the lower median, an
  // actual series element picked by row_number under the total
  // (value, bin) order — so the whole result is deterministic and
  // hash-matches (an interpolated median would average two doubles;
  // fine too, but selection needs no arithmetic at all). Two selection
  // passes (values, then absolute deviations); windows partition per
  // dimension over hourly bins, bounded by the retention window like
  // A23. The input is hourlySpine's bins frame by reference again.
  private val tsMad = GraftQuery(
    "ts_mad",
    (s, d) => {
      val bins = hourlySpine(s, d)._1
      def lowerMedian(df: DataFrame, value: String,
          out: String): DataFrame = {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col(value), col("bin"))
        val wAll = Window.partitionBy(col("event_type"))
        df.withColumn("__rn", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(wAll))
          .filter(col("__rn") === expr("(__n + 1) div 2"))
          .select(col("event_type"), col(value).as(out))
      }
      val med = lowerMedian(bins, "avg_val", "med")
      val dev = bins.join(med, Seq("event_type"))
        .withColumn("adev", abs(col("avg_val") - col("med")))
      val mad = lowerMedian(dev, "adev", "mad")
      dev.join(mad, Seq("event_type"))
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_bins"),
          sum((col("adev") > lit(3.0) * col("mad")).cast(LongType))
            .as("n_outliers"))
        .select(col("event_type"), col("n_bins"), col("med"),
          col("mad"), col("n_outliers"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            AS avg_val
        FROM events GROUP BY 1, 2),
      mr AS (SELECT event_type, avg_val,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY avg_val, bin) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM bins),
      med AS (SELECT event_type, avg_val AS med FROM mr
              WHERE rn = (n + 1) // 2),
      dev AS (SELECT b.event_type, b.bin, b.avg_val, m.med,
          abs(b.avg_val - m.med) AS adev
        FROM bins b JOIN med m ON b.event_type = m.event_type),
      dr AS (SELECT event_type, adev,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY adev, bin) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev),
      mad AS (SELECT event_type, adev AS mad FROM dr
              WHERE rn = (n + 1) // 2)
      SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_bins,
        d.med, a.mad,
        CAST(SUM(CASE WHEN d.adev > 3.0 * a.mad THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers
      FROM dev d JOIN mad a ON d.event_type = a.event_type
      GROUP BY 1, 3, 4
      ORDER BY d.event_type
      """))

  // A19 — latest-record-per-key snapshot (the SCD / changelog-compaction
  // read pattern): one row per user carrying the most recent event's
  // attributes. max_by-shaped via a single struct-max aggregation — one
  // shuffle with map-side partials, no window over raw history. The
  // (ts, event_id) prefix makes the max total, so the pick is
  // deterministic under timestamp ties.
  /** Shared verbatim by A19's direct query and the [[graft.sources
    * .SnapshotStore]] gate row — the snapshot-after-append ≡ one-pass
    * contract.
    */
  private val latestOracle = """
      WITH r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn,
          COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events)
      SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        event_type AS last_event_type, value AS last_value, n_events
      FROM r WHERE rn = 1
      ORDER BY user_id
      """

  private val qLatest = GraftQuery(
    "q_latest",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          max(struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))).as("m"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("m.ts").as("last_ts"),
          col("m.event_id").as("last_event_id"),
          col("m.event_type").as("last_event_type"),
          col("m.value").as("last_value"), col("n_events"))
        .orderBy(col("user_id"))
    },
    Some(latestOracle))

  // A19b — the persisted changelog-compaction store through the driver
  // gate: build per-batch partial (struct-max, count) rows on even
  // event_ids, APPEND the odds, read the folded snapshot — must
  // hash-match the SAME oracle as the in-query q_latest (max is
  // associative, counts additive over disjoint slices).
  private def latestStore(s: SparkSession, d: String): String =
    graft.Caches.store(s, d, "graft_latest_store_%s")(
        b => Seq(s"${b}_latest")) { (base, dir) =>
      val ev = Tables.events(s, d)
      graft.sources.SnapshotStore.write(
        ev.filter(pmod(col("event_id"), lit(2)) === 0), base, dir)
      graft.sources.SnapshotStore.append(s, base,
        ev.filter(pmod(col("event_id"), lit(2)) =!= 0))
    }

  private val latestStoreSnapshot = GraftQuery(
    "latest_store_snapshot",
    (s, d) => graft.sources.SnapshotStore.snapshot(s, latestStore(s, d))
      .orderBy(col("user_id")),
    Some(latestOracle))

  // A22 — event-path transition counts (Markov/path analysis, the
  // "where do users go next" dashboard view): per user, each event's
  // predecessor via one lag window on the user key, then a global
  // (from, to) count with the transition's share of its source state
  // in exact ppm. One shuffle for the lag, one map-side-combinable
  // count agg — the transition matrix is |event_types|² rows, tiny at
  // any corpus scale.
  private val qTransitions = GraftQuery(
    "q_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wFrom = Window.partitionBy(col("from_type"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("from_total", sum(col("n")).over(wFrom))
        .withColumn("share_ppm", expr("(1000000 * n) div from_total"))
        .drop("from_total")
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""
      WITH t AS (
        SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS from_type
        FROM events),
      c AS (
        SELECT from_type, event_type AS to_type, COUNT(*) AS n
        FROM t WHERE from_type IS NOT NULL
        GROUP BY 1, 2)
      SELECT from_type, to_type, n,
        (1000000 * n) // CAST(SUM(n) OVER (PARTITION BY from_type)
          AS BIGINT) AS share_ppm
      FROM c
      ORDER BY from_type, to_type
      """))

  // §5 — the salted two-phase aggregation, oracle-verified: the oracle
  // is the PLAIN single-phase aggregation, so the hash-match proves the
  // hot-key-safe rewrite is lossless (decimal partials re-aggregate
  // exactly; counts are associative).
  private val qSkewAgg = GraftQuery(
    "q_skew_agg",
    (s, d) => {
      graft.functions.Skew.saltedSumCount(
          Tables.events(s, d), col("event_type"),
          col("value").cast(DecimalType(18, 2)), col("event_id"),
          salts = 16)
        .select(col("key").as("event_type"),
          col("sum_value").cast(DoubleType).as("sum_value"), col("n"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        COUNT(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type
      """))

  // A10d' — the mergeable-sketch pre-aggregate surface as a registry
  // entry (approximate by design → rows-only driver check; the spec
  // asserts union-losslessness and the 5% bound against exact).
  private val sketchRollup = GraftQuery(
    "metrics_sketch_rollup",
    (s, d) => {
      val daily = TimeSeries.dailyDistinctSketches(
        Tables.events(s, d), col("event_type"), col("ts"), col("user_id"))
      TimeSeries.rollupDistinct(daily)
        .select(col("key").as("event_type"), col("approx_distinct"),
          col("n_rows"))
        .orderBy(col("event_type"))
    },
    None)

  // A10d'' — mergeable QUANTILE pre-aggregate: per-(key, day) decimal
  // log-histograms (TimeSeries.logHistDaily — integer/string bucket
  // arithmetic, ≤1% relative bucket width) rolled up to per-key
  // p50/p99 brackets. Unlike KLL/t-digest-style sketches this one is
  // engine-portable bit-for-bit, so it gets a FULL hash-match oracle —
  // the daily→global merge is provably lossless (bucket-count sums),
  // which the spec double-checks against a direct global histogram.
  /** metrics_hist_rollup's oracle — shared VERBATIM by the persisted
    * leg's gate row (`hist_store_rollup`): brackets-after-any-append ≡
    * one global pass.
    */
  private val histRollupOracle: String = """
      WITH b AS (
        SELECT event_type AS key,
          CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events WHERE value > 0),
      d AS (SELECT key, cents,
          CAST(len(CAST(cents AS VARCHAR)) AS BIGINT) AS nd,
          CAST(substr(CAST(cents AS VARCHAR), 1, 3) AS BIGINT) AS f3
        FROM b),
      hb AS (SELECT key, nd * 1000 + f3 AS bucket_id, COUNT(*) AS cnt
        FROM d GROUP BY 1, 2),
      c AS (SELECT *,
          SUM(cnt) OVER (PARTITION BY key ORDER BY bucket_id) AS cum,
          SUM(cnt) OVER (PARTITION BY key) AS tot
        FROM hb),
      pk AS (SELECT key,
          CAST(MAX(tot) AS BIGINT) AS n_rows,
          MIN(CASE WHEN cum >= CAST(floor((tot - 1) * 0.5) AS BIGINT) + 1
            THEN bucket_id END) AS b50,
          MIN(CASE WHEN cum >= CAST(floor((tot - 1) * 0.99) AS BIGINT) + 1
            THEN bucket_id END) AS b99
        FROM c GROUP BY key)
      SELECT key AS event_type, n_rows,
        CAST(CAST(b50 % 1000 AS VARCHAR) ||
          repeat('0', CAST(greatest(b50 // 1000 - 3, 0) AS INTEGER))
          AS BIGINT) AS p50_lo_cents,
        CAST(CAST(b50 % 1000 + 1 AS VARCHAR) ||
          repeat('0', CAST(greatest(b50 // 1000 - 3, 0) AS INTEGER))
          AS BIGINT) AS p50_hi_cents,
        CAST(CAST(b99 % 1000 AS VARCHAR) ||
          repeat('0', CAST(greatest(b99 // 1000 - 3, 0) AS INTEGER))
          AS BIGINT) AS p99_lo_cents,
        CAST(CAST(b99 % 1000 + 1 AS VARCHAR) ||
          repeat('0', CAST(greatest(b99 // 1000 - 3, 0) AS INTEGER))
          AS BIGINT) AS p99_hi_cents
      FROM pk
      ORDER BY event_type
      """

  private val histRollup = GraftQuery(
    "metrics_hist_rollup",
    (s, d) => {
      val daily = TimeSeries.logHistDaily(
        Tables.events(s, d), col("event_type"), col("ts"), col("value"))
      TimeSeries.logHistRollup(daily)
        .withColumnRenamed("key", "event_type")
        .orderBy(col("event_type"))
    },
    Some(histRollupOracle))

  // A10l — the persisted histogram store through the driver gate (the
  // third sketch family under MetricsStore, completing KMV + CMS +
  // HIST): build on even event_ids, APPEND the odds (a day-splitting
  // slice — bucket-count sums are partition-shape-independent), roll
  // the merged cells up to quantile brackets — and the result must
  // hash-match the SAME oracle as the in-query metrics_hist_rollup:
  // brackets-after-append ≡ one-global-pass bit-for-bit.
  private def histStore(s: SparkSession, d: String): String =
    graft.Caches.store(s, d, "graft_hist_store_%s")(
        b => Seq(s"${b}_hist")) { (base, dir) =>
      val ev = Tables.events(s, d)
      graft.sources.MetricsStore.writeHist(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        col("event_type"), col("ts"), col("value"), base, dir)
      graft.sources.MetricsStore.appendHist(s, base,
        ev.filter(pmod(col("event_id"), lit(2)) =!= 0),
        col("event_type"), col("ts"), col("value"))
    }

  private val histStoreRollup = GraftQuery(
    "hist_store_rollup",
    (s, d) => TimeSeries.logHistRollup(
        graft.sources.MetricsStore.histCells(s, histStore(s, d)))
      .withColumnRenamed("key", "event_type")
      .orderBy(col("event_type")),
    Some(histRollupOracle))

  // A28 — seasonal (hour-of-day) baseline + deviation audit: each
  // dimension's expected level per clock hour across the retention
  // window, and how many observed hourly bins sit more than 50% off
  // their hour's baseline — the view that separates "traffic is high
  // because it is 14:00" from a real anomaly, feeding A17's z-score
  // with a seasonality-aware prior. Shares A11's hourly bins frame by
  // reference; baselines are decimal-summed means (partition-order-
  // proof), the deviation predicate is pure IEEE arithmetic computed
  // identically in both engines, and the flag count is one agg +
  // join-back — partitions bounded by (dimension × 24), never by raw
  // event share.
  private val tsSeasonal = GraftQuery(
    "ts_seasonal",
    (s, d) => {
      val binsH = hourlySpine(s, d)._1
        .withColumn("hod", hour(col("bin")).cast(LongType))
      val base = binsH.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n_bins"),
          (sum(col("avg_val").cast(DecimalType(28, 12)))
            .cast(DoubleType) / count(lit(1))).as("baseline"))
      binsH.join(base, Seq("event_type", "hod"))
        .groupBy(col("event_type"), col("hod"), col("n_bins"),
          col("baseline"))
        .agg(sum((abs(col("avg_val") - col("baseline")) >
          col("baseline") * lit(0.5)).cast(LongType)).as("n_dev"))
        .select(col("event_type"), col("hod"), col("n_bins"),
          round(col("baseline"), 6).as("baseline_avg"), col("n_dev"))
        .orderBy(col("event_type"), col("hod"))
    },
    Some("""
      WITH bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            AS avg_val
        FROM events GROUP BY 1, 2),
      h AS (SELECT event_type,
          (epoch_us(bin) // 3600000000) % 24 AS hod, avg_val
        FROM bins),
      b AS (SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n_bins,
          CAST(SUM(CAST(avg_val AS DECIMAL(28,12))) AS DOUBLE)
            / COUNT(*) AS baseline
        FROM h GROUP BY 1, 2),
      j AS (SELECT h.event_type, h.hod, b.n_bins, b.baseline,
          CASE WHEN abs(h.avg_val - b.baseline) > b.baseline * 0.5
               THEN 1 ELSE 0 END AS dev
        FROM h JOIN b ON h.event_type = b.event_type AND h.hod = b.hod)
      SELECT event_type, CAST(hod AS BIGINT) AS hod, n_bins,
        round(baseline, 6) AS baseline_avg,
        CAST(SUM(dev) AS BIGINT) AS n_dev
      FROM j GROUP BY 1, 2, 3, baseline ORDER BY 1, 2
      """))

  // A29 — CUSUM change-point detection over each dimension's hourly
  // series: the classic small-persistent-shift detector beside A17's
  // z-score (one big spike), A25's burst (rate), A26's MAD (robust
  // spread) and A28's seasonal prior — a mean shift of well under one
  // σ that persists accumulates in the one-sided sums long before any
  // per-point detector fires. sp_t = max(0, sp_{t-1} + (x_t − μ − k)),
  // sn_t mirrored; μ is the dimension's decimal-summed mean, allowance
  // k = 0.05·|μ|, alarm at h = 0.2·|μ| — all fixed IEEE arithmetic in
  // a FIXED fold order (the A23/A24 recurrence discipline), so the
  // whole trajectory hash-matches a recursive-CTE replay. Per-key
  // state is the retention window's bin count, never raw events.
  private val tsCusum = GraftQuery(
    "ts_cusum",
    (s, d) => {
      val bins = hourlySpine(s, d)._1
      val mu = bins.groupBy(col("event_type"))
        .agg((sum(col("avg_val").cast(DecimalType(28, 12)))
          .cast(DoubleType) / count(lit(1))).as("mu"))
      val p0 = col("pts")(0)
      def spOf(x: Column, prev: Column): Column =
        greatest(lit(0.0), prev + (x - col("mu") - col("k")))
      def snOf(x: Column, prev: Column): Column =
        greatest(lit(0.0), prev + (col("mu") - col("k") - x))
      bins.join(mu, Seq("event_type"))
        .groupBy(col("event_type"), col("mu"))
        .agg(sort_array(collect_list(
          struct(col("bin"), col("avg_val")))).as("pts"))
        .withColumn("k", abs(col("mu")) * lit(0.05))
        .withColumn("h", abs(col("mu")) * lit(0.2))
        .select(col("event_type"), col("h"), aggregate(
          slice(col("pts"), lit(2),
            greatest(size(col("pts")) - 1, lit(0))),
          struct(
            array(struct(p0("bin").as("bin"),
              p0("avg_val").as("avg_val"),
              spOf(p0("avg_val"), lit(0.0)).as("sp"),
              snOf(p0("avg_val"), lit(0.0)).as("sn"))).as("out"),
            spOf(p0("avg_val"), lit(0.0)).as("sp"),
            snOf(p0("avg_val"), lit(0.0)).as("sn")),
          (acc, p) => {
            val sp = spOf(p("avg_val"), acc("sp"))
            val sn = snOf(p("avg_val"), acc("sn"))
            struct(
              concat(acc("out"), array(struct(p("bin").as("bin"),
                p("avg_val").as("avg_val"), sp.as("sp"),
                sn.as("sn")))).as("out"),
              sp.as("sp"), sn.as("sn"))
          },
          acc => acc("out")).as("cs"))
        .select(col("event_type"), col("h"), explode(col("cs")).as("p"))
        .select(col("event_type"), col("p.bin").as("bin"),
          col("p.avg_val").as("avg_val"), col("p.sp").as("cusum_up"),
          col("p.sn").as("cusum_dn"),
          (col("p.sp") > col("h") || col("p.sn") > col("h")).as("alarm"))
        .orderBy(col("event_type"), col("bin"))
    },
    Some("""
      WITH RECURSIVE bins AS (
        SELECT event_type,
          make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            AS avg_val
        FROM events GROUP BY 1, 2),
      m AS (SELECT event_type,
          CAST(SUM(CAST(avg_val AS DECIMAL(28,12))) AS DOUBLE)
            / COUNT(*) AS mu
        FROM bins GROUP BY 1),
      b AS (SELECT bins.event_type, bin, avg_val, m.mu,
          abs(m.mu) * 0.05 AS k, abs(m.mu) * 0.2 AS h,
          ROW_NUMBER() OVER (PARTITION BY bins.event_type
            ORDER BY bin) AS rn
        FROM bins JOIN m ON bins.event_type = m.event_type),
      rec(event_type, rn, bin, avg_val, mu, k, h, sp, sn) AS (
        SELECT event_type, rn, bin, avg_val, mu, k, h,
          GREATEST(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
            + (avg_val - mu - k)),
          GREATEST(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
            + (mu - k - avg_val))
        FROM b WHERE rn = 1
        UNION ALL
        SELECT bb.event_type, bb.rn, bb.bin, bb.avg_val, bb.mu, bb.k,
          bb.h,
          GREATEST(CAST(0 AS DOUBLE),
            r.sp + (bb.avg_val - bb.mu - bb.k)),
          GREATEST(CAST(0 AS DOUBLE),
            r.sn + (bb.mu - bb.k - bb.avg_val))
        FROM rec r JOIN b bb ON bb.event_type = r.event_type
          AND bb.rn = r.rn + 1)
      SELECT event_type, bin, avg_val, sp AS cusum_up, sn AS cusum_dn,
        (sp > h OR sn > h) AS alarm
      FROM rec ORDER BY event_type, bin
      """))

  override val queries: Seq[GraftQuery] = Seq(
    tsBin, tsAgo, tsSeries, sessionize, metricsDaily, percentiles,
    topUsers, approxMetrics, kmvMetrics, kmvRollup, kmvStoreEstimate,
    cmsMetrics, cmsRollup, cmsEstimate, cmsHeavyHitters,
    cmsStoreEstimate, tsEma, tsHolt,
    tsInterpolate,
    tsLocfFill, tsAsof, tsAnomaly, tsDerivative, tsIntegral,
    qAsofJoin, qAsofJoinFwd, qLatest, latestStoreSnapshot, qSkewAgg,
    qTransitions, tsBurst, tsMad,
    sketchRollup, histRollup, histStoreRollup, tsSeasonal, tsCusum)
}
