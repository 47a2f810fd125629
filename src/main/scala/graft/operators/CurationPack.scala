package graft.operators

import graft.{GraftQuery, QueryPack}
import graft.Caches.CachesSyntax
import graft.functions.Portable
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data curation operators over `documents` — the selection
  * stage of an LLM-data pipeline (what survives into the training set,
  * and how it is laid out). Companions to the C/E blocks: dedup finds
  * what to drop, text analysis scores quality; these decide and pack.
  *
  * Scale shapes:
  *  - Sampling is a pure per-row hash comparison — no shuffle, no
  *    driver-side randomness, reproducible run-to-run and engine-to-
  *    engine (the property `df.sample` does NOT have: its Bernoulli
  *    draw depends on partitioning and seed plumbing).
  *  - Shard packing is a two-level cumsum: bounded (lang, bucket) local
  *    windows plus an exclusive prefix sum over per-bucket totals
  *    (metadata-scale), so no single ordering spans a whole language.
  *  - The filter is a stateless per-row predicate over per-row features
  *    plus one fingerprint window for exact-dup detection.
  */
object CurationPack extends QueryPack {

  import Portable._

  // ---- H1: deterministic hash-based stratified sampling ----
  // Per-language keep rates in ppm. The keep decision is
  // hash(salt|doc_id) % 1e6 < rate — i.i.d. Bernoulli per doc under the
  // md5 hash, exact in both engines, and stable under repartitioning.
  private val ratesPpm: Seq[(String, Long)] = Seq(
    "en" -> 500000L, "de" -> 300000L, "es" -> 300000L,
    "fr" -> 300000L, "zh" -> 200000L)
  private val defaultPpm = 100000L
  private val salt = "sample|"

  /** Per-language keep rate (ppm) — shared by H1 and H4. */
  private def rateCol =
    ratesPpm.foldLeft(lit(defaultPpm)) { case (acc, (k, v)) =>
      when(col("lang") === k, lit(v)).otherwise(acc)
    }

  /** Deterministic Bernoulli draw in [0, 1e6) — shared by H1 and H4. */
  private def drawCol =
    pmod(hashP(concat(lit(salt), col("doc_id").cast(StringType))),
      lit(1000000L))

  private val sampleStratified = GraftQuery(
    "sample_stratified",
    (s, d) => {
      Tables.documents(s, d)
        .withColumn("keep_rate_ppm", rateCol)
        .withColumn("draw", drawCol)
        .filter(col("draw") < col("keep_rate_ppm"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("keep_rate_ppm"), col("draw"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH r AS (
        SELECT doc_id, lang, source,
          CASE lang WHEN 'zh' THEN 200000 WHEN 'fr' THEN 300000
                    WHEN 'es' THEN 300000 WHEN 'de' THEN 300000
                    WHEN 'en' THEN 500000 ELSE $defaultPpm END
            AS keep_rate_ppm,
          ${Portable.sql.hashP(s"'$salt' || CAST(doc_id AS VARCHAR)")}
            % 1000000 AS draw
        FROM documents)
      SELECT doc_id, lang, source,
        CAST(keep_rate_ppm AS BIGINT) AS keep_rate_ppm, draw
      FROM r WHERE draw < keep_rate_ppm
      ORDER BY doc_id
      """))

  // ---- H2: token-budget shard packing ----
  // Lay kept documents into fixed-token-budget training shards: within
  // each language stratum, documents in doc_id order, a document's shard
  // is the budget-quotient of its start offset in the running token
  // stream. Integer `div` keeps the arithmetic exact in both engines.
  //
  // Two-level cumsum so no window partition ever spans a whole
  // language: (1) a local running sum inside each (lang, doc_id-range
  // bucket) — task size bounded by `packBucketSpan`, the scale knob;
  // (2) an exclusive prefix sum over the per-bucket TOTALS (one row per
  // bucket — metadata-scale) gives each bucket's starting offset, which
  // is broadcast back. Integer addition is associative, so
  // local + offset equals the single-window cumsum exactly.
  private val shardBudget = 20000L
  private val packBucketSpan = 256L

  /** Two-level token-budget packing over (doc_id, lang, n_tokens) —
    * shared by H2 and H4. The bucketed input feeds both the offsets
    * aggregation and the row-level window (Spark has no cross-branch
    * CSE), so it is persisted — small row-level columns, no arrays.
    */
  private[graft] def packShards(docs: org.apache.spark.sql.DataFrame) = {
    val t = docs.withColumn("bkt", expr(s"doc_id div ${packBucketSpan}L"))
      .persistTracked
    val wLocal = Window.partitionBy(col("lang"), col("bkt"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(col("lang")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("lang"), col("bkt"))
      .agg(sum(col("n_tokens")).as("bkt_tokens"))
      .withColumn("off", coalesce(sum(col("bkt_tokens")).over(wOff), lit(0L)))
      .select(col("lang"), col("bkt"), col("off"))
    t.withColumn("loc_cum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("cum_tokens", col("loc_cum") + col("off"))
      .withColumn("shard_id",
        expr(s"(cum_tokens - n_tokens) div ${shardBudget}L"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("cum_tokens"), col("shard_id"))
  }

  /** H2's oracle — shared verbatim by `shards_roundtrip` (H8): the
    * persisted shard layout must read back as EXACTLY the packing it
    * was written from.
    */
  private val shardPackOracle: String = s"""
      WITH t AS (
        SELECT doc_id, lang, len(${Portable.sql.words}) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, lang, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_tokens
        FROM t)
      SELECT doc_id, lang, n_tokens, cum_tokens,
        (cum_tokens - n_tokens) // $shardBudget AS shard_id
      FROM c ORDER BY doc_id
      """

  /** The H2 packing input over a dataset dir — shared by H2 and H8. */
  private def packedDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    packShards(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(words(col("text"))).as("n_tokens")))

  private val shardPack = GraftQuery(
    "shard_pack",
    (s, d) => packedDocs(s, d).orderBy(col("doc_id")),
    Some(shardPackOracle))

  // H8 through the driver gate — the cf_parse_config pattern: land the
  // packing as physical training shards (TrainingShards.write: one
  // doc_id-ordered file per (lang, shard_id) + manifest), read the data
  // tree back, and hash-match H2's oracle — the persisted layout is
  // provably lossless. shard_id comes back as a parquet partition
  // column (int-inferred), cast back to the written long. The shard
  // store is memoized per input dir ([[graft.Caches.tempDir]]): the
  // testdata is immutable and the layout deterministic.
  private val shardsRoundtrip = GraftQuery(
    "shards_roundtrip",
    (s, d) => {
      val path = graft.Caches.tempDir("graft_shards", d) {
        graft.sources.TrainingShards.write(packedDocs(s, d), _)
      }
      s.read.parquet(s"$path/data")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens"),
          col("shard_id").cast(LongType).as("shard_id"))
        .orderBy(col("doc_id"))
    },
    Some(shardPackOracle))

  // ---- H3: the composed curation decision ----
  // One pass deciding keep/drop per document: token-length band, exact-
  // duplicate check (canonical = min doc_id per fingerprint), language
  // allowlist. Per-row features + one fingerprint window — the shape of
  // the final filter stage before packing.
  private[graft] val minTokens = 20L
  private[graft] val maxTokens = 2000L
  private[graft] val allowedLangs = Seq("en", "de", "es", "fr", "zh")

  /** Per-doc curation features (token count, exact-dup flag) — shared
    * by H3 and H4.
    */
  private def docFeatures(s: org.apache.spark.sql.SparkSession, d: String) =
    DedupPack.withDupFlag(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(words(col("text"))).cast(LongType).as("n_tokens"),
          md5(normText(col("text"))).as("fingerprint")))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("fingerprint"), col("is_dup"))

  /** The H3 keep predicate — shared by H3, H4 and H12. */
  private def keepCol =
    col("lang").isin(allowedLangs: _*) &&
      col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
      !col("is_dup")

  /** H3's oracle — composed verbatim into `curation_report`'s oracle. */
  private val curationFilterOracle: String = s"""
      WITH f AS (
        SELECT doc_id, lang,
          CAST(len(${Portable.sql.words}) AS BIGINT) AS n_tokens,
          md5(list_aggregate(${Portable.sql.words}, 'string_agg', ' '))
            AS fingerprint
        FROM documents),
      d2 AS (
        SELECT *, doc_id <> MIN(doc_id) OVER (PARTITION BY fingerprint)
          AS is_dup
        FROM f)
      SELECT doc_id, lang, n_tokens, is_dup,
        (lang IN ('en','de','es','fr','zh')
          AND n_tokens >= $minTokens AND n_tokens <= $maxTokens
          AND NOT is_dup) AS keep
      FROM d2 ORDER BY doc_id
      """

  private val curationFilter = GraftQuery(
    "curation_filter",
    (s, d) => {
      docFeatures(s, d)
        .withColumn("keep", keepCol)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("is_dup"), col("keep"))
        .orderBy(col("doc_id"))
    },
    Some(curationFilterOracle))

  // ---- H4: the composed pipeline — the library's user story in one
  // plan: quality/dup FILTER (H3 semantics) → stratified hash SAMPLE
  // (H1 semantics) → two-level token-budget SHARD PACK (H2 semantics)
  // over the survivors. One fingerprint window + one pass of per-row
  // predicates + the bounded packing windows; the oracle recomputes the
  // whole chain independently with a SINGLE-window cumsum, so it also
  // re-proves the two-level packing's equivalence on the composed
  // survivor set.
  private val curationPipeline = GraftQuery(
    "curation_pipeline",
    (s, d) => packShards(
        docFeatures(s, d)
          .filter(keepCol && drawCol < rateCol)
          .select(col("doc_id"), col("lang"), col("n_tokens")))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH f AS (
        SELECT doc_id, lang,
          CAST(len(${Portable.sql.words}) AS BIGINT) AS n_tokens,
          md5(list_aggregate(${Portable.sql.words}, 'string_agg', ' '))
            AS fingerprint
        FROM documents),
      d2 AS (
        SELECT *, doc_id <> MIN(doc_id) OVER (PARTITION BY fingerprint)
          AS is_dup
        FROM f),
      kept AS (
        SELECT doc_id, lang, n_tokens FROM d2
        WHERE lang IN ('en','de','es','fr','zh')
          AND n_tokens >= $minTokens AND n_tokens <= $maxTokens
          AND NOT is_dup
          AND ${Portable.sql.hashP(s"'$salt' || CAST(doc_id AS VARCHAR)")}
            % 1000000 <
            CASE lang WHEN 'zh' THEN 200000 WHEN 'fr' THEN 300000
                      WHEN 'es' THEN 300000 WHEN 'de' THEN 300000
                      WHEN 'en' THEN 500000 ELSE $defaultPpm END),
      c AS (
        SELECT doc_id, lang, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
        FROM kept)
      SELECT doc_id, lang, n_tokens, cum_tokens,
        (cum_tokens - n_tokens) // $shardBudget AS shard_id
      FROM c ORDER BY doc_id
      """))

  // ---- H5: deterministic train/val/test split assignment ----
  // Every training pipeline needs a leakage-proof split: the assignment
  // must be a pure function of the document identity (NOT of ordering,
  // partitioning, or a driver-side RNG), so re-runs, backfills, and
  // incremental arrivals land each doc in the same split forever.
  // bucket = hash(salt|doc_id) % 100; 80/10/10. Pure per-row
  // projection — no shuffle, codegen'd, trivially 100 TB-safe.
  private val splitSalt = "split|"
  private val splitAssign = GraftQuery(
    "split_assign",
    (s, d) => {
      val bucket = pmod(
        hashP(concat(lit(splitSalt), col("doc_id").cast(StringType))),
        lit(100L))
      Tables.documents(s, d)
        .withColumn("bucket", bucket)
        .withColumn("split",
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("lang"), col("source"),
          col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH b AS (
        SELECT doc_id, lang, source,
          ${Portable.sql.hashP(s"'$splitSalt' || CAST(doc_id AS VARCHAR)")}
            % 100 AS bucket
        FROM documents)
      SELECT doc_id, lang, source, bucket,
        CASE WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM b ORDER BY doc_id
      """))

  // ---- H6: quota-exact source mixing ----
  // Data mixing hits per-source target counts EXACTLY (Pile/Dolma-style
  // mixture weights), not in expectation like H1's Bernoulli draw: rank
  // each source's documents by a deterministic hash and keep the first
  // quota(source). quota = count(source) · frac_ppm(source) / 1e6, all
  // integer arithmetic.
  //
  // Scale shape: the rank is NEVER a single per-source window (a source
  // is corpus-scale — that window is the hot-key sort this repo
  // eliminated everywhere else). Same two-level decomposition as H2:
  // local row_numbers inside (source, hash-range bucket) — task size
  // ≈ |source|/$mixBuckets, the knob — plus an exclusive prefix sum
  // over per-bucket COUNTS (one row per bucket, metadata-scale,
  // broadcast back). Global rank = bucket offset + local rank, exact
  // because the hash ranges partition the order.
  private val mixSalt = "mix|"
  private val mixBuckets = 64L
  private val mixBucketSpan = (P + mixBuckets - 1) / mixBuckets
  private val mixSources = GraftQuery(
    "mix_sources",
    (s, d) => {
      // target fraction (ppm) per source, derived from the source's
      // numeric suffix so both engines compute it identically:
      // 200k/400k/600k/800k for src{0,4,8,..}/{1,5,..}/{2,6,..}/{3,7,..}
      val fracPpm = lit(200000L) *
        (lit(1L) + pmod(expr("CAST(substring(source, 4, 18) AS LONG)"),
          lit(4L)))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          hashP(concat(lit(mixSalt), col("doc_id").cast(StringType)))
            .as("h"))
        .withColumn("bkt", expr(s"h div ${mixBucketSpan}L"))
        .persistTracked
      val quotas = base.groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("frac_ppm", fracPpm)
        .withColumn("quota", expr("(cnt * frac_ppm) div 1000000"))
      val wLocal = Window.partitionBy(col("source"), col("bkt"))
        .orderBy(col("h"), col("doc_id"))
      val wOff = Window.partitionBy(col("source")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("source"), col("bkt"))
        .agg(count(lit(1)).as("bkt_cnt"))
        .withColumn("off",
          coalesce(sum(col("bkt_cnt")).over(wOff), lit(0L)))
        .select(col("source"), col("bkt"), col("off"))
      base
        .withColumn("loc_rnk", row_number().over(wLocal).cast(LongType))
        .join(broadcast(offsets), Seq("source", "bkt"))
        .withColumn("rnk", col("off") + col("loc_rnk"))
        .join(broadcast(quotas.select(col("source"), col("quota"))),
          Seq("source"))
        .filter(col("rnk") <= col("quota"))
        .select(col("doc_id"), col("source"), col("rnk"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH q AS (
        SELECT source,
          (COUNT(*) *
            (200000 * (1 + CAST(substr(source, 4) AS BIGINT) % 4)))
            // 1000000 AS quota
        FROM documents GROUP BY source),
      h AS (
        SELECT doc_id, source,
          ${Portable.sql.hashP(s"'$mixSalt' || CAST(doc_id AS VARCHAR)")}
            AS h
        FROM documents),
      r AS (
        SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
            AS rnk
        FROM h)
      SELECT r.doc_id, r.source, CAST(r.rnk AS BIGINT) AS rnk
      FROM r JOIN q ON r.source = q.source
      WHERE r.rnk <= q.quota
      ORDER BY r.doc_id
      """))

  // ---- H6c: token-budget source mixing (r12) ----
  // H6 hits per-source DOC quotas, but a training run budgets TOKENS —
  // and E14's fertility report measures exactly why the two differ per
  // slice (a poorly-compressed language eats more sequence budget per
  // document). This row mixes to per-source TOKEN quotas:
  // quota_tokens(source) = total_tokens(source) · frac_ppm / 1e6 (the
  // H6 fraction schedule, DECIMAL-widened — total_tokens · 8e5
  // overflows int64 just under the 100 TB design point), rank each
  // source's docs by the SAME deterministic mix hash, keep docs while
  // the source's running token mass has not yet reached quota (keep
  // iff cum_tokens − n_tokens < quota — the boundary-crossing doc is
  // kept, so realized mass overshoots by less than one document and a
  // quota is always reachable even when one doc exceeds it; the spec
  // reconciles realized mass against the quota from both sides).
  //
  // Scale shape: H6's two-level rank decomposition with TOKEN sums —
  // local running sums inside (source, hash-range bucket), an
  // exclusive prefix over per-bucket token counts (one row per bucket,
  // metadata-scale, broadcast back) — never a single per-source window.
  private val mixSourcesTokens = GraftQuery(
    "mix_sources_tokens",
    (s, d) => {
      val fracPpm = lit(200000L) *
        (lit(1L) + pmod(expr("CAST(substring(source, 4, 18) AS LONG)"),
          lit(4L)))
      // head NOT parallelized (r17 — the r16 verdict's task 2: a kept
      // loser; r16's clean windows measured +38 % steady with the
      // 32-way head exchange vs the r15 shape — the tokenize is
      // persisted once, so the exchange buys nothing back)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(words(col("text"))).cast(LongType).as("n_tokens"),
          hashP(concat(lit(mixSalt), col("doc_id").cast(StringType)))
            .as("h"))
        .withColumn("bkt", expr(s"h div ${mixBucketSpan}L"))
        .persistTracked
      val quotas = base.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("tok"))
        .withColumn("frac_ppm", fracPpm)
        .withColumn("quota_tokens", expr(
          "(CAST(tok AS DECIMAL(38,0)) * frac_ppm) div 1000000")
          .cast(LongType))
      val wLocal = Window.partitionBy(col("source"), col("bkt"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOff = Window.partitionBy(col("source")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("source"), col("bkt"))
        .agg(sum(col("n_tokens")).as("bkt_tokens"))
        .withColumn("off",
          coalesce(sum(col("bkt_tokens")).over(wOff), lit(0L)))
        .select(col("source"), col("bkt"), col("off"))
      base
        .withColumn("loc_cum", sum(col("n_tokens")).over(wLocal))
        .join(broadcast(offsets), Seq("source", "bkt"))
        .withColumn("cum_tokens", col("loc_cum") + col("off"))
        .join(broadcast(quotas.select(col("source"), col("quota_tokens"))),
          Seq("source"))
        .filter(col("cum_tokens") - col("n_tokens") < col("quota_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"), col("quota_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, source,
          CAST(len(${Portable.sql.words}) AS BIGINT) AS n_tokens,
          ${Portable.sql.hashP(s"'$mixSalt' || CAST(doc_id AS VARCHAR)")}
            AS h
        FROM documents),
      q AS (
        SELECT source,
          CAST((CAST(SUM(n_tokens) AS HUGEINT) *
            (200000 * (1 + CAST(substr(source, 4) AS BIGINT) % 4)))
            // 1000000 AS BIGINT) AS quota_tokens
        FROM t GROUP BY source),
      c AS (
        SELECT doc_id, source, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_tokens
        FROM t)
      SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens,
        q.quota_tokens
      FROM c JOIN q ON c.source = q.source
      WHERE c.cum_tokens - c.n_tokens < q.quota_tokens
      ORDER BY c.doc_id
      """))

  // ---- H6b: temperature-proportional source mixing ----
  // The OTHER standard mixing shape beside H6's quota-exact fractions:
  // sample each source proportionally to count^α (α = ½ here — the
  // Pile/LLaMA temperature-sampling recipe that upsamples small
  // sources relative to their raw share). Same deterministic
  // hash-threshold machinery as H1: keep iff draw < rate_ppm(source),
  // with the per-source threshold derived from α entirely in integer
  // arithmetic:
  //   rate_ppm(s) = isqrt((1e12 · cnt_min) div cnt(s))
  // so kept(s) ≈ cnt(s)·rate/1e6 ∝ √(cnt·cnt_min) ∝ cnt^½, and the
  // smallest source keeps everything (rate = isqrt(1e12) = 1e6). The
  // 1e12 numerator is DECIMAL(38,0)-widened (the source_report
  // discipline), and isqrt is FLOOR(SQRT(double)) followed by an
  // explicit ±1 correction — sqrt is IEEE correctly-rounded on both
  // engines and x ≤ 1e12 < 2^53 converts exactly, so the corrected
  // value is the true integer square root bit-for-bit.
  //
  // Scale shape: one map-side-combinable count agg, a source-count
  // frame of metadata size carrying the thresholds (broadcast back),
  // and a stateless per-row hash comparison — no window, no per-source
  // ordering, nothing hot-key-shaped anywhere.
  private val mixTempSalt = "mixt|"

  /** H6b engine over an arbitrary (doc_id, source) frame (spec entry
    * point — the testdata's sources are uniform, so the spec plants a
    * skewed corpus to observe the relative upsampling).
    */
  def mixSourcesTempOver(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val base = docs
        .select(col("doc_id"), col("source"),
          pmod(hashP(concat(lit(mixTempSalt),
            col("doc_id").cast(StringType))), lit(1000000L)).as("draw"))
      val cnts = base.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      val minC = cnts.agg(min(col("cnt")).as("cmin"))
      val rates = cnts.crossJoin(broadcast(minC))
        .withColumn("x", expr(
          "(CAST(1000000000000 AS DECIMAL(38,0)) * cmin) div cnt"))
        .withColumn("r0",
          expr("CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT)"))
        .withColumn("keep_rate_ppm", expr(
          "CASE WHEN r0 * r0 > x THEN r0 - 1" +
            " WHEN (r0 + 1) * (r0 + 1) <= x THEN r0 + 1 ELSE r0 END"))
        .select(col("source"), col("keep_rate_ppm"))
      base.join(broadcast(rates), Seq("source"))
        .filter(col("draw") < col("keep_rate_ppm"))
        .select(col("doc_id"), col("source"), col("keep_rate_ppm"),
          col("draw"))
        .orderBy(col("doc_id"))
  }

  private val mixSourcesTemp = GraftQuery(
    "mix_sources_temp",
    (s, d) => mixSourcesTempOver(Tables.documents(s, d)),
    Some(s"""
      WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1),
      m AS (SELECT MIN(cnt) AS cmin FROM c),
      r AS (SELECT source,
          CAST((CAST(1000000000000 AS HUGEINT) * (SELECT cmin FROM m))
            // cnt AS BIGINT) AS x
        FROM c),
      r2 AS (SELECT source, x,
          CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT) AS r0 FROM r),
      rates AS (SELECT source,
          CASE WHEN r0 * r0 > x THEN r0 - 1
               WHEN (r0 + 1) * (r0 + 1) <= x THEN r0 + 1
               ELSE r0 END AS keep_rate_ppm
        FROM r2),
      h AS (SELECT doc_id, source,
          ${Portable.sql.hashP(s"'$mixTempSalt' || CAST(doc_id AS VARCHAR)")}
            % 1000000 AS draw
        FROM documents)
      SELECT h.doc_id, h.source, rates.keep_rate_ppm, h.draw
      FROM h JOIN rates ON h.source = rates.source
      WHERE h.draw < rates.keep_rate_ppm
      ORDER BY h.doc_id
      """))

  // ---- H7: corpus composition report ----
  // The monitoring view a curation pipeline steers by (and the input
  // that picks H6's mixture quotas): per (source, lang) document /
  // token / char volumes, exact-duplicate counts, and each cell's
  // token share of the whole corpus. One groupBy aggregation over
  // per-row features (map-side combining); the corpus-total divisor is
  // a one-row broadcast, and shares are exact integer ppm (`div`), so
  // the report hash-matches cross-engine.
  private val sourceReport = GraftQuery(
    "source_report",
    (s, d) => {
      val base = DedupPack.withDupFlag(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          size(words(col("text"))).cast(LongType).as("n_tokens"),
          md5(normText(col("text"))).as("fingerprint")))
      val grouped = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          sum(when(col("is_dup"), lit(1L)).otherwise(lit(0L)))
            .as("dup_docs"))
      val total = grouped.agg(sum(col("n_tokens")).as("total_tokens"))
      // ppm numerators in DECIMAL: 1e6 · n_tokens overflows int64 once a
      // cell passes ~9.2e12 tokens — under the 100 TB design point
      // (~1e13+ tokens). Spark's decimal `div` truncates toward zero and
      // the oracle's HUGEINT `//` floors — identical on these
      // non-negative values, still exact integer ppm.
      grouped.crossJoin(broadcast(total))
        .select(col("source"), col("lang"), col("n_docs"),
          col("n_tokens"), col("n_chars"), col("dup_docs"),
          expr("(CAST(1000000 AS DECIMAL(38,0)) * n_tokens)" +
            " div total_tokens").as("token_share_ppm"),
          expr("(CAST(1000000 AS DECIMAL(38,0)) * n_tokens) div n_docs")
            .as("mean_tokens_ppm"))
        .orderBy(col("source"), col("lang"))
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id, source, lang, n_chars,
          CAST(len(${Portable.sql.words}) AS BIGINT) AS n_tokens,
          md5(array_to_string(${Portable.sql.words}, ' ')) AS fingerprint
        FROM documents),
      dd AS (
        SELECT *, doc_id <> MIN(doc_id) OVER (PARTITION BY fingerprint)
          AS is_dup
        FROM f),
      g AS (
        SELECT source, lang, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
          CAST(SUM(n_chars) AS BIGINT) AS n_chars,
          CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
            AS dup_docs
        FROM dd GROUP BY 1, 2)
      SELECT source, lang, n_docs, n_tokens, n_chars, dup_docs,
        CAST((CAST(1000000 AS HUGEINT) * n_tokens)
          // CAST((SELECT SUM(n_tokens) FROM g) AS BIGINT)
          AS BIGINT) AS token_share_ppm,
        CAST((CAST(1000000 AS HUGEINT) * n_tokens) // n_docs AS BIGINT)
          AS mean_tokens_ppm
      FROM g ORDER BY source, lang
      """))

  // ---- H9: fixed-length sequence packing ----
  // The trainer-side layout step H2 stops short of: a causal-LM
  // training run consumes fixed-length token SEQUENCES (L = 2048),
  // with documents concatenated in a canonical order and SPLIT across
  // sequence boundaries — the "sequence packing" pass every large
  // pretraining pipeline runs after curation (H2's shards bin whole
  // docs by byte budget; this cuts the token stream itself). Output is
  // one row per (doc, crossed-boundary segment): which sequence the
  // segment lands in, where in the sequence, and which slice of the
  // doc it is — exactly the index a data loader needs to materialize
  // sequence tensors without re-tokenizing.
  //
  // Scale shape: the H2 two-level cumsum discipline, globally — local
  // token cumsums inside doc_id-range buckets (bounded windows), an
  // exclusive prefix over per-bucket totals (metadata-scale: one
  // ~corpus/span-row window), broadcast join-back; the boundary
  // explode emits ceil(n/L)+1 ≤ 2 rows for virtually every doc. Since
  // `bkt = doc_id div span`, (bkt, doc_id) order IS doc_id order, so
  // the oracle mirrors it with one plain window. All-integer
  // arithmetic — full hash oracle.
  private val seqLen = 2048L

  /** The H9 packing over a (doc_id, text) frame, starting at stream
    * position `baseOff` (a ONE-ROW frame with column `off`) — shared
    * by the in-query `pack_sequences` (off = 0) and
    * [[graft.sources.SeqStore]]'s append leg (off = the stored stream
    * cursor), so the two paths cannot drift. Output: one row per
    * (doc, crossed-boundary segment).
    */
  /** E3's BPE-ish tokenizer pattern — the packing's token counter. */
  private val packPat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Docs that occupy token positions (≥ 1 token). [[graft.sources
    * .SeqStore]] filters its batches through this BEFORE the
    * novelty/monotonicity logic: a zero-token doc never lands in the
    * segment index, so left in the batch it would read as eternally
    * novel and fail the monotone check on every later replay (review
    * finding — the replay-convergence contract broke on a
    * whitespace-only doc).
    */
  private[graft] def packable(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.filter(size(regexp_extract_all(lower(col("text")),
      lit(packPat), lit(0))) > 0)

  private[graft] def packSegments(docs: org.apache.spark.sql.DataFrame,
      baseOff: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    packSegmentsWith(docs, baseOff, _.persistTracked)

  /** As [[packSegments]] with the token-frame cache policy injected:
    * the in-query path registry-tracks it (released with the session's
    * shared caches), while SeqStore's per-batch calls scope it to the
    * call — a foreachBatch loop would otherwise accumulate one
    * never-released cached frame per micro-batch (review finding).
    */
  private[graft] def packSegmentsWith(
      docs: org.apache.spark.sql.DataFrame,
      baseOff: org.apache.spark.sql.DataFrame,
      cache: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = cache(docs.select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit(packPat), lit(0)))
          .cast(LongType).as("n"))
      .filter(col("n") > 0)
      .withColumn("bkt", expr(s"doc_id div ${packBucketSpan}L")))
    val wLocal = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("bkt")).agg(sum(col("n")).as("bt"))
      .withColumn("off0",
        coalesce(sum(col("bt")).over(wOff), lit(0L)))
      .select(col("bkt"), col("off0"))
    val st = t.withColumn("loc", sum(col("n")).over(wLocal))
      .join(broadcast(offsets), Seq("bkt"))
      .crossJoin(broadcast(baseOff))
      .withColumn("st", col("loc") + col("off0") + col("off") - col("n"))
    st.select(col("doc_id"), col("n"), col("st"),
        explode(sequence(expr(s"st div ${seqLen}L"),
          expr(s"(st + n - 1) div ${seqLen}L"))).as("seq_id"))
      .withColumn("seg_idx", col("seq_id") - expr(s"st div ${seqLen}L"))
      .withColumn("seg_begin",
        greatest(col("st"), col("seq_id") * lit(seqLen)))
      .withColumn("seq_offset",
        col("seg_begin") - col("seq_id") * lit(seqLen))
      .withColumn("doc_offset", col("seg_begin") - col("st"))
      .withColumn("seg_len",
        least(col("st") + col("n"),
          (col("seq_id") + lit(1L)) * lit(seqLen)) - col("seg_begin"))
      .select(col("doc_id"), col("seg_idx"), col("seq_id"),
        col("seq_offset"), col("doc_offset"), col("seg_len"))
  }

  /** H9's oracle — shared VERBATIM by `pack_store_roundtrip` (H9b):
    * the persisted packing after any doc_id-monotone append sequence
    * must read back as EXACTLY the one-pass packing.
    */
  private[graft] val packSequencesOracle: String = s"""
      WITH t AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n
        FROM documents
        WHERE len(regexp_extract_all(lower(text),
          '[a-z]+|[0-9]+|[^a-z0-9\\s]')) > 0),
      c AS (
        SELECT doc_id, n,
          CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS st
        FROM t),
      g AS (
        SELECT doc_id, n, st,
          unnest(range(st // $seqLen, (st + n - 1) // $seqLen + 1))
            AS seq_id
        FROM c),
      x AS (
        SELECT doc_id, seq_id - (st // $seqLen) AS seg_idx, seq_id,
          GREATEST(st, seq_id * $seqLen) AS seg_begin,
          LEAST(st + n, (seq_id + 1) * $seqLen) AS seg_end, st
        FROM g)
      SELECT doc_id, seg_idx, seq_id,
        seg_begin - seq_id * $seqLen AS seq_offset,
        seg_begin - st AS doc_offset,
        seg_end - seg_begin AS seg_len
      FROM x ORDER BY doc_id, seg_idx
      """

  private val packSequences = GraftQuery(
    "pack_sequences",
    (s, d) => {
      import s.implicits._
      packSegments(
          Tables.parallelized(Tables.documents(s, d))
            .select(col("doc_id"), col("text")),
          Seq(0L).toDF("off"))
        .orderBy(col("doc_id"), col("seg_idx"))
    },
    Some(packSequencesOracle))

  // H9b — the persisted packing through the driver gate: build the
  // SeqStore on the doc_id-lower half, APPEND the upper half (the
  // ingest contract: doc ids rise monotonically across batches), read
  // the segment table back — and it must hash-match the SAME oracle
  // as the in-query pack_sequences: packing-after-append ≡ one pass.
  private def seqStore(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.Caches.store(s, d, "graft_seq_store_%s")(
        b => Seq(s"${b}_segs")) { (base, dir) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val thr = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      graft.sources.SeqStore.write(
        docs.filter(col("doc_id") <= thr), base, dir)
      graft.sources.SeqStore.append(s, base,
        docs.filter(col("doc_id") > thr))
    }

  private val packStoreRoundtrip = GraftQuery(
    "pack_store_roundtrip",
    (s, d) => graft.sources.SeqStore.segments(s, seqStore(s, d))
      .orderBy(col("doc_id"), col("seg_idx")),
    Some(packSequencesOracle))

  // ---- H10: model-based quality filter (fastText/CCNet shape) ----
  // The learned classifier the curation story was missing beside the
  // surface ratios (E2), LM cross-entropy (I1) and entropy/KL
  // (E11/E12): a linear scorer over HASHED BIGRAM features — the
  // fastText recipe (Joulin et al. '16, "Bag of Tricks"), the standard
  // CCNet/GPT-3-style quality gate — trained by a fixed number of
  // UNROLLED batch-gradient steps (the D5/E8 unroll discipline) and
  // deterministic to the bit on both engines:
  //  - features: distinct hash60(bigram) mod 64 buckets per doc, plus a
  //    bias feature (f = -1) every doc carries;
  //  - weights: int64 Q20 fixed point, w₀ = 0;
  //  - the sigmoid is the HARD sigmoid σ̂(z) = clamp(z/4 + 1/2, 0, 1) —
  //    in Q20 `(clamp(z, ±2S) + 2S) div 4`, a non-negative dividend so
  //    Spark's truncating `div` and DuckDB's flooring `//` agree;
  //  - update: w ← w − tdiv(Σ err·x, 2n) (η = ½ on the mean gradient),
  //    with tdiv spelled sign-symmetrically on both engines;
  //  - training labels are a self-supervised proxy the pipeline already
  //    trusts (the CCNet trick of training against a reference corpus,
  //    collapsed to one table): y = 1 iff distinct-token ratio ≥ ½ —
  //    the repetition signal — so the model learns which BIGRAMS
  //    co-occur with degenerate text and generalizes that to docs the
  //    heuristic scores near its threshold.
  // Scale shape: the (doc_id, y, feats[]) frame is corpus-linear with
  // ≤ 64 buckets/doc and is cached once; the MODEL is a one-row
  // 65-slot array broadcast to every pass, so each training step is a
  // map-only margin/error fold over the cached arrays plus exactly ONE
  // corpus-scale shuffle (the gradient agg, map-side combined to ≤ 65
  // rows per partition), and scoring is shuffle-free. Steps are fixed
  // (8), so the whole train+score is O(steps · corpus) with no
  // all-pairs anything — textbook distributed batch GD. `keep =
  // margin > 0` is the gate column an H3-style filter consumes.
  private val qfF = 64
  private val qfS = 1048576L // Q20 one
  private val qfSteps = 8
  private val qfSalt = "qf|"

  /** (doc_id, y, feats[]) — H10's feature/label extraction, the one
    * corpus-scale frame, cached once. feats carries the doc's DISTINCT
    * hashed-bigram buckets; the bias feature is implicit (every doc,
    * slot 0 of the weight array). Shared by the in-query trainer and
    * [[graft.sources.QualityStore]], so the feature spelling cannot
    * drift between the train and serve paths.
    */
  private[graft] def qfBase(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    qfBaseWith(docs, _.persistTracked)

  /** As [[qfBase]] with the cache policy injected — the
    * [[packSegmentsWith]] discipline: TRAINING pays 1 + `qfSteps`
    * actions over this frame and registry-tracks the persist; SERVING
    * ([[graft.sources.QualityStore.score]]) is one map-only pass per
    * sink action and must NOT persist at all — a foreachBatch loop
    * scoring every micro-batch through a `.persistTracked` here would
    * register one never-released cached batch frame per micro-batch in
    * the registry (releaseAll is harness-scoped, not loop-scoped) and
    * leak the stream's whole history into the block manager (review
    * finding, r10 ADVICE).
    */
  private[graft] def qfBaseWith(docs: org.apache.spark.sql.DataFrame,
      cache: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cache(docs.select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        size(col("w")).cast(LongType).as("nt"),
        size(array_distinct(col("w"))).cast(LongType).as("nd"))
      .select(col("doc_id"),
        when(col("nt") >= 1L && col("nd") * 2 >= col("nt"), lit(1L))
          .otherwise(lit(0L)).as("y"),
        when(col("nt") >= 2L, array_distinct(transform(
          sequence(lit(1), col("nt").cast(IntegerType) - 1),
          i => pmod(hash60(concat(lit(qfSalt), element_at(col("w"), i),
            lit(" "), element_at(col("w"), i + 1))), lit(qfF.toLong)))))
          .otherwise(array().cast("array<bigint>")).as("feats")))

  /** Margin z = bias + Σ_f wArr[f+1]: a map-only fold over the cached
    * feature arrays against the broadcast one-row model.
    */
  private def qfZCol: org.apache.spark.sql.Column =
    element_at(col("wArr"), 1) + aggregate(col("feats"), lit(0L),
      (acc, f) => acc +
        element_at(col("wArr"), (f + lit(2L)).cast(IntegerType)))

  /** 8 batch-GD steps over a feature frame → the one-row model
    * (wArr[0..F]: wArr[0] the bias, wArr[f+1] bucket f).
    *
    * The model STATE lives on the driver between steps — 65 longs, the
    * MLlib shape — and each step ships it back out as a broadcast
    * literal, so every step costs exactly ONE corpus-scale job: the
    * gradient aggregation, map-side combined to ≤ 65 rows per
    * partition before its exchange. The per-step ≤ 65-row collect is
    * model-scale (the SeqStore-cursor class of driver action), never
    * corpus rows. The first spelling of this loop chained each step's
    * plan through the previous step's DataFrame instead: the analyzed
    * tree then contains the prior step TWICE (margin pass + update
    * join), doubling per step — 2⁸ plan copies whose ANALYSIS cost
    * (56 s wall on 600 ms of task time at sf0.1) caching cannot touch,
    * the iterative-lineage trap D5 solves the same way.
    *
    * Cache-miss cost model (the D5/E8 audit-trail discipline):
    * training pays 1 + `qfSteps` actions over the cached feature frame
    * (the count plus one gradient agg per step). With the frame
    * resident each step scans cached arrays; under cache pressure an
    * evicted partition re-runs the tokenize+hash projection, so the
    * worst case is (1 + steps) × the feature scan — linear in steps,
    * inherent to batch GD (every step must see every example), and
    * bounded: MEMORY_AND_DISK spills to local disk before it ever
    * recomputes, so the recompute path needs disk loss, not just
    * memory pressure.
    */
  /** TRAINED weight vectors, memoized per (session, feature-frame plan)
    * ([[graft.Caches.planKey]], as [[DedupPack.clusterPairs]]):
    * [[qfTrain]] is EAGER — 1 + qfSteps driver-sequential
    * jobs whose per-step model state lives on the driver — so Spark's
    * CacheManager can never dedupe a repeated training run the way it
    * dedupes the declarative frames. Three registry rows
    * (`quality_score`, `curation_report`, `curation_pipeline_learned`)
    * plus the [[graft.sources.QualityStore]] build all train the SAME
    * model over the SAME feature plan; without the memo every pass of
    * every row re-ran the full 8-step GD (r16 optimization round:
    * ~9 corpus-scale jobs × 3 extra trainings per bench pass). The
    * memoized value is the 65-slot weight VECTOR (model-scale driver
    * state, the same thing the loop already holds between steps) — the
    * training is deterministic, so the memoized weights are
    * bit-identical to a re-run's. Cleared with the cache registry,
    * same invalidation contract as every persistTracked frame.
    */
  private[graft] def qfTrain(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = base.sparkSession
    def wRowOf(w: Seq[Long]) =
      spark.range(1).select(typedLit(w).as("wArr"))
    wRowOf(graft.Caches.once[Seq[Long]](graft.Caches.planKey(base)) {
      val n = base.count()
      var w: Seq[Long] = Vector.fill(qfF + 1)(0L)
      if (n > 0) (1 to qfSteps).foreach { _ =>
        val grads = base.crossJoin(broadcast(wRowOf(w)))
          .withColumn("z", qfZCol)
          .select(col("feats"),
            (expr(s"(GREATEST(${-2 * qfS}, LEAST(${2 * qfS}, z))" +
              s" + ${2 * qfS}) div 4") - col("y") * lit(qfS)).as("err"))
          .select(explode(concat(array(lit(-1L)), col("feats"))).as("f"),
            col("err"))
          .groupBy(col("f")).agg(sum(col("err")).as("g"))
          .collect()
        val upd = w.toArray
        grads.foreach { r =>
          val g = r.getLong(1)
          // JVM Long division truncates toward zero on both signs —
          // the sign-symmetric tdiv the oracle spells with CASE + //
          upd((r.getLong(0) + 1L).toInt) -= g / (2L * n)
        }
        w = upd.toVector
      }
      w
    })
  }

  /** Score a feature frame with a one-row model frame — map-only,
    * model broadcast, no shuffle.
    */
  private[graft] def qfScore(base: org.apache.spark.sql.DataFrame,
      wRow: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    base.crossJoin(broadcast(wRow))
      .withColumn("z", qfZCol)
      .select(col("doc_id"), col("y").as("label"),
        col("z").as("margin_q20"),
        expr(s"(GREATEST(${-2 * qfS}, LEAST(${2 * qfS}, z))" +
          s" + ${2 * qfS}) div 4").as("score_q20"),
        (col("z") > 0L).as("keep"))
      .orderBy(col("doc_id"))

  /** Train-and-score over an arbitrary (doc_id, text) frame (spec entry
    * point — CurationPackSpec plants a separable good/bad corpus and
    * asserts the learned gate classifies it).
    */
  def qualityScoreOver(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = qfBase(docs)
    qfScore(base, qfTrain(base))
  }

  /** One unrolled gradient step of the oracle's CTE chain. */
  private def qfStepSql(t: Int): String = s"""
      z$t AS (SELECT p.doc_id, CAST(SUM(w.wt) AS BIGINT) AS z
        FROM pairs p JOIN w${t - 1} w ON p.f = w.f GROUP BY 1),
      e$t AS (SELECT l.doc_id,
          (GREATEST(-${2 * qfS}, LEAST(${2 * qfS}, z.z)) + ${2 * qfS})
            // 4 - l.y * $qfS AS err
        FROM lab l JOIN z$t z ON l.doc_id = z.doc_id),
      g$t AS (SELECT p.f, CAST(SUM(e.err) AS BIGINT) AS g
        FROM pairs p JOIN e$t e ON p.doc_id = e.doc_id GROUP BY 1),
      w$t AS (SELECT w.f,
          CAST(w.wt - (CASE WHEN COALESCE(g.g, 0) >= 0
            THEN COALESCE(g.g, 0) // (2 * (SELECT n FROM nn))
            ELSE -((-COALESCE(g.g, 0)) // (2 * (SELECT n FROM nn)))
            END) AS BIGINT) AS wt
        FROM w${t - 1} w LEFT JOIN g$t g ON w.f = g.f)"""

  private[graft] val qualityScoreOracle: String = s"""
      WITH w AS (SELECT doc_id, ${Portable.sql.words} AS w
        FROM documents),
      lab AS (SELECT doc_id,
          CASE WHEN len(w) >= 1 AND 2 * len(list_distinct(w)) >= len(w)
            THEN 1 ELSE 0 END AS y FROM w),
      feats AS (SELECT doc_id,
          list_distinct(list_transform(range(len(w) - 1), i ->
            ${Portable.sql.hash60(
              "'" + qfSalt + "' || w[i+1] || ' ' || w[i+2]")} % $qfF))
            AS f
        FROM w WHERE len(w) >= 2),
      pairs AS (SELECT doc_id, unnest(f) AS f FROM feats
        UNION ALL SELECT doc_id, CAST(-1 AS BIGINT) AS f FROM lab),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
      w0 AS (SELECT CAST(range AS BIGINT) AS f, CAST(0 AS BIGINT) AS wt
        FROM range(-1, $qfF)),
      ${(1 to qfSteps).map(qfStepSql).mkString(",\n")},
      zf AS (SELECT p.doc_id, CAST(SUM(w.wt) AS BIGINT) AS z
        FROM pairs p JOIN w$qfSteps w ON p.f = w.f GROUP BY 1)
      SELECT l.doc_id, CAST(l.y AS BIGINT) AS label, zf.z AS margin_q20,
        CAST((GREATEST(-${2 * qfS}, LEAST(${2 * qfS}, zf.z))
          + ${2 * qfS}) // 4 AS BIGINT) AS score_q20,
        zf.z > 0 AS keep
      FROM lab l JOIN zf ON l.doc_id = zf.doc_id
      ORDER BY l.doc_id
      """

  private val qualityScore = GraftQuery(
    "quality_score",
    (s, d) => qualityScoreOver(
      Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))),
    Some(qualityScoreOracle))

  // ---- H11: DSIR importance weights ----
  // Data Selection via Importance Resampling (Xie et al. '23) — the
  // OTHER standard learned-selection recipe beside H10's classifier:
  // score each raw document by how much more likely its hashed-ngram
  // profile is under a TARGET (reference) distribution than under the
  // raw-corpus distribution,
  //   w(doc) = Σ_features count_doc(f) · [log p_target(f) − log p_raw(f)]
  // with Laplace-smoothed bucket unigram models over hashed BIGRAM
  // features (64 buckets, hash60, multiset counts — DSIR's hashed
  // n-gram estimator verbatim). The target slice here is lang = 'en'
  // (the "reference corpus = English Wikipedia" shape collapsed to one
  // table); keep = w > 0 — the doc is more target-like than raw-like.
  // Every log is the G14 Q20 kernel, so the weights are exact int64
  // and the DuckDB oracle replays them bit-for-bit through the
  // recursive log CTE.
  //
  // Scale shape: the per-doc bucket arrays are computed once
  // (persisted — two consumers, no cross-branch CSE); the feature
  // model is ONE map-side-combinable count agg collapsing the corpus
  // to 64 rows; the log-weight table collapses to a one-row broadcast
  // 64-slot array; scoring is a map-only fold over the cached arrays —
  // no per-doc join, no shuffle beyond the one count agg. |w| is
  // bounded by n_feats · 45·2^20 — int64-safe to ~6e9-token docs.
  private val dsirSalt = "dsir|"
  private val dsirF = 64L

  /** The hashed-bigram bucket projection (doc_id[, passthrough], bkts)
    * — shared BY REFERENCE between the in-query H11 path and
    * [[graft.sources.DsirStore]] (both the count-delta generation and
    * the serving-side fold), so the feature spelling cannot drift
    * between them. Docs with < 2 tokens carry an empty array (they
    * contribute no counts and score 0). Deliberately persist-free: the
    * store's serving path scores micro-batches through it and must not
    * register registry-tracked state (the r10 QualityStore lesson).
    */
  private[graft] def dsirBucketsOf(docs: org.apache.spark.sql.DataFrame,
      passthrough: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val keep = col("doc_id") +: passthrough.map(col)
    docs
      .select(keep :+ words(col("text")).as("w"): _*)
      .select(keep :+
        when(size(col("w")) >= 2, transform(
          sequence(lit(1), size(col("w")) - 1),
          i => pmod(hash60(concat(lit(dsirSalt), element_at(col("w"), i),
            lit(" "), element_at(col("w"), i + 1))), lit(dsirF))))
          .otherwise(array().cast("array<bigint>")).as("bkts"): _*)
  }

  /** Per-bucket (f, cr, ct) counts of a (lang, bkts) frame — cr over
    * every doc, ct over the `targetLang` slice. ONE map-side-combinable
    * agg; 64-row result.
    */
  private[graft] def dsirCountsOf(bkts: org.apache.spark.sql.DataFrame,
      targetLang: String): org.apache.spark.sql.DataFrame =
    bkts.select(col("lang"), explode(col("bkts")).as("f"))
      .groupBy(col("f"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === targetLang, lit(1L)).otherwise(lit(0L)))
          .as("ct"))

  /** The DSIR scoring tail over a bucket-array frame (doc_id, bkts) and
    * a bucket-count model (f, cr, ct) — shared BY REFERENCE between
    * `dsir_weights` and [[graft.sources.DsirStore.score]]: the model
    * collapses to a one-row broadcast 64-slot Q20 log-weight array and
    * scoring is a map-only fold, so the store path reproduces the
    * in-query weights bit-for-bit whenever its merged counts equal the
    * in-query counts.
    */
  private[graft] def dsirScoreOf(bkts: org.apache.spark.sql.DataFrame,
      cnt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = cnt.agg(sum(col("cr")).as("r"), sum(col("ct")).as("t"))
    val lgwRow = cnt.crossJoin(broadcast(tot))
      .select(col("f"),
        (log2q20(col("ct") + 1L) - log2q20(col("cr") + 1L)
          - log2q20(col("t") + lit(dsirF))
          + log2q20(col("r") + lit(dsirF))).as("d"))
      .agg(map_from_entries(collect_list(struct(
        col("f").cast(IntegerType).as("slot"), col("d")))).as("m"))
      .select(transform(sequence(lit(0), lit(dsirF.toInt - 1)),
        i => coalesce(element_at(col("m"), i), lit(0L))).as("lgwArr"))
    bkts.crossJoin(broadcast(lgwRow))
      .select(col("doc_id"),
        size(col("bkts")).cast(LongType).as("n_feats"),
        aggregate(col("bkts"), lit(0L), (acc, f) => acc +
          element_at(col("lgwArr"), (f + lit(1L)).cast(IntegerType)))
          .as("w_q20"))
      .withColumn("keep", col("w_q20") > 0L)
      .orderBy(col("doc_id"))
  }

  /** H11 engine over an arbitrary (doc_id, text, lang) frame (spec
    * entry point). `targetLang` selects the reference slice.
    */
  def dsirWeightsOver(docs: org.apache.spark.sql.DataFrame,
      targetLang: String = "en"): org.apache.spark.sql.DataFrame = {
    val bkts = dsirBucketsOf(docs, Seq("lang")).persistTracked
    dsirScoreOf(bkts, dsirCountsOf(bkts, targetLang))
  }

  /** H11's oracle, shared VERBATIM with the [[graft.sources.DsirStore]]
    * registry rows — the persisted-model path must reproduce the
    * in-query weights bit-for-bit (counts are additive over disjoint
    * doc sets, so merged-store counts ≡ in-query counts exactly).
    */
  private[graft] val dsirOracleSql: String = s"""
      WITH RECURSIVE w AS (
        SELECT doc_id, lang, ${Portable.sql.words} AS w FROM documents),
      bg AS (
        SELECT doc_id, lang, unnest(list_transform(range(len(w) - 1),
          i -> ${Portable.sql.hash60(
            "'" + dsirSalt + "' || w[i+1] || ' ' || w[i+2]")} % $dsirF))
          AS f
        FROM w WHERE len(w) >= 2),
      cnt AS (
        SELECT f, CAST(COUNT(*) AS BIGINT) AS cr,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS ct
        FROM bg GROUP BY 1),
      tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS r,
          CAST(SUM(ct) AS BIGINT) AS t FROM cnt),
      loginputs AS (
        SELECT DISTINCT val FROM (
          SELECT cr + 1 AS val FROM cnt
          UNION ALL SELECT ct + 1 FROM cnt
          UNION ALL SELECT r + $dsirF FROM tot
          UNION ALL SELECT t + $dsirF FROM tot)),
      ${Portable.sql.log2CteSql("loginputs", "logsteps", "logs")},
      lgw AS (
        SELECT c.f,
          lc.log2_q20 - lr.log2_q20
            - (SELECT l2.log2_q20 FROM logs l2
               WHERE l2.val = (SELECT t + $dsirF FROM tot))
            + (SELECT l3.log2_q20 FROM logs l3
               WHERE l3.val = (SELECT r + $dsirF FROM tot)) AS d
        FROM cnt c
        JOIN logs lc ON lc.val = c.ct + 1
        JOIN logs lr ON lr.val = c.cr + 1),
      perdoc AS (
        SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
          CAST(SUM(l.d) AS BIGINT) AS w_q20
        FROM bg b JOIN lgw l ON b.f = l.f GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(p.n_feats, 0) AS n_feats,
        COALESCE(p.w_q20, 0) AS w_q20,
        COALESCE(p.w_q20, 0) > 0 AS keep
      FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
      ORDER BY d.doc_id
      """

  private val dsirWeights = GraftQuery(
    "dsir_weights",
    (s, d) => dsirWeightsOver(Tables.parallelized(Tables.documents(s, d))
      .select(col("doc_id"), col("text"), col("lang"))),
    Some(dsirOracleSql))

  // ---- H11b: the persisted, APPENDABLE form (sources/DsirStore) ----
  // Unlike H10's GD state, DSIR's bucket counts ARE delta-mergeable —
  // the LmStore count-delta shape applies verbatim — so the store has
  // a real append. Same gating as I4/I5: counts are additive over
  // disjoint doc sets and the scoring tail is shared by reference, so
  // the full-build row AND the write-evens/append-odds row must both
  // hash-match H11's oracle verbatim.
  private def dsirStore(s: org.apache.spark.sql.SparkSession, d: String,
      split: Boolean): String =
    graft.Caches.store(s, d,
        if (split) "graft_dsir_half_%s" else "graft_dsir_%s")(
        b => Seq(s"${b}_cnt", s"${b}_docs")) { (base, dir) =>
      val docs = Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text"), col("lang"))
      // the bucket-count deltas ride the SAME persistTracked per-doc
      // bucket frame dsir_weights caches (plan-identical spelling —
      // the CacheManager dedupes), with the parity filter ABOVE the
      // cached projection (r17, the r16 verdict's task 6): the old
      // spelling tokenized the history slice below the filter, which
      // can never plan-match the cache. dsirBucketsOf commutes with a
      // doc_id filter (per-row projection), so the sliced frame is
      // bit-identical to dsirBucketsOf(history).
      val bkts = dsirBucketsOf(docs, Seq("lang")).persistTracked
      def slice(r: Int) = bkts.filter(pmod(col("doc_id"), lit(2)) === r)
      val history =
        if (split) docs.filter(pmod(col("doc_id"), lit(2)) === 0) else docs
      graft.sources.DsirStore.write(history, base, dir,
        bkts = Some(if (split) slice(0) else bkts))
      if (split)
        graft.sources.DsirStore.append(s, base,
          docs.filter(pmod(col("doc_id"), lit(2)) =!= 0),
          bkts = Some(slice(1)))
    }

  private val dsirStoreScore = GraftQuery(
    "dsir_store_score",
    (s, d) => graft.sources.DsirStore.score(s, dsirStore(s, d, split = false),
      Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))),
    Some(dsirOracleSql))

  private val dsirStoreAppendScore = GraftQuery(
    "dsir_store_append_score",
    (s, d) => graft.sources.DsirStore.score(s, dsirStore(s, d, split = true),
      Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))),
    Some(dsirOracleSql))

  // ---- H12: curation_report — the composed final verdict ----
  // The pipeline carries five per-doc keep signals (H3's band/dup
  // predicates, H10's learned quality gate, H11's DSIR importance
  // sign, I9's per-language perplexity tercile) but each lives in its
  // own table — this is the ONE gate frame a dataset builder actually
  // filters on: per doc, every signal as a column, a failure-reason
  // BITMASK (bit set = signal failed: 1 lang, 2 token band, 4 exact
  // dup, 8 quality, 16 dsir, 32 ccnet), keep = all pass (reason 0).
  //
  // Scale shape: pure composition — every component rides its own
  // already-audited engine and their SHARED cached frames (the H3
  // feature frame, H10's persisted feature arrays, H11's persisted
  // bucket arrays, I9's shared lm_score frames), so the report adds
  // doc_id-keyed joins of corpus-linear verdict frames and per-row bit
  // arithmetic — no new corpus-scale scan, no new shuffle shape beyond
  // the joins. Docs the ccnet leg cannot score (< 2 tokens — no
  // bigrams, no perplexity) fail that signal by definition (LEFT join
  // + coalesce false): un-scorable is not keep-worthy, and the token
  // band already rejects them anyway.
  //
  // The oracle composes the component ORACLES verbatim as subqueries —
  // the report's correctness proof is literally the conjunction of the
  // four already-verified proofs plus bit arithmetic.
  /** H12 engine — shared with H13's learned pipeline, which filters on
    * the composed verdict this frame carries.
    */
  /** The UNORDERED H12 report frame, persistTracked (r16 optimization
    * round): two registry rows consume it (`curation_report` verbatim
    * plus the final sort, `curation_pipeline_learned` as its gate
    * filter), and building it runs the learned components — without
    * the persist each row re-joined the component frames per pass.
    * Built in warmup under its own name so the first-touch cost (which
    * includes the qfTrain memo's one training) stops landing on
    * whichever row runs first in a cold pass.
    */
  private def curationReportFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    curationReportUnordered(s, d).persistTracked

  private[graft] def curationReportOf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    curationReportFrame(s, d).orderBy(col("doc_id"))

  private def curationReportUnordered(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
      // parallelized so the qual/dsir legs' feature plans are IDENTICAL
      // to the standalone rows' (CacheManager dedupe + the qfTrain memo
      // both key on the plan)
      val docs = Tables.parallelized(Tables.documents(s, d))
      val f = docFeatures(s, d)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("is_dup"),
          col("lang").isin(allowedLangs: _*).as("lang_ok"),
          (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
            .as("tokens_ok"))
      val qual = qualityScoreOver(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("keep").as("quality_keep"))
      val dsir = dsirWeightsOver(
          docs.select(col("doc_id"), col("text"), col("lang")))
        .select(col("doc_id"), col("keep").as("dsir_keep"))
      val ccn = SearchPack.ccnetBucketsOf(s, d)
        .select(col("doc_id"), col("keep").as("ccnet_keep"))
      f.join(qual, Seq("doc_id")).join(dsir, Seq("doc_id"))
        .join(ccn, Seq("doc_id"), "left")
        .withColumn("ccnet_keep", coalesce(col("ccnet_keep"), lit(false)))
        .withColumn("reason",
          when(!col("lang_ok"), lit(1L)).otherwise(lit(0L)) +
            when(!col("tokens_ok"), lit(2L)).otherwise(lit(0L)) +
            when(col("is_dup"), lit(4L)).otherwise(lit(0L)) +
            when(!col("quality_keep"), lit(8L)).otherwise(lit(0L)) +
            when(!col("dsir_keep"), lit(16L)).otherwise(lit(0L)) +
            when(!col("ccnet_keep"), lit(32L)).otherwise(lit(0L)))
        .withColumn("keep", col("reason") === 0L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("lang_ok"), col("tokens_ok"), col("is_dup"),
          col("quality_keep"), col("dsir_keep"), col("ccnet_keep"),
          col("reason"), col("keep"))
  }

  /** H12's oracle — composed verbatim into H13's. */
  private val curationReportOracle: String = s"""
      WITH flt AS (
        SELECT doc_id, lang, n_tokens, is_dup
        FROM (${curationFilterOracle}) x),
      qual AS (SELECT doc_id, keep FROM (${qualityScoreOracle}) x),
      dsir AS (SELECT doc_id, keep FROM (${dsirOracleSql}) x),
      ccn AS (SELECT doc_id, keep
        FROM (${SearchPack.ccnetOracleSql}) x)
      SELECT f.doc_id, f.lang, f.n_tokens,
        f.lang IN (${allowedLangs.map(l => s"'$l'").mkString(", ")})
          AS lang_ok,
        (f.n_tokens >= $minTokens AND f.n_tokens <= $maxTokens)
          AS tokens_ok,
        f.is_dup,
        q.keep AS quality_keep,
        s.keep AS dsir_keep,
        COALESCE(c.keep, FALSE) AS ccnet_keep,
        CAST(
          (CASE WHEN NOT f.lang IN
             (${allowedLangs.map(l => s"'$l'").mkString(", ")})
            THEN 1 ELSE 0 END)
          + (CASE WHEN NOT (f.n_tokens >= $minTokens
              AND f.n_tokens <= $maxTokens) THEN 2 ELSE 0 END)
          + (CASE WHEN f.is_dup THEN 4 ELSE 0 END)
          + (CASE WHEN NOT q.keep THEN 8 ELSE 0 END)
          + (CASE WHEN NOT s.keep THEN 16 ELSE 0 END)
          + (CASE WHEN NOT COALESCE(c.keep, FALSE) THEN 32 ELSE 0 END)
          AS BIGINT) AS reason,
        ((CASE WHEN NOT f.lang IN
             (${allowedLangs.map(l => s"'$l'").mkString(", ")})
            THEN 1 ELSE 0 END)
          + (CASE WHEN NOT (f.n_tokens >= $minTokens
              AND f.n_tokens <= $maxTokens) THEN 2 ELSE 0 END)
          + (CASE WHEN f.is_dup THEN 4 ELSE 0 END)
          + (CASE WHEN NOT q.keep THEN 8 ELSE 0 END)
          + (CASE WHEN NOT s.keep THEN 16 ELSE 0 END)
          + (CASE WHEN NOT COALESCE(c.keep, FALSE) THEN 32 ELSE 0 END))
          = 0 AS keep
      FROM flt f
      JOIN qual q ON f.doc_id = q.doc_id
      JOIN dsir s ON f.doc_id = s.doc_id
      LEFT JOIN ccn c ON f.doc_id = c.doc_id
      ORDER BY f.doc_id
      """

  private val curationReport = GraftQuery(
    "curation_report",
    (s, d) => curationReportOf(s, d),
    Some(curationReportOracle))

  // ---- H13: curation_pipeline_learned — the H4 user story in the
  // learned era ----
  // H4 composes filter → sample → pack over H3's hand-written bands;
  // this is the SAME one-plan user story gated on H12's composed
  // verdict instead — every signal the pipeline has (bands, exact dup,
  // learned quality, DSIR importance, perplexity tercile) decides what
  // survives into the packed training shards. The H12 report carries
  // exactly the (doc_id, lang, n_tokens) the H1 sampler and H2 packer
  // need, so the extension is one filter + the audited sample/pack
  // tail — no new corpus scan beyond the report's own components.
  // The oracle composes H12's oracle verbatim and re-proves the
  // two-level packing against a single-window cumsum on the learned
  // survivor set (the H4 discipline).
  private val curationPipelineLearned = GraftQuery(
    "curation_pipeline_learned",
    (s, d) => packShards(
        curationReportOf(s, d)
          .filter(col("keep") && drawCol < rateCol)
          .select(col("doc_id"), col("lang"), col("n_tokens")))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH rep AS (SELECT doc_id, lang, n_tokens, keep
        FROM (${curationReportOracle}) x),
      kept AS (
        SELECT doc_id, lang, n_tokens FROM rep
        WHERE keep
          AND ${Portable.sql.hashP(s"'$salt' || CAST(doc_id AS VARCHAR)")}
            % 1000000 <
            CASE lang WHEN 'zh' THEN 200000 WHEN 'fr' THEN 300000
                      WHEN 'es' THEN 300000 WHEN 'de' THEN 300000
                      WHEN 'en' THEN 500000 ELSE $defaultPpm END),
      c AS (
        SELECT doc_id, lang, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
        FROM kept)
      SELECT doc_id, lang, n_tokens, cum_tokens,
        (cum_tokens - n_tokens) // $shardBudget AS shard_id
      FROM c ORDER BY doc_id
      """))

  // ---- H10b: the persisted trained model, through the driver gate ----
  // Train once per (JVM, dataset) through Caches.store, then
  // both gate rows SCORE with the stored weights: whole-corpus scoring
  // and two-disjoint-batch scoring (the serving contract) must each
  // reproduce the in-query train+score — quality_score's oracle
  // VERBATIM.
  private def qualityStoreOf(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.Caches.store(s, d, "graft_quality_store_%s")(
        b => Seq(s"${b}_model")) { (base, dir) =>
      graft.sources.QualityStore.write(
        Tables.parallelized(Tables.documents(s, d))
          .select(col("doc_id"), col("text")),
        base, dir)
    }

  private val qualityStoreScore = GraftQuery(
    "quality_store_score",
    (s, d) => graft.sources.QualityStore.score(s, qualityStoreOf(s, d),
      Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))),
    Some(qualityScoreOracle))

  private val qualityStoreBatchScore = GraftQuery(
    "quality_store_batch_score",
    (s, d) => {
      val store = qualityStoreOf(s, d)
      val docs = Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))
      graft.sources.QualityStore
        .score(s, store, docs.filter(pmod(col("doc_id"), lit(2)) === 0))
        .union(graft.sources.QualityStore
          .score(s, store, docs.filter(pmod(col("doc_id"), lit(2)) === 1)))
        .orderBy(col("doc_id"))
    },
    Some(qualityScoreOracle))

  override val queries: Seq[GraftQuery] =
    Seq(sampleStratified, shardPack, curationFilter, curationPipeline,
      splitAssign, mixSources, mixSourcesTokens, mixSourcesTemp,
      sourceReport, shardsRoundtrip,
      packSequences, packStoreRoundtrip, qualityScore,
      qualityStoreScore, qualityStoreBatchScore, dsirWeights,
      dsirStoreScore, dsirStoreAppendScore, curationReport,
      curationPipelineLearned)

  /** The composed H12 report frame feeds two rows and, through its
    * legs, trains the shared quality model and materializes the dsir
    * bucket cache — built in warmup under its own name (the
    * QueryPack.warm attribution discipline; CurationPack is last in
    * pack order, so the Search/Dedup caches its legs ride are already
    * warm).
    */
  override def warm: Seq[(String,
      (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame)] =
    Seq("curation_report_frame" -> ((s, d) => curationReportFrame(s, d)))
}
