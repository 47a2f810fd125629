package graft.operators

import graft.{GraftQuery, QueryPack}
import graft.functions.Portable
import graft.plans.TopKPerKey
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 block I — corpus search & statistical LM scoring over
  * the `documents` table: the retrieval / quality-scoring passes a
  * training-data pipeline runs that need a LOGARITHM (BM25 idf, bigram
  * cross-entropy a la the CCNet perplexity filter).
  *
  * libm log is not correctly rounded, so a double `ln` can differ
  * between Spark and DuckDB in the last ULP — which is why no earlier
  * block could oracle-gate a log-weighted score exactly. Every
  * logarithm here is [[graft.expressions.Log2FixQ20]] (G14): a pure
  * int64 digit recurrence, mirrored bit-for-bit by a recursive CTE
  * ([[Portable.sql.log2CteSql]]), so all three queries carry FULL
  * hash-match oracles despite being log-weighted.
  *
  * Scale shape: the corpus-sized frames (postings, doc bigrams) are
  * built by ONE explode + ONE map-side-combining aggregation each; the
  * model-sized frames (unigram/bigram counts, df table — vocabulary-
  * bounded, not corpus-bounded) join back onto them on their natural
  * keys, where AQE broadcasts them at real scale. Scalars (N, T, V)
  * travel as one-row broadcasts. No window ever runs over a raw
  * corpus-sized partition.
  */
object SearchPack extends QueryPack {

  import Portable._
  import graft.Caches.CachesSyntax

  private val Q20 = 1L << 20

  /** (doc_id, dl) for docs with ≥ 1 token, from a (doc_id, text)
    * frame. Shared with [[graft.sources.SearchIndex]] so the length
    * spelling cannot drift between the in-query and store paths.
    */
  private[graft] def docLensOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), size(col("w")).cast(LongType).as("dl"))

  /** Postings list (doc_id, dl, word, tf) of a (doc_id, text) frame —
    * one explode + one combine-heavy aggregation. Shared with
    * [[graft.sources.SearchIndex]], same drift argument.
    */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), size(col("w")).cast(LongType).as("dl"),
        explode(col("w")).as("word"))
      .groupBy(col("doc_id"), col("dl"), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** (doc_id, w, dl) for docs with ≥ 1 token — the shared scan. */
  private def docWords(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.documents(s, d))
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .withColumn("dl", size(col("w")).cast(LongType))

  /** The registry queries' shared working set: [[postingsOf]] over the
    * dataset's documents, registry-persisted.
    */
  private def postings(s: SparkSession, d: String): DataFrame =
    postingsOf(Tables.parallelized(Tables.documents(s, d)))
      .persistTracked

  /** The PERSISTED per-doc bigram frame over the dataset's documents —
    * [[docBigramsOf]] of the parallelized corpus scan, shared by
    * lm_score, ccnet_buckets, collocations AND (r16) the LmStore
    * scoring rows, whose batch now rides the identical plan. Factored
    * so the warmup phase can build it under its own name: it was
    * persisted from whichever consumer ran first, which charged the
    * whole corpus bigram explode to an arbitrary cold row.
    */
  private def corpusDocBigrams(s: SparkSession, d: String): DataFrame =
    docBigramsOf(Tables.parallelized(Tables.documents(s, d)))
      .persistTracked

  override def warm: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("search_postings" -> ((s, d) => postings(s, d)),
      "search_doc_bigrams" -> ((s, d) => corpusDocBigrams(s, d)))

  /** Fixed-point Q20 log over a positive long column. */
  private def lg(c: org.apache.spark.sql.Column) = log2q20(c)

  private val wordsSql = Portable.sql.words

  // ---- I1: lm_score — bigram-LM cross-entropy per document ----
  // The CCNet-class quality signal: score each document's token stream
  // under a corpus-trained Laplace-smoothed bigram model,
  //   P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)
  // with c(w1) the corpus-wide occurrence count and V the vocabulary
  // size, and report cross-entropy in fixed-point bits:
  //   xent_q20 = Σ_bigrams [ log2q20(c(w1)+V) − log2q20(c(w1 w2)+1) ]
  // (positive, exact int64). A doc of corpus-typical bigrams scores low
  // bits/token; rare/garbled sequences score high — the filter rank is
  // exactly the perplexity rank. Per-doc bigram multiplicities are
  // pre-aggregated so the model join fans over DISTINCT (doc, bigram)
  // rows, and the model tables are vocab²-bounded.
  /** Per-doc bigram multiplicities (doc_id, w1, w2, k) of a (doc_id,
    * text) frame — the scoring unit of the bigram LM. Shared with
    * [[graft.sources.LmStore]] so the bigram spelling cannot drift
    * between the in-query and store paths.
    */
  private[graft] def docBigramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), expr(
        "explode(transform(sequence(1, size(w)-1)," +
          " i -> struct(w[i-1] AS w1, w[i] AS w2)))").as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))

  /** The LM scoring tail over per-doc bigrams (doc_id, w1, w2, k), a
    * bigram model (w1, w2, c12), a unigram model (word, c1) and a
    * one-row vocab size (v) — shared BY REFERENCE between `lm_score`
    * and [[graft.sources.LmStore.score]]. LEFT joins + coalesce-to-0
    * so a batch bigram the model never saw scores at the smoothing
    * floor P = 1/(c1+V) instead of silently dropping; when the model
    * covers the scored docs (the oracle-gated shape) every join hits
    * and left ≡ inner.
    */
  private[graft] def lmScoreOf(docBg: DataFrame, big: DataFrame,
      uni: DataFrame, vocab: DataFrame): DataFrame =
    docBg
      .join(big, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("word", "w1"), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("k"),
        (lg(coalesce(col("c1"), lit(0L)) + col("v")) -
          lg(coalesce(col("c12"), lit(0L)) + lit(1L)))
          .as("cost_q20"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("cost_q20")).as("xent_q20"))
      .withColumn("mbits_per_token",
        expr(s"(xent_q20 * 1000) div (n_bigrams * $Q20)"))
      .orderBy(col("doc_id"))

  /** I1's oracle, shared verbatim with the [[graft.sources.LmStore]]
    * registry rows — the persisted-model path must reproduce the
    * in-query scores bit-for-bit.
    */
  private[graft] val lmOracleSql: String = s"""
      WITH RECURSIVE w AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      dw AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM w
        WHERE len(w) > 0),
      post AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(w) AS word FROM dw) GROUP BY 1, 2),
      uni AS (
        SELECT word, CAST(SUM(tf) AS BIGINT) AS c1 FROM post GROUP BY 1),
      docbg AS (
        SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
        FROM (
          SELECT doc_id,
            unnest(list_slice(w, 1, len(w)-1)) AS w1,
            unnest(list_slice(w, 2, len(w))) AS w2
          FROM dw WHERE len(w) >= 2)
        GROUP BY 1, 2, 3),
      big AS (
        SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c12
        FROM docbg GROUP BY 1, 2),
      vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      -- every loginputs below dedupes through an explicit outer
      -- DISTINCT: in a WITH RECURSIVE list DuckDB does NOT set-dedupe
      -- a plain UNION of non-self-referencing branches, so a val in
      -- two branches walks the log recursion twice and silently
      -- doubles every row joined through it (found via E11, where the
      -- tf/dl ranges overlap on real data)
      loginputs AS (
        SELECT DISTINCT val FROM (
          SELECT c1 + (SELECT v FROM vocab) AS val FROM uni
          UNION ALL
          SELECT c12 + 1 AS val FROM big)),
      ${Portable.sql.log2CteSql("loginputs", "logsteps", "logs")},
      scored AS (
        SELECT d.doc_id, d.k,
          ln.log2_q20 - ld.log2_q20 AS cost_q20
        FROM docbg d
        JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
        JOIN uni u ON d.w1 = u.word
        JOIN logs ln ON ln.val = u.c1 + (SELECT v FROM vocab)
        JOIN logs ld ON ld.val = b.c12 + 1),
      agg AS (
        SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
          CAST(SUM(k * cost_q20) AS BIGINT) AS xent_q20
        FROM scored GROUP BY 1)
      SELECT doc_id, n_bigrams, xent_q20,
        CAST((xent_q20 * 1000) // (n_bigrams * $Q20) AS BIGINT)
          AS mbits_per_token
      FROM agg ORDER BY doc_id
      """

  private val lmScore = GraftQuery(
    "lm_score",
    (s, d) => {
      val p = postings(s, d)
      // unigram counts from the shared postings cache (≡ uniCountsOf:
      // summing per-doc tf over docs is counting occurrences) + vocab
      val uni = p.groupBy(col("word")).agg(sum(col("tf")).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      val docBg = corpusDocBigrams(s, d)
      val big = docBg.groupBy(col("w1"), col("w2"))
        .agg(sum(col("k")).as("c12"))
      lmScoreOf(docBg, big, uni, vocab)
    },
    Some(lmOracleSql))

  // ---- I9: ccnet_buckets — per-language perplexity terciles ----
  // The step CCNet actually ships after its LM scores (r10): bucket
  // each language's documents into head/middle/tail perplexity
  // TERCILES and keep head+middle — the standard "drop the worst
  // third by reference-LM perplexity" gate, composed entirely from
  // machinery already gated here (I1's exact Q20 cross-entropy; the
  // A16 histogram rank-selection shape). Thresholds are VALUE-based
  // (the smallest mbits value whose cumulative count reaches rank
  // (n−1) div 3 + 1, resp. 2(n−1) div 3 + 1 — all-integer ranks, no
  // float percentile arithmetic), so equal-perplexity ties land in one
  // bucket deterministically on both engines.
  //
  // Scale shape: scoring rides the shared lm_score frames (postings
  // cache + the persisted per-doc bigram frame — plan-identical, so
  // the CacheManager serves one build); the tercile pass is the
  // HistogramRank discipline — one map-side-combinable (lang, mbits)
  // count agg, a cumulation window over each language's DISTINCT mbits
  // values (bounded by the value domain, never the doc count), and a
  // keys-scale threshold frame broadcast back. No task ever sorts a
  // language's raw rows.
  /** I9 engine — shared with `curation_report` (CurationPack), which
    * composes the ccnet keep signal into the final gate table. Rides
    * the shared lm_score frames (postings cache + persisted per-doc
    * bigram frame), so a second consumer adds no corpus scan.
    */
  private[graft] def ccnetBucketsOf(s: SparkSession, d: String)
      : DataFrame = {
      val p = postings(s, d)
      val uni = p.groupBy(col("word")).agg(sum(col("tf")).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      val docBg = corpusDocBigrams(s, d)
      val big = docBg.groupBy(col("w1"), col("w2"))
        .agg(sum(col("k")).as("c12"))
      val withLang = lmScoreOf(docBg, big, uni, vocab)
        .select(col("doc_id"), col("mbits_per_token"))
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
      val thr = ccnetThresholdsOf(withLang)
      withLang.join(broadcast(thr), Seq("lang"))
        .withColumn("ppl_bucket",
          when(col("mbits_per_token") <= col("t1"), "head")
            .when(col("mbits_per_token") <= col("t2"), "middle")
            .otherwise("tail"))
        .withColumn("keep", col("mbits_per_token") <= col("t2"))
        .select(col("doc_id"), col("lang"), col("mbits_per_token"),
          col("ppl_bucket"), col("keep"))
        .orderBy(col("doc_id"))
  }

  /** Per-language tercile thresholds (lang, t1, t2) over a scored
    * (doc_id, lang, mbits_per_token) population — factored from
    * [[ccnetBucketsOf]] so the FROZEN streaming thresholds
    * ([[graft.sources.LmStore.writeThresholds]]) are derived by the
    * SAME integer order-statistic arithmetic the I9/H12 oracles
    * verify. The per-lang windows run over the DISTINCT-value
    * histogram (one row per (lang, score) value, not per doc), so no
    * partition holds a corpus-scale slice.
    */
  private[graft] def ccnetThresholdsOf(withLang: DataFrame): DataFrame = {
    val hist = withLang
      .groupBy(col("lang"), col("mbits_per_token").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("lang")).orderBy(col("v"))))
      .withColumn("tot", sum(col("cnt")).over(
        Window.partitionBy(col("lang"))))
    cum.groupBy(col("lang")).agg(
      min(when(col("cum") >= expr("(tot - 1) div 3 + 1"), col("v")))
        .as("t1"),
      min(when(col("cum") >= expr("(2 * (tot - 1)) div 3 + 1"),
        col("v"))).as("t2"))
  }

  /** I9's oracle — shared with `curation_report`'s composed oracle. */
  private[graft] val ccnetOracleSql: String = s"""
      WITH lm AS ($lmOracleSql),
      d2 AS (
        SELECT l.doc_id, d.lang, l.mbits_per_token
        FROM lm l JOIN documents d ON l.doc_id = d.doc_id),
      hist AS (
        SELECT lang, mbits_per_token AS v, CAST(COUNT(*) AS BIGINT)
          AS cnt
        FROM d2 GROUP BY 1, 2),
      cum AS (
        SELECT lang, v,
          SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
          SUM(cnt) OVER (PARTITION BY lang) AS tot
        FROM hist),
      thr AS (
        SELECT lang,
          MIN(CASE WHEN cum >= (tot - 1) // 3 + 1 THEN v END) AS t1,
          MIN(CASE WHEN cum >= (2 * (tot - 1)) // 3 + 1 THEN v END)
            AS t2
        FROM cum GROUP BY 1)
      SELECT d2.doc_id, d2.lang, d2.mbits_per_token,
        CASE WHEN d2.mbits_per_token <= t.t1 THEN 'head'
             WHEN d2.mbits_per_token <= t.t2 THEN 'middle'
             ELSE 'tail' END AS ppl_bucket,
        d2.mbits_per_token <= t.t2 AS keep
      FROM d2 JOIN thr t ON d2.lang = t.lang
      ORDER BY d2.doc_id
      """

  private val ccnetBuckets = GraftQuery(
    "ccnet_buckets",
    (s, d) => ccnetBucketsOf(s, d),
    Some(ccnetOracleSql))

  // ---- I2: bm25_search — BM25 top-k retrieval ----
  // The standard lexical retrieval scorer (k1 = 1.2, b = 0.75) over the
  // shared postings, for a fixed query-term set. With avgdl = T/N the
  // tf normalization is an exact rational:
  //   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  //     = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)
  // so each term's score is one integral division of exact products
  // (DECIMAL(38,0)/HUGEINT — 10·tf·T passes int64 around 1e13 corpus
  // tokens, inside the 100 TB design point), weighted by the G14 idf
  //   idf_q20 = log2q20(N+1) − log2q20(df).
  // Only postings rows matching the (tiny, literal) query-term set
  // survive past the first filter, so the scoring join is query-sized,
  // not corpus-sized; the final top-k is TakeOrderedAndProject under a
  // total order (score DESC, doc_id).
  private[graft] val bm25Terms = Seq("spark", "hash", "merge", "vector",
    "stream")
  private[graft] val bm25K = 20

  /** The BM25 scoring + top-k tail over a hits frame
    * (doc_id, dl, word, tf), a df table (word, df) and a ONE-ROW totals
    * frame (n, t). Shared BY REFERENCE between the in-query
    * `bm25_search` and [[graft.sources.SearchIndex.search]] — the C10
    * τ lesson: an index path re-spelling the scoring as its own literal
    * could drift while both gates stay green, because each would
    * interpolate its own copy.
    */
  private[graft] def bm25TopK(hits: DataFrame, dfTab: DataFrame,
      totals: DataFrame, k: Int): DataFrame =
    hits
      .join(broadcast(dfTab), Seq("word"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_q20", lg(col("n") + lit(1L)) - lg(col("df")))
      .select(col("doc_id"),
        expr("(idf_q20 * (CAST(22 AS DECIMAL(38,0)) * tf * t))" +
          " div (CAST(10 AS DECIMAL(38,0)) * tf * t + 3 * t + 9 * dl * n)")
          .as("term_score_q20"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("term_score_q20")).as("score_q20"))
      .orderBy(col("score_q20").desc, col("doc_id"))
      .limit(k)

  /** I2's oracle, shared verbatim with the [[graft.sources.SearchIndex]]
    * registry rows (`bm25_index_search` / `bm25_index_append_search`):
    * the persisted-index path must reproduce the in-query scores
    * bit-for-bit, so it is gated against the SAME SQL.
    */
  private[graft] val bm25OracleSql: String = {
    val termList = bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""
      WITH RECURSIVE w AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      dw AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM w
        WHERE len(w) > 0),
      totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(dl) AS BIGINT) AS t FROM dw),
      hits AS (
        SELECT doc_id, dl, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(w) AS word FROM dw)
        WHERE word IN $termList GROUP BY 1, 2, 3),
      dftab AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY 1),
      loginputs AS (
        SELECT DISTINCT val FROM (
          SELECT (SELECT n FROM totals) + 1 AS val
          UNION ALL
          SELECT df AS val FROM dftab)),
      ${Portable.sql.log2CteSql("loginputs", "logsteps", "logs")},
      scored AS (
        SELECT h.doc_id,
          CAST((ln.log2_q20 - ld.log2_q20) *
            (CAST(22 AS HUGEINT) * h.tf * tt.t) //
            (CAST(10 AS HUGEINT) * h.tf * tt.t + 3 * tt.t
              + 9 * h.dl * tt.n) AS BIGINT) AS term_score_q20
        FROM hits h
        JOIN dftab f ON h.word = f.word
        CROSS JOIN totals tt
        JOIN logs ln ON ln.val = tt.n + 1
        JOIN logs ld ON ld.val = f.df),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
          CAST(SUM(term_score_q20) AS BIGINT) AS score_q20
        FROM scored GROUP BY 1)
      SELECT doc_id, n_terms_hit, score_q20 FROM agg
      ORDER BY score_q20 DESC, doc_id LIMIT $bm25K
      """
  }

  private val bm25Search = GraftQuery(
    "bm25_search",
    (s, d) => {
      val dw = docWords(s, d)
      val totals = dw.agg(
        count(lit(1)).as("n"), sum(col("dl")).as("t"))
      val hits = postings(s, d)
        .filter(col("word").isin(bm25Terms: _*))
      val dfTab = hits.groupBy(col("word"))
        .agg(count(lit(1)).as("df"))
      bm25TopK(hits, dfTab, totals, bm25K)
    },
    Some(bm25OracleSql))

  // ---- I4: the persisted-index path (sources/SearchIndex) ----
  // Two oracle rows gate the store against I2's oracle VERBATIM:
  // `bm25_index_search` builds the index over the full corpus and
  // searches the parquet postings; `bm25_index_append_search` builds
  // over even doc_ids, appends the odd docs, then searches — BM25 over
  // merged counts is exact integer arithmetic and df/N/T are additive
  // over disjoint doc sets, so BOTH must hash-match the in-query
  // scores bit-for-bit (the D9 gating pattern, zero approximation
  // caveats here).
  /** Memoized store build shared by the I4/I5 registry rows
    * ([[graft.Caches.store]]): write over the full corpus (split =
    * false) or write-evens + append-odds (split = true — the
    * append-path gate), keyed on the dataset dir.
    */
  private def memoStore(s: SparkSession, d: String, prefix: String,
      split: Boolean)(
      write: (DataFrame, String, String) => Unit,
      append: (SparkSession, String, DataFrame) => Unit): String =
    graft.Caches.store(s, d,
        if (split) s"${prefix}_half_%s" else s"${prefix}_%s")(b =>
        Seq("postings", "docs", "totals", "uni", "big")
          .map(suf => s"${b}_$suf")) { (base, dir) =>
      // NOT parallelized (r16 measured): the build is a burst of small
      // jobs (write + append legs) whose extra 32-way head exchange
      // cost more in task scheduling than the one-task tokenize it
      // spread out (+1 s on the bm25 append row in the quiet A/B)
      val docs = Tables.documents(s, d)
      val history =
        if (split) docs.filter(pmod(col("doc_id"), lit(2)) === 0) else docs
      write(history, base, dir)
      if (split)
        append(s, base, docs.filter(pmod(col("doc_id"), lit(2)) =!= 0))
    }

  /** Parity slice of the PERSISTED corpus postings frame — the filter
    * sits ABOVE the cached aggregate, so a store build reads the
    * InMemoryRelation instead of re-tokenizing its slice below it
    * (r17 — the r16 verdict's task 6: filter-below-the-aggregate can
    * never plan-match the cache; filter-above always does, and
    * postingsOf(docs.filter(p)) ≡ postingsOf(docs).filter(p) because
    * doc_id is a group key).
    */
  private def postingsSlice(s: SparkSession, d: String,
      parity: Option[Int]): DataFrame = {
    val p = postings(s, d)
    parity.map(r => p.filter(pmod(col("doc_id"), lit(2)) === r))
      .getOrElse(p)
  }

  private def searchStore(s: SparkSession, d: String, split: Boolean)
      : String =
    memoStore(s, d, "graft_bm25", split)(
      (h, base, dir) => graft.sources.SearchIndex.write(h, base, dir,
        posts = Some(postingsSlice(s, d, if (split) Some(0) else None))),
      (sp, base, b) => graft.sources.SearchIndex.append(sp, base, b,
        stats = Some(postingsSlice(s, d, Some(1)))))

  private val bm25IndexSearch = GraftQuery(
    "bm25_index_search",
    (s, d) => graft.sources.SearchIndex.search(
      s, searchStore(s, d, split = false), bm25Terms, bm25K),
    Some(bm25OracleSql))

  private val bm25IndexAppendSearch = GraftQuery(
    "bm25_index_append_search",
    (s, d) => graft.sources.SearchIndex.search(
      s, searchStore(s, d, split = true), bm25Terms, bm25K),
    Some(bm25OracleSql))

  // ---- I5: the persisted-LM path (sources/LmStore) ----
  // Same gating as I4: counts are additive over disjoint doc sets and
  // the scoring tail is shared by reference, so the full-build row AND
  // the write-evens/append-odds row must both hash-match I1's oracle
  // verbatim.
  /** Parity slice of BOTH cached per-doc frames as LmStore build
    * stats — same filter-above-the-cache argument as
    * [[postingsSlice]]; docBigramsOf commutes with a doc_id filter
    * for the same doc_id-is-a-group-key reason.
    */
  private def lmStats(s: SparkSession, d: String,
      parity: Option[Int]): graft.sources.LmStore.DocStats = {
    def slice(df: DataFrame): DataFrame =
      parity.map(r => df.filter(pmod(col("doc_id"), lit(2)) === r))
        .getOrElse(df)
    graft.sources.LmStore.DocStats(
      slice(corpusDocBigrams(s, d)),
      slice(postings(s, d))
        .select(col("doc_id"), col("word"), col("tf")))
  }

  private def lmStore(s: SparkSession, d: String, split: Boolean)
      : String =
    memoStore(s, d, "graft_lm", split)(
      (h, base, dir) => graft.sources.LmStore.write(h, base, dir,
        stats = Some(lmStats(s, d, if (split) Some(0) else None))),
      (sp, base, b) => graft.sources.LmStore.append(sp, base, b,
        stats = Some(lmStats(s, d, Some(1)))))

  // the scored batch rides Tables.parallelized so the per-doc bigram
  // subplan is IDENTICAL to lm_score's persistTracked one — the scoring
  // joins then read the shared InMemoryRelation instead of re-running
  // the corpus tokenize single-threaded (r16 optimization round)
  private val lmIndexScore = GraftQuery(
    "lm_index_score",
    (s, d) => graft.sources.LmStore.score(
      s, lmStore(s, d, split = false),
      Tables.parallelized(Tables.documents(s, d))),
    Some(lmOracleSql))

  private val lmIndexAppendScore = GraftQuery(
    "lm_index_append_score",
    (s, d) => graft.sources.LmStore.score(
      s, lmStore(s, d, split = true),
      Tables.parallelized(Tables.documents(s, d))),
    Some(lmOracleSql))

  // ---- I3: keyword_extract — per-doc top-3 tf-idf terms ----
  // The per-document salient-term annotation (tagging / topic routing /
  // dedup explainability): score_q20 = tf · idf_q20 over the FULL
  // postings frame, idf from the same G14 log over the vocab-sized df
  // table, then the G7 TopKPerKey operator takes the per-doc top 3
  // under (score DESC, word) — bounded per-key heaps with map-side
  // pruning, never a window over a corpus-sized partition.
  private val keywordExtract = GraftQuery(
    "keyword_extract",
    (s, d) => {
      val p = postings(s, d)
      val totals = broadcast(docWords(s, d).agg(count(lit(1)).as("n")))
      // postings is distinct on (doc_id, word) by construction, so df
      // is a plain count — no distinct aggregation needed
      val dfTab = p.groupBy(col("word"))
        .agg(count(lit(1)).as("df"))
      val scored = p
        .join(dfTab, Seq("word"))
        .crossJoin(totals)
        .select(col("doc_id"), col("word"), col("tf"),
          (col("tf") * (lg(col("n") + lit(1L)) - lg(col("df"))))
            .as("score_q20"))
      TopKPerKey(scored, Seq(col("doc_id")),
          Seq(col("score_q20").desc, col("word")), 3)
        .orderBy(col("doc_id"), col("score_q20").desc, col("word"))
    },
    Some(s"""
      WITH RECURSIVE w AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      dw AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
      post AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(w) AS word FROM dw) GROUP BY 1, 2),
      dftab AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df
        FROM post GROUP BY 1),
      totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dw),
      loginputs AS (
        SELECT DISTINCT val FROM (
          SELECT (SELECT n FROM totals) + 1 AS val
          UNION ALL
          SELECT df AS val FROM dftab)),
      ${Portable.sql.log2CteSql("loginputs", "logsteps", "logs")},
      scored AS (
        SELECT p.doc_id, p.word, p.tf,
          p.tf * (ln.log2_q20 - ld.log2_q20) AS score_q20
        FROM post p
        JOIN dftab f ON p.word = f.word
        CROSS JOIN totals tt
        JOIN logs ln ON ln.val = tt.n + 1
        JOIN logs ld ON ld.val = f.df),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY score_q20 DESC, word) AS rk
        FROM scored)
      SELECT doc_id, word, tf, score_q20 FROM ranked WHERE rk <= 3
      ORDER BY doc_id, score_q20 DESC, word
      """))

  // ---- I6: phrase_search — exact phrase retrieval ----
  // The positional complement of I2's bag-of-words ranking: find every
  // document containing the EXACT token sequence, with its occurrence
  // count (stride-1, so overlapping occurrences all count — "a a a"
  // holds "a a" twice). Retrieval engines ship this as positional
  // postings; the Spark shape is the same idea as a chain join: one
  // posexplode pass keeps ONLY the phrase terms' (doc_id, pos) rows
  // (query-vocabulary-sized from there on — the corpus's other words
  // never shuffle), each term's slice is offset-normalized to the
  // phrase start (term i at position p anchors a candidate start
  // p − i), and an occurrence is an (doc_id, start) key surviving the
  // equi-join across ALL term slices. Every join is a codegen'd
  // hash/sort-merge equi-join on (doc_id, start); no window, no HOF on
  // the hot path. At 100 TB the positional slice per term is tf-sized —
  // the same "the read is the query's posting mass" contract as I4.
  private[graft] val phraseTerms = Seq("table", "value")

  /** Occurrence counts (doc_id, n_occurrences) of the exact `phrase`
    * over a (doc_id, text) frame; docs without a hit have no row.
    */
  private[graft] def phraseHitsOf(docs: DataFrame,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    // one pass keeps only the phrase terms' positions; persisted
    // because every term slice below branches off it (no cross-branch
    // CSE) — the frame is query-term-positions-sized, not corpus-sized
    val toks = docs
      .select(col("doc_id"),
        posexplode(words(col("text"))).as(Seq("pos", "w")))
      .filter(col("w").isin(phrase.distinct: _*))
      .persistTracked
    val slices = phrase.zipWithIndex.map { case (t, i) =>
      toks.filter(col("w") === t)
        .select(col("doc_id"), (col("pos") - i).as("p"))
    }
    slices.reduce((a, b) => a.join(b, Seq("doc_id", "p")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  private val phraseSearch = GraftQuery(
    "phrase_search",
    (s, d) => phraseHitsOf(
        Tables.parallelized(Tables.documents(s, d)), phraseTerms)
      .orderBy(col("doc_id")),
    Some {
      val sliceCtes = phraseTerms.zipWithIndex.map { case (t, i) =>
        s"s$i AS (SELECT doc_id, pos - $i AS p FROM tok WHERE word = '$t')"
      }.mkString(",\n      ")
      val joins = phraseTerms.indices.tail
        .map(i => s"JOIN s$i USING (doc_id, p)").mkString(" ")
      s"""
      WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents),
      px AS (SELECT doc_id, unnest(range(len(w))) AS i, w FROM t),
      tok AS (SELECT doc_id, i AS pos, w[CAST(i AS INTEGER)+1] AS word
              FROM px),
      $sliceCtes,
      hits AS (SELECT s0.doc_id, s0.p FROM s0 $joins)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM hits GROUP BY doc_id ORDER BY doc_id
      """
    })

  // ---- I7: collocations — corpus bigram association by exact PMI ----
  // The classic collocation-mining score (pointwise mutual information)
  // over the corpus bigram table, entirely in G14 fixed-point logs so
  // the log-weighted ranking carries a full hash-match oracle:
  //   pmi_q20 = lg(c12) − lg(B) + 2·lg(T) − lg(c_a) − lg(c_b)
  // with B the corpus bigram total and T the token total — every input
  // a positive int64, every term exact, the subtraction exact. The
  // count floor keeps the estimator out of its small-count noise
  // regime; top-k under the (pmi DESC, w1, w2) total order is
  // TakeOrderedAndProject — never a global sort. Model-sized frames
  // (unigram/bigram counts) are vocabulary-bounded and AQE-broadcast
  // at scale; the corpus contributes one explode + one combine-heavy
  // aggregation (shared with E7/I1's frames).
  private val pmiMinCount = 5L
  private val pmiK = 50

  private val collocations = GraftQuery(
    "collocations",
    (s, d) => {
      val docs = Tables.parallelized(Tables.documents(s, d))
      val bi = docBigramsOf(docs)
        .groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("c12"))
      // unigram counts from the shared postings cache (≡ uniCountsOf:
      // summing per-doc tf over docs is counting occurrences) — the
      // lm_score spelling; a fresh uniCountsOf(docs) would re-explode
      // the whole corpus a second time for a vocab-sized frame
      val uni = postings(s, d)
        .groupBy(col("word")).agg(sum(col("tf")).as("c1"))
      val totals = broadcast(
        bi.agg(sum(col("c12")).as("b"))
          .crossJoin(uni.agg(sum(col("c1")).as("t"))))
      bi.filter(col("c12") >= pmiMinCount)
        .join(uni.select(col("word").as("w1"), col("c1").as("ca")), "w1")
        .join(uni.select(col("word").as("w2"), col("c1").as("cb")), "w2")
        .crossJoin(totals)
        .select(col("w1"), col("w2"), col("c12"),
          (lg(col("c12")) - lg(col("b")) + lit(2L) * lg(col("t"))
            - lg(col("ca")) - lg(col("cb"))).as("pmi_q20"))
        .orderBy(col("pmi_q20").desc, col("w1"), col("w2"))
        .limit(pmiK)
    },
    Some(s"""
      WITH RECURSIVE w AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      dw AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
      uni AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(w) AS word FROM dw) GROUP BY 1),
      big AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM (
          SELECT unnest(list_slice(w, 1, len(w)-1)) AS w1,
            unnest(list_slice(w, 2, len(w))) AS w2
          FROM dw WHERE len(w) >= 2)
        GROUP BY 1, 2),
      totals AS (
        SELECT (SELECT CAST(SUM(c12) AS BIGINT) FROM big) AS b,
          (SELECT CAST(SUM(c1) AS BIGINT) FROM uni) AS t),
      kept AS (SELECT * FROM big WHERE c12 >= $pmiMinCount),
      loginputs AS (
        SELECT DISTINCT val FROM (
          SELECT c12 AS val FROM kept
          UNION ALL SELECT b AS val FROM totals
          UNION ALL SELECT t AS val FROM totals
          UNION ALL SELECT c1 AS val FROM uni)),
      ${Portable.sql.log2CteSql("loginputs", "logsteps", "logs")},
      scored AS (
        SELECT k.w1, k.w2, k.c12,
          lc.log2_q20 - lb.log2_q20 + 2 * lt.log2_q20
            - la.log2_q20 - l2.log2_q20 AS pmi_q20
        FROM kept k
        JOIN uni ua ON k.w1 = ua.word
        JOIN uni ub ON k.w2 = ub.word
        CROSS JOIN totals tt
        JOIN logs lc ON lc.val = k.c12
        JOIN logs lb ON lb.val = tt.b
        JOIN logs lt ON lt.val = tt.t
        JOIN logs la ON la.val = ua.c1
        JOIN logs l2 ON l2.val = ub.c1)
      SELECT w1, w2, c12, pmi_q20 FROM scored
      ORDER BY pmi_q20 DESC, w1, w2 LIMIT $pmiK
      """))

  // ---- I8: doc_similarity — exact all-pairs tf-idf cosine τ-join ----
  // The similarity-JOIN complement of the D block's top-k search: every
  // document pair whose tf-idf cosine clears τ, with EXACT recall — the
  // AllPairs/PPJoin prefix-filter family (Bayardo et al., WWW'07)
  // re-expressed as three codegen'd equi-joins. A doc's terms are
  // ordered rare-first (df ASC, word); the remaining-bound rb(i) =
  // Σ_{j≥i} ŵ_j·maxŵ_j caps the cosine any partner can reach through
  // terms from position i on, so only positions with rb ≥ τ (the
  // PREFIX) need indexing: a qualifying pair shares a prefix term of
  // BOTH sides (cos ≤ rb at the first shared position, by definition
  // of the global order), so prefix ⋈ full-postings candidate
  // generation misses nothing. The final verdict recomputes the exact
  // int-weight cosine, so prefix-side float arithmetic can only cost
  // candidates, never correctness — and the brute-force oracle's hash
  // match re-proves recall 1 on every run.
  //
  // Scale shape: weights/norms are the I3 frames (one aggregation
  // each); the prefix bound is a per-doc window (partition ≤ doc
  // vocabulary, never corpus-sized); candidate cost is
  // Σ_t |prefix(t)|·df(t) — on a Zipf vocabulary the common terms that
  // dominate Σ df² sort LAST and fall out of every prefix, which is
  // what makes the τ-join tractable at 100 TB. The testdata's 31-word
  // flat vocabulary is the technique's provable WORST case (nothing is
  // rare ⇒ ~30% pruning, measured), so the gate row runs the
  // doc_id % 3 ≡ 0 slice to keep the oracle's Σ df² bounded; the
  // operator itself takes any postings frame.
  private[graft] val simTau = 0.85

  /** Float-safety margin on the prefix admission bound — the ONE float
    * computation allowed to influence candidate generation. It must
    * never round a qualifying pair out: round(cos, 6) ≥ τ admits true
    * cosines down to τ − 5e-7, and the ≤ doc-vocabulary running float
    * sum carries ≲ 1e-13 relative error; 1e-6 + 5e-7 covers both with
    * margin to spare, at the price of a few extra candidates.
    */
  private val simRbMargin = 1.5e-6

  /** All pairs with tf-idf cosine ≥ `tau` over a (doc_id, word, tf)
    * postings frame → (doc_a, doc_b, cos_sim), doc_a < doc_b.
    *
    * Exactness spelling: weights are int64 tf·idf_q20; dots and norms
    * run as THREE pure int64 sums over the weights' 20-bit hi/lo
    * halves (w = hi·2^20 + lo), reconstructed in double by the
    * identical three-term IEEE expression in both engines. Splitting
    * keeps the corpus-pair-sized aggregation in codegen'd long
    * arithmetic — a DECIMAL(38) sum here runs on heap BigDecimals
    * (Spark decimals are long-backed only to 18 digits) and measured
    * 33 s steady at sf0.1 vs ~4 s split. Width budget: products and
    * partial sums stay exact for w < 2^41 — i.e. tf < 2^15 at the
    * idf_q20 ceiling of 2^26 — over up to 2^20 shared terms per pair;
    * the I2 discipline of stating where int64 passes out.
    */
  private[graft] def docSimilarityOver(p: DataFrame,
      tau: Double): DataFrame = {
    val totals = broadcast(
      p.select(col("doc_id")).distinct().agg(count(lit(1)).as("n")))
    val dfTab = p.groupBy(col("word")).agg(count(lit(1)).as("df"))
    // w fans into the norm agg, the prefix window and BOTH dot sides —
    // but deliberately NOT persisted: it is one cheap join+projection
    // off the postings frame, and a cached copy poisons AQE's join
    // planning downstream (an InMemoryRelation's stats are its
    // in-memory size, so the weight-table dot-join sides stop
    // broadcasting and the candidate join degrades to corpus-scale
    // shuffles)
    val w = p.join(dfTab, Seq("word")).crossJoin(totals)
      .select(col("doc_id"), col("word"), col("df"),
        (col("tf") * (lg(col("n") + lit(1L)) - lg(col("df")))).as("w"))
      .withColumn("hi", shiftrightunsigned(col("w"), 20))
      .withColumn("lo", col("w").bitwiseAND(lit((1L << 20) - 1)))
      .persistTracked
    // the three-term double reconstruction — ONE spelling for norms
    // (a = b) and dots, mirrored verbatim in the oracle SQL
    def recon(s1: Column, s2: Column, s3: Column): Column =
      s1.cast(DoubleType) * lit(1099511627776.0) +
        s2.cast(DoubleType) * lit(1048576.0) + s3.cast(DoubleType)
    val n2 = w.groupBy(col("doc_id"))
      .agg(sum(col("hi") * col("hi")).as("s1"),
        sum(col("hi") * col("lo") + col("lo") * col("hi")).as("s2"),
        sum(col("lo") * col("lo")).as("s3"))
      .select(col("doc_id"),
        recon(col("s1"), col("s2"), col("s3")).as("n2"))
    val wn = w.join(n2, "doc_id")
      .withColumn("wn", col("w").cast(DoubleType) / sqrt(col("n2")))
    val mx = wn.groupBy(col("word")).agg(max(col("wn")).as("mw"))
    val rbW = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("word"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = wn.join(broadcast(mx), Seq("word"))
      .withColumn("rb", sum(col("wn") * col("mw")).over(rbW))
      .filter(col("rb") >= tau - simRbMargin)
      .select(col("doc_id").as("da"), col("word"))
    // da < db, not merely da ≠ db: the prefix guarantee is direction-
    // free (a qualifying pair shares a term in prefix(x) ∩ terms(y)
    // for EITHER naming of the sides), so generating only the ordered
    // orientation halves the candidate stream and the distinct behind
    // it — the measured hotspot
    val cand = prefix
      .join(w.select(col("doc_id").as("db"), col("word")), Seq("word"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"))
      .distinct()
    // dots run PER PAIR, not per (pair, shared term): each doc's
    // word-sorted weight vector packs once (doc-count-sized frame),
    // the pair stream joins it twice, and the G15 kernel
    // merge-intersects the two sorted arrays in one codegen'd loop.
    // The per-term join formulation this replaced streamed
    // |pairs|·|terms| rows into a (doc, word) sort-merge join — at 8×
    // data that stream hit ~300M rows and its SMJ sort was the whole
    // scale story (measured 16× wall at 8× data; pair-packed, the
    // stream is |pairs| rows and the sort is gone).
    val dv = w.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("word"), col("w"))))
        .as("ps"))
      .select(col("doc_id"),
        transform(col("ps"), p => p("word")).as("ws"),
        transform(col("ps"), p => p("w")).as("wv"))
      .persistTracked
    val dot = cand
      .join(dv.select(col("doc_id").as("doc_a"), col("ws").as("aw"),
        col("wv").as("av")), Seq("doc_a"))
      .join(dv.select(col("doc_id").as("doc_b"), col("ws").as("bw"),
        col("wv").as("bv")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Portable.dotPackQ20(col("aw"), col("av"), col("bw"), col("bv"))
          .as("s"))
      .select(col("doc_a"), col("doc_b"),
        recon(col("s")(0), col("s")(1), col("s")(2)).as("dot"))
    dot
      .join(n2.select(col("doc_id").as("doc_a"), col("n2").as("na")),
        Seq("doc_a"))
      .join(n2.select(col("doc_id").as("doc_b"), col("n2").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val docSimilarity = GraftQuery(
    "doc_similarity",
    (s, d) => docSimilarityOver(
      postings(s, d).filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("word"), col("tf")), simTau),
    Some(s"""
      WITH RECURSIVE w AS (
        SELECT doc_id, $wordsSql AS w FROM documents
        WHERE doc_id % 3 = 0),
      dw AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
      post AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(w) AS word FROM dw) GROUP BY 1, 2),
      dftab AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df
        FROM post GROUP BY 1),
      totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dw),
      loginputs AS (
        SELECT DISTINCT val FROM (
          SELECT (SELECT n FROM totals) + 1 AS val
          UNION ALL
          SELECT df AS val FROM dftab)),
      ${Portable.sql.log2CteSql("loginputs", "logsteps", "logs")},
      wt AS (
        SELECT p.doc_id, p.word,
          (p.tf * (ln.log2_q20 - ld.log2_q20)) >> 20 AS hi,
          (p.tf * (ln.log2_q20 - ld.log2_q20)) & 1048575 AS lo
        FROM post p
        JOIN dftab f ON p.word = f.word
        CROSS JOIN totals tt
        JOIN logs ln ON ln.val = tt.n + 1
        JOIN logs ld ON ld.val = f.df),
      n2 AS (
        SELECT doc_id,
          CAST(CAST(SUM(hi * hi) AS BIGINT) AS DOUBLE)
              * CAST(1099511627776 AS DOUBLE)
            + CAST(CAST(SUM(hi * lo + lo * hi) AS BIGINT) AS DOUBLE)
              * CAST(1048576 AS DOUBLE)
            + CAST(CAST(SUM(lo * lo) AS BIGINT) AS DOUBLE) AS n2
        FROM wt GROUP BY 1),
      dotp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(CAST(SUM(a.hi * b.hi) AS BIGINT) AS DOUBLE)
              * CAST(1099511627776 AS DOUBLE)
            + CAST(CAST(SUM(a.hi * b.lo + a.lo * b.hi) AS BIGINT)
                AS DOUBLE)
              * CAST(1048576 AS DOUBLE)
            + CAST(CAST(SUM(a.lo * b.lo) AS BIGINT) AS DOUBLE) AS d
        FROM wt a JOIN wt b ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sim AS (
        SELECT doc_a, doc_b,
          round(d / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos_sim
        FROM dotp
        JOIN n2 na ON dotp.doc_a = na.doc_id
        JOIN n2 nb ON dotp.doc_b = nb.doc_id)
      SELECT doc_a, doc_b, cos_sim FROM sim WHERE cos_sim >= $simTau
      ORDER BY doc_a, doc_b
      """))

  // ---- E11: token_entropy — per-doc Shannon entropy, exact Q20 ----
  // The distributional quality signal beside E2's surface ratios and
  // I1's model-based cross-entropy: low entropy flags repetition
  // loops/boilerplate (few tokens dominate), entropy ≈ log2(N) flags
  // hapax-everything gibberish. Shannon entropy needs a log, which is
  // exactly what G14 makes oracle-able:
  //   H_q20 = log2q20(N) − ⌊Σ_w c_w · log2q20(c_w) / N⌋
  // (the identity H = log2 N − (1/N)·Σ c·log2 c in pure int64; the
  // one floor division is mirrored in both engines). ratio_ppm
  // normalizes by the doc's max entropy log2(N) — 1e6 = all tokens
  // distinct, small = dominated by repeats.
  //
  // Width budget: Σ c_w·log2q20(c_w) ≤ N·63·2^20 < N·2^26 — int64-safe
  // to N < 2^37 tokens per DOCUMENT (any real document; a 100 TB
  // corpus bounds N per doc, not the corpus). Scale shape: one
  // per-(doc, word) count (the SHARED postings cache — no new corpus
  // explode) + one map-side-combining per-doc aggregation; log2q20 is
  // the native codegen'd kernel per POSTING row, never per token.
  private val tokenEntropy = GraftQuery(
    "token_entropy",
    (s, d) => {
      val p = postings(s, d)
      p.groupBy(col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("tf") * lg(col("tf"))).as("sum_clog"))
        .withColumn("entropy_q20",
          lg(col("dl")) - expr("sum_clog div dl"))
        .withColumn("entropy_bits",
          round(col("entropy_q20") / lit(Q20.toDouble), 6))
        .withColumn("logn", lg(col("dl")))
        .withColumn("entropy_ratio_ppm",
          when(col("dl") > 1,
            expr("(entropy_q20 * 1000000) div logn"))
            .otherwise(lit(0L)))
        .select(col("doc_id"), col("dl").as("n_tokens"),
          col("n_distinct"), col("entropy_q20"), col("entropy_bits"),
          col("entropy_ratio_ppm"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE w AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      dw AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM w
        WHERE len(w) > 0),
      post AS (
        SELECT doc_id, dl, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(w) AS word FROM dw)
        GROUP BY 1, 2, 3),
      loginputs AS (
        -- explicit outer DISTINCT: under WITH RECURSIVE, DuckDB does
        -- NOT set-dedupe a plain UNION of two non-self-referencing
        -- branches, and tf and dl ranges OVERLAP (a val in both would
        -- walk the log recursion twice and double every joined row)
        SELECT DISTINCT val FROM (
          SELECT tf AS val FROM post
          UNION ALL
          SELECT dl AS val FROM dw)),
      ${Portable.sql.log2CteSql("loginputs", "logsteps", "logs")},
      agg AS (
        SELECT p.doc_id, p.dl, CAST(COUNT(*) AS BIGINT) AS n_distinct,
          CAST(SUM(p.tf * l.log2_q20) AS BIGINT) AS sum_clog
        FROM post p JOIN logs l ON l.val = p.tf
        GROUP BY 1, 2),
      e AS (
        SELECT a.doc_id, a.dl, a.n_distinct,
          ln.log2_q20 - (a.sum_clog // a.dl) AS entropy_q20,
          ln.log2_q20 AS logn
        FROM agg a JOIN logs ln ON ln.val = a.dl)
      SELECT doc_id, dl AS n_tokens, n_distinct, entropy_q20,
        round(entropy_q20 / ${Q20}.0, 6) AS entropy_bits,
        CASE WHEN dl > 1 THEN (entropy_q20 * 1000000) // logn
             ELSE 0 END AS entropy_ratio_ppm
      FROM e ORDER BY doc_id
      """))

  // ---- E12: doc_kl — per-doc KL divergence from the corpus ----
  // The domain-outlier signal beside E11's within-doc entropy: how far
  // each document's unigram distribution sits from the corpus's,
  //   D = Σ_w (c_w/N) · log2( (c_w/N) / (C_w/T) )
  // in exact Q20 via the product form log2(c_w·T) − log2(N·C_w) (both
  // args positive ints). High KL = off-domain text (a code file in a
  // prose corpus, the wrong language, spam); near-zero = corpus-
  // typical. Per-TERM differences are signed; the unnormalized
  //   kl_sum_q20 = Σ c_w·(log2q20(c_w·T) − log2q20(N·C_w))
  // stays exact int64, and the per-token rate is reported as ONE IEEE
  // division + round (integer div is avoided on purpose: Spark's `div`
  // truncates toward zero while DuckDB's `//` floors, and the sum can
  // be epsilon-negative under log truncation even though true KL ≥ 0).
  //
  // Width budget: log args ≤ N·T — int64-safe while max-within-doc
  // term count × corpus tokens < 2^63 (c_w < 2^20 at a T = 1e13 ≈ 2^43
  // corpus — the same envelope bm25's tf·T products document; past it,
  // split the logs at a documented determinism break).
  private val docKl = GraftQuery(
    "doc_kl",
    (s, d) => {
      val p = postings(s, d)
      val uni = p.groupBy(col("word")).agg(sum(col("tf")).as("c1"))
      val tot = uni.agg(sum(col("c1")).as("t"))
      p.join(uni, Seq("word"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("dl"),
          (col("tf") * (lg(col("tf") * col("t")) -
            lg(col("dl") * col("c1")))).as("term_q20"))
        .groupBy(col("doc_id"), col("dl"))
        .agg(sum(col("term_q20")).as("kl_sum_q20"))
        .withColumn("kl_bits_per_token",
          round(col("kl_sum_q20") /
            (col("dl").cast(DoubleType) * lit(Q20.toDouble)), 6))
        .select(col("doc_id"), col("dl").as("n_tokens"),
          col("kl_sum_q20"), col("kl_bits_per_token"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE w AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      dw AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM w
        WHERE len(w) > 0),
      post AS (
        SELECT doc_id, dl, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(w) AS word FROM dw)
        GROUP BY 1, 2, 3),
      uni AS (
        SELECT word, CAST(SUM(tf) AS BIGINT) AS c1 FROM post GROUP BY 1),
      tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t FROM uni),
      loginputs AS (
        SELECT DISTINCT val FROM (
          SELECT tf * (SELECT t FROM tot) AS val FROM post
          UNION ALL
          SELECT p.dl * u.c1 AS val
          FROM post p JOIN uni u ON p.word = u.word)),
      ${Portable.sql.log2CteSql("loginputs", "logsteps", "logs")},
      scored AS (
        SELECT p.doc_id, p.dl,
          p.tf * (ln.log2_q20 - ld.log2_q20) AS term_q20
        FROM post p
        JOIN uni u ON p.word = u.word
        JOIN logs ln ON ln.val = p.tf * (SELECT t FROM tot)
        JOIN logs ld ON ld.val = p.dl * u.c1),
      agg AS (
        SELECT doc_id, dl, CAST(SUM(term_q20) AS BIGINT) AS kl_sum_q20
        FROM scored GROUP BY 1, 2)
      SELECT doc_id, dl AS n_tokens, kl_sum_q20,
        round(kl_sum_q20 / (dl * ${Q20}.0), 6) AS kl_bits_per_token
      FROM agg ORDER BY doc_id
      """))

  // ---- E13: vocab_stats — the corpus vocabulary report ----
  // The Zipf/coverage dashboard a data pipeline checks before trusting
  // token budgets: per frequency BAND (hapax, 2–10, 11–100, …, the
  // powers-of-ten decades), how many types fall in it, how many tokens
  // they carry, and each band's share of the token mass in exact ppm.
  // A healthy natural corpus is hapax-heavy in types and head-heavy in
  // tokens; a synthetic/looped corpus inverts that. One vocab-sized
  // frame off the shared postings cache — the corpus explode is never
  // re-run — and integer-exact throughout.
  private val vocabStats = GraftQuery(
    "vocab_stats",
    (s, d) => {
      val uni = postings(s, d)
        .groupBy(col("word")).agg(sum(col("tf")).as("c1"))
      val banded = uni.withColumn("band",
        when(col("c1") === 1, lit(0L))
          .otherwise(length(col("c1").cast(StringType)).cast(LongType)))
      val g = banded.groupBy(col("band"))
        .agg(count(lit(1)).as("n_types"), sum(col("c1")).as("n_tokens"))
      val tot = broadcast(g.agg(sum(col("n_tokens")).as("t"),
        sum(col("n_types")).as("v")))
      // ppm numerators widened to DECIMAL(38,0) (the source_report
      // discipline): plain int64 1e6·n_tokens silently wraps past
      // ~9.2e12 tokens in non-ANSI Spark while DuckDB raises — a
      // divergence inside the 100 TB envelope. `div` still lands BIGINT.
      g.crossJoin(tot)
        .withColumn("token_share_ppm",
          expr("(CAST(1000000 AS DECIMAL(38,0)) * n_tokens) div t"))
        .withColumn("type_share_ppm",
          expr("(CAST(1000000 AS DECIMAL(38,0)) * n_types) div v"))
        .select(col("band"), col("n_types"), col("n_tokens"),
          col("type_share_ppm"), col("token_share_ppm"))
        .orderBy(col("band"))
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      dw AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
      uni AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT doc_id, unnest(w) AS word FROM dw) GROUP BY 1),
      banded AS (
        SELECT CASE WHEN c1 = 1 THEN 0
                    ELSE len(CAST(c1 AS VARCHAR)) END AS band, c1
        FROM uni),
      g AS (SELECT CAST(band AS BIGINT) AS band,
          CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(c1) AS BIGINT) AS n_tokens
        FROM banded GROUP BY 1),
      t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
          CAST(SUM(n_types) AS BIGINT) AS v FROM g)
      SELECT g.band, g.n_types, g.n_tokens,
        CAST((CAST(1000000 AS HUGEINT) * g.n_types) // t.v AS BIGINT)
          AS type_share_ppm,
        CAST((CAST(1000000 AS HUGEINT) * g.n_tokens) // t.t AS BIGINT)
          AS token_share_ppm
      FROM g, t ORDER BY g.band
      """))

  override val queries: Seq[GraftQuery] =
    Seq(lmScore, bm25Search, keywordExtract,
      bm25IndexSearch, bm25IndexAppendSearch,
      lmIndexScore, lmIndexAppendScore, phraseSearch, collocations,
      docSimilarity, tokenEntropy, docKl, vocabStats, ccnetBuckets)
}
