package graft.operators

import graft.{GraftQuery, QueryPack}
import graft.functions.Portable
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 block E — text analysis over the `documents` table: the
  * per-document scoring passes a training-data pipeline runs before
  * filtering/dedup (language ID, quality, token counts, fingerprints).
  *
  * Every operator is a pure per-row projection (no shuffle at all except
  * the output ORDER BY, which exists only for the deterministic oracle
  * compare): at 100 TB these pipeline into the parquet scan and run at
  * I/O speed. No UDFs — all string work is codegen'd Spark functions with
  * exact DuckDB mirrors (SURVEY.md §6 determinism rules).
  */
object TextPack extends QueryPack {

  import Portable._

  /** Stopword profiles for the n-gram/stopword language-ID heuristic.
    * Ordered — the CASE preference order on score ties is the list order.
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des", "en", "un", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "den"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  private def scoreCol(ws: Column, stop: Seq[String]): Column = {
    val set = array(stop.map(lit): _*)
    round(size(filter(ws, w => array_contains(set, w))).cast(DoubleType) /
      size(ws), 6)
  }

  private def scoreSql(stop: Seq[String]): String = {
    val set = stop.map(s => s"'$s'").mkString("[", ", ", "]")
    s"round(len(list_filter(w, x -> list_contains($set, x)))::DOUBLE / len(w), 6)"
  }

  // E1 — language ID: stopword-profile scores per language, argmax with a
  // fixed preference order on ties. (On this synthetic corpus every text
  // draws from one English-ish vocabulary, so the mechanism — not corpus
  // accuracy — is what the oracle verifies.)
  /** (doc_id, score_*, pred_lang) for every doc with ≥ 1 word — shared
    * by E1 and the E10 confusion matrix.
    */
  private def langScored(s: SparkSession, d: String): DataFrame = {
    val base = Tables.parallelized(Tables.documents(s, d))
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
    val scored = base.select(
      (col("doc_id") +: profiles.map { case (l, st) =>
        scoreCol(col("w"), st).as(s"score_$l")
      }): _*)
    val pred = profiles.init.foldRight(lit(profiles.last._1)) {
      case ((l, _), els) =>
        val c = col(s"score_$l")
        val beats = profiles.filter(_._1 != l)
          .map(o => c >= col(s"score_${o._1}")).reduce(_ && _)
        when(beats, l).otherwise(els)
    }
    scored.withColumn("pred_lang", pred)
  }

  private val langId = GraftQuery(
    "lang_id",
    (s, d) => langScored(s, d).orderBy(col("doc_id")),
    Some(s"""
      WITH $langScoredSql
      SELECT * FROM predicted ORDER BY doc_id
      """))

  /** CTE chain `w → scored → predicted(doc_id, score_*, pred_lang)` —
    * the DuckDB spelling shared by the E1 and E10 oracles.
    */
  private lazy val langScoredSql: String = {
    val scores = profiles.map { case (l, st) =>
      s"${scoreSql(st)} AS score_$l"
    }.mkString(",\n          ")
    val pred = profiles.init.map { case (l, _) =>
      val beats = profiles.filter(_._1 != l)
        .map(o => s"score_$l >= score_${o._1}").mkString(" AND ")
      s"WHEN $beats THEN '$l'"
    }.mkString("\n          ")
    s"""w AS (
        SELECT doc_id, ${Portable.sql.words} AS w FROM documents),
      scored AS (
        SELECT doc_id,
          $scores
        FROM w WHERE len(w) > 0),
      predicted AS (
        SELECT *, CASE $pred ELSE '${profiles.last._1}' END AS pred_lang
        FROM scored)"""
  }

  // E10 — the language-ID CONFUSION MATRIX against the corpus's own
  // lang labels: per (true lang, predicted lang) doc counts and the
  // exact-ppm share of the true language — the model-evaluation view a
  // pipeline runs before trusting E1's routing (H2 shards and H6
  // quotas key on language). One join of the E1 prediction frame
  // against the label column + one map-side-combining count; shares by
  // agg + join-back in exact integer division. (On this synthetic
  // corpus every text draws from one vocabulary, so the matrix mostly
  // measures the tie-preference order — the MECHANISM, like E1.)
  private val langConfusion = GraftQuery(
    "lang_confusion",
    (s, d) => {
      val g = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(langScored(s, d).select(col("doc_id"), col("pred_lang")),
          Seq("doc_id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val totals = g.groupBy(col("lang")).agg(sum(col("n")).as("total"))
      g.join(totals, Seq("lang"))
        .withColumn("share_ppm", expr("(1000000 * n) div total"))
        .select(col("lang"), col("pred_lang"), col("n"), col("share_ppm"))
        .orderBy(col("lang"), col("pred_lang"))
    },
    Some(s"""
      WITH $langScoredSql,
      j AS (SELECT d.lang, p.pred_lang
            FROM documents d JOIN predicted p ON d.doc_id = p.doc_id),
      g AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM j GROUP BY 1, 2),
      t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS total
            FROM g GROUP BY 1)
      SELECT g.lang, g.pred_lang, g.n,
        CAST((1000000 * g.n) // t.total AS BIGINT) AS share_ppm
      FROM g JOIN t ON g.lang = t.lang
      ORDER BY g.lang, g.pred_lang
      """))

  // E2 — quality scoring: length, word stats, alpha ratio, stopword
  // ratio, lexical diversity, and a composite score. No round(): every
  // ratio is floor-to-ppm integer arithmetic carried in doubles (all
  // intermediates are exact integers < 2^53), so the compound score is
  // bit-identical across engines — compound float-then-round would
  // disagree at .5-ULP boundaries (SURVEY.md §6).
  private val textQuality = GraftQuery(
    "text_quality",
    (s, d) => {
      val base = Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text"), words(col("text")).as("w"))
        .filter(size(col("w")) > 0)
      val nWords = size(col("w"))
      val nChars = length(col("text"))
      def ppm(numer: Column, denom: Column): Column =
        floor(numer.cast(DoubleType) * 1000000.0 / denom)
      // sum(len(w)) via the codegen'd identity over the single-space
      // join — tokens carry no whitespace, so len(concat_ws(' ', w)) =
      // Σlen + (n-1); the aggregate-fold spelling is an interpreted
      // per-element lambda (the E4/E8 anti-pattern class)
      val meanWlPpm = ppm(
        length(concat_ws(" ", col("w"))) - (nWords - 1), nWords)
      val alphaPpm = ppm(
        nChars - length(regexp_replace(col("text"), "[a-zA-Z]", "")), nChars)
      val stopSet = array(profiles.head._2.map(lit): _*)
      val stopPpm = ppm(
        size(filter(col("w"), x => array_contains(stopSet, x))), nWords)
      val uniqPpm = ppm(size(array_distinct(col("w"))), nWords)
      base.select(
          col("doc_id"),
          nChars.as("n_chars"),
          nWords.as("n_words"),
          (meanWlPpm / 1.0e6).as("mean_word_len"),
          (alphaPpm / 1.0e6).as("alpha_ratio"),
          (stopPpm / 1.0e6).as("stopword_ratio"),
          (uniqPpm / 1.0e6).as("uniq_word_ratio"),
          ((least(nWords.cast(DoubleType) * 10000.0, lit(1000000.0)) * 5
            + uniqPpm * 3 + alphaPpm * 2) / 1.0e7).as("quality_score"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, text, ${Portable.sql.words} AS w FROM documents),
      m AS (
        SELECT doc_id,
          len(text) AS n_chars,
          len(w) AS n_words,
          floor(list_sum(list_transform(w, x -> len(x)))::DOUBLE * 1000000.0 / len(w)) AS mean_wl_ppm,
          floor((len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE * 1000000.0 / len(text)) AS alpha_ppm,
          floor(len(list_filter(w, x -> list_contains(${profiles.head._2.map(s => s"'$s'").mkString("[", ", ", "]")}, x)))::DOUBLE * 1000000.0 / len(w)) AS stop_ppm,
          floor(len(list_distinct(w))::DOUBLE * 1000000.0 / len(w)) AS uniq_ppm
        FROM w WHERE len(w) > 0)
      SELECT doc_id, n_chars, n_words,
        mean_wl_ppm / 1e6 AS mean_word_len,
        alpha_ppm / 1e6 AS alpha_ratio,
        stop_ppm / 1e6 AS stopword_ratio,
        uniq_ppm / 1e6 AS uniq_word_ratio,
        (least(n_words::DOUBLE * 10000.0, 1000000.0) * 5
          + uniq_ppm * 3 + alpha_ppm * 2) / 1e7 AS quality_score
      FROM m ORDER BY doc_id
      """))

  // E3 — token counting: whitespace tokens and a BPE-ish regex token
  // stream (letter runs / digit runs / single other glyphs), plus
  // chars-per-token — the budget metric an LLM-data pipeline tracks.
  private val tokenCount = GraftQuery(
    "token_count",
    (s, d) => {
      val pat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
      val base = Tables.parallelized(Tables.documents(s, d)).select(
        col("doc_id"),
        size(words(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
          .as("re_tokens"),
        length(col("text")).as("n_chars"))
      base
        .withColumn("chars_per_token",
          round(col("n_chars").cast(DoubleType) / col("re_tokens"), 6))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id,
        len(${Portable.sql.words}) AS ws_tokens,
        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS re_tokens,
        len(text) AS n_chars,
        round(len(text)::DOUBLE
          / len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')), 6) AS chars_per_token
      FROM documents ORDER BY doc_id
      """))

  // E4 — document fingerprinting: md5 of the canonical normal form plus a
  // base-31 polynomial rolling hash mod P over its code points (the
  // portable stand-in for a Rabin fingerprint) via the native codegen'd
  // PolyHash31 kernel — one JVM loop over the raw UTF-8 bytes, replacing
  // an interpreted per-CHARACTER aggregate fold (the E8-merge
  // anti-pattern class: CodegenFallback lambda + a single-char string
  // materialized per character). Exact int64 arithmetic in both engines.
  private val fingerprint = GraftQuery(
    "fingerprint",
    (s, d) => {
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      val norm = normText(col("text"))
      val poly = column(graft.expressions.PolyHash31(expression(norm)))
      // zero-word docs are excluded like E1/E2/E5: they carry no
      // fingerprintable content, and the engines would disagree on the
      // empty case (concat_ws yields '' where DuckDB's empty-list
      // string_agg yields NULL → md5(NULL) row vs md5('') row)
      Tables.parallelized(Tables.documents(s, d)).select(
          col("doc_id"),
          md5(norm).as("fp_md5"),
          poly.as("fp_poly"),
          length(norm).as("n_norm_chars"))
        .filter(col("n_norm_chars") > 0)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH n AS (
        SELECT doc_id,
          list_aggregate(${Portable.sql.words}, 'string_agg', ' ') AS norm
        FROM documents)
      SELECT doc_id, md5(norm) AS fp_md5,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(norm, ''), c -> CAST(ord(c) AS BIGINT))),
          (h, c) -> (h * 31 + c) % $P) AS fp_poly,
        len(norm) AS n_norm_chars
      FROM n WHERE norm IS NOT NULL AND len(norm) > 0 ORDER BY doc_id
      """))

  // E5 — intra-document repetition metrics (the Gopher-class repetition
  // filters: heavily self-repeating documents are low-value training
  // text and a known loss-spike source). Per doc: duplicate-word and
  // duplicate-3-gram fractions plus the top word's frequency share.
  // Word frequencies come from one explode → (doc_id, word) count agg —
  // the same shuffle shape as the dedup shingle pipeline, map-side
  // combinable, well-distributed keys; the 3-gram side stays per-row
  // (distinct shingle count vs n-2 occurrences). All ratios are exact
  // integer ppm (`div`), so cross-engine hashes match bit-for-bit.
  private val textRepetition = GraftQuery(
    "text_repetition",
    (s, d) => {
      val base = Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), words(col("text")).as("w"))
        .filter(size(col("w")) > 0)
      val wc = base
        .select(col("doc_id"), explode(col("w")).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("c"))
      val perDoc = wc.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct_words"),
          max(col("c")).as("top_c"))
      // n/d3 as LONG: size() is int32 and `1000000 * (n - 2 - d3)`
      // would wrap past ~2147 duplicate 3-grams (a 10k-word repetitive
      // doc — exactly this filter's target) while the oracle computes
      // in BIGINT
      val grams = base.select(col("doc_id"),
        size(col("w")).cast(LongType).as("n"),
        size(shingles3Hashed(col("w"))).cast(LongType).as("d3"))
      grams.join(perDoc, "doc_id")
        .select(
          col("doc_id"),
          col("n_words"),
          col("n_distinct_words"),
          expr("(1000000 * (n_words - n_distinct_words)) div n_words")
            .as("dup_word_ppm"),
          when(col("n") >= 3,
              expr("(1000000 * (n - 2 - d3)) div (n - 2)"))
            .otherwise(0L).as("dup_3gram_ppm"),
          expr("(1000000 * top_c) div n_words").as("top_word_ppm"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, ${Portable.sql.words} AS w FROM documents),
      base AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
      e AS (SELECT doc_id, unnest(w) AS word FROM base),
      wc AS (SELECT doc_id, word, COUNT(*) AS c FROM e GROUP BY 1, 2),
      pd AS (SELECT doc_id,
          CAST(SUM(c) AS BIGINT) AS n_words,
          COUNT(*) AS n_distinct_words,
          CAST(MAX(c) AS BIGINT) AS top_c
        FROM wc GROUP BY 1),
      g AS (SELECT doc_id, len(w) AS n,
          len(${Portable.sql.shingles3Hashed}) AS d3
        FROM base)
      SELECT g.doc_id, pd.n_words, pd.n_distinct_words,
        (1000000 * (pd.n_words - pd.n_distinct_words)) // pd.n_words
          AS dup_word_ppm,
        CASE WHEN g.n >= 3
          THEN (1000000 * (g.n - 2 - g.d3)) // (g.n - 2)
          ELSE 0 END AS dup_3gram_ppm,
        (1000000 * pd.top_c) // pd.n_words AS top_word_ppm
      FROM g JOIN pd ON g.doc_id = pd.doc_id
      ORDER BY g.doc_id
      """))

  // E6 — PII scrubbing: the masking pass every public-web training
  // pipeline runs before packing (emails, IPv4 addresses, international
  // phone numbers → placeholder tokens). The corpus is synthetic word
  // salad, so the query first INJECTS deterministic PII derived from
  // doc_id — identically in both engines, the CloudFrontPack synthesis
  // pattern — then counts and scrubs it; the md5 of the scrubbed text
  // proves byte-identical masking, and every doc_id % 5 == 0 document
  // stays untouched (the zero-match path). All three passes are
  // codegen'd regexp expressions in one per-row projection — no shuffle,
  // I/O-bound at 100 TB. Patterns stay inside the Java∩RE2 common
  // dialect (character classes, bounded repeats, \b) so Spark and DuckDB
  // scrub byte-identically.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipPat = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val phonePat = "\\+[0-9]{7,15}"

  private val piiScrub = GraftQuery(
    "pii_scrub",
    (s, d) => {
      val injected = Tables.parallelized(Tables.documents(s, d)).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0, col("text")).otherwise(
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com or admin"),
            pmod(col("doc_id"), lit(7)).cast(StringType),
            lit("@test.org; host 10."),
            pmod(col("doc_id"), lit(200)).cast(StringType), lit("."),
            pmod(col("doc_id"), lit(250)).cast(StringType),
            lit(".9; call +1415555"),
            (pmod(col("doc_id"), lit(9000)) + 1000).cast(StringType)))
          .as("text"))
      injected
        .withColumn("n_emails",
          regexp_count(col("text"), lit(emailPat)).cast(LongType))
        .withColumn("__t1", regexp_replace(col("text"), emailPat, "<EMAIL>"))
        .withColumn("n_ips",
          regexp_count(col("__t1"), lit(ipPat)).cast(LongType))
        .withColumn("__t2", regexp_replace(col("__t1"), ipPat, "<IP>"))
        .withColumn("n_phones",
          regexp_count(col("__t2"), lit(phonePat)).cast(LongType))
        .withColumn("__t3", regexp_replace(col("__t2"), phonePat, "<PHONE>"))
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          col("n_phones"), md5(col("__t3")).as("clean_fp"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH inj AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN text
               ELSE text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@example.com or admin' || CAST(doc_id % 7 AS VARCHAR) ||
                 '@test.org; host 10.' || CAST(doc_id % 200 AS VARCHAR) ||
                 '.' || CAST(doc_id % 250 AS VARCHAR) ||
                 '.9; call +1415555' ||
                 CAST(doc_id % 9000 + 1000 AS VARCHAR)
          END AS text
        FROM documents),
      s1 AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$emailPat')) AS BIGINT)
            AS n_emails,
          regexp_replace(text, '$emailPat', '<EMAIL>', 'g') AS t1
        FROM inj),
      s2 AS (
        SELECT doc_id, n_emails,
          CAST(len(regexp_extract_all(t1, '$ipPat')) AS BIGINT) AS n_ips,
          regexp_replace(t1, '$ipPat', '<IP>', 'g') AS t2
        FROM s1),
      s3 AS (
        SELECT doc_id, n_emails, n_ips,
          CAST(len(regexp_extract_all(t2, '$phonePat')) AS BIGINT)
            AS n_phones,
          regexp_replace(t2, '$phonePat', '<PHONE>', 'g') AS t3
        FROM s2)
      SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS clean_fp
      FROM s3 ORDER BY doc_id
      """))

  // E7 — corpus-wide adjacent-pair counting: the first step of BPE
  // vocabulary induction (and the classic word-bigram heavy-hitter
  // job). Per document the pair stream is a pure per-row transform
  // (O(words), no shuffle); corpus counting is ONE groupBy(pair)
  // aggregation — HashAggregate(partial) map-side combines the hot
  // pairs (a billion-occurrence bigram arrives at the reducer as one
  // row per map partition, the same no-hot-window argument as
  // passage_dedup's winner election) — and the global top-k is
  // TakeOrderedAndProject (bounded heaps per partition + one merge at
  // the driver), never a single-task global sort. (count DESC, pair)
  // is a total order, so the cutoff is deterministic cross-engine.
  private[graft] def bpePairsOver(docs: org.apache.spark.sql.DataFrame,
      topK: Int = 100) =
    docs
      .select(words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1)," +
          " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)

  private val bpePairs = GraftQuery(
    "bpe_pairs",
    (s, d) => bpePairsOver(Tables.parallelized(Tables.documents(s, d))),
    Some(s"""
      WITH w AS (SELECT ${Portable.sql.words} AS w FROM documents),
      p AS (
        SELECT unnest(list_transform(range(len(w)-1),
          i -> w[i+1] || ' ' || w[i+2])) AS pair
        FROM w WHERE len(w) >= 2)
      SELECT pair, COUNT(*) AS cnt FROM p
      GROUP BY pair ORDER BY cnt DESC, pair LIMIT 100
      """))

  // E8 — distributed BPE training, two unrolled merge rounds (the same
  // unroll discipline as D5's k-means: each round is ordinary
  // oracle-checkable SQL, and the production shape is the identical
  // round body iterated). One round = ONE pair-count aggregation
  // (map-side combining, the E7 shape) → the argmax pair under the
  // deterministic (count DESC, a, b) total order → a broadcast of that
  // ONE row → a per-row greedy left-to-right merge fold (exactly the
  // BPE merge rule; merged tokens join with '+' so later rounds see
  // them as units). Nothing driver-side but the round count; corpus
  // rows never leave their partitions except as pair counts.
  private[graft] def bpeTokens(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) > 0)

  private[graft] def bpeTopPair(d: org.apache.spark.sql.DataFrame) =
    d.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1)," +
          " i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"))
        .as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1)

  /** Greedy left-to-right merge of the broadcast (a, b) pair inside
    * each document's token list, via the native codegen'd
    * [[graft.expressions.MergePair]] kernel: one O(L) JVM loop per
    * document, replacing the interpreted `aggregate` string fold whose
    * growing accumulator copied the whole document per token (O(L²)
    * characters per round — at 9.5 s steady it was the slowest query on
    * the board, and on a 100k-word document ~10^10 char copies). The
    * adjacency check is against the CURRENT output tail, so a freshly
    * merged token (spelled `a+b`, never equal to `a`) can't re-merge —
    * exactly the non-overlapping BPE rule, property-specced against a
    * JVM reference and hash-matched against the DuckDB fold oracle.
    */
  private[graft] def bpeMerge(d: org.apache.spark.sql.DataFrame,
      top: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    d.crossJoin(broadcast(top))
      .select(col("doc_id"),
        column(graft.expressions.MergePair(expression(col("w")),
          expression(col("a")), expression(col("b")))).as("w"))
  }

  /** [[bpeMerge]] with the pair as DRIVER-side literals — the shape the
    * iterated trainer and the stored-merge encoder use: the pair is
    * model state (one row), so shipping it as a literal into the
    * codegen'd kernel beats a one-row broadcast join per round once
    * rounds number in the thousands (no join node, no broadcast
    * exchange, one projection per round).
    */
  private[graft] def bpeMergeLit(d: org.apache.spark.sql.DataFrame,
      a: String, b: String) = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    d.select(col("doc_id"),
      column(graft.expressions.MergePair(expression(col("w")),
        expression(lit(a)), expression(lit(b)))).as("w"))
  }

  /** Iterated BPE training — the PRODUCTION form of E8's two unrolled
    * rounds (a shippable tokenizer is thousands of merges): `rounds`
    * greedy rounds of the IDENTICAL round body, with the merge list as
    * DRIVER-side state (the H10 lineage lesson — chaining each round's
    * plan through the previous round's DataFrame grows the analyzed
    * tree per round; here every round's frame is severed by an eager
    * localCheckpoint, so the plan stays O(1) deep and per-round cost is
    * FLAT: one corpus-scale pair-count agg + one map-only merge
    * projection + one corpus-sized materialization, regardless of how
    * many rounds preceded). Returns the learned merges in application
    * order as (a, b, cnt) — ≤ `rounds` entries; training stops early
    * when the corpus runs out of adjacent pairs, exactly where the
    * unrolled spelling's empty top-1 frame degenerates to a no-op.
    *
    * At `rounds = 2` this computes bit-for-bit what the unrolled
    * E8/E8b spelling computes (same agg, same (cnt DESC, a, b) argmax,
    * same kernel), which is how [[graft.sources.BpeStore.write]] stays
    * on `bpe_store_encode`'s 2-round CTE oracle while exposing the
    * round-count parameter; the ≥ 8-round behavior is spec-pinned
    * against a JVM recompute (TextPackSpec).
    */
  private[graft] def bpeTrainMerges(docs: org.apache.spark.sql.DataFrame,
      rounds: Int): Seq[(String, String, Long)] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import org.apache.spark.sql.GraftDatasetBridge.freeLocalCheckpoint
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var d = bpeTokens(docs).localCheckpoint(true)
    var dry = false
    while (out.length < rounds && !dry) {
      val top = bpeTopPair(d).collect() // model-scale: one row or none
      if (top.isEmpty) dry = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        out += ((a, b, top(0).getLong(2)))
        if (out.length < rounds) {
          val next = bpeMergeLit(d, a, b).localCheckpoint(true)
          // retire the previous round's checkpoint EAGERLY — the
          // ContextCleaner would get there eventually, but a tight
          // thousands-of-rounds loop cannot carry GC-slack copies of
          // the corpus between collections
          freeLocalCheckpoint(d)
          d = next
        }
      }
    }
    freeLocalCheckpoint(d)
    out.toSeq
  }

  private val bpeTrain = GraftQuery(
    "bpe_train",
    (s, d) => {
      import graft.Caches.CachesSyntax
      val d0 = bpeTokens(Tables.parallelized(Tables.documents(s, d))).persistTracked
      val t1 = bpeTopPair(d0)
      val d1 = bpeMerge(d0, t1).persistTracked
      val t2 = bpeTopPair(d1)
      val d2 = bpeMerge(d1, t2)
      def row(round: Int, top: org.apache.spark.sql.DataFrame,
          after: org.apache.spark.sql.DataFrame) =
        top.crossJoin(
            broadcast(after.agg(sum(size(col("w"))).as("tokens_after"))))
          .select(lit(round.toLong).as("round"),
            concat(col("a"), lit(" "), col("b")).as("pair"),
            col("cnt"), col("tokens_after"))
      row(1, t1, d1).union(row(2, t2, d2)).orderBy(col("round"))
    },
    Some(s"""
      WITH $bpeRoundsSql
      SELECT CAST(1 AS BIGINT) AS round,
        (SELECT a || ' ' || b FROM t1) AS pair,
        (SELECT cnt FROM t1) AS cnt,
        (SELECT CAST(SUM(len(w)) AS BIGINT) FROM d1) AS tokens_after
      WHERE EXISTS (SELECT 1 FROM t1)
      UNION ALL
      SELECT CAST(2 AS BIGINT),
        (SELECT a || ' ' || b FROM t2), (SELECT cnt FROM t2),
        (SELECT CAST(SUM(len(w)) AS BIGINT) FROM d2)
      WHERE EXISTS (SELECT 1 FROM t2)
      ORDER BY round
      """))

  /** The two trained merge rounds as shared oracle CTEs (d0 → t1 → d1
    * → t2 → d2) — bpe_train reads the per-round stats, bpe_encode the
    * per-document d0/d2 token lists.
    */
  private lazy val bpeRoundsSql: String = s"""
      d0 AS (
        SELECT doc_id, ${Portable.sql.words} AS w FROM documents
        WHERE len(${Portable.sql.words}) > 0),
      p1 AS (SELECT unnest(list_transform(range(len(w)-1),
               i -> [w[i+1], w[i+2]])) AS pr
             FROM d0 WHERE len(w) >= 2),
      t1 AS (SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS cnt FROM p1
             GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
      d1 AS (SELECT doc_id,
               list_filter(regexp_split_to_array($bpeMergeSql, ' '),
                 x -> x <> '') AS w
             FROM (SELECT doc_id, w, a, b FROM d0 CROSS JOIN t1)),
      p2 AS (SELECT unnest(list_transform(range(len(w)-1),
               i -> [w[i+1], w[i+2]])) AS pr
             FROM d1 WHERE len(w) >= 2),
      t2 AS (SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS cnt FROM p2
             GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
      d2 AS (SELECT doc_id,
               list_filter(regexp_split_to_array($bpeMergeSql, ' '),
                 x -> x <> '') AS w
             FROM (SELECT doc_id, w, a, b FROM d1 CROSS JOIN t2))"""

  // E9 — apply the trained merge table: every document re-encoded
  // through the two learned rounds (the train→encode pair a tokenizer
  // pipeline ships). Same native MergePair kernel per round; the d0/d1
  // frames are plan-identical to bpe_train's, so the CacheManager
  // serves both queries from one build. The encoded stream is pinned by
  // md5 — a full content hash-match, not just token counts.
  /** E9 engine — shared with E14's `tokenizer_stats`, which aggregates
    * the same per-doc encode frame per language (the shared persisted
    * d0/d1 frames serve both, so the second consumer adds no corpus
    * re-tokenization).
    */
  private[graft] def bpeEncodeOf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
      import graft.Caches.CachesSyntax
      val d0 = bpeTokens(Tables.parallelized(Tables.documents(s, d))).persistTracked
      val t1 = bpeTopPair(d0)
      val d1 = bpeMerge(d0, t1).persistTracked
      val t2 = bpeTopPair(d1)
      val d2 = bpeMerge(d1, t2)
      d0.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens_in"))
        .join(d2.select(col("doc_id"),
          size(col("w")).cast("long").as("n_tokens_out"),
          md5(concat_ws(" ", col("w"))).as("encoded_md5")), "doc_id")
        .orderBy(col("doc_id"))
  }

  private val bpeEncode = GraftQuery(
    "bpe_encode",
    (s, d) => bpeEncodeOf(s, d),
    Some(bpeEncodeOracle))

  // ---- E14: tokenizer_stats — per-language fertility report ----
  // The tokenizer-side monitoring view a mixture balancer actually
  // reads (the H7 source_report analog for the tokenizer): per
  // language, how many word tokens go IN and how many BPE tokens come
  // OUT of the frozen merge chain — languages the tokenizer compresses
  // poorly eat more sequence budget per document, which is exactly what
  // count-based mixing (H6/H6b) cannot see. Rides E9's shared encode
  // frame BY REFERENCE (no second tokenization pass); one map-side-
  // combinable agg to a languages-sized result; ppm arithmetic exact
  // and DECIMAL-widened (the H7 discipline — int64-safe past 9.2e12
  // tokens per cell, under the 100 TB design point).
  private val tokenizerStats = GraftQuery(
    "tokenizer_stats",
    (s, d) => bpeEncodeOf(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens_in")).as("tokens_in"),
        sum(col("n_tokens_out")).as("tokens_out"))
      .select(col("lang"), col("n_docs"), col("tokens_in"),
        col("tokens_out"),
        // greatest(…, 1): a language whose docs all tokenize to zero
        // words would otherwise make Spark's `div` return NULL while
        // DuckDB's `//` raises — the guard must be IDENTICAL on both
        // engines (tokens_out is 0 whenever tokens_in is, so the
        // guarded ratio is a clean 0)
        expr("(CAST(1000000 AS DECIMAL(38,0)) * tokens_out)" +
          " div greatest(tokens_in, 1L)").as("compression_ppm"),
        expr("(CAST(1000000 AS DECIMAL(38,0)) * tokens_out) div n_docs")
          .as("mean_tokens_ppm"))
      .orderBy(col("lang")),
    Some(s"""
      WITH enc AS ($bpeEncodeOracle),
      j AS (SELECT e.n_tokens_in, e.n_tokens_out, d.lang
        FROM enc e JOIN documents d ON e.doc_id = d.doc_id),
      g AS (
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens_in) AS BIGINT) AS tokens_in,
          CAST(SUM(n_tokens_out) AS BIGINT) AS tokens_out
        FROM j GROUP BY 1)
      SELECT lang, n_docs, tokens_in, tokens_out,
        CAST((CAST(1000000 AS HUGEINT) * tokens_out)
          // GREATEST(tokens_in, 1) AS BIGINT) AS compression_ppm,
        CAST((CAST(1000000 AS HUGEINT) * tokens_out) // n_docs
          AS BIGINT) AS mean_tokens_ppm
      FROM g ORDER BY lang
      """))

  /** E9's oracle — shared verbatim by `bpe_store_encode` (E8b): the
    * persisted merge table must reproduce the in-query encoding
    * bit-for-bit.
    */
  private[graft] lazy val bpeEncodeOracle: String = s"""
      WITH $bpeRoundsSql
      SELECT d0.doc_id,
        CAST(len(d0.w) AS BIGINT) AS n_tokens_in,
        CAST(len(d2.w) AS BIGINT) AS n_tokens_out,
        md5(array_to_string(d2.w, ' ')) AS encoded_md5
      FROM d0 JOIN d2 USING (doc_id)
      ORDER BY d0.doc_id
      """

  // ---- E8b: the persisted tokenizer, through the driver gate ----
  // Train once per (JVM, dataset) through Caches.store, then
  // encode the corpus with the STORED merge table — bpe_encode's
  // oracle VERBATIM (the frozen-tokenizer serving contract).
  private def bpeStoreOf(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.Caches.store(s, d, "graft_bpe_store_%s")(
        b => Seq(s"${b}_merges")) { (base, dir) =>
      graft.sources.BpeStore.write(
        Tables.parallelized(Tables.documents(s, d))
          .select(col("doc_id"), col("text")), base, dir)
    }

  private val bpeStoreEncode = GraftQuery(
    "bpe_store_encode",
    (s, d) => graft.sources.BpeStore.encode(s, bpeStoreOf(s, d),
      Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))),
    Some(bpeEncodeOracle))

  /** DuckDB spelling of the [[bpeMerge]] fold (over columns w, a, b). */
  private def bpeMergeSql: String = """
    list_reduce(list_prepend('', w), (acc, t) ->
      CASE WHEN acc = '' THEN t
           WHEN t = b AND acc = a THEN a || '+' || b
           WHEN t = b AND substr(acc, len(acc) - len(a), len(a) + 1)
               = ' ' || a
             THEN substr(acc, 1, len(acc) - len(a)) || a || '+' || b
           ELSE acc || ' ' || t END)"""

  override val queries: Seq[GraftQuery] =
    Seq(langId, langConfusion, textQuality, tokenCount, fingerprint,
      textRepetition, piiScrub, bpePairs, bpeTrain, bpeEncode,
      bpeStoreEncode, tokenizerStats)
}
