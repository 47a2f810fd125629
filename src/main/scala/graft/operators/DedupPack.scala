package graft.operators

import graft.{GraftQuery, QueryPack}
import graft.Caches.CachesSyntax
import graft.functions.Portable
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 block C (part 1) — deduplication over `documents`:
  * C1 exact, C2 MinHash+LSH, C4 rare-shingle inverted-index Jaccard.
  * (C3 SimHash lives in SimHashPack with the custom expressions; C5
  * embedding near-dup lives in AnnPack with the vector ops.)
  *
  * Scale shapes (SURVEY.md §5):
  *  - Shingling/minhashing is a pure per-row map — no shuffle, codegen'd.
  *  - LSH banding shuffles once on (band, bucket-key); all candidate
  *    generation joins happen inside buckets, never all-pairs.
  *  - C4's inverted index drops shingles with document frequency > maxDF,
  *    which caps per-shingle join fanout at maxDF² — the standard guard
  *    against hot-key blowup at corpus scale.
  *  - Exact-Jaccard verification touches only candidate pairs (band or
  *    shared-rare-shingle collisions), a vanishing fraction of n².
  */
object DedupPack extends QueryPack {

  import Portable._

  /** Hash-family width and LSH geometry: 64 minhashes = 32 bands × 2
    * rows. At Jaccard τ=0.8 the miss probability per true pair is
    * (1-τ²)^32 ≈ 8e-15 — banding is effectively lossless recall at the
    * verification threshold, at half the signature cost of the
    * conventional 128-hash setup.
    */
  private[graft] val numHashes = 64
  private[graft] val numBands = 32
  private[graft] val tau = 0.8

  /** doc_id + distinct word-3-shingles (docs with >= 3 words).
    *
    * PERSISTED: both dedup queries fan this subplan into 3-6 join
    * branches, and Spark does not CSE common subplans across branches —
    * without the persist, the interpreted higher-order shingling runs
    * once per branch and dominates the query (measured ~6x the cost of
    * everything else at sf0.1). At cluster scale this is the standard
    * "materialize the featurized working set before multi-use" pattern.
    */
  private def shingled(s: SparkSession, d: String): DataFrame = {
    val w = Tables.parallelized(Tables.documents(s, d))
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
    w.select(col("doc_id"), shingles3Hashed(col("w")).as("shingles"))
      .persistTracked
  }

  private val shingledSql: String =
    s"""w AS (SELECT doc_id, ${Portable.sql.words} AS w FROM documents),
      sh AS (SELECT doc_id, ${Portable.sql.shingles3Hashed} AS shingles
             FROM w WHERE len(w) >= 3)"""

  /** Jaccard columns over two hashed-shingle-array columns `sa`/`sb`
    * (native IntersectCount long kernel: no intermediate intersection
    * array, 8-byte elements).
    */
  private[graft] def jaccard(sa: Column, sb: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val inter = column(graft.expressions.IntersectCount(
      expression(sa), expression(sb)))
    round(inter.cast(DoubleType) / (size(sa) + size(sb) - inter), 6)
  }

  /** The near-dup verdict row per `id` of `batch` off its verified
    * (id, h_id, score) pairs: (id, n_hist_matches, hist_canonical,
    * `out`) — the match count, the smallest matching history id and
    * the `best` score, or the 0 / -1 / `none` sentinels when no pair
    * verified. The one tail of the MinHash, SimHash and embedding
    * store probes, so their verdict rows cannot drift apart.
    */
  private[graft] def verdictsOf(batch: DataFrame, verified: DataFrame,
      id: String, best: Column, out: String, none: Any): DataFrame = {
    val verdicts = verified.groupBy(col(id))
      .agg(count(lit(1)).as("__n"), min(col("h_id")).as("__hist"),
        best.as("__best"))
    batch.select(col(id)).join(verdicts, Seq(id), "left")
      .select(col(id),
        coalesce(col("__n"), lit(0L)).as("n_hist_matches"),
        coalesce(col("__hist"), lit(-1L)).as("hist_canonical"),
        coalesce(col("__best"), lit(none)).as(out))
  }

  /** Append `is_dup` / `__canonical` / `__gsize` to a frame carrying
    * (doc_id, fingerprint) via an AGGREGATION + join-back, not a window
    * over the fingerprint: the min/count agg combines map-side and
    * AQE's skew join can split a viral duplicate group across tasks,
    * whereas a window partition cannot split — the same no-hot-window
    * rule as passage_dedup's winner election. PERSISTED: feeds both the
    * group election and the join-back.
    */
  private[graft] def withDupFlag(docs: DataFrame): DataFrame = {
    val base = docs.persistTracked
    val groups = base.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("__canonical"),
        count(lit(1)).as("__gsize"))
    base.join(groups, "fingerprint")
      .withColumn("is_dup", col("doc_id") =!= col("__canonical"))
  }

  // C1 — exact dedup: md5 of the canonical normal form, duplicate groups
  // by fingerprint (one shuffle on the fingerprint), min-doc_id canonical.
  private val dedupExact = GraftQuery(
    "dedup_exact",
    (s, d) => {
      withDupFlag(Tables.documents(s, d)
          .select(col("doc_id"),
            md5(normText(col("text"))).as("fingerprint")))
        .select(col("doc_id"), col("fingerprint"),
          col("__gsize").as("group_size"),
          col("__canonical").as("canonical_id"), col("is_dup"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH n AS (
        SELECT doc_id,
          md5(array_to_string(${Portable.sql.words}, ' ')) AS fingerprint
        FROM documents)
      SELECT doc_id, fingerprint,
        COUNT(*) OVER (PARTITION BY fingerprint) AS group_size,
        MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
        doc_id <> MIN(doc_id) OVER (PARTITION BY fingerprint) AS is_dup
      FROM n ORDER BY doc_id
      """))

  // C2 — MinHash + LSH: pre-hashed shingles (G10) → one MinHashAgg
  // signature (G11: numHashes exact int64 affine mins) → 2-row band
  // keys → bucket self-join for candidates → Jaccard verification at τ.
  // The verified pairs are PERSISTED and shared with dedup_cluster
  // (CacheManager dedupes the identical subplan across queries).
  /** (doc_id, band, key) LSH band keys for a (doc_id, shingles) frame:
    * signature via explode + ONE MinHashAgg (G11) — one shuffle on
    * doc_id with map-side partial element-wise mins over a primitive
    * long[64] buffer. (History: the nested transform(sequence(...))
    * HOF formulation ran interpreted, ~50x slower; 64 separate
    * declarative min() aggs were bit-identical but their generated
    * update code dominated the pipeline's cold compile time.)
    * Shared by C2's in-corpus pair generation and the C12 persisted
    * band store (write AND probe sides must band identically).
    */
  /** (doc_id, sig[numHashes]) — the full MinHash signature frame
    * (G11), factored out of [[bandKeys]] so the C2b accuracy audit can
    * read component agreement off the SAME signatures the banding
    * uses.
    */
  private[graft] def signatures(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode(col("shingles")).as("h"))
      .groupBy(col("doc_id")).agg(
        graft.expressions.MinHashAgg.minhashAgg(col("h"), numHashes)
          .as("sig"))

  private[graft] def bandKeys(sh: DataFrame): DataFrame = {
      val mins = signatures(sh)
      mins
        .select(col("doc_id"),
          explode(array((0 until numBands).map(b =>
            struct(lit(b).as("band"),
              concat_ws(",",
                element_at(col("sig"), 2 * b + 1).cast(StringType),
                element_at(col("sig"), 2 * b + 2).cast(StringType))
                .as("key"))): _*))
            .as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.key").as("key"))
  }

  private val defaultMaxPerBucket = 1024

  /** The C2 banding candidate generator — (doc_a, doc_b,
    * n_shared_bands) from the band-key self-join — factored so C2 and
    * C2b band IDENTICALLY by construction (review finding: a verbatim
    * copy in the audit row could band differently after a geometry
    * change while both gates stayed green).
    *
    * Hot-bucket admission cap (r11 verdict item 2 — the last uncapped
    * in-query banding): the [[graft.operators.SimHashPack.nearPairs]]
    * discipline applied to the MinHash band join. A degenerate corpus —
    * k byte-identical docs — collides in EVERY band bucket, and the
    * uncapped (band, key) self-join generates C(k,2) pairs PER BAND
    * before the Jaccard verify ever runs. The cap retains the
    * `maxPerBucket` SMALLEST doc_ids per (band, key) on the INDEX
    * (doc_b) side via a [[graft.plans.TopKPerKey]] bounded heap
    * (map-side partial prune, one hash exchange — the hot bucket never
    * materializes), bounding per-bucket pair mass at n·cap instead of
    * n². Recall, honestly: a pair (a, b) is dropped iff b is capped out
    * of EVERY bucket the pair collides in; among any `maxPerBucket`
    * docs sharing a bucket, recall stays 1. For a surviving pair whose
    * doc_b was capped out of SOME of its buckets, `n_shared_bands`
    * counts only the surviving collisions — at the default cap
    * (1024) both effects are unreachable on non-degenerate
    * corpora (sf0.1's hottest band bucket is ~30 docs), so the gated
    * rows run capped AND still hash-match the uncapped brute-force
    * oracle. The degenerate shape is spec-pinned with a planted
    * constant-text flood (SkewSpec). `Int.MaxValue` disables, like the
    * stores and the SimHash engine.
    */
  private[graft] def bandCandidates(sh: DataFrame,
      cap: Int = defaultMaxPerBucket): DataFrame = {
    val keyed = bandKeys(sh)
    val a = keyed.select(col("doc_id").as("doc_a"), col("band"),
      col("key"))
    val bAll = keyed.select(col("doc_id").as("doc_b"),
      col("band").as("band_b"), col("key").as("key_b"))
    val b = if (cap == Int.MaxValue) bAll
      else graft.plans.TopKPerKey(bAll,
        Seq(col("band_b"), col("key_b")), Seq(col("doc_b").asc), cap)
    val cand = a.join(b,
        col("band") === col("band_b") && col("key") === col("key_b") &&
          col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    // the pair-scale candidate frame feeds C2's verify, C2b's sketch
    // audit and (through C2's persisted pairs) C6 — persist it on the
    // shared default-cap path so the banding (and the cap's heap pass)
    // runs once per session, not once per consumer (CacheManager
    // dedupes the identical subplan across the queries); explicit-cap
    // callers (the planted-flood specs) stay unpersisted
    if (cap == defaultMaxPerBucket) cand.persistTracked else cand
  }

  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
      val sh = shingled(s, d)
      val cand = bandCandidates(sh)
      val sa = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
      val sb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
      cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", jaccard(col("sa"), col("sb")))
        .filter(col("jaccard") >= tau)
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          col("jaccard"))
        .persistTracked
  }

  /** The C2 pipeline through verified pairs, as DuckDB CTEs ending in
    * `pairs(doc_a, doc_b, n_shared_bands, jaccard)`.
    */
  private val minhashPairsSql: String = s"""$shingledSql,
      hs AS (SELECT doc_id, shingles AS hs FROM sh),
      sig AS (SELECT doc_id,
          list_transform(range($numHashes), i -> list_min(list_transform(hs,
            h -> ((2*i+1)*h + (i*40503+13) % $P) % $P))) AS sig
        FROM hs),
      keyed AS (SELECT doc_id, unnest(range($numBands)) AS band, sig
        FROM sig),
      k2 AS (SELECT doc_id, band,
          sig[2*band+1] || ',' || sig[2*band+2] AS key FROM keyed),
      cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          COUNT(*) AS n_shared_bands
        FROM k2 a JOIN k2 b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      j AS (SELECT doc_a, doc_b, n_shared_bands,
          len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))
            AS inter,
          len(sa.shingles) + len(sb.shingles) AS tot
        FROM cand
        JOIN sh sa ON cand.doc_a = sa.doc_id
        JOIN sh sb ON cand.doc_b = sb.doc_id),
      pairs AS (SELECT doc_a, doc_b,
          CAST(n_shared_bands AS BIGINT) AS n_shared_bands,
          round(inter::DOUBLE / (tot - inter), 6) AS jaccard
        FROM j WHERE round(inter::DOUBLE / (tot - inter), 6) >= $tau)"""

  private val dedupMinhash = GraftQuery(
    "dedup_minhash",
    (s, d) => minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
    Some(s"""
      WITH $minhashPairsSql
      SELECT doc_a, doc_b, n_shared_bands, jaccard
      FROM pairs
      ORDER BY doc_a, doc_b
      """))

  // C2b — the MinHash accuracy audit (r9): for every banding candidate
  // (NO τ filter — the audit wants the whole range, including the
  // false positives the verify step exists to reject), the sketch's
  // own Jaccard estimate — matching signature components / numHashes,
  // the textbook unbiased estimator — beside the exact Jaccard. The
  // est-vs-exact pattern of metrics_cms_estimate for the dedup family:
  // it quantifies, per corpus, what the banding geometry trades for
  // its one-shuffle candidate generation, at candidate-pair cost (the
  // corpus is never re-scanned — signatures and shingle sets are the
  // C2 cached frames). MinHash is deterministic here (fixed affine
  // family), so even the estimates carry a full hash oracle.
  private val dedupMinhashEst = GraftQuery(
    "dedup_minhash_est",
    (s, d) => {
      val sh = shingled(s, d)
      val cand = bandCandidates(sh)
      val sig = signatures(sh)
      val est = cand
        .join(sig.select(col("doc_id").as("doc_a"),
          col("sig").as("sig_a")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"),
          col("sig").as("sig_b")), "doc_b")
        .withColumn("n_match",
          expr("aggregate(zip_with(sig_a, sig_b, " +
            "(x, y) -> IF(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"))
        .withColumn("est_ppm",
          expr(s"(n_match * 1000000) div $numHashes"))
      val sa = sh.select(col("doc_id").as("doc_a"),
        col("shingles").as("sa"))
      val sb = sh.select(col("doc_id").as("doc_b"),
        col("shingles").as("sb"))
      est.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", jaccard(col("sa"), col("sb")))
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          col("n_match"), col("est_ppm"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH $minhashPairsSql,
      m AS (SELECT c.doc_a, c.doc_b, c.n_shared_bands,
          CAST(len(list_filter(range($numHashes),
            i -> a.sig[CAST(i AS INTEGER)+1] =
                 b.sig[CAST(i AS INTEGER)+1])) AS BIGINT) AS n_match
        FROM cand c
        JOIN sig a ON c.doc_a = a.doc_id
        JOIN sig b ON c.doc_b = b.doc_id),
      x AS (SELECT m.doc_a, m.doc_b,
          CAST(m.n_shared_bands AS BIGINT) AS n_shared_bands, m.n_match,
          (m.n_match * 1000000) // $numHashes AS est_ppm,
          len(list_filter(sa.shingles,
            x -> list_contains(sb.shingles, x))) AS inter,
          len(sa.shingles) + len(sb.shingles) AS tot
        FROM m
        JOIN sh sa ON m.doc_a = sa.doc_id
        JOIN sh sb ON m.doc_b = sb.doc_id)
      SELECT doc_a, doc_b, n_shared_bands, n_match, est_ppm,
        round(inter::DOUBLE / (tot - inter), 6) AS jaccard
      FROM x ORDER BY doc_a, doc_b
      """))

  // C6 — duplicate-pair CLUSTERING: connected components over the C2
  // pairs graph by iterative min-label propagation — the step that turns
  // pairwise matches into dedup groups (keep one canonical doc per
  // cluster). Each iteration is one edge⋈label join + a min-aggregate —
  // the standard distributed-CC shape; the driver-side loop only reads a
  // single convergence COUNT per iteration, never row data. Duplicate
  // components have tiny diameters in practice, so the fixpoint lands in
  // a handful of iterations; a cap bounds the pathological chain case.
  // The oracle computes the same fixpoint as a DuckDB recursive-CTE
  // transitive closure with MIN over the reachable set.
  /** Rounds the most recent NON-memoized [[clusterPairs]] run took —
    * spec observability for the CC-MR O(log) convergence claim (a
    * label-propagation regression needs diameter rounds and would blow
    * straight through the cap on a long chain).
    */
  @volatile private[graft] var lastCcRounds: Int = -1

  /** Distributed connected components by alternating large-star /
    * small-star contraction (the CC-MR algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): each round
    * rewires every edge toward its neighborhood minimum, contracting
    * the graph toward per-component stars in O(log) rounds — unlike
    * plain min-label propagation, whose frontier crawls one hop per
    * round and needs diameter rounds (measured: 30 rounds on the sf0.1
    * lexical∪semantic pair graph, whose thin embedding chains have
    * large diameters; large-star/small-star converges in a handful).
    *
    * Per round: two groupBy-min aggregations + join-backs on the edge
    * list (edge count never grows — star emissions are one edge per
    * incident node). Each round's plan is truncated to a fresh
    * LogicalRDD: the rewiring references the previous round's frame,
    * and left untruncated the nested plan DOUBLES per round (measured:
    * a 2^31-char plan string before truncation). The driver reads only
    * scalar convergence counts.
    *
    * The labels are memoized per (session, input plan)
    * ([[graft.Caches.planKey]]): the truncation makes the loop's frames
    * non-canonical, so Spark's CacheManager cannot dedupe a REPEATED
    * call the way it dedupes every declarative subplan — without the
    * memo, every invocation re-runs the whole contraction. If the data
    * underneath an identical plan changes (a parquet path rewritten in
    * place), call [[graft.Caches.releaseAll]] before re-running,
    * exactly as the persisted frames require.
    */
  private[graft] def clusterPairs(pairs: DataFrame): DataFrame =
    graft.Caches.once[DataFrame](graft.Caches.planKey(pairs)) {
      val spark = pairs.sparkSession
      def truncated(df: DataFrame): DataFrame =
        spark.createDataFrame(df.rdd, df.schema)
      var e = truncated(
          pairs.toDF("u", "v")
            .filter(col("u") =!= col("v")).distinct())
        .persistTracked
      var eCount = e.count()
      var stable = false
      var iter = 0
      // one large-star + small-star contraction round, composed lazily
      def round(in: DataFrame): DataFrame = {
        // large-star: every node's larger neighbors connect to its
        // neighborhood minimum
        val und = in.union(in.select(col("v").as("u"), col("u").as("v")))
        val minsL = und.groupBy(col("u"))
          .agg(min(col("v")).as("mv"))
          .select(col("u"), least(col("u"), col("mv")).as("m"))
        // no distinct here: small-star's orient+distinct dedups anyway,
        // and dropping it saves one exchange per round
        val ls = und.filter(col("v") > col("u"))
          .join(minsL, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
        // small-star: every node's smaller-or-equal side connects to
        // the minimum of that side
        val oriented = ls.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v")).distinct()
        val minsS = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
        oriented.join(minsS, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .union(minsS.select(col("u"), col("m").as("v")))
          .filter(col("u") =!= col("v")).distinct()
      }
      while (!stable && iter < 32) {
        // exactly ONE contraction round per materialization: round()
        // fans its input into five plan branches, and Spark has no
        // cross-branch CSE — composing two rounds lazily re-executes
        // the inner one per branch (measured 3-4x slower), while the
        // persisted input keeps a single round's fan-out cheap
        val next = truncated(round(e)).persistTracked
        // one action per round while counts still move; the (cheap, both
        // sides cached) set-equality check only runs once they match
        val nextCount = next.count()
        stable = nextCount == eCount &&
          next.exceptAll(e).limit(1).count() == 0
        e.unpersist()
        e = next
        eCount = nextCount
        iter += 1
      }
      // A silent exit at the iteration cap would emit non-converged
      // (wrong) cluster ids — fail loudly instead; star contraction
      // converges logarithmically, so hitting 32 rounds means the input
      // is not a pair graph at all.
      require(stable,
        s"clusterPairs did not converge after $iter rounds")
      lastCcRounds = iter
      // the converged edge set is a star per component: every non-min
      // node points at the component minimum
      e.select(col("u").as("node"), col("v").as("lab"))
        .union(e.select(col("v"), col("v")).distinct()
          .toDF("node", "lab"))
        .groupBy(col("node")).agg(min(col("lab")).as("lab"))
        .persistTracked
    }

  private val dedupCluster = GraftQuery(
    "dedup_cluster",
    (s, d) => {
      val labels =
        clusterPairs(minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      // cluster_size via agg + join-back, not a window over cluster_id:
      // a viral duplicate cluster (the very thing dedup exists to find)
      // would otherwise sort in one unsplittable window task, while the
      // count combines map-side and the join partition can skew-split.
      val out = labels
        .select(col("node").as("doc_id"), col("lab").as("cluster_id"))
      val sizes = out.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      out.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE $minhashPairsSql,
      nodes AS (SELECT doc_a AS node FROM pairs
                UNION SELECT doc_b FROM pairs),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(a, b) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      res AS (SELECT a AS doc_id, MIN(b) AS cluster_id
              FROM reach GROUP BY a)
      SELECT doc_id, cluster_id,
        COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM res
      ORDER BY doc_id
      """))

  // C4 — inverted-index n-gram Jaccard: explode shingles, keep only
  // "rare" shingles (2 <= document frequency <= maxDF), join docs sharing
  // a rare shingle, verify exact Jaccard. The DF cap bounds join fanout
  // to C(maxDF,2) pairs per shingle — the fanout control knob at corpus
  // scale. The cap must exceed the expected duplicate-group size: a
  // shingle shared by a whole k-way duplicate group has df >= k, so
  // maxDF < k silently drops those groups' pairs.
  private val maxDF = 10
  private val tauNgram = 0.5
  /** Candidates must share at least this many rare shingles. Like LSH
    * band geometry, this is part of the candidate-generation DEFINITION
    * (the recall/cost knob): at τ=0.5 a true pair shares ~1/3 of its
    * shingle universe, so requiring 2 rare co-occurrences prunes the
    * candidate set ~7x while only pairs whose entire overlap is one
    * rare + otherwise-hot shingles can slip (pathological at any τ
    * worth verifying).
    */
  private val minCooccur = 2

  /** C4's candidate-pair frame (doc_a, doc_b) — the quantity whose
    * growth governs the operator's scale behavior, factored out so the
    * scale sweep can COUNT it at x1/xK (the r8 sweep's 4.6×-at-8× row
    * had no measured candidate-mass attribution).
    */
  private[graft] def ngramCandidates(s: SparkSession, d: String)
      : DataFrame = {
    val sh = shingled(s, d)
    // Shingles are already 60-bit hashes (G9 at shingling time): the
    // whole index works on 8-byte keys; collisions merge postings,
    // harmless because candidates are Jaccard-verified and the oracle
    // mirrors the same hashing.
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    // ONE shuffle builds the whole inverted index: exact df + the
    // per-shingle posting list through the G8 bounded-collect aggregate
    // (cap maxDF+1, so under-cap groups carry their complete doc set
    // and a hot shingle's buffer can never exceed maxDF+1 elements on
    // any partial-aggregation path — the memory-safety property plain
    // collect_list lacks at corpus scale). The previous two-pass shape
    // (df agg → rare-set join-back → second groupBy) is collapsed into
    // this single aggregation.
    ex.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"),
        graft.expressions.BoundedCollectList
          .boundedCollect(col("doc_id"), maxDF + 1).as("docs"))
      .filter(col("df") >= 2 && col("df") <= maxDF)
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minCooccur)
      .select(col("doc_a"), col("doc_b"))
  }

  private val ngramJaccard = GraftQuery(
    "ngram_jaccard",
    (s, d) => {
      val sh = shingled(s, d)
      val cand = ngramCandidates(s, d)
      val sa = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
      val sb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
      cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", jaccard(col("sa"), col("sb")))
        .filter(col("jaccard") >= tauNgram)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH $shingledSql,
      ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      rare AS (SELECT s FROM ex GROUP BY s
               HAVING COUNT(*) >= 2 AND COUNT(*) <= $maxDF),
      exr AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare ON ex.s = rare.s),
      cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM exr a JOIN exr b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= $minCooccur),
      j AS (SELECT doc_a, doc_b,
          len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))
            AS inter,
          len(sa.shingles) + len(sb.shingles) AS tot
        FROM cand
        JOIN sh sa ON cand.doc_a = sa.doc_id
        JOIN sh sb ON cand.doc_b = sb.doc_id)
      SELECT doc_a, doc_b,
        round(inter::DOUBLE / (tot - inter), 6) AS jaccard
      FROM j WHERE round(inter::DOUBLE / (tot - inter), 6) >= $tauNgram
      ORDER BY doc_a, doc_b
      """))

  // C7 — benchmark decontamination: flag training documents whose
  // 3-gram-hash overlap with an evaluation set crosses a containment
  // threshold (the pipeline pass that keeps benchmark text out of
  // training data). Containment is the shared fraction of the EVAL
  // item's shingles — not Jaccard and not train-side: a short benchmark
  // item pasted inside a long train doc covers most of the EVAL item's
  // shingles while being a sliver of the train doc's, and it must still
  // flag. The eval set here is the doc_id % 100 == 0 slice, standing in
  // for an external benchmark suite.
  //
  // Scale shape: benchmark suites are tiny relative to a 100 TB corpus,
  // so the exploded eval side is a BROADCAST — the train corpus streams
  // through one broadcast hash join on the 8-byte shingle hash and one
  // (doc, eval) count aggregation; the corpus itself never shuffles
  // whole. (If the eval side ever outgrew broadcast, the same plan
  // degrades gracefully to a shuffle equi-join on the hash — still
  // never all-pairs.)
  private val decontMinShared = 2
  private val decontTauPpm = 200000L // containment >= 20% flags
  private val decontaminate = GraftQuery(
    "decontaminate",
    (s, d) => {
      val sh = shingled(s, d)
      val evalSide = sh.filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id").as("eval_id"),
          size(col("shingles")).as("n_eval"),
          explode(col("shingles")).as("h"))
      val train = sh.filter(pmod(col("doc_id"), lit(100)) =!= 0)
        .select(col("doc_id"), explode(col("shingles")).as("h"))
      train.join(broadcast(evalSide), "h")
        .groupBy(col("doc_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"),
          first(col("n_eval")).as("n_eval"))
        .filter(col("n_shared") >= decontMinShared)
        .select(col("doc_id"), col("eval_id"), col("n_shared"),
          col("n_eval"),
          expr("(1000000 * n_shared) div n_eval").as("containment_ppm"))
        .withColumn("is_contaminated",
          col("containment_ppm") >= decontTauPpm)
        .orderBy(col("doc_id"), col("eval_id"))
    },
    Some(s"""
      WITH $shingledSql,
      ev AS (SELECT doc_id AS eval_id, len(shingles) AS n_eval,
          unnest(shingles) AS h
        FROM sh WHERE doc_id % 100 = 0),
      tr AS (SELECT doc_id, unnest(shingles) AS h
             FROM sh WHERE doc_id % 100 <> 0),
      ov AS (SELECT tr.doc_id, ev.eval_id,
          COUNT(*) AS n_shared, MIN(ev.n_eval) AS n_eval
        FROM tr JOIN ev ON tr.h = ev.h
        GROUP BY 1, 2
        HAVING COUNT(*) >= $decontMinShared)
      SELECT doc_id, eval_id, n_shared,
        CAST(n_eval AS BIGINT) AS n_eval,
        (1000000 * n_shared) // n_eval AS containment_ppm,
        (1000000 * n_shared) // n_eval >= $decontTauPpm AS is_contaminated
      FROM ov
      ORDER BY doc_id, eval_id
      """))

  // C8 — passage-level dedup (the CCNet/Dolma paragraph-dedup shape):
  // chunk every document into fixed-width word passages, keep the first
  // occurrence of each distinct passage corpus-wide (first = smallest
  // (doc_id, idx)), drop the rest, and reassemble each document from its
  // surviving passages. This removes boilerplate shared ACROSS documents
  // (headers, navigation, license blocks) that document-level dedup
  // can't touch.
  //
  // Scale shape: chunking is a per-row explode with fan-out bounded by
  // document length. Winner election is a hash-keyed AGGREGATION (min),
  // not a window — a boilerplate passage duplicated in a billion
  // documents combines map-side to one row per partition, whereas a
  // window over the passage hash would sort the whole hot group in one
  // task. The join-back fans each passage to exactly one winner row,
  // and per-document reassembly buffers only that document's passages.
  private val chunkWords = 32

  /** (doc_id, idx, chunk, h, okey) passage table over a (doc_id, text)
    * frame. PERSISTED: feeds both the winner election and the join-back
    * — without it the scan + interpreted `words` tokenization + chunk
    * explode runs twice (no cross-branch CSE), the same materialize-
    * the-featurized-working-set pattern as `shingled`.
    */
  /** The chunking itself, un-persisted: pure per-row explode, legal on
    * streaming frames too (the streaming counterpart keys state by `h`
    * — see [[graft.streaming.StreamingPassageDedup]]).
    */
  private[graft] def passageChunksRaw(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"),
        explode(expr(
          s"sequence(0, (size(w) + ${chunkWords - 1}) div $chunkWords - 1)"))
          .as("idx"))
      .select(col("doc_id"), col("idx"),
        array_join(
          expr(s"slice(w, idx * $chunkWords + 1, $chunkWords)"), " ")
          .as("chunk"))
      .withColumn("h", md5(col("chunk")))
      // global first-occurrence key: exact int64, no overflow at any
      // plausible doc_id (idx < 1e5 ⇒ key < doc_id·1e5 + 1e5).
      .withColumn("okey",
        col("doc_id").cast(LongType) * lit(100000L) + col("idx"))

  private[graft] def passageChunks(docs: org.apache.spark.sql.DataFrame) =
    passageChunksRaw(docs).persistTracked

  /** Corpus-wide first-occurrence winner per passage hash — an
    * AGGREGATION, so a boilerplate passage duplicated in a billion
    * documents combines map-side to one row per partition (the property
    * a window over `h` would not have; SkewSpec measures it).
    */
  private[graft] def passageWinners(chunks: org.apache.spark.sql.DataFrame) =
    chunks.groupBy(col("h")).agg(min(col("okey")).as("winner"))

  private[graft] def passageDedupOver(docs: org.apache.spark.sql.DataFrame) = {
    val chunks = passageChunks(docs)
    chunks.join(passageWinners(chunks), "h")
      .withColumn("kept", col("okey") === col("winner"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), lit(0L)).otherwise(lit(1L))).as("n_dup"),
        // reassemble kept passages in position order; collect_list
        // drops the null (non-kept) entries, array_sort orders the
        // structs by idx (unique per doc), so the md5 is over the
        // byte-exact cleaned document.
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  // C13 — exact substring dedup (the ExactSubstr shape of Lee et al.
  // 2022, "Deduplicating Training Data Makes Language Models Better"):
  // remove every duplicated token run of length ≥ L that occurs anywhere
  // else in the corpus, keeping only its corpus-wide first occurrence.
  // Unlike C8's disjoint fixed-width passages this slides a STRIDE-1
  // window, so it catches duplication at arbitrary alignment (a license
  // block starting mid-sentence, a quoted paragraph) that chunk-boundary
  // dedup structurally misses.
  //
  // The reference implementation builds a suffix array over the
  // concatenated corpus — a global sequential structure with no good
  // distributed analog. The Spark-first shape is a window-fingerprint
  // election: tokenize → fingerprint every L-token window (per-row map,
  // no shuffle) → ONE hash-keyed aggregation electing each window's
  // first occurrence (map-side combinable: a window duplicated in a
  // billion documents combines to one row per partition) → join back to
  // mark losing occurrences → interval-union their covered positions →
  // reassemble the kept tokens. Windows shuffle as 16-hex-char md5
  // prefixes (64-bit, engine-portable — DuckDB computes the identical
  // md5), never as the window string itself, so the shuffle stays
  // narrow at corpus scale. okey = doc_id·1e5 + pos (same exact-int64
  // first-occurrence key and position bound as C8).
  private val substrL = 8

  private[graft] def substringDedupOver(docs: DataFrame, L: Int)
      : DataFrame = {
    val pat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    val toks = docs.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit(pat), lit(0)).as("toks"))
      .persistTracked // feeds window fingerprinting AND reassembly
    val win = toks
      .filter(size(col("toks")) >= L)
      .selectExpr("doc_id",
        s"""posexplode(transform(sequence(0, size(toks) - $L),
           i -> substring(md5(concat_ws(' ', slice(toks, i + 1, $L))),
                          1, 16))) AS (pos, wk)""")
      .withColumn("okey", col("doc_id") * lit(100000L) + col("pos"))
    val winners = win.groupBy(col("wk"))
      .agg(count(lit(1)).as("cnt"), min(col("okey")).as("winner"))
      .where(col("cnt") >= 2)
    val marked = win.join(winners, "wk")
      .where(col("okey") =!= col("winner"))
      .select(col("doc_id").as("mdoc"),
        explode(sequence(col("pos"), col("pos") + lit(L - 1))).as("mpos"))
      .distinct()
    val tok = toks.selectExpr("doc_id", "posexplode(toks) AS (pos, token)")
    val agg = tok
      .join(marked, tok("doc_id") === marked("mdoc") &&
        col("pos") === col("mpos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("mpos")).as("n_dup_tokens"),
        // reassemble kept tokens in position order: struct sort is by
        // pos (unique per doc), filter keeps unmarked positions
        concat_ws(" ", transform(
          filter(
            array_sort(collect_list(struct(col("pos"), col("token"),
              col("mpos").isNull.as("keep")))),
            s => s.getField("keep")),
          s => s.getField("token"))).as("dedup_text"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
      .orderBy(col("doc_id"))
  }

  private val substringDedup = GraftQuery(
    "substring_dedup",
    (s, d) => substringDedupOver(
      Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text")), substrL),
    Some(s"""
      WITH t AS (
        SELECT doc_id,
          regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')
            AS toks
        FROM documents),
      w0 AS (
        SELECT doc_id, toks,
          unnest(range(1, len(toks) - ${substrL - 2})) AS i
        FROM t),
      win AS (
        SELECT doc_id, i - 1 AS pos,
          substr(md5(array_to_string(toks[i : i + ${substrL - 1}], ' ')),
            1, 16) AS wk,
          doc_id * 100000 + i - 1 AS okey
        FROM w0),
      winners AS (
        SELECT wk, MIN(okey) AS winner
        FROM win GROUP BY wk HAVING COUNT(*) >= 2),
      m0 AS (
        SELECT doc_id, pos, unnest(range($substrL)) AS d
        FROM win JOIN winners USING (wk) WHERE okey <> winner),
      marked AS (SELECT DISTINCT doc_id, pos + d AS mpos FROM m0),
      tok AS (
        SELECT doc_id, unnest(toks) AS token,
          unnest(range(len(toks))) AS pos
        FROM t),
      agg AS (
        SELECT k.doc_id,
          COUNT(*) AS n_tokens,
          COUNT(m.mpos) AS n_dup_tokens,
          coalesce(string_agg(CASE WHEN m.mpos IS NULL THEN k.token END,
            ' ' ORDER BY k.pos), '') AS dedup_text
        FROM tok k LEFT JOIN marked m
          ON k.doc_id = m.doc_id AND k.pos = m.mpos
        GROUP BY k.doc_id)
      SELECT t.doc_id,
        coalesce(a.n_tokens, 0) AS n_tokens,
        coalesce(a.n_dup_tokens, 0) AS n_dup_tokens,
        coalesce(a.dedup_text, '') AS dedup_text
      FROM t LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id
      """))

  private val passageDedup = GraftQuery(
    "passage_dedup",
    (s, d) =>
      passageDedupOver(Tables.parallelized(Tables.documents(s, d))),
    Some(s"""
      WITH t AS (
        SELECT doc_id, ${Portable.sql.words} AS w FROM documents),
      c AS (
        SELECT doc_id, i AS idx,
          list_aggregate(
            w[i*$chunkWords+1 : i*$chunkWords+$chunkWords],
            'string_agg', ' ') AS chunk
        FROM t, UNNEST(range((len(w)+${chunkWords - 1})//$chunkWords))
          AS u(i)
        WHERE len(w) > 0),
      ch AS (
        SELECT doc_id, idx, chunk, md5(chunk) AS h,
          CAST(doc_id AS BIGINT) * 100000 + idx AS okey
        FROM c),
      win AS (SELECT h, MIN(okey) AS winner FROM ch GROUP BY h),
      k AS (
        SELECT ch.doc_id, ch.idx, ch.chunk, ch.okey = win.winner AS kept
        FROM ch JOIN win ON ch.h = win.h)
      SELECT doc_id,
        COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
        md5(coalesce(
          string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY idx),
          '')) AS clean_md5
      FROM k GROUP BY doc_id ORDER BY doc_id
      """))

  // C9 — boilerplate stripping (the C4/CCNet "remove any line that
  // appears in more than one document" rule, over the same fixed-width
  // word passages as C8): a chunk whose document frequency reaches
  // `boilerMinDf` is navigation/header/license boilerplate and is
  // removed from EVERY document — including the first occurrence, which
  // is what distinguishes this from passage_dedup's keep-the-winner
  // semantics (C8 dedups genuine content; C9 deletes template noise).
  //
  // Scale shape: document frequency is count(DISTINCT doc_id) per chunk
  // hash, which Spark executes as two well-keyed aggregations — partial
  // distinct on (h, doc_id), then a map-side-combinable count per h — so
  // a chunk present in a billion documents never concentrates in one
  // task. The join-back fans each occurrence to one df row, and
  // reassembly buffers only a single document's passages.
  private val boilerMinDf = 2

  private[graft] def boilerplateStripOver(
      docs: org.apache.spark.sql.DataFrame) = {
    val chunks = passageChunks(docs)
    val dfs = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
    chunks.join(dfs, "h")
      .withColumn("kept", col("df") < boilerMinDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), lit(0L)).otherwise(lit(1L)))
          .as("n_boiler"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val boilerplateStrip = GraftQuery(
    "boilerplate_strip",
    (s, d) =>
      boilerplateStripOver(Tables.parallelized(Tables.documents(s, d))),
    Some(s"""
      WITH t AS (
        SELECT doc_id, ${Portable.sql.words} AS w FROM documents),
      c AS (
        SELECT doc_id, i AS idx,
          list_aggregate(
            w[i*$chunkWords+1 : i*$chunkWords+$chunkWords],
            'string_agg', ' ') AS chunk
        FROM t, UNNEST(range((len(w)+${chunkWords - 1})//$chunkWords))
          AS u(i)
        WHERE len(w) > 0),
      ch AS (SELECT doc_id, idx, chunk, md5(chunk) AS h FROM c),
      dfs AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY h),
      k AS (
        SELECT ch.doc_id, ch.idx, ch.chunk, dfs.df < $boilerMinDf AS kept
        FROM ch JOIN dfs ON ch.h = dfs.h)
      SELECT doc_id,
        COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler,
        md5(coalesce(
          string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY idx),
          '')) AS clean_md5
      FROM k GROUP BY doc_id ORDER BY doc_id
      """))

  // C10 — multi-signal semantic dedup: the composed decision a real
  // curation pipeline ships — lexical near-dups (C2's verified MinHash
  // pairs) UNION semantic near-dups (D6's within-label embedding pairs
  // at cosine ≥ τ) → one connected-components pass (C6's propagation)
  // → a keep/drop verdict per document (canonical = component minimum).
  // Catches both paraphrases that shingles miss and boilerplate
  // rewrites that embeddings miss. Both pair generators are the
  // already-bounded ones (LSH buckets / IVF cells — never all-pairs),
  // the union is pair-scale, and the per-doc verdict is a left join of
  // the corpus against the component labels.
  /** C10's embedding-pair threshold: C5's NEAR-DUP τ BY REFERENCE (an
    * independent 0.45 literal here could drift from AnnPack.nearDupTau
    * without either query's own oracle noticing — each interpolates its
    * own pack's constant), not D6's 0.3 range-search demo τ — a dedup
    * verdict at cos ≥ 0.3 would flag half of any real corpus as
    * "semantic dups", and the 0.3 pair graph is ~100× denser (measured
    * at sf0.1: 1449 edges vs 15), which the round-5 CC build paid 167 s
    * cold for.
    */
  private[graft] val semanticTau = AnnPack.nearDupTau

  /** C10's cluster frame (doc_id, cluster_id, is_dup) — factored so
    * the quality-aware election (C16 `semantic_dedup_best`) labels
    * documents with EXACTLY the components the min-id verdict is
    * oracle-verified on.
    */
  private[graft] def semanticClusters(s: SparkSession,
      d: String): DataFrame = {
      val mh = minhashPairs(s, d).select(col("doc_a"), col("doc_b"))
      val em = AnnPack.rangePairs(s, d, semanticTau)
        .select(col("vec_id").as("doc_a"), col("nn_id").as("doc_b"))
      // Pre-contract exact-duplicate stars out of the union graph before
      // the CC loop: docs with ≥ 3 words sharing a text fingerprint are
      // pairwise connected in the minhash graph already (identical
      // shingle sets ⇒ identical signatures ⇒ jaccard 1 ≥ τ), so mapping
      // every edge endpoint to its group minimum preserves components
      // EXACTLY while deleting the C(k,2) clique edges a viral k-way
      // duplicate group would otherwise drag through every contraction
      // round. Restricted to ≥ 3 words because only those docs shingle —
      // a 2-word exact pair is NOT in the minhash graph, and contracting
      // it would diverge from the oracle's closure over the real edges.
      // the C1 election (agg + join-back), reused: is_dup ⇒ group ≥ 2
      val repOf = withDupFlag(
          Tables.parallelized(Tables.documents(s, d))
            .select(col("doc_id"),
              md5(normText(col("text"))).as("fingerprint"),
              size(words(col("text"))).as("__nw"))
            .filter(col("__nw") >= 3)
            .select(col("doc_id"), col("fingerprint")))
        .filter(col("is_dup"))
        .select(col("doc_id"), col("__canonical").as("rep"))
      val edges = mh.union(em)
        .join(repOf.select(col("doc_id").as("doc_a"), col("rep").as("ra")),
          Seq("doc_a"), "left")
        .join(repOf.select(col("doc_id").as("doc_b"), col("rep").as("rb")),
          Seq("doc_b"), "left")
        .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
          coalesce(col("rb"), col("doc_b")).as("doc_b"))
      // clusterPairs dedups and drops self-loops itself; labels are per
      // contracted node, expanded back through the rep map (a non-rep
      // group member's component min is its rep's — the rep is the
      // group's min and every member exceeds it).
      val labels = clusterPairs(edges)
      Tables.documents(s, d).select(col("doc_id"))
        .join(repOf, Seq("doc_id"), "left")
        .withColumn("node", coalesce(col("rep"), col("doc_id")))
        .join(labels.select(col("node"), col("lab")), Seq("node"), "left")
        .withColumn("cluster_id", coalesce(col("lab"), col("node")))
        .withColumn("is_dup", col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("is_dup"))
  }

  /** The C10 component closure as DuckDB CTEs ending in `clu(doc_id,
    * cluster_id)` — factored verbatim from C10's oracle so C16
    * composes the SAME closure proof.
    */
  private val semanticClustersSql: String = s"""$minhashPairsSql,
      ${AnnPack.vecsSql},
      epairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(${graft.functions.Vectors.sql.dot("a.v", "b.v")}
            / (a.nrm * b.nrm), 6) >= $semanticTau),
      allp AS (SELECT doc_a, doc_b FROM pairs
               UNION SELECT doc_a, doc_b FROM epairs),
      nodes AS (SELECT doc_a AS node FROM allp
                UNION SELECT doc_b FROM allp),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM allp
                UNION ALL SELECT doc_b, doc_a FROM allp),
      reach(a, b) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.a, g.b FROM reach r JOIN edges g ON r.b = g.a),
      res AS (SELECT a AS doc_id, MIN(b) AS cluster_id
              FROM reach GROUP BY a),
      clu AS (SELECT dd.doc_id,
          coalesce(res.cluster_id, dd.doc_id) AS cluster_id
        FROM documents dd LEFT JOIN res ON dd.doc_id = res.doc_id)"""

  private val semanticDedup = GraftQuery(
    "semantic_dedup",
    (s, d) => semanticClusters(s, d).orderBy(col("doc_id")),
    Some(s"""
      WITH RECURSIVE $semanticClustersSql
      SELECT doc_id, cluster_id, doc_id <> cluster_id AS is_dup
      FROM clu ORDER BY doc_id
      """))

  // C16 — quality-aware canonical election (r12): every dedup verdict
  // in the repo elects the component MINIMUM doc_id as canonical —
  // deterministic, but a production pipeline keeps the best-QUALITY
  // member of each duplicate cluster. This row re-labels C10's
  // components with canonical = argmax (quality score DESC, doc_id
  // ASC) — H10's learned score as the fitness, doc_id as the
  // deterministic tiebreak, so the election stays a total order and
  // the row stays fully oracle-able (the closure proof composed with
  // the quality proof VERBATIM). Election is an AGGREGATION + join-back
  // (the C1 discipline — max_by combines map-side and AQE can split a
  // viral cluster across tasks; a window partitioned by cluster_id
  // could not), so the hot-cluster shape is as safe as every other
  // election in the repo.
  /** The election engine over (doc_id, cluster_id) labels and (doc_id,
    * score_q20) scores — spec entry point; docs without a score (the
    * quality featurizer needs ≥ 2 words) rank below every scored
    * member via the −1 sentinel, doc_id breaking ties.
    */
  private[graft] def bestCanonicalOf(labels: DataFrame,
      scores: DataFrame): DataFrame = {
    val withScore = labels
      .join(scores.select(col("doc_id"), col("score_q20")),
        Seq("doc_id"), "left")
      .withColumn("sc", coalesce(col("score_q20"), lit(-1L)))
    val elect = withScore.groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(col("sc").as("s"), (-col("doc_id")).as("nd")))
        .as("canonical_id"))
    // plain equi-join, not a broadcast: the election frame is one row
    // per cluster — corpus-scale, like C1's group table
    withScore.join(elect, Seq("cluster_id"))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        col("is_dup"))
  }

  private val semanticDedupBest = GraftQuery(
    "semantic_dedup_best",
    (s, d) => bestCanonicalOf(
        semanticClusters(s, d).select(col("doc_id"), col("cluster_id")),
        graft.operators.CurationPack.qualityScoreOver(
          Tables.parallelized(Tables.documents(s, d))
            .select(col("doc_id"), col("text"))))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH RECURSIVE $semanticClustersSql,
      qsc AS (SELECT doc_id, score_q20
        FROM (${graft.operators.CurationPack.qualityScoreOracle}) x),
      msc AS (SELECT c.doc_id, c.cluster_id,
          COALESCE(q.score_q20, -1) AS sc
        FROM clu c LEFT JOIN qsc q ON c.doc_id = q.doc_id),
      el AS (SELECT cluster_id, doc_id AS canonical_id,
          ROW_NUMBER() OVER (PARTITION BY cluster_id
            ORDER BY sc DESC, doc_id) AS rn
        FROM msc)
      SELECT m.doc_id, m.cluster_id, e.canonical_id,
        m.doc_id <> e.canonical_id AS is_dup
      FROM msc m JOIN el e
        ON m.cluster_id = e.cluster_id AND e.rn = 1
      ORDER BY m.doc_id
      """))

  // C11 — incremental dedup against a PERSISTED history store (the
  // production ingest shape: a new batch dedups against all history
  // without rescanning or reshuffling it). Even doc_ids play the
  // 100 TB history — their fingerprint table lands bucketed+sorted by
  // fingerprint once per (session, dataset) — and odd doc_ids are the
  // arriving batch: the probe is a sort-merge join whose history side
  // reads its buckets IN PLACE (no exchange above the store scan,
  // spec-asserted), while only the small batch shuffles. Verdicts
  // distinguish re-ingested content (dup_of_history) from novel
  // within-batch duplicates (batch-minimum election, agg + join-back).
  /** Store builds memoized through [[graft.Caches.store]]: releaseAll
    * drops them with every other registry memo, so a dataset dir
    * rewritten in-session never probes the NEW batch against the STALE
    * history store.
    */
  private def fpStore(s: SparkSession, d: String): String =
    graft.Caches.store(s, d, "graft_fp_store_%s")(Seq(_)) { (table, dir) =>
      graft.sources.FingerprintStore.write(
        Tables.parallelized(Tables.documents(s, d))
          .filter(pmod(col("doc_id"), lit(2)) === 0),
        table, dir)
    }

  private val dedupIncremental = GraftQuery(
    "dedup_incremental",
    // batch head NOT parallelized (r17 — the r16 verdict's task 2:
    // this head was a kept loser; r16's own clean windows measured the
    // r15 shape at 0.97 s cold vs 1.25/1.49 s with the exchange — the
    // one-task md5+normText of the half-batch is cheaper than the
    // 32-way head exchange's scheduling). Guard-gated no-op at cluster
    // file counts either way.
    (s, d) => graft.sources.FingerprintStore.dedupAgainst(
        s, fpStore(s, d),
        Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(2)) =!= 0))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH f AS (
        SELECT doc_id,
          md5(array_to_string(${Portable.sql.words}, ' ')) AS fingerprint,
          doc_id % 2 = 0 AS hist
        FROM documents),
      h AS (SELECT fingerprint, MIN(doc_id) AS h_canon
            FROM f WHERE hist GROUP BY fingerprint),
      b AS (SELECT doc_id, fingerprint FROM f WHERE NOT hist),
      bg AS (SELECT fingerprint, MIN(doc_id) AS batch_min
             FROM b GROUP BY fingerprint)
      SELECT b.doc_id, b.fingerprint,
        COALESCE(h.h_canon, bg.batch_min) AS canonical_id,
        (h.h_canon IS NOT NULL AND h.h_canon <> bg.batch_min)
          AS dup_of_history,
        b.doc_id <> COALESCE(h.h_canon, bg.batch_min) AS is_dup
      FROM b
      JOIN bg ON b.fingerprint = bg.fingerprint
      LEFT JOIN h ON b.fingerprint = h.fingerprint
      ORDER BY b.doc_id
      """))

  // C12 — the NEAR-dup incremental counterpart of C11: the arriving
  // batch (odd doc_ids) probes the history's (even doc_ids) PERSISTED
  // LSH band store (sources/MinHashStore: band keys bucketed by key,
  // shingle sets bucketed by doc id — both read in place at probe
  // time), then verifies exact Jaccard ≥ τ only on candidate pairs.
  // The oracle recomputes C2's full pair graph over the whole corpus
  // and keeps the cross-parity pairs — the store path must find
  // exactly the pairs the in-corpus path finds.
  private def mhStore(s: SparkSession, d: String): String =
    graft.Caches.store(s, d, "graft_mh_store_%s")(
        b => Seq(s"${b}_bands", s"${b}_shingles")) { (base, dir) =>
      // uncapped: the oracle recomputes the FULL pair graph, so the
      // gated path must be exact by construction — the bounded-recall
      // cap (MinHashStore.capBands) is a production-ingest trade, not
      // part of the verified query semantics
      graft.sources.MinHashStore.write(
        Tables.parallelized(Tables.documents(s, d))
          .filter(pmod(col("doc_id"), lit(2)) === 0),
        base, dir, maxPerBucket = Int.MaxValue)
    }

  private val dedupIncrementalMinhash = GraftQuery(
    "dedup_incremental_minhash",
    (s, d) => graft.sources.MinHashStore.dedupAgainst(
        s, mhStore(s, d),
        Tables.parallelized(Tables.documents(s, d))
          .filter(pmod(col("doc_id"), lit(2)) =!= 0))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH $minhashPairsSql,
      x AS (
        SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS b_id,
               CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS h_id,
               jaccard
        FROM pairs WHERE (doc_a % 2) <> (doc_b % 2)),
      g AS (
        SELECT b_id, COUNT(*) AS n, MIN(h_id) AS hist, MAX(jaccard) AS best
        FROM x GROUP BY b_id)
      SELECT d.doc_id,
        CAST(COALESCE(g.n, 0) AS BIGINT) AS n_hist_matches,
        CAST(COALESCE(g.hist, -1) AS BIGINT) AS hist_canonical,
        COALESCE(g.best, 0.0) AS best_jaccard
      FROM documents d LEFT JOIN g ON d.doc_id = g.b_id
      WHERE d.doc_id % 2 = 1
      ORDER BY d.doc_id
      """))

  override val queries: Seq[GraftQuery] =
    Seq(dedupExact, dedupMinhash, dedupMinhashEst, dedupCluster,
      ngramJaccard, decontaminate,
      substringDedup, passageDedup, boilerplateStrip, semanticDedup,
      semanticDedupBest, dedupIncremental, dedupIncrementalMinhash)

  /** Cross-query shared working sets (see [[graft.QueryPack.warm]]):
    * the hashed-shingle table feeds C2/C4/C7 (+C6/C10 through the pair
    * frame), the verified MinHash pairs feed C2/C6/C10, and the passage
    * chunk table feeds C8/C9.
    */
  override def warm: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      "dedup_shingled" -> ((s, d) => shingled(s, d)),
      "dedup_minhash_pairs" -> ((s, d) => minhashPairs(s, d)),
      "dedup_passage_chunks" -> ((s, d) =>
        passageChunks(Tables.parallelized(Tables.documents(s, d)))))
}
