package graft.operators

import graft.{GraftQuery, QueryPack}
import graft.expressions.GraftFunctions
import graft.functions.Portable._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 C3/C15 — SimHash near-dup detection, powered by the
  * native Catalyst expressions (block G).
  *
  * Scale shape: the signature is one codegen'd expression per row (no
  * shuffle). Candidate generation is MULTI-PROBE over 4 blocks of 16
  * signature bits: hamming <= 7 across 4 blocks forces some block to
  * differ by AT MOST ONE bit (pigeonhole, 4×2 > 7), so probing each
  * block's exact 16-bit key plus its 16 single-bit flips has guaranteed
  * recall at the threshold. Versus the plain 8×8-bit banding (256
  * buckets per band — bucket population grows as n/256, quadratic
  * within buckets at corpus scale), the 65536-way keys shrink buckets
  * 256× for a 8.5× key fanout: random-pair collision probability drops
  * from 8/2^8 to ~68/2^16 (≈30×), and the bucket-size scale knob
  * improves by two orders of magnitude. The oracle brute-forces all
  * pairs independently, so the gate re-proves recall = 1.
  */
object SimHashPack extends QueryPack {

  private[graft] val maxHamming = 7
  private[graft] val numBlocks = 4
  private[graft] val blockBits = 16

  /** (doc_id, sig): the codegen'd 64-bit SimHash per document with
    * ≥ 1 word — one per-row projection, no shuffle. Shared by the C3
    * all-pairs query and both sides of the C15 store.
    */
  private[graft] def sigsOf(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), expr("graft_simhash64(w)").as("sig"))
  }

  private def blockKey(sig: Column, b: Int): Column =
    shiftrightunsigned(sig, b * blockBits)
      .bitwiseAND(lit((1L << blockBits) - 1))

  /** A block's (blk, key) as ONE composite long — blk·2^16 + key — so
    * the C15 store can bucket by a single join column (the C12 bkey
    * lesson: a two-column join over a one-column-bucketed table does
    * not co-partition and re-shuffles the history).
    */
  private def bkey(sig: Column, b: Int): Column =
    lit(b.toLong << blockBits).plus(blockKey(sig, b))

  /** The numBlocks exact composite block keys of a signature — the
    * store/index side (4 rows per doc).
    */
  private[graft] def exactBkeys(sig: Column): Column =
    array((0 until numBlocks).map(b => bkey(sig, b)): _*)

  /** The multi-probe key set of a signature: each block's exact key
    * plus all single-bit flips (17 keys per block, 68 per doc) — the
    * probe side. Probe-side flips against exact-key storage is what
    * buys recall 1 at hamming ≤ [[maxHamming]] without also inflating
    * the persisted store 17×.
    */
  private[graft] def probeBkeys(sig: Column): Column =
    array((0 until numBlocks).flatMap { b =>
      bkey(sig, b) +: (0 until blockBits).map(i =>
        lit(b.toLong << blockBits)
          .plus(blockKey(sig, b).bitwiseXOR(lit(1L << i))))
    }: _*)

  /** In-query hot-bucket admission cap — the [[graft.sources
    * .SimHashStore]]/[[graft.sources.MinHashStore]] `maxPerBucket`
    * discipline applied to the IN-QUERY candidate join (r10 verdict's
    * one open hazard): a degenerate corpus — billions of near-constant
    * payloads, think tracking pixels — puts its whole population behind
    * ONE 16-bit block value, and an uncapped probe ⋈ index join on that
    * key generates a QUADRATIC candidate set before the hamming filter
    * ever runs (AQE skew-split spreads the join's partitions, but the
    * pair mass itself is the cost). The cap retains the `maxPerBucket`
    * SMALLEST doc ids per composite block key on the INDEX side — a
    * [[graft.plans.TopKPerKey]] bounded heap (map-side partial prune,
    * one hash exchange), never a per-bucket sort, so the hot bucket
    * never materializes.
    *
    * Recall — the honest bound, same as the stores': a pair (a, b) is
    * dropped iff b is capped out of EVERY block bucket the pair
    * collides in, so pair mass per bucket is ≤ n·cap instead of n²;
    * among any `maxPerBucket` docs sharing a bucket, recall stays 1.
    * At the default cap the bound is unreachable on non-degenerate
    * corpora (sf0.1's hottest block bucket is ~20 docs, so the gated
    * rows run capped AND still hash-match the uncapped brute-force
    * oracle — which is what keeps the oracle an independent recall
    * proof rather than a mirror of the cap); the degenerate shape is
    * spec-pinned with a planted constant-payload corpus instead
    * (SkewSpec). `Int.MaxValue` disables, like the stores.
    */
  private[graft] val defaultMaxPerBucket = 1024

  /** The shared multi-probe candidate engine over a (doc_id, sig)
    * frame: exact-key index side (capped — see [[defaultMaxPerBucket]])
    * ⋈ flip-probe side on the composite block key, pair-level dedupe,
    * one codegen'd popcount per pair. Used verbatim by C3
    * (`dedup_simhash`) and F5 ([[MediaPack.nearDupPairsOver]]) — one
    * spelling, so the hazard fix cannot drift between the text and
    * media paths.
    */
  private[graft] def nearPairs(sigs: DataFrame,
      cap: Int = defaultMaxPerBucket): DataFrame = {
    val idxAll = sigs
      .select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        explode(exactBkeys(col("sig"))).as("bkey_b"))
    val idx = if (cap == Int.MaxValue) idxAll
      else graft.plans.TopKPerKey(idxAll, Seq(col("bkey_b")),
        Seq(col("doc_b").asc), cap)
    val probe = sigs
      .select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        explode(probeBkeys(col("sig"))).as("bkey"))
    probe.join(idx, col("bkey") === col("bkey_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("hamming",
        expr("graft_hamming(sig_a, sig_b)").cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** The DuckDB spelling of the corpus signature table — CTE chain
    * ending in `sig(doc_id, lo, hi)` (the 64-bit signature as two
    * int64 halves; DuckDB's `<<` on BIGINT is well-defined to 63 bits
    * so the halves never touch the sign bit). Shared by the C3 oracle
    * and both C15 gate rows.
    */
  private[graft] val sigSql: String = s"""
      w AS (SELECT doc_id, ${graft.functions.Portable.sql.words} AS w
                 FROM documents),
      tok AS (SELECT doc_id, unnest(w) AS word FROM w WHERE len(w) > 0),
      h AS (SELECT doc_id,
          CAST('0x'||substr(md5(word),1,8) AS BIGINT) AS hi,
          CAST('0x'||substr(md5(word),9,8) AS BIGINT) AS lo
        FROM tok),
      b AS (SELECT doc_id, unnest(range(64)) AS j, hi, lo FROM h),
      c AS (SELECT doc_id, j,
          SUM(CASE WHEN ((CASE WHEN j < 32 THEN lo >> CAST(j AS INTEGER)
                          ELSE hi >> CAST(j - 32 AS INTEGER) END) & 1) = 1
              THEN 1 ELSE -1 END) AS cnt
        FROM b GROUP BY 1, 2),
      sig AS (SELECT doc_id,
          CAST(SUM(CASE WHEN cnt > 0 AND j < 32
            THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
            ELSE 0 END) AS BIGINT) AS lo,
          CAST(SUM(CASE WHEN cnt > 0 AND j >= 32
            THEN (CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER))
            ELSE 0 END) AS BIGINT) AS hi
        FROM c GROUP BY doc_id)"""

  private val dedupSimhash = GraftQuery(
    "dedup_simhash",
    (s, d) => nearPairs(
        sigsOf(Tables.parallelized(Tables.documents(s, d))))
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""
      WITH $sigSql
      SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b,
        CAST(bit_count(xor(a.lo, bb.lo)) + bit_count(xor(a.hi, bb.hi))
          AS BIGINT) AS hamming
      FROM sig a JOIN sig bb ON a.doc_id < bb.doc_id
      WHERE bit_count(xor(a.lo, bb.lo)) + bit_count(xor(a.hi, bb.hi))
        <= $maxHamming
      ORDER BY doc_a, doc_b
      """))

  /** Build (once per JVM × dataset × path-shape, [[graft.Caches.store]])
    * the C15 gate's history store: even doc_ids.
    * `split = true` writes the doc_id % 4 == 0 slice and APPENDS the
    * % 4 == 2 slice — the probe must be identical either way, which is
    * the append contract the second gate row proves.
    */
  private def simStore(s: SparkSession, d: String,
      split: Boolean): String =
    graft.Caches.store(s, d, "graft_sh_store_%s" + (if (split) "a" else ""))(
        Seq(_)) { (table, dir) =>
      val hist = Tables.parallelized(Tables.documents(s, d))
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
      if (!split) graft.sources.SimHashStore.write(hist, table, dir)
      else {
        graft.sources.SimHashStore.write(
          hist.filter(pmod(col("doc_id"), lit(4)) === 0), table, dir)
        graft.sources.SimHashStore.append(s, table,
          hist.filter(pmod(col("doc_id"), lit(4)) === 2))
      }
    }

  private def oddBatch(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.documents(s, d))
      .filter(pmod(col("doc_id"), lit(2)) =!= 0)
      .select(col("doc_id"), col("text"))

  /** The brute-force cross-parity oracle BOTH C15 gate rows must
    * hash-match: every (odd batch, even history) pair at
    * hamming ≤ [[maxHamming]], aggregated to the store's verdict row.
    * The multi-probe recall-1 guarantee is what makes a brute-force
    * oracle hash-matchable at all — a probe that could miss a
    * qualifying pair would diverge on the first boilerplate-heavy
    * dataset.
    */
  private val simhashIncOracle = s"""
      WITH $sigSql,
      x AS (SELECT bb.doc_id AS b_id, hh.doc_id AS h_id,
          bit_count(xor(bb.lo, hh.lo)) + bit_count(xor(bb.hi, hh.hi))
            AS ham
        FROM sig bb CROSS JOIN sig hh
        WHERE bb.doc_id % 2 = 1 AND hh.doc_id % 2 = 0),
      g AS (SELECT b_id, COUNT(*) AS cnt, MIN(h_id) AS hist,
          MIN(ham) AS best
        FROM x WHERE ham <= $maxHamming GROUP BY b_id)
      SELECT d.doc_id,
        CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n_hist_matches,
        CAST(COALESCE(g.hist, -1) AS BIGINT) AS hist_canonical,
        CAST(COALESCE(g.best, 64) AS BIGINT) AS best_hamming
      FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
      LEFT JOIN g ON d.doc_id = g.b_id
      ORDER BY doc_id
      """

  // C15 — incremental SimHash near-dup against the persisted store
  // (the structural-similarity leg of the incremental-store family;
  // C11 exact, C12 minhash, C14 embedding): odd doc_ids probe a store
  // built from the even history.
  private val dedupIncSimhash = GraftQuery(
    "dedup_incremental_simhash",
    (s, d) => graft.sources.SimHashStore.dedupAgainst(
        s, simStore(s, d, split = false), oddBatch(s, d))
      .orderBy(col("doc_id")),
    Some(simhashIncOracle))

  // C15's APPEND path through the driver gate: build on half the
  // history, append the other half (bucket-aligned key-row files),
  // probe — hash-matching the SAME one-build oracle proves appended
  // docs are found exactly as if present at build time.
  private val dedupIncSimhashAppend = GraftQuery(
    "dedup_incremental_simhash_append",
    (s, d) => graft.sources.SimHashStore.dedupAgainst(
        s, simStore(s, d, split = true), oddBatch(s, d))
      .orderBy(col("doc_id")),
    Some(simhashIncOracle))

  override val queries: Seq[GraftQuery] =
    Seq(dedupSimhash, dedupIncSimhash, dedupIncSimhashAppend)
}
