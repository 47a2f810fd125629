package graft.sources

import graft.operators.{DedupPack, SimHashPack}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Persisted SimHash multi-probe store — the STRUCTURAL-similarity leg
  * of the incremental-store family (SURVEY.md §2 C15; C11 exact, C12
  * minhash/jaccard, C14 embedding): an arriving batch finds every
  * history document within hamming ≤ 7 of its 64-bit SimHash without
  * recomputing or reshuffling the history.
  *
  * ONE table: `(bkey, h_id, sig)` — each history doc's 4 EXACT
  * composite block keys ([[SimHashPack.exactBkeys]]), each row carrying
  * the doc's full 8-byte signature, bucketed+sorted by `bkey`. Unlike
  * the MinHash store there is no second heavyweight feature table to
  * fetch for verification: the signature IS the feature, so the
  * candidate join delivers the verify operand for free and the whole
  * store costs 4 rows × ~24 B per history doc.
  *
  * Probe shape at scale: batch docs sign (one codegen'd projection),
  * explode to the 68-key multi-probe set ([[SimHashPack.probeBkeys]] —
  * flips on the PROBE side so the persisted store stays 4 rows/doc),
  * sort-merge-join the store on `bkey` with the history side reading
  * its buckets IN PLACE (no exchange above the store scan —
  * spec-asserted), dedupe candidate pairs, one codegen'd popcount per
  * pair. Recall at hamming ≤ 7 is 1 by pigeonhole (4 blocks × ≤ 1
  * flipped bit covers any ≤ 7-bit difference... any 7 differing bits
  * leave some 16-bit block with ≤ 1 of them), which is what lets the
  * driver gate hash-match a brute-force oracle.
  *
  * Canonical policy — STABILITY: sh_canonical is the smallest matching
  * history id, a pure function of (store, batch) — never a quality
  * rank, which would couple replayed verdicts to a mutable score table
  * (the full argument on [[FingerprintStore]]). Quality-aware election
  * is the downstream C16 composition
  * ([[graft.operators.DedupPack.bestCanonicalOf]]).
  */
object SimHashStore {

  /** The store's physical rows for a (doc_id, text) frame: one row per
    * (doc with ≥ 1 word) × exact block key.
    */
  private[graft] def keyRows(docs: DataFrame): DataFrame =
    SimHashPack.sigsOf(docs)
      .select(explode(SimHashPack.exactBkeys(col("sig"))).as("bkey"),
        col("doc_id").as("h_id"), col("sig"))

  /** Viral-block-bucket admission cap — the [[MinHashStore.write]]
    * discipline, OPT-IN here (default `Int.MaxValue` = uncapped):
    * this store's headline contract is recall 1 at hamming ≤ 7 by
    * pigeonhole, and any cap trades that away — a doc capped out of
    * every block bucket it shares with a probe is missed SILENTLY
    * (block-key collision is structural, so the retained colliders are
    * no substitute verdict for the evicted doc). The gate rows
    * therefore run uncapped and hash-match the brute oracle; a
    * boilerplate-heavy 100 TB history where one 16-bit block key
    * fronts millions of near-identical docs turns the cap on as a
    * declared bounded-recall trade, with the same deterministic
    * smallest-h_id retention as the MinHash store (reproducible across
    * writers — a [[graft.plans.TopKPerKey]] bounded heap, never a
    * per-bucket sort).
    */
  private def capKeys(rows: DataFrame, maxPerBucket: Int): DataFrame =
    if (maxPerBucket == Int.MaxValue) rows
    else graft.plans.TopKPerKey(rows, Seq(col("bkey")),
      Seq(col("h_id").asc), maxPerBucket)

  /** Land the history's exact-block-key table bucketed+sorted by bkey
    * as catalog table `table` at `path`. `maxPerBucket` bounds each
    * block bucket's admitted docs — see [[capKeys]] on the recall
    * trade (default uncapped: recall 1 is this store's contract).
    */
  def write(history: DataFrame, table: String, path: String,
      buckets: Int = 8, maxPerBucket: Int = Int.MaxValue): Unit =
    Bucketed.writeBucketed(capKeys(keyRows(history), maxPerBucket),
      table, "bkey", buckets, path)

  /** Fold `docs` (typically the batch survivors — the policy is the
    * caller's) into the history: their 4 key rows land as new
    * bucket-aligned files, visible to the next probe without touching
    * existing rows. Single-writer ingest contract, enforced by
    * [[Bucketed.withWriterLease]]; a crash-replayed append only
    * duplicates rows the probe's pair-level dedupe collapses, so
    * replays converge. `maxPerBucket` caps the BATCH's contribution
    * per block bucket ([[capKeys]]; default uncapped) — per ingest
    * unit, so a capped bucket's total across history + N appends is
    * bounded by (N+1)·cap until a declared [[rebuild]] re-tightens it.
    */
  def append(spark: SparkSession, table: String, docs: DataFrame,
      maxPerBucket: Int = Int.MaxValue): Unit =
    Bucketed.appendBucketed(spark, capKeys(keyRows(docs), maxPerBucket),
      table)

  /** Rewrite the appended-to store back to one sorted file per bucket —
    * run periodically between ingest batches to undo append
    * amplification.
    */
  def compact(spark: SparkSession, table: String): Unit =
    Bucketed.compactBucketed(spark, table)

  /** Declared REBUILD (r15 — the r14 verdict's task 2, the
    * [[EmbedStore.rebuildBandedLeg]]/[[MinHashStore.rebuild]]
    * discipline on this store): collapses crash-replay duplicate key
    * rows and — when a cap is in force — re-caps every block bucket to
    * the `maxPerBucket` smallest h_ids, undoing the (N+1)·cap
    * per-generation growth the append-time cap cannot (and [[compact]]
    * must not: its row-preservation contract is what keeps replayed
    * verdicts stable). One generation-swapped rewrite
    * ([[Bucketed.rewriteBucketed]]) — a crash leaves the pre-rebuild
    * store fully live. At the uncapped default this is a pure
    * duplicate collapse and verdicts are untouched (the probe already
    * dedupes pairs — the driver gate rows stay hash-identical); with a
    * cap it can change which candidates a probe sees, so run it at a
    * replay barrier, never between a crash and its replay.
    */
  def rebuild(spark: SparkSession, table: String,
      maxPerBucket: Int = Int.MaxValue): Unit =
    Bucketed.rewriteBucketed(spark, table,
      capKeys(spark.table(table).dropDuplicates("bkey", "h_id"),
        maxPerBucket))

  /** Near-dup verdict for `batch` (doc_id, text) against the store:
    * (doc_id, n_hist_matches, hist_canonical, best_hamming) — one row
    * per batch doc; 0 / -1 / 64 sentinels when no history doc is
    * within [[SimHashPack.maxHamming]] (64 exceeds any real 64-bit
    * hamming distance that can pass the filter). Deterministic
    * aggregations only — count, min id, min distance — no tie-break
    * order anywhere.
    */
  def dedupAgainst(spark: SparkSession, table: String,
      batch: DataFrame): DataFrame = {
    val store = spark.table(table)
    val probes = SimHashPack.sigsOf(batch)
      .select(col("doc_id"), col("sig").as("sig_a"),
        explode(SimHashPack.probeBkeys(col("sig"))).as("bkey"))
    val cand = probes.join(store, Seq("bkey"))
      // globally-unique doc ids ⇒ a self-pair can only be a
      // crash-replayed append's rows already in the store; dropping
      // them keeps replayed verdicts identical to the first attempt's
      .filter(col("doc_id") =!= col("h_id"))
      // a pair can collide in up to all 4 blocks × 2 probe flips, and
      // a replayed append duplicates store rows — one dedupe bounds
      // both before the popcount
      .dropDuplicates("doc_id", "h_id")
      .withColumn("hamming",
        expr("graft_hamming(sig_a, sig)").cast(LongType))
      .filter(col("hamming") <= SimHashPack.maxHamming)
    DedupPack.verdictsOf(batch, cand,
      "doc_id", min(col("hamming")), "best_hamming", 64L)
  }
}
