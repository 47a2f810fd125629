package graft.sources

import graft.functions.Portable
import graft.operators.DedupPack
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash/LSH band store — the NEAR-dup counterpart of
  * [[FingerprintStore]] (SURVEY.md §2 C12): an arriving batch finds its
  * near-duplicates inside a 100 TB history without recomputing or
  * reshuffling the history's signatures.
  *
  * Two tables under one base name:
  *  - `<base>_bands`    — (key, band, doc_id): the history's LSH band
  *    keys (C2's exact banding — the probe MUST band identically, so
  *    both sides run [[DedupPack.bandKeys]]), bucketed+sorted by `key`.
  *  - `<base>_shingles` — (doc_id, shingles): the history's hashed
  *    shingle sets for exact Jaccard verification, bucketed by doc_id.
  *
  * Probe shape at scale: batch band keys sort-merge-join the bands
  * table on `key` with the history side reading its buckets IN PLACE
  * (no exchange above either store scan — spec-asserted), candidate
  * (batch, history) pairs collapse to distinct, and only those pairs'
  * shingle sets are fetched from the shingles table for the exact
  * jaccard ≥ τ verdict. History cost is paid once at write; each batch
  * pays its own size, never the corpus's.
  *
  * Canonical policy — STABILITY: hist_canonical is the smallest
  * matching history id, a pure function of (store, batch) — never a
  * quality rank, which would couple replayed verdicts to a mutable
  * score table (the full argument on [[FingerprintStore]]).
  * Quality-aware election is the downstream C16 composition
  * ([[graft.operators.DedupPack.bestCanonicalOf]] — the "canonical
  * policy" spec runs it over THIS store's verdict).
  */
object MinHashStore {

  /** (doc_id, shingles) for a (doc_id, text) frame — C2's featurizer. */
  private[graft] def shingleDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Portable.words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        Portable.shingles3Hashed(col("w")).as("shingles"))

  /** band+key as ONE join column: the bands table is bucketed by this
    * single composite, so the probe join's keys are exactly the bucket
    * columns and the store scan's partitioning is usable as-is (a
    * (key, band) two-column join over a key-bucketed table does not
    * co-partition — Spark requires all cluster keys — and re-shuffles
    * the history).
    */
  private def bkey(band: Column, key: Column): Column =
    concat_ws(":", band.cast("string"), key)

  /** Viral-band-bucket admission cap, the persisted-store analog of
    * [[graft.streaming.StreamingMinHash]]'s `maxPerBucket`: boilerplate
    * -heavy histories put thousands of docs behind one band key, and
    * every probe of that key would fan out into thousands of candidate
    * pairs. Capping at WRITE bounds the store itself — any probe key
    * meets at most `maxPerBucket` history rows per band bucket per
    * ingest unit. Unlike the streaming cap (first-arrival admission,
    * deterministic only per stream), the retained set here must be
    * reproducible across writers, so the cap keeps the `maxPerBucket`
    * SMALLEST doc ids per bucket — a [[graft.plans.TopKPerKey]] bounded
    * heap (map-side partial prune, one hash exchange), never a
    * per-bucket sort.
    *
    * Recall — the honest bound: a history near-dup is missed iff its
    * doc id is capped out of EVERY band bucket it shares with the
    * probe. When that happens the miss is SILENT: band-key collision is
    * a MinHash coincidence, not jaccard ≥ τ, so the `maxPerBucket`
    * retained colliders may ALL fail the exact verify — they are not a
    * substitute verdict for the evicted doc. The cap is therefore a
    * deliberate bounded-recall trade (bounded probe fan-out on
    * boilerplate-heavy histories, in exchange for possible misses of
    * near-dups whose ids sort above the cap in every shared bucket),
    * spec-pinned by exactly that planted miss in DedupPackSpec. The
    * oracle-gated `dedup_incremental_minhash` path runs uncapped
    * (`Int.MaxValue` disables; sf0.1's max bucket is 14, so the default
    * cap cannot bind there either).
    */
  private def capBands(bands: DataFrame, maxPerBucket: Int): DataFrame =
    if (maxPerBucket == Int.MaxValue) bands
    else graft.plans.TopKPerKey(bands, Seq(col("bkey")),
      Seq(col("h_id").asc), maxPerBucket)

  /** The shingle rows worth storing given the capped band table: a doc
    * capped out of EVERY band bucket can never be named as a candidate
    * (candidates only come from band matches), so its shingle set — the
    * store's heavyweight column — would be permanently unreachable dead
    * storage, recompacted forever. Semi-join keeps exactly the docs the
    * probe can reach; with the cap disabled every banded doc survives,
    * so the join is skipped.
    */
  private def reachableShingles(sh: DataFrame, cappedBands: DataFrame,
      maxPerBucket: Int): DataFrame = {
    val rows = sh.select(col("doc_id").as("h_id"), col("shingles").as("sa"))
    if (maxPerBucket == Int.MaxValue) rows
    else rows.join(cappedBands.select("h_id").distinct(),
      Seq("h_id"), "left_semi")
  }

  /** Land the history's band-key and shingle tables bucketed at `path`.
    * `maxPerBucket` bounds each band bucket's admitted docs — see
    * [[capBands]].
    */
  def write(history: DataFrame, tableBase: String, path: String,
      buckets: Int = 8, maxPerBucket: Int = 1024): Unit = {
    val sh = shingleDocs(history)
    val bands = capBands(DedupPack.bandKeys(sh)
      .select(bkey(col("band"), col("key")).as("bkey"),
        col("doc_id").as("h_id")), maxPerBucket)
    Bucketed.writeBucketed(bands,
      s"${tableBase}_bands", "bkey", buckets, s"$path/bands")
    Bucketed.writeBucketed(reachableShingles(sh, bands, maxPerBucket),
      s"${tableBase}_shingles", "h_id", buckets, s"$path/shingles")
  }

  /** Fold `docs` (doc_id, text — typically the batch docs whose
    * [[dedupAgainst]] verdict found no history near-dup; the survivor
    * policy is the caller's) into the history: their band keys and
    * shingle sets land as new bucket-aligned files in both tables, so
    * the next batch's probe sees them without any rewrite of the
    * existing store. Single-writer ingest contract — enforced per
    * table by [[Bucketed.withWriterLease]] — and re-appending a
    * doc_id is the caller's bug.
    *
    * `maxPerBucket` caps the BATCH's contribution per band bucket
    * ([[capBands]]); the cap is per ingest unit — a bucket's total
    * across history + N appends is bounded by (N+1)·cap, and
    * [[compact]] deliberately does NOT re-cap (pruning at compaction
    * would change verdicts, breaking its byte-stability contract).
    * In the intended loop the appended docs are near-dup SURVIVORS,
    * whose band keys rarely collide — the cap is a guard against a
    * caller appending a raw boilerplate-heavy batch.
    */
  def append(spark: SparkSession, tableBase: String,
      docs: DataFrame, maxPerBucket: Int = 1024): Unit = {
    val sh = shingleDocs(docs)
    val bands = capBands(DedupPack.bandKeys(sh)
      .select(bkey(col("band"), col("key")).as("bkey"),
        col("doc_id").as("h_id")), maxPerBucket)
    Bucketed.appendBucketed(spark, bands, s"${tableBase}_bands")
    Bucketed.appendBucketed(spark,
      reachableShingles(sh, bands, maxPerBucket),
      s"${tableBase}_shingles")
  }

  /** Rewrite both appended-to store tables back to one sorted file per
    * bucket ([[Bucketed.compactBucketed]]) — run periodically between
    * ingest batches to undo append amplification.
    */
  def compact(spark: SparkSession, tableBase: String): Unit = {
    Bucketed.compactBucketed(spark, s"${tableBase}_bands")
    Bucketed.compactBucketed(spark, s"${tableBase}_shingles")
  }

  /** Declared REBUILD of the band store (r15 — the r14 verdict's task
    * 2: the [[EmbedStore.rebuildBandedLeg]] re-cap discipline,
    * generalized to this store's same growth mode). The admission cap
    * applies per ingest UNIT, so a hot band bucket grows to (N+1)·cap
    * across N appends and the probe's per-key fan-out bound degrades
    * linearly in append count; [[compact]] deliberately preserves rows
    * (a row-preserving compaction must not change verdicts under a
    * replayer's feet), so the re-tightening needs a DECLARED op with
    * the opposite contract. Collapses crash-replay duplicate rows,
    * re-caps every bucket to the `maxPerBucket` SMALLEST h_ids — the
    * same deterministic retention [[write]] uses, so
    * rebuild(history store) ≡ write(history) row-for-row — then prunes
    * the shingle table to the docs the capped bands can still reach,
    * in that order: a crash between the two rewrites leaves only
    * unreachable-but-harmless extra shingle rows (the reverse order
    * would drop shingle sets that live band rows still name, silently
    * erasing their exact-verify step). Each rewrite is
    * generation-swapped ([[Bucketed.rewriteBucketed]]) — a crash
    * leaves that table's pre-rebuild generation fully live. Replay
    * safety (the EmbedStore rebuild's contract): re-capping can change
    * which candidates a probe sees, so run at a replay barrier — all
    * in-flight batches committed, none awaiting replay — never between
    * a crash and its replay.
    */
  def rebuild(spark: SparkSession, tableBase: String,
      maxPerBucket: Int = 1024): Unit = {
    val bandsT = s"${tableBase}_bands"
    Bucketed.rewriteBucketed(spark, bandsT,
      capBands(spark.table(bandsT).distinct(), maxPerBucket))
    // re-resolve post-swap: the reachability semi-join must see the
    // re-capped generation, not the frame that produced it
    val sh = spark.table(s"${tableBase}_shingles")
      .dropDuplicates("h_id")
    Bucketed.rewriteBucketed(spark, s"${tableBase}_shingles",
      if (maxPerBucket == Int.MaxValue) sh
      else sh.join(spark.table(bandsT).select("h_id").distinct(),
        Seq("h_id"), "left_semi"))
  }

  /** Near-dup verdict for `batch` (doc_id, text) against the store:
    * (doc_id, n_hist_matches, hist_canonical, best_jaccard) — one row
    * per batch doc; -1 / 0 / 0.0 sentinels when no history near-dup
    * clears τ (deterministic aggregations only, no tie-break order).
    */
  def dedupAgainst(spark: SparkSession, tableBase: String,
      batch: DataFrame): DataFrame = {
    import graft.Caches.CachesSyntax
    // the batch featurization feeds the band probe AND the verify join
    // (no cross-branch CSE) — persist it, registry-scoped
    probe(spark, tableBase, batch, shingleDocs(batch).persistTracked)
  }

  /** As [[dedupAgainst]], but the persisted batch featurization is NOT
    * registry-tracked: it is returned for the caller to unpersist once
    * the verdicts are materialized. For per-micro-batch loops
    * ([[graft.streaming.StreamingIngest]]) whose cache lifecycle must
    * not reach into the process-wide registry.
    */
  private[graft] def dedupAgainstScoped(spark: SparkSession,
      tableBase: String, batch: DataFrame): (DataFrame, DataFrame) = {
    val bsh = shingleDocs(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (probe(spark, tableBase, batch, bsh), bsh)
  }

  private def probe(spark: SparkSession, tableBase: String,
      batch: DataFrame, bsh: DataFrame): DataFrame = {
    val bands = spark.table(s"${tableBase}_bands")
    val shStore = spark.table(s"${tableBase}_shingles")
    val cand = DedupPack.bandKeys(bsh)
      .select(bkey(col("band"), col("key")).as("bkey"), col("doc_id"))
      .join(bands, Seq("bkey"))
      .select(col("doc_id"), col("h_id"))
      // under the ingest contract doc ids are globally unique, so a
      // self-pair can only mean the store already holds THIS batch's
      // rows — a crash-replayed append; dropping them keeps replayed
      // verdicts identical to the first attempt's instead of every
      // replayed doc "near-dupping" itself at jaccard 1.0
      .filter(col("doc_id") =!= col("h_id"))
      .distinct()
    val verified = cand
      .join(shStore, "h_id")
      .join(bsh.select(col("doc_id"), col("shingles").as("sb")), "doc_id")
      .withColumn("jaccard", DedupPack.jaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= DedupPack.tau)
      // a crash-replayed append leaves DUPLICATE shingle-store rows for
      // the replayed docs; the pair-level dedupe (candidate-pair-sized,
      // duplicate rows carry identical jaccard) keeps n_hist_matches a
      // count of distinct history DOCS, so replay cannot change verdicts
      .dropDuplicates("doc_id", "h_id")
    DedupPack.verdictsOf(batch, verified,
      "doc_id", max(col("jaccard")), "best_jaccard", 0.0)
  }
}
