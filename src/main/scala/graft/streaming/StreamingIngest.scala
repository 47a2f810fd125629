package graft.streaming

import graft.sources.{EmbedStore, FingerprintStore, MinHashStore, SearchIndex, SeqStore, SimHashStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The persisted-store ingest loop (SURVEY.md §2 C11/C12/D9's append
  * legs) as a streaming composition: each arriving micro-batch is
  * deduped against the history stores — exact fingerprints first, then
  * MinHash near-dup on the exact survivors — and its novel content is
  * folded back in, so micro-batch N+1 sees micro-batch N as history.
  * This is the production shape of continuous corpus ingest: the
  * history never rescans, each batch pays its own size.
  *
  * `foreachBatch` is the right seam for the loop body: it MUTATES
  * external bucketed tables, which no exactly-once streaming sink can
  * express. Replay semantics under crash are therefore the stores'
  * append semantics, spec-pinned by StreamingIngestSpec's injected
  * crashes at both points:
  *  - crash BETWEEN the appends (fp landed, mh did not): the replay's
  *    fingerprint verdicts are identical to the first attempt's —
  *    `dup_of_history` excludes rows whose history canonical is the
  *    batch's own election (exactly what the crashed append wrote) —
  *    its fp re-append is a no-op (the novel-only anti-join sees the
  *    first attempt's rows), and its mh append lands exactly what the
  *    clean run would have: stores AND verdicts end bit-identical.
  *  - crash AFTER both appends (before the sink consumed the verdicts):
  *    the replay's near-dup verdicts stay identical because the band
  *    probe drops self-pairs (a batch doc can meet its own crashed
  *    append in the store); the mh re-append duplicates band/shingle
  *    rows, which widens candidate sets but cannot change any later
  *    verdict (the exact Jaccard verify is per (batch, history) PAIR,
  *    deduped before the verify join). One caveat: batch-internal
  *    NEAR-dup pairs (below) are visible to each other on such a
  *    replay — they were both appended as history.
  *
  * Within-batch NEAR-dups are intentionally out of scope here (both
  * land as history): that decision belongs to the in-corpus pass
  * ([[StreamingMinHash]] / C2) upstream of ingest, not to the
  * history probe.
  */
object StreamingIngest {

  /** Dedup one arriving batch against the persisted stores and fold
    * its novel content back in. Returns the verdict frame, one row per
    * batch doc: (doc_id, canonical_id, dup_of_history, is_dup,
    * n_hist_matches, hist_canonical, best_jaccard); the minhash
    * columns are NULL for exact dups — an exact dup is not probed
    * against the band store.
    *
    * Ordering inside is load-bearing: every derived frame is
    * localCheckpoint-ed (eager, batch-sized) BEFORE the appends mutate
    * the stores — a lazy verdict recomputed after the append would see
    * the batch's own content as history. The probe's featurized
    * working set is scoped to this call (persisted untracked,
    * unpersisted once the verdicts are severed) — the loop never
    * touches the process-wide cache registry, so it can run alongside
    * query workloads whose shared caches must stay hot.
    */
  def processBatch(spark: SparkSession, fpTable: String, mhBase: String,
      batch: DataFrame): DataFrame =
    processBatch(spark, fpTable, mhBase, IngestLegs(), batch)

  /** The optional store legs of [[processBatch]]/[[run]] — one config
    * object instead of the former telescoping overloads (r11 verdict
    * polish: the arity race stopped at nine). Every leg defaults to
    * off. Shared ordering contract (load-bearing, spec-pinned by
    * StreamingIngestSpec's injected crashes): the BAND append is the
    * one mutation that changes a REPLAY's own verdicts (a replayed
    * batch's within-batch near-dup pair meets itself as history —
    * distinct ids, so the self-pair drop does not apply — shrinking
    * the replay's `kept`), so every kept-consuming leg (search, embed,
    * simhash, seq, dsir) appends strictly BEFORE it: were one after,
    * a crash between them would leave docs in the band store but
    * invisible to that leg forever (the replay's smaller `kept` never
    * offers them again). No optional verdict feeds the `kept` policy —
    * kept stays dedup-only, so a replay's kept set cannot shift under
    * any leg; a caller that wants a gate enforced filters the SINK on
    * the verdict columns.
    *
    * @param searchBase [[SearchIndex]]: the batch's KEPT docs (exact-
    *   unique, no history near-dup) land in the BM25 index, so each
    *   micro-batch is lexically searchable as soon as its verdicts are
    *   out; replays converge on the index's novelty filter and
    *   idempotent-at-read legs.
    * @param embedBase [[EmbedStore]] (the batch must then carry an
    *   `embedding` column from the caller's embedder stage, optionally
    *   a `label` blocking column): exact survivors are probed for
    *   SEMANTIC near-dups against the vector history (verdict columns
    *   n_emb_matches / emb_canonical / best_cos, NULL for exact dups
    *   or when off) and the kept embeddings fold in; re-appends
    *   converge at read (pair-level dedupe; radius growth idempotent).
    * @param simBase [[SimHashStore]]: exact survivors are probed for
    *   STRUCTURAL near-dups (hamming ≤ 7 on the 64-bit SimHash —
    *   catches small-edit rewrites whose shingle sets already
    *   drifted), verdict columns n_sh_matches / sh_canonical /
    *   best_hamming; kept key rows fold in; converges via pair-level
    *   dedupe + the probe's self-pair drop.
    * @param seqBase [[SeqStore]] (r9): kept docs extend the persisted
    *   training-sequence layout — the full dedup → index → pack story
    *   in one loop. Inherited constraint: batches must arrive with
    *   doc_ids above all packed history (the store refuses loudly
    *   otherwise) — true of id-monotone ingest streams.
    * @param qualityBase [[graft.sources.QualityStore]] (r10):
    *   READ-ONLY scoring of every batch doc against the FROZEN trained
    *   model (quality_margin_q20 / quality_score_q20 / quality_keep) —
    *   no ordering or crash-stranding constraints; scores the severed
    *   micro-batch through the serving path's no-persist feature frame
    *   (the loop's scoped-working-set contract).
    * @param dsirBase [[graft.sources.DsirStore]] (r11): importance
    *   scoring against the CURRENT merged bucket model (dsir_w_q20 /
    *   dsir_keep), severed before the kept docs' count deltas fold
    *   back in — unlike the frozen quality leg the DSIR model TRACKS
    *   the corpus.
    * @param ccnetBase [[graft.sources.LmStore]] base (r12): perplexity
    *   scoring of every batch doc against the CURRENT merged bigram
    *   model with the store's FROZEN per-language tercile thresholds
    *   (`<base>_thr`, written by LmStore.writeThresholds) — verdict
    *   columns mbits_per_token / ccnet_keep (false when un-scorable:
    *   < 2 tokens or a lang with no threshold row — H12's rule); the
    *   kept docs' n-gram counts fold back in (the dsir severing
    *   discipline), so the LM tracks the corpus while the tercile cut
    *   stays a frozen reference. Requires a `lang` column.
    * @param maintainEvery opt-in store maintenance cadence (r16 — the
    *   r15 verdict's task 3: SCALING.md documented the stale_frac 0.5
    *   rebuild threshold but nothing RAN it): every N batches the
    *   embed leg's [[EmbedStore.bandedStaleness]] is read (one
    *   metadata-scale peek) and, when any label's frozen cont
    *   measurement has gone majority-stale
    *   (`stale_frac > maintainStaleFrac`), the generation-atomic
    *   [[EmbedStore.rebuildBandedLeg]] runs under the store's existing
    *   single-writer lease — serve-through preserved (batches probed
    *   before the `_bbits` commit get pre-rebuild verdicts; the
    *   rebuild re-measures every label, resetting `n_app`, so the
    *   trigger disarms itself until appends re-cross the threshold).
    *   0 (the default) = off. The hook runs AFTER the batch's sink
    *   returned, inside its foreachBatch call: a crash between the
    *   rebuild's commit and the streaming checkpoint's replays the
    *   batch against the REBUILT store, whose banded verdicts may
    *   differ (the rebuild's own documented replay caveat) — an
    *   operator for whom replay determinism matters leaves the hook
    *   off and rebuilds at an explicit replay barrier.
    * @param maintainStaleFrac the stale_frac trigger (default 0.5,
    *   the docs/SCALING.md operating threshold: past it the majority
    *   of a label's block postdates the frozen measurement).
    * @param report compose the per-batch H12 `curation_report` verdict
    *   (r12): lang_ok / tokens_ok / n_tokens plus the failure-reason
    *   bitmask and `keep` over the streamed signals — the SAME bits as
    *   the batch report (1 lang, 2 tokens, 4 exact dup, 8 quality,
    *   16 dsir, 32 ccnet), each evaluated against the PRE-batch
    *   models. Requires the quality, dsir and ccnet legs plus a lang
    *   column; spec-pinned ≡ the batch `curationReportOf` on the same
    *   corpus state.
    */
  final case class IngestLegs(
      searchBase: Option[String] = None,
      embedBase: Option[String] = None,
      simBase: Option[String] = None,
      seqBase: Option[String] = None,
      qualityBase: Option[String] = None,
      dsirBase: Option[String] = None,
      ccnetBase: Option[String] = None,
      report: Boolean = false,
      maintainEvery: Int = 0,
      maintainStaleFrac: Double = 0.5)

  /** The (vec_id, label, embedding) frame the [[EmbedStore]] leg probes
    * and appends for a doc batch: doc_id is the vector id; the blocking
    * label is the batch's own `label` column when it carries one (e.g.
    * a language id from the caller's embedder stage) and one shared
    * block otherwise.
    */
  private def embBatchOf(df: DataFrame): DataFrame = {
    val l = if (df.columns.contains("label")) col("label")
      else lit(0)
    df.select(col("doc_id").as("vec_id"), l.as("label"), col("embedding"))
  }

  /** The (doc_id, text, lang) frame the [[graft.sources.DsirStore]] leg
    * appends for a doc batch — only reached for batches that CARRY a
    * lang column: lang-less streams are scored but never folded (r11
    * ADVICE — a placeholder lang grows only the RAW side of the model
    * while the target slice stays seed-only, so every weight drifts
    * monotonically negative as the stream runs; score-only against the
    * seed model is the stable degradation).
    */
  private def dsirBatchOf(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"), col("lang"))

  /** The full core, plus the optional [[graft.sources.DsirStore]] leg
    * (r11): every batch doc is scored for DSIR importance against the
    * CURRENT merged bucket model (verdict columns dsir_w_q20 /
    * dsir_keep) and the KEPT docs' count deltas fold back in — unlike
    * the frozen-model quality leg, the DSIR model TRACKS the corpus
    * (the [[graft.sources.LmStore]] mergeable-counts shape). Two
    * consequences: the score must be SEVERED (localCheckpoint) before
    * any append below mutates the count table — a lazy verdict
    * recomputed after the fold would see the batch's own counts as
    * corpus — and the append is a kept-CONSUMER that runs strictly
    * before the band append (the same crash-stranding argument as the
    * index/embed/simhash/seq legs). Like those legs the dsir verdict
    * does NOT feed the `kept` policy — kept stays dedup-only, so a
    * replay's kept set cannot shift under it; replays converge on
    * DsirStore's own novel-only + content-batch_id contract.
    */
  def processBatch(spark: SparkSession, fpTable: String, mhBase: String,
      legs: IngestLegs, batch: DataFrame): DataFrame = {
    import legs._
    // one materialization of the micro-batch: it feeds the exact probe,
    // the survivor join and both appends, and a foreachBatch source
    // frame re-executes per action otherwise
    val b = batch.localCheckpoint(true)
    val exact = FingerprintStore.dedupAgainst(spark, fpTable, b)
      .localCheckpoint(true)
    val survivors = b
      .join(exact.filter(!col("is_dup")).select("doc_id"), "doc_id")
      .localCheckpoint(true)
    val (nearRaw, bsh) =
      MinHashStore.dedupAgainstScoped(spark, mhBase, survivors)
    val near = nearRaw.localCheckpoint(true)
    bsh.unpersist()
    // semantic probe on the same slice the lexical probe reads — severed
    // BEFORE any append below mutates the vector history
    // routed per label off the store's frozen cont flags: continuum
    // mega-labels take the banded leg, everything else the exact probe;
    // the verdict row shape is identical either way
    val emb = embedBase.map { eb =>
      EmbedStore.dedupAgainstAuto(spark, eb, embBatchOf(survivors))
        .select(col("vec_id").as("doc_id"),
          col("n_hist_matches").as("n_emb_matches"),
          col("hist_canonical").as("emb_canonical"),
          col("best_cos"))
        .localCheckpoint(true)
    }
    // structural probe on the same severed slice, before any append
    val sh = simBase.map { sb =>
      SimHashStore.dedupAgainst(spark, sb, survivors)
        .select(col("doc_id"),
          col("n_hist_matches").as("n_sh_matches"),
          col("hist_canonical").as("sh_canonical"),
          col("best_hamming"))
        .localCheckpoint(true)
    }
    // quality leg: read-only scoring of the severed batch against the
    // frozen model — lazy is safe here (the model never mutates, unlike
    // the stores the probes above must be severed from)
    val qual = qualityBase.map { qb =>
      graft.sources.QualityStore.score(spark, qb,
          b.select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          col("margin_q20").as("quality_margin_q20"),
          col("score_q20").as("quality_score_q20"),
          col("keep").as("quality_keep"))
    }
    // dsir leg: importance scoring against the CURRENT merged model —
    // severed, because the kept docs' counts fold in below and a lazy
    // verdict would see the batch as its own corpus
    val dsir = dsirBase.map { db =>
      graft.sources.DsirStore.score(spark, db,
          b.select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          col("w_q20").as("dsir_w_q20"),
          col("keep").as("dsir_keep"))
        .localCheckpoint(true)
    }
    // ccnet leg (r12): perplexity scoring of the severed batch against
    // the CURRENT merged LM, cut at the store's FROZEN per-language
    // tercile thresholds — severed before the kept docs' counts fold
    // below (the dsir discipline: the LM tracks the corpus). Docs the
    // scorer cannot reach (< 2 tokens — no bigrams) or whose lang has
    // no threshold row surface as ccnet_keep = false after the verdict
    // join (un-scorable is not keep-worthy — H12's rule).
    val ccn = ccnetBase.map { cb =>
      require(b.columns.contains("lang"),
        "the ccnet leg needs a lang column (per-language thresholds)")
      graft.sources.LmStore.score(spark, cb,
          b.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("mbits_per_token"))
        .join(b.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .join(broadcast(graft.sources.LmStore.thresholds(spark, cb)),
          Seq("lang"), "left")
        .select(col("doc_id"), col("mbits_per_token"),
          coalesce(col("mbits_per_token") <= col("t2"), lit(false))
            .as("ccnet_keep"))
        .localCheckpoint(true)
    }
    // the dedup verdict's keep set — severed frames only, so the joins
    // below stay correct after the appends mutate the stores
    val kept = survivors.join(
      near.filter(col("n_hist_matches") === 0).select("doc_id"), "doc_id")
    // novel content becomes history for the NEXT batch — index, embed
    // and simhash legs strictly before the band append (ordering notes
    // above)
    FingerprintStore.append(spark, fpTable, b)
    searchBase.foreach(sb => SearchIndex.append(spark, sb, kept))
    embedBase.foreach(eb => EmbedStore.append(spark, eb, embBatchOf(kept)))
    simBase.foreach(sb => SimHashStore.append(spark, sb, kept))
    seqBase.foreach(qb => SeqStore.append(spark, qb,
      kept.select(col("doc_id"), col("text"))))
    // lang-less streams are scored (above) but NOT folded — see
    // dsirBatchOf on why the placeholder-lang fold would drift the
    // model
    if (kept.columns.contains("lang"))
      dsirBase.foreach(db => graft.sources.DsirStore.append(spark, db,
        dsirBatchOf(kept)))
    ccnetBase.foreach(cb => graft.sources.LmStore.append(spark, cb,
      kept.select(col("doc_id"), col("text"))))
    MinHashStore.append(spark, mhBase, kept)
    // `survivors` is fully consumed: its probe readers were severed
    // above and `kept`'s appends just ran — free its checkpoint now
    // rather than waiting out the ContextCleaner (Dataset.unpersist is
    // a no-op on checkpointed frames; a high-rate stream would carry
    // one retired batch copy per trigger as GC slack otherwise). `b`
    // can go too UNLESS the quality leg holds a lazy plan over it.
    org.apache.spark.sql.GraftDatasetBridge.freeLocalCheckpoint(survivors)
    if (qualityBase.isEmpty)
      org.apache.spark.sql.GraftDatasetBridge.freeLocalCheckpoint(b)
    val base = exact
      .select(col("doc_id"), col("canonical_id"), col("dup_of_history"),
        col("is_dup"))
      .join(near.select(col("doc_id"), col("n_hist_matches"),
        col("hist_canonical"), col("best_jaccard")), Seq("doc_id"), "left")
    val withEmb = emb.fold(base)(e => base.join(e, Seq("doc_id"), "left"))
    val withSh = sh.fold(withEmb)(e => withEmb.join(e, Seq("doc_id"), "left"))
    val withQual = qual.fold(withSh)(q => withSh.join(q, Seq("doc_id"), "left"))
    val withDsir = dsir.fold(withQual)(x =>
      withQual.join(x, Seq("doc_id"), "left"))
    val withCcn = ccn.fold(withDsir)(c => withDsir
      .join(c, Seq("doc_id"), "left")
      .withColumn("ccnet_keep", coalesce(col("ccnet_keep"), lit(false))))
    if (!report) withCcn
    else {
      require(qualityBase.isDefined && dsirBase.isDefined &&
        ccnetBase.isDefined && b.columns.contains("lang"),
        "report = true composes the H12 verdict: it needs the quality, " +
          "dsir and ccnet legs plus a lang column on the stream")
      // the H12 composition over the STREAMED signals: same bits, each
      // against the pre-batch models; unscored docs (a frame the
      // batch report would inner-join away) fail their signal
      val f = b.select(col("doc_id"), col("lang"),
        size(graft.functions.Portable.words(col("text")))
          .cast("long").as("n_tokens"))
      withCcn.join(f, Seq("doc_id"))
        .withColumn("lang_ok", col("lang").isin(
          graft.operators.CurationPack.allowedLangs: _*))
        .withColumn("tokens_ok",
          col("n_tokens") >= graft.operators.CurationPack.minTokens &&
            col("n_tokens") <= graft.operators.CurationPack.maxTokens)
        .withColumn("reason",
          when(!col("lang_ok"), lit(1L)).otherwise(lit(0L)) +
            when(!col("tokens_ok"), lit(2L)).otherwise(lit(0L)) +
            when(col("is_dup"), lit(4L)).otherwise(lit(0L)) +
            when(!coalesce(col("quality_keep"), lit(false)), lit(8L))
              .otherwise(lit(0L)) +
            when(!coalesce(col("dsir_keep"), lit(false)), lit(16L))
              .otherwise(lit(0L)) +
            when(!col("ccnet_keep"), lit(32L)).otherwise(lit(0L)))
        .withColumn("keep", col("reason") === 0L)
    }
  }

  /** Free every checkpointed frame the batch's VERDICT plan still
    * references (the severed probe frames — exact/near/emb/sh/dsir —
    * and, when the quality leg held it, the micro-batch itself). Call
    * AFTER the sink has consumed the verdict: the verdict's joins are
    * lazy over those checkpoints, and a checkpointed frame cannot be
    * recomputed once its storage is dropped. [[run]] does this per
    * trigger, so a long-lived stream's working set is exactly one
    * batch: nothing waits for the ContextCleaner.
    */
  def releaseBatch(verdict: DataFrame): Unit =
    org.apache.spark.sql.GraftDatasetBridge.freeLocalCheckpoint(verdict)

  /** The embed leg's maintenance probe (see IngestLegs.maintainEvery):
    * read the metadata-scale staleness frame and rebuild the banded
    * leg iff some label's frozen measurement has gone majority-stale.
    * Returns whether a rebuild ran — the spec's trigger-count anchor.
    * NULL stale_frac rows (pre-r15 stores, unmeasured bases) never
    * trigger: "unknown basis" is not "known-stale", and the pre-r15
    * operator remedy stays a declared manual rebuild.
    */
  private[streaming] def maybeMaintainEmbed(spark: SparkSession,
      embedBase: String, staleFrac: Double): Boolean = {
    if (!spark.catalog.tableExists(s"${embedBase}_bbits")) return false
    val worst = EmbedStore.bandedStaleness(spark, embedBase)
      .agg(max(col("stale_frac"))).collect()(0)
    val trigger = !worst.isNullAt(0) && worst.getDouble(0) > staleFrac
    if (trigger) EmbedStore.rebuildBandedLeg(spark, embedBase)
    trigger
  }

  /** Wire a (doc_id, text) stream through [[processBatch]]; per-batch
    * verdicts go to `sink` (e.g. a parquet append, an alerting bus).
    */
  def run(spark: SparkSession, stream: DataFrame, fpTable: String,
      mhBase: String, sink: (DataFrame, Long) => Unit): StreamingQuery =
    run(spark, stream, fpTable, mhBase, IngestLegs(), sink)

  /** As [[run]], with the optional store legs of [[IngestLegs]].
    *
    * The `sink` contract: the verdict frame must be FULLY consumed
    * (collected, written, or otherwise materialized) before `sink`
    * returns — [[releaseBatch]] runs immediately after and drops the
    * checkpoint blocks the verdict's lazy joins depend on, so a sink
    * that defers consumption (an async write, a retained DataFrame)
    * fails later with unrecoverable missing-block errors.
    */
  def run(spark: SparkSession, stream: DataFrame, fpTable: String,
      mhBase: String, legs: IngestLegs,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val verdict = processBatch(spark, fpTable, mhBase, legs, batch)
        sink(verdict, id)
        // the sink has consumed the verdict — drop the batch's
        // checkpoint storage now (scoped working set: one batch, ever)
        releaseBatch(verdict)
        // opt-in maintenance cadence: staleness-triggered banded
        // rebuild AFTER the batch is fully out (IngestLegs doc)
        if (legs.maintainEvery > 0 && (id + 1) % legs.maintainEvery == 0)
          legs.embedBase.foreach(eb =>
            maybeMaintainEmbed(spark, eb, legs.maintainStaleFrac))
      }
      .start()

  /** The demo's stand-in for a real embedder stage (this sandbox ships
    * no model): a 64-dim content-derived vector, dim j = Σ over token
    * positions of hash(word, position, j) ∈ [-1, 1], scaled by 1/√len.
    * Two properties make the geometry usable on a small-vocabulary
    * corpus, and both were learned from failed demo runs: the POSITION
    * in the hash (a bag-of-words mean converges to the shared
    * vocabulary mean — every doc ends cosine-close to every other;
    * positional terms are independent across unrelated docs, cos ≈ 0,
    * while a one-word edit moves only one term, cos ≈ 1 − 2/len), and
    * the DIMENSIONALITY (random cosines concentrate at 0 with std
    * ≈ 1/√dims — at 8 dims that is 0.35, so against a few hundred
    * candidates τ = 0.45 matches by chance almost surely; at 64 dims
    * τ is 3.6σ out and chance matches are ~1e-4 per pair). HOF-based
    * and interpreted — demo-only by design; a production embedder is a
    * model-serving mapInPandas stage (the MediaPack stub pattern).
    */
  private[streaming] def stubEmbed(df: DataFrame): DataFrame = {
    val dims = 64
    val w = graft.functions.Portable.words(col("text"))
    val emb = transform(sequence(lit(0), lit(dims - 1)), j =>
      (aggregate(
        zip_with(w, sequence(lit(1), greatest(size(w), lit(1))),
          (word, i) => concat_ws("|", word, i.cast("string"),
            j.cast("string"))),
        lit(0.0), (acc, t) => acc +
          (pmod(graft.functions.Portable.hash60(t), lit(2001L))
            - lit(1000L)) / lit(1000.0))
        / sqrt(greatest(size(w), lit(1)).cast("double"))).cast("float"))
    df.withColumn("embedding", emb)
  }

  /** Runnable demo: seed the stores from a third of `documents`, then
    * stream the rest through the ingest loop in two micro-batches.
    *
    * {{{
    *   sbt "runMain graft.streaming.StreamingIngest <dataDir> [workDir]"
    * }}}
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: StreamingIngest <dataDir> [workDir] — dataDir holds " +
        "documents.parquet (graft testdata layout)")
    val dataDir = args(0)
    val workDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val cpus = graft.SysStat.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ingest-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, dataDir)
      .select(col("doc_id"), col("text"))
    FingerprintStore.write(docs.filter(col("doc_id") % 3 === 0),
      "ingest_fp", s"$workDir/fp")
    MinHashStore.write(docs.filter(col("doc_id") % 3 === 0),
      "ingest_mh", s"$workDir/mh")
    SearchIndex.write(docs.filter(col("doc_id") % 3 === 0),
      "ingest_search", s"$workDir/search")
    EmbedStore.write(
      embBatchOf(stubEmbed(docs.filter(col("doc_id") % 3 === 0))),
      "ingest_em", s"$workDir/em")
    SimHashStore.write(docs.filter(col("doc_id") % 3 === 0),
      "ingest_sh", s"$workDir/sh")
    println(s"[ingest] seeded history stores at $workDir")

    // two arrival files + maxFilesPerTrigger=1 → two real micro-batches
    val incoming = s"$workDir/incoming"
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.parquet(s"$incoming/b1")
    docs.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.parquet(s"$incoming/b2")
    val stream = stubEmbed(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(incoming))
    val q = run(spark, stream, "ingest_fp", "ingest_mh",
      IngestLegs(searchBase = Some("ingest_search"),
        embedBase = Some("ingest_em"), simBase = Some("ingest_sh")),
      (v, id) => {
      val s = v.agg(
        count(lit(1)).as("docs"),
        sum(col("dup_of_history").cast("long")).as("exact_hist_dups"),
        sum((col("n_hist_matches") > 0).cast("long")).as("near_hist_dups"),
        sum((col("n_emb_matches") > 0).cast("long")).as("sem_hist_dups"),
        sum((col("n_sh_matches") > 0).cast("long")).as("sh_hist_dups"))
        .collect()(0)
      println(s"[ingest] batch $id: ${s.getLong(0)} docs, " +
        s"${s.getLong(1)} exact history dups, " +
        s"${s.getLong(2)} near history dups, " +
        s"${s.getLong(3)} semantic history dups, " +
        s"${s.getLong(4)} simhash history dups")
    })
    q.processAllAvailable(); q.stop()
    println(s"[ingest] final store sizes: " +
      s"fp=${spark.table("ingest_fp").count()} fingerprints, " +
      s"mh=${spark.table("ingest_mh_shingles").count()} shingle sets, " +
      s"search=${spark.table("ingest_search_postings").count()} postings, " +
      s"em=${spark.table("ingest_em_lists").count()} vectors, " +
      s"sh=${spark.table("ingest_sh").count()} signature keys")
    val hits = SearchIndex.search(spark, "ingest_search",
      Seq("table", "data", "query"), 5).collect()
    println(s"[ingest] bm25 probe over the live index: " +
      hits.map(r => s"doc ${r.getLong(0)} score ${r.getLong(2)}")
        .mkString(", "))
    spark.stop()
  }
}
