package graft.operators

import graft.{GraftQuery, QueryPack}
import graft.Caches.CachesSyntax
import graft.functions.Vectors
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 block D (+ C5) — similarity search over `embeddings`.
  *
  * Scale design (§5):
  *  - D1 brute-force: the query set is broadcast (one row per query), the
  *    corpus is scanned once; per-query top-k is a salted two-stage
  *    aggregation (per-(query,salt) local top-k, then a merge of
  *    k·salts rows per query) — bounded memory everywhere, never a full
  *    sort and never a window over a corpus-sized partition.
  *  - D2 LSH: 16 deterministic random hyperplanes → 4 bands of 4 sign
  *    bits; candidates only where a band matches, then exact cosine +
  *    the same two-stage top-k. The corpus scan for candidates carries
  *    only (vec_id, band, key) — vectors are joined back per candidate.
  *  - D3/C5 generate pairs from exact-bound IVF lists inside each label
  *    (see [[labelCandPairs]]): a (label, cell) equi-join whose per-task
  *    work is bounded by the cell size — the cell count is the knob that
  *    keeps that bound constant as the corpus grows — with
  *    triangle-inequality pruning that is exact at every scale.
  */
object AnnPack extends QueryPack {

  private val K = 5
  private val numPlanes = 16
  private val bandBits = 4
  private val numBands = numPlanes / bandBits
  // shared with C10 semantic_dedup (DedupPack.semanticTau aliases this
  // so the two packs' thresholds cannot drift apart silently)
  private[graft] val nearDupTau = 0.45
  // The LSH plane table's dimensionality. The oracle SQL is a STATIC
  // string, so this cannot be derived from the data there — instead the
  // Spark side asserts the corpus matches at runtime (a silent mismatch
  // would truncate the signature on one engine and NULL-pad it on the
  // other, surfacing only as an opaque hash diff).
  private val lshDim = 64

  /** Deterministic seed-ordering hash, OVERFLOW-SAFE in both engines.
    * The naive `(vec_id * 2654435761) % 4096` wraps int64 in Spark past
    * vec_id ≈ 3.5e9 while DuckDB raises on the same multiply — a latent
    * cross-engine divergence at the 100 TB design point. Because the
    * modulus is 2^12, the product's low 12 bits depend only on each
    * factor's low 12 bits, so reducing both first ((vec_id % 4096) *
    * 2481) % 4096, with 2481 = 2654435761 % 4096) yields BIT-IDENTICAL
    * values to the old form for every vec_id — including the wrapped
    * range, since two's-complement wrap preserves residues mod 2^12 —
    * with a maximum intermediate of 4095 * 2481 ≪ 2^63.
    */
  private def seedHash(vecId: Column): Column =
    pmod(pmod(vecId, lit(4096L)) * lit(2481L), lit(4096L))
  private val seedHashSql = "((vec_id % 4096) * 2481) % 4096"

  /** The normed frame every ANN row and store reads: (vec_id, keep...,
    * v, nrm) off a (vec_id, keep..., embedding) frame — the parquet
    * floats widened to double (exact in both engines) and the norm
    * computed once, so the in-query rows, [[graft.sources.AnnIndex]],
    * [[graft.sources.PqStore]] and [[graft.sources.EmbedStore]] cannot
    * drift apart on either.
    */
  private[graft] def normed(embs: DataFrame, keep: String*): DataFrame =
    embs.select((col("vec_id") +: keep.map(col)) :+
        Vectors.toDouble(col("embedding")).as("v"): _*)
      .withColumn("nrm", Vectors.norm(col("v")))

  /** embeddings with double vectors + precomputed norms. Deliberately
    * NOT routed through Tables.parallelized (r16 measured): embeddings
    * is the smallest corpus table (2k rows at sf0.1), and the D-block's
    * iterative builds (k-means rounds, store writes) run MANY small
    * jobs over this head — a 32-way round-robin exchange added ~0.3 s
    * of task-scheduling overhead per job and regressed every
    * embeddings-headed store row by 1-3 s cold (a quiet-window A/B,
    * committed with round 16's retime artifacts: see git history) while
    * the pre-exchange vector math it parallelized was sub-second to
    * begin with.
    */
  private def vecs(s: SparkSession, d: String): DataFrame =
    normed(Tables.embeddings(s, d), "label")

  /** Every 50th vector is a query; the rest are the corpus. */
  private def isQuery: Column = pmod(col("vec_id"), lit(50)) === 0

  /** A normed frame renamed to the query side: (query_id, qv, qn). */
  private[graft] def asQueries(n: DataFrame): DataFrame =
    n.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qn"))

  /** The query slice, normed: (query_id, qv, qn). */
  private def queryVecs(s: SparkSession, d: String): DataFrame =
    asQueries(vecs(s, d).filter(isQuery))

  /** The query slice as raw (vec_id, embedding) — what the persisted
    * index rows ([[graft.sources.AnnIndex]], [[graft.sources.PqStore]])
    * take as their search input.
    */
  private def querySet(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(isQuery)
      .select(col("vec_id"), col("embedding"))

  /** The corpus slice (every non-query vector) as raw (vec_id,
    * embedding) — what the persisted index rows build their stores on.
    */
  private def corpusSet(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(!isQuery)
      .select(col("vec_id"), col("embedding"))

  private[graft] val vecsSql: String =
    s"""e AS (SELECT vec_id, label,
          ${Vectors.sql.toDouble("embedding")} AS v FROM embeddings),
      n AS (SELECT vec_id, label, v, ${Vectors.sql.norm("v")} AS nrm
            FROM e)"""

  /** Per-query top-k of (cos_sim desc, vec_id asc) via the custom
    * TopKPerKey operator (graft.plans): partial bounded-heap pruning
    * per input partition, one exchange on query_id, final merge — the
    * rank is assigned afterwards by a window over the k·queries
    * surviving rows only. Input needs query_id, vec_id, cos_sim +
    * `extra` columns.
    */
  private[graft] def topKPerQuery(pairs: DataFrame, k: Int,
                                  extra: Seq[String]): DataFrame = {
    val top = graft.plans.TopKPerKey(pairs,
      keys = Seq(col("query_id")),
      order = Seq(col("cos_sim").desc, col("vec_id")),
      k = k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    top.withColumn("rank", row_number().over(w).cast(LongType))
      .select(
        (col("query_id") +: col("rank") +: col("vec_id") +:
          col("cos_sim") +: extra.map(col)): _*)
  }

  // D1 — brute-force cosine top-k: every 50th vector is a query, the
  // rest are the corpus. The exactness baseline for D2's recall.
  private val annBrute = GraftQuery(
    "ann_brute",
    (s, d) => {
      val n = vecs(s, d)
      val q = asQueries(n.filter(isQuery))
      val c = n.filter(!isQuery)
      val pairs = c.join(broadcast(q))
        .withColumn("cos_sim",
          Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .select(col("query_id"), col("vec_id"), col("label"), col("cos_sim"))
      topKPerQuery(pairs, K, Seq("label"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH $vecsSql,
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
            WHERE vec_id % 50 = 0),
      c AS (SELECT * FROM n WHERE vec_id % 50 <> 0),
      pr AS (SELECT q.query_id, c.vec_id, c.label,
          round(${Vectors.sql.dot("q.qv", "c.v")} / (q.qn * c.nrm), 6)
            AS cos_sim
        FROM c CROSS JOIN q),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, vec_id) AS rank FROM pr)
      SELECT query_id, rank, vec_id, cos_sim, label
      FROM r WHERE rank <= $K ORDER BY query_id, rank
      """))

  // D2 — random-hyperplane LSH: sign-bit signature → banded candidate
  // join → exact cosine on candidates only → top-k. Planes are
  // md5-derived so the oracle rebuilds them bit-identically.
  private val annLsh = GraftQuery(
    "ann_lsh",
    (s, d) => {
      val dim = Tables.embeddings(s, d)
        .select(size(col("embedding"))).head.getInt(0)
      require(dim == lshDim,
        s"ann_lsh's plane table is built for $lshDim-dim embeddings; " +
          s"this corpus has $dim — the mismatch would truncate " +
          s"signatures silently")
      val n = vecs(s, d)
      val bands = array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          substring(col("sigbits"), b * bandBits + 1, bandBits)
            .as("bkey"))): _*)
      val banded = n.withColumn("sigbits", bandSigBits(lshDim, numPlanes))
        .select(col("vec_id"), explode(bands).as("bc"))
        .select(col("vec_id"), col("bc.band").as("band"),
          col("bc.bkey").as("bkey"))
      val qb = banded.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("band").as("qband"),
          col("bkey").as("qbkey"))
      val cb = banded.filter(!isQuery)
      val cand = cb.join(qb,
          col("band") === col("qband") && col("bkey") === col("qbkey"))
        .select(col("query_id"), col("vec_id")).distinct()
      // only the QUERY slice is broadcast — the equi-join below would
      // filter non-queries anyway, but broadcasting the full corpus
      // would build a 50× bigger hash relation on every executor
      val q = asQueries(n.filter(isQuery))
        .withColumnRenamed("query_id", "qid2")
      val pairs = cand
        .join(n, "vec_id")
        .join(broadcast(q), col("query_id") === col("qid2"))
        .withColumn("cos_sim",
          Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .select(col("query_id"), col("vec_id"), col("cos_sim"))
      topKPerQuery(pairs, K, Nil).orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH $vecsSql,
      p AS (${Vectors.sql.planes(numPlanes, lshDim)}),
      s AS (SELECT n.vec_id, p.p,
          CASE WHEN ${Vectors.sql.dot("n.v", "p.pw")} > 0
               THEN '1' ELSE '0' END AS bit
        FROM n CROSS JOIN p),
      sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS sigbits
              FROM s GROUP BY vec_id),
      bands AS (SELECT vec_id, unnest(range($numBands)) AS band, sigbits
                FROM sig),
      b2 AS (SELECT vec_id, band,
          substr(sigbits, CAST(band * $bandBits + 1 AS INTEGER), $bandBits)
            AS bkey FROM bands),
      qb AS (SELECT * FROM b2 WHERE vec_id % 50 = 0),
      cb AS (SELECT * FROM b2 WHERE vec_id % 50 <> 0),
      cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
        FROM qb JOIN cb ON qb.band = cb.band AND qb.bkey = cb.bkey),
      pr AS (SELECT cand.query_id, cand.vec_id,
          round(${Vectors.sql.dot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
            AS cos_sim
        FROM cand
        JOIN n a ON cand.query_id = a.vec_id
        JOIN n b ON cand.vec_id = b.vec_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, vec_id) AS rank FROM pr)
      SELECT query_id, rank, vec_id, cos_sim
      FROM r WHERE rank <= $K ORDER BY query_id, rank
      """))

  /** Candidate pairs for D3/C5 via exact-bound IVF lists inside each
    * label block — replaces the former all-pairs label theta-join.
    *
    * Why not LSH bands here: the brute-force oracle demands 100%
    * recall, and on near-isotropic embeddings (this corpus: worst
    * within-label 3rd-NN cosine ≈ 0.10, i.e. a bit-agreement
    * probability of 0.53 vs 0.50 for random pairs) no banding scheme
    * can guarantee that — the signal LSH needs does not exist.
    * Triangle-inequality bounds do better: they are exact at EVERY
    * scale by construction, and they prune in proportion to how
    * clustered the corpus actually is (real embedding corpora cluster;
    * isotropic noise is the provable worst case for any exact method).
    *
    * Shape per label block:
    *  1. ceil(|block| / targetCellSize) IVF cells: hash-ordered seeds, one
    *     assignment+recenter round, final lists keyed (label, cell) —
    *     the cell count is the scale knob (∝ block size / target cell
    *     size), so no partition ever holds a whole label.
    *  2. Lower bound LB(v) = 3rd-best cosine inside v's own cell (a
    *     subset of the true candidates, so LB ≤ true kth-best for any
    *     k ≤ 3 — valid for both D3's k=3 and C5's k=1).
    *  3. Upper bound per (v, cell): on the unit sphere
    *     cos(v,x) ≤ cos(max(0, angle(v,μ_c) − r_c)) for every x in the
    *     cell (μ_c centroid, r_c max member angle); an ε-slack keeps
    *     the bound safe under FP rounding.
    *  4. Exact cosine only on (label, cell) equi-join candidates where
    *     UB ≥ LB — never a label-wide theta-join. Every true top-k
    *     neighbor has cos ≥ LB, hence lives in a kept cell: recall is
    *     1 regardless of data, which the untouched brute-force oracle
    *     re-proves at the gate.
    *
    * The pair plan is persisted so D3 and C5 (identical subplan, by
    * Spark's CacheManager) compute it once per session.
    */
  /** Cell and band geometry of the two range engines. Every in-query
    * row runs at the defaults (the audited values every gate and scale
    * row ran at, which the static DuckDB oracles mirror);
    * [[graft.sources.EmbedStore.write]] takes one as an argument and
    * FREEZES it into the store, so a store is written, appended to,
    * rebuilt and probed under one geometry whatever the session says.
    *
    * Cell fields ([[cellIndexOf]]): per-group cell count is
    * ceil(|group| / cellSize) clamped to [2, maxCells] per hierarchy
    * level (the two-level structure is documented below).
    * `orphanMaxFrac` is the PER-LABEL refinement trigger of the leaf
    * build: past this round-1 orphan fraction a label's block is a
    * similarity CONTINUUM and keeps the one-round structure (measured
    * on sf0.1 media vectors: frac 0.96, −3.4% candidate mass for ~3×
    * build wall on the band; −22% mass on the 8× hierarchical media
    * sweep); below it a minority of far members marks orphaned natural
    * clusters and the full leaf refinement runs (planted 30-member
    * clusters: frac 0.61, 15× mass reduction). 0.8 sits between the
    * two measured regimes; recall is 1 on every branch — the trigger
    * trades build passes against candidate mass, never correctness.
    * The same number freezes the store's per-label `cont` routing
    * flag, so a store written at -1 routes every label banded.
    *
    * Band fields ([[bandedRangeCandidatesOf]], the store's banded
    * leg): `bands` independent bands, each keyed by the first `bits`
    * sign bits of its `maxBits`-bit plane block, where `bits` is the
    * smallest b with targetLoad·2^b ≥ n (clamped to [4, maxBits]); the
    * plane count derives as bands × maxBits. Past
    * n ≈ targetLoad·2^maxBits (~262k at the defaults) per label `bits`
    * clamps, bucket load grows linearly again and the `cap` (smallest
    * ids kept per bucket) truncates with a smallest-id bias — each +1
    * of maxBits doubles the ladder's reach.
    */
  private[graft] case class Geometry(cellSize: Int = 24,
      maxCells: Int = 64, orphanMaxFrac: Double = 0.8, bands: Int = 8,
      maxBits: Int = 16, targetLoad: Int = 4, cap: Int = 1024) {
    // the composite leaf id (c1−1)·2·maxCells + cell tops out at
    // 2·maxCells² and is an IntegerType column — past 16384 the cast
    // would wrap and distinct leaves would silently collide into one id
    // (members cross-matched with wrong centroids). The lower bound is
    // 1: each parent's 2-wide id block holds its one cell plus its one
    // orphan-reseed cell, so maxCells = 1 prunes nothing but stays
    // correct.
    require(maxCells >= 1 && maxCells <= 16384,
      s"maxCells must be in [1, 16384] (the composite leaf id " +
        s"2*maxCells^2 must fit an Int), got $maxCells")
    require(cellSize >= 1, s"cellSize must be ≥ 1, got $cellSize")
    // bandBitsCol folds over (bandMinBits until maxBits), so maxBits
    // below bandMinBits would freeze bits = bandMinBits > maxBits into
    // a store and every band key would bleed into the next band's
    // plane block, silently, for the store's lifetime
    require(bands >= 1 && maxBits >= bandMinBits && targetLoad >= 1 &&
        cap >= 1,
      s"banded geometry out of range: bands=$bands (≥1), " +
        s"maxBits=$maxBits (≥$bandMinBits), targetLoad=$targetLoad (≥1), " +
        s"cap=$cap (≥1)")
  }

  /** The geometry the C14c gate store is written with: clamp shrunk to
    * cellSize·maxCells = 8 (every sf's label blocks count as mega) and
    * orphanMaxFrac = -1 (any measured fraction exceeds it), so every
    * label freezes `cont = true` and the store's probe routes every
    * label through the banded leg. Band geometry stays default, so the
    * banded oracle holds verbatim.
    */
  private[graft] val allContGeometry =
    Geometry(cellSize = 2, maxCells = 4, orphanMaxFrac = -1.0)

  /** The cell structure is
    * HIERARCHICAL (r12, closing the r11 `weak`): each label block is
    * split into ceil(|block| / (targetCellSize·maxCells)) level-1
    * parent cells (clamped to [1, maxCells]), and each parent into
    * ceil(|parent| / targetCellSize) leaf cells (clamped to
    * [2, maxCells]) — so per-LEAF cardinality, and with it the
    * per-task work of every (label, cell) equi-join below, stays
    * ≈targetCellSize up to targetCellSize·maxCells² (~98k at the
    * defaults) vectors per label, where the old single-level clamp
    * resumed quadratic growth at targetCellSize·maxCells (~1.5k — the
    * measured 68.3× candidate mass at 8× media data,
    * scale_msd_x8.json). For a block that fits ONE parent the
    * structure — seeds, centroids, cell ids, lists — is bit-identical
    * to the single-level build, so the audited small-block shape is
    * unchanged. maxCells bounds every seed heap and both probe
    * broadcasts; past ~100k vectors per label it is the value to raise
    * (everything downstream is (label, cell)-keyed).
    *
    * Leaf Lloyd rounds: hash-ordered seeds are effectively random
    * members, and one round off them orphans a constant fraction of
    * natural clusters across leaf boundaries — the orphaned leaf's
    * radius balloons and the exact upper bound stops pruning it. Each
    * extra round costs one assign+recenter pass over the block; recall
    * stays 1 at any round count (radii cover final membership).
    */
  private val leafLloydRounds = 2

  /** Orphan threshold (degrees) of the leaf build's post-assign reseed
    * pass: members further than this from their assigned leaf centroid
    * — overwhelmingly members of natural clusters the random seeding
    * missed, which Lloyd rounds cannot recover because an empty cell
    * dies in recenter — are pulled into one fresh per-parent
    * seed+assign round of their own, so their old leaves' radii
    * tighten. Also the angle the round-1 orphan fraction (the
    * `orphanMaxFrac` trigger) counts against.
    */
  private val orphanRad = math.toRadians(30.0)

  /** Scalar mirror of the per-parent `n_cells` Column in
    * [[labelCellsOf]] — the spec asserts the executed cell structure
    * matches this, proving the knob actually turns with block size.
    * Valid as the per-LABEL leaf count whenever the block is under the
    * single-level clamp (n ≤ targetCellSize·maxCells), which every
    * gate corpus is; slack-band blocks take the refined build (orphan
    * reseed cells can push the leaf count past this), and bigger
    * blocks split per-parent by the same formula.
    */
  private[graft] def cellsForBlock(n: Long, g: Geometry = Geometry()): Int =
    math.min(g.maxCells.toLong,
      math.max(2L, math.ceil(n / g.cellSize.toDouble).toLong)).toInt

  /** Level-1 slack — MODE hysteresis only (r13): a block pays the
    * second level only once it is l1Slack× past the single-level clamp
    * (targetCellSize·maxCells). Between 1× and l1Slack× the build
    * stays ONE level (the two-level build costs a full extra
    * assign+recenter round and a probe stage, measured +3.5 s on
    * media_semantic_dedup at sf0.1 for a block 8% past the clamp) but
    * takes the REFINED single-level path: the same leaf Lloyd rounds +
    * orphan reseed the hierarchical level 2 gets, via a synthetic
    * one-parent frame — so leaf membership in the band no longer
    * drifts to l1Slack·targetCellSize-sized multi-cluster leaves
    * (measured: 385 → 25 candidates/vector on planted 30-member
    * clusters at n=3000, AnnPackSpec). r12 ALSO divided the
    * hierarchical parent count by this slack, which starved the leaf
    * count 4× on exactly the blocks the hierarchy exists for (leaves ≈
    * l1Slack·targetCellSize vectors spanning several natural clusters
    * → ballooned radii → the UB pruned nothing: 127× planted two-scale
    * mass at 8×, re-measured in r13); the hierarchical parent count is
    * now unslacked.
    */
  private[graft] val l1Slack = 4

  /** Scalar mirror of the level-1 parent count for a block of `n` ON
    * THE HIERARCHICAL PATH (blocks ≤ l1Slack·tcs·mc take the
    * single-level fast path and have no parents at all).
    */
  private[graft] def l1CellsForBlock(n: Long,
      g: Geometry = Geometry()): Int =
    math.min(g.maxCells.toLong,
      math.max(1L,
        math.ceil(n / (g.cellSize.toDouble * g.maxCells)).toLong)).toInt
  /** Slack covering the rounding of [[Vectors.cosine]] (6 decimals,
    * |Δcos| ≤ 5e-7) through acos near |cos|=1, where the amplification
    * is unbounded: acos(1−δ) ≈ √(2δ), so a 5e-7 cosine perturbation
    * moves an angle by at most √(2·5e-7) ≈ 1e-3 rad. Radius and query
    * angle each carry that error and |d cos| ≤ |d angle|, so 2.5e-3
    * strictly dominates the total — the bound stays EXACT (UB ≥ true
    * cos) under the rounded arithmetic, which the recall-1 claim and
    * the brute-force oracles depend on. (1e-6 only covered the cosine
    * rounding itself, not the acos amplification.)
    */
  private[graft] val boundEps = 2.5e-3

  /** Angle between each row's vector `v` (norm `nrm`) and the centroid
    * `cv` (norm `cnrm`) it is joined to, the cosine clamped to [−1, 1].
    */
  private def centroidAngle: Column =
    acos(least(lit(1.0), greatest(lit(-1.0),
      Vectors.cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))))

  /** Angular radius r of each cell over its members: the largest
    * member-to-centroid angle, per `keys`, of members (keys..., v, nrm)
    * joined to their centroids (keys..., cv, cnrm) — what makes
    * [[ubProbe]]'s bound cover every member. (keys..., r).
    */
  private[graft] def cellRadii(members: DataFrame, cent: DataFrame,
      keys: Seq[String]): DataFrame =
    members.join(broadcast(cent), keys)
      .withColumn("ang", centroidAngle)
      .groupBy(keys.map(col): _*)
      .agg(max(col("ang")).as("r"))

  /** The exact-bound cell probe: rows of `probe` — a vector (v, nrm)
    * joined to a cell (cv, cnrm, angular radius r) — kept where the
    * cell's upper bound cos(max(0, angle(v, μ) − r)) + ε clears
    * `threshold`: a per-row lower bound (the k-NN LB) or a constant τ.
    * UB ≥ cos(v, x) for every member x, so no pair at or above the
    * threshold is ever pruned. Adds the angle column `qang`.
    */
  private[graft] def ubProbe(probe: DataFrame, threshold: Column): DataFrame =
    probe.withColumn("qang", centroidAngle)
      .filter(cos(greatest(lit(0.0), col("qang") - col("r"))) +
        lit(boundEps) >= threshold)

  /** The (label, cell) coarse structure shared by D3/C5/D6: one
    * recenter round over hash-ordered seeds per hierarchy level, then
    * final inverted lists and per-cell (centroid, angular radius) for
    * exact upper bounds. Returns (centR: [label, c1, c_cell, cv, cnrm,
    * r], lists: [vec_id, label, cell, v, nrm]).
    */
  private[graft] def labelCells(s: SparkSession, d: String): (DataFrame, DataFrame) =
    labelCellsOf(vecs(s, d))

  /** Argmax-centroid-cosine assignment (low cell on ties) of a normed
    * frame (vec_id, keys..., v, nrm) to a (keys..., cell, cv, cnrm)
    * centroid table — a map-side-combinable max_by aggregation, not a
    * window over the block. `keys` is Seq("label") at level 1 (and for
    * [[graft.sources.EmbedStore]]'s append routing over the flat leaf
    * table — for a block that fits one parent that is the SAME rule
    * build-time members routed by; for a hierarchically split block
    * the append's flat argmax may land a vector in a different leaf
    * than the build's two-stage argmax would, which is still
    * recall-safe: the store grows the landed cell's radius to cover
    * it, and verdicts only ever come from exact cosines) and
    * Seq("label", "c1") at level 2.
    */
  private[graft] def assignToCells(n: DataFrame, cent: DataFrame,
      keys: Seq[String] = Seq("label")): DataFrame =
    n.join(broadcast(cent), keys)
      .withColumn("ccos",
        Vectors.cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .groupBy(col("vec_id") +: keys.map(col): _*)
      .agg(
        max_by(col("cell"),
          struct(col("ccos").as("c"), (-col("cell")).as("nc"))).as("cell"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))

  /** The executed hierarchical cell structure: `cent1R` is the level-1
    * parent table (label, c1, cv, cnrm, r — radius = max member angle
    * over the parent's FINAL membership, so the parent bound is exact
    * for every vector in any of its leaves), `centR` the leaf table
    * (label, c1, c_cell, cv, cnrm, r), `lists` the leaf inverted lists
    * (vec_id, label, cell, v, nrm) with the composite leaf id
    * cell = (c1−1)·2·maxCells + c2 (the upper maxCells of each
    * parent's id block holds the orphan-pass reseed cells).
    */
  private[graft] case class CellIndex(cent1R: Option[DataFrame],
      centR: DataFrame, lists: DataFrame)

  /** Deterministic hash-ordered seeds via TopKPerKey (bounded heaps of
    * maxCells rows per group, one exchange) — never a window sorting a
    * whole group in one task — then cell ids 1..n_cells assigned by a
    * per-group sort of the ≤maxCells survivors.
    */
  private def seedCells(frame: DataFrame, keys: Seq[String],
      nCells: DataFrame, mc: Int): DataFrame = {
    val topSeeds = graft.plans.TopKPerKey(
      frame.withColumn("hk", seedHash(col("vec_id"))),
      keys = keys.map(col),
      order = Seq(col("hk"), col("vec_id")),
      k = mc)
    topSeeds
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(
        struct(col("hk"), col("vec_id"), col("v"), col("nrm")))).as("sv"))
      .join(broadcast(nCells), keys)
      .select(keys.map(col) ++ Seq(col("n_cells"),
        posexplode(col("sv")).as(Seq("pos", "e"))): _*)
      .filter(col("pos") < col("n_cells"))
      .select(keys.map(col) ++ Seq(
        (col("pos") + 1).cast(IntegerType).as("cell"),
        col("e.v").as("cv"), col("e.nrm").as("cnrm")): _*)
  }

  private def recenterCells(assigned: DataFrame,
      keys: Seq[String]): DataFrame =
    centroidsOf(assigned, keys :+ "cell", mean = avg(_))
      .withColumn("cnrm", Vectors.norm(col("cv")))

  /** The full hierarchical build over an arbitrary normed frame
    * (vec_id, label, v, nrm) — shared with [[graft.sources.EmbedStore]],
    * whose persisted cell structure must be built by the SAME
    * arithmetic the in-query exact-bound path is oracle-verified with.
    * Two levels (knob doc above): level 1 splits each label into
    * ≤maxCells parents, level 2 each parent into ≤maxCells leaves by
    * the SAME seed→assign→recenter→assign machinery keyed
    * (label, c1). Final leaf membership is the within-parent argmax,
    * so a parent's members are exactly the union of its leaves' — the
    * parent radius is computed over that membership, which is what
    * makes the two-stage UB probe in [[rangeCandidatesOf]]/
    * [[labelCandPairs]] exact at both levels. Every per-group count,
    * heap, and broadcast stays ≤maxCells rows; the corpus-scale passes
    * are two assign+recenter rounds instead of one.
    */
  private[graft] def cellIndexOf(n: DataFrame,
      g: Geometry = Geometry()): CellIndex = {
    val tcs = g.cellSize
    val mc = g.maxCells
    // per-label block counts (one partial-agg pass, a tiny
    // ≤|labels|-row result) — persisted because the mode peek, the
    // parent-count broadcast and the single-level cell counts all read
    // it, and without the persist each read re-runs the corpus-scale
    // count aggregation
    val cnt = n.groupBy(col("label")).agg(count(lit(1)).as("n_l"))
      .persistTracked
    // Single-parent fast path: when EVERY label block is within
    // l1Slack× of the single-level clamp (all current gate corpora),
    // the two-level build's level 1 is a trivial one-centroid pass
    // that still costs an assign+recenter round and an extra probe
    // stage per consumer (+1.2 s on each of knn_join/dedup_embedding/
    // ann_range_search at sf0.1, measured). Peek at the max block size
    // (a metadata-scale agg) and build the audited single-level
    // structure directly — bit-identical plans AND structure to the
    // pre-hierarchy engine; probing then skips the level-1 stage
    // (cent1R = None). Bigger blocks take the full hierarchy. The
    // slack gates the MODE ONLY (hysteresis on the switch): r12 also
    // divided the parent count by it, which starved the leaf count 4×
    // on exactly the blocks the hierarchy exists for — leaves held
    // ~l1Slack·targetCellSize vectors spanning several natural
    // clusters, their radii ballooned, and the measured planted
    // two-scale mass hit 127× at 8× (the r12 verdict's finding 2).
    // max over ZERO rows is NULL — an empty corpus (every media payload
    // under the feature minimum, an empty store history) must take the
    // single-level path and yield empty frames, not NPE on the peek
    // ONE metadata-scale driver job reads both block extremes: max
    // picks the mode, min tells the refined band whether any
    // under-clamp label needs the audited single-level branch
    val blockStats = cnt.agg(coalesce(max(col("n_l")), lit(0L)).as("mx"),
      coalesce(min(col("n_l")), lit(Long.MaxValue)).as("mn")).head
    val maxBlock = blockStats.getLong(0)
    val minBlock = blockStats.getLong(1)
    val multiParent = maxBlock > tcs.toLong * mc * l1Slack
    // REFINED single-level band (r13, the residual-(a) close): blocks
    // past the single-level clamp (tcs·mc) but inside the l1Slack
    // hysteresis used to quantize in ONE round with leaves drifting to
    // l1Slack·targetCellSize — several natural clusters co-housed per
    // leaf, ballooned radii, UB pruning lost (exactly the pathology the
    // leaf Lloyd rounds + orphan pass fixed on the hierarchical path,
    // which this band never reached). Route the band through the SAME
    // leaf machinery via a synthetic one-parent frame: no level-1
    // corpus pass, no extra probe stage (cent1R = None — the flat
    // single-level probe), but leaves get the Lloyd rounds, the orphan
    // reseed, and the orphan id block (cells up to 2·maxCells, so
    // granularity no longer clamps at maxCells either) — GATED by the
    // measured per-label orphan-fraction trigger inside
    // leafCellStructure: a similarity-continuum block keeps the audited
    // one-round build, because the refinement measurably buys it
    // nothing while stage overhead dominates at band-sized blocks.
    // The route is PER LABEL (r14, the r13 ADVICE fix): only labels
    // past the clamp enter the refined machinery, so an under-clamp
    // label co-resident with a slack-band label keeps the audited
    // one-round single-level build BIT-FOR-BIT — its structure is
    // invariant to other labels. Every gate corpus is all-under-clamp
    // and never reaches this branch at all.
    val refined = !multiParent && maxBlock > tcs.toLong * mc
    if (refined) {
      val clamp = tcs.toLong * mc
      // homogeneous band corpus: no split, no dead union sides — the
      // r13b plan shape exactly
      val bandN = if (minBlock > clamp) n
        else n.join(broadcast(cnt.filter(col("n_l") > clamp)
          .select(col("label"))), Seq("label"), "left_semi")
      val lists1 = bandN.select(col("vec_id"), col("label"),
          lit(1).cast(IntegerType).as("c1"), col("v"), col("nrm"))
        .persistTracked
      val (centRB, listsB) = leafCellStructure(lists1, g)
      if (minBlock > clamp) return CellIndex(None, centRB, listsB)
      val smallCnt = cnt.filter(col("n_l") <= clamp)
      val smallN = n.join(broadcast(smallCnt.select(col("label"))),
        Seq("label"), "left_semi")
      val (centRS, listsS) = singleLevelStructure(smallN, smallCnt,
        tcs, mc)
      return CellIndex(None, centRB.unionByName(centRS),
        listsB.unionByName(listsS))
    }
    if (!multiParent) {
      val (centR, lists) = singleLevelStructure(n, cnt, tcs, mc)
      return CellIndex(None, centR, lists)
    }
    // UNSLACKED parent count: once hierarchical, leaves must land at
    // ≈targetCellSize — parents = ceil(n / (tcs·mc)) so each parent's
    // ceil(|parent|/tcs) leaf count fits under the per-parent clamp
    val nC1 = cnt.select(col("label"),
      least(lit(mc.toLong),
        greatest(lit(1L), ceil(col("n_l") / lit(tcs.toDouble * mc))))
        .cast(IntegerType).as("n_cells"))
    val seeds1 = seedCells(n, Seq("label"), nC1, mc)
    // cent1/lists1/cent2/lists each fan into 2-4 branches (counts,
    // seeds, assigns, radii, probe broadcasts) and Spark has no
    // cross-branch CSE — without the persists each branch re-runs the
    // corpus passes (and CacheManager shares the identical subplans
    // across the D3/C5/D6 queries in one session)
    val cent1 = recenterCells(assignToCells(n, seeds1), Seq("label"))
      .persistTracked
    val lists1 = assignToCells(n, cent1)
      .withColumnRenamed("cell", "c1")
      .persistTracked
    val (centR, lists) = leafCellStructure(lists1, g)
    // per-parent radius over the parent's final membership
    val radii1 = cellRadii(lists1, cent1.withColumnRenamed("cell", "c1"),
      Seq("label", "c1"))
    val cent1R = cent1.withColumnRenamed("cell", "c1")
      .join(radii1, Seq("label", "c1"))
    CellIndex(Some(cent1R), centR, lists)
  }

  /** The audited single-level structure (one synthetic parent, one
    * recenter round off hash-ordered seeds) over `n` with per-label
    * cell counts from `cnt` — the fast path every gate corpus takes,
    * factored out (r14) so the refined band's per-label split can give
    * its under-clamp labels EXACTLY this build: a small label's
    * structure must be invariant to whatever co-resident labels take
    * the refined route (the r13 ADVICE invariant).
    */
  private def singleLevelStructure(n: DataFrame, cnt: DataFrame,
      tcs: Int, mc: Int): (DataFrame, DataFrame) = {
    val nCells = cnt.select(col("label"),
      least(lit(mc.toLong),
        greatest(lit(2L), ceil(col("n_l") / lit(tcs.toDouble))))
        .cast(IntegerType).as("n_cells"))
    val seeds = seedCells(n, Seq("label"), nCells, mc)
    val cent = recenterCells(assignToCells(n, seeds), Seq("label"))
      .persistTracked
    val lists = assignToCells(n, cent).persistTracked
    val radii = cellRadii(lists, cent, Seq("label", "cell"))
    val centR = cent.withColumn("c1", lit(1).cast(IntegerType))
      .join(radii, Seq("label", "cell"))
      .withColumnRenamed("cell", "c_cell")
      .select(col("label"), col("c1"), col("c_cell"), col("cv"),
        col("cnrm"), col("r"))
    (centR, lists)
  }

  /** Leaf-level cell structure over a parent-keyed frame
    * (vec_id, label, c1, v, nrm) — the quality half of the build,
    * shared by the hierarchical level 2 and the refined single-level
    * band (where c1 is the synthetic constant 1 and the caller skips
    * the level-1 probe stage entirely). Returns
    * (centR: [label, c1, c_cell, cv, cnrm, r], lists: [vec_id, label,
    * cell, v, nrm]) with the composite leaf id
    * cell = (c1−1)·2·maxCells + c2 (the upper maxCells of each
    * parent's id block holds the orphan-pass reseed cells).
    *
    * The per-label continuum trigger applies at BOTH call sites (r14,
    * the r13 verdict's task 3 — it was band-only before): a continuum
    * label at the hierarchical level paid leafLloydRounds + the orphan
    * pass in corpus-scale passes for the measured −22% mass (the 8×
    * media sweep) — a trade a 100 TB corpus should make through the
    * geometry's orphanMaxFrac, not unconditionally. Round-1 structure is
    * identical either way; when every label refines, the output is
    * bit-identical to the old unconditional build (the Lloyd rounds
    * resume from the materialized round-1 assignment).
    */
  private def leafCellStructure(lists1: DataFrame,
      g: Geometry): (DataFrame, DataFrame) = {
    val tcs = g.cellSize
    val mc = g.maxCells
    val keys = Seq("label", "c1")
    // a (keys..., cell, cv, cnrm) centroid table → the assignment +
    // angle-to-own-centroid frame the orphan split (and the adaptive
    // trigger) read
    def assignWithAngles(l: DataFrame, cent: DataFrame): DataFrame =
      withAngles(l, cent, keys)
        .select(col("vec_id"), col("label"), col("c1"), col("cell"),
          col("v"), col("nrm"), col("ang"))
        .persistTracked
    // round 1 — always paid; this IS the audited one-round build
    val cent0 = round1Centroids(lists1, tcs, mc).persistTracked
    // CONTINUUM trigger, PER LABEL (r13b on the band; r14 at both call
    // sites): the round-1 assignment is needed regardless, so
    // materialize it WITH angles and peek each label's orphan fraction
    // (≤|labels| rows — the same metadata-scale driver peek discipline
    // as the mode switch). Past orphanMaxFrac a label's block is a
    // similarity continuum — there is no minority of unseeded clusters
    // to isolate; a reseed would re-cluster the whole block (round 1
    // already did) and the extra passes buy little (sf0.1 media: frac
    // 0.96, −3.4% mass for ~3× build wall on the band; −22% mass on
    // the 8× hierarchical media sweep — the trade orphanMaxFrac owns) —
    // the label keeps its one-round structure, radii falling out of
    // the angles already computed. Below it, the far members mark
    // orphaned natural clusters and the label refines (planted
    // 30-member clusters: frac 0.61, 15× mass cut; the Lloyd rounds
    // and the orphan pass — see leafLloydRounds/orphanRad for the
    // pathology each closes). The decision
    // is per label so a clustered minority label co-resident with a
    // continuum majority (or vice versa) never inherits the wrong
    // branch; homogeneous corpora get a single-branch plan with zero
    // dead stages. Recall stays 1 on EVERY branch (radii cover final
    // membership; the bound never depended on assignment quality).
    val assigned1 = assignWithAngles(lists1, cent0)
    val maxFrac = g.orphanMaxFrac
    // one job materializes the persist AND reads every label's stat
    val fracRows = assigned1.groupBy(col("label")).agg(orphanFrac)
      .collect()
    val refineLabels = fracRows.filter(_.getDouble(1) <= maxFrac)
      .map(_.get(0)).toSeq
    val skipLabels = fracRows.filter(_.getDouble(1) > maxFrac)
      .map(_.get(0)).toSeq
    if (refineLabels.isEmpty) // all-continuum (or empty) corpus
      return plainLeafStructure(assigned1, cent0, mc)
    def refined(a1: DataFrame, l1: DataFrame): (DataFrame, DataFrame) = {
      // Lloyd rounds 2..N resume from the materialized round-1
      // assignment, then the orphan split
      var cent2 = recenterCells(a1.drop("ang"), keys)
      for (_ <- 2 until leafLloydRounds)
        cent2 = recenterCells(assignToCells(l1, cent2, keys), keys)
      val cf = cent2.persistTracked
      finishWithOrphans(assignWithAngles(l1, cf), cf, tcs, mc)
    }
    if (skipLabels.isEmpty) // all-clustered corpus
      return refined(assigned1, lists1)
    // mixed corpus: each label takes its own branch; union at the end.
    // Branch membership travels as ONE broadcast routing frame keyed on
    // the SMALLER label set (labelFrame — never a literal isin list,
    // r15: refineLabels can approach the full label count), semi-joined
    // for that branch and anti-joined for the other.
    val bySkip = skipLabels.size <= refineLabels.size
    val routeLabels = if (bySkip) skipLabels else refineLabels
    // (skip side, refine side) of a label-carrying frame
    def route(df: DataFrame): (DataFrame, DataFrame) = {
      val (m, nm) = splitByLabels(df, routeLabels)
      if (bySkip) (m, nm) else (nm, m)
    }
    val (a1S, a1R) = route(assigned1)
    val (centRS, listsS) = plainLeafStructure(a1S, route(cent0)._1, mc)
    val (centRR, listsR) = refined(a1R, route(lists1)._2)
    (centRR.unionByName(centRS), listsR.unionByName(listsS))
  }

  /** The orphan split + reseed + final radii tail shared by both
    * leaf-structure modes; `assigned` carries the angle to its row's
    * centroid in `cent2` (the final Lloyd round's centroid table).
    */
  /** The no-reseed leaf structure straight off an angle-carrying
    * assignment: composite leaf ids, radii reused from the attached
    * angles (the centroids in `cent` are exactly what `assigned` was
    * measured against). Serves the per-label continuum skip.
    */
  private def plainLeafStructure(assigned: DataFrame, cent: DataFrame,
      mc: Int): (DataFrame, DataFrame) = {
    val leafIdOf = ((col("c1") - 1) * (2 * mc) + col("cell"))
      .cast(IntegerType)
    val lists = assigned
      .select(col("vec_id"), col("label"), leafIdOf.as("cell"),
        col("v"), col("nrm"))
      .persistTracked
    val radii = assigned.groupBy(col("label"), col("c1"), col("cell"))
      .agg(max(col("ang")).as("r"))
    val centR = cent.join(radii, Seq("label", "c1", "cell"))
      .select(col("label"), col("c1"), leafIdOf.as("c_cell"),
        col("cv"), col("cnrm"), col("r"))
    (centR, lists)
  }

  private def finishWithOrphans(assigned: DataFrame, cent2: DataFrame,
      tcs: Int, mc: Int): (DataFrame, DataFrame) = {
    val keep = assigned.filter(col("ang") <= orphanRad)
      .select(col("vec_id"), col("label"), col("c1"), col("cell"),
        col("v"), col("nrm"))
    val orph = assigned.filter(col("ang") > orphanRad)
      .select(col("vec_id"), col("label"), col("c1"), col("v"),
        col("nrm"))
    // 2× OVERSEEDED: random seeding misses e^(−slots/clusters) of the
    // orphan clusters; the orphan cells are the last line of defense,
    // so spend double slots here (a surplus cell just ends up small or
    // dies in recenter — radii never suffer from oversampling)
    val nCo = orph.groupBy(col("label"), col("c1"))
      .agg(least(lit(mc.toLong),
        greatest(lit(1L), ceil(count(lit(1)) * 2 / lit(tcs.toDouble))))
        .cast(IntegerType).as("n_cells"))
    val seedsO = seedCells(orph, Seq("label", "c1"), nCo, mc)
    val centO = recenterCells(
        assignToCells(orph, seedsO, Seq("label", "c1")),
        Seq("label", "c1"))
      .persistTracked
    val assignedO = assignToCells(orph, centO, Seq("label", "c1"))
      .select(col("vec_id"), col("label"), col("c1"),
        (col("cell") + mc).cast(IntegerType).as("cell"),
        col("v"), col("nrm"))
    val leafId = ((col("c1") - 1) * (2 * mc) + col("cell"))
      .cast(IntegerType)
    val lists = keep.unionByName(assignedO)
      .select(col("vec_id"), col("label"), leafId.as("cell"),
        col("v"), col("nrm"))
      .persistTracked
    val centLeaf = cent2
      .unionByName(centO.withColumn("cell",
        (col("cell") + mc).cast(IntegerType)))
      .select(col("label"), col("c1"), leafId.as("cell"), col("cv"),
        col("cnrm"))
    // per-leaf angular radius w.r.t. the final leaf centroids
    val radii = cellRadii(lists, centLeaf.drop("c1"), Seq("label", "cell"))
    val centR = centLeaf.join(radii, Seq("label", "cell"))
      .withColumnRenamed("cell", "c_cell")
    (centR, lists)
  }

  /** [[cellIndexOf]] exposed in the legacy (centR, lists) shape for
    * the flat-probe consumers ([[graft.sources.EmbedStore]]).
    */
  private[graft] def labelCellsOf(n: DataFrame,
      g: Geometry = Geometry()): (DataFrame, DataFrame) = {
    val ci = cellIndexOf(n, g)
    (ci.centR, ci.lists)
  }

  private def labelCandPairs(s: SparkSession, d: String): DataFrame = {
    val ci = cellIndexOf(vecs(s, d))
    val lists = ci.lists
    // 2. LB(v): 3rd-best own-cell cosine (cell-size-bounded partitions)
    val ownB = lists.select(col("vec_id").as("o_id"), col("label"),
      col("cell"), col("v").as("ov"), col("nrm").as("onrm"))
    val wOwn = Window.partitionBy(col("vec_id"))
      .orderBy(col("ocos").desc, col("o_id"))
    val lb = lists.join(ownB, Seq("label", "cell"))
      .filter(col("vec_id") =!= col("o_id"))
      .withColumn("ocos",
        Vectors.cosine(col("v"), col("ov"), col("nrm"), col("onrm")))
      .withColumn("rn", row_number().over(wOwn))
      .filter(col("rn") === 3)
      .select(col("vec_id").as("lb_id"), col("ocos").as("lb"))
    // 3. candidate cells, probed HIERARCHICALLY: level-1 parents whose
    // exact UB + ε clears LB(v) first — a ≤maxCells broadcast — then
    // only the survivors' leaves. The query's own parent and leaf
    // always survive (member angle ≤ r ⇒ UB = 1 + ε), so its
    // assignment column can be dropped before probing.
    val withLb = lists.drop("cell")
      .join(lb, col("vec_id") === col("lb_id"), "left")
      .withColumn("lbv", coalesce(col("lb"), lit(-2.0)))
    val probeBase = ci.cent1R match {
      case Some(c1r) =>
        ubProbe(withLb.join(broadcast(c1r), Seq("label")), col("lbv"))
          .select(col("vec_id"), col("label"), col("c1"), col("v"),
            col("nrm"), col("lbv"))
          .join(broadcast(ci.centR), Seq("label", "c1"))
      case None => withLb.join(broadcast(ci.centR), Seq("label"))
    }
    val cand = ubProbe(probeBase, col("lbv"))
      .select(col("vec_id"), col("label"), col("c_cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    // 4. exact cosine on candidates — a (label, cell) equi-join
    cand
      .join(lists.select(col("label"), col("cell").as("c_cell"),
          col("vec_id").as("nn_id"), col("v").as("vb"),
          col("nrm").as("nrmb")),
        Seq("label", "c_cell"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos_sim",
        Vectors.cosine(col("qv"), col("vb"), col("qn"), col("nrmb")))
      .select(col("vec_id"), col("label"), col("nn_id"), col("cos_sim"))
      .persistTracked
  }

  private val labelPairsSql: String =
    s"""$vecsSql,
      pr AS (SELECT a.vec_id, a.label, b.vec_id AS nn_id,
          round(${Vectors.sql.dot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
            AS cos_sim
        FROM n a JOIN n b
          ON a.label = b.label AND a.vec_id <> b.vec_id)"""

  // D3 — k-NN self-join per label block (k=3): exact-bound IVF
  // candidates, bounded-heap top-k per vector (TopKPerKey partial
  // pruning — never a window over a block-sized partition). The oracle
  // stays the brute-force formulation, proving recall = 1.
  private val knnJoin = GraftQuery(
    "knn_join",
    (s, d) => {
      val top = graft.plans.TopKPerKey(labelCandPairs(s, d),
        keys = Seq(col("vec_id")),
        order = Seq(col("cos_sim").desc, col("nn_id")),
        k = 3)
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_sim").desc, col("nn_id"))
      top
        .withColumn("rank", row_number().over(w).cast(LongType))
        .select(col("vec_id"), col("label"), col("rank"), col("nn_id"),
          col("cos_sim"))
        .orderBy(col("vec_id"), col("rank"))
    },
    Some(s"""
      WITH $labelPairsSql,
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY cos_sim DESC, nn_id) AS rank FROM pr)
      SELECT vec_id, label, rank, nn_id, cos_sim
      FROM r WHERE rank <= 3 ORDER BY vec_id, rank
      """))

  // C5 — embedding near-dup: each vector's within-label nearest
  // neighbor, flagged when cosine clears the near-dup threshold.
  // Shares labelCandPairs' persisted plan with D3 (its LB is built for
  // k=3, which lower-bounds the k=1 best too, so the candidate set is
  // a superset of what top-1 needs — still exact, computed once).
  private val dedupEmbedding = GraftQuery(
    "dedup_embedding",
    (s, d) => {
      val top = graft.plans.TopKPerKey(labelCandPairs(s, d),
        keys = Seq(col("vec_id")),
        order = Seq(col("cos_sim").desc, col("nn_id")),
        k = 1)
      top
        .select(col("vec_id"), col("label"), col("nn_id"), col("cos_sim"),
          (col("cos_sim") >= nearDupTau).as("is_near_dup"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH $labelPairsSql,
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY cos_sim DESC, nn_id) AS rn FROM pr)
      SELECT vec_id, label, nn_id, cos_sim,
        cos_sim >= $nearDupTau AS is_near_dup
      FROM r WHERE rn = 1 ORDER BY vec_id
      """))

  // D6 — radius (range) similarity search: ALL within-label pairs with
  // cosine ≥ τ — the "find everything this similar" complement to
  // top-k, with the same exact-bound cells: a vector probes only cells
  // whose upper bound clears τ (UB ≥ cos always, so recall is 1 by
  // construction), then exact cosine on the (label, cell) equi-join.
  // The oracle brute-forces every within-label pair independently.
  private[graft] val rangeTau = 0.3

  /** The D6 radius-search body at an arbitrary threshold, shared with
    * C10's semantic_dedup (which runs it at the 0.45 NEAR-DUP τ, not
    * D6's 0.3 range-demo τ — cos 0.3 is not a dup verdict, and at 0.3
    * the pair graph is ~100× denser, which round 5 paid for in a 167 s
    * connected-components build). Higher τ also prunes harder BEFORE
    * the join: the UB ≥ τ probe filter drops whole cells.
    */
  private[graft] def rangePairs(s: SparkSession, d: String,
      tau: Double): DataFrame =
    rangePairsOf(vecs(s, d), tau)

  /** Per-label round-1 orphan fraction over a normed frame — the
    * store's frozen `cont` routing statistic, the SAME number the
    * build's continuum trigger reads inside [[leafCellStructure]]:
    * seed, one recenter round, assign with angles, then the per-label
    * fraction of members further than [[orphanRad]] from their round-1
    * centroid. Costs ~three passes over `n` (which the store only pays
    * on the above-the-clamp labels); returns ≤|labels| rows to the
    * driver — the established metadata-scale peek discipline.
    */
  private[graft] def round1OrphanFracByLabel(n: DataFrame, tcs: Int,
      mc: Int): Array[org.apache.spark.sql.Row] = {
    val lists1 = n.select(col("vec_id"), col("label"),
      lit(1).cast(IntegerType).as("c1"), col("v"), col("nrm"))
    withAngles(lists1, round1Centroids(lists1, tcs, mc), Seq("label", "c1"))
      .groupBy(col("label")).agg(orphanFrac)
      .collect()
  }

  /** Round 1 of the leaf build over a parent-keyed frame (vec_id,
    * label, c1, v, nrm): hash-ordered seeds, one assign + recenter.
    * The leaf count per parent comes from the parent's ACTUAL
    * membership (argmax assignment is not uniform).
    */
  private def round1Centroids(lists1: DataFrame, tcs: Int,
      mc: Int): DataFrame = {
    val keys = Seq("label", "c1")
    val nC2 = lists1.groupBy(keys.map(col): _*)
      .agg(least(lit(mc.toLong),
        greatest(lit(2L), ceil(count(lit(1)) / lit(tcs.toDouble))))
        .cast(IntegerType).as("n_cells"))
    recenterCells(
      assignToCells(lists1, seedCells(lists1, keys, nC2, mc), keys), keys)
  }

  /** `l` assigned to its nearest of `cent`'s cells (per `keys`), with
    * the angle `ang` to that cell's centroid.
    */
  private def withAngles(l: DataFrame, cent: DataFrame,
      keys: Seq[String]): DataFrame =
    assignToCells(l, cent, keys)
      .join(broadcast(cent), keys :+ "cell")
      .withColumn("ang", centroidAngle)

  /** Per-group fraction of members further than [[orphanRad]] from
    * their centroid, over an angle-carrying assignment.
    */
  private def orphanFrac: Column =
    avg(when(col("ang") > orphanRad, 1.0).otherwise(0.0)).as("ofrac")

  /** A driver-decided label set re-injected as a one-column DataFrame
    * (r15 — the r14 verdict's task 1): the per-label routing peeks are
    * metadata-scale (≤|labels| rows collected), but re-entering the
    * decision as a literal `isin` predicate puts the whole label list
    * in the driver's expression tree and in every task's generated
    * code — unbounded at a high-cardinality label space, where the
    * >clamp label count can reach N/(tcs·mc). Carried as DATA in a
    * broadcast semi/anti join instead, the decision costs one
    * label-count-bounded broadcast — the same label-cardinality
    * assumption the engine's broadcast cells tables already make —
    * and the task-side plan is a constant-size hash probe.
    */
  private[graft] def labelFrame(s: SparkSession, dt: DataType,
      labels: Seq[Any]): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      labels.map(l => org.apache.spark.sql.Row(l)).asJava,
      StructType(Seq(StructField("label", dt))))
  }

  /** `n` split by membership in `labels` — (members, non-members) —
    * via ONE broadcast routing frame ([[labelFrame]]) used as semi and
    * anti join. Membership is NULL-SAFE (`<=>`, r16 — the r15 ADVICE
    * null-routing note): a NULL label group is a member iff the
    * routing set contains null, so the branch it takes follows its own
    * measured statistic like any other label's, instead of flipping
    * with which side of a mixed split happened to carry the smaller
    * routing set (the plain-equality join's three-valued logic always
    * dumped null rows on the anti side). Every row still routes to
    * exactly one side (the old literal-`isin` routing dropped null
    * rows from BOTH sides).
    */
  private[graft] def splitByLabels(n: DataFrame,
      labels: Seq[Any]): (DataFrame, DataFrame) = {
    val route = broadcast(
      labelFrame(n.sparkSession, n.schema("label").dataType, labels)
        .withColumnRenamed("label", "__route_label"))
    def side(joinType: String): DataFrame =
      n.join(route, n("label") <=> route("__route_label"), joinType)
    (side("left_semi"), side("left_anti"))
  }

  /** The D6 candidate stage over an arbitrary normed frame — the
    * UB-pruned (probe, member) pairs the exact-cosine filter then
    * verifies. Split out so the scale sweep can measure the CANDIDATE
    * MASS separately from the wall time (the ann_pq mass-row
    * discipline: a ratio on a cell-capped corpus needs the pair count
    * to be readable next to it).
    */
  private[graft] def rangeCandidatesOf(n: DataFrame,
      tau: Double): DataFrame = {
    val ci = cellIndexOf(n)
    // two-stage UB pruning (exact at both levels — parent radii cover
    // the parent's final membership): parents whose UB clears τ first,
    // then only the survivors' leaves
    val probeBase = ci.cent1R match {
      case Some(c1r) =>
        ubProbe(ci.lists.drop("cell").join(broadcast(c1r), Seq("label")),
            lit(tau))
          .select(col("vec_id"), col("label"), col("c1"), col("v"),
            col("nrm"))
          .join(broadcast(ci.centR), Seq("label", "c1"))
      case None => ci.lists.drop("cell")
        .join(broadcast(ci.centR), Seq("label"))
    }
    val probes = ubProbe(probeBase, lit(tau))
      .select(col("vec_id"), col("label"), col("c_cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    probes
      .join(ci.lists.select(col("label"), col("cell").as("c_cell"),
          col("vec_id").as("nn_id"), col("v").as("vb"),
          col("nrm").as("nrmb")),
        Seq("label", "c_cell"))
      .filter(col("vec_id") < col("nn_id"))
  }

  /** The D6 radius-search body over an arbitrary normed frame (vec_id,
    * label, v, nrm) — shared with `media_semantic_dedup` (MediaPack),
    * whose media-feature vectors ride the SAME exact-bound cell
    * machinery the D6/C10 oracles verify.
    */
  private[graft] def rangePairsOf(n: DataFrame, tau: Double): DataFrame =
    rangeCandidatesOf(n, tau)
      .withColumn("cos_sim",
        Vectors.cosine(col("qv"), col("vb"), col("qn"), col("nrmb")))
      .filter(col("cos_sim") >= tau)
      .select(col("vec_id"), col("nn_id"), col("label"), col("cos_sim"))

  private val annRange = GraftQuery(
    "ann_range_search",
    (s, d) => rangePairs(s, d, rangeTau)
      .orderBy(col("vec_id"), col("nn_id")),
    Some(s"""
      WITH $vecsSql,
      pr AS (SELECT a.vec_id, b.vec_id AS nn_id, a.label,
          round(${Vectors.sql.dot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
            AS cos_sim
        FROM n a JOIN n b
          ON a.label = b.label AND a.vec_id < b.vec_id)
      SELECT vec_id, nn_id, label, cos_sim
      FROM pr WHERE cos_sim >= $rangeTau
      ORDER BY vec_id, nn_id
      """))

  // ---- the BANDED range-candidate engine (r12, closing the r11
  // `weak`): hyperplane-sign LSH with SCALE-DERIVED band width and the
  // C3 bucket-cap discipline ----
  //
  // The exact-bound cell path above has recall 1 by construction but
  // its candidate mass is data-dependent: on unstructured
  // (near-isotropic) vectors the angular bounds prune little — the
  // scaladoc on [[labelCandPairs]] calls isotropic noise the provable
  // worst case for ANY exact method, and the r11 sweep measured it
  // (68.3× candidates at 8× media data). This engine is the scale path
  // for that regime, with mass bounded BY CONSTRUCTION instead of by
  // data:
  //  - band keys are the first `bits` sign bits of each band's
  //    hyperplane block (D2's plane machinery, md5-derived so the
  //    oracle rebuilds them bit-identically), where `bits` is DERIVED
  //    FROM THE LABEL BLOCK SIZE: the smallest b with
  //    targetLoad·2^b ≥ n (clamped to [minBits, maxBits]) — bucket
  //    LOAD, and with it random-collision mass per probe, stays
  //    ≈targetLoad as the corpus grows (integer ladder arithmetic, no
  //    floating log2 that could round differently across engines);
  //  - the probe side multi-probes each band's exact key plus all
  //    `bits` single-bit flips (recall margin without inflating the
  //    index side);
  //  - the index side is capped at the geometry's `cap` (default
  //    1024) SMALLEST ids per (label, band, key) via the
  //    TopKPerKey bounded heap — worst-case pair mass is
  //    n·bands·(bits+1)·cap, LINEAR in n on any corpus including a
  //    constant-vector flood.
  // Recall is probabilistic in the pair's angle (the LSH contract —
  // this is exactly ann_lsh's relationship to ann_brute): a pair at
  // cosine c agrees per bit with probability 1 − acos(c)/π, so
  // near-identical payloads (the dup-detection regime) collide in some
  // band with probability ≈ 1 while borderline-τ pairs may be missed;
  // the gate row's oracle MIRRORS the banding (deterministic planes ⇒
  // full hash-match), and the recall-vs-exact spec measures the gap
  // against the exact-cell path.
  // The geometry ([[Geometry]]'s band fields) is an argument, the
  // plane count DERIVING as bands × maxBits so the ladder's reach
  // (targetLoad·2^maxBits vectors per label before `bits` clamps and
  // the per-bucket cap starts truncating) moves with maxBits. Only the
  // floor is fixed: below 2^minBits keys the bucket count is too small
  // for banding to mean anything.
  private[graft] final val bandMinBits = 4

  /** The integer bit-width ladder as a Column over a per-label count
    * `n_l`: minBits + Σ_{b=minBits}^{maxBits−1} [n_l > targetLoad·2^b].
    * Shared with [[graft.sources.EmbedStore]]'s banded leg, which
    * FREEZES the resulting widths per label at write time.
    */
  private[graft] def bandBitsCol(maxBits: Int, targetLoad: Int): Column =
    (bandMinBits until maxBits)
      .map(b => when(col("n_l") > lit(targetLoad.toLong * (1L << b)),
        1).otherwise(0))
      .foldLeft(lit(bandMinBits): Column)(_ + _)

  /** Scalar mirror of [[bandBitsCol]] for specs. */
  private[graft] def bandBitsForBlock(n: Long,
      g: Geometry = Geometry()): Int =
    bandMinBits + (bandMinBits until g.maxBits)
      .count(b => n > g.targetLoad.toLong * (1L << b))

  /** SQL mirror of [[bandBitsCol]] over a column expression `n` — at
    * the DEFAULT geometry: the oracle strings are static, so gate rows
    * run at the default band geometry.
    */
  private[graft] def bandBitsSql(n: String): String = {
    val g = Geometry()
    s"$bandMinBits + " + (bandMinBits until g.maxBits)
      .map(b => s"(CASE WHEN $n > ${g.targetLoad.toLong * (1L << b)} " +
        "THEN 1 ELSE 0 END)")
      .mkString(" + ")
  }

  /** Plan-side vector-width guard (no driver peek): a vector of the
    * wrong width would silently project against a truncated/NULL-padded
    * plane table — fail loudly on the first offending row instead.
    */
  private[graft] def bandDimGuard(dim: Int): Column =
    when(size(col("v")) === dim, col("v"))
      .otherwise(raise_error(concat(
        lit(s"banded range engine built for $dim-dim vectors; got "),
        size(col("v")).cast(StringType))))

  /** The hyperplane sign-bit signature over a `v` column of
    * `dim`-wide vectors — shared with [[graft.sources.EmbedStore]]'s
    * banded leg, whose persisted keys MUST be built by the same
    * arithmetic the probe rebuilds (md5-derived planes, so both sides
    * and the DuckDB oracles regenerate them bit-identically).
    */
  private[graft] def bandSigBits(dim: Int, numPlanes: Int): Column = {
    val planes = Vectors.planeWeights(numPlanes, dim)
    concat((0 until numPlanes).map { p =>
      val pw = array(planes(p).map(lit): _*)
      when(Vectors.dot(col("v"), pw) > 0.0, "1").otherwise("0")
    }: _*)
  }

  /** Per-band (band, key) structs over `sigbits`/`bits` columns: band
    * b's key is the first `bits` bits of its maxBits-wide plane block.
    */
  private[graft] def bandKeyCols(numBands: Int, maxBits: Int): Column =
    array((0 until numBands).map(b =>
      struct(lit(b).as("band"),
        expr(s"substring(sigbits, ${b * maxBits + 1}, bits)")
          .as("key"))): _*)

  /** The multi-probe key set over `key0`/`bits` columns: the exact key
    * (f = 0) plus one single-bit flip per used bit.
    */
  private[graft] def bandProbeKeys(maxBits: Int): Column =
    expr("transform(sequence(0, bits), f -> " +
      "IF(f = 0, key0, concat(substring(key0, 1, f - 1), " +
      "IF(substring(key0, f, 1) = '1', '0', '1'), " +
      s"substring(key0, f + 1, $maxBits))))")

  /** Signatures of a normed frame (vec_id, label, v, nrm) of
    * `dim`-wide vectors under a per-label (label, bits) width table —
    * the one signature step the in-query banded engine, the store's
    * index side and the store's probe side share. Labels `bits` does
    * not carry drop at its inner join.
    */
  private[graft] def bandSigs(n: DataFrame, bits: DataFrame, dim: Int,
      numBands: Int, maxBits: Int): DataFrame =
    n.withColumn("v", bandDimGuard(dim))
      .withColumn("sigbits", bandSigBits(dim, numBands * maxBits))
      .join(broadcast(bits.select(col("label"), col("bits"))),
        Seq("label"))

  /** Index side: every signature row once per band, with that band's
    * exact key as (band, key); the signature row's columns ride along.
    */
  private[graft] def bandKeysOf(sigs: DataFrame, numBands: Int,
      maxBits: Int): DataFrame =
    sigs.select(col("*"), inline(bandKeyCols(numBands, maxBits)))

  /** Probe side: (vec_id, label, band, key) for each band's exact key
    * plus one single-bit flip per used bit.
    */
  private[graft] def bandProbesOf(sigs: DataFrame, numBands: Int,
      maxBits: Int): DataFrame =
    bandKeysOf(sigs, numBands, maxBits)
      .select(col("vec_id"), col("label"), col("band"), col("bits"),
        col("key").as("key0"))
      .select(col("vec_id"), col("label"), col("band"),
        explode(bandProbeKeys(maxBits)).as("key"))

  /** The banded candidate pairs over a normed frame (vec_id, label, v,
    * nrm) of `dim`-dimensional vectors: (vec_id, nn_id, label, qv, qn,
    * vb, nrmb) — same shape as [[rangeCandidatesOf]] so the scale
    * sweep's mass rows read either engine.
    */
  private[graft] def bandedRangeCandidatesOf(n: DataFrame, dim: Int,
      g: Geometry = Geometry()): DataFrame = {
    val Geometry(_, _, _, numBands, maxBits, targetLoad, cap) = g
    val nl = n.groupBy(col("label")).agg(count(lit(1)).as("n_l"))
    val bits = nl.select(col("label"),
      bandBitsCol(maxBits, targetLoad).as("bits"))
    // signatures fan into the probe explode, the index explode, and
    // both vector join-backs — persist once (the 128-dot projection is
    // the frame's one corpus-scale map)
    val sigs = bandSigs(n, bits, dim, numBands, maxBits).persistTracked
    val idx0 = bandKeysOf(sigs, numBands, maxBits)
      .select(col("vec_id").as("nn_id"), col("label"), col("band"),
        col("key"))
    val idx = if (cap == Int.MaxValue) idx0
      else graft.plans.TopKPerKey(idx0,
        Seq(col("label"), col("band"), col("key")),
        Seq(col("nn_id").asc), cap)
    val probe = bandProbesOf(sigs, numBands, maxBits)
    val cand = probe.join(idx, Seq("label", "band", "key"))
      .filter(col("vec_id") < col("nn_id"))
      .select(col("vec_id"), col("nn_id"), col("label"))
      .distinct()
    cand
      .join(sigs.select(col("vec_id"), col("v").as("qv"),
        col("nrm").as("qn")), Seq("vec_id"))
      .join(sigs.select(col("vec_id").as("nn_id"), col("v").as("vb"),
        col("nrm").as("nrmb")), Seq("nn_id"))
      .select(col("vec_id"), col("nn_id"), col("label"),
        col("qv"), col("qn"), col("vb"), col("nrmb"))
  }

  /** Banded candidates → exact-cosine verification at τ — the scale
    * sibling of [[rangePairsOf]], same output shape.
    */
  private[graft] def bandedRangePairsOf(n: DataFrame, dim: Int,
      tau: Double, g: Geometry = Geometry()): DataFrame =
    bandedRangeCandidatesOf(n, dim, g)
      .withColumn("cos_sim",
        Vectors.cosine(col("qv"), col("vb"), col("qn"), col("nrmb")))
      .filter(col("cos_sim") >= tau)
      .select(col("vec_id"), col("nn_id"), col("label"), col("cos_sim"))

  /** The DuckDB mirror of the banded candidate engine over a CTE
    * `n(doc_id, media_type/label, v, nrm)` — parameterized on the id
    * and label column names so the media oracle can compose it. Ends
    * in `bpairs(vec_id, nn_id, label, cos_sim)` (banded candidates,
    * exact cosine attached, NOT yet τ-filtered). Geometry AND the
    * per-bucket cap are the DEFAULTS ([[Geometry]]): the index
    * side keeps the default `cap` smallest ids per (label,
    * band, key) exactly as the engine's TopKPerKey does — without the
    * mirror, the first gate corpus growing a >cap bucket would
    * hash-mismatch silently (r12 ADVICE).
    */
  private[graft] def bandedPairsSql(dim: Int, id: String,
      lab: String): String = {
    val Geometry(_, _, _, numBands, maxBits, _, cap) = Geometry()
    s"""
      p AS (${Vectors.sql.planes(numBands * maxBits, dim)}),
      sbits AS (SELECT n.$id, n.$lab,
          CASE WHEN ${Vectors.sql.dot("n.v", "p.pw")} > 0
               THEN '1' ELSE '0' END AS bit, p.p
        FROM n CROSS JOIN p),
      bsig AS (SELECT $id, $lab, string_agg(bit, '' ORDER BY p) AS sigbits
               FROM sbits GROUP BY 1, 2),
      bcnt AS (SELECT $lab, ${bandBitsSql("COUNT(*)")} AS bits
               FROM n GROUP BY 1),
      bkeys AS (SELECT s.$id, s.$lab, c.bits,
          unnest(range($numBands)) AS band, s.sigbits
        FROM bsig s JOIN bcnt c ON s.$lab = c.$lab),
      bidx AS (SELECT $id, $lab, band,
          substr(sigbits, CAST(band * $maxBits + 1 AS INTEGER),
            CAST(bits AS INTEGER)) AS key
        FROM bkeys
        QUALIFY ROW_NUMBER() OVER (PARTITION BY $lab, band, key
          ORDER BY $id) <= $cap),
      bprobe0 AS (SELECT $id, $lab, band, bits,
          substr(sigbits, CAST(band * $maxBits + 1 AS INTEGER),
            CAST(bits AS INTEGER)) AS key0,
          unnest(range(bits + 1)) AS f
        FROM bkeys),
      bprobe AS (SELECT $id, $lab, band,
          CASE WHEN f = 0 THEN key0
               ELSE substr(key0, 1, CAST(f - 1 AS INTEGER)) ||
                 (CASE WHEN substr(key0, CAST(f AS INTEGER), 1) = '1'
                       THEN '0' ELSE '1' END) ||
                 substr(key0, CAST(f + 1 AS INTEGER), $maxBits)
          END AS key
        FROM bprobe0),
      bcand AS (SELECT DISTINCT a.$id AS vec_id, b.$id AS nn_id,
          a.$lab AS label
        FROM bprobe a JOIN bidx b
          ON a.$lab = b.$lab AND a.band = b.band AND a.key = b.key
          AND a.$id < b.$id),
      bpairs AS (SELECT c.vec_id, c.nn_id, c.label,
          round(${Vectors.sql.dot("x.v", "y.v")} / (x.nrm * y.nrm), 6)
            AS cos_sim
        FROM bcand c
        JOIN n x ON c.vec_id = x.$id
        JOIN n y ON c.nn_id = y.$id)"""
  }

  // D6b — banded radius search over the PRIMARY embeddings table
  // (r12): the banded engine at D6's own τ, proving the scale
  // path is generic over dimensions and label spaces (F7b runs it on
  // 16-dim media vectors in a 3-label space; this row on the 64-dim
  // corpus with its richer labels). The gate is a FULL hash match —
  // the oracle mirrors the banding — so correctness is exact; recall
  // vs the exact D6 path is the LSH contract: dup-regime pairs
  // (cos ≥ ~0.8) collide with probability ≈ 1 at any block size, while
  // borderline-τ recall decays as the bit ladder grows with the block
  // (the spec measures it against rangePairs at the same τ, and
  // banded ⊆ exact always — same verdict on a candidate subset).
  private val annRangeBanded = GraftQuery(
    "ann_range_banded",
    // no driver-side dim peek (r12 polish): the engine carries a
    // plan-side width guard that raise_errors on the first
    // wrong-width vector, which protects every banded consumer
    (s, d) => bandedRangePairsOf(vecs(s, d), lshDim, rangeTau)
      .orderBy(col("vec_id"), col("nn_id")),
    Some(s"""
      WITH $vecsSql,
      ${bandedPairsSql(lshDim, "vec_id", "label")}
      SELECT vec_id, nn_id, label, cos_sim FROM bpairs
      WHERE cos_sim >= $rangeTau
      ORDER BY vec_id, nn_id
      """))

  // D4 — IVF-style ANN: a coarse quantizer (label groups stand in for
  // k-means cells — deterministic, no iterative training) with
  // exact-decimal centroids, nprobe=3 probing, and exact cosine
  // re-ranking only within the probed inverted lists. The scale story:
  // the corpus scan is replaced by |probed cells|/|cells| of the data,
  // and centroids are a tiny broadcast table.
  private val nprobe = 3
  private val annIvf = GraftQuery(
    "ann_ivf",
    (s, d) => {
      val n = vecs(s, d)
      // centroids: per label, per-dim exact-decimal mean
      val cent = centroidsOf(n, Seq("label"))
        .withColumn("cnrm", Vectors.norm(col("cv")))
      val q = asQueries(n.filter(isQuery))
      // probe the top-nprobe cells per query by centroid cosine
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("ccos").desc, col("label"))
      val probed = q.crossJoin(broadcast(cent))
        .withColumn("ccos",
          Vectors.cosine(col("qv"), col("cv"), col("qn"), col("cnrm")))
        .withColumn("pr", row_number().over(wProbe))
        .filter(col("pr") <= nprobe)
        .select(col("query_id"), col("qv"), col("qn"), col("label"))
      // exact search only inside the probed lists
      val c = n.filter(!isQuery)
      val pairs = c.join(broadcast(probed), Seq("label"))
        .withColumn("cos_sim",
          Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .select(col("query_id"), col("vec_id"), col("label"), col("cos_sim"))
      topKPerQuery(pairs, K, Seq("label"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH $vecsSql,
      dims AS (SELECT label, unnest(range(len(v))) AS j, v FROM n),
      cd AS (SELECT label, j,
          CAST(SUM(CAST(v[CAST(j AS INTEGER)+1] AS DECIMAL(28,12)))
            AS DOUBLE) / COUNT(*) AS c
        FROM dims GROUP BY label, j),
      cent AS (SELECT label, list(c ORDER BY j) AS cv FROM cd
               GROUP BY label),
      cn AS (SELECT label, cv, ${Vectors.sql.norm("cv")} AS cnrm FROM cent),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
            WHERE vec_id % 50 = 0),
      pc AS (SELECT q.query_id, q.qv, q.qn, cn.label,
          round(${Vectors.sql.dot("q.qv", "cn.cv")} / (q.qn * cn.cnrm), 6)
            AS ccos
        FROM q CROSS JOIN cn),
      probed AS (SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY ccos DESC, label) AS pr FROM pc)
        WHERE pr <= $nprobe),
      c AS (SELECT * FROM n WHERE vec_id % 50 <> 0),
      pr2 AS (SELECT p.query_id, c.vec_id, c.label,
          round(${Vectors.sql.dot("p.qv", "c.v")} / (p.qn * c.nrm), 6)
            AS cos_sim
        FROM c JOIN probed p ON c.label = p.label),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, vec_id) AS rank FROM pr2)
      SELECT query_id, rank, vec_id, cos_sim, label
      FROM r WHERE rank <= $K ORDER BY query_id, rank
      """))

  // D5 — IVF with a REAL (deterministic) k-means coarse quantizer:
  // hash-ordered seed pick, two unrolled Lloyd iterations (assignment =
  // exact-double squared-distance argmin with cell-id tiebreak; update
  // = exact-decimal per-dim means), then nprobe probing + exact cosine
  // re-rank inside the probed lists. Every arithmetic step is an
  // identical IEEE/decimal sequence in both engines, so even the
  // trained cell boundaries hash-match. Scale: each Lloyd round is one
  // broadcast-join assignment pass + one mean aggregation — the
  // standard distributed k-means; cells and centroids stay tiny.
  private val kmK = 8
  private val kmIters = 2

  /** Per-group centroids of the `v`-named vectors in `assigned`:
    * (keys..., cv) with cv[j] = `mean` of the group's j-th components —
    * the one recenter spelling under the k-means, PQ and label-mean
    * quantizers ([[exactMean]]) and the exact-bound cell builds (`avg`,
    * whose bounds hold for any centroid).
    */
  private[graft] def centroidsOf(assigned: DataFrame, keys: Seq[String],
      v: String = "v", mean: Column => Column = exactMean): DataFrame =
    assigned
      .select(keys.map(col) :+ posexplode(col(v)).as(Seq("j", "x")): _*)
      .groupBy(keys.map(col) :+ col("j"): _*)
      .agg(mean(col("x")).as("c"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("j"), col("c")))),
        e => e.getField("c")).as("cv"))

  /** Per-dimension mean through exact decimal sums: a double sum would
    * depend on partition order, and the oracle sums in DECIMAL(28,12).
    */
  private def exactMean(x: Column): Column =
    sum(x.cast(DecimalType(28, 12))).cast(DoubleType) / count(lit(1))

  /** The column names one Lloyd quantizer runs over: points carry
    * (vec_id, keys..., v, vv = v·v), centroids (keys..., id, cv, cc =
    * cv·cv); `keys` groups independent quantizers trained in one plan.
    */
  private case class LloydSpace(keys: Seq[String], id: String,
      v: String, vv: String)

  /** The k-means coarse quantizer's space: one group, cells `cell`. */
  private val coarse = LloydSpace(Nil, "cell", "v", "vv")

  /** Argmin-centroid assignment via a min_by-struct aggregation —
    * map-side combinable (partial argmin per partition, merge of
    * K-sized states), unlike a row_number window over n×K rows. The
    * struct ordering (dist2, id) reproduces the oracle's ROW_NUMBER
    * tiebreak exactly: dist2 = vv + cc − 2·v·cv is the identical IEEE
    * sequence in both engines, so the selected id hash-matches.
    * Returns (vec_id, keys..., id, v).
    */
  private def lloydAssign(pts: DataFrame, cent: DataFrame,
      sp: LloydSpace): DataFrame =
    pts.join(broadcast(cent), sp.keys) // no keys: every centroid
      .withColumn("dist2", col(sp.vv) + col("cc") -
        lit(2.0d) * Vectors.dot(col(sp.v), col("cv")))
      .groupBy(col("vec_id") +: sp.keys.map(col): _*)
      .agg(
        min_by(col(sp.id),
          struct(col("dist2").as("d"), col(sp.id).as("c"))).as(sp.id),
        first(col(sp.v)).as(sp.v))

  /** `iters` unrolled Lloyd rounds from `seeds` (keys..., id, cv, cc):
    * assign, then exact-decimal recenter. Returns (keys..., id, cv, cc).
    */
  private def lloyd(pts: DataFrame, seeds: DataFrame, iters: Int,
      sp: LloydSpace): DataFrame =
    (1 to iters).foldLeft(seeds) { (c, _) =>
      centroidsOf(lloydAssign(pts, c, sp), sp.keys :+ sp.id, sp.v)
        .withColumn("cc", Vectors.dot(col("cv"), col("cv")))
    }

  /** Corpus frame for the k-means paths: (vec_id, v, nrm, vv). */
  private[graft] def kmCorpus(n: DataFrame): DataFrame =
    n.withColumn("vv", Vectors.dot(col("v"), col("v")))

  /** Nearest coarse cell per corpus vector: (vec_id, cell, v). */
  private def kmAssign(corpus: DataFrame, cent: DataFrame): DataFrame =
    lloydAssign(corpus, cent, coarse)

  /** IVF postings of a normed frame (vec_id, v, nrm): every vector
    * routed to its nearest centroid, (vec_id, v, nrm, cell).
    */
  private[graft] def ivfPostings(n: DataFrame, cent: DataFrame): DataFrame =
    kmAssign(kmCorpus(n), cent)
      .join(n.select(col("vec_id"), col("nrm")), "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))

  /** Deterministic k-means coarse quantizer: hash-ordered seed pick,
    * `iters` unrolled Lloyd rounds. Returns (cell, cv, cc).
    */
  private[graft] def kmCentroids(corpus: DataFrame, k: Int = kmK,
      iters: Int = kmIters): DataFrame = {
    val seeds = corpus
      .withColumn("hk", seedHash(col("vec_id")))
      .orderBy(col("hk"), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
      .withColumn("cc", Vectors.dot(col("cv"), col("cv")))
    lloyd(corpus, seeds, iters, coarse)
  }

  /** nprobe nearest cells per query (query_id, qv, qn):
    * (query_id, qv, qn, cell).
    */
  private[graft] def kmProbe(q: DataFrame, cent: DataFrame,
      probes: Int = nprobe): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("dist2"), col("cell"))
    q.withColumn("qq", Vectors.dot(col("qv"), col("qv")))
      .crossJoin(broadcast(cent))
      .withColumn("dist2",
        col("qq") + col("cc") - lit(2.0d) * Vectors.dot(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= probes)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
  }

  /** The IVF re-rank tail: exact cosine of each probed query against
    * the postings (vec_id, cell, v, nrm) of its probed cells, top-k per
    * query — shared by `ann_ivf_kmeans` and [[graft.sources.AnnIndex]]
    * (query_id, rank, vec_id, cos_sim, cell).
    */
  private[graft] def ivfRerank(lists: DataFrame, probed: DataFrame,
      k: Int): DataFrame = {
    val pairs = lists.join(broadcast(probed), Seq("cell"))
      .withColumn("cos_sim",
        Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("vec_id"), col("cell"), col("cos_sim"))
    topKPerQuery(pairs, k, Seq("cell"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** D5's oracle — shared verbatim by `ann_index_search` (D9), and,
    * with a restricted `trainPred`, by `ann_index_append_search` (the
    * D9 append path): the quantizer TRAINS on `corpus` (vec_id % 50 <>
    * 0 AND trainPred) but the postings ASSIGN the full corpus — which
    * is exactly write(train set) followed by append(the rest): appended
    * vectors route to the FIXED trained centroids. With trainPred TRUE
    * the two sets coincide and this is the plain D5 oracle.
    */
  /** The unrolled two-round Lloyd train over `corpusPred`-selected
    * vectors — CTE chain `corpus → seeds → s1/g1/d1/m1/c1/cn1 →
    * s2/g2/d2/m2/c2 → cn2(cell, cv, cc)`, expecting `$vecsSql`
    * upstream. Shared by the D5/D9 oracles and J1 doc_topics so the
    * trained-quantizer spelling cannot drift between them.
    */
  private def kmTrainSql(corpusPred: String): String = s"""
      corpus AS (SELECT vec_id, label, v, nrm,
          ${Vectors.sql.dot("v", "v")} AS vv
        FROM n WHERE $corpusPred),
      seeds AS (SELECT vec_id AS cell, v AS cv,
          ${Vectors.sql.dot("v", "v")} AS cc
        FROM corpus ORDER BY $seedHashSql, vec_id
        LIMIT $kmK),
      s1 AS (SELECT a1.vec_id, a1.v, s.cell,
          ROW_NUMBER() OVER (PARTITION BY a1.vec_id ORDER BY
            a1.vv + s.cc - 2.0 * ${Vectors.sql.dot("a1.v", "s.cv")}, s.cell)
            AS rn
        FROM corpus a1 CROSS JOIN seeds s),
      g1 AS (SELECT vec_id, v, cell FROM s1 WHERE rn = 1),
      d1 AS (SELECT cell, unnest(range(len(v))) AS j, v FROM g1),
      m1 AS (SELECT cell, j,
          CAST(SUM(CAST(v[CAST(j AS INTEGER)+1] AS DECIMAL(28,12)))
            AS DOUBLE) / COUNT(*) AS c
        FROM d1 GROUP BY cell, j),
      c1 AS (SELECT cell, list(c ORDER BY j) AS cv FROM m1 GROUP BY cell),
      cn1 AS (SELECT cell, cv, ${Vectors.sql.dot("cv", "cv")} AS cc
              FROM c1),
      s2 AS (SELECT co.vec_id, co.v, s.cell,
          ROW_NUMBER() OVER (PARTITION BY co.vec_id ORDER BY
            co.vv + s.cc - 2.0 * ${Vectors.sql.dot("co.v", "s.cv")}, s.cell)
            AS rn
        FROM corpus co CROSS JOIN cn1 s),
      g2 AS (SELECT vec_id, v, cell FROM s2 WHERE rn = 1),
      d2 AS (SELECT cell, unnest(range(len(v))) AS j, v FROM g2),
      m2 AS (SELECT cell, j,
          CAST(SUM(CAST(v[CAST(j AS INTEGER)+1] AS DECIMAL(28,12)))
            AS DOUBLE) / COUNT(*) AS c
        FROM d2 GROUP BY cell, j),
      c2 AS (SELECT cell, list(c ORDER BY j) AS cv FROM m2 GROUP BY cell),
      cn2 AS (SELECT cell, cv, ${Vectors.sql.dot("cv", "cv")} AS cc
              FROM c2)"""

  private def kmeansOracle(trainPred: String): String = s"""
      WITH $vecsSql,
      ${kmTrainSql(s"vec_id % 50 <> 0 AND ($trainPred)")},
      assign AS (SELECT vec_id, v, nrm,
          ${Vectors.sql.dot("v", "v")} AS vv
        FROM n WHERE vec_id % 50 <> 0),
      lists AS (SELECT co.vec_id, co.v, co.nrm, s.cell,
          ROW_NUMBER() OVER (PARTITION BY co.vec_id ORDER BY
            co.vv + s.cc - 2.0 * ${Vectors.sql.dot("co.v", "s.cv")}, s.cell)
            AS rn
        FROM assign co CROSS JOIN cn2 s),
      li AS (SELECT vec_id, v, nrm, cell FROM lists WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
          ${Vectors.sql.dot("v", "v")} AS qq
        FROM n WHERE vec_id % 50 = 0),
      pc AS (SELECT q.query_id, q.qv, q.qn, s.cell,
          ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
            q.qq + s.cc - 2.0 * ${Vectors.sql.dot("q.qv", "s.cv")}, s.cell)
            AS pr
        FROM q CROSS JOIN cn2 s),
      probed AS (SELECT query_id, qv, qn, cell FROM pc WHERE pr <= $nprobe),
      pr2 AS (SELECT p.query_id, li.vec_id, li.cell,
          round(${Vectors.sql.dot("p.qv", "li.v")} / (p.qn * li.nrm), 6)
            AS cos_sim
        FROM li JOIN probed p ON li.cell = p.cell),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, vec_id) AS rank FROM pr2)
      SELECT query_id, rank, vec_id, cos_sim, cell
      FROM r WHERE rank <= $K ORDER BY query_id, rank
      """

  private val annIvfKmeans = GraftQuery(
    "ann_ivf_kmeans",
    (s, d) => {
      val n = vecs(s, d)
      val c = n.filter(!isQuery)
      // kmK rows, but the plan behind them is two full Lloyd rounds
      // over the corpus, and cent feeds BOTH the list assignment and
      // the probe ranking — persist so the quantizer trains once per
      // session (the D9 index write is this same materialize-the-
      // quantizer pattern, persisted to parquet instead)
      val cent = kmCentroids(kmCorpus(c)).persistTracked
      ivfRerank(ivfPostings(c, cent),
        kmProbe(asQueries(n.filter(isQuery)), cent), K)
    },
    Some(kmeansOracle("TRUE")))

  // J1 — corpus topic clustering: the curation view of the SAME
  // deterministic quantizer D5 trains for pruning. Every embedding is
  // assigned its nearest of kmK k-means centroids (exact-double argmin,
  // low-cell tiebreak) over the FULL corpus, with the cluster's
  // population and the doc's cosine to its centroid — the
  // "what is this corpus made of / how coherent is each topic" report
  // a training-data pipeline uses to steer mixing quotas (H6) and spot
  // collapsed crawl slices. Scale: the train is the D5 story (each
  // Lloyd round = one broadcast-join assignment + one mean
  // aggregation); the final pass is one broadcast argmin over the
  // corpus and a kmK-row size join — no shuffle beyond the mean aggs.
  // The oracle replays seed pick, both Lloyd rounds AND the final
  // assignment in SQL via the shared kmTrainSql chain, so even the
  // trained topic boundaries hash-match.
  private val docTopics = GraftQuery(
    "doc_topics",
    (s, d) => {
      val n = vecs(s, d)
      val corpus = kmCorpus(n)
      val cent = kmCentroids(corpus).persistTracked
      val assigned = kmAssign(corpus, cent)
      val sizes = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_topic"))
      assigned
        .join(n.select(col("vec_id"), col("nrm")), Seq("vec_id"))
        .join(broadcast(cent.select(col("cell"), col("cv"), col("cc"))),
          Seq("cell"))
        .join(broadcast(sizes), Seq("cell"))
        .select(col("vec_id"), col("cell").as("topic"), col("n_topic"),
          round(Vectors.dot(col("v"), col("cv")) /
            (col("nrm") * sqrt(col("cc"))), 6).as("topic_sim"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH $vecsSql,
      ${kmTrainSql("TRUE")},
      fin AS (SELECT co.vec_id, co.nrm, co.v, s.cell, s.cv, s.cc,
          ROW_NUMBER() OVER (PARTITION BY co.vec_id ORDER BY
            co.vv + s.cc - 2.0 * ${Vectors.sql.dot("co.v", "s.cv")}, s.cell)
            AS rn
        FROM corpus co CROSS JOIN cn2 s),
      li AS (SELECT vec_id, nrm, v, cell, cv, cc FROM fin WHERE rn = 1),
      sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_topic
                FROM li GROUP BY cell)
      SELECT li.vec_id, li.cell AS topic, sizes.n_topic,
        round(${Vectors.sql.dot("li.v", "li.cv")} / (li.nrm * sqrt(li.cc)),
          6) AS topic_sim
      FROM li JOIN sizes ON li.cell = sizes.cell
      ORDER BY li.vec_id
      """))

  /** A D9 gate row: search the store `store` builds (once per JVM ×
    * dataset) with the query slice; the oracle is D5's, trained on the
    * `trainPred` subset of the corpus.
    */
  private def annIndexRow(name: String, trainPred: String)(
      store: (SparkSession, String) => String): GraftQuery =
    GraftQuery(name,
      (s, d) => graft.sources.AnnIndex.search(s, store(s, d),
        querySet(s, d), k = K, nprobe = nprobe),
      Some(kmeansOracle(trainPred)))

  // D9 through the driver gate — the cf_parse_config pattern: the
  // artifact-driven path (train + persist the IVF index, then SEARCH the
  // parquet postings with static partition pruning) must hash-match the
  // in-query D5 oracle, proving the persisted index IS the
  // oracle-verified quantizer. The index builds once per (JVM, dataset)
  // ([[graft.Caches.tempDir]], released with the cache registry);
  // repeat invocations only search — the build-once/query-many usage D9
  // exists for.
  private val annIndexSearch = annIndexRow("ann_index_search", "TRUE") {
    (s, d) => graft.Caches.tempDir("graft_ann_index", d) { dir =>
      graft.sources.AnnIndex.write(corpusSet(s, d), dir,
        k = kmK, iters = kmIters)
    }
  }

  /** The append row's finished store (write 91%-of-91% + append the
    * held-out slice), built once per (JVM, dataset) — ALSO the shared
    * base-store prefix the compact and rebuild rows clone (r16
    * optimization round): all three maintenance rows started from the
    * identical write+append sequence, so the two newer rows re-trained
    * the same quantizer and re-landed the same postings a second and
    * third time per bench pass (~3-4 s each, pure duplicate work). A
    * filesystem clone of the memoized base carries the exact same rows
    * forward; the per-row tail (replayed append + compact, resp.
    * rebuild) runs on the clone unchanged, so each row's store content
    * — and its oracle-hashed search result — is bit-identical to the
    * from-scratch build.
    */
  private def annAppendStore(s: SparkSession, d: String): String =
    graft.Caches.tempDir("graft_ann_index_app", d) { dir =>
      val corpus = corpusSet(s, d)
      graft.sources.AnnIndex.write(
        corpus.filter(pmod(col("vec_id"), lit(11)) =!= 5),
        dir, k = kmK, iters = kmIters)
      graft.sources.AnnIndex.append(s, dir,
        corpus.filter(pmod(col("vec_id"), lit(11)) === 5))
    }

  /** Recursive file clone of a store directory (parquet + markers) into
    * `dst` — the maintenance rows' base-prefix reuse. Plain JVM I/O: the
    * dirs are driver-local temp stores of the gate rows, never a
    * distributed filesystem.
    */
  private def cloneStoreDir(src: String, dst: String): Unit = {
    val srcPath = java.nio.file.Paths.get(src)
    val dstPath = java.nio.file.Paths.get(dst)
    scala.util.Using.resource(java.nio.file.Files.walk(srcPath)) { st =>
      val it = st.iterator()
      while (it.hasNext) {
        val p = it.next()
        val t = dstPath.resolve(srcPath.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** Memoized maintenance-row store built from a CLONE of the append
    * row's base store plus `tail` — see [[annAppendStore]].
    */
  private def maintStoreFrom(s: SparkSession, d: String, prefix: String)(
      tail: String => Unit): String =
    graft.Caches.tempDir(prefix, d) { dir =>
      cloneStoreDir(annAppendStore(s, d), dir)
      tail(dir)
    }

  // D9's APPEND path through the driver gate: train + persist the index
  // on ~91% of the corpus, APPEND the held-out slice (routed to the
  // FIXED trained centroids — no retrain), then search. The oracle
  // trains on the same reduced set but assigns the full corpus, which
  // is precisely the write+append contract — a hash match proves
  // appended vectors are searchable exactly as if routed at build time.
  private val annIndexAppendSearch =
    annIndexRow("ann_index_append_search", "vec_id % 11 <> 5")(
      annAppendStore)

  // D9's COMPACT path through the driver gate (r16 — the r15 verdict's
  // task 1): write + append + a REPLAYED append (duplicate postings
  // rows, the crash shape) fragment the cell dirs; compact rewrites
  // the same rows to one sorted file per cell under the next
  // generation. The oracle is IDENTICAL to the append row's — a hash
  // match proves search is byte-stable across compaction, replay
  // duplicates included (they survive compact as rows and collapse at
  // read, the family-wide convergence contract).
  private val annIndexCompactSearch =
    annIndexRow("ann_index_compact_search", "vec_id % 11 <> 5") {
      // clone of the append row's (write + append) base — identical
      // rows, see annAppendStore — plus THIS row's tail: the replayed
      // append (the crash shape) and the compaction under test
      (s, d) => maintStoreFrom(s, d, "graft_ann_index_cmp") {
        dir =>
          val slice = corpusSet(s, d)
            .filter(pmod(col("vec_id"), lit(11)) === 5)
          graft.sources.AnnIndex.append(s, dir, slice) // crash replay
          graft.sources.AnnIndex.compact(s, dir)
      }
    }

  // D9's REBUILD path through the driver gate: write on ~91%, append
  // the rest, then a declared quantizer rebuild — retrain on the
  // CURRENT (replay-deduplicated) content and re-route every vector.
  // The oracle is the FULL-corpus training oracle (the ann_index_search
  // row's): a hash match proves rebuild ≡ a fresh write() of the
  // deduplicated corpus — the family-wide rebuild contract, here
  // end-to-end through the persisted store.
  private val annIndexRebuildSearch =
    annIndexRow("ann_index_rebuild_search", "TRUE") {
      // clone of the append row's (write + append) base — identical
      // rows, see annAppendStore — plus the declared rebuild under test
      (s, d) => maintStoreFrom(s, d, "graft_ann_index_rb") {
        dir =>
          graft.sources.AnnIndex.rebuild(s, dir, k = kmK, iters = kmIters)
      }
    }

  // D7 — int8 symmetric quantization of the embedding column: the
  // standard 4x memory/bandwidth cut for the vector working set before
  // it feeds ANN (a 100 TB float corpus becomes 25 TB of int8 + one
  // scale per vector; IVF probe scans and dot products run on int8 and
  // only survivors are re-ranked in float). A pure per-row projection —
  // no shuffle, I/O-bound at any scale. Cross-engine determinism: the
  // parquet floats cast to double exactly in both engines, the scale
  // 127/amax is one IEEE division, and rounding is floor(x*scale + 0.5)
  // (explicit half-up — Spark round() and DuckDB round() disagree on
  // tie direction for negatives, floor+0.5 cannot). The md5 over the
  // quantized codes proves byte-identical quantization end-to-end;
  // q_l1/q_max/q_min are exact integer summaries.
  private[graft] def quantizeOver(embs: DataFrame): DataFrame =
    int8Coded(normed(embs))
      .select(
        col("vec_id"),
        col("amax"),
        md5(array_join(transform(col("q"), v => v.cast(StringType)), ","))
          .as("q_md5"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + abs(v)).as("q_l1"),
        array_max(col("q")).as("q_max"),
        array_min(col("q")).as("q_min"))
      .orderBy(col("vec_id"))

  /** int8 symmetric codes of a normed frame's `v`: rows with a nonzero
    * vector gain `amax` = max |x| and `q` = the codes
    * clamp(floor(x · 127/amax + 0.5), ±127) as bigints — the one code
    * spelling under D7's md5 pin and D8's code-space search.
    */
  private def int8Coded(n: DataFrame): DataFrame =
    n.withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .filter(col("amax") > 0)
      .withColumn("q", transform(col("v"), x =>
        greatest(lit(-127L), least(lit(127L),
          floor(x * (lit(127.0) / col("amax")) + 0.5)))))

  // D8 — ANN over the quantized codes: the search loop D7's compression
  // exists for. Candidate generation runs ENTIRELY on int8 codes (the
  // 4x-smaller working set is all a 100 TB scan touches: code•code dot
  // products are exact-integer-in-double, so the approximate cosine is
  // bit-identical cross-engine), a bounded TopKPerKey keeps 4k
  // candidates per query, and only those ~4k rows are re-ranked with
  // the exact float cosine. The candidate pool is measured at 100%
  // recall@k on the test corpus (AnnPackSpec pins >= 90%); the same
  // two-stage shape is how a quantized corpus trades 4x scan bandwidth
  // for one extra bounded re-rank stage at any scale.
  private val quantCandK = 4 * K

  private[graft] def quantizedCodes(embs: DataFrame): DataFrame =
    int8Coded(normed(embs, "label"))
      // codes as exact small integers carried in doubles: the native
      // DotProduct/L2Norm kernels then compute EXACT integer sums
      // (|q|<=127, 64 dims => far inside the 2^53 exact-integer range)
      .withColumn("q", col("q").cast(ArrayType(DoubleType)))
      .withColumn("ql2", Vectors.norm(col("q")))

  private val annQuantized = GraftQuery(
    "ann_quantized",
    (s, d) => {
      val base = quantizedCodes(Tables.embeddings(s, d))
      val qs = base.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("q").as("qq"), col("ql2").as("qql2"))
      val c = base.filter(!isQuery)
      val pairs = c.join(broadcast(qs))
        .withColumn("cos_q",
          Vectors.cosine(col("qq"), col("q"), col("qql2"), col("ql2")))
        .select(col("query_id"), col("vec_id"), col("cos_q"),
          col("qv"), col("qn"), col("v"), col("nrm"))
      val cands = graft.plans.TopKPerKey(pairs,
        keys = Seq(col("query_id")),
        order = Seq(col("cos_q").desc, col("vec_id")),
        k = quantCandK)
      val exact = cands
        .withColumn("cos_sim",
          Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .select(col("query_id"), col("vec_id"), col("cos_q"),
          col("cos_sim"))
      topKPerQuery(exact, K, Seq("cos_q"))
        .select(col("query_id"), col("rank"), col("vec_id"),
          col("cos_q"), col("cos_sim"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH $vecsSql,
      a AS (SELECT vec_id, label, v, nrm,
          list_max(list_transform(v, x -> abs(x))) AS amax FROM n),
      z AS (SELECT vec_id, label, v, nrm,
          list_transform(v, x -> CAST(greatest(CAST(-127 AS BIGINT),
            least(CAST(127 AS BIGINT),
              CAST(floor(x * (127.0/amax) + 0.5) AS BIGINT)))
            AS DOUBLE)) AS q
        FROM a WHERE amax > 0),
      zz AS (SELECT *, ${Vectors.sql.norm("q")} AS ql2 FROM z),
      qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
            q AS qq, ql2 AS qql2 FROM zz WHERE vec_id % 50 = 0),
      c AS (SELECT * FROM zz WHERE vec_id % 50 <> 0),
      pr AS (SELECT qs.query_id, c.vec_id,
          round(${Vectors.sql.dot("qs.qq", "c.q")} / (qs.qql2 * c.ql2), 6)
            AS cos_q,
          round(${Vectors.sql.dot("qs.qv", "c.v")} / (qs.qn * c.nrm), 6)
            AS cos_sim
        FROM c CROSS JOIN qs),
      cand AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_q DESC, vec_id) AS crank FROM pr),
      r AS (SELECT query_id, vec_id, cos_q, cos_sim,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, vec_id) AS rank
        FROM cand WHERE crank <= $quantCandK)
      SELECT query_id, rank, vec_id, cos_q, cos_sim
      FROM r WHERE rank <= $K ORDER BY query_id, rank
      """))

  private val embeddingQuantize = GraftQuery(
    "embedding_quantize",
    (s, d) => quantizeOver(Tables.embeddings(s, d)),
    Some("""
      WITH e AS (
        SELECT vec_id,
          list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        FROM embeddings),
      a AS (
        SELECT vec_id, x,
          list_max(list_transform(x, v -> abs(v))) AS amax
        FROM e),
      q AS (
        SELECT vec_id, amax,
          list_transform(x, v -> greatest(CAST(-127 AS BIGINT),
            least(CAST(127 AS BIGINT),
              CAST(floor(v * (127.0/amax) + 0.5) AS BIGINT)))) AS q
        FROM a WHERE amax > 0)
      SELECT vec_id, amax,
        md5(list_aggregate(list_transform(q, v -> CAST(v AS VARCHAR)),
          'string_agg', ',')) AS q_md5,
        CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_l1,
        CAST(list_max(q) AS BIGINT) AS q_max,
        CAST(list_min(q) AS BIGINT) AS q_min
      FROM q ORDER BY vec_id
      """))

  // ---- D11: product quantization (pq_encode / ann_pq) ----
  // The missing third quantization/pruning technique next to IVF
  // (D4/D5/D9: prune WHICH vectors to read) and scalar int8 (D7/D8:
  // shrink every element): PQ shrinks every VECTOR to m sub-codes —
  // 64 floats (256 B) → 8 half-byte codes — by clustering each of m
  // subspaces independently, and scores candidates with a per-query
  // lookup table (ADC): approx_dot(q, x) = Σ_sub LUT[sub][code], one
  // add per subspace, no float vector touched until the re-rank.
  // Training is m INDEPENDENT k-means runs expressed as ONE grouped
  // plan (sub is just a grouping key — the D5 discipline per group:
  // hash-ordered seeds, two unrolled Lloyd rounds, exact-double argmin
  // with low-cid tiebreak, exact-decimal means), so the trained
  // codebooks, the codes AND the ADC scores all hash-match the
  // SQL-unrolled oracle. The ADC sums (8 doubles per pair) go through
  // DECIMAL so partition order cannot perturb them.
  // Scale: codebooks are m·ks tiny rows (broadcast); the code table is
  // the 32×-compressed corpus; the ADC pass is codes ⋈ broadcast(LUT)
  // + one map-side-combining sum per (query, vec); the float corpus is
  // touched only for the pqPool re-rank rows per query.
  private val pqM = 8
  private val pqSubDim = lshDim / pqM
  private val pqKs = 16
  private val pqIters = 2
  private val pqPool = 256

  /** (vec_id, sub, sv, ss): the m subvector slices of each vector. */
  private[graft] def pqSlices(n: DataFrame): DataFrame =
    n.select(col("vec_id"),
        explode(sequence(lit(0), lit(pqM - 1))).as("sub"), col("v"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * lit(pqSubDim) + lit(1),
          lit(pqSubDim)).as("sv"))
      .withColumn("ss", Vectors.dot(col("sv"), col("sv")))

  /** The PQ space: m independent subspace quantizers keyed by `sub`,
    * codes `cid` — the coarse quantizer's Lloyd step per group.
    */
  private val pqSpace = LloydSpace(Seq("sub"), "cid", "sv", "ss")

  /** Corpus codes against trained books: (vec_id, sub, cid). */
  private[graft] def pqCodesOf(subs: DataFrame, books: DataFrame): DataFrame =
    lloydAssign(subs, books, pqSpace)
      .select(col("vec_id"), col("sub"), col("cid"))

  /** m deterministic per-subspace codebooks (sub, cid, cv, cc): the
    * pqKs hash-first vectors of each subspace seed it (TopKPerKey
    * bounded heaps — one exchange, never a per-subspace sort), then
    * `pqIters` unrolled grouped Lloyd rounds.
    */
  private[graft] def pqCentroids(subs: DataFrame): DataFrame = {
    val top = graft.plans.TopKPerKey(
      subs.withColumn("hk", seedHash(col("vec_id"))),
      Seq(col("sub")), Seq(col("hk"), col("vec_id")), pqKs)
    val seeds = top.groupBy(col("sub"))
      .agg(array_sort(collect_list(
        struct(col("hk"), col("vec_id"), col("sv")))).as("a"))
      .select(col("sub"), posexplode(col("a")).as(Seq("cid", "e")))
      .select(col("sub"), col("cid").cast(IntegerType).as("cid"),
        col("e.sv").as("cv"))
      .withColumn("cc", Vectors.dot(col("cv"), col("cv")))
    lloyd(subs, seeds, pqIters, pqSpace)
  }

  /** Trained codebooks + corpus codes, shared by both PQ queries
    * (persisted — the train plan is two full passes and fans into the
    * encode and the ADC branches).
    */
  private def pqModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dim = Tables.embeddings(s, d)
      .select(size(col("embedding"))).head.getInt(0)
    require(dim == lshDim,
      s"PQ slicing is built for $lshDim-dim embeddings ($pqM × " +
        s"$pqSubDim); this corpus has $dim")
    val corpus = vecs(s, d).filter(!isQuery)
    val subs = pqSlices(corpus).persistTracked
    val cent = pqCentroids(subs).persistTracked
    (cent, pqCodesOf(subs, cent).persistTracked)
  }

  /** The shared SQL train: slices → grouped seeds → two grouped Lloyd
    * rounds (`cn2`) → final `codes`. Appended per-query tails turn it
    * into the encode or the search oracle. `trainPred` restricts the
    * TRAINING slice only — the final codes assign the FULL corpus
    * against the trained codebooks, which is exactly "write on the
    * restricted set, append the rest": appended vectors encode against
    * the FIXED books (the D9 append-gate construction).
    */
  private def pqTrainSql(trainPred: String): String = {
    def assign(cents: String, out: String, src: String): String =
      s"""a$out AS (SELECT s.vec_id, s.sub, s.sv, s.ss, c.cid,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
            s.ss + c.cc - 2.0 * ${Vectors.sql.dot("s.sv", "c.cv")}, c.cid)
            AS rn
        FROM $src s JOIN $cents c ON s.sub = c.sub),
      g$out AS (SELECT vec_id, sub, sv, ss, cid FROM a$out WHERE rn = 1),
      d$out AS (SELECT sub, cid, unnest(range(len(sv))) AS j, sv
                FROM g$out),
      m$out AS (SELECT sub, cid, j,
          CAST(SUM(CAST(sv[CAST(j AS INTEGER)+1] AS DECIMAL(28,12)))
            AS DOUBLE) / COUNT(*) AS c
        FROM d$out GROUP BY sub, cid, j),
      c$out AS (SELECT sub, cid, list(c ORDER BY j) AS cv
                FROM m$out GROUP BY sub, cid),
      cn$out AS (SELECT sub, cid, cv, ${Vectors.sql.dot("cv", "cv")} AS cc
                 FROM c$out)"""
    s"""$vecsSql,
      corpus AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 50 <> 0),
      slices AS (SELECT vec_id, CAST(sub AS INTEGER) AS sub,
          v[CAST(sub*$pqSubDim+1 AS INTEGER):
            CAST(sub*$pqSubDim+$pqSubDim AS INTEGER)] AS sv
        FROM (SELECT vec_id, v, unnest(range($pqM)) AS sub FROM corpus)),
      ss AS (SELECT vec_id, sub, sv, ${Vectors.sql.dot("sv", "sv")} AS ss
             FROM slices),
      sst AS (SELECT * FROM ss WHERE ($trainPred)),
      sd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sub
          ORDER BY $seedHashSql, vec_id) AS rn FROM sst),
      cn0 AS (SELECT sub, CAST(rn - 1 AS INTEGER) AS cid, sv AS cv,
          ${Vectors.sql.dot("sv", "sv")} AS cc
        FROM sd WHERE rn <= $pqKs),
      ${assign("cn0", "1", "sst")},
      ${assign("cn1", "2", "sst")},
      ${assign("cn2", "f", "ss")},
      codes AS (SELECT vec_id, sub, cid FROM gf)"""
  }

  // D11a — the quantization itself: every corpus vector's m sub-codes,
  // pinned cross-engine as one ordered code string (the D7 md5-pin
  // idea, readable form).
  private val pqEncode = GraftQuery(
    "pq_encode",
    (s, d) => {
      val (_, codes) = pqModel(s, d)
      codes.groupBy(col("vec_id"))
        .agg(concat_ws(",", transform(
          array_sort(collect_list(struct(col("sub"), col("cid")))),
          e => e.getField("cid").cast(StringType))).as("codes"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH ${pqTrainSql("TRUE")}
      SELECT vec_id,
        string_agg(CAST(cid AS VARCHAR), ',' ORDER BY sub) AS codes
      FROM codes GROUP BY vec_id ORDER BY vec_id
      """))

  /** (vec_id, code[pqM]): codes collapsed to ONE array row per vector
    * — a single map-side-combinable agg; on the store's vec_id-bucketed
    * codes table this plans with no exchange at all. `collect_set`
    * collapses byte-identical replay-duplicated rows.
    */
  private def pqCodeArr(codesRaw: DataFrame): DataFrame =
    codesRaw
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_set(struct(col("sub"), col("cid")))),
        e => e.getField("cid")).as("code"))
      // Contract guard (r9 advice): collect_set only collapses
      // byte-IDENTICAL replay rows. If a duplicate (vec_id, sub) ever
      // carried a different cid — e.g. a replay after a codebook
      // retrain — the array would grow past pqM and every later sub's
      // positional lookup would silently shift one slot. Fail LOUDLY
      // on a malformed store instead of returning wrong approx_cos.
      .filter(expr(s"IF(size(code) = $pqM, true, raise_error(concat(" +
        "'graft pq store malformed: size(code) != " + pqM +
        " for vec_id ', CAST(vec_id AS STRING))))"))

  /** Slot-indexed flat array: slot = sub·ks + cid. Slots no trained
    * centroid occupies stay null and are never indexed — codes only
    * ever reference centroids that exist.
    */
  private def pqFlatten(entries: Column, out: String): Column =
    transform(sequence(lit(0), lit(pqM * pqKs - 1)),
      i => element_at(entries, i)).as(out)

  /** One-row broadcastable frame carrying every centroid's norm² in a
    * flat slot-indexed `ccArr` — the reconstructed norm rides the code
    * row via this instead of a corpus-wide join.
    */
  private def pqCcRow(cent: DataFrame): DataFrame =
    cent.agg(map_from_entries(collect_list(struct(
        (col("sub") * lit(pqKs) + col("cid")).cast(IntegerType),
        col("cc")))).as("m"))
      .select(pqFlatten(col("m"), "ccArr"))

  /** Per-query flat ADC lookup table (query_id, lutArr, qn):
    * lutArr[sub·ks + cid] = ⟨q_sub, centroid⟩.
    */
  private def pqLutFlat(cent: DataFrame, q: DataFrame): DataFrame = {
    val qsubs = pqSlices(q.select(col("query_id").as("vec_id"),
        col("qv").as("v")))
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sv").as("qsv"))
    qsubs.join(broadcast(cent), Seq("sub"))
      .select(col("query_id"),
        (col("sub") * lit(pqKs) + col("cid")).cast(IntegerType).as("slot"),
        Vectors.dot(col("qsv"), col("cv")).as("pd"))
      .groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(
        struct(col("slot"), col("pd")))).as("m"))
      .select(col("query_id"), pqFlatten(col("m"), "lutArr"))
      .join(q.select(col("query_id"), col("qn")), Seq("query_id"))
  }

  /** Σ_sub arr[code[sub] + sub·ks] as an UNROLLED codegen'd chain of
    * exact decimal adds — fixed sub order, and decimal addition is
    * exact and associative, so the chain equals the oracle's any-order
    * decimal SUM bit-for-bit.
    */
  private def pqAdcSum(arr: Column): Column =
    (0 until pqM).map { sub =>
      element_at(arr,
        (col("code")(sub) + lit(sub * pqKs + 1)).cast(IntegerType))
        .cast(DecimalType(28, 12))
    }.reduce(_ + _).cast(DoubleType)

  /** (vec_id, code, rn2): one code array per vector with its
    * reconstructed norm² riding along via the broadcast cc-array.
    */
  private def pqCodeNorms(codesRaw: DataFrame, books: DataFrame): DataFrame =
    pqCodeArr(codesRaw)
      .crossJoin(broadcast(pqCcRow(books)))
      .withColumn("rn2", pqAdcSum(col("ccArr")))
      .drop("ccArr")

  /** ADC approx cosine of (query, vector) rows carrying the query's
    * LUT (lutArr, qn) and the vector's (code, rn2):
    * (query_id, vec_id, approx_cos).
    */
  private def pqScored(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("ad", pqAdcSum(col("lutArr")))
      .withColumn("approx_cos",
        round(col("ad") / (sqrt(col("rn2")) * col("qn")), 6))
      .select(col("query_id"), col("vec_id"), col("approx_cos"))

  /** The ADC-search tail shared by `ann_pq` and
    * [[graft.sources.PqStore.search]] (the persisted path must
    * reproduce the in-query scores bit-for-bit, so it runs the SAME
    * code): per-query LUT over the broadcast codebooks, decimal-routed
    * approx cosine from code lookups, bounded pool, exact re-rank.
    *
    * Shape (reworked r9 — the r8 spelling joined codes against the LUT
    * on (sub, cid) and hash-aggregated the n·q·m exploded rows, an
    * n·q-row SHUFFLE on the brute-force pair mass): codes collapse to
    * ONE array row per vector — `code[sub] = cid` — and each query's
    * LUT flattens to ONE slot-indexed array (`sub·ks + cid`), so the
    * ADC pass is a broadcast nested loop producing each (query, vec)
    * pair exactly once with its 8-term sum computed inline in fixed
    * sub order. Decimal addition is exact and associative, so the
    * ordered chain equals the oracle's any-order decimal SUM
    * bit-for-bit. No exchange remains between the code scan and the
    * bounded TopKPerKey pool (partial heaps prune map-side); the
    * reconstructed norm rides the same code row via the broadcast
    * cc-array, replacing the old n·q ⋈ n rnorm join.
    *
    * `codes` and `rerankVecs` may carry replay-duplicated rows —
    * `collect_set` collapses the byte-identical code rows, and the
    * re-rank dedupes (query, vec) pairs AFTER the pool join, where the
    * frame is pool-sized rather than corpus-sized.
    */
  private[graft] def pqAdcSearch(cent: DataFrame, codesRaw: DataFrame,
      rerankVecsRaw: DataFrame, q: DataFrame): DataFrame = {
    val scored = pqScored(pqCodeNorms(codesRaw, cent)
      .crossJoin(broadcast(pqLutFlat(cent, q))))
    val pool = graft.plans.TopKPerKey(scored,
      Seq(col("query_id")),
      Seq(col("approx_cos").desc, col("vec_id")), pqPool)
    val pairs = rerankVecsRaw
      .select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(pool
        .select(col("query_id"), col("vec_id"), col("approx_cos"))),
        "vec_id")
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id"))
      .withColumn("cos_sim",
        Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")))
      .select(col("query_id"), col("vec_id"), col("cos_sim"),
        col("approx_cos"))
      // replayed _vecs rows surface here as byte-identical pairs:
      // dedupe on the pool-sized frame, not the corpus-sized one
      .dropDuplicates("query_id", "vec_id")
    topKPerQuery(pairs, K, Seq("approx_cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  // D11b — ADC search: per-query LUT over the codebooks, approx cosine
  // from code lookups only (decimal-summed — partition-order-proof),
  // bounded pqPool candidate pool per query, exact float re-rank on
  // pool rows. The oracle replays the identical pipeline.
  private val annPq = GraftQuery(
    "ann_pq",
    (s, d) => {
      val (cent, codes) = pqModel(s, d)
      pqAdcSearch(cent, codes, vecs(s, d), queryVecs(s, d))
    },
    Some(pqSearchOracle("TRUE")))

  /** `ann_pq`'s full oracle, shared verbatim by the
    * [[graft.sources.PqStore]] registry rows (`pq_index_search` /
    * `pq_index_append_search`) — with a restricted `trainPred` the
    * codebooks train on a subset but still encode/score the full
    * corpus, which is exactly the store's write+append contract.
    */
  private def pqSearchOracle(trainPred: String): String = s"""
      WITH ${pqTrainSql(trainPred)},
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
            WHERE vec_id % 50 = 0),
      qs AS (SELECT query_id, CAST(sub AS INTEGER) AS sub,
          qv[CAST(sub*$pqSubDim+1 AS INTEGER):
             CAST(sub*$pqSubDim+$pqSubDim AS INTEGER)] AS qsv
        FROM (SELECT query_id, qv, unnest(range($pqM)) AS sub FROM q)),
      lut AS (SELECT qs.query_id, qs.sub, c.cid,
          ${Vectors.sql.dot("qs.qsv", "c.cv")} AS pd
        FROM qs JOIN cn2 c ON qs.sub = c.sub),
      rnorm AS (SELECT k.vec_id,
          CAST(SUM(CAST(c.cc AS DECIMAL(28,12))) AS DOUBLE) AS rn2
        FROM codes k JOIN cn2 c ON k.sub = c.sub AND k.cid = c.cid
        GROUP BY k.vec_id),
      adc AS (SELECT l.query_id, k.vec_id,
          CAST(SUM(CAST(l.pd AS DECIMAL(28,12))) AS DOUBLE) AS ad
        FROM codes k JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
        GROUP BY l.query_id, k.vec_id),
      sc AS (SELECT a.query_id, a.vec_id,
          round(a.ad / (sqrt(r.rn2) * q.qn), 6) AS approx_cos
        FROM adc a JOIN rnorm r ON a.vec_id = r.vec_id
        JOIN q ON a.query_id = q.query_id),
      pool AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY approx_cos DESC, vec_id) AS pr FROM sc),
      rr AS (SELECT p.query_id, p.vec_id, p.approx_cos,
          round(${Vectors.sql.dot("q.qv", "c.v")} / (q.qn * c.nrm), 6)
            AS cos_sim
        FROM pool p
        JOIN corpus c ON p.vec_id = c.vec_id
        JOIN q ON p.query_id = q.query_id
        WHERE p.pr <= $pqPool),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, vec_id) AS rank FROM rr)
      SELECT query_id, rank, vec_id, cos_sim, approx_cos
      FROM r WHERE rank <= $K ORDER BY query_id, rank
      """

  // ---- D13: ann_ivfpq — the composed production index shape ----
  // IVF pruning × PQ compression, the FAISS-IVFPQ read pattern: the
  // coarse quantizer (D5's oracle-verified k-means, shared frames)
  // prunes WHICH vectors are candidates (nprobe/k of the corpus), the
  // PQ codes (D11's oracle-verified codebooks, shared frames) shrink
  // WHAT is read per candidate (32×), and only the bounded pool
  // touches float vectors. At 100 TB the scan is nprobe/k × 1/32 of
  // the corpus bytes per query batch — the two savings multiply.
  // (Codes are over raw vectors, not per-cell residuals: residual
  // coding would couple the two quantizers' training and buy accuracy
  // this corpus cannot measure; the composition of the two
  // INDEPENDENTLY-verified quantizers is the point here.)
  private val ivfpqPool = 64

  private val annIvfPq = GraftQuery(
    "ann_ivfpq",
    (s, d) => {
      val (books, codes) = pqModel(s, d)
      val n = vecs(s, d)
      val corpus = kmCorpus(n.filter(!isQuery))
      val cent = kmCentroids(corpus).persistTracked
      val cellmap = kmAssign(corpus, cent)
        .select(col("vec_id"), col("cell"))
      val q = queryVecs(s, d)
      val probed = kmProbe(q, cent)
      val cand = cellmap
        .join(broadcast(probed.select(col("query_id"), col("cell"))),
          Seq("cell"))
        .select(col("query_id"), col("vec_id"))
      // the r9 flat-ADC shape shared with pqAdcSearch: candidates join
      // ONE array row per vector (rn2 riding along via the broadcast
      // cc-array), the per-query LUT broadcasts as a flat array, and
      // the 8-term sum unrolls inline — the r8 (sub,cid) join +
      // cand·m hash-agg shuffle is gone here too
      val scored = pqScored(cand
        .join(pqCodeNorms(codes, books), Seq("vec_id"))
        .join(broadcast(pqLutFlat(books, q)), Seq("query_id")))
      val pool = graft.plans.TopKPerKey(scored,
        Seq(col("query_id")),
        Seq(col("approx_cos").desc, col("vec_id")), ivfpqPool)
      val pairs = pool
        .select(col("query_id"), col("vec_id"), col("approx_cos"))
        .join(n.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
        .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
          Seq("query_id"))
        .withColumn("cos_sim",
          Vectors.cosine(col("qv"), col("v"), col("qn"), col("nrm")))
        .select(col("query_id"), col("vec_id"), col("cos_sim"),
          col("approx_cos"))
      topKPerQuery(pairs, K, Seq("approx_cos"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      def kmRound(cents: String, out: String): String =
        s"""ks$out AS (SELECT c.vec_id, c.v, s.cell,
            ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
              c.vv + s.cc - 2.0 * ${Vectors.sql.dot("c.v", "s.cv")},
              s.cell) AS rn
          FROM corpusk c CROSS JOIN $cents s),
        kg$out AS (SELECT vec_id, v, cell FROM ks$out WHERE rn = 1),
        kd$out AS (SELECT cell, unnest(range(len(v))) AS j, v
                   FROM kg$out),
        km$out AS (SELECT cell, j,
            CAST(SUM(CAST(v[CAST(j AS INTEGER)+1] AS DECIMAL(28,12)))
              AS DOUBLE) / COUNT(*) AS c
          FROM kd$out GROUP BY cell, j),
        kc$out AS (SELECT cell, list(c ORDER BY j) AS cv
                   FROM km$out GROUP BY cell),
        kcn$out AS (SELECT cell, cv, ${Vectors.sql.dot("cv", "cv")} AS cc
                    FROM kc$out)"""
      s"""
      WITH ${pqTrainSql("TRUE")},
      corpusk AS (SELECT vec_id, v, nrm,
          ${Vectors.sql.dot("v", "v")} AS vv FROM corpus),
      kseeds AS (SELECT vec_id AS cell, v AS cv,
          ${Vectors.sql.dot("v", "v")} AS cc
        FROM corpusk ORDER BY $seedHashSql, vec_id LIMIT $kmK),
      ${kmRound("kseeds", "1")},
      ${kmRound("kcn1", "2")},
      kassign AS (SELECT c.vec_id, s.cell,
          ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
            c.vv + s.cc - 2.0 * ${Vectors.sql.dot("c.v", "s.cv")}, s.cell)
            AS rn
        FROM corpusk c CROSS JOIN kcn2 s),
      klists AS (SELECT vec_id, cell FROM kassign WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
          ${Vectors.sql.dot("v", "v")} AS qq
        FROM n WHERE vec_id % 50 = 0),
      kpr AS (SELECT z.query_id, s.cell,
          ROW_NUMBER() OVER (PARTITION BY z.query_id ORDER BY
            z.qq + s.cc - 2.0 * ${Vectors.sql.dot("z.qv", "s.cv")}, s.cell)
            AS pr
        FROM q z CROSS JOIN kcn2 s),
      kprobe AS (SELECT query_id, cell FROM kpr WHERE pr <= $nprobe),
      cand AS (SELECT p.query_id, l.vec_id
        FROM klists l JOIN kprobe p ON l.cell = p.cell),
      qs AS (SELECT query_id, CAST(sub AS INTEGER) AS sub,
          qv[CAST(sub*$pqSubDim+1 AS INTEGER):
             CAST(sub*$pqSubDim+$pqSubDim AS INTEGER)] AS qsv
        FROM (SELECT query_id, qv, unnest(range($pqM)) AS sub FROM q)),
      lut AS (SELECT qs.query_id, qs.sub, c.cid,
          ${Vectors.sql.dot("qs.qsv", "c.cv")} AS pd
        FROM qs JOIN cn2 c ON qs.sub = c.sub),
      rnorm AS (SELECT k.vec_id,
          CAST(SUM(CAST(c.cc AS DECIMAL(28,12))) AS DOUBLE) AS rn2
        FROM codes k JOIN cn2 c ON k.sub = c.sub AND k.cid = c.cid
        GROUP BY k.vec_id),
      adc AS (SELECT cd.query_id, cd.vec_id,
          CAST(SUM(CAST(l.pd AS DECIMAL(28,12))) AS DOUBLE) AS ad
        FROM cand cd
        JOIN codes k ON cd.vec_id = k.vec_id
        JOIN lut l ON l.query_id = cd.query_id
          AND l.sub = k.sub AND l.cid = k.cid
        GROUP BY cd.query_id, cd.vec_id),
      sc AS (SELECT a.query_id, a.vec_id,
          round(a.ad / (sqrt(r.rn2) * z.qn), 6) AS approx_cos
        FROM adc a JOIN rnorm r ON a.vec_id = r.vec_id
        JOIN q z ON a.query_id = z.query_id),
      pool AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY approx_cos DESC, vec_id) AS pr FROM sc),
      rr AS (SELECT p.query_id, p.vec_id, p.approx_cos,
          round(${Vectors.sql.dot("z.qv", "c.v")} / (z.qn * c.nrm), 6)
            AS cos_sim
        FROM pool p
        JOIN corpus c ON p.vec_id = c.vec_id
        JOIN q z ON p.query_id = z.query_id
        WHERE p.pr <= $ivfpqPool),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, vec_id) AS rank FROM rr)
      SELECT query_id, rank, vec_id, cos_sim, approx_cos
      FROM r WHERE rank <= $K ORDER BY query_id, rank
      """
    })

  /** Build (once per JVM × dataset × path-shape) the C14 gate's history
    * store: even vec_ids. `split = false` writes the whole history in
    * one build; `split = true` writes the vec_id % 4 == 0 slice and
    * APPENDS the % 4 == 2 slice — the probe result must be identical
    * either way, which is exactly the append contract the second gate
    * row proves.
    */
  private def embStore(s: SparkSession, d: String,
      split: Boolean): String =
    graft.Caches.store(s, d, "graft_emb_store_%s" + (if (split) "a" else ""))(
        embTables) { (base, dir) =>
      val hist = Tables.embeddings(s, d)
        .filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id"), col("label"), col("embedding"))
      if (!split)
        graft.sources.EmbedStore.write(hist, base, dir)
      else {
        graft.sources.EmbedStore.write(
          hist.filter(pmod(col("vec_id"), lit(4)) === 0), base, dir)
        graft.sources.EmbedStore.append(s, base,
          hist.filter(pmod(col("vec_id"), lit(4)) === 2))
      }
    }

  /** The catalog tables of an [[graft.sources.EmbedStore]] base. */
  private def embTables(base: String): Seq[String] =
    Seq("cells", "lists", "bands", "bbits").map(t => s"${base}_$t")

  private def oddBatch(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(2)) =!= 0)
      .select(col("vec_id"), col("label"), col("embedding"))

  /** The brute-force cross-parity oracle BOTH C14 gate rows must
    * hash-match: every (odd batch, even history) within-label pair at
    * cos ≥ τ, aggregated to the store's verdict row. The append gate
    * matching THIS SAME oracle is the proof that write+append ≡ one
    * build — candidate cells come from exact radius bounds (recall 1
    * regardless of which cell a vector routed to), and verdicts only
    * ever come from exact cosines.
    */
  private val embedIncOracle = s"""
      WITH $vecsSql,
      x AS (SELECT b.vec_id AS b_id, h.vec_id AS h_id,
          round(${Vectors.sql.dot("b.v", "h.v")} / (b.nrm * h.nrm), 6)
            AS cos_sim
        FROM n b JOIN n h ON b.label = h.label
        WHERE b.vec_id % 2 = 1 AND h.vec_id % 2 = 0),
      g AS (SELECT b_id, COUNT(*) AS cnt, MIN(h_id) AS hist,
          MAX(cos_sim) AS best
        FROM x WHERE cos_sim >= $nearDupTau GROUP BY b_id)
      SELECT v.vec_id,
        CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n_hist_matches,
        CAST(COALESCE(g.hist, -1) AS BIGINT) AS hist_canonical,
        COALESCE(g.best, 0.0) AS best_cos
      FROM (SELECT vec_id FROM n WHERE vec_id % 2 = 1) v
      LEFT JOIN g ON v.vec_id = g.b_id
      ORDER BY v.vec_id
      """

  // C14 — incremental embedding near-dup against the persisted
  // EmbedStore (the semantic leg of the incremental-store family): odd
  // vec_ids probe a store built from the even history.
  private val dedupIncEmbed = GraftQuery(
    "dedup_incremental_embedding",
    (s, d) => graft.sources.EmbedStore.dedupAgainst(
        s, embStore(s, d, split = false), oddBatch(s, d))
      .orderBy(col("vec_id")),
    Some(embedIncOracle))

  // C14's APPEND path through the driver gate: build on a quarter of
  // the corpus, append the other even quarter (radius-first cells
  // rewrite + bucket-aligned lists append), then probe — hash-matching
  // the SAME one-build oracle proves appended vectors are found exactly
  // as if they had been present at build time.
  private val dedupIncEmbedAppend = GraftQuery(
    "dedup_incremental_embedding_append",
    (s, d) => graft.sources.EmbedStore.dedupAgainst(
        s, embStore(s, d, split = true), oddBatch(s, d))
      .orderBy(col("vec_id")),
    Some(embedIncOracle))

  /** The C14b oracle: the banding MIRRORED cross-parity (the D6b/F7b
    * discipline) — signatures for everything, bits FROZEN from the
    * per-label EVEN (history) counts exactly as the store's write
    * froze them, index side = even ids at the capped smallest per
    * (label, band, key), probe side = odd ids multi-probing the exact
    * key plus every single-bit flip, distinct pairs, exact cosine at
    * τ, the C14 verdict row. Deterministic planes + integer ladder ⇒
    * a full hash match; batch labels the history never saw drop at the
    * bits join and re-attach as sentinels, as in the engine.
    */
  private val embedIncBandedOracle: String = {
    val Geometry(_, _, _, numBands, maxBits, _, cap) = Geometry()
    s"""
      WITH $vecsSql,
      p AS (${Vectors.sql.planes(numBands * maxBits, lshDim)}),
      sb AS (SELECT n.vec_id, n.label,
          CASE WHEN ${Vectors.sql.dot("n.v", "p.pw")} > 0
               THEN '1' ELSE '0' END AS bit, p.p
        FROM n CROSS JOIN p),
      sig AS (SELECT vec_id, label, string_agg(bit, '' ORDER BY p)
            AS sigbits
        FROM sb GROUP BY 1, 2),
      fb AS (SELECT label, ${bandBitsSql("COUNT(*)")} AS bits
        FROM n WHERE vec_id % 2 = 0 GROUP BY 1),
      hk AS (SELECT s.vec_id AS h_id, s.label, f.bits,
          unnest(range($numBands)) AS band, s.sigbits
        FROM sig s JOIN fb f ON s.label = f.label
        WHERE s.vec_id % 2 = 0),
      hidx AS (SELECT h_id, label, band,
          substr(sigbits, CAST(band * $maxBits + 1 AS INTEGER),
            CAST(bits AS INTEGER)) AS key
        FROM hk
        QUALIFY ROW_NUMBER() OVER (PARTITION BY label, band, key
          ORDER BY h_id) <= $cap),
      bk AS (SELECT s.vec_id, s.label, f.bits,
          unnest(range($numBands)) AS band, s.sigbits
        FROM sig s JOIN fb f ON s.label = f.label
        WHERE s.vec_id % 2 = 1),
      bp0 AS (SELECT vec_id, label, band, bits,
          substr(sigbits, CAST(band * $maxBits + 1 AS INTEGER),
            CAST(bits AS INTEGER)) AS key0,
          unnest(range(bits + 1)) AS f
        FROM bk),
      bp AS (SELECT vec_id, label, band,
          CASE WHEN f = 0 THEN key0
               ELSE substr(key0, 1, CAST(f - 1 AS INTEGER)) ||
                 (CASE WHEN substr(key0, CAST(f AS INTEGER), 1) = '1'
                       THEN '0' ELSE '1' END) ||
                 substr(key0, CAST(f + 1 AS INTEGER), $maxBits)
          END AS key
        FROM bp0),
      cand AS (SELECT DISTINCT a.vec_id AS b_id, b.h_id
        FROM bp a JOIN hidx b ON a.label = b.label AND a.band = b.band
          AND a.key = b.key),
      x AS (SELECT c.b_id, c.h_id,
          round(${Vectors.sql.dot("x.v", "y.v")} / (x.nrm * y.nrm), 6)
            AS cos_sim
        FROM cand c
        JOIN n x ON c.b_id = x.vec_id
        JOIN n y ON c.h_id = y.vec_id),
      g AS (SELECT b_id, COUNT(*) AS cnt, MIN(h_id) AS hist,
          MAX(cos_sim) AS best
        FROM x WHERE cos_sim >= $nearDupTau GROUP BY b_id)
      SELECT v.vec_id,
        CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n_hist_matches,
        CAST(COALESCE(g.hist, -1) AS BIGINT) AS hist_canonical,
        COALESCE(g.best, 0.0) AS best_cos
      FROM (SELECT vec_id FROM n WHERE vec_id % 2 = 1) v
      LEFT JOIN g ON v.vec_id = g.b_id
      ORDER BY v.vec_id
      """
  }

  // C14b — the banded leg of the persisted embedding store (r13,
  // closing the r12 verdict's top task): the SAME odd-batch probe as
  // C14, but candidates come from the store's persisted band keys —
  // candidate mass bounded bands·(bits+1)·cap per batch vector BY
  // CONSTRUCTION against any history, where the exact cell leg's mass
  // is data-dependent (measured 63.4× at 8× on unstructured vectors).
  // Shares C14's one store build; the oracle mirrors the banding, so
  // the gate is a full hash match while recall vs the exact leg stays
  // the LSH contract (banded verdicts ⊆ C14's — spec-pinned).
  private val dedupIncEmbedBanded = GraftQuery(
    "dedup_incremental_embedding_banded",
    (s, d) => graft.sources.EmbedStore.bandedDedupAgainst(
        s, embStore(s, d, split = false), oddBatch(s, d))
      .orderBy(col("vec_id")),
    Some(embedIncBandedOracle))

  /** Build (once per JVM × dataset) the C14c AUTO-gate store: the C14
    * history, but written at [[allContGeometry]], which the store
    * freezes, so the cont flag is deterministic at EVERY scale factor —
    * clamp shrunk to cellSize·maxCells = 8 (every sf's label blocks
    * count as mega) and orphanMaxFrac = -1 (any measured fraction
    * exceeds it), so every label freezes `cont = true` and the probe routes
    * the whole batch through the banded leg: the one routing outcome
    * an oracle can mirror without reimplementing the cell build in
    * SQL. Sound at any geometry: the exact leg's recall-1 bound never
    * depended on cell shape, and the banded bits freeze off label
    * counts + DEFAULT band geometry exactly as the shared store's, so
    * [[embedIncBandedOracle]] holds verbatim. The MIXED per-label
    * routing — a function of measured clusteredness — is spec-pinned
    * instead (EmbedStoreSpec r14/r15, StreamingIngestSpec r15); the
    * gate's value is the cont FREEZE, the `_bbits` routing read and
    * the banded probe running at sf1 width every round.
    */
  private def embStoreAuto(s: SparkSession, d: String): String =
    graft.Caches.store(s, d, "graft_emb_store_%sc")(embTables) { (base, dir) =>
      val hist = Tables.embeddings(s, d)
        .filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id"), col("label"), col("embedding"))
      graft.sources.EmbedStore.write(hist, base, dir,
        geometry = allContGeometry)
    }

  // C14c — the AUTO-dispatched probe of the persisted embedding store
  // (r15, closing the r14 verdict's task 7): same odd-batch probe, but
  // routed per label off the cont flags the build FROZE into _bbits
  // (pinned all-banded — see embStoreAuto on why that is the
  // oracle-mirrorable outcome). Runs in the repeatable sf1 gate subset
  // alongside the banded row, so the self-driving routing machinery
  // gets recurring ≥sf1 coverage.
  private val dedupIncEmbedAuto = GraftQuery(
    "dedup_incremental_embedding_auto",
    (s, d) => graft.sources.EmbedStore.dedupAgainstAuto(s,
        embStoreAuto(s, d), oddBatch(s, d)).orderBy(col("vec_id")),
    Some(embedIncBandedOracle))

  /** Build (once per JVM × dataset × path-shape) the D12 gate's PQ
    * store over the corpus slice; `split = true` trains/writes on the
    * vec_id % 11 <> 5 subset and APPENDS the rest (encoded against the
    * FIXED books) — the D9 append-gate construction.
    */
  private def pqStore(s: SparkSession, d: String,
      split: Boolean): String =
    graft.Caches.store(s, d, "graft_pq_store_%s" + (if (split) "a" else ""))(
        b => Seq("books", "codes", "vecs").map(b + "_" + _)) { (base, dir) =>
      val corpus = corpusSet(s, d)
      if (!split)
        graft.sources.PqStore.write(corpus, base, dir)
      else {
        graft.sources.PqStore.write(
          corpus.filter(pmod(col("vec_id"), lit(11)) =!= 5), base, dir)
        graft.sources.PqStore.append(s, base,
          corpus.filter(pmod(col("vec_id"), lit(11)) === 5))
      }
    }

  /** A D12 gate row: search the [[pqStore]] of this `split` with the
    * query slice; the oracle is ann_pq's, trained on `trainPred`.
    */
  private def pqIndexRow(name: String, split: Boolean,
      trainPred: String): GraftQuery =
    GraftQuery(name,
      (s, d) => graft.sources.PqStore.search(
        s, pqStore(s, d, split), querySet(s, d)),
      Some(pqSearchOracle(trainPred)))

  // D12 — the persisted PQ index through the driver gate: build the
  // store, search the parquet codes — must hash-match ann_pq's oracle
  // VERBATIM (same codebooks, same codes, same ADC arithmetic).
  private val pqIndexSearch =
    pqIndexRow("pq_index_search", split = false, "TRUE")

  // D12's APPEND path: train+write on ~91% of the corpus, append the
  // held-out slice encoded against the fixed books, search — the
  // oracle trains on the same reduced set but encodes/scores the FULL
  // corpus, so the hash match proves appended vectors are searchable
  // exactly as if encoded at build time.
  private val pqIndexAppendSearch =
    pqIndexRow("pq_index_append_search", split = true, "vec_id % 11 <> 5")

  override val queries: Seq[GraftQuery] =
    Seq(annBrute, annLsh, knnJoin, dedupEmbedding, annIvf, annIvfKmeans,
      annRange, annRangeBanded, embeddingQuantize, annQuantized,
      annIndexSearch,
      annIndexAppendSearch, annIndexCompactSearch, annIndexRebuildSearch,
      dedupIncEmbed, dedupIncEmbedAppend,
      dedupIncEmbedBanded, dedupIncEmbedAuto,
      pqEncode, annPq, pqIndexSearch, pqIndexAppendSearch, annIvfPq,
      docTopics)

  /** Cross-query shared working sets (see [[graft.QueryPack.warm]]):
    * the (label, cell) inverted lists feed D3/C5/D6 + C10's rangePairs,
    * and the exact-bound candidate pairs feed D3/C5.
    */
  override def warm: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      "ann_label_cells" -> ((s, d) => labelCells(s, d)._2),
      "ann_cand_pairs" -> ((s, d) => labelCandPairs(s, d)),
      // the PQ train (grouped k-means) + corpus codes feed pq_encode,
      // ann_pq AND the PqStore gate builds — one cross-query build
      "ann_pq_codes" -> ((s, d) => pqModel(s, d)._2))
}
