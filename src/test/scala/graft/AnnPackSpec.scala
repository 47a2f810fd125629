package graft

import graft.functions.Vectors
import org.apache.spark.sql.functions._

class AnnPackSpec extends GraftSpec {

  test("dot/norm fold matches a JVM-side sequential fold") {
    import spark.implicits._
    val a = Array(0.5f, -0.25f, 2.0f)
    val b = Array(1.0f, 4.0f, -0.5f)
    val got = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
      .select(Vectors.dot(Vectors.toDouble(col("a")),
        Vectors.toDouble(col("b"))).as("d"),
        Vectors.norm(Vectors.toDouble(col("a"))).as("n"))
      .collect().head
    val dotRef = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
      acc + x.toDouble * y.toDouble }
    val normRef = math.sqrt(a.foldLeft(0.0)((acc, x) =>
      acc + x.toDouble * x.toDouble))
    assert(got.getDouble(0) == dotRef && got.getDouble(1) == normRef)
  }

  test("planeWeights are deterministic and in [-1, 1]") {
    val p1 = Vectors.planeWeights(4, 8)
    val p2 = Vectors.planeWeights(4, 8)
    assert(p1.flatten.toSeq == p2.flatten.toSeq)
    assert(p1.flatten.forall(w => w >= -1.0 && w <= 1.0))
    assert(p1.flatten.distinct.length > 1)
  }

  test("ann_brute: ranks are 1..k, cosine non-increasing per query") {
    val rows = SparkEntry.queries("ann_brute")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to byRank.length))
      val cs = byRank.map(r => r.getDouble(r.fieldIndex("cos_sim"))).toSeq
      assert(cs == cs.sorted.reverse)
    }
  }

  test("ann_lsh results are a subset-quality approximation of brute") {
    val brute = SparkEntry.queries("ann_brute")(spark, sfDir)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("cos_sim"))).toMap
    val lsh = SparkEntry.queries("ann_lsh")(spark, sfDir)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("cos_sim"))).toMap
    // LSH top-1 can never beat brute-force top-1
    lsh.foreach { case (q, c) =>
      assert(brute.contains(q) && c <= brute(q) + 1e-9)
    }
  }

  test("knn_join respects label blocking") {
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    SparkEntry.queries("knn_join")(spark, sfDir).collect().foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(r.fieldIndex("nn_id"))))
    }
  }

  test("dedup_embedding returns exactly one row per vector") {
    val df = SparkEntry.queries("dedup_embedding")(spark, sfDir)
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(df.count() == n)
    assert(df.select("vec_id").distinct().count() == n)
  }

  test("IVF cell count derives from label block size (the knob turns)") {
    val (_, lists) = operators.AnnPack.labelCells(spark, sfDir)
    val got = lists.groupBy(col("label"))
      .agg(countDistinct(col("cell")).as("cells"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (lbl, cells, n) =>
      // every test-corpus block fits one level-1 parent, where the
      // hierarchical build degenerates to the single-level structure
      // bit-for-bit — the scalar mirror is exact
      assert(operators.AnnPack.l1CellsForBlock(n) == 1,
        s"label $lbl: block of $n rows no longer fits one parent — " +
          "update this test's mirror for the multi-parent split")
      val want = operators.AnnPack.cellsForBlock(n)
      assert(cells == want,
        s"label $lbl: block of $n rows should get $want cells, got $cells")
    }
    // blocks of different sizes in the test data get different cell
    // counts — the knob is not a constant
    assert(got.map(_._2).distinct.length > 1,
      s"expected ≥2 distinct per-label cell counts, got ${got.toSeq}")
  }

  /** Deterministic planted clustered corpus for the hierarchy tests:
    * `n` vectors in 64 dims, tight clusters of `clusterSize` (default
    * 20; fixed similarity structure — the cluster size does not grow
    * with n), signed hash-derived centers so cross-cluster angles
    * spread wide.
    */
  private def plantedClusters(n: Int,
      clusterSize: Int = 20): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dim = 64
    val rows = (0 until n).map { i =>
      val cluster = i / clusterSize
      val h0 = cluster.toLong * 2654435761L + 1442695040888963407L
      val raw = (0 until dim).map(j =>
        (((h0 * (j * 6364136223846793005L + 1442695040888963407L))
          >>> 40) & 0xffL).toDouble - 127.5)
      val cn = math.sqrt(raw.map(x => x * x).sum)
      val c = raw.map(_ / cn)
      val h1 = i.toLong * 40503L + 7L
      val v = (0 until dim).map(j => c(j) +
        ((((h1 * (j * 2862933555777941757L + 3037000493L)) >>> 40)
          & 0xffL).toDouble - 127.5) / 127.5 * 0.02)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, 0, v, nrm)
    }
    rows.toDF("vec_id", "label", "v", "nrm")
  }

  test("hierarchical cells: leaf size stays ≈targetCellSize past the " +
      "old single-level clamp") {
    // r17: trimmed 30000 → 9000 (still > l1Slack·tcs·mc = 6144, so the
    // multi-parent path and every assertion below are unchanged; the
    // 30k corpus made this the suite's slowest test — 2.5 min of the
    // driver's verify budget for no extra assertion strength)
    val n = 9000 // > l1Slack·targetCellSize·maxCells = 6144 → multi-parent
    val ci = operators.AnnPack.cellIndexOf(plantedClusters(n).repartition(8))
    val sizes = ci.lists.groupBy(col("label"), col("cell"))
      .agg(count(lit(1)).as("m")).collect().map(_.getAs[Long]("m"))
    assert(ci.cent1R.isDefined,
      "a multi-parent block must take the hierarchical path")
    val parents = ci.cent1R.get.select(col("c1")).distinct().count()
    assert(parents == operators.AnnPack.l1CellsForBlock(n.toLong),
      s"expected ${operators.AnnPack.l1CellsForBlock(n.toLong)} " +
        s"level-1 parents for a block of $n, got $parents")
    // the old clamp stopped at 64 cells (mean membership n/64 = 62 and
    // growing); the hierarchy keeps splitting
    assert(sizes.length > 64,
      s"only ${sizes.length} leaves for a block of $n — the clamp is back")
    Caches.releaseAll(blocking = true)
  }

  test("exact per-vector candidate mass stays bounded on planted " +
      "clusters at both the refined band and the multi-parent scale") {
    // the r12 measurement that motivated the banded path: the
    // multi-parent build orphaned natural clusters across leaf
    // boundaries (slack-starved leaf count + one quantization round),
    // the orphaned leaves' radii ballooned, and the UB stopped pruning
    // them — 127× mass at 8× (≈6,100 candidates/vector) before the r13
    // fixes; the unslacked parents + leaf Lloyd rounds + orphan reseed
    // brought the multi-parent corpus to ≈400/vector. Routing the
    // slack band through the same leaf machinery (the r13 residual-(a)
    // close) then dropped the 3,000-vector corpus from ≈385/vector to
    // ≈25/vector (76,440 total — near the ~87k true-pair mass), which
    // is why the assertions are PER-VECTOR, not a cross-scale ratio: a
    // fixed cluster size means cluster-pair density (how many OTHER
    // clusters sit within the τ=0.75 bound's reach in 64 dims) grows
    // with n, so the scales are not ratio-comparable once each one is
    // individually near-optimal.
    def mass(n: Int): Long = {
      val c = operators.AnnPack.rangeCandidatesOf(
        plantedClusters(n, clusterSize = 30).repartition(8), 0.75)
        .count()
      Caches.releaseAll(blocking = true)
      c
    }
    val m1 = mass(3000)  // slack band → refined single-level build
    // r17: multi-parent corpus trimmed 24000 → 12000 (still >
    // l1Slack·tcs·maxCells = 6144 → same path and assertions;
    // cluster-pair density GROWS with n, so the unchanged per-vector
    // bound is strictly tighter at the smaller n — the pre-fix
    // 6,100/vec pathology still trips it by an order of magnitude).
    // Cut for the driver verify budget (r16 verdict task 1).
    val m8 = mass(12000) // > l1Slack·tcs·maxCells = 6144 → multi-parent
    info(s"exact mass/vector: x1=${m1 / 3000.0} x8=${m8 / 12000.0} " +
      s"(x1=$m1 x8=$m8)")
    // measured 25.5/vec refined (headroom 2×) and 400/vec multi-parent
    // at 24k (headroom ~1.5×; pre-fix was 6,100/vec)
    assert(m1 <= 3000L * 52,
      s"refined-band candidate mass ${m1 / 3000.0}/vector — the slack " +
        s"band lost its leaf refinement; x1=$m1")
    assert(m8 <= 12000L * 600,
      s"multi-parent candidate mass ${m8 / 12000.0}/vector — the " +
        s"orphan fraction is back; x8=$m8")
  }

  test("slack-band blocks take the refined single-level build: flat " +
      "probe, orphan id block past maxCells, recall preserved") {
    val n = 3000 // tcs·mc = 1536 < n ≤ l1Slack·tcs·mc = 6144
    val frame = plantedClusters(n, clusterSize = 30).repartition(8)
    val ci = operators.AnnPack.cellIndexOf(frame)
    assert(ci.cent1R.isEmpty,
      "the refined band must keep the flat (no level-1 stage) probe")
    val cells = ci.centR.select(col("c_cell")).distinct().count()
    // the orphan reseed block lives above maxCells — co-housed planted
    // clusters get pulled out past the old 64-cell granularity clamp
    assert(cells > 64,
      s"only $cells leaves for a slack-band block of $n — the orphan " +
        "id block is not in play and granularity clamps at maxCells")
    val maxCell = ci.centR.agg(max(col("c_cell"))).head.getInt(0)
    assert(maxCell <= 128, s"leaf id $maxCell outside the one-parent " +
      "composite block (≤ 2·maxCells)")
    // every vector lands in exactly one leaf list
    assert(ci.lists.count() == n &&
      ci.lists.select("vec_id").distinct().count() == n)
    Caches.releaseAll(blocking = true)
  }

  test("the refined band's trigger keeps the one-round build on a " +
      "similarity continuum") {
    // clusterSize=1 → every vector is its own hash-random direction: an
    // isotropic continuum where nearly every member sits > orphanAngle
    // from its round-1 centroid (no minority of unseeded clusters to
    // isolate). The orphan-fraction trigger must SKIP the refinement —
    // structure stays the one-round build: no orphan id block past
    // maxCells, and exactly the formula cell count (sf0.1 media
    // measured frac 0.96 here, −3.4% mass for ~3× build wall when the
    // refinement ran unconditionally).
    val n = 3000
    val iso = plantedClusters(n, clusterSize = 1).repartition(8)
    val ci = operators.AnnPack.cellIndexOf(iso)
    assert(ci.cent1R.isEmpty)
    val maxCell = ci.centR.agg(max(col("c_cell"))).head.getInt(0)
    assert(maxCell <= 64,
      s"leaf id $maxCell past maxCells — the continuum trigger did " +
        "not skip the orphan reseed")
    val cells = ci.centR.select(col("c_cell")).distinct().count()
    assert(cells == operators.AnnPack.cellsForBlock(n.toLong),
      s"expected the one-round formula cell count for a skipped " +
        s"block, got $cells")
    assert(ci.lists.count() == n)
    Caches.releaseAll(blocking = true)
  }

  test("the refined band's trigger decides PER LABEL: a mixed corpus " +
      "refines its clustered label and skips its continuum label") {
    val n = 3000
    val clustered = plantedClusters(n, clusterSize = 30) // label 0
    val continuum = plantedClusters(n, clusterSize = 1)
      .withColumn("label", lit(1))
      .withColumn("vec_id", col("vec_id") + 100000L)
    val mixed = clustered.unionByName(continuum).repartition(8)
    val ci = operators.AnnPack.cellIndexOf(mixed)
    assert(ci.cent1R.isEmpty)
    val byLabel = ci.centR.groupBy(col("label"))
      .agg(max(col("c_cell")).as("m"),
        countDistinct(col("c_cell")).as("cells"))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2)))
      .toMap
    assert(byLabel(0)._1 > 64,
      s"clustered label kept only ${byLabel(0)._1} max cell id — it " +
        "inherited the continuum majority's skip")
    assert(byLabel(1)._1 <= 64 &&
      byLabel(1)._2 == operators.AnnPack.cellsForBlock(n.toLong),
      s"continuum label got ${byLabel(1)} — it inherited the " +
        "clustered label's refinement")
    assert(ci.lists.count() == 2L * n &&
      ci.lists.select("vec_id").distinct().count() == 2L * n)
    Caches.releaseAll(blocking = true)
  }

  test("banded range-candidate mass grows ~linearly in block size " +
      "(the r11 weak, closed by construction)") {
    // two scales spanning the old single-level cell clamp: the
    // measured r11 curve was 68.3× candidates at 8× data
    // (scale_msd_x8.json) because cells clamped. The banded engine's
    // bucket load stays ≈targetLoad (band width derives from the block
    // size), so random-collision mass per probe is ≈flat and total
    // mass ≈linear — on ANY data, clustered or isotropic.
    def mass(n: Int): Long = {
      val c = operators.AnnPack.bandedRangeCandidatesOf(
        plantedClusters(n).repartition(8), 64).count()
      Caches.releaseAll(blocking = true)
      c
    }
    val m1 = mass(3000)
    val m8 = mass(24000)
    val ratio = m8.toDouble / math.max(m1, 1L)
    info(s"banded candidate mass: x1=$m1 x8=$m8 ratio=$ratio")
    // linear would be 8; leave headroom for bit-ladder rounding (the
    // 8× step can straddle one bit increment) but stay far below the
    // old ~64× curve
    assert(ratio <= 14.0,
      s"banded candidate mass grew ${ratio}× at 8× data — " +
        s"super-linear; x1=$m1 x8=$m8")
    // sanity: the candidate set covers the within-cluster true pairs
    // (near-identical signatures collide in every band; 150 clusters ×
    // C(20,2) = 28500 at n=3000)
    assert(m1 >= 28500L, s"x1 candidate mass $m1 misses true pairs")
  }

  test("banded band width derives from block size (the knob turns) " +
      "and the scalar/SQL mirrors agree") {
    import operators.AnnPack
    assert(AnnPack.bandBitsForBlock(1L) == 4)
    assert(AnnPack.bandBitsForBlock(64L) == 4)
    assert(AnnPack.bandBitsForBlock(65L) == 5)
    assert(AnnPack.bandBitsForBlock(3000L) == 10)
    assert(AnnPack.bandBitsForBlock(24000L) == 13)
    assert(AnnPack.bandBitsForBlock(Long.MaxValue / 4) == 16)
  }

  test("banded recall: every exact-path pair of the planted clusters " +
      "is recovered (near-identical signatures collide)") {
    val n = plantedClusters(2000).repartition(8)
    val exact = operators.AnnPack.rangePairsOf(n, 0.75)
      .select(col("vec_id"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = operators.AnnPack.bandedRangePairsOf(n, 64, 0.75)
      .select(col("vec_id"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.releaseAll(blocking = true)
    assert(exact.nonEmpty)
    // banded ⊆ exact always (same τ verdict on a candidate subset)
    assert(banded.subsetOf(exact))
    val recall = banded.size.toDouble / exact.size
    info(s"banded recall vs exact: ${banded.size}/${exact.size} = $recall")
    // tight clusters (cos ≥ 0.99 ⇒ per-bit agreement ≈ 0.97): the
    // multiprobe miss probability is ≤ ~1e-8 per pair — any real miss
    // here means the banding or multiprobe broke
    assert(recall >= 0.999,
      s"banded path lost ${exact.size - banded.size} of ${exact.size} " +
        "tight-cluster pairs")
  }

  test("ann_range_banded ⊆ exact radius search at the same τ; " +
      "recall measured") {
    import operators.AnnPack
    val exact = AnnPack.rangePairs(spark, sfDir, AnnPack.rangeTau)
      .select(col("vec_id"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = SparkEntry.queries("ann_range_banded")(spark, sfDir)
      .select(col("vec_id"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.releaseAll(blocking = true)
    // same τ verdict on a candidate subset — banded can never invent
    // a pair the exact path lacks
    assert(banded.subsetOf(exact),
      s"banded pairs not a subset: ${(banded -- exact).take(3)}")
    if (exact.nonEmpty) {
      val recall = banded.size.toDouble / exact.size
      info(s"banded recall vs exact at τ=${AnnPack.rangeTau}: " +
        s"${banded.size}/${exact.size} = $recall")
      // borderline-τ recall is the LSH contract (decays with the bit
      // ladder); it must stay useful, not perfect
      assert(recall >= 0.5,
        s"banded recall $recall collapsed at τ=${AnnPack.rangeTau}")
    }
  }

  test("banded engine: a constant-vector flood stays cap-bounded " +
      "in-query") {
    import spark.implicits._
    // 40 identical vectors share one signature: every band bucket
    // holds the whole flood. A genuinely distinct near-dup pair lives
    // in other buckets and must be untouched by the cap.
    val base = (0 until 32).map(j => math.sin(j + 1.0))
    val bn = math.sqrt(base.map(x => x * x).sum)
    val other = (0 until 32).map(j => math.cos(3.0 * j + 2.0))
    val on = math.sqrt(other.map(x => x * x).sum)
    val rows = (1L to 40L).map(i => (i, 0, base, bn)) ++
      Seq((100L, 0, other, on), (101L, 0, other, on))
    val n = rows.toDF("vec_id", "label", "v", "nrm")
    val cap = 8
    val capped = operators.AnnPack.bandedRangeCandidatesOf(n, 32,
      operators.AnnPack.Geometry(cap = cap))
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"banded candidate join lost the per-bucket cap:\n$plan")
    val got = capped.collect()
    val floodPairs = got.filter(_.getAs[Long]("nn_id") <= 40L)
    assert(floodPairs.forall(_.getAs[Long]("nn_id") <= cap.toLong),
      "a capped-out vector reappeared as an index-side candidate")
    assert(got.exists(r => r.getAs[Long]("vec_id") == 100L &&
      r.getAs[Long]("nn_id") == 101L),
      "the cap dropped a pair outside the flooded buckets")
    // uncapped control: the flood IS quadratic without the cap
    val un = operators.AnnPack.bandedRangeCandidatesOf(n, 32,
      operators.AnnPack.Geometry(cap = Int.MaxValue))
      .collect().count(_.getAs[Long]("nn_id") <= 40L)
    assert(un == 40 * 39 / 2)
    Caches.releaseAll(blocking = true)
  }

  test("banded ladder cliff (r12 finding 1): past targetLoad·2^maxBits " +
      "the cap truncates with smallest-id bias — measured, and the " +
      "raising maxBits is the fix") {
    // pair-clusters (size 2) so the cap can never bind on a dup group
    // itself: overload comes purely from DISTINCT clusters colliding in
    // the clamped key space, which is exactly the past-the-ladder
    // regime — bits stuck at maxBits, bucket load growing with n, the
    // smallest-id cap evicting the true neighbor of every LARGE-id pair
    val n = plantedClusters(2000, clusterSize = 2).repartition(8)
    val exact = operators.AnnPack.rangePairsOf(n, 0.75)
      .select(col("vec_id"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.releaseAll(blocking = true)
    assert(exact.size >= 900, s"planted pairs missing: ${exact.size}")
    def banded(maxBits: Int, cap: Int): (Double, Long) = {
      val g = operators.AnnPack.Geometry(maxBits = maxBits, cap = cap)
      val mass = operators.AnnPack.bandedRangeCandidatesOf(n, 64, g)
        .count()
      val got = operators.AnnPack.bandedRangePairsOf(n, 64, 0.75, g)
        .select(col("vec_id"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Caches.releaseAll(blocking = true)
      assert(got.subsetOf(exact), "banded invented a pair")
      (got.size.toDouble / exact.size, mass)
    }
    // maxBits=6 puts the ladder's reach at targetLoad·2^6 = 256 ≪ 2000:
    // bits clamps, ~31 docs share each of the 64 per-band buckets, and
    // a cap of 8 saturates — the truncation the r12 verdict predicted
    val (rSat, mSat) = banded(6, 8)
    // the hard mass bound is the design working even at saturation
    assert(mSat <= 2000L * 8 * 7 * 8,
      s"candidate mass $mSat exceeds n·bands·(bits+1)·cap")
    // same clamped ladder, default cap: no truncation, recall intact —
    // the cliff is the CAP binding, not the clamp alone
    val (rRoom, _) = banded(6, operators.AnnPack.Geometry().cap)
    // the fix is one geometry field: maxBits=10 moves the reach past the block
    // (targetLoad·2^9 = 2048 ≥ 2000 ⇒ bits=9), bucket load back to
    // ≈targetLoad, and the SAME cap of 8 stops binding
    val (rFix, _) = banded(10, 8)
    info(f"past-ladder recall: saturated(maxBits=6,cap=8)=$rSat%.4f " +
      f"roomy-cap=$rRoom%.4f maxBits-raised(cap=8)=$rFix%.4f " +
      f"sat-mass=$mSat")
    assert(rSat < 0.9,
      f"expected visible cap-saturation decay, got $rSat%.4f — " +
        "the planted overload no longer saturates the cap")
    assert(rRoom >= 0.999,
      f"recall $rRoom%.4f lost under a non-binding cap")
    assert(rFix >= 0.99,
      f"raising maxBits did not restore recall: $rFix%.4f")
  }

  test("dedup_incremental_embedding_banded ⊆ the exact C14 verdict " +
      "(LSH candidates are a subset; cosines decide identically)") {
    def vm(name: String) = SparkEntry.queries(name)(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val exact = vm("dedup_incremental_embedding")
    val banded = vm("dedup_incremental_embedding_banded")
    assert(banded.keySet == exact.keySet)
    banded.foreach { case (id, (n, h, c)) =>
      val (en, _, ec) = exact(id)
      assert(n <= en, s"$id: banded counted $n > exact $en")
      assert(c <= ec + 1e-9, s"$id: banded best_cos $c > exact $ec")
      if (h != -1L) assert(exact(id)._2 != -1L,
        s"$id: banded matched where exact did not")
    }
    val exactHits = exact.count(_._2._1 > 0)
    val bandedHits = banded.count(_._2._1 > 0)
    info(s"banded store verdict hits vs exact: $bandedHits/$exactHits")
  }

  test("splitByLabels routes a NULL label by its own membership " +
      "(r16)") {
    // 400 tiny labels + 1 big label as one local frame, not a 401-way
    // union (a foldLeft of unionByName builds a 400-deep plan tree
    // whose repeated by-name analysis is quadratic — measured minutes
    // of driver CPU)
    import spark.implicits._
    val tinyRows = (1 to 400).flatMap(l => (0 until 2).map(i =>
      (l * 10000L + i, l, Seq.fill(4)(0.5), 1.0)))
    val bigRows = (0 until 150).map(i =>
      (i.toLong, 0, Seq.fill(4)(0.5), 1.0))
    val mixed = (bigRows ++ tinyRows)
      .toDF("vec_id", "label", "v", "nrm").repartition(8)
    // a NULL label in the routing set routes its rows to the MEMBER
    // side of the null-safe split
    val withNull = mixed.withColumn("label",
      when(col("label") === 0, lit(null)).otherwise(col("label")))
    val (members, nonMembers) =
      operators.AnnPack.splitByLabels(withNull, Seq(null))
    assert(members.count() == 150 &&
      members.filter(col("label").isNull).count() == 150,
      "null-label rows must route to the member side when null is " +
        "in the routing set")
    assert(nonMembers.filter(col("label").isNull).count() == 0)
    // and with null NOT in the set, they land non-member — membership,
    // not which side happens to carry the smaller routing list
    val (m3, nm3) = operators.AnnPack.splitByLabels(withNull, Seq(7))
    assert(m3.filter(col("label").isNull).count() == 0 &&
      nm3.filter(col("label").isNull).count() == 150)
    // a 400-label routing set travels as broadcast semi/anti joins —
    // never a literal In/InSet label list in the plan (r15)
    val (mAll, nmAll) =
      operators.AnnPack.splitByLabels(mixed, (1 to 400).toSeq)
    Seq(mAll -> "LeftSemi", nmAll -> "LeftAnti").foreach { case (df, j) =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains(j), s"routing should be a $j join:\n$plan")
      assert(!plan.contains("INSET") &&
        "label#\\d+ IN \\(".r.findFirstIn(plan).isEmpty,
        s"routing compiled a literal label list into the plan:\n$plan")
    }
    assert(mAll.count() == 800 && nmAll.count() == 150)
  }

  test("D3/C5/D6 plans: no window partitioned by a whole label block") {
    // the r3 verdict's last one-partition-per-key-group sort: a
    // row_number window partitioned by `label` alone would sort each
    // label's ENTIRE block in one task — seed selection must go through
    // the bounded-heap TopKPerKey operator instead
    // (don't let treeString truncation hide a window spec)
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    for (q <- Seq("knn_join", "dedup_embedding", "ann_range_search")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("windowspecdefinition(label#"),
        s"$q: window partitioned by label alone in executed plan:\n$plan")
    }
    val range = SparkEntry.queries("ann_range_search")(spark, sfDir)
    range.collect()
    assert(range.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "ann_range_search seed selection should run through TopKPerKeyExec")
  }

  test("ann_ivf never beats brute top-1 and probes limit the search") {
    val brute = SparkEntry.queries("ann_brute")(spark, sfDir)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("cos_sim"))).toMap
    val ivf = SparkEntry.queries("ann_ivf")(spark, sfDir)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("cos_sim"))).toMap
    ivf.foreach { case (q, c) =>
      assert(brute.contains(q) && c <= brute(q) + 1e-9)
    }
    // each query returns hits from at most nprobe distinct labels
    SparkEntry.queries("ann_ivf")(spark, sfDir).collect()
      .groupBy(_.getLong(0)).values.foreach { rs =>
        assert(rs.map(_.getAs[Int]("label")).distinct.length <= 3)
      }
  }

  test("AnnIndex: persisted IVF search equals the in-query k-means result") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = embs.filter(pmod(col("vec_id"), lit(50)) =!= 0)
    val queries = embs.filter(pmod(col("vec_id"), lit(50)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("annindex").toString
    graft.sources.AnnIndex.write(corpus, dir)
    // the index is cell-partitioned on disk
    val cellDirs = new java.io.File(s"$dir/lists").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 8)
    val search = graft.sources.AnnIndex.search(spark, dir, queries)
    // identical training arithmetic -> byte-identical results to the
    // oracle-verified in-query path
    val want = SparkEntry.queries("ann_ivf_kmeans")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(search.collect().map(_.toString).toSeq == want)
    // and the postings scan is statically partition-pruned to the
    // probed cells — the property that bounds the 100 TB read
    val plan = search.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan)
    assert(pruned.isDefined,
      s"postings scan is not partition-pruned by cell:\n$plan")
  }

  test("AnnIndex: append routes new vectors into existing cells, search finds them") {
    import spark.implicits._
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = embs.filter(pmod(col("vec_id"), lit(50)) =!= 0)
    // deterministic query pick (a bare limit() can select different
    // rows on each of the several actions below)
    val queries = embs.filter(pmod(col("vec_id"), lit(50)) === 0
      && col("vec_id") < 150)
    val dir = java.nio.file.Files.createTempDirectory("annindex-app").toString
    graft.sources.AnnIndex.write(corpus, dir)
    // append exact copies of the query vectors under fresh ids: each
    // lands in its query's nearest cell, so the probe MUST surface it
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    val appended = queries
      .select((col("vec_id") + lit(maxId + 1)).as("vec_id"),
        col("embedding"))
    graft.sources.AnnIndex.append(spark, dir, appended)
    val search = graft.sources.AnnIndex.search(spark, dir, queries)
    val byQuery = search.collect().groupBy(_.getLong(0))
    queries.select(col("vec_id")).collect().map(_.getLong(0)).foreach { q =>
      val top = byQuery(q).minBy(_.getLong(1)) // rank 1
      assert(top.getLong(2) == q + maxId + 1,
        s"appended exact copy of query $q not at rank 1: ${byQuery(q).toSeq}")
      assert(math.abs(top.getDouble(3) - 1.0) < 1e-9)
    }
    // the partition-pruned scan property survives the append
    val plan = search.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"postings scan is not partition-pruned by cell after append:\n$plan")
    // a crash-REPLAYED append duplicates postings rows; the search must
    // not surface one vector at two ranks (the PqStore replay lesson)
    graft.sources.AnnIndex.append(spark, dir, appended)
    val replayed = graft.sources.AnnIndex.search(spark, dir, queries)
      .collect()
    replayed.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val ids = rows.map(_.getLong(2))
      assert(ids.distinct.length == ids.length,
        s"replayed append put one vector at two ranks for query $q: " +
          rows.toSeq)
    }
    // compare against the PRE-replay collected rows (re-collecting
    // `search` here would lazily re-execute on the replayed store and
    // compare the replay with itself)
    assert(replayed.map(_.toString).sorted.toSeq
      == byQuery.values.flatten.map(_.toString).toSeq.sorted,
      "replayed append changed the search result")
  }

  test("AnnIndex maintenance: compact restores one file per cell byte-stably, " +
      "generations retire with grace, rebuild ≡ fresh write") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = embs.filter(pmod(col("vec_id"), lit(50)) =!= 0)
      .select(col("vec_id"), col("embedding"))
    val queries = embs.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("annindex-cmp").toString
    val base = corpus.filter(pmod(col("vec_id"), lit(11)) =!= 5)
    val slice = corpus.filter(pmod(col("vec_id"), lit(11)) === 5)
    graft.sources.AnnIndex.write(base, dir)
    // cell-aligned write: ONE file per cell from the start (the r15
    // Bucketed lesson — an unaligned write lands tasks × cells files)
    assert(graft.sources.AnnIndex.listsFileCounts(spark, dir)
      .values.forall(_ == 1), "fresh write is not one file per cell")
    graft.sources.AnnIndex.append(spark, dir, slice)
    graft.sources.AnnIndex.append(spark, dir, slice) // crash replay
    // appends accumulate one file per touched cell per batch — bounded
    // by batches, never by tasks × cells
    val preCounts = graft.sources.AnnIndex.listsFileCounts(spark, dir)
    assert(preCounts.values.forall(_ <= 3),
      s"append fragmented beyond one file per batch per cell: $preCounts")
    assert(preCounts.values.exists(_ > 1),
      "fixture never fragmented — the compact assertion below is vacuous")
    val preRows = spark.read.parquet(s"$dir/lists").count()
    val pre = graft.sources.AnnIndex.search(spark, dir, queries)
      .collect().map(_.toString).sorted.toSeq
    graft.sources.AnnIndex.compact(spark, dir)
    // one sorted file per cell under the NEXT generation; rows —
    // replay duplicates included, they are the read-side convergence
    // key — preserved exactly; search byte-stable
    assert(new java.io.File(s"$dir/SERVING_g1").exists(),
      "compact did not commit a serving marker")
    assert(graft.sources.AnnIndex.listsFileCounts(spark, dir)
      .values.forall(_ == 1), "compact did not restore one file per cell")
    assert(spark.read.parquet(s"$dir/lists__g1").count() == preRows,
      "compact changed the postings row count (replay keys must survive)")
    val post = graft.sources.AnnIndex.search(spark, dir, queries)
      .collect().map(_.toString).sorted.toSeq
    assert(post == pre, "search changed across compact")
    // one-generation grace: the just-retired gen-0 dirs stay on disk
    // until the NEXT swap — a plan resolved before this compact still
    // reads its captured files
    assert(new java.io.File(s"$dir/lists").exists(),
      "compact deleted the just-retired generation (no grace)")
    graft.sources.AnnIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/lists").exists(),
      "second compact left the elder generation beyond grace")
    assert(new java.io.File(s"$dir/lists__g1").exists(),
      "second compact deleted the just-retired generation (no grace)")
    assert(graft.sources.AnnIndex.search(spark, dir, queries)
      .collect().map(_.toString).sorted.toSeq == pre,
      "search changed across second compact")
    // a mutation racing the lease refuses loudly instead of corrupting
    val lock = new java.io.File(s"$dir/lists__lock")
    java.nio.file.Files.writeString(lock.toPath,
      "pid=999999999 host=elsewhere at=now")
    intercept[java.util.ConcurrentModificationException] {
      graft.sources.AnnIndex.append(spark, dir, slice)
    }
    assert(lock.delete())
    // rebuild: retrain on the CURRENT deduplicated content ≡ a fresh
    // write of the full corpus — byte-identical search results
    graft.sources.AnnIndex.rebuild(spark, dir)
    val fresh = java.nio.file.Files
      .createTempDirectory("annindex-fresh").toString
    graft.sources.AnnIndex.write(corpus, fresh)
    assert(graft.sources.AnnIndex.search(spark, dir, queries)
      .collect().map(_.toString).sorted.toSeq
      == graft.sources.AnnIndex.search(spark, fresh, queries)
        .collect().map(_.toString).sorted.toSeq,
      "rebuild does not equal a fresh write of the deduplicated corpus")
    // rebuilt layout is cell-aligned too
    assert(graft.sources.AnnIndex.listsFileCounts(spark, dir)
      .values.forall(_ == 1), "rebuild is not one file per cell")
  }

  test("embedding_quantize: known vectors quantize to the expected codes") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector -> filtered
      (3L, Array(-2.0f, 1.0f, 0.5f, -1.0f))
    ).toDF("vec_id", "embedding")
    val got = graft.operators.AnnPack.quantizeOver(embs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got.contains(2L), "zero vector must be filtered")
    // vec 1: amax=1, scale=127 -> [127, floor(-63.5+0.5)=-63, 32, 0]
    def expect(codes: Seq[Long]) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(codes.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (md, codes.map(math.abs).sum, codes.max, codes.min)
    }
    val r1 = got(1L)
    assert((r1.getString(2), r1.getLong(3), r1.getLong(4), r1.getLong(5))
      == expect(Seq(127L, -63L, 32L, 0L)))
    assert(r1.getDouble(1) == 1.0)
    // vec 3: amax=2, scale=63.5 -> [-127, floor(63.5+0.5)=64, 32,
    // floor(-63.5+0.5)=-63]
    val r3 = got(3L)
    assert((r3.getString(2), r3.getLong(3), r3.getLong(4), r3.getLong(5))
      == expect(Seq(-127L, 64L, 32L, -63L)))
  }

  test("ann_quantized: int8 candidates recover the exact top-k") {
    val brute = SparkEntry.queries("ann_brute")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val quant = SparkEntry.queries("ann_quantized")(spark, sfDir).collect()
    assert(quant.nonEmpty)
    quant.foreach { r =>
      // the approximate score is within int8 quantization error of the
      // exact one (|cos_q - cos| <= ~2*sqrt(dims)/127 worst case; the
      // observed gap is far smaller)
      assert(math.abs(r.getDouble(r.fieldIndex("cos_q")) -
        r.getDouble(r.fieldIndex("cos_sim"))) < 0.05)
    }
    // recall@k of the re-ranked result vs brute force
    val hits = quant.count { r =>
      brute.get((r.getLong(0), r.getLong(1))).contains(r.getLong(2))
    }
    assert(hits >= (brute.size * 0.9).toInt,
      s"int8 recall@5 degraded: $hits/${brute.size}")
  }

  test("pq_encode: every corpus vector carries m well-formed sub-codes") {
    val rows = SparkEntry.queries("pq_encode")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getString(1).split(",")
      assert(codes.length == 8, s"expected 8 sub-codes: $r")
      codes.foreach { c =>
        val v = c.toInt
        assert(v >= 0 && v < 16, s"code out of [0,16): $r")
      }
    }
  }

  test("ann_pq: ADC pool + exact re-rank recovers most of the exact " +
      "top-k on isotropic vectors") {
    val brute = SparkEntry.queries("ann_brute")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = SparkEntry.queries("ann_pq")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.keySet == brute.keySet)
    // this corpus is near-isotropic — the provable worst case for any
    // quantizer (no cluster structure for the codebooks to exploit), so
    // the pool carries the recall; the thresholds are the measured
    // deterministic values (0.94 mean / 0.8 min at sf0.001) with margin
    val recalls = brute.map { case (q, want) =>
      want.intersect(pq(q)).size.toDouble / want.size
    }
    assert(recalls.sum / recalls.size >= 0.85,
      s"pq mean recall@5 degraded: ${recalls.sum / recalls.size}")
    assert(recalls.min >= 0.6, s"pq worst-query recall: ${recalls.min}")
  }

  test("ann_ivfpq: composing the two quantizers costs little recall " +
      "beyond the IVF pruning stage alone") {
    def recalls(name: String): Map[Long, Double] = {
      val brute = SparkEntry.queries("ann_brute")(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      SparkEntry.queries(name)(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        .map { case (q, got) =>
          q -> brute(q).intersect(got).size.toDouble / brute(q).size }
        .toMap
    }
    val ivfpq = recalls("ann_ivfpq")
    val ivfOnly = recalls("ann_ivf_kmeans")
    def mean(m: Map[Long, Double]) = m.values.sum / m.size
    // on this isotropic corpus the IVF stage ALONE measures 0.6 mean
    // recall@5 (cell pruning is weak without cluster structure); the
    // composed index measures 0.5 — i.e. the 32×-compression stage
    // costs ~PQ's own 0.94 factor on top. Deterministic values, margin
    // below them.
    assert(mean(ivfpq) >= 0.4, s"ivfpq mean recall: ${mean(ivfpq)}")
    assert(mean(ivfpq) >= mean(ivfOnly) - 0.2,
      s"PQ stage cost too much recall: ${mean(ivfpq)} vs ${mean(ivfOnly)}")
  }

  test("embedding_quantize reconstruction stays within half a step") {
    // |x - q*amax/127| <= amax/254 + eps for every coordinate: the
    // round-trip bound that makes int8 usable for candidate generation
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rows = graft.operators.AnnPack.quantizeOver(embs)
      .join(embs, "vec_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val amax = r.getDouble(r.fieldIndex("amax"))
      val xs = r.getSeq[Float](r.fieldIndex("embedding"))
      xs.foreach { x =>
        val q = math.max(-127L, math.min(127L,
          math.floor(x.toDouble * (127.0 / amax) + 0.5).toLong))
        assert(math.abs(x.toDouble - q * amax / 127.0)
          <= amax / 254.0 + 1e-12)
      }
    }
  }
}
