package graft

import graft.functions.Vectors
import graft.sources.EmbedStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sources/EmbedStore (SURVEY.md §2 C14): the persisted embedding
  * near-dup store — probe verdicts are exact (recall 1 via the angular
  * radius bound), the history lists read their buckets in place, append
  * grows the radius BEFORE the lists land (the recall-safe order), new
  * labels form fresh cells, and crash replays converge.
  */
class EmbedStoreSpec extends GraftSpec {

  private val tau = 0.45

  private var n = 0
  private def freshBase(): (String, String) = {
    n += 1
    val base = s"graft_emb_spec_${System.nanoTime()}_$n"
    (base, s"${sys.props("java.io.tmpdir")}/$base")
  }

  private def cleanup(base: String, path: String): Unit = {
    Seq("cells", "lists", "bands", "bbits").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ${base}_$s"))
    Caches.deleteDir(path)
  }

  private def embDf(rows: Seq[(Long, Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, lab, v) => (id, lab, v.map(_.toFloat).toArray) }
      .toDF("vec_id", "label", "embedding")
  }

  /** Brute-force expected verdicts, same arithmetic as the store path:
    * every within-label (batch, history) pair at round(cos, 6) ≥ τ.
    */
  private def bruteVerdicts(batch: DataFrame,
      history: DataFrame): Map[Long, (Long, Long, Double)] = {
    def normed(df: DataFrame, p: String) = df.select(
      col("vec_id").as(s"${p}id"), col("label"),
      Vectors.toDouble(col("embedding")).as(s"${p}v"))
      .withColumn(s"${p}n", Vectors.norm(col(s"${p}v")))
    val x = normed(batch, "b").join(normed(history, "h"), "label")
      .withColumn("cos_sim",
        Vectors.cosine(col("bv"), col("hv"), col("bn"), col("hn")))
      .filter(col("cos_sim") >= tau)
      .groupBy(col("bid"))
      .agg(count(lit(1)).as("n"), min(col("hid")).as("hist"),
        max(col("cos_sim")).as("best"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    batch.select("vec_id").collect().map(_.getLong(0))
      .map(id => id -> x.getOrElse(id, (0L, -1L, 0.0))).toMap
  }

  /** The shrunk cell clamp (cellSize·maxCells = 8) the routing specs
    * freeze into their stores, and the per-bucket cap the growth specs
    * freeze.
    */
  private val shrunk = operators.AnnPack.Geometry(cellSize = 2,
    maxCells = 4)
  private val cap4 = operators.AnnPack.Geometry(cap = 4)

  private def verdictMap(df: DataFrame): Map[Long, (Long, Long, Double)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap

  test("probe verdicts are exact and the lists store scan has no " +
      "exchange above it") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val history = embDf(Seq(
      (2L, 1, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, 1, Seq(0.95, 0.05, 0.0, 0.0)),
      (6L, 1, Seq(0.0, 1.0, 0.0, 0.0)),
      (8L, 1, Seq(0.0, 0.9, 0.1, 0.0)),
      (10L, 2, Seq(0.5, 0.5, 0.0, 0.0)),
      (12L, 2, Seq(0.0, 0.0, 1.0, 0.0))))
    val batch = embDf(Seq(
      (1L, 1, Seq(0.98, 0.02, 0.0, 0.0)),  // near h2/h4 only
      (3L, 1, Seq(0.0, 0.0, 0.0, 1.0)),    // orthogonal to everything
      (5L, 1, Seq(0.0, 0.95, 0.05, 0.0)),  // near h6/h8
      (7L, 2, Seq(0.45, 0.55, 0.0, 0.0)),  // near h10
      (9L, 3, Seq(1.0, 0.0, 0.0, 0.0))))   // label absent from history
    val (base, path) = freshBase()
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      EmbedStore.write(history, base, path)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = EmbedStore.dedupAgainst(spark, base, batch, tau)
      assert(verdictMap(out) == bruteVerdicts(batch, history))
      // the persisted lists side reads its buckets in place: a
      // sort-merge join whose store input is the bucketed scan plus
      // local ops only, with no shuffle exchange inside it
      def storeScan(p: SparkPlan) = p.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.nonEmpty
      val plan = out.queryExecution.executedPlan
      val storeSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right))
        .filter(side => storeScan(side) &&
          side.collect { case nj: SortMergeJoinExec => nj }.isEmpty)
      assert(storeSides.nonEmpty,
        s"expected the lists probe as a sort-merge join:\n$plan")
      storeSides.foreach(side => assert(
        side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"lists store side re-shuffled:\n$side"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      cleanup(base, path)
    }
  }

  test("banded leg: planted near-identical dups found, verdicts match " +
      "brute force, and the bands store scan has no exchange above it") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val history = embDf(Seq(
      (2L, 1, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, 1, Seq(0.999, 0.001, 0.0, 0.0)),
      (6L, 1, Seq(0.0, 1.0, 0.0, 0.0)),
      (10L, 2, Seq(0.5, 0.5, 0.0, 0.0))))
    val batch = embDf(Seq(
      (1L, 1, Seq(0.9995, 0.0005, 0.0, 0.0)), // near-identical to h2/h4
      (3L, 1, Seq(0.0, 0.0, 0.0, 1.0)),       // orthogonal to everything
      (5L, 2, Seq(0.501, 0.499, 0.0, 0.0)),   // near-identical to h10
      (9L, 3, Seq(1.0, 0.0, 0.0, 0.0))))      // label absent from history
    val (base, path) = freshBase()
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      EmbedStore.write(history, base, path)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = EmbedStore.bandedDedupAgainst(spark, base, batch, tau)
      // near-identical payloads collide with probability ≈ 1, so on
      // this corpus the LSH path recovers the FULL brute verdict
      assert(verdictMap(out) == bruteVerdicts(batch, history))
      def storeScan(p: SparkPlan) = p.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.nonEmpty
      val plan = out.queryExecution.executedPlan
      val storeSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right))
        .filter(side => storeScan(side) &&
          side.collect { case nj: SortMergeJoinExec => nj }.isEmpty)
      assert(storeSides.nonEmpty,
        s"expected the bands probe as a sort-merge join:\n$plan")
      storeSides.foreach(side => assert(
        side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"bands store side re-shuffled:\n$side"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      cleanup(base, path)
    }
  }

  test("pre-banded store upgrade: append/compact backfill the banded " +
      "leg from the FULL history; the banded probe fails loudly before") {
    val history = embDf(Seq(
      (2L, 1, Seq(1.0, 0.0, 0.0, 0.0)),
      (6L, 1, Seq(0.0, 1.0, 0.0, 0.0)),
      (10L, 2, Seq(0.5, 0.5, 0.0, 0.0))))
    val appended = embDf(Seq((20L, 1, Seq(0.0, 0.0, 1.0, 0.0))))
    // near-identical to a PRE-upgrade history vector (h2) and to the
    // appended one (20): both must be found, proving the backfill
    // covered the history, not just the upgrading batch
    val probe = embDf(Seq(
      (1L, 1, Seq(0.9995, 0.0005, 0.0, 0.0)),
      (3L, 1, Seq(0.0005, 0.0, 0.9995, 0.0))))
    val (base, path) = freshBase()
    def dropBandedLeg(): Unit = {
      Seq("bbits", "bands").foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS ${base}_$s")
        Caches.deleteDir(s"$path/$s")
      }
    }
    try {
      EmbedStore.write(history, base, path)
      dropBandedLeg() // simulate a store persisted before the leg existed
      val err = intercept[IllegalArgumentException] {
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau)
      }
      assert(err.getMessage.contains("no complete banded leg"))
      // exact leg unaffected by the missing sidecars
      assert(verdictMap(EmbedStore.dedupAgainst(spark, base, probe)) ==
        bruteVerdicts(probe, history))
      // append upgrades in place: lists land first, then the backfill
      // builds bands over history + batch in one pass
      EmbedStore.append(spark, base, appended)
      val full = history.unionByName(appended)
      assert(verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau)) ==
        bruteVerdicts(probe, full))
      // compact() on a pre-banded store backfills too (and on an
      // upgraded one compacts the sidecars without changing verdicts)
      dropBandedLeg()
      EmbedStore.compact(spark, base)
      assert(verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau)) ==
        bruteVerdicts(probe, full))
      EmbedStore.compact(spark, base)
      assert(verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau)) ==
        bruteVerdicts(probe, full))
      // TORN sidecar states (r13 ADVICE): a crash inside writeBandedLeg
      // between the _bbits and _bands writes leaves either-only states.
      // Every banded call site keys on BOTH sidecars, so the read-only
      // probe refuses loudly and the maintenance paths HEAL instead of
      // dying on the missing half. _bbits-only first (the write-order
      // crash): compact backfills.
      spark.sql(s"DROP TABLE IF EXISTS ${base}_bands")
      Caches.deleteDir(s"$path/bands")
      assert(intercept[IllegalArgumentException] {
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau)
      }.getMessage.contains("no complete banded leg"))
      EmbedStore.compact(spark, base)
      assert(verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau)) ==
        bruteVerdicts(probe, full))
      // _bands-only (a torn backfill): append heals — the replayed
      // batch is tolerated (pair-level dedupe) and the rebuilt leg
      // covers the full history
      spark.sql(s"DROP TABLE IF EXISTS ${base}_bbits")
      Caches.deleteDir(s"$path/bbits")
      assert(intercept[IllegalArgumentException] {
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau)
      }.getMessage.contains("no complete banded leg"))
      EmbedStore.append(spark, base, appended)
      assert(verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau)) ==
        bruteVerdicts(probe, full))
    } finally cleanup(base, path)
  }

  test("banded leg: write+append ≡ one-shot build (same ladder rung), " +
      "replay converges, compaction is verdict-stable") {
    val part1 = embDf(Seq(
      (2L, 1, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, 1, Seq(0.0, 1.0, 0.0, 0.0))))
    val part2 = embDf(Seq(
      (6L, 1, Seq(0.999, 0.001, 0.0, 0.0)),
      (8L, 5, Seq(0.0, 0.0, 1.0, 0.0)))) // label 5: frozen at append
    val full = part1.unionByName(part2)
    val batch = embDf(Seq(
      (1L, 1, Seq(0.9995, 0.0005, 0.0, 0.0)), // near h2 AND appended h6
      (7L, 5, Seq(0.0, 0.0, 0.999, 0.001))))  // near appended h8
    val (cb, cp) = freshBase()
    val (base, path) = freshBase()
    try {
      EmbedStore.write(full, cb, cp)
      val control = verdictMap(
        EmbedStore.bandedDedupAgainst(spark, cb, batch, tau))
      assert(control(1L)._1 == 2L && control(7L)._2 == 8L,
        s"control verdicts wrong: $control")
      EmbedStore.write(part1, base, path)
      EmbedStore.append(spark, base, part2)
      // block sizes stay inside one ladder rung (≤ 64 per label), so
      // the frozen widths equal the one-shot build's — results identical
      assert(verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, batch, tau)) == control)
      // replay after success: duplicate bands rows collapse at pair level
      EmbedStore.append(spark, base, part2)
      assert(verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, batch, tau)) == control)
      EmbedStore.compact(spark, base)
      assert(verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, batch, tau)) == control)
    } finally { cleanup(base, path); cleanup(cb, cp) }
  }

  test("dedupAgainstAuto routes from the store it probes: exact at " +
      "the default geometry, the banded leg on a store written at the " +
      "all-cont geometry — same verdict shape") {
    // 10 vectors in label 1: under the default clamp, past the all-cont
    // geometry's clamp of 8
    val history = embDf(Seq((2L, 1, Seq(1.0, 0.0, 0.0, 0.0))) ++
      (1 to 9).map(i => (2L + 2 * i, 1, Seq(0.0, 1.0, 0.001 * i, 0.0))))
    val batch = embDf(Seq(
      (1L, 1, Seq(0.9995, 0.0005, 0.0, 0.0)), // near-identical to h2
      (3L, 1, Seq(0.5, -0.5, 0.5, 0.5))))     // matches nothing at τ
    val (base, path) = freshBase()
    val (bb, bp) = freshBase()
    try {
      EmbedStore.write(history, base, path)
      val viaDefault = verdictMap(
        EmbedStore.dedupAgainstAuto(spark, base, batch, tau))
      assert(viaDefault == verdictMap(
        EmbedStore.dedupAgainst(spark, base, batch, tau)))
      assert(EmbedStore.bandedRoutingStat(spark, base)._2.isEmpty)
      EmbedStore.write(history, bb, bp,
        geometry = operators.AnnPack.allContGeometry)
      assert(EmbedStore.bandedRoutingStat(spark, bb) == ((1L, Seq(1))))
      val viaBanded = verdictMap(
        EmbedStore.dedupAgainstAuto(spark, bb, batch, tau))
      assert(viaBanded == verdictMap(
        EmbedStore.bandedDedupAgainst(spark, bb, batch, tau)))
      // near-identical payloads collide w.p. ≈1: the routed probe
      // still finds the planted dup, and misses nothing exact found
      assert(viaBanded == viaDefault,
        s"banded-routed verdicts diverged: $viaBanded vs $viaDefault")
      assert(viaDefault(1L)._2 == 2L, s"planted dup missed: $viaDefault")
    } finally { cleanup(base, path); cleanup(bb, bp) }
  }

  test("dedupAgainstAuto routes PER LABEL off the FROZEN " +
      "continuum flag (r14): a continuum mega-label takes the banded " +
      "leg, a CLUSTERED mega-label and small labels keep the recall-1 " +
      "exact probe; unmeasured stores fall back to cell-count size") {
    // 64-dim hash directions (the AnnPackSpec plantedClusters formula)
    def hv(seed: Long): Seq[Double] = {
      val raw = (0 until 64).map(j =>
        (((seed * (j * 6364136223846793005L + 1442695040888963407L))
          >>> 40) & 0xffL).toDouble - 127.5)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    def mix(a: Seq[Double], b: Seq[Double], eps: Double) =
      a.zip(b).map { case (x, y) => x + eps * y }
    // shrunk geometry frozen at write: clamp = cellSize·maxCells = 8,
    // so 24-vector labels are mega (refined band) and the 2-vector
    // label is small
    val continuum = embDf((0 until 24).map(i => // every vector its own direction
      (100L + i, 1, hv(1000L + i))))
    val clustered = embDf((0 until 24).map(i => // 3 tight clusters of 8
      (300L + i, 3, mix(hv(2000L + i / 8), hv(3000L + i), 0.02))))
    val small = embDf(Seq((200L, 2, hv(4000L)), (202L, 2, hv(4001L))))
    val history = continuum.unionByName(clustered).unionByName(small)
    val batch = embDf(Seq(
      (1L, 1, mix(hv(1000L), hv(5000L), 0.001)), // dup-regime, continuum label
      (3L, 3, mix(hv(2000L), hv(5001L), 0.001)), // dup-regime, clustered label
      (5L, 2, mix(hv(4000L), hv(5002L), 0.001)), // dup-regime, small label
      (7L, 9, hv(6000L))))                       // label the store never saw
    val (base, path) = freshBase()
    try {
      EmbedStore.write(history, base, path, geometry = shrunk)
      // the build FROZE the routing statistic: continuum mega-label
      // true, clustered mega-label false, small false
      val cont = spark.table(s"${base}_bbits")
        .select(col("label"), col("cont")).collect()
        .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      assert(cont == Map(1 -> true, 3 -> false, 2 -> false),
        s"frozen continuum flags wrong: $cont")
      // both mega-labels saturate the cell count — size alone CANNOT
      // make this routing decision (the pre-r14 fallback's limit)
      val cellCnt = spark.table(s"${base}_cells").groupBy("label")
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(cellCnt(1) >= 4 && cellCnt(3) >= 4 && cellCnt(2) < 4,
        s"cell counts $cellCnt do not saturate both mega-labels")
      val exact = verdictMap(
        EmbedStore.dedupAgainst(spark, base, batch, tau))
      val banded = verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, batch, tau))
      val auto = verdictMap(
        EmbedStore.dedupAgainstAuto(spark, base, batch, tau))
      assert(auto.keySet == exact.keySet,
        "auto must keep one verdict row per batch vector")
      assert(auto(1L) == banded(1L),
        s"continuum-label row did not ride the banded leg: $auto")
      assert(auto(3L) == exact(3L) && auto(5L) == exact(5L) &&
        auto(7L) == exact(7L),
        s"clustered/small/unseen rows did not ride the exact probe: $auto")
      // the planted dups are found on both routes
      assert(auto(1L)._1 > 0 && auto(3L)._1 > 0 && auto(5L)._1 > 0)
      // pre-r14 fallback: a store whose bbits carries no cont column
      // routes on cell-count saturation — BOTH mega-labels go banded
      sources.Bucketed.rewritePlain(spark, s"${base}_bbits",
        spark.table(s"${base}_bbits").drop("cont"), Seq("label"))
      val fb = verdictMap(
        EmbedStore.dedupAgainstAuto(spark, base, batch, tau))
      assert(fb(1L) == banded(1L) && fb(3L) == banded(3L) &&
        fb(5L) == exact(5L),
        s"cont-less fallback did not route on cell saturation: $fb")
    } finally cleanup(base, path)
  }

  test("bandedRoutingStat (r16): the auto-probe peek collects only " +
      "banded-ELIGIBLE labels, memoizes per store generation, and " +
      "invalidates on append") {
    def hv(seed: Long): Seq[Double] = {
      val raw = (0 until 64).map(j =>
        (((seed * (j * 6364136223846793005L + 1442695040888963407L))
          >>> 40) & 0xffL).toDouble - 127.5)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    // 40 small labels (2 vectors each — never banded-eligible) + one
    // continuum mega-label: the r15 shape collected |labels| = 41
    // per-label rows on EVERY probe; the bounded stat collects one row
    // whose list holds only the eligible label
    val smalls = embDf((1 to 40).flatMap(l => Seq(
      (l * 100L, l, hv(l * 10L)), (l * 100L + 1, l, hv(l * 10L + 1)))))
    val mega = embDf((0 until 24).map(i => (9000L + i, 99, hv(7000L + i))))
    val (base, path) = freshBase()
    try {
      EmbedStore.write(smalls.unionByName(mega), base, path,
        geometry = shrunk)
      EmbedStore.routingStatMemo.remove(base)
      val (nLabels, banded) = EmbedStore.bandedRoutingStat(spark, base)
      assert(nLabels == 41L)
      assert(banded == Seq(99),
        s"expected only the continuum mega-label, got $banded")
      // memoized: a repeat probe of the unchanged store returns the
      // SAME entry without re-reading the sidecars
      val entry = EmbedStore.routingStatMemo.get(base)
      assert(entry != null)
      assert(EmbedStore.bandedRoutingStat(spark, base)._2 eq banded,
        "unchanged store re-collected the routing stat")
      assert(EmbedStore.routingStatMemo.get(base) eq entry)
      // an append rewrites the sidecars generation-swapped — the moved
      // locations invalidate the memo and the stat re-derives
      EmbedStore.append(spark, base,
        embDf(Seq((9990L, 41, hv(8000L)))))
      val (nl2, banded2) = EmbedStore.bandedRoutingStat(spark, base)
      assert(nl2 == 42L, s"post-append stat stale: $nl2 labels")
      assert(banded2 == Seq(99))
      assert(EmbedStore.routingStatMemo.get(base)._1 != entry._1,
        "append did not move the memo key")
    } finally cleanup(base, path)
  }

  test("the geometry is FROZEN at write: append and rebuildBandedLeg " +
      "in a session that sets nothing keep an all-cont store routing " +
      "every label banded, with a fresh write's verdicts") {
    def hv(seed: Long): Seq[Double] = {
      val raw = (0 until 64).map(j =>
        (((seed * (j * 6364136223846793005L + 1442695040888963407L))
          >>> 40) & 0xffL).toDouble - 127.5)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    def mix(a: Seq[Double], b: Seq[Double], eps: Double) =
      a.zip(b).map { case (x, y) => x + eps * y }
    // two labels of 12, past the all-cont clamp of 8 and far under the
    // default one of 1536
    val history = embDf((0 until 24).map(i =>
      (100L + 2 * i, 1 + i % 2, hv(1000L + i))))
    val appended = embDf((0 until 6).map(i =>
      (300L + 2 * i, 1 + i % 2, hv(2000L + i))))
    val batch = embDf(Seq(
      (1L, 1, mix(hv(1000L), hv(5000L), 0.001)), // dup of h100
      (3L, 2, mix(hv(2001L), hv(5001L), 0.001)), // dup of appended h302
      (5L, 1, hv(6000L))))                       // matches nothing
    val (base, path) = freshBase()
    val (cb, cp) = freshBase() // fresh-write control
    val g = operators.AnnPack.allContGeometry
    def routedVerdicts(b: String) = verdictMap(
      EmbedStore.dedupAgainstAuto(spark, b, batch, tau))
    try {
      EmbedStore.write(history, base, path, geometry = g)
      EmbedStore.append(spark, base, appended)
      EmbedStore.rebuildBandedLeg(spark, base)
      assert(EmbedStore.geometryOf(spark, base) == g,
        s"store geometry moved: ${EmbedStore.geometryOf(spark, base)}")
      val cont = spark.table(s"${base}_bbits").select("cont").collect()
        .map(_.getBoolean(0)).toSeq
      assert(cont == Seq(true, true),
        s"the rebuild re-measured cont off the store geometry: $cont")
      val (nLabels, banded) = EmbedStore.bandedRoutingStat(spark, base)
      assert(nLabels == 2L && banded.toSet == Set(1, 2),
        s"a label left the banded route: $banded of $nLabels")
      EmbedStore.write(history.unionByName(appended), cb, cp, geometry = g)
      val fresh = routedVerdicts(cb)
      assert(fresh == verdictMap(
        EmbedStore.bandedDedupAgainst(spark, cb, batch, tau)))
      assert(routedVerdicts(base) == fresh,
        s"maintained store diverged from a fresh write: " +
          s"${routedVerdicts(base)} vs $fresh")
      assert(fresh(1L)._2 == 100L && fresh(3L)._2 == 302L &&
        fresh(5L)._1 == 0L, s"planted dups not found: $fresh")
    } finally { cleanup(base, path); cleanup(cb, cp) }
  }

  test("banded store bucket growth is per append GENERATION and " +
      "rebuildBandedLeg re-tightens it (r14): G appends grow a hot " +
      "bucket to ~G·cap; the rebuild re-caps and keeps verdicts sound") {
    // near-identical vectors share every band key → ONE hot bucket per
    // band; cap=4 so the growth curve is visible at spec scale
    def nearDups(ids: Range) = embDf(ids.map(i =>
      (i.toLong, 1, Seq(1.0, 0.0005 * (i % 7), 0.0, 0.0))))
    val probe = embDf(Seq((1L, 1, Seq(0.9999, 0.0001, 0.0, 0.0))))
    val (base, path) = freshBase()
    def maxBucket(): Long = spark.table(s"${base}_bands")
      .groupBy(col("bkey")).count().agg(max(col("count")))
      .head.getLong(0)
    try {
      EmbedStore.write(nearDups(100 until 110), base, path,
        geometry = cap4)
      assert(maxBucket() <= 4, s"write-time cap broke: ${maxBucket()}")
      // three appends into the same hot bucket: each generation adds
      // its own ≤cap rows — the documented linear degradation
      EmbedStore.append(spark, base, nearDups(200 until 210))
      EmbedStore.append(spark, base, nearDups(300 until 310))
      EmbedStore.append(spark, base, nearDups(400 until 410))
      val grown = maxBucket()
      info(s"hot bucket after 3 appends at cap=4: $grown rows")
      assert(grown > 4 && grown <= 16,
        s"expected per-generation growth in (cap, 4·cap], got $grown")
      // compact PRESERVES rows (the replay contract) — growth survives
      EmbedStore.compact(spark, base)
      assert(maxBucket() == grown,
        "compact must not re-cap (verdict stability under replay)")
      // the declared rebuild re-derives bits and re-caps
      EmbedStore.rebuildBandedLeg(spark, base)
      assert(maxBucket() <= 4,
        s"rebuild did not re-tighten the cap: ${maxBucket()}")
      // the dup-regime verdict is still found through the re-capped leg
      val v = verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau))(1L)
      assert(v._1 > 0 && v._2 == 100L,
        s"post-rebuild banded probe lost the planted dup: $v")
    } finally cleanup(base, path)
  }

  test("banded leg: per-label bits FREEZE at first write — appends " +
      "that grow the block past a rung keep the write-time keys and " +
      "stay probe-able") {
    // 60 history rows: ladder gives 4 bits (targetLoad·2^4 = 64 ≥ 60);
    // a one-shot build on 140 would give 5 — the frozen contract is
    // what keeps the persisted keys valid without re-keying history
    val h0 = embDf((0 until 60).map(i =>
      (2L * i + 100L, 1, Seq(1.0, i / 60.0, 0.0, 0.0))))
    val grow = embDf((0 until 80).map(i =>
      (2L * i + 300L, 1, Seq(0.0, 0.0, 1.0, i / 80.0))))
    val probe = embDf(Seq((1L, 1, Seq(0.0, 0.0, 0.999, 0.001))))
    val (base, path) = freshBase()
    try {
      EmbedStore.write(h0, base, path)
      val bitsBefore = spark.table(s"${base}_bbits")
        .select("bits").collect().map(_.getInt(0)).toSeq
      assert(bitsBefore == Seq(4), s"write-time bits: $bitsBefore")
      EmbedStore.append(spark, base, grow)
      val bitsAfter = spark.table(s"${base}_bbits")
        .select("bits").collect().map(_.getInt(0)).toSeq
      assert(bitsAfter == Seq(4),
        s"append re-derived the frozen bits: $bitsAfter")
      val got = verdictMap(
        EmbedStore.bandedDedupAgainst(spark, base, probe, tau))
      assert(got(1L)._1 >= 1L && got(1L)._2 == 300L,
        s"appended near-dup not found through frozen keys: $got")
    } finally cleanup(base, path)
  }

  test("append grows the cell radius: an appended outlier far outside " +
      "its routed cell's build-time radius is still found") {
    val history = embDf(Seq(
      (2L, 7, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, 7, Seq(0.99, 0.01, 0.0, 0.0)),
      (6L, 7, Seq(0.98, 0.02, 0.0, 0.0))))
    // ~90° from every build-time member: under the OLD radius its
    // routed cell's upper bound for a probe near it is ≈ cos(90°) — far
    // below τ, so without the radius rewrite the probe would prune the
    // cell and miss the verdict silently
    val outlier = embDf(Seq((10L, 7, Seq(0.0, 1.0, 0.0, 0.0))))
    val probe = embDf(Seq((11L, 7, Seq(0.0, 0.99, 0.1, 0.0))))
    val (base, path) = freshBase()
    try {
      EmbedStore.write(history, base, path)
      val before = verdictMap(EmbedStore.dedupAgainst(spark, base, probe, tau))
      assert(before(11L) == ((0L, -1L, 0.0)),
        s"probe matched pre-append history: $before")
      EmbedStore.append(spark, base, outlier)
      val after = verdictMap(EmbedStore.dedupAgainst(spark, base, probe, tau))
      assert(after(11L)._1 == 1L && after(11L)._2 == 10L &&
        after(11L)._3 >= 0.98, s"outlier not found after append: $after")
    } finally cleanup(base, path)
  }

  test("appending a label the store has never seen forms a new cell " +
      "that later probes find") {
    val history = embDf(Seq(
      (2L, 1, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, 1, Seq(0.9, 0.1, 0.0, 0.0))))
    val newLabel = embDf(Seq(
      (20L, 9, Seq(0.0, 1.0, 0.0, 0.0)),
      (22L, 9, Seq(0.0, 0.0, 1.0, 0.0))))
    val probe = embDf(Seq((21L, 9, Seq(0.0, 0.99, 0.1, 0.0))))
    val (base, path) = freshBase()
    try {
      EmbedStore.write(history, base, path)
      assert(verdictMap(EmbedStore.dedupAgainst(spark, base, probe, tau))
        .apply(21L) == ((0L, -1L, 0.0)))
      EmbedStore.append(spark, base, newLabel)
      val after = verdictMap(EmbedStore.dedupAgainst(spark, base, probe, tau))
      assert(after(21L)._1 == 1L && after(21L)._2 == 20L,
        s"new-label vectors not probed: $after")
    } finally cleanup(base, path)
  }

  test("rebuildBandedLeg is generation-atomic (r15): the OLD key " +
      "generation serves all through a staged rebuild — a crash before " +
      "the commit leaves pre-rebuild verdicts, never a refusal — and " +
      "the committed rebuild's verdicts ≡ a fresh write's") {
    // near-identical vectors share every band key → one hot bucket per
    // band; cap=4 with 3 appended generations grows it to ~16 rows, so
    // the probe's match COUNT itself distinguishes which generation is
    // serving (old ≈ 16 bucket rows, rebuilt ≈ 4)
    def nearDups(ids: Range) = embDf(ids.map(i =>
      (i.toLong, 1, Seq(1.0, 0.0005 * (i % 7), 0.0, 0.0))))
    val all = nearDups(100 until 110)
      .unionByName(nearDups(200 until 210))
      .unionByName(nearDups(300 until 310))
      .unionByName(nearDups(400 until 410))
    val probe = embDf(Seq((1L, 1, Seq(0.9999, 0.0001, 0.0, 0.0))))
    val (base, path) = freshBase()
    val (cb, cp) = freshBase() // fresh-write control twin
    def banded() = verdictMap(
      EmbedStore.bandedDedupAgainst(spark, base, probe, tau))
    def gens() = spark.table(s"${base}_bands")
      .select("bgen").distinct().collect().map(_.getInt(0)).toSet
    try {
      EmbedStore.write(nearDups(100 until 110), base, path,
        geometry = cap4)
      EmbedStore.append(spark, base, nearDups(200 until 210))
      EmbedStore.append(spark, base, nearDups(300 until 310))
      EmbedStore.append(spark, base, nearDups(400 until 410))
      EmbedStore.write(all, cb, cp, geometry = cap4)
      val before = banded()
      val control = verdictMap(
        EmbedStore.bandedDedupAgainst(spark, cb, probe, tau))
      // the grown store really does serve more candidates than a fresh
      // build would — otherwise the atomicity claims below are vacuous
      assert(before(1L)._1 > control(1L)._1,
        s"growth did not widen the probe: $before vs control $control")
      // CRASH INJECTION: stage lands the new generation beside the old
      // one, then the "crash" — no commit
      val staged = EmbedStore.rebuildStage(spark, base)
      try {
        assert(gens() == Set(1, 2),
          s"stage must hold BOTH generations: ${gens()}")
        assert(banded() == before,
          "old generation must keep serving through a staged rebuild " +
            "(no refusal, pre-rebuild verdicts)")
        // the commit: one atomic bbits swap flips every probe
        EmbedStore.rebuildCommit(spark, base, staged)
        val after = banded()
        assert(after == control,
          s"committed rebuild must ≡ a fresh write: $after vs $control")
        // cleanup retires elder rows without changing verdicts
        EmbedStore.rebuildCleanup(spark, base, staged.gen)
        assert(gens() == Set(2), s"elder generation survived: ${gens()}")
        assert(banded() == after)
        // the whole declared op end-to-end converges too (gen 3)
        EmbedStore.rebuildBandedLeg(spark, base)
        assert(banded() == control && gens() == Set(3))
      } finally org.apache.spark.sql.GraftDatasetBridge
        .freeLocalCheckpoint(staged.bbits)
    } finally {
      cleanup(base, path)
      cleanup(cb, cp)
    }
  }

  test("deferred rebuildCleanup is BOUNDED (r16): operators that skip " +
      "the cleanup step carry at most ONE elder generation — the next " +
      "stage drops it, so G skipped cleanups never accumulate G " +
      "generations of filtered-but-scanned rows") {
    // the elder-row bound is structural: rebuildStage carries ONLY the
    // serving generation's rows beside the new one (orphans of any
    // older generation are dropped there), so _bands row growth under
    // deferred cleanup is ≤ 2× serving regardless of rebuild count
    val history = embDf((0 until 12).map(i =>
      (100L + i, 1, Seq(1.0, 0.001 * i, 0.0, 0.0))))
    val probe = embDf(Seq((1L, 1, Seq(0.9999, 0.0001, 0.0, 0.0))))
    val (base, path) = freshBase()
    def banded() = verdictMap(
      EmbedStore.bandedDedupAgainst(spark, base, probe, tau))
    def gens() = spark.table(s"${base}_bands")
      .select("bgen").distinct().collect().map(_.getInt(0)).toSet
    try {
      EmbedStore.write(history, base, path)
      val want = banded()
      // rebuild 1, cleanup SKIPPED: the elder generation rides along
      val s1 = EmbedStore.rebuildStage(spark, base)
      try EmbedStore.rebuildCommit(spark, base, s1)
      finally org.apache.spark.sql.GraftDatasetBridge
        .freeLocalCheckpoint(s1.bbits)
      assert(gens() == Set(1, 2),
        s"one skipped cleanup must carry exactly one elder: ${gens()}")
      assert(banded() == want)
      // rebuild 2, cleanup skipped AGAIN: stage drops generation 1 —
      // the carried set never exceeds {serving, new}
      val s2 = EmbedStore.rebuildStage(spark, base)
      try EmbedStore.rebuildCommit(spark, base, s2)
      finally org.apache.spark.sql.GraftDatasetBridge
        .freeLocalCheckpoint(s2.bbits)
      assert(gens() == Set(2, 3),
        s"the second stage must retire the first's elder: ${gens()}")
      assert(banded() == want)
    } finally cleanup(base, path)
  }

  test("bandedStaleness (r15): n_meas pins the measured basis, appends " +
      "grow n_app per touched label, fresh labels start their own " +
      "clock, and a declared rebuild resets it") {
    val history = embDf((0 until 10).map(i =>
        (100L + i, 1, Seq(1.0, i / 10.0, 0.0, 0.0))) ++
      (0 until 4).map(i => (200L + i, 2, Seq(0.0, 1.0, i / 4.0, 0.0))))
    val app1 = embDf((0 until 6).map(i =>
        (300L + i, 1, Seq(0.0, 0.0, 1.0, i / 6.0))) ++
      (0 until 3).map(i => (400L + i, 9, Seq(0.0, i / 3.0, 0.0, 1.0))))
    val app2 = embDf((0 until 2).map(i =>
      (500L + i, 9, Seq(1.0, 0.0, i / 2.0, 0.0))))
    val (base, path) = freshBase()
    def stale() = EmbedStore.bandedStaleness(spark, base).collect()
      .map(r => r.getInt(0) -> ((r.getBoolean(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    try {
      EmbedStore.write(history, base, path)
      val s0 = stale()
      assert(s0(1) == ((false, 1, 10L, 0L, 0.0)) &&
        s0(2) == ((false, 1, 4L, 0L, 0.0)), s"post-write basis: $s0")
      EmbedStore.append(spark, base, app1)
      val s1 = stale()
      assert(s1(1)._3 == 10L && s1(1)._4 == 6L,
        s"label-1 counter must grow by the batch block: $s1")
      assert(s1(1)._5 == 6.0 / 16.0, s"stale_frac: $s1")
      assert(s1(2)._4 == 0L, s"untouched label-2 counter moved: $s1")
      // the fresh label's clock starts at ITS first block size — the
      // basis its implicit cont=false verdict rests on
      assert(s1(9) == ((false, 1, 3L, 0L, 0.0)), s"fresh label-9: $s1")
      EmbedStore.append(spark, base, app2)
      val s2 = stale()
      assert(s2(9)._3 == 3L && s2(9)._4 == 2L && s2(9)._5 == 0.4,
        s"label-9 second append: $s2")
      // the declared rebuild re-measures: every clock resets, the
      // basis becomes the CURRENT block sizes, the generation advances
      EmbedStore.rebuildBandedLeg(spark, base)
      val s3 = stale()
      assert(s3(1) == ((false, 2, 16L, 0L, 0.0)) &&
        s3(2) == ((false, 2, 4L, 0L, 0.0)) &&
        s3(9) == ((false, 2, 5L, 0L, 0.0)),
        s"rebuild must reset the staleness clock: $s3")
    } finally cleanup(base, path)
  }

  test("crash replay converges: cells rewritten but lists not landed — " +
      "verdicts stay sound, the replay ends identical to an uncrashed " +
      "append, and re-appending after success changes nothing") {
    val history = embDf(Seq(
      (2L, 1, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, 1, Seq(0.9, 0.1, 0.0, 0.0))))
    val batchA = embDf(Seq((10L, 1, Seq(0.0, 1.0, 0.0, 0.0))))
    val probe = embDf(Seq(
      (11L, 1, Seq(0.0, 0.99, 0.1, 0.0)),
      (13L, 1, Seq(0.97, 0.03, 0.0, 0.0))))
    // control: an uncrashed write+append
    val (cb, cp) = freshBase()
    val (base, path) = freshBase()
    try {
      EmbedStore.write(history, cb, cp)
      EmbedStore.append(spark, cb, batchA)
      val control = verdictMap(EmbedStore.dedupAgainst(spark, cb, probe, tau))
      EmbedStore.write(history, base, path)
      // crash between the legs: radius grown, lists rows never landed
      val (routed, grownCells) = EmbedStore.planAppend(spark, base, batchA)
      EmbedStore.appendCellsLeg(spark, base, grownCells)
      val crashed = verdictMap(EmbedStore.dedupAgainst(spark, base, probe, tau))
      // conservative state: wider radius adds candidate cells but no
      // vectors — verdicts are the pre-append ones, nothing false
      assert(crashed(10L + 1) == ((0L, -1L, 0.0)) &&
        crashed(13L)._2 == 2L, s"crashed state unsound: $crashed")
      // the replay re-runs BOTH legs from scratch
      EmbedStore.append(spark, base, batchA)
      val replayed = verdictMap(EmbedStore.dedupAgainst(spark, base, probe, tau))
      assert(replayed == control, s"$replayed != $control")
      // replay after SUCCESS (duplicate lists rows): pair-level dedupe
      // keeps verdicts identical
      EmbedStore.append(spark, base, batchA)
      assert(verdictMap(EmbedStore.dedupAgainst(spark, base, probe, tau))
        == control)
      // compaction is verdict-stable
      EmbedStore.compact(spark, base)
      assert(verdictMap(EmbedStore.dedupAgainst(spark, base, probe, tau))
        == control)
    } finally { cleanup(base, path); cleanup(cb, cp) }
  }
}
