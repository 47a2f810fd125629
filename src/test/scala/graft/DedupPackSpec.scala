package graft

import org.apache.spark.sql.functions._

class DedupPackSpec extends GraftSpec {

  test("dedup_exact groups identical normalized texts") {
    import spark.implicits._
    // plant: 1/2 identical modulo case+whitespace, 3 distinct
    val df = Seq(
      (1L, "Alpha beta  gamma"),
      (2L, "  alpha BETA gamma "),
      (3L, "something else entirely")).toDF("doc_id", "text")
    df.createOrReplaceTempView("planted")
    val out = df
      .select(col("doc_id"),
        md5(graft.functions.Portable.normText(col("text"))).as("fp"))
      .groupBy("fp").count().collect()
    assert(out.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
  }

  test("dedup_minhash finds the planted near-dup pairs at sf0.001") {
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sfDir).collect()
    // every reported pair really is >= tau by exact Jaccard
    pairs.foreach { r =>
      assert(r.getDouble(r.fieldIndex("jaccard")) >= 0.8)
      assert(r.getLong(r.fieldIndex("doc_a")) <
        r.getLong(r.fieldIndex("doc_b")))
      // 64 bands x 2 rows at j>=0.8: nearly all bands should collide
      assert(r.getLong(r.fieldIndex("n_shared_bands")) >= 1)
    }
  }

  test("dedup_minhash candidates superset: high-Jaccard pairs survive LSH") {
    // brute-force exact Jaccard over all pairs; every pair >= tau must be
    // reported by the banded query (recall check on real data)
    import spark.implicits._
    val sh = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), graft.functions.Portable.shingles3(
        graft.functions.Portable.words(col("text"))).as("sh"))
      .filter(size(col("sh")) >= 1)
      .as[(Long, Seq[String])].collect().map(t => t._1 -> t._2.toSet)
    val want = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if math.rint(j * 1e6) / 1e6 >= 0.8
    } yield (a, b)).toSet
    val got = SparkEntry.queries("dedup_minhash")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("passage_dedup matches a JVM-side recompute of the whole operator") {
    // independent oracle in plain Scala: chunk each doc into 32-word
    // passages, first (doc_id, idx) per md5 wins, reassemble survivors
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
    val chunks = docs.flatMap { case (id, w) =>
      w.grouped(32).zipWithIndex.map { case (c, i) =>
        (id, i.toLong, c.mkString(" "))
      }
    }
    val winner = chunks.groupBy(t => md5hex(t._3))
      .map { case (h, cs) => h -> cs.map(t => t._1 * 100000L + t._2).min }
    val expected = chunks.groupBy(_._1).map { case (id, cs) =>
      val kept = cs.filter(t => winner(md5hex(t._3)) == t._1 * 100000L + t._2)
      id -> (cs.length.toLong, (cs.length - kept.length).toLong,
        md5hex(kept.sortBy(_._2).map(_._3).mkString(" ")))
    }
    val got = SparkEntry.queries("passage_dedup")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == expected)
    // the data actually exercises the dup path
    assert(expected.values.map(_._2).sum > 0,
      "no duplicate passages in test data — dup path untested")
  }

  test("boilerplate_strip removes df>=2 chunks everywhere, unlike passage_dedup") {
    import spark.implicits._
    // 32-word boilerplate block shared by docs 1..3 (df=3 -> stripped
    // from ALL, including the first occurrence); each doc also carries
    // a unique 32-word body chunk (df=1 -> kept)
    val boiler = (1 to 32).map(i => s"nav$i").mkString(" ")
    def body(id: Int) = (1 to 32).map(i => s"body${id}w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler ${body(1)}"),
      (2L, s"$boiler ${body(2)}"),
      (3L, s"${body(3)} $boiler"),
      (4L, body(4))).toDF("doc_id", "text")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = graft.operators.DedupPack.boilerplateStripOver(docs)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((2L, 1L, md5hex(body(1)))))
    assert(got(2L) == ((2L, 1L, md5hex(body(2)))))
    assert(got(3L) == ((2L, 1L, md5hex(body(3)))))
    assert(got(4L) == ((1L, 0L, md5hex(body(4)))))
    // contrast: passage_dedup KEEPS the first occurrence of the block
    val pd = graft.operators.DedupPack.passageDedupOver(docs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pd(1L) == 0L, "passage_dedup keeps doc 1's first occurrence")
    assert(pd(2L) == 1L && pd(3L) == 1L)
  }

  test("boilerplate_strip at sf0.001 strips exactly the df>=2 chunks") {
    // independent JVM recompute of the df rule over the real table
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
    val chunks = docs.flatMap { case (id, w) =>
      w.grouped(32).zipWithIndex.map { case (c, i) =>
        (id, i.toLong, c.mkString(" "))
      }
    }
    val df = chunks.groupBy(t => md5hex(t._3))
      .map { case (h, cs) => h -> cs.map(_._1).distinct.size }
    val expected = chunks.groupBy(_._1).map { case (id, cs) =>
      val kept = cs.filter(t => df(md5hex(t._3)) < 2)
      id -> (cs.length.toLong, (cs.length - kept.length).toLong,
        md5hex(kept.sortBy(_._2).map(_._3).mkString(" ")))
    }
    val got = SparkEntry.queries("boilerplate_strip")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == expected)
  }

  test("semantic_dedup: one verdict per doc, both signals merged") {
    // sf0.01, not the default sf0.001: C10 merges embedding pairs at the
    // 0.45 NEAR-DUP τ (not D6's 0.3 range-demo τ), and sf0.001's densest
    // within-label pair sits at cos 0.4489 — only sf0.01 carries real
    // near-dup pairs to assert the embedding signal on.
    val dir = "/root/testdata/sf0.01"
    val sem = SparkEntry.queries("semantic_dedup")(spark, dir).collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(sem.length == nDocs, "one verdict per document")
    val cluster = sem.map(r => r.getLong(0) -> r.getLong(1)).toMap
    sem.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(0) != r.getLong(1)))
      assert(r.getLong(1) <= r.getLong(0), "canonical is the minimum")
    }
    // every lexical (minhash) cluster is contained in one semantic one
    SparkEntry.queries("dedup_cluster")(spark, dir).collect()
      .groupBy(_.getLong(1)).values.foreach { grp =>
        assert(grp.map(r => cluster(r.getLong(0))).distinct.length == 1,
          "a minhash cluster split across semantic clusters")
      }
    // every embedding pair at C10's NEAR-DUP τ lands in the same
    // semantic cluster (D6's wider 0.3 range-demo pairs are
    // deliberately NOT merged — cos 0.3 is not a dup verdict)
    val rp = SparkEntry.queries("ann_range_search")(spark, dir).collect()
      .filter(_.getDouble(3) >= graft.operators.DedupPack.semanticTau)
    assert(rp.nonEmpty)
    rp.foreach { r =>
      assert(cluster(r.getLong(0)) == cluster(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} not merged")
    }
  }

  test("clusterPairs memo: a reconstructed identical plan returns the memoized frame") {
    // the memo exists because plan truncation makes the CC loop
    // invisible to the CacheManager — if the canonicalized-plan key is
    // unstable across reconstructions (e.g. a custom node leaking
    // object identity into canonicalization), every repeat invocation
    // silently re-runs the whole contraction
    def edges = spark.range(200).select(
      (col("id") % 50).as("u"), (col("id") % 50 + (col("id") % 3)).as("v"))
    val first = graft.operators.DedupPack.clusterPairs(edges)
    val second = graft.operators.DedupPack.clusterPairs(edges)
    assert(first eq second,
      "identical reconstructed input missed the clusterPairs memo")
    // and the real registry path: the semantic_dedup union-graph plan
    // must also key stably (it runs through rangePairs + TopKPerKey
    // custom nodes whose canonicalization this pins)
    val q = SparkEntry.queries("semantic_dedup")
    q(spark, sfDir).count()
    val before = graft.operators.DedupPack.lastCcRounds
    graft.operators.DedupPack.lastCcRounds = -1
    q(spark, sfDir).count()
    assert(graft.operators.DedupPack.lastCcRounds == -1,
      s"semantic_dedup repeat re-ran the CC loop ($before rounds) — memo key unstable")
  }

  test("dedup_incremental: history store verdicts + zero-exchange history scan") {
    import spark.implicits._
    import graft.sources.FingerprintStore
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val history = Seq(
      (2L, "aaa bbb ccc"), (4L, "dup dup dup"), (6L, "xyz zyx")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "dup dup dup"),      // re-ingested history content
      (3L, "aaa bbb ccc"),      // ditto
      (5L, "novel text here"),  // within-batch dup group, the winner
      (7L, "novel text here"),  // within-batch dup
      (9L, "singleton doc")     // clean
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-fp").toString
    FingerprintStore.write(history, "fp_spec", s"$tmp/store")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force the sort-merge path so the in-place bucket read is what's
      // tested (at spec scale Spark would broadcast the tiny store)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = FingerprintStore.dedupAgainst(spark, "fp_spec", batch)
      val rows = out.collect()
        .map(r => r.getLong(0) ->
          (r.getLong(2), r.getBoolean(3), r.getBoolean(4))).toMap
      assert(rows == Map(
        1L -> (4L, true, true),   // canonical is the HISTORY doc
        3L -> (2L, true, true),
        5L -> (5L, false, false), // batch-internal winner
        7L -> (5L, false, true),  // batch-internal dup, not in history
        9L -> (9L, false, false)))
      // structural: the history side of the probe join reads its
      // buckets in place — no shuffle exchange anywhere above the
      // store scan (only the batch side moves)
      def storeScan(p: SparkPlan) = p.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.nonEmpty
      def shuffles(p: SparkPlan) = p.collect {
        case e: ShuffleExchangeExec => e
      }
      val plan = out.queryExecution.executedPlan
      val smjStoreSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right).filter(storeScan))
      assert(smjStoreSides.nonEmpty,
        s"store probe is not a sort-merge join:\n$plan")
      smjStoreSides.foreach(side => assert(shuffles(side).isEmpty,
        s"history side re-shuffled:\n$side"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql("DROP TABLE IF EXISTS fp_spec")
    }
  }

  test("dedup_incremental_minhash: near-dup verdicts from the persisted band store") {
    import spark.implicits._
    import graft.sources.MinHashStore
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val history = Seq(
      (2L, base),                                   // near-dup source
      (4L, (1 to 40).map(i => s"x$i").mkString(" ")) // exact-dup source
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base.replace("w20", "zz")),               // 1 word off => J≈0.85
      (3L, (1 to 40).map(i => s"q$i").mkString(" ")), // novel
      (5L, (1 to 40).map(i => s"x$i").mkString(" "))  // exact re-ingest
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh").toString
    MinHashStore.write(history, "mh_spec", s"$tmp/store")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = MinHashStore.dedupAgainst(spark, "mh_spec", batch)
      val rows = out.collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(rows(1L)._1 == 1L && rows(1L)._2 == 2L,
        s"one-word-off batch doc should near-dup history doc 2: $rows")
      assert(rows(1L)._3 >= 0.8 && rows(1L)._3 < 1.0)
      assert(rows(3L) == ((0L, -1L, 0.0)), "novel doc matched history")
      assert(rows(5L) == ((1L, 4L, 1.0)), "exact re-ingest must score 1.0")
      // both persisted store sides read their buckets in place: no
      // shuffle exchange above either bucketed scan
      def storeScan(p: SparkPlan) = p.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.nonEmpty
      def shuffles(p: SparkPlan) = p.collect {
        case e: ShuffleExchangeExec => e
      }
      val plan = out.queryExecution.executedPlan
      // a STORE side is the join input that is the bucketed scan itself
      // (scan + local sort/filter/project only — no nested join; the
      // other input is the batch lineage, which may legitimately
      // contain the bands-store join deeper inside it)
      val storeSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right))
        .filter(side => storeScan(side) &&
          side.collect { case n: SortMergeJoinExec => n }.isEmpty)
      assert(storeSides.size >= 2,
        s"expected band AND shingle store probes as sort-merge joins:\n$plan")
      storeSides.foreach(side => assert(shuffles(side).isEmpty,
        s"store side re-shuffled:\n$side"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql("DROP TABLE IF EXISTS mh_spec_bands")
      spark.sql("DROP TABLE IF EXISTS mh_spec_shingles")
    }
  }

  test("ingest loop: append folds novel fingerprints in; canonicals stay stable") {
    import spark.implicits._
    import graft.sources.FingerprintStore
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val history = Seq((2L, "seed content")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-fp-app").toString
    FingerprintStore.write(history, "fp_app", s"$tmp/store")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val b1 = Seq(
        (11L, "fresh one"), (13L, "fresh one"), (15L, "seed content")
      ).toDF("doc_id", "text")
      FingerprintStore.dedupAgainst(spark, "fp_app", b1).count()
      FingerprintStore.append(spark, "fp_app", b1)
      // novel-only: "seed content" was known — the store must not grow
      // a second row for it (a duplicate fingerprint row would fan the
      // probe join out and reassign canonicals)
      assert(spark.table("fp_app").count() == 2)
      val b2 = Seq(
        (21L, "fresh one"),    // b1 content, appended: now history
        (23L, "seed content"), // original history: canonical UNCHANGED
        (25L, "unseen")        // novel in b2
      ).toDF("doc_id", "text")
      val out2 = FingerprintStore.dedupAgainst(spark, "fp_app", b2)
      val rows = out2.collect()
        .map(r => r.getLong(0) ->
          (r.getLong(2), r.getBoolean(3), r.getBoolean(4))).toMap
      assert(rows == Map(
        21L -> (11L, true, true),  // canonical = b1's batch minimum
        23L -> (2L, true, true),   // append did not reassign
        25L -> (25L, false, false)), s"got $rows")
      // the appended store (2 files in some buckets) must STILL probe
      // with in-place bucket reads: a local sort may appear below the
      // sort-merge join, an exchange must not
      def storeScan(p: SparkPlan) = p.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.nonEmpty
      val plan = out2.queryExecution.executedPlan
      val smjStoreSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right).filter(storeScan))
      assert(smjStoreSides.nonEmpty,
        s"store probe is not a sort-merge join:\n$plan")
      smjStoreSides.foreach(side => assert(
        side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"appended store side re-shuffled:\n$side"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql("DROP TABLE IF EXISTS fp_app")
    }
  }

  test("compact: appended store collapses to one file per bucket, verdicts identical") {
    import spark.implicits._
    import graft.sources.FingerprintStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-fp-cmp").toString
    FingerprintStore.write(
      (1L to 20L).map(i => (i, s"seed text number $i")).toDF("doc_id", "text"),
      "fp_cmp", s"$tmp/store")
    try {
      FingerprintStore.append(spark, "fp_cmp",
        (21L to 30L).map(i => (i, s"appended text $i")).toDF("doc_id", "text"))
      FingerprintStore.append(spark, "fp_cmp",
        (31L to 40L).map(i => (i, s"late text $i")).toDF("doc_id", "text"))
      def dataFiles() = {
        val loc = new java.net.URI(spark.sessionState.catalog
          .getTableMetadata(spark.sessionState.sqlParser
            .parseTableIdentifier("fp_cmp")).location.toString).getPath
        new java.io.File(loc).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      }
      val before = dataFiles()
      val probe = Seq((51L, "appended text 25"), (53L, "seed text number 3"),
        (55L, "novel")).toDF("doc_id", "text")
      val want = FingerprintStore.dedupAgainst(spark, "fp_cmp", probe)
        .collect().map(_.toString).sorted.toSeq
      // resolved BEFORE compact, collected AFTER: the one-generation
      // grace keeps the retired dir's files on disk until the NEXT
      // compaction, so this frame's captured scan still reads
      val lazyBefore = FingerprintStore.dedupAgainst(spark, "fp_cmp", probe)
      FingerprintStore.compact(spark, "fp_cmp")
      val after = dataFiles()
      // three writes of 40 fingerprints fragment the 8 buckets into many
      // files; the compacted layout is AT MOST one file per bucket
      assert(before.size > after.size && after.size <= 8,
        s"compact did not shrink the file set: ${before.size} -> ${after.size}")
      val got = FingerprintStore.dedupAgainst(spark, "fp_cmp", probe)
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, "verdicts changed across compact")
      assert(lazyBefore.collect().map(_.toString).sorted.toSeq == want,
        "pre-compact lazy frame broke across compact (grace violated)")
      // repeated compaction alternates generation dirs, not accumulates
      FingerprintStore.compact(spark, "fp_cmp")
      assert(new java.net.URI(spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser
          .parseTableIdentifier("fp_cmp")).location.toString).getPath
        .endsWith("__g2"))
      // compact #2 retires __g1 (kept) and deletes the elder original
      // dir that compact #1 retired
      assert(!new java.io.File(s"$tmp/store").exists,
        "elder generation dir not deleted by the next compaction")
      assert(new java.io.File(s"$tmp/store__g1").exists,
        "the just-retired generation must survive until the next compact")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fp_cmp")
    }
  }

  test("ingest loop: minhash store append makes batch1 visible to batch2") {
    import spark.implicits._
    import graft.sources.MinHashStore
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val history = Seq(
      (2L, (1 to 40).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-app").toString
    MinHashStore.write(history, "mh_app", s"$tmp/store")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val b1 = Seq((11L, base)).toDF("doc_id", "text")
      val v1 = MinHashStore.dedupAgainst(spark, "mh_app", b1)
      assert(v1.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq == Seq((11L, 0L)), "b1 should be novel vs seed history")
      // survivor policy: append only the docs with no history near-dup
      MinHashStore.append(spark, "mh_app",
        b1.join(v1.filter(col("n_hist_matches") === 0).select("doc_id"),
          "doc_id"))
      val b2 = Seq(
        (21L, base.replace("w20", "zz")), // near-dups APPENDED doc 11
        (23L, (1 to 40).map(i => s"q$i").mkString(" ")) // novel
      ).toDF("doc_id", "text")
      val out2 = MinHashStore.dedupAgainst(spark, "mh_app", b2)
      val rows = out2.collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(rows(21L)._1 == 1L && rows(21L)._2 == 11L,
        s"b2 near-dup must resolve to the appended b1 doc: $rows")
      assert(rows(21L)._3 >= 0.8 && rows(21L)._3 < 1.0)
      assert(rows(23L) == ((0L, -1L, 0.0)), s"novel doc matched: $rows")
      // in-place bucket reads survive the append on BOTH store tables
      def storeScan(p: SparkPlan) = p.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.nonEmpty
      val plan = out2.queryExecution.executedPlan
      val storeSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right))
        .filter(side => storeScan(side) &&
          side.collect { case n: SortMergeJoinExec => n }.isEmpty)
      assert(storeSides.size >= 2,
        s"expected band AND shingle store probes as sort-merge joins:\n$plan")
      storeSides.foreach(side => assert(
        side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"appended store side re-shuffled:\n$side"))
      // compacting BOTH store tables must leave every verdict unchanged
      MinHashStore.compact(spark, "mh_app")
      val rows2 = MinHashStore.dedupAgainst(spark, "mh_app", b2).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(rows2 == rows, "verdicts changed across minhash-store compact")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql("DROP TABLE IF EXISTS mh_app_bands")
      spark.sql("DROP TABLE IF EXISTS mh_app_shingles")
    }
  }

  test("minhash store: viral band buckets capped deterministically") {
    import spark.implicits._
    import graft.sources.MinHashStore
    val viral = (1 to 40).map(i => s"v$i").mkString(" ")
    // 120 identical docs: without a cap every band bucket of the viral
    // text holds all 120 — the boilerplate-heavy-history shape whose
    // probe fanout the cap exists to bound
    val history = ((1000L to 1119L).map(i => (i, viral)) :+
      ((5L, (1 to 40).map(i => s"y$i").mkString(" "))))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-cap")
      .toString
    MinHashStore.write(history, "mh_cap", s"$tmp/store", maxPerBucket = 8)
    try {
      val byBucket = spark.table("mh_cap_bands").groupBy("bkey")
        .agg(count(lit(1)).as("n"), collect_set("h_id").as("ids"))
        .collect()
      assert(byBucket.forall(_.getLong(1) <= 8),
        "a band bucket exceeded the write cap")
      val viralBuckets = byBucket.filter(_.getLong(1) == 8)
      assert(viralBuckets.nonEmpty, "expected capped viral buckets")
      // retained set = the 8 SMALLEST doc ids, not an arrival-order
      // sample: reproducible across writers and partitionings
      viralBuckets.foreach { r =>
        val ids = r.getSeq[Long](2).sorted
        assert(ids == (1000L to 1007L),
          s"retained set is not the 8 smallest doc ids: $ids")
      }
      // capped-out docs leave NO dead shingle rows: the shingle store
      // (the heavyweight table) holds exactly the band-reachable docs
      val shIds = spark.table("mh_cap_shingles").select("h_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(shIds == (5L +: (1000L to 1007L)).sorted,
        s"shingle store must hold only band-reachable docs: $shIds")
      // a near-dup probe of the viral text still resolves — against
      // exactly the retained docs, so candidate fanout is cap-bounded
      val batch = Seq(
        (1L, viral.replace("v20", "zz")),
        (3L, (1 to 40).map(i => s"n$i").mkString(" "))
      ).toDF("doc_id", "text")
      val rows = MinHashStore.dedupAgainst(spark, "mh_cap", batch)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(rows(1L)._1 == 8L && rows(1L)._2 == 1000L,
        s"viral near-dup must verify against the 8 retained docs: $rows")
      assert(rows(1L)._3 >= 0.8 && rows(1L)._3 < 1.0)
      assert(rows(3L) == ((0L, -1L, 0.0)), s"novel doc matched: $rows")
      // append applies the same cap to ITS batch (per-ingest-unit bound)
      MinHashStore.append(spark, "mh_cap",
        (2000L to 2099L).map(i => (i, viral)).toDF("doc_id", "text"),
        maxPerBucket = 4)
      val after = spark.table("mh_cap_bands").groupBy("bkey")
        .agg(count(lit(1)).as("n")).agg(max("n")).collect()(0).getLong(0)
      assert(after <= 12, s"append exceeded its per-batch cap: $after")
      // the appended batch's capped-out docs are pruned the same way
      val shAfter = spark.table("mh_cap_shingles").select("h_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(shAfter ==
        ((5L +: (1000L to 1007L)) ++ (2000L to 2003L)).sorted,
        s"append wrote unreachable shingle rows: $shAfter")
    } finally {
      spark.sql("DROP TABLE IF EXISTS mh_cap_bands")
      spark.sql("DROP TABLE IF EXISTS mh_cap_shingles")
    }
  }

  test("minhash store rebuild (r15): the per-ingest-unit cap grows a " +
      "hot bucket by ~cap per append GENERATION; the declared rebuild " +
      "re-caps to the smallest ids across generations, prunes the " +
      "shingle table to reachable docs, and at a non-binding cap is a " +
      "pure duplicate collapse with verdicts untouched") {
    import spark.implicits._
    import graft.sources.MinHashStore
    val viral = (1 to 40).map(i => s"g$i").mkString(" ")
    def dups(ids: Range) = ids.map(i => (i.toLong, viral))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-reb")
      .toString
    def maxBucket(base: String): Long = spark.table(s"${base}_bands")
      .groupBy("bkey").agg(count(lit(1)).as("n")).agg(max("n"))
      .collect()(0).getLong(0)
    def shingleIds(base: String): Seq[Long] =
      spark.table(s"${base}_shingles").select("h_id")
        .collect().map(_.getLong(0)).sorted.toSeq
    def verdicts(base: String, batch: org.apache.spark.sql.DataFrame) =
      MinHashStore.dedupAgainst(spark, base, batch).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    try {
      MinHashStore.write(dups(1000 until 1020), "mh_reb", s"$tmp/s",
        maxPerBucket = 4)
      assert(maxBucket("mh_reb") == 4)
      // two more ingest generations into the same hot buckets: the
      // documented (N+1)·cap growth the write-time cap cannot bound
      MinHashStore.append(spark, "mh_reb", dups(2000 until 2020),
        maxPerBucket = 4)
      MinHashStore.append(spark, "mh_reb", dups(3000 until 3020),
        maxPerBucket = 4)
      assert(maxBucket("mh_reb") == 12,
        s"expected 3 generations × cap rows: ${maxBucket("mh_reb")}")
      // compact PRESERVES rows (replay stability) — growth survives
      MinHashStore.compact(spark, "mh_reb")
      assert(maxBucket("mh_reb") == 12,
        "compact must not re-cap (verdict stability under replay)")
      // the declared rebuild re-tightens: cap-smallest ACROSS
      // generations, shingles pruned to what the capped bands reach
      MinHashStore.rebuild(spark, "mh_reb", maxPerBucket = 4)
      assert(maxBucket("mh_reb") == 4,
        s"rebuild did not re-cap: ${maxBucket("mh_reb")}")
      assert(shingleIds("mh_reb") == (1000L to 1003L),
        s"shingles not pruned to the re-capped reachable set: " +
          s"${shingleIds("mh_reb")}")
      val probe = Seq((1L, viral.replace("g20", "zz")))
        .toDF("doc_id", "text")
      val v = verdicts("mh_reb", probe)(1L)
      assert(v._1 == 4L && v._2 == 1000L,
        s"post-rebuild probe must verify against the 4 retained: $v")
      // non-binding cap: a replay-duplicated store rebuilds to the
      // SAME verdicts (pure dedupe — the gate-row contract)
      val hist = Seq((2L, viral),
        (4L, (1 to 40).map(i => s"h$i").mkString(" ")))
        .toDF("doc_id", "text")
      MinHashStore.write(hist, "mh_reb2", s"$tmp/s2")
      MinHashStore.append(spark, "mh_reb2", hist) // replayed ingest
      val before = verdicts("mh_reb2", probe)
      val rowsBefore = spark.table("mh_reb2_bands").count()
      MinHashStore.rebuild(spark, "mh_reb2")
      assert(spark.table("mh_reb2_bands").count() == rowsBefore / 2,
        "uncapped rebuild must collapse the replayed duplicate rows")
      assert(verdicts("mh_reb2", probe) == before,
        "uncapped rebuild changed verdicts")
    } finally {
      Seq("mh_reb_bands", "mh_reb_shingles", "mh_reb2_bands",
        "mh_reb2_shingles").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("incremental store memo resets with Caches.releaseAll — no stale-history probe after a dataset rewrite") {
    // The C11/C12 stores are memoized in a Caches.once cell (through
    // Caches.store); releaseAll must forget that cell and drop the
    // stores' tables like every other dataset-keyed artifact, or a
    // dataset dir rewritten in-session would be probed against the
    // STALE history store.
    SparkEntry.queries("dedup_incremental")(spark, sfDir).count()
    SparkEntry.queries("dedup_incremental_minhash")(spark, sfDir).count()
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(10)
    assert(spark.catalog.tableExists(s"graft_fp_store_$tag"))
    assert(spark.catalog.tableExists(s"graft_mh_store_${tag}_bands"))
    graft.Caches.releaseAll(blocking = true)
    assert(!spark.catalog.tableExists(s"graft_fp_store_$tag"),
      "fp store memo survived releaseAll — stale-history hazard")
    assert(!spark.catalog.tableExists(s"graft_mh_store_${tag}_bands") &&
      !spark.catalog.tableExists(s"graft_mh_store_${tag}_shingles"),
      "mh store memo survived releaseAll — stale-history hazard")
    // and the queries rebuild green after the reset
    assert(SparkEntry.queries("dedup_incremental")(spark, sfDir)
      .count() > 0)
  }

  test("minhash store cap: a true near-dup capped out of every shared bucket is silently missed — the documented recall trade") {
    import spark.implicits._
    import graft.sources.MinHashStore
    import graft.operators.DedupPack
    // The cap's honest bound (MinHashStore.capBands): band-key collision
    // is a MinHash coincidence, not jaccard >= τ, so when a true
    // near-dup's doc id is evicted from EVERY bucket it shares with a
    // probe, the retained colliders can ALL fail the exact verify and
    // the verdict goes silently missing. This test PLANTS exactly that:
    //  - probe P: 40 distinct words
    //  - true near-dup T = P with one interior word changed
    //    (J = 35/41 ≈ 0.854 >= τ=0.8), doc id 9999 — ABOVE every filler
    //  - fillers: T with a SECOND word changed — J vs T ≈ 0.854, so
    //    each variant collides on ~73% of T's band keys; J vs P = 32/44
    //    ≈ 0.727 < τ, so every retained candidate fails verification.
    //    20 variants × 8 copies at ids 100-259: any bucket T shares
    //    with P is shared by >= 8 smaller ids with near-certainty
    //    (uncovered-band probability 0.27^20 per band), and the
    //    smallest-id retention evicts T from all of them.
    val words = (1 to 40).map(i => s"m$i").toArray
    def text(changes: (Int, String)*): String = {
      val w = words.clone()
      changes.foreach { case (p, v) => w(p) = v }
      w.mkString(" ")
    }
    val probeText = text()
    val nearDup = text(34 -> "zz")
    val variants = (5 to 24).map(p => text(34 -> "zz", p -> s"f$p"))
    val fillers = variants.zipWithIndex.flatMap { case (t, vi) =>
      (0 until 8).map(c => (100L + vi * 8 + c, t))
    }
    val history = (fillers :+ ((9999L, nearDup))).toDF("doc_id", "text")
    val batch = Seq((1L, probeText)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-miss")
      .toString
    MinHashStore.write(history, "mh_miss", s"$tmp/c", maxPerBucket = 8)
    MinHashStore.write(history, "mh_miss_full", s"$tmp/f",
      maxPerBucket = Int.MaxValue)
    try {
      // plant sanity: the near-dup survived in NO bucket whose key the
      // probe carries (if this fires, widen the variant pool — the
      // texts are constants, so this is a construction check, not flake)
      val probeKeys = DedupPack.bandKeys(MinHashStore.shingleDocs(batch))
        .select(concat_ws(":", col("band").cast("string"), col("key"))
          .as("bkey"))
      assert(spark.table("mh_miss_bands")
        .filter(col("h_id") === 9999L)
        .join(probeKeys, Seq("bkey"), "left_semi").count() == 0,
        "plant failed: near-dup retained in a probe-shared bucket")
      def verdict(base: String) =
        MinHashStore.dedupAgainst(spark, base, batch).collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      // under the cap the true near-dup is MISSED — and the miss is
      // silent: candidates existed (the fillers), they just all failed
      // the jaccard >= τ verify
      assert(verdict("mh_miss")(1L) == ((0L, -1L, 0.0)),
        s"expected a silent miss under the cap: ${verdict("mh_miss")}")
      // the identical probe against the uncapped store finds it
      val full = verdict("mh_miss_full")(1L)
      assert(full._1 == 1L && full._2 == 9999L &&
        full._3 >= 0.8 && full._3 < 1.0,
        s"uncapped store must find the planted near-dup: $full")
    } finally {
      spark.sql("DROP TABLE IF EXISTS mh_miss_bands")
      spark.sql("DROP TABLE IF EXISTS mh_miss_shingles")
      spark.sql("DROP TABLE IF EXISTS mh_miss_full_bands")
      spark.sql("DROP TABLE IF EXISTS mh_miss_full_shingles")
    }
  }

  test("substring_dedup removes later occurrences of shared >=L runs only") {
    import spark.implicits._
    val run = "the quick brown fox jumps over the lazy dog today" // 10 toks
    val docs = Seq(
      (1L, s"intro words here $run and a unique tail one"),
      (2L, s"completely different opening text $run closing words two"),
      (3L, "no duplication in this document at all whatsoever"),
      (4L, "short doc"), // < L tokens: no windows, untouched
      (5L, "")).toDF("doc_id", "text")
    val out = graft.operators.DedupPack.substringDedupOver(docs, 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 holds the first occurrence: nothing removed
    assert(out(1L)._2 == 0L, "canonical occurrence must be kept")
    assert(out(1L)._3.contains("quick brown fox"))
    // doc 2's copy of the run is removed, its unique words survive
    assert(out(2L)._2 == 10L, s"all 10 run tokens marked: ${out(2L)}")
    assert(!out(2L)._3.contains("quick brown fox"))
    assert(out(2L)._3.contains("completely different opening text"))
    assert(out(2L)._3.contains("closing words two"))
    // unaffected docs round-trip token-identically
    assert(out(3L)._2 == 0L && out(3L)._3.startsWith("no duplication"))
    assert(out(4L) == ((2L, 0L, "short doc")))
    assert(out(5L) == ((0L, 0L, "")))
  }

  test("substring_dedup registry query matches a JVM recompute at sf0.001") {
    val got = SparkEntry.queries("substring_dedup")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // JVM-side oracle: same tokenization, same window election
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    val pat = "[a-z]+|[0-9]+|[^a-z0-9\\s]".r
    val toks = docs.map { case (id, t) =>
      id -> pat.findAllIn(t.toLowerCase).toVector }.toMap
    val L = 8
    val occ = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Int)]]
    toks.toSeq.sortBy(_._1).foreach { case (id, ts) =>
      (0 to ts.length - L).foreach { p =>
        val w = ts.slice(p, p + L).mkString(" ")
        occ.getOrElseUpdate(w,
          scala.collection.mutable.ArrayBuffer.empty) += ((id, p))
      }
    }
    val dup = scala.collection.mutable.Set.empty[(Long, Int)]
    occ.values.filter(_.size >= 2).foreach { sites =>
      val winner = sites.minBy { case (id, p) => id * 100000L + p }
      sites.filterNot(_ == winner).foreach { case (id, p) =>
        (p until p + L).foreach(i => dup += ((id, i)))
      }
    }
    val want = toks.map { case (id, ts) =>
      id -> (0 until ts.length).count(i => dup.contains((id, i))).toLong }
    docs.foreach { case (id, _) =>
      assert(got(id) == want.getOrElse(id, 0L),
        s"doc $id: engine ${got(id)} vs recompute ${want.getOrElse(id, 0L)}")
    }
  }

  test("ngram_jaccard pairs are symmetric-free and above threshold") {
    val rows = SparkEntry.queries("ngram_jaccard")(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("jaccard")) >= 0.5)
    }
    val ids = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.distinct.length == ids.length)
  }

  test("semantic_dedup_best: the election keeps the best-quality " +
      "member (doc_id tiebreak); unscored members lose; singletons " +
      "self-canonical") {
    import spark.implicits._
    val labels = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1: 2 has the top score
      (10L, 10L),                   // singleton
      (20L, 20L), (21L, 20L)        // tied scores -> lower doc_id wins
    ).toDF("doc_id", "cluster_id")
    val scores = Seq(
      (1L, 5L), (2L, 9L),           // 3 is unscored (< 2 words shape)
      (20L, 7L), (21L, 7L)
    ).toDF("doc_id", "score_q20")
    val got = operators.DedupPack.bestCanonicalOf(labels, scores)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("canonical_id"), r.getAs[Boolean]("is_dup"))))
      .toMap
    assert(got(1L) == ((2L, true)))
    assert(got(2L) == ((2L, false)))
    assert(got(3L) == ((2L, true)),
      "an unscored member must lose to any scored member")
    assert(got(10L) == ((10L, false)))
    assert(got(20L) == ((20L, false)), "score tie must break on doc_id")
    assert(got(21L) == ((20L, true)))
    // the election must be an aggregation + join-back, not a window
    // over cluster_id (the hot-cluster discipline)
    val plan = operators.DedupPack.bestCanonicalOf(labels, scores)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("specifiedwindowframe") &&
      !plan.toLowerCase.contains("windowexec"),
      s"election regressed to a window:\n$plan")
  }

  test("canonical policy (r13): the store verdict stays STABLE on a " +
      "better-quality late arrival; the C16 composition is where " +
      "quality wins") {
    import graft.sources.MinHashStore
    import spark.implicits._
    // the policy decision the store family documents: verdicts are
    // pure functions of (store content, batch) — replay convergence
    // and the append ≡ one-build gates depend on that purity, so a
    // mutable quality table must never steer hist_canonical. The
    // quality election is the DOWNSTREAM composition (bestCanonicalOf
    // over the verdict's pair graph), where the late arrival CAN win.
    val history = Seq(
      (2L, (1 to 40).map(i => s"w$i").mkString(" "))) // the junk draft
      .toDF("doc_id", "text")
    val batch = Seq(
      (9L, (1 to 40).map(i => if (i == 20) "zz" else s"w$i")
        .mkString(" "))) // the clean rewrite, one word off → near-dup
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-pol").toString
    MinHashStore.write(history, "mh_pol", s"$tmp/store")
    try {
      val verdict = MinHashStore.dedupAgainst(spark, "mh_pol", batch)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      // stability: the canonical is the history doc, whatever anyone
      // later thinks of its quality
      assert(verdict(9L) == ((1L, 2L)),
        s"store verdict must point at history: $verdict")
      // composition: the verdict pair becomes a cluster label, scores
      // rank the late arrival higher, and the C16 election flips the
      // canonical — without touching the store's contract
      val labels = Seq((2L, 2L), (9L, 2L)).toDF("doc_id", "cluster_id")
      val scores = Seq((2L, 100L), (9L, 500L)).toDF("doc_id", "score_q20")
      val elected = operators.DedupPack.bestCanonicalOf(labels, scores)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("canonical_id")).toMap
      assert(elected == Map(2L -> 9L, 9L -> 9L),
        s"the quality election must crown the late arrival: $elected")
    } finally {
      spark.sql("DROP TABLE IF EXISTS mh_pol_bands")
      spark.sql("DROP TABLE IF EXISTS mh_pol_shingles")
      Caches.deleteDir(tmp)
    }
  }
}
