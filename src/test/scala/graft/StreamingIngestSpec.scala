package graft

import graft.sources.{FingerprintStore, MinHashStore}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StreamingIngestSpec extends GraftSpec {

  test("ingest stream: batch2 sees batch1 as history; batch1 not itself") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val tmp = Files.createTempDirectory("graft-ingest-spec").toString
    // seed history: one doc, unrelated content
    FingerprintStore.write(
      Seq((2L, "seed history content")).toDF("doc_id", "text"),
      "ingest_spec_fp", s"$tmp/fp")
    MinHashStore.write(
      Seq((2L, "seed history content")).toDF("doc_id", "text"),
      "ingest_spec_mh", s"$tmp/mh")
    // two arrival files → two micro-batches (maxFilesPerTrigger=1)
    val incoming = Paths.get(tmp, "incoming")
    Files.createDirectories(incoming)
    def esc(s: String) = s.replace("\t", " ")
    Files.writeString(incoming.resolve("b1.csv"),
      s"11\t${esc(base)}\n13\tbatch one fresh content\n")
    Files.writeString(incoming.resolve("b2.csv"),
      s"21\t${esc(base.replace("w20", "zz"))}\n" + // near-dups b1's 11
        "23\tbatch one fresh content\n" +          // exact re-ingest of 13
        "25\tgenuinely new in batch two\n")
    // pin arrival order (the file source orders by modification time)
    Files.setLastModifiedTime(incoming.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("sep", "\t").option("maxFilesPerTrigger", "1")
      .csv(incoming.toString)
    val out = scala.collection.mutable.Map.empty[Long, Array[
      org.apache.spark.sql.Row]]
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingest_spec_fp", "ingest_spec_mh",
      (v: DataFrame, id: Long) => out(id) = v.collect())
    try {
      q.processAllAvailable()
      assert(out.keySet == Set(0L, 1L), s"expected 2 micro-batches: $out")
      val b1 = out(0L).map(r => r.getLong(0) -> r).toMap
      val b2 = out(1L).map(r => r.getLong(0) -> r).toMap
      // batch1 must NOT have seen its own content as history (the
      // verdict-before-append ordering inside processBatch)
      assert(Set(11L, 13L) == b1.keySet)
      b1.values.foreach { r =>
        assert(!r.getBoolean(2) && !r.getBoolean(3),
          s"batch1 saw itself as history: $r")
        assert(r.getLong(4) == 0L, s"batch1 near-matched itself: $r")
      }
      // batch2: exact re-ingest resolves to b1's doc 13
      assert(b2(23L).getLong(1) == 13L && b2(23L).getBoolean(2))
      // near-dup resolves to b1's doc 11 through the band store
      assert(b2(21L).getLong(4) == 1L && b2(21L).getLong(5) == 11L,
        s"b2 near-dup must see the appended b1 doc: ${b2(21L)}")
      assert(b2(21L).getDouble(6) >= 0.8 && b2(21L).getDouble(6) < 1.0)
      // novel doc stays clean
      assert(!b2(25L).getBoolean(2) && b2(25L).getLong(4) == 0L)
      // and an exact dup is not probed against the band store: its
      // minhash columns are NULL
      assert(b2(23L).isNullAt(4) && b2(23L).isNullAt(5))
      // the stores now hold seed + all novel content: seed, base,
      // "fresh", 21's near-dup text (exact-novel!), 25's new text
      assert(spark.table("ingest_spec_fp").count() == 5)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS ingest_spec_fp")
      spark.sql("DROP TABLE IF EXISTS ingest_spec_mh_bands")
      spark.sql("DROP TABLE IF EXISTS ingest_spec_mh_shingles")
    }
  }

  test("crash replay: a batch replayed after either crash point yields the clean run's verdicts and store state") {
    import java.nio.file.Files
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val novel = (1 to 40).map(i => s"n$i").mkString(" ")
    val seed = Seq((2L, "seed history content"), (4L, base))
      .toDF("doc_id", "text")
    val batch = Seq(
      (11L, base.replace("w20", "zz")), // near-dup of seed doc 4
      (13L, novel),                     // novel
      (15L, novel),                     // within-batch exact dup of 13
      (17L, "seed history content")     // exact re-ingest of seed
    ).toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-crash").toString
    def mkStores(tag: String): (String, String) = {
      FingerprintStore.write(seed, s"crash_fp_$tag", s"$tmp/fp_$tag")
      MinHashStore.write(seed, s"crash_mh_$tag", s"$tmp/mh_$tag")
      (s"crash_fp_$tag", s"crash_mh_$tag")
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def storeState(fp: String, mh: String) =
      (rows(spark.table(fp)), rows(spark.table(s"${mh}_bands")),
        rows(spark.table(s"${mh}_shingles")))
    try {
      // control: the clean, uncrashed loop body
      val (fpC, mhC) = mkStores("c")
      val want = rows(StreamingIngest.processBatch(spark, fpC, mhC, batch))

      // CRASH POINT 1 — between the two appends: the fingerprint append
      // committed (exactly what processBatch runs), the minhash append
      // and the sink never happened. foreachBatch re-delivers the batch.
      val (fpX, mhX) = mkStores("x")
      FingerprintStore.append(spark, fpX, batch)
      val got = rows(StreamingIngest.processBatch(spark, fpX, mhX, batch))
      assert(got == want,
        s"replay verdicts diverged from the clean run:\n$got\nvs\n$want")
      assert(storeState(fpX, mhX) == storeState(fpC, mhC),
        "stores diverged after crash+replay")

      // CRASH POINT 2 — after BOTH appends, before the sink consumed
      // the verdicts: the whole loop body ran, its output was lost.
      val (fpY, mhY) = mkStores("y")
      StreamingIngest.processBatch(spark, fpY, mhY, batch)
      val got2 = rows(StreamingIngest.processBatch(spark, fpY, mhY, batch))
      assert(got2 == want,
        s"post-append replay verdicts diverged:\n$got2\nvs\n$want")
      // the duplicated minhash rows this replay leaves behind must not
      // change the NEXT batch's verdicts either: a near-dup of the
      // twice-appended doc 13 still counts ONE distinct history match
      val next = Seq((21L, novel.replace("n20", "qq")))
        .toDF("doc_id", "text")
      val nextWant = rows(MinHashStore.dedupAgainst(spark, mhC, next))
      val nextGot = rows(MinHashStore.dedupAgainst(spark, mhY, next))
      assert(nextGot == nextWant,
        s"duplicated replay rows changed a later verdict: $nextGot")
      assert(nextGot.mkString.contains("21,1,13,"),
        s"expected exactly one distinct match on doc 13: $nextGot")
    } finally {
      Seq("c", "x", "y").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS crash_fp_$t")
        spark.sql(s"DROP TABLE IF EXISTS crash_mh_${t}_bands")
        spark.sql(s"DROP TABLE IF EXISTS crash_mh_${t}_shingles")
      }
    }
  }

  test("search-index leg: each micro-batch's KEPT docs become " +
      "lexically searchable; dropped dups never enter the index") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.SearchIndex
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val tmp = Files.createTempDirectory("graft-ingest-search").toString
    val seed = Seq((2L, "seed history content")).toDF("doc_id", "text")
    FingerprintStore.write(seed, "ingsrch_fp", s"$tmp/fp")
    MinHashStore.write(seed, "ingsrch_mh", s"$tmp/mh")
    SearchIndex.write(seed, "ingsrch_ix", s"$tmp/ix")
    val incoming = Paths.get(tmp, "incoming")
    Files.createDirectories(incoming)
    Files.writeString(incoming.resolve("b1.csv"),
      s"11\t$base\n13\tbatch one fresh content\n")
    Files.writeString(incoming.resolve("b2.csv"),
      s"21\t${base.replace("w20", "zz")}\n" + // near-dup of 11: dropped
        "23\tbatch one fresh content\n" +     // exact dup of 13: dropped
        "25\tgenuinely new in batch two\n")   // kept
    Files.setLastModifiedTime(incoming.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("sep", "\t").option("maxFilesPerTrigger", "1")
      .csv(incoming.toString)
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingsrch_fp", "ingsrch_mh",
      StreamingIngest.IngestLegs(searchBase = Some("ingsrch_ix")),
      (_: DataFrame, _: Long) => ())
    try {
      q.processAllAvailable()
      // the index holds exactly the kept set: seed + 11 + 13 + 25 —
      // the near-dup 21 and the exact dup 23 never entered
      val indexed = spark.table("ingsrch_ix_docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(indexed == Set(2L, 11L, 13L, 25L), s"indexed: $indexed")
      // and the batch-2 novel doc is retrievable from the live index
      val hits = SearchIndex.search(spark, "ingsrch_ix",
        Seq("genuinely"), 5).collect()
      assert(hits.length == 1 && hits(0).getLong(0) == 25L,
        s"hits: ${hits.toSeq}")
    } finally {
      q.stop()
      Seq("ingsrch_fp", "ingsrch_mh_bands", "ingsrch_mh_shingles",
        "ingsrch_ix_postings", "ingsrch_ix_docs", "ingsrch_ix_totals")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("seq-store leg: kept docs extend the training-sequence index; " +
      "dropped dups never occupy token positions") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.SeqStore
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val tmp = Files.createTempDirectory("graft-ingest-seq").toString
    val seed = Seq((2L, "seed history content")).toDF("doc_id", "text")
    FingerprintStore.write(seed, "ingseq_fp", s"$tmp/fp")
    MinHashStore.write(seed, "ingseq_mh", s"$tmp/mh")
    SeqStore.write(seed, "ingseq_sq", s"$tmp/sq")
    val incoming = Paths.get(tmp, "incoming")
    Files.createDirectories(incoming)
    Files.writeString(incoming.resolve("b1.csv"),
      s"11\t$base\n13\tbatch one fresh content\n")
    Files.writeString(incoming.resolve("b2.csv"),
      s"21\t${base.replace("w20", "zz")}\n" + // near-dup of 11: dropped
        "23\tbatch one fresh content\n" +     // exact dup of 13: dropped
        "25\tgenuinely new in batch two\n")   // kept
    Files.setLastModifiedTime(incoming.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("sep", "\t").option("maxFilesPerTrigger", "1")
      .csv(incoming.toString)
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingseq_fp", "ingseq_mh",
      StreamingIngest.IngestLegs(seqBase = Some("ingseq_sq")),
      (_: DataFrame, _: Long) => ())
    try {
      q.processAllAvailable()
      // the segment index is exactly the one-pass packing over the
      // kept corpus (seed + 11 + 13 + 25) — 21 and 23 occupy no
      // token positions
      val got = SeqStore.segments(spark, "ingseq_sq")
        .orderBy("doc_id", "seg_idx").collect().map(_.toString).toSeq
      val keptDocs = seed.unionByName(Seq(
        (11L, base), (13L, "batch one fresh content"),
        (25L, "genuinely new in batch two")).toDF("doc_id", "text"))
      val want = graft.operators.CurationPack
        .packSegments(keptDocs, Seq(0L).toDF("off"))
        .orderBy("doc_id", "seg_idx").collect().map(_.toString).toSeq
      assert(got == want,
        s"streamed packing must equal one pass over kept docs:\n" +
          s"got $got\nwant $want")
    } finally {
      q.stop()
      Seq("ingseq_fp", "ingseq_mh_bands", "ingseq_mh_shingles",
        "ingseq_sq_segs")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("quality leg: every batch doc is scored against the frozen " +
      "stored model; the verdict carries the gate columns") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-ingest-q").toString
    val seed = Seq((2L, "seed history content")).toDF("doc_id", "text")
    FingerprintStore.write(seed, "ingq_fp", s"$tmp/fp")
    MinHashStore.write(seed, "ingq_mh", s"$tmp/mh")
    // reference model trained on a separable corpus: diverse 'ref'
    // docs (label 1) vs looped spam (label 0)
    val ref = ((0 until 60).map { i =>
      (1000L + i, (0 until 10).map(j => s"ref${(i * 3 + j) % 25}")
        .distinct.mkString(" "))
    } ++ (100 until 140).map { i =>
      (2000L + i, Seq.fill(8)(s"loop${i % 3}").mkString(" "))
    }).toDF("doc_id", "text")
    graft.sources.QualityStore.write(ref, "ingq_q", s"$tmp/q")
    val incoming = Paths.get(tmp, "incoming")
    Files.createDirectories(incoming)
    Files.writeString(incoming.resolve("b1.csv"),
      "11\tref0 ref1 ref2 ref3 ref4 ref5 ref6 ref7\n" +
        "13\tloop0 loop0 loop0 loop0 loop0 loop0 loop0 loop0\n")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("sep", "\t").csv(incoming.toString)
    var verdicts: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingq_fp", "ingq_mh",
      StreamingIngest.IngestLegs(qualityBase = Some("ingq_q")),
      (df: DataFrame, _: Long) => { verdicts = df.collect() })
    try {
      q.processAllAvailable()
      val byId = verdicts.map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(byId.keySet == Set(11L, 13L))
      // the scores are EXACTLY what batch-scoring with the store gives
      val want = graft.sources.QualityStore.score(spark, "ingq_q",
          Seq((11L, "ref0 ref1 ref2 ref3 ref4 ref5 ref6 ref7"),
            (13L, "loop0 loop0 loop0 loop0 loop0 loop0 loop0 loop0"))
            .toDF("doc_id", "text"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("margin_q20"), r.getAs[Boolean]("keep"))).toMap
      Seq(11L, 13L).foreach { id =>
        assert(byId(id).getAs[Long]("quality_margin_q20") == want(id)._1)
        assert(byId(id).getAs[Boolean]("quality_keep") == want(id)._2)
      }
      // and the gate discriminates: the ref-shaped doc passes, the
      // looped one does not
      assert(byId(11L).getAs[Boolean]("quality_keep"))
      assert(!byId(13L).getAs[Boolean]("quality_keep"))
    } finally {
      q.stop()
      Seq("ingq_fp", "ingq_mh_bands", "ingq_mh_shingles", "ingq_q_model")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("dsir leg: batch docs are scored against the PRE-batch merged " +
      "model (severed before the fold); kept docs' counts fold in, " +
      "dropped dups never do") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.DsirStore
    val tmp = Files.createTempDirectory("graft-ingest-dsir").toString
    val enText = (1 to 8).map(i => s"e$i").mkString(" ")
    val xxText = (1 to 8).map(i => s"x$i").mkString(" ")
    // target-slice (en) and alien (xx) seed corpora with disjoint
    // bigram profiles — the store's log-weights discriminate them
    val seed = ((1 to 5).map(i => (100L + i, enText, "en"))
      ++ (1 to 5).map(i => (200L + i, xxText, "xx")))
      .toDF("doc_id", "text", "lang")
    FingerprintStore.write(seed.select("doc_id", "text"),
      "ingd_fp", s"$tmp/fp")
    MinHashStore.write(seed.select("doc_id", "text"),
      "ingd_mh", s"$tmp/mh")
    DsirStore.write(seed, "ingd_ds", s"$tmp/ds")
    // batch docs are SHINGLE-distant from the seed (a word-pair loop
    // shares no 3-shingle with the seed's straight-line texts, so the
    // dedup legs keep them) but BIGRAM-profiled: 11 rides the target
    // bucket e1→e2, 13 the alien bucket x1→x2
    val tgtLike = "e1 e2 e1 e2 e1 e2 e1 e2"
    val alienLike = "x1 x2 x1 x2 x1 x2 x1 x2"
    val incoming = Paths.get(tmp, "incoming")
    Files.createDirectories(incoming)
    Files.writeString(incoming.resolve("b1.csv"),
      s"11\t$tgtLike\ten\n" +
        s"13\t$alienLike\txx\n" +
        s"15\t$enText\ten\n") // exact dup of seed 101: dropped, never folds
    // batch-doc scores against the SEED-ONLY model — collected before
    // the stream runs, so the equality below proves the leg severed
    // its verdict before the fold mutated the count table
    val batchDocs = Seq((11L, tgtLike), (13L, alienLike),
      (15L, enText)).toDF("doc_id", "text")
    val want = DsirStore.score(spark, "ingd_ds", batchDocs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("w_q20"), r.getAs[Boolean]("keep"))).toMap
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING")
      .option("sep", "\t").csv(incoming.toString)
    var verdicts: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingd_fp", "ingd_mh",
      StreamingIngest.IngestLegs(dsirBase = Some("ingd_ds")),
      (df: DataFrame, _: Long) => { verdicts = df.collect() })
    try {
      q.processAllAvailable()
      val byId = verdicts.map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(byId.keySet == Set(11L, 13L, 15L))
      // every batch doc (dups included) carries the pre-fold scores
      Seq(11L, 13L, 15L).foreach { id =>
        assert(byId(id).getAs[Long]("dsir_w_q20") == want(id)._1)
        assert(byId(id).getAs[Boolean]("dsir_keep") == want(id)._2)
      }
      // and the weights discriminate: target-profile positive, alien
      // negative
      assert(byId(11L).getAs[Boolean]("dsir_keep"))
      assert(!byId(13L).getAs[Boolean]("dsir_keep"))
      // the fold: the post-ingest merged model equals a fresh build
      // over seed + the KEPT docs only (11 and 13; the history dup 15
      // never folds; streamed docs carry their own lang, so the
      // TARGET slice tracks the stream too — not just the raw side)
      val keptDf = seed.unionByName(Seq(
        (11L, tgtLike, "en"), (13L, alienLike, "xx"))
        .toDF("doc_id", "text", "lang"))
      DsirStore.write(keptDf, "ingd_ref", s"$tmp/ref")
      def model(t: String): Seq[String] = spark.table(t)
        .groupBy(col("batch_id"), col("lang"), col("f"))
        .agg(max(col("c")).as("c"))
        .groupBy(col("lang"), col("f")).agg(sum(col("c")).as("c"))
        .orderBy(col("lang"), col("f"))
        .collect().map(_.toString).toSeq
      assert(model("ingd_ds_cnt") == model("ingd_ref_cnt"),
        "post-ingest merged model must equal seed + kept docs exactly")
    } finally {
      q.stop()
      Seq("ingd_fp", "ingd_mh_bands", "ingd_mh_shingles", "ingd_ds_cnt",
        "ingd_ds_docs", "ingd_ref_cnt", "ingd_ref_docs")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("dsir leg: a lang-less stream is scored but never folded " +
      "(r11 ADVICE: the placeholder fold drifts the model)") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.DsirStore
    val tmp = Files.createTempDirectory("graft-ingest-dsirll").toString
    val enText = (1 to 8).map(i => s"e$i").mkString(" ")
    val seed = (1 to 5).map(i => (100L + i, enText, "en"))
      .toDF("doc_id", "text", "lang")
    FingerprintStore.write(seed.select("doc_id", "text"),
      "ingll_fp", s"$tmp/fp")
    MinHashStore.write(seed.select("doc_id", "text"),
      "ingll_mh", s"$tmp/mh")
    DsirStore.write(seed, "ingll_ds", s"$tmp/ds")
    val before = spark.table("ingll_ds_cnt").collect()
      .map(_.toString).sorted.toSeq
    val tgtLike = "e1 e2 e1 e2 e1 e2 e1 e2"
    val incoming = Paths.get(tmp, "incoming")
    Files.createDirectories(incoming)
    Files.writeString(incoming.resolve("b1.csv"), s"11\t$tgtLike\n")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("sep", "\t").csv(incoming.toString)
    var verdicts: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingll_fp", "ingll_mh",
      StreamingIngest.IngestLegs(dsirBase = Some("ingll_ds")),
      (df: DataFrame, _: Long) => { verdicts = df.collect() })
    try {
      q.processAllAvailable()
      // the doc IS scored (the serving half still works): the verdict
      // carries exactly the direct store score
      val byId = verdicts.map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(byId.keySet == Set(11L))
      val direct = DsirStore.score(spark, "ingll_ds",
        Seq((11L, tgtLike)).toDF("doc_id", "text")).collect().head
      assert(byId(11L).getAs[Long]("dsir_w_q20") ==
        direct.getAs[Long]("w_q20"))
      // ...but the model is untouched: score-only, no placeholder fold
      val after = spark.table("ingll_ds_cnt").collect()
        .map(_.toString).sorted.toSeq
      assert(after == before, "a lang-less batch mutated the DSIR model")
    } finally {
      q.stop()
      Seq("ingll_fp", "ingll_mh_bands", "ingll_mh_shingles",
        "ingll_ds_cnt", "ingll_ds_docs")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("report leg: streamed composed verdicts equal the batch " +
      "curation_report on the same corpus state") {
    import java.nio.file.{Files, Paths}
    import graft.sources.{DsirStore, LmStore, QualityStore}
    val tmp = Files.createTempDirectory("graft-ingest-rep").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"))
    // seed EVERY store with the FULL corpus: each streamed batch then
    // scores against exactly the corpus state the batch report uses,
    // and every append leg no-ops on novelty (all ids are history), so
    // batch 2 still sees the same state
    FingerprintStore.write(docs.select("doc_id", "text"),
      "ingrep_fp", s"$tmp/fp")
    MinHashStore.write(docs.select("doc_id", "text"),
      "ingrep_mh", s"$tmp/mh")
    QualityStore.write(docs.select("doc_id", "text"),
      "ingrep_q", s"$tmp/q")
    DsirStore.write(docs, "ingrep_ds", s"$tmp/ds")
    LmStore.write(docs.select("doc_id", "text"), "ingrep_lm", s"$tmp/lm")
    LmStore.writeThresholds(spark, "ingrep_lm", docs, s"$tmp/lm")
    val want = graft.operators.CurationPack.curationReportOf(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val incoming = Paths.get(tmp, "incoming")
    val half = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    docs.filter(col("doc_id") <= half).coalesce(1)
      .write.parquet(s"$incoming/b1")
    docs.filter(col("doc_id") > half).coalesce(1)
      .write.parquet(s"$incoming/b2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(incoming.toString)
    var got = Map.empty[Long, org.apache.spark.sql.Row]
    val q = StreamingIngest.run(spark, stream, "ingrep_fp", "ingrep_mh",
      StreamingIngest.IngestLegs(qualityBase = Some("ingrep_q"),
        dsirBase = Some("ingrep_ds"), ccnetBase = Some("ingrep_lm"),
        report = true),
      (df: DataFrame, _: Long) => {
        got = got ++ df.collect().map(r => r.getAs[Long]("doc_id") -> r)
      })
    try {
      q.processAllAvailable()
      assert(want.nonEmpty)
      // every batch-report row has a streamed twin agreeing on every
      // signal, the bitmask and the final verdict
      want.foreach { case (id, w) =>
        val g = got(id)
        for (c <- Seq("lang_ok", "tokens_ok", "is_dup", "quality_keep",
            "dsir_keep", "ccnet_keep", "keep"))
          assert(g.getAs[Boolean](c) == w.getAs[Boolean](c),
            s"doc $id: $c streamed " + g.getAs[Boolean](c) +
              " vs batch " + w.getAs[Boolean](c))
        assert(g.getAs[Long]("reason") == w.getAs[Long]("reason"),
          s"doc $id bitmask")
        assert(g.getAs[Long]("n_tokens") == w.getAs[Long]("n_tokens"))
      }
    } finally {
      q.stop()
      Seq("ingrep_fp", "ingrep_mh_bands", "ingrep_mh_shingles",
        "ingrep_q_model", "ingrep_ds_cnt", "ingrep_ds_docs",
        "ingrep_lm_uni", "ingrep_lm_big", "ingrep_lm_docs",
        "ingrep_lm_thr")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.releaseAll(blocking = true)
      Caches.deleteDir(tmp)
    }
  }

  test("embed-store leg: semantic near-dups are annotated against the " +
      "vector history; kept docs' embeddings enter the store; exact " +
      "dups carry NULL semantic columns") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.EmbedStore
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val tmp = Files.createTempDirectory("graft-ingest-embed").toString
    def emb(v: Double*) = v.map(_.toFloat).toArray
    val seed = Seq((2L, "seed history content")).toDF("doc_id", "text")
    FingerprintStore.write(seed, "ingemb_fp", s"$tmp/fp")
    MinHashStore.write(seed, "ingemb_mh", s"$tmp/mh")
    EmbedStore.write(
      Seq((2L, 0, emb(0.0, 1.0, 0.0, 0.0)))
        .toDF("vec_id", "label", "embedding"),
      "ingemb_em", s"$tmp/em")
    val incoming = Paths.get(tmp, "incoming")
    // parquet arrival files so the batches carry the embedding column
    Seq((11L, base, emb(1.0, 0.0, 0.0, 0.0)),
      (13L, "batch one fresh content", emb(0.0, 0.0, 1.0, 0.0)))
      .toDF("doc_id", "text", "embedding")
      .coalesce(1).write.parquet(s"$incoming/b1")
    Seq(
      // near-text-dup of 11 AND near its vector: both legs must find it
      (21L, base.replace("w20", "zz"), emb(0.995, 0.0999, 0.0, 0.0)),
      // exact text dup of 13: semantic columns must be NULL
      (23L, "batch one fresh content", emb(0.0, 0.0, 1.0, 0.0)),
      // novel text, orthogonal vector: clean on both legs
      (25L, "genuinely new in batch two", emb(0.0, 0.0, 0.0, 1.0)))
      .toDF("doc_id", "text", "embedding")
      .coalesce(1).write.parquet(s"$incoming/b2")
    // pin arrival order (the file source orders by modification time)
    val b1file = new java.io.File(s"$incoming/b1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    b1file.foreach(f => f.setLastModified(System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$incoming")
    val out = scala.collection.mutable.Map.empty[Long, Array[
      org.apache.spark.sql.Row]]
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingemb_fp", "ingemb_mh",
      StreamingIngest.IngestLegs(embedBase = Some("ingemb_em")),
      (v: DataFrame, id: Long) => out(id) = v.collect())
    try {
      q.processAllAvailable()
      assert(out.keySet == Set(0L, 1L), s"expected 2 micro-batches: $out")
      // verdict columns: doc_id, canonical_id, dup_of_history, is_dup,
      // n_hist_matches, hist_canonical, best_jaccard, n_emb_matches,
      // emb_canonical, best_cos
      val b1 = out(0L).map(r => r.getLong(0) -> r).toMap
      val b2 = out(1L).map(r => r.getLong(0) -> r).toMap
      // batch1 never sees itself semantically (probe severed pre-append)
      b1.values.foreach(r =>
        assert(r.getLong(7) == 0L, s"batch1 semantically matched itself: $r"))
      // 21 semantically near-dups b1's KEPT doc 11 (cos ≈ 0.995)
      assert(b2(21L).getLong(7) == 1L && b2(21L).getLong(8) == 11L,
        s"semantic match missing: ${b2(21L)}")
      assert(b2(21L).getDouble(9) > 0.99, s"cos: ${b2(21L)}")
      // exact dup: semantic columns NULL (never probed)
      assert(b2(23L).isNullAt(7) && b2(23L).isNullAt(9), s"${b2(23L)}")
      // orthogonal novel doc: no semantic match
      assert(b2(25L).getLong(7) == 0L, s"${b2(25L)}")
      // the vector store holds exactly the kept set: 2, 11, 13, 25
      val stored = spark.table("ingemb_em_lists")
        .select("h_id").collect().map(_.getLong(0)).toSet
      assert(stored == Set(2L, 11L, 13L, 25L), s"stored: $stored")
    } finally {
      q.stop()
      Seq("ingemb_fp", "ingemb_mh_bands", "ingemb_mh_shingles",
        "ingemb_em_cells", "ingemb_em_lists")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("maintenance hook (r16): a stream whose appends push stale_frac " +
      "past the threshold triggers exactly one generation-atomic banded " +
      "rebuild mid-stream; below threshold nothing runs; the rebuilt " +
      "store ≡ a fresh write of the full corpus") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.EmbedStore
    val tmp = Files.createTempDirectory("graft-ingest-maint").toString
    def emb(i: Int) = Array(1.0f, i * 0.25f, i * i * 0.0625f, 0.1f * i)
    def docs(ids: Seq[Long]) = ids.map(i =>
      (i, s"unique content $i " + (1 to 20).map(j => s"w${i}_$j")
        .mkString(" "), emb(i.toInt % 11)))
      .toDF("doc_id", "text", "embedding")
    // history: 4 vectors in label 0 → n_meas = 4; the trigger (0.5)
    // arms once appends exceed the measured basis
    val seedIds = Seq(1L, 2L, 3L, 4L)
    val seed = docs(seedIds)
    FingerprintStore.write(seed.select("doc_id", "text"),
      "ingmt_fp", s"$tmp/fp")
    MinHashStore.write(seed.select("doc_id", "text"),
      "ingmt_mh", s"$tmp/mh")
    EmbedStore.write(seed.select(col("doc_id").as("vec_id"),
      lit(0).as("label"), col("embedding")), "ingmt_em", s"$tmp/em")
    val incoming = Paths.get(tmp, "incoming")
    // b1: 1 novel doc → stale 1/5 = 0.2, below threshold — no trigger
    docs(Seq(11L)).coalesce(1).write.parquet(s"$incoming/b1")
    // b2: 5 novel docs → stale 6/10 = 0.6 — the hook must rebuild
    docs(Seq(21L, 22L, 23L, 24L, 25L)).coalesce(1)
      .write.parquet(s"$incoming/b2")
    // b3: 1 novel doc → stale 1/11 post-rebuild — no second trigger
    docs(Seq(31L)).coalesce(1).write.parquet(s"$incoming/b3")
    Seq("b1" -> 120000, "b2" -> 60000).foreach { case (d, ago) =>
      new java.io.File(s"$incoming/$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(System.currentTimeMillis() - ago))
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$incoming")
    // the sink runs BEFORE its batch's maintenance hook, so the state
    // it snapshots is "after the PREVIOUS batch's hook"
    case class Snap(bgen: Int, nApp: Long)
    def snap(): Snap = {
      val r = EmbedStore.bandedStaleness(spark, "ingmt_em")
        .agg(max(col("bgen")), sum(col("n_app"))).collect()(0)
      Snap(r.getInt(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val seen = scala.collection.mutable.Map.empty[Long, Snap]
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingmt_fp", "ingmt_mh",
      StreamingIngest.IngestLegs(embedBase = Some("ingmt_em"),
        maintainEvery = 1),
      (v: DataFrame, id: Long) => { v.collect(); seen(id) = snap() })
    try {
      q.processAllAvailable()
      // batch N's sink snapshot sees batch N's own APPEND but only
      // batch N-1's maintenance hook
      assert(seen.keySet == Set(0L, 1L, 2L), s"expected 3 batches: $seen")
      assert(seen(0L).bgen == 1 && seen(0L).nApp == 1L,
        s"fresh store must serve gen 1: $seen")
      assert(seen(1L).bgen == 1 && seen(1L).nApp == 6L,
        s"batch 0's below-threshold hook must NOT have rebuilt: $seen")
      assert(seen(2L).bgen == 2,
        s"batch 1 pushed stale_frac to 0.6 — its hook must rebuild: $seen")
      // the rebuild re-measured the basis (n_app reset), then batch
      // 2's own append added one
      assert(seen(2L).nApp == 1L,
        s"rebuild must reset the staleness counters: $seen")
      val fin = snap()
      assert(fin.bgen == 2 && fin.nApp == 1L,
        s"batch 2's post-rebuild stale 1/11 must NOT re-trigger: $fin")
      // the maintained store ≡ a fresh write() of the full kept corpus
      val allIds = seedIds ++ Seq(11L, 21L, 22L, 23L, 24L, 25L, 31L)
      EmbedStore.write(docs(allIds).select(col("doc_id").as("vec_id"),
        lit(0).as("label"), col("embedding")), "ingmt_ref", s"$tmp/ref")
      val probe = docs(Seq(91L, 92L, 93L))
        .select(col("doc_id").as("vec_id"), lit(0).as("label"),
          col("embedding"))
      def verdicts(b: String) =
        EmbedStore.bandedDedupAgainst(spark, b, probe)
          .collect().map(_.toString).sorted.toSeq
      assert(verdicts("ingmt_em") == verdicts("ingmt_ref"),
        "maintained store's banded verdicts differ from a fresh write")
    } finally {
      q.stop()
      Seq("ingmt_fp", "ingmt_mh_bands", "ingmt_mh_shingles").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq("ingmt_em", "ingmt_ref").foreach(b =>
        Seq("cells", "lists", "bands", "bbits").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${b}_$s")))
      Caches.deleteDir(tmp)
    }
  }

  test("full ingest topology against an all-banded store (r14): three " +
      "micro-batches end-to-end yield the exact run's verdicts on " +
      "dup-regime plants; a replayed batch converges; the two stores " +
      "stay probe-equivalent") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.{EmbedStore, SimHashStore}
    def emb(v: Double*) = v.map(_.toFloat).toArray
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val novel = (1 to 40).map(i => s"n$i").mkString(" ")
    val tmp = Files.createTempDirectory("graft-ingest-banded").toString
    val seedDocs = Seq((2L, "seed history content")).toDF("doc_id", "text")
    // the "b" store is written at the C14c all-cont geometry: its one
    // label (0, every ingest row's label) is past that geometry's
    // clamp of 8, so the build freezes cont = true and the ingest's
    // routed probe takes the banded leg on every batch; the "e" twin's
    // default geometry keeps the same history on the exact probe
    def mkStores(tag: String): Unit = {
      FingerprintStore.write(seedDocs, s"ingbd_fp_$tag", s"$tmp/fp_$tag")
      MinHashStore.write(seedDocs, s"ingbd_mh_$tag", s"$tmp/mh_$tag")
      SimHashStore.write(seedDocs, s"ingbd_sh_$tag", s"$tmp/sh_$tag")
      EmbedStore.write(
        (1 to 10).map(i => (2L * i, 0, emb(0.0, 1.0, 0.001 * i, 0.0)))
          .toDF("vec_id", "label", "embedding"),
        s"ingbd_em_$tag", s"$tmp/em_$tag",
        geometry = if (tag == "b") operators.AnnPack.allContGeometry
          else operators.AnnPack.Geometry())
    }
    // dup-REGIME plants (cos ≈ 1 — the LSH contract's certain-collision
    // band) so banded and exact verdicts must agree row for row
    val batches = Seq(
      Seq((11L, base, emb(1.0, 0.0, 0.0, 0.0)),
        (13L, novel, emb(0.0, 0.0, 1.0, 0.0))),
      Seq( // near-text-dup AND near-vector-dup of batch-1's kept 11
        (21L, base.replace("w20", "zz"), emb(0.9995, 0.0005, 0.0, 0.0)),
        (25L, "fresh in batch two", emb(0.0, 0.0, 0.0, 1.0))),
      Seq( // vector-only dup of 25; exact text dup of 13 (NULL semantics)
        (31L, "fresh in batch three", emb(0.0005, 0.0, 0.0, 0.9995)),
        (33L, novel, emb(0.0, 0.0, 1.0, 0.0))))
    def legsOf(tag: String) = StreamingIngest.IngestLegs(
      embedBase = Some(s"ingbd_em_$tag"), simBase = Some(s"ingbd_sh_$tag"))
    def runStream(tag: String): Map[Long, Seq[String]] = {
      val incoming = Paths.get(tmp, s"incoming_$tag")
      batches.zipWithIndex.foreach { case (b, i) =>
        b.toDF("doc_id", "text", "embedding")
          .coalesce(1).write.parquet(s"$incoming/b$i")
        // pin arrival order (the file source orders by mod time)
        new java.io.File(s"$incoming/b$i").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(_.setLastModified(
            System.currentTimeMillis() - (10 - i) * 60000L))
      }
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(incoming.toString)
      val out = scala.collection.mutable.Map.empty[Long, Seq[String]]
      val q = StreamingIngest.run(spark, stream.toDF(),
        s"ingbd_fp_$tag", s"ingbd_mh_$tag", legsOf(tag),
        (v: DataFrame, id: Long) =>
          out(id) = v.collect().map(_.toString).sorted.toSeq)
      try q.processAllAvailable() finally q.stop()
      out.toMap
    }
    try {
      mkStores("e")
      mkStores("b")
      assert(EmbedStore.bandedRoutingStat(spark, "ingbd_em_b") ==
          ((1L, Seq(0))) &&
        EmbedStore.bandedRoutingStat(spark, "ingbd_em_e")._2.isEmpty,
        "the all-cont store must route its label banded, the twin exact")
      val exactOut = runStream("e")
      locally {
        val bandedOut = runStream("b")
        assert(exactOut.keySet == Set(0L, 1L, 2L) &&
          bandedOut.keySet == Set(0L, 1L, 2L),
          s"expected 3 micro-batches: ${exactOut.keySet} / ${bandedOut.keySet}")
        (0L to 2L).foreach(i => assert(bandedOut(i) == exactOut(i),
          s"banded-routed batch $i verdicts diverged:\n${bandedOut(i)}" +
            s"\nvs exact:\n${exactOut(i)}"))
        // CRASH REPLAY under banded: the whole batch-3 loop body ran
        // (all appends committed), its sink output was lost, foreachBatch
        // re-delivers — the replay must yield the same verdicts
        val b3 = batches(2).toDF("doc_id", "text", "embedding")
        val replay = StreamingIngest.processBatch(spark, "ingbd_fp_b",
            "ingbd_mh_b", legsOf("b"), b3)
          .collect().map(_.toString).sorted.toSeq
        assert(replay == bandedOut(2L),
          s"banded replay diverged:\n$replay\nvs\n${bandedOut(2L)}")
        // the replayed (duplicated) banded rows must not change a LATER
        // probe either, and the banded-run store must stay
        // probe-equivalent to the exact-run twin's
        val next = Seq((41L, 0, emb(0.999, 0.001, 0.0, 0.0)))
          .toDF("vec_id", "label", "embedding")
        def probe(tag: String) = EmbedStore.bandedDedupAgainst(spark,
            s"ingbd_em_$tag", next).collect().map(_.toString).sorted.toSeq
        assert(probe("b") == probe("e"),
          "banded-run store diverged from the exact-run twin under probe")
        assert(probe("b").mkString.contains("41,1,11,"),
          s"the planted dup of 11 went unmatched: ${probe("b")}")
        // the appends kept the frozen routing: still all-banded
        assert(EmbedStore.bandedRoutingStat(spark, "ingbd_em_b")._2 ==
          Seq(0), "appends moved the store off its frozen routing")
      }
    } finally {
      Seq("e", "b").foreach { t =>
        Seq(s"ingbd_fp_$t", s"ingbd_mh_${t}_bands",
          s"ingbd_mh_${t}_shingles", s"ingbd_sh_$t",
          s"ingbd_em_${t}_cells", s"ingbd_em_${t}_lists",
          s"ingbd_em_${t}_bands", s"ingbd_em_${t}_bbits")
          .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
      }
      Caches.deleteDir(tmp)
    }
  }

  test("ingest topology against a MIXED store " +
      "(r15): per-batch routing follows the frozen per-label cont " +
      "flags — continuum mega-label banded, clustered/small exact — " +
      "a fresh label appended mid-stream stays exact-routed, and every " +
      "batch's verdicts match the exact-routed twin run") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.{EmbedStore, SimHashStore}
    // 64-dim deterministic hash directions (the EmbedStoreSpec auto
    // fixture): the continuum label is every-vector-its-own-direction,
    // the clustered one is 3 tight clusters
    def hv(seed: Long): Array[Float] = {
      val raw = (0 until 64).map(j =>
        (((seed * (j * 6364136223846793005L + 1442695040888963407L))
          >>> 40) & 0xffL).toDouble - 127.5)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => (x / n).toFloat).toArray
    }
    def mix(a: Array[Float], b: Array[Float], eps: Double): Array[Float] =
      a.zip(b).map { case (x, y) => (x + eps * y).toFloat }
    val tmp = Files.createTempDirectory("graft-ingest-auto").toString
    def text(tag: String) = (1 to 20).map(i => s"$tag$i").mkString(" ")
    // the "a" store is written at a shrunk clamp (cellSize·maxCells =
    // 8), so its 24-vector labels are mega and the build freezes mixed
    // routing flags; the "x" twin's default clamp keeps every label on
    // the exact probe
    def mkStores(tag: String): Unit = {
      val seedDocs = Seq((2L, "seed history content")).toDF("doc_id", "text")
      FingerprintStore.write(seedDocs, s"ingau_fp_$tag", s"$tmp/fp_$tag")
      MinHashStore.write(seedDocs, s"ingau_mh_$tag", s"$tmp/mh_$tag")
      SimHashStore.write(seedDocs, s"ingau_sh_$tag", s"$tmp/sh_$tag")
      val continuum = (0 until 24).map(i => (100L + i, 1, hv(1000L + i)))
      val clustered = (0 until 24).map(i =>
        (300L + i, 3, mix(hv(2000L + i / 8), hv(3000L + i), 0.02)))
      val small = Seq((200L, 2, hv(4000L)), (202L, 2, hv(4001L)))
      EmbedStore.write(
        (continuum ++ clustered ++ small)
          .toDF("vec_id", "label", "embedding"),
        s"ingau_em_$tag", s"$tmp/em_$tag",
        geometry = if (tag == "a")
            operators.AnnPack.Geometry(cellSize = 2, maxCells = 4)
          else operators.AnnPack.Geometry())
    }
    // dup-REGIME plants only (cos ≈ 1): banded and exact verdicts must
    // agree row for row, so the twin comparison is exact equality
    val batches = Seq(
      Seq((11L, text("a"), 1, mix(hv(1000L), hv(5000L), 0.001)), // continuum dup → banded route
        (13L, text("b"), 3, mix(hv(2000L), hv(5001L), 0.001))),  // clustered dup → exact route
      Seq((21L, text("c"), 7, hv(6000L)),                        // FRESH label: no history, appended
        (23L, text("d"), 2, mix(hv(4000L), hv(5002L), 0.001))),  // small-label dup → exact route
      Seq((31L, text("e"), 7, mix(hv(6000L), hv(5003L), 0.001)))) // dup of 21 through the fresh label
    def legsOf(tag: String) = StreamingIngest.IngestLegs(
      embedBase = Some(s"ingau_em_$tag"), simBase = Some(s"ingau_sh_$tag"))
    def runStream(tag: String): Map[Long, Seq[String]] = {
      val incoming = Paths.get(tmp, s"incoming_$tag")
      batches.zipWithIndex.foreach { case (b, i) =>
        b.toDF("doc_id", "text", "label", "embedding")
          .coalesce(1).write.parquet(s"$incoming/b$i")
        new java.io.File(s"$incoming/b$i").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(_.setLastModified(
            System.currentTimeMillis() - (10 - i) * 60000L))
      }
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, label INT, " +
          "embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(incoming.toString)
      val out = scala.collection.mutable.Map.empty[Long, Seq[String]]
      val q = StreamingIngest.run(spark, stream.toDF(),
        s"ingau_fp_$tag", s"ingau_mh_$tag", legsOf(tag),
        (v: DataFrame, id: Long) =>
          out(id) = v.collect().map(_.toString).sorted.toSeq)
      try q.processAllAvailable() finally q.stop()
      out.toMap
    }
    try {
      mkStores("x")
      mkStores("a")
      // the mixed store really is mixed: the routing flags the auto
      // probe will read are frozen per label
      val cont = spark.table("ingau_em_a_bbits")
        .select(col("label"), col("cont")).collect()
        .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      assert(cont == Map(1 -> true, 3 -> false, 2 -> false),
        s"frozen continuum flags wrong: $cont")
      assert(EmbedStore.bandedRoutingStat(spark, "ingau_em_x")._2.isEmpty,
        "the default-geometry twin must route every label exact")
      val exactOut = runStream("x")
      locally {
        val autoOut = runStream("a")
        assert(exactOut.keySet == Set(0L, 1L, 2L) &&
          autoOut.keySet == Set(0L, 1L, 2L),
          s"expected 3 micro-batches: ${exactOut.keySet} / ${autoOut.keySet}")
        (0L to 2L).foreach(i => assert(autoOut(i) == exactOut(i),
          s"auto-routed batch $i verdicts diverged:\n${autoOut(i)}" +
            s"\nvs exact:\n${exactOut(i)}"))
        // the dup plants actually fired: batch 0's rows matched their
        // mega-label history, batch 2's row matched the FRESH label's
        // batch-1 doc through the exact route (21 was appended, never
        // measured — n_emb_matches=1, emb_canonical=21)
        assert(autoOut(0L).exists(r => r.startsWith("[11,") &&
          r.contains(",1,100,")), s"continuum dup unmatched: ${autoOut(0L)}")
        assert(autoOut(2L).exists(r => r.startsWith("[31,") &&
          r.contains(",1,21,")), s"fresh-label dup unmatched: ${autoOut(2L)}")
        // the fresh label appended mid-stream follows the frozen
        // discipline: unmeasured ⇒ cont=false ⇒ exact-routed
        val cont7 = spark.table("ingau_em_a_bbits")
          .filter(col("label") === 7).select("cont").collect()
        assert(cont7.length == 1 && !cont7.head.getBoolean(0),
          "a label appended mid-stream must stay exact-routed " +
            "(unmeasured, cont=false) until a declared rebuild")
      }
    } finally {
      Seq("x", "a").foreach { t =>
        Seq(s"ingau_fp_$t", s"ingau_mh_${t}_bands",
          s"ingau_mh_${t}_shingles", s"ingau_sh_$t",
          s"ingau_em_${t}_cells", s"ingau_em_${t}_lists",
          s"ingau_em_${t}_bands", s"ingau_em_${t}_bbits")
          .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
      }
      Caches.deleteDir(tmp)
    }
  }

  test("the loop's working set is scoped: no checkpointed or persisted " +
      "frames survive a trigger") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-ingest-ws").toString
    val seed = Seq((2L, "seed history content here")).toDF("doc_id", "text")
    FingerprintStore.write(seed, "ingws_fp", s"$tmp/fp")
    MinHashStore.write(seed, "ingws_mh", s"$tmp/mh")
    graft.sources.SimHashStore.write(seed, "ingws_sh", s"$tmp/sh")
    val incoming = Paths.get(tmp, "incoming")
    Files.createDirectories(incoming)
    Files.writeString(incoming.resolve("b1.csv"),
      "11\tfirst fresh batch content flows here\n")
    Files.writeString(incoming.resolve("b2.csv"),
      "21\tsecond fresh batch content flows here\n")
    Files.setLastModifiedTime(incoming.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("sep", "\t").option("maxFilesPerTrigger", "1")
      .csv(incoming.toString)
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingws_fp", "ingws_mh",
      StreamingIngest.IngestLegs(simBase = Some("ingws_sh")),
      (df: DataFrame, _: Long) => { df.collect(); () })
    try {
      q.processAllAvailable()
      // every checkpoint the two triggers materialized (micro-batch,
      // probe verdicts, store novelty slices) was freed eagerly — the
      // loop never waits for the ContextCleaner
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"trigger leaked persisted RDD ids: $leaked")
    } finally {
      q.stop()
      Seq("ingws_fp", "ingws_mh_bands", "ingws_mh_shingles", "ingws_sh")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("media vectors ride the embed leg: a media batch's vectors land " +
      "in the store, and a slice-edited payload copy is annotated " +
      "against the seed media history") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.media.MediaFeaturizer
    import graft.sources.EmbedStore
    val tmp = Files.createTempDirectory("graft-ingest-media").toString
    def mtOf(id: Long): String = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    def vecOf(text: String): Array[Float] =
      MediaFeaturizer.embedStub(text.getBytes("UTF-8")).map(_.toFloat)
    // seed media corpus: distinct ~160-byte payloads, ids ≡ 0 mod 3 so
    // they share the image slot with the planted batch copy below
    val seedTexts = Seq(
      3L -> (1 to 24).map(i => s"alpha$i").mkString(" "),
      6L -> (1 to 24).map(i => s"beta$i").mkString(" "),
      9L -> (1 to 24).map(i => s"gamma$i").mkString(" "))
    val seed = seedTexts.toDF("doc_id", "text")
    FingerprintStore.write(seed, "ingm_fp", s"$tmp/fp")
    MinHashStore.write(seed, "ingm_mh", s"$tmp/mh")
    EmbedStore.write(
      seedTexts.map { case (id, t) => (id, mtOf(id), vecOf(t)) }
        .toDF("vec_id", "label", "embedding"),
      "ingm_em", s"$tmp/em")
    // batch: 102 is seed 3's payload with ONE byte flipped mid-stream
    // (disturbs one of 16 feature slices — the re-encode shape); 105 is
    // fresh media. Both are image-slot ids (≡ 0 mod 3).
    val editText = {
      val c = seedTexts.head._2.toCharArray
      c(c.length / 2) = 'Q'
      new String(c)
    }
    val freshText = (1 to 24).map(i => s"delta$i").mkString(" ")
    val incoming = Paths.get(tmp, "incoming")
    Files.createDirectories(incoming)
    Files.writeString(incoming.resolve("b1.csv"),
      s"102\t$editText\n105\t$freshText\n")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("sep", "\t").csv(incoming.toString)
      .as[(Long, String)]
      .map { case (id, t) => (id, t, mtOf(id), vecOf(t)) }
      .toDF("doc_id", "text", "label", "embedding")
    var verdicts: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamingIngest.run(spark, stream,
      "ingm_fp", "ingm_mh",
      StreamingIngest.IngestLegs(embedBase = Some("ingm_em")),
      (df: DataFrame, _: Long) => { verdicts = df.collect() })
    try {
      q.processAllAvailable()
      val byId = verdicts.map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(byId.keySet == Set(102L, 105L))
      // the slice-edited media copy is annotated against the seed
      // vector history: canonical = the original asset, cosine high
      assert(byId(102L).getAs[Long]("n_emb_matches") >= 1L)
      assert(byId(102L).getAs[Long]("emb_canonical") == 3L)
      assert(byId(102L).getAs[Double]("best_cos") >= 0.9)
      // fresh media matches nothing semantically
      assert(byId(105L).getAs[Long]("n_emb_matches") == 0L)
      // the KEPT docs' media vectors landed in the embed store — and
      // only those (the kept set is the dedup verdict's, whatever the
      // lexical legs decided about the edited copy)
      val kept = verdicts.filter(r => !r.getAs[Boolean]("is_dup")
          && r.getAs[Long]("n_hist_matches") == 0L)
        .map(_.getAs[Long]("doc_id")).toSet
      val landed = spark.table("ingm_em_lists")
        .select("h_id").distinct().collect().map(_.getLong(0)).toSet
      assert(landed == Set(3L, 6L, 9L) ++ kept,
        s"store holds $landed, expected seed + kept $kept")
      // and a landed vector is probe-able intact: the fresh payload's
      // own vector meets itself at cosine 1
      val self = EmbedStore.dedupAgainst(spark, "ingm_em",
        Seq((999L, mtOf(105L), vecOf(freshText)))
          .toDF("vec_id", "label", "embedding"))
        .collect().head
      assert(self.getAs[Long]("n_hist_matches") >= 1L)
      assert(self.getAs[Double]("best_cos") >= 0.999999)
    } finally {
      q.stop()
      Seq("ingm_fp", "ingm_mh_bands", "ingm_mh_shingles", "ingm_em_lists",
        "ingm_em_cells")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("simhash-store leg: structural near-dups are annotated against " +
      "the signature history; kept docs' keys enter the store; exact " +
      "dups carry NULL simhash columns") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.sources.SimHashStore
    // LONG docs are what makes a one-token edit a simhash near-dup:
    // each bit's vote margin grows like √tokens while the edit moves
    // it by ≤ 2, so flipped bits ~ (few) at 300 tokens where a 40-token
    // doc would flip ~15. Validate the plant before using it.
    val base = (1 to 300).map(i => s"w${i % 50}").mkString(" ")
    val edited = base.replaceFirst("w17", "zz")
    val sigs = graft.operators.SimHashPack.sigsOf(
        Seq((1L, base), (2L, edited)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plantHam = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    assert(plantHam >= 1 && plantHam <= 7,
      s"plant invalid: hamming $plantHam not in [1, 7]")
    val tmp = Files.createTempDirectory("graft-ingest-sh").toString
    val seed = Seq((2L, "seed history content")).toDF("doc_id", "text")
    FingerprintStore.write(seed, "ingsh_fp", s"$tmp/fp")
    MinHashStore.write(seed, "ingsh_mh", s"$tmp/mh")
    SimHashStore.write(seed, "ingsh_sh", s"$tmp/sh")
    val incoming = Paths.get(tmp, "incoming")
    Seq((11L, base), (13L, "batch one fresh content"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$incoming/b1")
    Seq(
      (21L, edited),                         // one-token edit of 11
      (23L, "batch one fresh content"),      // exact dup: NULL sh cols
      (25L, "genuinely new in batch two"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$incoming/b2")
    new java.io.File(s"$incoming/b1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => f.setLastModified(System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$incoming")
    val out = scala.collection.mutable.Map.empty[Long, Array[
      org.apache.spark.sql.Row]]
    val q = StreamingIngest.run(spark, stream.toDF(),
      "ingsh_fp", "ingsh_mh",
      StreamingIngest.IngestLegs(simBase = Some("ingsh_sh")),
      (v: DataFrame, id: Long) => out(id) = v.collect())
    try {
      q.processAllAvailable()
      assert(out.keySet == Set(0L, 1L), s"expected 2 micro-batches: $out")
      // verdict columns: doc_id, canonical_id, dup_of_history, is_dup,
      // n_hist_matches, hist_canonical, best_jaccard, n_sh_matches,
      // sh_canonical, best_hamming
      val b1 = out(0L).map(r => r.getLong(0) -> r).toMap
      val b2 = out(1L).map(r => r.getLong(0) -> r).toMap
      // batch1 never sees itself structurally (probe severed pre-append)
      b1.values.foreach(r =>
        assert(r.getLong(7) == 0L, s"batch1 sh-matched itself: $r"))
      // 21 structurally near-dups b1's doc 11 at the validated distance
      assert(b2(21L).getLong(7) >= 1L && b2(21L).getLong(8) == 11L,
        s"simhash match missing: ${b2(21L)}")
      assert(b2(21L).getLong(9) == plantHam.toLong,
        s"best_hamming: ${b2(21L)} want $plantHam")
      // exact dup: sh columns NULL (never probed)
      assert(b2(23L).isNullAt(7) && b2(23L).isNullAt(9), s"${b2(23L)}")
      // novel doc: no structural match
      assert(b2(25L).getLong(7) == 0L, s"${b2(25L)}")
      // the signature store holds the kept docs (4 key rows each);
      // 21 was a minhash near-dup of 11 → not kept, not appended
      val stored = spark.table("ingsh_sh")
        .select("h_id").distinct().collect().map(_.getLong(0)).toSet
      assert(stored == Set(2L, 11L, 13L, 25L), s"stored: $stored")
    } finally {
      q.stop()
      Seq("ingsh_fp", "ingsh_mh_bands", "ingsh_mh_shingles", "ingsh_sh")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("embed-before-band-append ordering: a crash between the embed " +
      "and band appends replays with every kept vector stored") {
    // Same hazard class the index-leg ordering test pins: were the
    // embed append AFTER the band append, a crash between them plus a
    // replay (whose within-batch lexical near-dups now see each other
    // as history and leave kept) would strand those docs
    // banded-but-unembedded forever. Embed-first, the crash point
    // "after fp+embed, before band" replays with the band store
    // untouched: kept re-derives identically and both stores converge.
    import java.nio.file.Files
    import spark.implicits._
    import graft.sources.EmbedStore
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = base.replace("w20", "zz")
    val tmp = Files.createTempDirectory("graft-ingest-emord").toString
    def emb(v: Double*) = v.map(_.toFloat).toArray
    val seed = Seq((2L, "seed history content")).toDF("doc_id", "text")
    FingerprintStore.write(seed, "emord_fp", s"$tmp/fp")
    MinHashStore.write(seed, "emord_mh", s"$tmp/mh")
    EmbedStore.write(
      Seq((2L, 0, emb(0.0, 1.0, 0.0, 0.0)))
        .toDF("vec_id", "label", "embedding"),
      "emord_em", s"$tmp/em")
    // a within-batch lexical near-dup pair, far apart in vector space
    val batch = Seq(
      (11L, base, emb(1.0, 0.0, 0.0, 0.0)),
      (13L, near, emb(0.0, 0.0, 1.0, 0.0)))
      .toDF("doc_id", "text", "embedding")
    def embOf(df: DataFrame) = df.select(col("doc_id").as("vec_id"),
      lit(0).as("label"), col("embedding"))
    try {
      // attempt 1 crashes AFTER the fp and embed appends (the order
      // processBatch runs), BEFORE the band append
      FingerprintStore.append(spark, "emord_fp", batch)
      EmbedStore.append(spark, "emord_em", embOf(batch)) // kept = {11,13}
      // replay: the full loop
      StreamingIngest.processBatch(spark, "emord_fp", "emord_mh",
        StreamingIngest.IngestLegs(embedBase = Some("emord_em")),
        batch).collect()
      // both docs are in BOTH stores — no banded-but-unembedded gap
      val banded = spark.table("emord_mh_shingles")
        .select("h_id").collect().map(_.getLong(0)).toSet
      assert(Set(11L, 13L).subsetOf(banded), s"banded: $banded")
      val stored = spark.table("emord_em_lists")
        .select("h_id").collect().map(_.getLong(0)).toSet
      assert(Set(2L, 11L, 13L).subsetOf(stored), s"stored: $stored")
      // and the replay's duplicate vector rows cannot change a later
      // verdict: a probe near 11 still counts ONE distinct match
      val probe = Seq((31L, 0, emb(0.999, 0.01, 0.0, 0.0)))
        .toDF("vec_id", "label", "embedding")
      val v = EmbedStore.dedupAgainst(spark, "emord_em", probe)
        .collect()(0)
      assert(v.getLong(1) == 1L && v.getLong(2) == 11L,
        s"replay duplicates changed a verdict: $v")
    } finally {
      Seq("emord_fp", "emord_mh_bands", "emord_mh_shingles",
        "emord_em_cells", "emord_em_lists")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }

  test("index-before-band-append ordering: a crash between the index " +
      "and band appends replays to a converged pair of stores") {
    // The hazard this ordering closes: batch-internal near-dups A/B
    // (both KEPT by the within-batch policy) land in the band store;
    // a crash before the index append plus a replay — where A and B
    // now see each other as history and leave `kept` — would strand
    // them banded-but-unindexed forever if the index leg ran last.
    // With the index leg FIRST, the same crash point (after fp+index,
    // before band) replays with the band store untouched: kept is
    // re-derived identically and both stores converge.
    import java.nio.file.Files
    import spark.implicits._
    import graft.sources.SearchIndex
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = base.replace("w20", "zz")
    val tmp = Files.createTempDirectory("graft-ingest-order").toString
    val seed = Seq((2L, "seed history content")).toDF("doc_id", "text")
    FingerprintStore.write(seed, "ingord_fp", s"$tmp/fp")
    MinHashStore.write(seed, "ingord_mh", s"$tmp/mh")
    SearchIndex.write(seed, "ingord_ix", s"$tmp/ix")
    val batch = Seq((11L, base), (13L, near)).toDF("doc_id", "text")
    try {
      // attempt 1, crashing AFTER the fp and index appends (the legs
      // processBatch runs before the band append), BEFORE the band leg
      FingerprintStore.append(spark, "ingord_fp", batch)
      SearchIndex.append(spark, "ingord_ix", batch) // kept = {11, 13}
      // replay: the full loop
      val verdicts = StreamingIngest.processBatch(spark, "ingord_fp",
        "ingord_mh",
        StreamingIngest.IngestLegs(searchBase = Some("ingord_ix")),
        batch).collect()
        .map(r => r.getLong(0) -> r).toMap
      // the replay's fp verdicts are replay-stable (not history dups)
      assert(!verdicts(11L).getBoolean(2) && !verdicts(13L).getBoolean(2))
      // both docs are in BOTH stores — no banded-but-unindexed gap
      val indexed = spark.table("ingord_ix_docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(Set(2L, 11L, 13L).subsetOf(indexed), s"indexed: $indexed")
      val banded = spark.table("ingord_mh_shingles")
        .select("h_id").collect().map(_.getLong(0)).toSet
      assert(Set(11L, 13L).subsetOf(banded), s"banded: $banded")
      // and the index is not double-counted: one postings row per
      // (word, doc) pair for the replayed docs
      val maxDup = spark.table("ingord_ix_postings")
        .groupBy("word", "doc_id").count().agg(max("count"))
        .first().getLong(0)
      assert(maxDup == 1L, s"duplicated postings rows: $maxDup")
    } finally {
      Seq("ingord_fp", "ingord_mh_bands", "ingord_mh_shingles",
        "ingord_ix_postings", "ingord_ix_docs", "ingord_ix_totals")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Caches.deleteDir(tmp)
    }
  }
}
