package graft.sources

import graft.operators.AnnPack
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — the build-once / query-many form of D5's
  * in-query k-means ANN (SURVEY.md §2 block D).
  *
  * `write` trains the deterministic k-means coarse quantizer
  * (AnnPack.kmCentroids — identical arithmetic to `ann_ivf_kmeans`, so
  * the persisted index IS the oracle-verified one) and lands two
  * parquet tables under `path`:
  *
  *   - `centroids/` — (cell, cv, cc): k rows, broadcast at query time.
  *   - `lists/`     — the postings: (vec_id, v, nrm) PARTITIONED BY
  *     cell, so a probe reads ONLY the probed cells' files.
  *
  * `search` loads the centroids (tiny), picks each query's nprobe
  * nearest cells, narrows the postings scan with a partition filter
  * over the probed cell set — static partition pruning, spec-asserted
  * structurally — and exact-cosine re-ranks inside the probed lists via
  * TopKPerKey bounded heaps. At 100 TB the postings are the corpus;
  * the probe set bounds the scan to nprobe/k of it per query batch,
  * which is the entire point of writing the index down instead of
  * re-clustering per query.
  *
  * == Maintenance family (r16 — the r15 verdict's task 1) ==
  *
  * The one store that lacked layout discipline now has the family
  * contract its siblings (MinHashStore, SimHashStore, EmbedStore,
  * PqStore, …) carry:
  *
  *  - `write`/`append` land CELL-ALIGNED: one exchange on the cell key
  *    before the write gives one file per touched cell, instead of the
  *    tasks × cells fragment spray an arbitrarily-partitioned frame
  *    produces (the r15 `Bucketed.writeBucketed` lesson — measured
  *    1,280 → 8 files on a 10k-row store).
  *  - [[compact]] — layout-only: the SAME rows rewritten to one sorted
  *    file per cell. Rows are preserved exactly (replay-duplicate
  *    postings included — the read-side `dropDuplicates` is the
  *    replay-convergence key and must survive compaction, the
  *    family-wide compactPlain contract), so search results are
  *    byte-stable across it.
  *  - [[rebuild]] — quantizer refresh for distribution drift: retrain
  *    the coarse centroids on the CURRENT (replay-deduplicated)
  *    content and re-route every vector, ≡ a fresh `write` of the
  *    deduplicated corpus. Changes cell routing, hence which lists a
  *    probe scans — run it at a replay barrier, like every sibling
  *    rebuild.
  *
  * Both are GENERATION-SWAPPED: the new layout lands in sibling
  * `lists__gN`/`centroids__gN` directories while the old generation's
  * files stay live, the commit is one atomic empty-file create of the
  * `SERVING_gN` marker (readers resolve the highest marker; the dirs
  * land strictly before it), and elder generations retire with
  * ONE-generation grace — a crash at any point leaves the pre-existing
  * generation fully live, and a plan resolved before the swap still
  * reads the files its scan captured. Mutations share the sibling
  * stores' single-writer lease ([[Bucketed.withWriterLeaseAt]] on the
  * store path), so an append racing a compaction refuses loudly
  * instead of corrupting.
  */
object AnnIndex {

  /** The serving generation: the highest committed `SERVING_gN`
    * marker, or 0 (the bare `lists`/`centroids` dirs `write` lands)
    * when none exists. Marker files are empty — their atomic CREATE is
    * the commit; the generation's directories land strictly before it,
    * so the highest marker always names a complete generation.
    */
  private def servingGen(spark: SparkSession, path: String): Int = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return 0
    fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("SERVING_g") &&
        n.drop(9).nonEmpty && n.drop(9).forall(_.isDigit) =>
        n.drop(9).toInt }
      .foldLeft(0)(math.max)
  }

  private def genSuffix(gen: Int): String = if (gen == 0) "" else s"__g$gen"

  private def listsDir(path: String, gen: Int): String =
    s"$path/lists${genSuffix(gen)}"

  private def centroidsDir(path: String, gen: Int): String =
    s"$path/centroids${genSuffix(gen)}"

  /** Cell-aligned postings write: one exchange on the cell key so each
    * cell's rows live in exactly one task → one file per (touched)
    * cell, vec_id-sorted within it. `partitionBy` keeps the directory
    * layout the probe's static partition pruning reads.
    */
  private def writeLists(assigned: DataFrame, dir: String,
      mode: String): Unit =
    assigned
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode(mode).partitionBy("cell")
      .parquet(dir)

  /** Train on `embs` (vec_id, embedding) and persist under `path` —
    * a FRESH store (generation 0); maintenance of a live store goes
    * through [[append]]/[[compact]]/[[rebuild]].
    */
  def write(embs: DataFrame, path: String, k: Int = 8,
      iters: Int = 2): Unit = {
    val n = AnnPack.normed(embs)
    trainAndLand(n, k, iters, s"$path/centroids", s"$path/lists")
  }

  /** Train the centroids on the normed `n`, land them at `centDir`,
    * then route every vector to them and land the postings at
    * `listsDir`.
    * The routing reads the centroids BACK from `centDir` (k rows), as
    * [[append]] and [[search]] do: assigning against the training
    * lineage itself would run the unrolled Lloyd rounds a second time.
    */
  private def trainAndLand(n: DataFrame, k: Int, iters: Int,
      centDir: String, listsDir: String): Unit = {
    AnnPack.kmCentroids(AnnPack.kmCorpus(n), k, iters)
      .write.mode("overwrite").parquet(centDir)
    writeLists(AnnPack.ivfPostings(n, n.sparkSession.read.parquet(centDir)),
      listsDir, "overwrite")
  }

  /** Fold new vectors into the index WITHOUT retraining — the ANN leg
    * of the incremental-ingest loop ([[FingerprintStore.append]] /
    * [[MinHashStore.append]] are the exact/minhash legs): each vector
    * is routed to its nearest EXISTING centroid (the same argmin
    * assignment `write` uses) and appended to that cell's postings
    * partition, so the next `search` sees it through the same
    * partition-pruned scan. The quantizer stays fixed — centroids are
    * the search contract; under heavy distribution drift the answer is
    * a declared [[rebuild]]. Cell-aligned (one file per touched cell
    * per batch — appends still accumulate one file per batch, which
    * [[compact]] folds back to one). Lease-guarded single-writer, like
    * every sibling store's append.
    */
  def append(spark: SparkSession, path: String, embs: DataFrame): Unit =
    Bucketed.withWriterLeaseAt(spark, s"$path/lists", s"AnnIndex($path)") {
      val gen = servingGen(spark, path)
      val cent = spark.read.parquet(centroidsDir(path, gen))
      writeLists(AnnPack.ivfPostings(AnnPack.normed(embs), cent),
        listsDir(path, gen), "append")
    }

  /** Generation-swap scaffolding shared by [[compact]] and
    * [[rebuild]]: land the next generation's centroids+lists in
    * sibling dirs, commit via the atomic `SERVING_gN` marker create,
    * retire elder generations with one-generation grace (the
    * generation retired NOW survives until the NEXT swap, so plans
    * resolved before this one still read their captured files).
    */
  private def swapGeneration(spark: SparkSession, path: String)(
      write: Int => Unit): Unit = {
    val gOld = servingGen(spark, path)
    val gNew = gOld + 1
    write(gNew)
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // the commit: dirs are complete, the marker makes them serving
    fs.create(new org.apache.hadoop.fs.Path(dir, s"SERVING_g$gNew"),
      /* overwrite = */ false).close()
    // retire generations older than the one just retired (grace)
    (0 until gOld).foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(listsDir(path, g)), true)
      fs.delete(new org.apache.hadoop.fs.Path(centroidsDir(path, g)), true)
      if (g > 0)
        fs.delete(new org.apache.hadoop.fs.Path(dir, s"SERVING_g$g"), false)
    }
  }

  /** Layout-only compaction: rewrite the SAME postings rows to one
    * sorted file per cell under the next generation, undoing append
    * amplification (each append adds a file per touched cell; a long
    * ingest loop degrades the probed-cell read into a small-file
    * scan). Rows — including replay-duplicate postings, the read-side
    * convergence key — are preserved exactly, so `search` is
    * byte-stable across it (spec-asserted, and the
    * `ann_index_compact_search` gate row hash-matches the same oracle
    * as the uncompacted append row). Centroids are re-landed verbatim
    * (k rows — the swap needs both tables under one generation).
    */
  def compact(spark: SparkSession, path: String): Unit =
    Bucketed.withWriterLeaseAt(spark, s"$path/lists", s"AnnIndex($path)") {
      val gen = servingGen(spark, path)
      val cent = spark.read.parquet(centroidsDir(path, gen))
        .localCheckpoint(true)
      val lists = spark.read.parquet(listsDir(path, gen))
      swapGeneration(spark, path) { gNew =>
        cent.write.mode("overwrite").parquet(centroidsDir(path, gNew))
        writeLists(lists, listsDir(path, gNew), "overwrite")
      }
      org.apache.spark.sql.GraftDatasetBridge.freeLocalCheckpoint(cent)
    }

  /** Quantizer refresh for distribution drift: retrain the coarse
    * centroids on the CURRENT content (replay-duplicates collapsed —
    * the rebuild ≡ a fresh [[write]] of the deduplicated corpus, the
    * family-wide rebuild contract) and re-route every vector, under
    * the next generation. Changes cell routing — which lists a probe
    * scans, though every surviving vector stays searchable — so run it
    * at a replay barrier, never between a crash and its replay.
    */
  def rebuild(spark: SparkSession, path: String, k: Int = 8,
      iters: Int = 2): Unit =
    Bucketed.withWriterLeaseAt(spark, s"$path/lists", s"AnnIndex($path)") {
      val gen = servingGen(spark, path)
      val n = spark.read.parquet(listsDir(path, gen))
        .dropDuplicates("vec_id")
        .select(col("vec_id"), col("v"), col("nrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try
        swapGeneration(spark, path) { gNew =>
          trainAndLand(n, k, iters, centroidsDir(path, gNew),
            listsDir(path, gNew))
        }
      finally n.unpersist()
    }

  /** Postings file count per cell directory of the SERVING lists —
    * metadata-scale (≤ k rows), the layout-bound statistic the compact
    * spec asserts and an ingest operator alerts on.
    */
  def listsFileCounts(spark: SparkSession,
      path: String): Map[Long, Int] = {
    val dir = new org.apache.hadoop.fs.Path(
      listsDir(path, servingGen(spark, path)))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(dir).filter(_.isDirectory)
      .flatMap { cd =>
        val name = cd.getPath.getName
        if (!name.startsWith("cell=")) None
        else Some(name.drop(5).toLong ->
          fs.listStatus(cd.getPath)
            .count(f => f.getPath.getName.endsWith(".parquet")))
      }.toMap
  }

  /** Top-k cosine neighbors of `queries` (vec_id, embedding) from the
    * index at `path`. Returns (query_id, rank, vec_id, cos_sim, cell).
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 3): DataFrame = {
    val gen = servingGen(spark, path)
    val cent = spark.read.parquet(centroidsDir(path, gen))
    val probed = AnnPack.kmProbe(
      AnnPack.asQueries(AnnPack.normed(queries)), cent, nprobe)
    // the probed cell set is metadata-scale (≤ nprobe · |queries|,
    // deduped to ≤ k cells) — collecting it turns the postings scan
    // into a statically partition-pruned read of only those cells
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getLong(0))
    // partition-column type inference may narrow cell to int on read;
    // compare in long so the probe literals always line up (the cast is
    // evaluable over partition values, so pruning stays static)
    val lists = spark.read.parquet(listsDir(path, gen))
      .filter(col("cell").cast("long").isin(cells: _*))
      .withColumn("cell", col("cell").cast("long"))
      // a crash-replayed append duplicates postings rows (same vec_id,
      // same cell — routing is deterministic); without this dedupe a
      // duplicated vector occupies TWO ranks of the result (the defect
      // the PqStore spec planted and caught in its own search; the
      // duplicate rows are byte-identical, so which survives is
      // immaterial)
      .dropDuplicates("vec_id")
    AnnPack.ivfRerank(lists, probed, k)
  }
}
