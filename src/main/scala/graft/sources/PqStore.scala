package graft.sources

import graft.operators.AnnPack
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted product-quantization index — the build-once / query-many
  * form of D11's in-query `ann_pq` (SURVEY.md §2 D12), completing the
  * pattern that every ANN technique here exists in both forms (D5 ↔
  * D9's AnnIndex, D11 ↔ this).
  *
  * Three tables under one base name:
  *  - `<base>_books` — the m·ks codebooks (sub, cid, cv, cc): tiny,
  *    broadcast at query time. Fixed after `write` — codebooks are the
  *    search contract, like AnnIndex's centroids; heavy distribution
  *    drift means rebuild, not retrain-on-append.
  *  - `<base>_codes` — (vec_id, sub, cid), bucketed by vec_id: the
  *    32×-compressed corpus the ADC pass scans. Bucketing by vec_id
  *    makes the per-vector aggregations (reconstructed norm, and the
  *    replay dedupe) exchange-free above the scan.
  *  - `<base>_vecs` — (vec_id, v, nrm), bucketed by vec_id: the float
  *    vectors, read ONLY for the bounded re-rank pool (the store is
  *    self-contained — search needs no original table).
  *
  * `search` runs [[AnnPack.pqAdcSearch]] — the SAME code as the
  * in-query path, so the store scores hash-match `ann_pq`'s oracle
  * verbatim (`pq_index_search`), and `append` encodes new vectors
  * against the FIXED books (`pq_index_append_search` gates that leg:
  * the oracle trains on the write slice but scores the full corpus,
  * which is precisely the write+append contract). Appends are purely
  * additive and idempotent-at-read: the search dedupes replayed code
  * rows on (vec_id, sub) and replayed vec rows on vec_id — without the
  * latter a duplicated `_vecs` row would surface the same vector at
  * two ranks of the re-ranked result (the spec plants exactly that).
  * Single-writer ingest contract, lease-guarded per table.
  */
object PqStore {

  /** Train the codebooks on `embs` (vec_id, embedding) and land all
    * three tables at `path`.
    */
  def write(embs: DataFrame, tableBase: String, path: String,
      buckets: Int = 8): Unit = {
    val spark = embs.sparkSession
    val n = AnnPack.normed(embs)
    val subs = AnnPack.pqSlices(n.select(col("vec_id"), col("v")))
    val cent = AnnPack.pqCentroids(subs)
    Bucketed.writePlain(cent.select(col("sub"), col("cid"), col("cv"),
        col("cc")),
      s"${tableBase}_books", s"$path/books", Seq("sub", "cid"))
    spark.catalog.refreshTable(s"${tableBase}_books")
    Bucketed.writeBucketed(
      AnnPack.pqCodesOf(subs, spark.table(s"${tableBase}_books")),
      s"${tableBase}_codes", "vec_id", buckets, s"$path/codes")
    Bucketed.writeBucketed(n, s"${tableBase}_vecs", "vec_id", buckets,
      s"$path/vecs")
  }

  /** Encode `embs` (vec_id, embedding) against the FIXED books and
    * fold them in bucket-aligned — the PQ leg of the incremental
    * ingest family. Re-appending a vec_id is tolerated at read.
    */
  def append(spark: SparkSession, tableBase: String,
      embs: DataFrame): Unit = {
    val n = AnnPack.normed(embs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val subs = AnnPack.pqSlices(n.select(col("vec_id"), col("v")))
      Bucketed.appendBucketed(spark,
        AnnPack.pqCodesOf(subs, spark.table(s"${tableBase}_books")),
        s"${tableBase}_codes")
      Bucketed.appendBucketed(spark, n, s"${tableBase}_vecs")
    } finally n.unpersist()
  }

  /** Top-k cosine neighbors of `queries` (vec_id, embedding) via the
    * stored codes: (query_id, rank, vec_id, cos_sim, approx_cos) —
    * bit-identical to the in-query `ann_pq` on the same data.
    */
  def search(spark: SparkSession, tableBase: String,
      queries: DataFrame): DataFrame = {
    AnnPack.pqAdcSearch(
      spark.table(s"${tableBase}_books"),
      spark.table(s"${tableBase}_codes"),
      spark.table(s"${tableBase}_vecs"),
      AnnPack.asQueries(AnnPack.normed(queries)))
  }

  /** Restore one sorted file per bucket after appends. */
  def compact(spark: SparkSession, tableBase: String): Unit = {
    Bucketed.compactBucketed(spark, s"${tableBase}_codes")
    Bucketed.compactBucketed(spark, s"${tableBase}_vecs")
    Bucketed.compactPlain(spark, s"${tableBase}_books",
      Seq("sub", "cid"))
  }
}
