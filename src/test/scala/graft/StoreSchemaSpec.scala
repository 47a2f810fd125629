package graft

import graft.sources.{AnnIndex, EmbedStore, PqStore}
import org.apache.spark.sql.DataFrame

/** The persisted table formats of the three vector stores, pinned by
  * column name and type. A store already on disk is read by the next
  * build of the code: renaming or retyping one of these columns (say
  * `cid` → `cell`) strands every existing store, so a change here must
  * be deliberate and come with a migration.
  */
class StoreSchemaSpec extends GraftSpec {

  private def columns(df: DataFrame): Seq[String] =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .toSeq

  /** `n` deterministic 64-dim vectors over two labels. */
  private def embs(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(64)(j =>
        math.sin(i * 7.0 + j * 0.37 + (i % 2) * 3.0).toFloat)
      (i.toLong, i % 2, v)
    }.toDF("vec_id", "label", "embedding")
  }

  private def freshStore(name: String): (String, String) = {
    val base = s"graft_schema_${name}_${System.nanoTime()}"
    (base, s"${sys.props("java.io.tmpdir")}/$base")
  }

  test("AnnIndex: centroids and lists") {
    val (_, path) = freshStore("ann")
    try {
      AnnIndex.write(embs(24).select("vec_id", "embedding"), path,
        k = 2, iters = 1)
      assert(columns(spark.read.parquet(s"$path/centroids")) ==
        Seq("cell:bigint", "cv:array<double>", "cc:double"))
      // `cell` is the partition directory; the read infers it as int
      assert(columns(spark.read.parquet(s"$path/lists")) ==
        Seq("vec_id:bigint", "v:array<double>", "nrm:double", "cell:int"))
    } finally Caches.deleteDir(path)
  }

  test("PqStore: _books, _codes and _vecs") {
    val (base, path) = freshStore("pq")
    try {
      PqStore.write(embs(40).select("vec_id", "embedding"), base, path)
      assert(columns(spark.table(s"${base}_books")) ==
        Seq("sub:int", "cid:int", "cv:array<double>", "cc:double"))
      assert(columns(spark.table(s"${base}_codes")) ==
        Seq("vec_id:bigint", "sub:int", "cid:int"))
      assert(columns(spark.table(s"${base}_vecs")) ==
        Seq("vec_id:bigint", "v:array<double>", "nrm:double"))
    } finally {
      Seq("books", "codes", "vecs").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${base}_$t"))
      Caches.deleteDir(path)
    }
  }

  test("EmbedStore: _cells, _lists, _bands and _bbits") {
    val (base, path) = freshStore("emb")
    try {
      EmbedStore.write(embs(40), base, path)
      assert(columns(spark.table(s"${base}_cells")) ==
        Seq("label:int", "cell:int", "cv:array<double>", "cnrm:double",
          "r:double"))
      assert(columns(spark.table(s"${base}_lists")) ==
        Seq("ckey:string", "h_id:bigint", "hv:array<double>",
          "hnrm:double"))
      assert(columns(spark.table(s"${base}_bands")) ==
        Seq("bkey:string", "h_id:bigint", "hv:array<double>",
          "hnrm:double", "bgen:int"))
      assert(columns(spark.table(s"${base}_bbits")) ==
        Seq("label:int", "bits:int", "dim:int", "bands:int",
          "max_bits:int", "target_load:int", "cap:int", "cell_size:int",
          "max_cells:int", "orphan_max_frac:double", "cont:boolean",
          "bgen:int", "n_meas:bigint", "n_app:bigint"))
    } finally {
      Seq("cells", "lists", "bands", "bbits").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${base}_$t"))
      Caches.deleteDir(path)
    }
  }
}
