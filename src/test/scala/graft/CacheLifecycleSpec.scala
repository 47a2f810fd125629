package graft

/** The registry cache lifecycle (VERDICT r3 #5): every pack persists its
  * multi-branch working sets through [[Caches]], so a harness-scoped
  * releaseAll leaves ZERO persisted blocks behind — the property a
  * long-lived service embedding SparkEntry needs to not leak executor
  * storage memory across requests.
  */
class CacheLifecycleSpec extends GraftSpec {

  test("releaseAll drops every registry-persisted block") {
    // clear whatever earlier suites left (suites share the session)
    Caches.releaseAll(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "a persist bypassed the Caches registry: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString("; "))
    // run queries that persist shared working sets (C2 pairs, IVF lists)
    SparkEntry.queries("dedup_minhash")(spark, sfDir).collect()
    SparkEntry.queries("knn_join")(spark, sfDir).collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the shared working sets to be cached while in use")
    Caches.releaseAll(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseAll left persisted blocks: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString("; "))
  }

  test("DirMemo builds each key once, serves a nested lookup, and " +
      "releaseAll deletes every directory it built") {
    val memo = new Caches.DirMemo
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def build(prefix: String): String = {
      builds.incrementAndGet()
      java.nio.file.Files.createTempDirectory(prefix).toString
    }
    // a build that looks up another key of the same memo (what the
    // ann_index maintenance rows do with the append store)
    val outer = memo("outer") {
      memo("inner")(build("graft_memo_inner"))
      build("graft_memo_outer")
    }
    val inner = memo("inner")(build("graft_memo_again"))
    assert(memo("outer")(build("graft_memo_again")) == outer)
    assert(builds.get == 2)
    Caches.releaseAll(blocking = true)
    Seq(outer, inner).foreach(d =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d)), d))
  }
}
