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

  private def exists(d: String) =
    java.nio.file.Files.exists(java.nio.file.Paths.get(d))

  test("Caches.once builds each key once, serves a nested lookup, and " +
      "releaseAll deletes every directory it built") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    // a build that looks up another key of the same memo (what the
    // ann_index maintenance rows do with the append store)
    val outer = Caches.tempDir("graft_memo_outer", "k") { _ =>
      builds.incrementAndGet()
      Caches.tempDir("graft_memo_inner", "k")(_ => builds.incrementAndGet())
    }
    val inner =
      Caches.tempDir("graft_memo_inner", "k")(_ => builds.incrementAndGet())
    assert(Caches.tempDir("graft_memo_outer", "k")(
      _ => builds.incrementAndGet()) == outer)
    assert(builds.get == 2)
    Caches.releaseAll(blocking = true)
    Seq(outer, inner).foreach(d => assert(!exists(d), d))
  }

  test("a failed build removes what it created and leaves its key " +
      "unbuilt: the next lookup retries it") {
    var failedDir = ""
    intercept[IllegalStateException] {
      Caches.tempDir("graft_memo_fail", "k") { d =>
        failedDir = d
        throw new IllegalStateException("build failed")
      }
    }
    assert(failedDir.nonEmpty && !exists(failedDir))
    var failedBase = ""
    intercept[IllegalStateException] {
      Caches.store(spark, "/graft/memo/fail", "graft_memo_fail_%s")(Seq(_)) {
        (base, dir) =>
          failedBase = base
          spark.range(3).write.option("path", dir).saveAsTable(base)
          throw new IllegalStateException("build failed")
      }
    }
    assert(!spark.catalog.tableExists(failedBase))
    // the retry builds: the failed attempt left no cell behind
    val dir = Caches.tempDir("graft_memo_fail", "k")(_ => ())
    assert(dir != failedDir && exists(dir))
    val base =
      Caches.store(spark, "/graft/memo/fail", "graft_memo_fail_%s")(Seq(_)) {
        (base, dir) =>
          spark.range(3).write.option("path", dir).saveAsTable(base)
      }
    assert(base == failedBase && spark.table(base).count() == 3)
    Caches.releaseAll(blocking = true)
    assert(!exists(dir) && !spark.catalog.tableExists(base))
  }

  test("releaseAll drops the q3_bucketed store: both tables and its " +
      "directory") {
    SparkEntry.queries("q3_bucketed")(spark, sfDir).collect()
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(10)
    val root = sys.env.getOrElse("SPARK_GRAFT_STORE_DIR",
      sys.props("java.io.tmpdir"))
    val tables = Seq(s"graft_ord_b_$tag", s"graft_li_b_$tag")
    val dir = s"$root/graft_bucketed_$tag"
    tables.foreach(t => assert(spark.catalog.tableExists(t), t))
    assert(exists(dir), dir)
    Caches.releaseAll(blocking = true)
    tables.foreach(t => assert(!spark.catalog.tableExists(t),
      s"$t survived releaseAll — a rewritten dataset would probe it"))
    assert(!exists(dir), dir)
    // and the row rebuilds green after the release
    assert(SparkEntry.queries("q3_bucketed")(spark, sfDir).count() > 0)
  }
}
