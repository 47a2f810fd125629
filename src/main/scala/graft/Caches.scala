package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry-scoped cache lifecycle.
  *
  * Query packs persist multi-branch working sets (shingle sets, verified
  * duplicate pairs, IVF inverted lists, shard assignments) because Spark
  * has no cross-branch common-subplan elimination. For a per-session CLI
  * that is fine; for a long-lived service embedding [[SparkEntry]] the
  * un-released MEMORY_AND_DISK blocks are a leak. Every pack therefore
  * routes persists through this registry, and a harness (Verify, Bench,
  * an embedding service's request scope) calls [[releaseAll]] when a
  * batch of queries is done.
  *
  * Intentionally NOT released per query: the whole point of several of
  * these frames is cross-query sharing within one run (D3/C5 share the
  * IVF candidate pairs; C2/C6 share the verified MinHash pairs) via
  * Spark's CacheManager plan-identity dedupe.
  */
object Caches {

  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` (MEMORY_AND_DISK) and remember it for [[releaseAll]].
    * Re-persisting a plan the CacheManager already holds is a no-op, so
    * double-tracking the same subplan from two queries is harmless.
    */
  def persist(df: DataFrame): DataFrame = {
    frames.add(df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  private val releaseHooks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register a callback run on every [[releaseAll]] — for a memo that
    * is not build-once and so cannot live in [[once]], e.g. a stat
    * replaced whenever the store it describes moves.
    */
  def onRelease(hook: () => Unit): Unit = releaseHooks.add(hook)

  /** Unpersist every frame persisted through the registry since the last
    * release, run the release hooks and release every [[once]] memo.
    * Frames a caller already unpersisted (iterative loops drop their
    * per-round intermediates eagerly) unpersist again as a no-op.
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    var df = frames.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = frames.poll()
    }
    releaseHooks.forEach(h => h())
    cells.forEach { (k, c) =>
      cells.remove(k)
      // the cell lock waits out a build in flight, so its artifact is
      // released rather than orphaned
      c.synchronized {
        if (c.value != null) c.release()
        c.value = null
      }
    }
  }

  /** Best-effort recursive delete, for release hooks whose memos point
    * at on-disk artifacts (persisted index/shard dirs): clearing the
    * memo without removing the directory leaks one full artifact copy
    * per release cycle in a long-lived session.
    */
  def deleteDir(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      // Files.walk holds a directory handle until closed — materialize
      // the listing under Using so the handle never outlives the call
      val paths = scala.util.Using.resource(java.nio.file.Files.walk(root))(
        _.iterator().asScala.toSeq)
      paths.reverse
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => })
    }
  }

  /** The ONE registry memo: `once(key, release)(build)` runs `build` at
    * most once per key until the next [[releaseAll]], which hands the
    * built value to `release` and forgets the key. Every build-once
    * artifact goes through it: the dataset-keyed [[store]]s, the
    * [[tempDir]] index and shard directories, and the [[planKey]]-keyed
    * session results. The build runs under its key's own cell lock,
    * never inside the map's `computeIfAbsent`: that would hold a map
    * bin lock for the whole build, and a build that looks up another
    * key would throw `Recursive update`. A failed build leaves its key
    * unbuilt, so the next caller retries it.
    */
  private[graft] def once[V <: AnyRef](key: Any,
      release: V => Unit = (_: V) => ())(build: => V): V = {
    val c = cells.computeIfAbsent(key, _ => new Cell)
    c.synchronized {
      if (c.value == null) {
        val v = build
        c.release = () => release(v)
        c.value = v
      }
      c.value.asInstanceOf[V]
    }
  }

  private final class Cell {
    @volatile var value: AnyRef = null
    var release: () => Unit = () => ()
  }
  private val cells = new java.util.concurrent.ConcurrentHashMap[Any, Cell]()

  /** A directory artifact built once per `key` through [[once]]: `build`
    * fills `dir`; `drop` removes it when the build fails and on release.
    */
  private def artifact(key: Any, dir: => String,
      drop: String => Unit)(build: String => Unit): String =
    once(key, drop) {
      val d = dir
      try build(d) catch { case e: Throwable => drop(d); throw e }
      d
    }

  /** A fresh temp directory named `prefix…`, built once per (`prefix`,
    * dataset dir `d`).
    */
  private[graft] def tempDir(prefix: String, d: String)(
      build: String => Unit): String =
    artifact((prefix, d),
      java.nio.file.Files.createTempDirectory(prefix).toString,
      deleteDir)(build)

  /** A persisted store built once per (JVM, dataset dir `d`): its base
    * name is `name` with `%s` replaced by d's md5 tag, its directory
    * `<root>/<base>` and its catalog tables `tables(base)`; `build(base,
    * dir)` writes it. Returns the base. The root is
    * `SPARK_GRAFT_STORE_DIR` (a shared-filesystem URI on a cluster),
    * else the JVM's temp dir. A failed build and [[releaseAll]] drop the
    * tables and delete the directory, so a dataset dir rewritten
    * in-session rebuilds its stores instead of probing stale ones.
    */
  private[graft] def store(s: SparkSession, d: String, name: String)(
      tables: String => Seq[String])(build: (String, String) => Unit)
      : String = {
    val base = name.format(md5(d).take(10))
    val root = sys.env.getOrElse("SPARK_GRAFT_STORE_DIR",
      sys.props("java.io.tmpdir"))
    artifact(base, s"$root/$base", dir => {
      tables(base).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      deleteDir(dir)
    })(build(base, _))
    base
  }

  /** The memo key of a session result computed from `df`'s plan: the
    * canonicalized analyzed plan's `semanticHash` plus the md5 of its
    * `toJSON`. Not `toString`: that rendering elides wide field lists
    * (`spark.sql.maxToStringFields`), which would leave collision
    * safety on the 32-bit hash alone; the JSON rendering is
    * truncation-free. Paired with the session in the [[once]] key.
    */
  private[graft] def planKey(df: DataFrame): (SparkSession, String) = {
    val canon = df.queryExecution.analyzed.canonicalized
    (df.sparkSession, s"${canon.semanticHash()}|${md5(canon.toJSON)}")
  }

  private def md5(v: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString

  implicit class CachesSyntax(private val df: DataFrame) extends AnyVal {
    /** `.persistTracked` — fluent [[Caches.persist]]. */
    def persistTracked: DataFrame = Caches.persist(df)
  }
}
