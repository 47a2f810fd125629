package graft

import org.apache.spark.sql.DataFrame
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

  /** Register a callback run on every [[releaseAll]] — for packs that
    * memoize MATERIALIZED results (not just plans) registry-scoped,
    * e.g. the converged connected-components labels, whose iterative
    * construction the CacheManager cannot dedupe across invocations.
    */
  def onRelease(hook: () => Unit): Unit = releaseHooks.add(hook)

  /** Unpersist every frame persisted through the registry since the last
    * release. Frames a caller already unpersisted (iterative loops drop
    * their per-round intermediates eagerly) unpersist again as a no-op.
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    var df = frames.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = frames.poll()
    }
    releaseHooks.forEach(h => h())
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

  /** A registry-scoped memo of built on-disk artifacts (persisted index
    * and shard directories): `memo(key)(build)` runs `build`, which
    * returns the directory it wrote, at most once per key until the
    * next [[releaseAll]], which deletes every built directory. The build
    * runs under its key's own cell lock, never inside the map's
    * `computeIfAbsent`: that would hold a map bin lock for the whole
    * build, and a build that looks up another key of the same memo
    * would throw `Recursive update`. A failed build leaves its key
    * unbuilt, so the next caller retries it.
    */
  private[graft] final class DirMemo {
    private final class Cell { @volatile var dir: String = null }
    private val cells =
      new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    onRelease(() => {
      cells.values.forEach(c => Option(c.dir).foreach(deleteDir))
      cells.clear()
    })

    def apply(key: String)(build: => String): String = {
      val c = cells.computeIfAbsent(key, _ => new Cell)
      c.synchronized {
        if (c.dir == null) c.dir = build
        c.dir
      }
    }
  }

  implicit class CachesSyntax(private val df: DataFrame) extends AnyVal {
    /** `.persistTracked` — fluent [[Caches.persist]]. */
    def persistTracked: DataFrame = Caches.persist(df)
  }
}
