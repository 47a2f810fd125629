package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). An optional third arg — a
    // comma-separated query-name subset — is a dev-iteration aid
    // (tools/check.py only compares the dumps that exist); the driver
    // never passes it.
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q.split(',').toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
        sys.exit(2)
        throw new IllegalStateException("unreachable")
    }
    val cpus = SysStat.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every action renders its plan into the SQLExecution listener
      // event, capped only by this conf's ~2 GB default; the deep
      // iterative cell-build plans render hundreds of MB of throwaway
      // string per action with the UI off (r17, guide §5 — the driver
      // should do almost no data work). Debug-string truncation only;
      // results are untouched.
      .config("spark.sql.maxPlanStringLength", (16 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD and enumerable: round 7's events-schema
    // regression silently shrank the correctness gate from 87 tasks to
    // 52 — every broken query was simply absent from the output dir, so
    // a fully-broken pack read as an all-green round. Record every
    // failure by name, dump them as an artifact next to the results,
    // and exit non-zero so no wrapper can mistake this run for clean.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      // a FAILED dump must leave no output behind: mode("overwrite")
      // only replaces on success, so a reused outDir would otherwise
      // keep a prior run's parquet under this name and a downstream
      // compare could read the stale result as current
      Caches.deleteDir(s"$outDir/$name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
      }
    }
    // cache lifecycle: the packs' shared working sets are registry-scoped
    // — release them once the batch is done and insist nothing leaked
    Caches.releaseAll(blocking = true)
    val leaked = spark.sparkContext.getPersistentRDDs
    if (leaked.nonEmpty) System.err.println(
      s"[verify] WARNING: ${leaked.size} persisted RDD(s) leaked: " +
        leaked.values.map(_.name).mkString("; "))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    System.err.println(
      s"[verify] ${selected.size - failures.size}/" +
        s"${selected.size} queries dumped, " +
        s"${failures.size} failed")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
