package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable end-to-end training-data curation story — the LLM-pipeline
  * analog of [[MonitorDemo]], as one `main` a user can point at a graft
  * testdata directory:
  *
  * {{{
  *   sbt "runMain graft.streaming.CurationDemo <dataDir> [workDir]"
  * }}}
  *
  * Stages (each one the spec-covered operator it names):
  *  1. documents arrive as a STREAM (file source standing in for the
  *     ingest bus) and pass [[StreamingDedup.dedupDocuments]] — exact
  *     first-occurrence dedup, one boolean of state per fingerprint.
  *  2. Survivors are curated in batch: passage-level boilerplate
  *     decisions ([[StreamingPassageDedup]] semantics come from the
  *     same chunk table; here the batch operator suffices), token-band
  *     + language filter, token-budget shard packing
  *     ([[graft.operators.CurationPack.packShards]]).
  *  3. Shards land via [[graft.sources.TrainingShards.write]] — one
  *     doc_id-ordered file per (lang, shard_id) + a loader manifest —
  *     and the run closes with the [[graft.operators.CurationPack]]
  *     source_report composition view.
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: CurationDemo <dataDir> [workDir] — dataDir holds " +
        "documents.parquet (graft testdata layout)")
    val dataDir = args(0)
    val workDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-curation").toString
    val cpus = graft.SysStat.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-curation-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.Portable

    // 1. stream the corpus through exact first-occurrence dedup
    val docsSchema =
      "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    // the file source wants an ingest DIRECTORY (files dropping in);
    // stage the corpus file into one, which is also how a real feed
    // would arrive
    val incoming = java.nio.file.Paths.get(workDir, "incoming")
    java.nio.file.Files.createDirectories(incoming)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dataDir, "documents.parquet"),
      incoming.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(docsSchema)
      .parquet(incoming.toString)
    val keptIds = StreamingDedup.dedupDocuments(stream.toDF())
      .writeStream.format("memory").queryName("graft_kept")
      .outputMode("append").start()
    keptIds.processAllAvailable(); keptIds.stop()
    val survivors = spark.table("graft_kept").select("doc_id")
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val total = docs.count()
    val kept = docs.join(survivors, "doc_id")
    println(s"[curation] streamed $total docs, " +
      s"${kept.count()} kept after exact dedup")

    // 2. curate: drop cross-document boilerplate passages, then pack
    //    the survivors into token-budget shards
    val cleanStats = graft.operators.DedupPack
      .boilerplateStripOver(kept.select(col("doc_id"), col("text")))
      .agg(sum(col("n_boiler")).as("nb"), count(lit(1)).as("nd"))
      .collect()(0)
    println(s"[curation] boilerplate chunks dropped: ${cleanStats.getLong(0)} " +
      s"across ${cleanStats.getLong(1)} docs")
    val packed = graft.operators.CurationPack.packShards(
        kept.select(col("doc_id"), col("lang"),
          size(Portable.words(col("text"))).cast("long").as("n_tokens")))
      .join(kept.select("doc_id", "text", "source"), "doc_id")

    // 3. land the shards + manifest, close with the composition report
    val manifest = graft.sources.TrainingShards
      .write(packed, s"$workDir/shards")
    println(s"[curation] ${manifest.count()} shards at $workDir/shards")
    manifest.orderBy(col("lang"), col("shard_id")).show(20, truncate = false)
    graft.SparkEntry.queries("source_report")(spark, dataDir)
      .show(30, truncate = false)
    graft.Caches.releaseAll()
    spark.stop()
  }
}
