package graft.app

import graft.pipeline.{ExtractionPipeline, ResumableJob}
import graft.sources.{DocGen, Storage}
import org.apache.spark.sql.SparkSession

/** Production entry point (spark-submit): resumable extraction of a raw
  * document table into a bucket-partitioned extracted table with lineage.
  *
  *   spark-submit --class graft.app.Main doclingspark.jar \
  *     <inTable> <outDir> [buckets=64]
  *
  * - `inTable` is a path (ParquetStorage) or catalog table (Iceberg
  *   binding; see graft.sources.Storage).
  * - Re-running after a failure recomputes ONLY the buckets missing from
  *   lineage for the input's current snapshot; a no-op run exits 0
  *   having done nothing.
  * - Corpus metrics print as one JSON line (driver-side log scraping /
  *   metrics shipping).
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Main <inTable> <outDir> [buckets]")
    val inTable = args(0)
    val outDir = args(1)
    val buckets = args.lift(2).map(_.toInt).getOrElse(64)

    // master/conf come from spark-submit; fall back to a local session
    // on every core when run outside spark-submit (dev / sbt runMain)
    val spark =
      if (sys.props.contains("spark.master"))
        SparkSession.builder().appName("graft-extract")
          .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      else graft.util.Harness.session(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val storage = Storage.default
    val snapshot = storage.snapshotId(spark, inTable)
    val raw = storage.read(spark, inTable)
    // accept either a RawDoc table or a bare documents(doc_id, text) table
    val rawDocs =
      if (raw.columns.contains("content_kind")) raw.as[graft.model.RawDoc]
      else raw.select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) => DocGen.synthesize(id, text) }

    val n = ResumableJob.runResumable(spark, rawDocs, outDir, buckets, snapshot, storage)

    val lineage = ResumableJob.readLineage(spark, outDir)
      .filter(org.apache.spark.sql.functions.col("source_snapshot") === snapshot)
    val row = lineage.agg(
      org.apache.spark.sql.functions.sum("doc_count"),
      org.apache.spark.sql.functions.sum("span_count"),
      org.apache.spark.sql.functions.sum("fail_count")).head()
    println(
      s"""{"snapshot":"$snapshot","buckets_computed":$n,"docs":${row.getLong(0)},""" +
        s""""spans":${row.getLong(1)},"rejects":${row.getLong(2)}}""")
    spark.stop()
  }
}
