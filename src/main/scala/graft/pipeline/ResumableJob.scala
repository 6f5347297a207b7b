package graft.pipeline

import graft.model.RawDoc
import graft.sources.Storage
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint/resume with per-partition lineage (the north rule's
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Layout (Parquet standing in for Iceberg — no Iceberg jar in the
  * sandbox, SURVEY.md §7.0; in production the same API maps to
  * `spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog` with
  * `df.writeTo("cat.db.extracted").overwritePartitions()` and lineage
  * carrying the Iceberg source snapshot id):
  *
  *   outDir/data/bucket=N/…      deterministic partition: pmod(hash(doc_id), B)
  *   outDir/lineage/…            rows (bucket, doc_count, span_count,
  *                               fail_count, source_snapshot)
  *
  * Resume = anti-filter the buckets whose lineage rows exist for this
  * source snapshot, recompute only the missing buckets, and write them
  * with dynamic partition overwrite (idempotent — a re-run of a
  * completed bucket replaces it byte-identically).
  */
object ResumableJob {

  final case class LineageRow(
      bucket: Int,
      doc_count: Long,
      span_count: Long,
      fail_count: Long,
      source_snapshot: String)

  def bucketOf(buckets: Int) = pmod(hash(col("doc_id")), lit(buckets))

  /** Buckets already completed for this snapshot (empty on first run).
    * Only an absent lineage table means "nothing done": any other read
    * failure propagates, because swallowing it would silently recompute
    * every bucket.
    */
  def completedBuckets(spark: SparkSession, outDir: String, snapshot: String,
      storage: Storage = Storage.default): Set[Int] = {
    val path = s"$outDir/lineage"
    if (!storage.exists(spark, path)) Set.empty
    else storage.read(spark, path)
      .filter(col("source_snapshot") === snapshot)
      .select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
  }

  /** Process + write only the buckets not yet recorded in lineage, in one
    * pass over the payloads:
    *  1. a key-only pass (reads only `doc_id`) finds the pending buckets;
    *  2. the fused job streams straight into the bucketed sink;
    *  3. lineage is aggregated from a column-pruned read of the committed
    *     data, restricted to the pending buckets, so it certifies what was
    *     written (a stale bucket with no pending docs gets no row).
    * Returns the number of buckets (re)computed.
    */
  def runResumable(
      spark: SparkSession,
      raw: Dataset[RawDoc],
      outDir: String,
      buckets: Int,
      snapshot: String,
      storage: Storage = Storage.default): Int = {
    import spark.implicits._
    val done = completedBuckets(spark, outDir, snapshot, storage)
    val pending = raw.select(bucketOf(buckets)).distinct()
      .collect().map(_.getInt(0)).filterNot(done).toSeq
    if (pending.isEmpty) return 0

    val pendingRaw = raw.filter(bucketOf(buckets).isin(pending: _*))
    val extracted = ExtractionPipeline.run(spark, pendingRaw)
      .withColumn("bucket", bucketOf(buckets))
    // dynamic partition overwrite: only touched buckets are replaced
    // (Iceberg binding: writeTo(...).overwritePartitions() — same call)
    storage.overwritePartitions(extracted.toDF(), s"$outDir/data", "bucket")

    // size(spans.offset) == size(spans), but reads one int leaf per span
    // instead of the span text
    val lineage = readData(spark, outDir, storage)
      .filter(col("bucket").isin(pending: _*))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(size(col("spans.offset"))).cast("long").as("span_count"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("fail_count"))
      .withColumn("source_snapshot", lit(snapshot))
      .as[LineageRow]
      .collect()
    storage.append(lineage.toSeq.toDF(), s"$outDir/lineage")
    lineage.length
  }

  def readData(spark: SparkSession, outDir: String,
      storage: Storage = Storage.default): DataFrame =
    storage.read(spark, s"$outDir/data")

  def readLineage(spark: SparkSession, outDir: String,
      storage: Storage = Storage.default): DataFrame =
    storage.read(spark, s"$outDir/lineage")
}
