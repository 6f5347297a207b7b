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
  *
  * The write job counts what it writes: the sink's `bucket` column adds
  * each row's (doc, span, fail) counts to that bucket's accumulators, and
  * the lineage rows are read off them once the write has committed. No
  * pass over the input finds the pending buckets and no pass over the
  * committed data aggregates them. The counts are exact because the
  * counting projection runs in the write's result stage, after the one
  * `doc_id` exchange: Spark applies a result task's accumulator updates
  * once per partition, from its successful attempt. In a shuffle-map
  * stage a stage retry could apply them twice.
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
    * job: the fused stage streams straight into the bucketed sink, and the
    * sink counts each bucket's docs, spans and fails as it writes them. A
    * first run writes the whole input; a resume drops the completed
    * buckets in the scan. Each bucket that received a doc gets one lineage
    * row. Returns the number of buckets (re)computed.
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
    if ((0 until buckets).forall(done)) return 0
    val pendingRaw =
      if (done.isEmpty) raw else raw.filter(!bucketOf(buckets).isin(done.toSeq: _*))

    // exact while this runs in the write's result stage: its updates apply once per partition
    val acc = Array.fill(buckets, 3)(spark.sparkContext.longAccumulator)
    val counted = udf { (b: Int, spans: Int, success: Boolean) =>
      acc(b)(0).add(1); acc(b)(1).add(spans); if (!success) acc(b)(2).add(1); b
    }.asNondeterministic()
    val extracted = ExtractionPipeline.run(spark, pendingRaw).toDF()
      .withColumn("bucket", counted(bucketOf(buckets), size(col("spans")), col("success")))
    // dynamic partition overwrite: only touched buckets are replaced
    // (Iceberg binding: writeTo(...).overwritePartitions() — same call)
    storage.overwritePartitions(extracted, s"$outDir/data", "bucket")

    val lineage = acc.indices.filter(acc(_)(0).value > 0).map { b =>
      LineageRow(b, acc(b)(0).value, acc(b)(1).value, acc(b)(2).value, snapshot)
    }
    if (lineage.nonEmpty) storage.append(lineage.toDF(), s"$outDir/lineage")
    lineage.length
  }

  def readData(spark: SparkSession, outDir: String,
      storage: Storage = Storage.default): DataFrame =
    storage.read(spark, s"$outDir/data")

  def readLineage(spark: SparkSession, outDir: String,
      storage: Storage = Storage.default): DataFrame =
    storage.read(spark, s"$outDir/lineage")
}
