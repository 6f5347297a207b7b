package graft.streaming

import graft.model.{ExtractedDoc, RawDoc}
import graft.pipeline.ExtractionPipeline
import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming twin of the batch extraction job: the SAME fused per-doc
  * function over a streaming `Dataset[RawDoc]` — new documents land in a
  * raw table (file source / Kafka) and extracted span rows append to the
  * sink continuously. Stateless per document, so no watermark is needed;
  * micro-batch parallelism comes from the source's partitioning.
  *
  * Usage shape:
  * {{{
  *   val raw = spark.readStream.schema(rawSchema).parquet(inDir).as[RawDoc]
  *   DocStream.extract(spark, raw)
  *     .writeStream.format("parquet")
  *     .option("checkpointLocation", ckpt)   // exactly-once file sink
  *     .start(outDir)
  * }}}
  */
object DocStream {

  def extract(spark: SparkSession, raw: Dataset[RawDoc],
      config: ExtractionPipeline.PipelineConfig = ExtractionPipeline.PipelineConfig()): Dataset[ExtractedDoc] = {
    import spark.implicits._
    // ship the driver's active corpus bundle exactly like the batch path
    // (ExtractionPipeline.run): one broadcast, an idempotent install per
    // executor JVM. Without this, a table-loaded gazetteer would apply to
    // batch extraction but not to streamed docs — a silent stream/batch
    // divergence invisible in local mode (driver and executors share a
    // JVM) and on the span-level parity gate (spans are bundle-blind).
    // The config param mirrors run()'s for the same reason: a deployment
    // that batches with html2text must be able to stream with it too.
    val installCorpus = graft.matching.CorpusTable.broadcastInstaller(
      spark, graft.matching.Corpora.bundle)
    raw.mapPartitions { it =>
      installCorpus(); it.map(ExtractionPipeline.processDoc(_, config))
    }
  }

  /** Stream/batch parity replay harness (the q18 pattern): drive the raw
    * corpus through [[Replay.run]] micro-batch by micro-batch and return the FULL extracted-doc rows from the memory sink
    * — the caller projects span/entity facets from it, each gated
    * against the same reconstruction oracles as the batch facets, so
    * streaming and batch extraction are proven equal through an
    * independent third reconstruction. Sinking whole documents (not one
    * pre-projected facet) lets one replay feed every parity gate,
    * including the bundle-SENSITIVE entity facet that a span-only gate
    * cannot see diverge.
    *
    * Stateless transform — no watermark or state store. The collect is
    * the replay harness's cost; production uses the readStream file/Kafka
    * shape in the scaladoc above and never touches the driver. The
    * result is localCheckpoint'ed: the sink table lives in the child
    * session and the replay must not re-run per downstream facet.
    */
  def docReplay(spark: SparkSession, raw: Dataset[RawDoc], numBatches: Int = 6): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val docs = Replay.collect(raw, "docReplay")
    Replay.run(spark, Replay.chunks(docs.toSeq, numBatches), "append")(
      ds => extract(ds.sparkSession, ds))(identity)
  }
}
