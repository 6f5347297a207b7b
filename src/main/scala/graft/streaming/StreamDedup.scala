package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact dedup at ingest: the streaming twin of `TextOps.dedupExact`'s
  * keeper selection — an unbounded stateful aggregation
  * `groupBy(fingerprint).agg(min(doc_id), count)` whose final state
  * equals the batch group-by REGARDLESS of arrival order or micro-batch
  * boundaries, because min and count are order-insensitive (a
  * first-row-wins `dropDuplicates` would not be: its keeper depends on
  * task scheduling within a batch). State is O(distinct fingerprints);
  * a production ingest with a time-limited dedup horizon bounds it with
  * [[dedupBounded]] (watermark + `dropDuplicatesWithinWatermark`, t20).
  */
object StreamDedup {

  /** The streaming transform: works on any (doc_id, text) frame, batch
    * or streaming.
    */
  def dedup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.textops.TextOps.fingerprintCol.as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Replay harness (the q18 pattern): micro-batch the documents table
    * through [[Replay.run]]; the complete-mode memory sink's final table
    * IS the aggregation state, gated against the batch reconstruction
    * oracle.
    */
  def dedupReplay(spark: SparkSession, docs: DataFrame,
      numBatches: Int = 6): DataFrame = {
    import spark.implicits._
    // replay DESCENDING by doc_id: each fingerprint's min id then
    // arrives LAST, so the driver gate itself discriminates the
    // min-aggregation from a first-row-wins keeper (ascending arrival
    // would let a dropDuplicates-style regression pass green)
    val rows = Replay.collect(
      docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)],
      "dedupReplay").sortBy(-_._1)
    Replay.run(spark, Replay.chunks(rows.toSeq, numBatches), "complete")(
      ds => dedup(ds.toDF("doc_id", "text")))(_.orderBy("keeper_id"))
  }

  // ------------------------------------------- t20: bounded horizon

  /** t20: the PRODUCTION state-bounding variant of [[dedup]] — a
    * time-limited dedup horizon. State is O(fingerprints seen within
    * the last `horizon` of event time) instead of O(all distinct
    * fingerprints forever: the t19 shape): the watermark evicts each
    * fingerprint once it ages past first-seen + horizon, after which a
    * re-arrival is BY CONTRACT a fresh document (a training-data ingest
    * re-admits content republished after the dedup window — the
    * horizon IS the curation policy, not an approximation). Append
    * mode: survivors emit immediately; in-horizon duplicates never
    * appear in the sink.
    */
  def dedupBounded(docs: DataFrame, horizon: String): DataFrame =
    docs.select(col("doc_id"), graft.textops.TextOps.fingerprintCol.as("fp"),
        col("ingest_ts"))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** t20 replay harness: gates BOTH sides of the horizon in one run.
    * Five micro-batches over the exact-dedup keepers (one row per
    * fingerprint, so the duplicate structure is fully controlled):
    *
    *   1. every keeper at T+0s            -> all emit (first seen)
    *   2. dups of id%3!=0 keepers at T+10 -> IN horizon (100s): dropped
    *   3. watermark tick at T+1000        -> watermark advances to T+900
    *   4. second tick at T+1001           -> batch boundary so the T+900
    *      watermark has evicted wave-1 state regardless of whether the
    *      store evicts at batch end or checks expiry on lookup
    *   5. dups of id%3==0 keepers at T+950 -> BEYOND horizon: state
    *      gone, re-emitted (and T+950 >= watermark, so not late-dropped)
    *
    * Result: per-keeper emission count — 2 for id%3==0, 1 otherwise.
    * An unbounded dedup (t19 regression) would emit every keeper once;
    * a dedup that forgot in-horizon state would emit id%3!=0 twice —
    * the count vector discriminates both failure modes.
    */
  def boundedReplay(spark: SparkSession, docs: DataFrame,
      horizonSeconds: Int = 100): DataFrame = {
    import spark.implicits._
    val all = Replay.collect(
      docs.select(col("doc_id").cast("long"), col("text"),
        graft.textops.TextOps.fingerprintCol.as("fp")).as[(Long, String, String)],
      "boundedReplay")
    // keepers: min doc_id per fingerprint — grouped on the SAME Spark
    // fingerprint column the operator hashes with, never a re-spelled
    // driver-side md5 (the md5Head8 lesson)
    val keepers = all.groupBy(_._3).valuesIterator
      .map(_.minBy(_._1))
      .map { case (id, t, _) => (id, t) }.toSeq.sortBy(_._1)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(off: Long) = new java.sql.Timestamp(base + off * 1000L)
    val batches = Seq(
      keepers.map { case (id, t) => (id, t, at(0)) },
      keepers.filter(_._1 % 3 != 0).map { case (id, t) => (id, t, at(10)) },
      Seq((-1L, "graft-wm-tick", at(10 * horizonSeconds.toLong))),
      Seq((-2L, "graft-wm-tick-two", at(10 * horizonSeconds.toLong + 1))),
      keepers.filter(_._1 % 3 == 0).map { case (id, t) => (id, t, at(19 * horizonSeconds.toLong / 2)) })
    Replay.run(spark, batches, "append")(ds => dedupBounded(
        ds.toDF("doc_id", "text", "ingest_ts"), s"$horizonSeconds seconds"))(
      _.filter(col("doc_id") >= 0) // drop the watermark ticks
        .groupBy(col("doc_id").as("keeper_id")).agg(count(lit(1)).as("n_emits"))
        .orderBy("keeper_id"))
  }
}
