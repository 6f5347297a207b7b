package graft.bench

import graft.pipeline.ResumableJob
import graft.sources.DocGen
import graft.util.Harness
import org.apache.spark.sql.functions._

/** Resume-at-scale evidence (r4 verdict #8): a wave-driven resumable
  * extraction at sf0.1 is killed between waves and resumed, requiring:
  *
  *   1. the resume recomputes EXACTLY the buckets the killed run never
  *      committed (runResumable's return + lineage rows are the oracle),
  *   2. the resumed dataset is identical to an uninterrupted run's —
  *      per-bucket (doc_count, span_count, fail_count) lineage triples
  *      match byte-for-byte,
  *   3. a further invocation is a no-op (idempotence),
  *
  * and print the full-run vs resume cost as one JSON line for BENCH.md.
  *
  * The kill is REAL in the sense that matters: a production driver
  * loops `runResumable` over bucket waves (each call commits its wave's
  * data then lineage), so a kill between waves leaves exactly the state
  * produced here — wave A committed with lineage, wave B absent. A kill
  * INSIDE a wave's data write leaves data-without-lineage, which the
  * same resume handles identically (the bucket is not in lineage, so it
  * recomputes, and dynamic partition overwrite replaces the orphan).
  */
object ResumeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val buckets = 32
    val spark = Harness.session(Harness.envCpus)
    import spark.implicits._
    val raw = DocGen.rawDocs(spark, sfDir)
    val snap = "probe-snap"
    def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

    // untimed warm-up: JIT, codegen and the corpus install must not be
    // charged to the full run and credited to the resume
    ResumableJob.runResumable(spark, raw, tmp("graft-resume-warm"), buckets, snap)

    // reference: one uninterrupted run
    val outFull = tmp("graft-resume-full")
    val (nFull, tFull) = Harness.secs(ResumableJob.runResumable(spark, raw, outFull, buckets, snap))
    require(nFull == buckets, s"full run computed $nFull of $buckets buckets")
    def lineageTriples(out: String) = ResumableJob.readLineage(spark, out)
      .select("bucket", "doc_count", "span_count", "fail_count")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val fullLineage = lineageTriples(outFull)
    val fullCount = ResumableJob.readData(spark, outFull).count()

    // wave-driven run, killed between waves: wave A (even buckets)
    // commits data+lineage; wave B never starts
    val outKilled = tmp("graft-resume-killed")
    val waveA = raw
      .filter(ResumableJob.bucketOf(buckets) % 2 === 0)
      .as[graft.model.RawDoc]
    val nWaveA = ResumableJob.runResumable(spark, waveA, outKilled, buckets, snap)
    require(nWaveA == buckets / 2, s"wave A computed $nWaveA buckets")
    // -- kill here --

    // resume with the FULL input: exactly the uncommitted buckets run
    val (nResume, tResume) = Harness.secs(ResumableJob.runResumable(spark, raw, outKilled, buckets, snap))
    require(nResume == buckets / 2,
      s"resume recomputed $nResume buckets, expected exactly ${buckets / 2}")

    // integrity: per-bucket lineage equals the uninterrupted run's
    require(lineageTriples(outKilled) == fullLineage,
      "resumed per-bucket lineage differs from the uninterrupted run")
    require(ResumableJob.readData(spark, outKilled).count() == fullCount,
      "resumed data row count differs from the uninterrupted run")

    // idempotence: nothing pending
    val nAgain = ResumableJob.runResumable(spark, raw, outKilled, buckets, snap)
    require(nAgain == 0, s"third run recomputed $nAgain buckets, expected 0")

    println(s"""{"probe":"resume","sf":"$sfDir","buckets":$buckets,""" +
      s""""full_secs":$tFull,"resume_secs":$tResume,""" +
      s""""resumed_buckets":$nResume,"ratio":${tResume / tFull},"ok":true}""")
    spark.stop()
  }
}
