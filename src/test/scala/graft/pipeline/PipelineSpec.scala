package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.DocGen
import graft.SparkEntry
import graft.util.Harness
import org.apache.spark.sql.SpecAccess

/** End-to-end pipeline + lineage/resume tests (FIXTURES.md §4.7) over
  * the deterministic corpus at sf0.001.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = Harness.session(4,
    "spark.sql.shuffle.partitions" -> "8")

  private val sfDir = "/root/testdata/sf0.001"

  test("flagship entry returns spans for every successful doc") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq === Seq("doc_id", "offset", "kind", "text", "media_ref"))
  }

  test("pipeline is deterministic: two runs produce identical span sets") {
    import spark.implicits._
    val a = ExtractionPipeline.run(spark, DocGen.rawDocs(spark, sfDir))
      .flatMap(d => d.spans.map(s => (d.doc_id, s.offset, s.kind, s.text, s.media_ref)))
      .collect().sortBy(r => (r._1, r._2))
    val b = ExtractionPipeline.run(spark, DocGen.rawDocs(spark, sfDir))
      .flatMap(d => d.spans.map(s => (d.doc_id, s.offset, s.kind, s.text, s.media_ref)))
      .collect().sortBy(r => (r._1, r._2))
    assert(a.length > 0)
    assert(a.toSeq === b.toSeq)
  }

  test("every input doc yields exactly one output row; rejects carry errors") {
    import spark.implicits._
    val raw = DocGen.rawDocs(spark, sfDir)
    val nIn = raw.count()
    val out = ExtractionPipeline.run(spark, raw).cache()
    assert(out.count() === nIn)
    // rejects: >100-page synthetic PDFs (ids ≡ 0 mod 97, pdf mode) plus
    // URL-validation failures (html ids ≡ 34 mod 89 → 404, ≡ 13 mod 83 →
    // non-whitelisted content type)
    val rejects = out.filter(!_.success).collect()
    assert(rejects.forall(r => r.error.contains("page") ||
      r.error.contains("HTTP") || r.error.contains("content type")))
    assert(rejects.exists(_.error == "HTTP 404 - not processable"))
    assert(rejects.forall(_.spans.isEmpty))
    val ok = out.filter(_.success)
    assert(ok.filter(_.spans.nonEmpty).count() === ok.count())
    out.unpersist()
  }

  test("interleaved corpus: image_ref spans appear with media_ref set") {
    import spark.implicits._
    val out = ExtractionPipeline.run(spark, DocGen.rawDocs(spark, sfDir))
    val imgSpans = out.flatMap(_.spans).filter(_.kind == "image_ref").collect()
    assert(imgSpans.nonEmpty)
    assert(imgSpans.forall(_.media_ref.nonEmpty))
  }

  test("enrichment stages populate entities, canonical ids and facts at corpus level") {
    import spark.implicits._
    val out = ExtractionPipeline.run(spark, DocGen.rawDocs(spark, sfDir)).cache()
    val entTypes = out.flatMap(_.entities.map(_.`type`)).distinct().collect().toSet
    assert(Set("DATE", "MONEY", "PHONE", "MEASUREMENT", "PERSON", "GPE", "REGULATION")
      .subsetOf(entTypes), s"got $entTypes")
    val canon = out.flatMap(_.canonical_entities).collect()
    assert(canon.nonEmpty)
    assert(canon.forall(_.id.matches("[a-z]+\\d{3}")))
    val facts = out.flatMap(_.facts).collect()
    assert(facts.nonEmpty)
    assert(facts.forall(_.confidence >= 0.75))
    out.unpersist()
  }

  /** Per-bucket (doc_count, span_count, fail_count) of the committed data. */
  private def dataTriples(outDir: String): Map[Int, (Long, Long, Long)] = {
    import org.apache.spark.sql.functions._
    ResumableJob.readData(spark, outDir).groupBy("bucket")
      .agg(count(lit(1)), sum(size(col("spans"))).cast("long"),
        sum(when(!col("success"), 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  private def lineageTriples(outDir: String, snapshot: String): Map[Int, (Long, Long, Long)] = {
    val rows = ResumableJob.readLineage(spark, outDir)
      .filter(org.apache.spark.sql.functions.col("source_snapshot") === snapshot)
      .select("bucket", "doc_count", "span_count", "fail_count").collect()
    assert(rows.map(_.getInt(0)).distinct.length === rows.length, "one lineage row per bucket")
    rows.map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  test("P2 resume: only missing buckets recomputed; data complete after resume") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val buckets = 8
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val raw = DocGen.rawDocs(spark, sfDir)
    // simulate a failed run: bucket 3 never completed
    val partial = raw.filter(
      pmod(hash(col("doc_id")), lit(buckets)) =!= 3).as[graft.model.RawDoc]
    val n1 = ResumableJob.runResumable(spark, partial, tmp, buckets, "snap1")
    assert(n1 === buckets - 1)
    // lineage certifies exactly what was committed
    assert(lineageTriples(tmp, "snap1") === dataTriples(tmp))
    // resume with the FULL input: only bucket 3 is recomputed
    val n2 = ResumableJob.runResumable(spark, raw, tmp, buckets, "snap1")
    assert(n2 === 1)
    assert(ResumableJob.readData(spark, tmp).count() === raw.count())
    assert(lineageTriples(tmp, "snap1") === dataTriples(tmp))
    // lineage rows carry per-partition metrics
    val lin = ResumableJob.readLineage(spark, tmp)
    assert(lin.columns.toSet ===
      Set("bucket", "doc_count", "span_count", "fail_count", "source_snapshot"))
    assert(lin.agg(sum("doc_count")).head.getLong(0) === raw.count())
    // the doc_id shuffle is aligned with the buckets: at p = 2 × cores
    // dividing B, one task writes each bucket, so one part file per bucket
    val dirs = new java.io.File(tmp, "data").listFiles().filter(_.getName.startsWith("bucket="))
    assert(dirs.length === buckets)
    dirs.foreach { d =>
      val parts = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(parts.length === 1, s"${d.getName} holds ${parts.toSeq}")
    }
    // idempotent: a third run computes nothing
    assert(ResumableJob.runResumable(spark, raw, tmp, buckets, "snap1") === 0)
    // a new snapshot without bucket 3: lineage holds exactly the 7 buckets
    // it computed, and bucket 3's data from snap1 stays
    val before = dataTriples(tmp)
    assert(ResumableJob.runResumable(spark, partial, tmp, buckets, "snap2") === buckets - 1)
    val after = dataTriples(tmp)
    assert(after(3) === before(3))
    assert(lineageTriples(tmp, "snap2") === after - 3)
  }

  test("a first resumable run is the fused write plus the lineage append: at most 4 jobs") {
    val raw = DocGen.rawDocs(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume-jobs").toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    SpecAccess.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(ResumableJob.runResumable(spark, raw, tmp, 8, "snap1") === 8)
      SpecAccess.drain(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 4, s"${jobs.get} Spark jobs")
  }

  test("resume fails loudly on an unreadable lineage table instead of recomputing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume-bad")
    val lineage = java.nio.file.Files.createDirectories(tmp.resolve("lineage"))
    java.nio.file.Files.writeString(lineage.resolve("part-00000.parquet"), "not a parquet file")
    intercept[Exception] {
      ResumableJob.runResumable(spark, DocGen.rawDocs(spark, sfDir), tmp.toString, 8, "snap1")
    }
    assert(!java.nio.file.Files.exists(tmp.resolve("data")), "no bucket may be recomputed")
  }

  test("P3 skew: the doc_id shuffle balances partitions and aligns them with the buckets") {
    import spark.implicits._
    val raw = DocGen.rawDocs(spark, sfDir)
    for (p <- Seq(8, 16)) {
      val parts = ExtractionPipeline.salted(raw, p)
        .select(org.apache.spark.sql.functions.spark_partition_id(), ResumableJob.bucketOf(p))
        .as[(Int, Int)].collect()
        .groupMap(_._1)(_._2)
      val counts = (0 until p).map(i => parts.get(i).fold(0)(_.length))
      val mean = counts.sum.toDouble / p
      assert(counts.max <= 1.5 * mean, s"p = $p: partition sizes $counts")
      assert(counts.min >= 0.5 * mean, s"p = $p: partition sizes $counts")
      (0 until p).foreach { i =>
        assert(parts.getOrElse(i, Array.empty[Int]).distinct.length === 1,
          s"p = $p: partition $i holds buckets ${parts.get(i).map(_.distinct.toSeq)}")
      }
    }
  }

  test("a deeply nested page is a reject row naming StackOverflowError, not a dead executor") {
    val depth = 20000
    val html = "<html><body>" + "<div>" * depth + "deep" + "</div>" * depth + "</body></html>"
    val raw = graft.model.RawDoc("deep", "html", html, Seq.empty, "", html.length.toLong, 1)
    // a 1 MB stack, the executor default, on which the recursive tree
    // walks overflow at this depth
    var out: Either[Throwable, graft.model.ExtractedDoc] = null
    val t = new Thread(null, () => out =
      try Right(ExtractionPipeline.processDoc(raw)) catch { case e: Throwable => Left(e) },
      "deep-html", 1L << 20)
    t.start()
    t.join()
    val doc = out.fold(e => fail(s"processDoc threw $e"), identity)
    assert(!doc.success)
    assert(doc.error.contains("StackOverflowError"), doc.error)
  }
}
