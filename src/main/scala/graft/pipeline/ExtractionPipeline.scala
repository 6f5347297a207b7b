package graft.pipeline

import graft.model._
import graft.classify.Classifier
import graft.extract.{ContentFlagsScan, Core8Extractor}
import graft.facts.SpoExtractor
import graft.html.HtmlExtractor
import graft.normalize.Normalizer
import graft.pdf.PdfExtractor
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** The fused extraction job (SURVEY.md §3.1 restated Spark-first):
  * one lazy `Dataset[RawDoc]` chain where ALL seven reference stages
  * (convert → flags → classify → extract → normalize → facts → assemble)
  * run inside a single `mapPartitions` — zero materialization between
  * stages, mirroring the reference's "zero I/O between stages"
  * (`pipeline/in_memory_document.py:4-6`). The executor boundary replaces
  * the reference's process/queue machinery.
  *
  * Skew (SURVEY.md §4): the one payload shuffle before the heavy stage
  * is keyed on `doc_id` alone (`salted`), so every doc — giants
  * included — lands in a partition by an independent hash draw and the
  * tasks stay balanced up to binomial noise. The reference's own caps
  * (100 pages, 50KB extraction) bound the worst case per doc.
  */
object ExtractionPipeline {

  /** Pipeline configuration (F11): the HTML conversion strategy name,
    * resolved once per run — `dom` (default, high fidelity) or
    * `fast_strip` (F10 regex path). Mirrors the reference's
    * config-selected converter factory
    * (`utils/configurable_markdown_converter.py`, `config.yaml:122-128`).
    */
  final case class PipelineConfig(htmlStrategy: String = graft.html.HtmlStrategies.Dom)

  /** Download size cap — the reference's streamed URL fetch aborts past
    * 10MB (`fusion_cli.py:335-432`).
    */
  val MaxUrlBytes: Long = 10L * 1024 * 1024

  /** S5 URL validation (`fusion_cli.py:272-280` `validate_url`): HTTP
    * 200, non-empty content, content-type whitelist — checked in the
    * reference's order so reject messages match. Returns None when the
    * doc may proceed to classification.
    */
  def validateUrl(raw: RawDoc): Option[String] = {
    if (raw.source_url.isEmpty) return None
    if (raw.http_status != 200) return Some(s"HTTP ${raw.http_status} - not processable")
    if (raw.size_bytes == 0) return Some("Empty content received")
    val ct = raw.content_type.toLowerCase
    if (ct.nonEmpty && !Seq("html", "text", "pdf", "json").exists(ct.contains))
      return Some(s"Unsupported content type: ${raw.content_type}")
    if (raw.size_bytes > MaxUrlBytes)
      return Some(s"Content exceeds ${MaxUrlBytes / (1024 * 1024)}MB limit")
    None
  }

  private def urlMeta(raw: RawDoc, base: DocMeta): DocMeta =
    if (raw.source_url.isEmpty) base
    else base.copy(source_type = "url", source_path = raw.source_url,
      http_status = raw.http_status, content_type = raw.content_type)

  /** Document-local fused stage function — pure; compiled automatons and
    * regexes are per-JVM singletons (AhoCorasick.cached / static
    * Patterns), so per-row cost is scan-only.
    */
  def processDoc(raw: RawDoc): ExtractedDoc = processDoc(raw, PipelineConfig())

  def processDoc(raw: RawDoc, config: PipelineConfig): ExtractedDoc = {
    try {
      // S5 URL gate runs BEFORE conversion — a 404 body or a
      // non-whitelisted payload must not reach the extractors
      validateUrl(raw) match {
        case Some(err) => reject(raw.doc_id, urlMeta(raw, DocMeta.empty), err)
        case None => convertAndExtract(raw, config)
      }
    } catch {
      // a stack overflow (deeply nested markup in the recursive tree
      // walks) unwinds to here: the thread is usable again, so the doc
      // becomes a reject row instead of killing the executor
      case e @ (_: Exception | _: StackOverflowError) =>
        reject(raw.doc_id, DocMeta.empty, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** A failed row: no spans, entities or facts. */
  private def reject(docId: String, meta: DocMeta, error: String): ExtractedDoc =
    ExtractedDoc(docId, Seq.empty, meta, Seq.empty, Seq.empty, Seq.empty,
      success = false, error = error)

  private def convertAndExtract(raw: RawDoc, config: PipelineConfig): ExtractedDoc = {
    // stage 1-2: convert to spans
    val spansOrErr: Either[String, Seq[Span]] = raw.content_kind match {
      case "html" => Right(graft.html.HtmlStrategies.convert(config.htmlStrategy, raw.html))
      case "pdf_blocks" => PdfExtractor.extract(raw.doc_id, raw.pdf_blocks, raw.page_count)
      case "text" =>
        Right(
          if (raw.text.trim.isEmpty) Seq.empty
          else Seq(Span(SpanKinds.Text, raw.text, "", 0)))
      case "csv" => Right(graft.sources.CsvText.extract(raw.text))
      case "docx" | "pptx" | "xlsx" =>
        graft.office.OfficeExtractor.extract(raw.content_kind, raw.office_parts)
      // F15 universal fallback: unknown kinds never hard-reject —
      // text-sample pass-through, else printable-strings harvest,
      // else a placeholder span (reference last-resort chain)
      case _ => Right(graft.extract.UniversalFallback.extract(raw.doc_id, raw.text))
    }
    spansOrErr match {
      case Left(err) => reject(raw.doc_id, DocMeta.empty, err)
      case Right(spans) =>
        val markdown = spans.map(_.text).mkString("\n")
        // stage 2b: content flags (single pass over spans)
        val flags = ContentFlagsScan.scan(spans)
        // stage 3: classification
        val cls = Classifier.classify(markdown)
        // stage 4: entity extraction (routing skip per confidence <5.0)
        val cleanText = Core8Extractor.cleanText(markdown)
        val entities =
          if (cls.skipEntityExtraction) Seq.empty
          else Core8Extractor.extractAll(cleanText)
        // stage 5: normalization (document-local canonical grouping)
        val canonical = Normalizer.canonicalize(entities)
        // stage 6: semantic facts on the clean text
        val facts = SpoExtractor.extract(cleanText)
        // C4: deep-domain entity pass only on the high-confidence route
        // (routing per reference `service_processor.py:1922-1927`)
        val domainEntities =
          if (cls.enableDeepDomainExtraction)
            Classifier.extractDomainEntities(cleanText, cls.domains.keySet)
          else Seq.empty
        val meta = urlMeta(raw, DocMeta(
          content_detection = flags,
          page_count = raw.page_count,
          primary_domain = cls.primaryDomain,
          primary_domain_confidence = cls.primaryDomainConfidence,
          primary_document_type = cls.primaryDocType,
          domains = cls.domains,
          domain_entities = domainEntities))
        ExtractedDoc(raw.doc_id, spans, meta, entities, canonical, facts,
          success = true, error = "")
    }
  }

  /** The one payload shuffle, keyed on `doc_id` alone. Spark's hash
    * partitioner puts a doc in partition pmod(murmur3(doc_id, 42), p),
    * the same function `ResumableJob.bucketOf` applies with B buckets,
    * and that condition is the reason for the key:
    *  - task i holds only the buckets ≡ i mod gcd(p, B), so the bucketed
    *    sink writes lcm(p, B) files instead of p × B (one per bucket when
    *    p divides B);
    *  - each doc is an independent draw, so partitions are balanced. A
    *    composite key with few distinct values (size bucket × pmod salt)
    *    is hashed again into p partitions and collides whole groups.
    */
  def salted(raw: Dataset[RawDoc], partitions: Int): Dataset[RawDoc] =
    raw.repartition(partitions, col("doc_id"))

  /** Full job: raw docs → extracted docs, one `doc_id` shuffle then the
    * fused stage.
    */
  def run(spark: SparkSession, raw: Dataset[RawDoc], partitions: Int = 0,
      config: PipelineConfig = PipelineConfig()): Dataset[ExtractedDoc] = {
    import spark.implicits._
    fused(spark, raw, partitions)(_.map(processDoc(_, config)))
  }

  /** The one fused stage of `run` and `runCounting`: the `doc_id`
    * shuffle, then `f` over each partition with the corpus shipped.
    */
  private def fused[T: Encoder](spark: SparkSession, raw: Dataset[RawDoc],
      partitions: Int)(f: Iterator[RawDoc] => Iterator[T]): Dataset[T] = {
    val p = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism * 2
    withCorpus(spark, salted(raw, p))(f)
  }

  /** `f` over each partition of `docs`, with the driver's active corpus
    * bundle (built-in or table-loaded) shipped to every executor as one
    * broadcast and installed idempotently per JVM per version at
    * partition start (no-op when already current). Batch and streaming
    * extraction both go through here: a path that skipped it would apply
    * a table-loaded gazetteer on one side only, a divergence invisible
    * in local mode (driver and executors share a JVM) and to span-level
    * parity gates (spans are bundle-blind).
    */
  private[graft] def withCorpus[T: Encoder](spark: SparkSession, docs: Dataset[RawDoc])(
      f: Iterator[RawDoc] => Iterator[T]): Dataset[T] = {
    val installCorpus = graft.matching.CorpusTable.broadcastInstaller(
      spark, graft.matching.Corpora.bundle)
    docs.mapPartitions { it => installCorpus(); f(it) }
  }

  /** Throughput-measurement variant: run the fused stage and fold
    * (docs, pages) INSIDE the same mapPartitions, so no ExtractedDoc is
    * serialized to rows just to be counted. Production serializes once —
    * into the sink; a count-after-Dataset would pay serialize +
    * deserialize per doc, an artifact the bench must not measure.
    */
  def runCounting(spark: SparkSession, raw: Dataset[RawDoc], partitions: Int = 0): (Long, Long) = {
    import spark.implicits._
    fused(spark, raw, partitions) { it =>
      var docs = 0L
      var pages = 0L
      it.foreach { r =>
        val d = processDoc(r)
        docs += 1
        pages += d.meta.page_count
      }
      Iterator.single((docs, pages))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }
}
