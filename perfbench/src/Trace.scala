package graftbench

import graft.classify.Classifier
import graft.extract.{ContentFlagsScan, Core8Extractor, PatternBank}
import graft.facts.SpoExtractor
import graft.html.{Boilerplate, HtmlParser, HtmlStrategies, MarkdownEmitter}
import graft.model._
import graft.normalize.Normalizer
import graft.pdf.PdfExtractor
import graft.pipeline.ExtractionPipeline
import scala.collection.mutable

/** One span: a named interval of one trace (a doc id or the run id). */
final case class SpanRec(trace: String, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for one trace. */
final class Tracer(trace: String) {
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var open: List[Int] = Nil

  def span[A](name: String)(f: => A): A = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    val t0 = System.nanoTime()
    spans += null
    open = id :: open
    try f
    finally {
      open = open.tail
      spans(id) = SpanRec(trace, id, parent, name, t0, System.nanoTime())
    }
  }
}

object Spans {
  /** Self time per span name: each span's duration minus the part its
    * direct children cover.
    */
  def selfNs(spans: Iterable[SpanRec]): Map[String, Long] = {
    val childNs = mutable.HashMap.empty[(String, Int), Long]
    spans.foreach(s => if (s.parent >= 0) {
      val k = (s.trace, s.parent)
      childNs(k) = childNs.getOrElse(k, 0L) + s.durNs
    })
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.iterator.map(s => s.durNs - childNs.getOrElse((s.trace, s.id), 0L)).sum
    }
  }

  def json(s: SpanRec): String =
    s"""{"trace":${Json.str(s.trace)},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
}

/** Per-partition result of the per-doc replay. */
final case class ReplayPart(
    spans: Array[SpanRec],
    docNs: Array[Long],
    composedNs: Long,
    stageNs: Long,
    counts: Map[String, Long],
    probeNs: Map[String, Long],
    mismatches: Seq[String])

/** Replays documents through the public functions `processDoc` composes,
  * with a span around each call, and guards that the composition still
  * equals `processDoc`.
  */
object Replay {

  /** The 11 PatternBank patterns, by metric name. */
  val Patterns: Seq[(String, java.util.regex.Pattern)] = Seq(
    "date_range" -> PatternBank.dateRange, "date" -> PatternBank.date, "time" -> PatternBank.time,
    "money" -> PatternBank.money, "measurement_range" -> PatternBank.measurementRange,
    "measurement" -> PatternBank.measurement, "phone" -> PatternBank.phone,
    "email" -> PatternBank.email, "url" -> PatternBank.url, "regulation" -> PatternBank.regulation,
    "range_indicator" -> PatternBank.rangeIndicator)

  private def regulationGate(t: String): Boolean =
    t.contains("CFR") || t.contains("USC") || t.contains("C.F.R") || t.contains("U.S.C")

  private def urlMeta(raw: RawDoc, base: DocMeta): DocMeta =
    if (raw.source_url.isEmpty) base
    else base.copy(source_type = "url", source_path = raw.source_url,
      http_status = raw.http_status, content_type = raw.content_type)

  /** What the composition leaves behind for the untimed probes. */
  final class Side {
    var html: Seq[Span] = null
    var cleanText: String = null
  }

  /** `processDoc` spelled out stage by stage, a span around each call. */
  def composed(raw: RawDoc, tr: Tracer, side: Side): ExtractedDoc = tr.span("doc") {
    try {
      tr.span("pipeline.url_gate")(ExtractionPipeline.validateUrl(raw)) match {
        case Some(err) =>
          ExtractedDoc(raw.doc_id, Seq.empty, urlMeta(raw, DocMeta.empty),
            Seq.empty, Seq.empty, Seq.empty, success = false, error = err)
        case None =>
          val spansOrErr: Either[String, Seq[Span]] = raw.content_kind match {
            case "html" =>
              val dom = tr.span("html.parse")(HtmlParser.parse(raw.html))
              val clean = tr.span("html.boilerplate")(Boilerplate.clean(dom))
              val spans = tr.span("html.emit")(MarkdownEmitter.emit(clean, ""))
              side.html = spans
              Right(spans)
            case "pdf_blocks" =>
              tr.span("pdf.extract")(PdfExtractor.extract(raw.doc_id, raw.pdf_blocks, raw.page_count))
            case "text" =>
              tr.span("convert.text")(Right(
                if (raw.text.trim.isEmpty) Seq.empty else Seq(Span(SpanKinds.Text, raw.text, "", 0))))
            case "csv" => tr.span("convert.csv")(Right(graft.sources.CsvText.extract(raw.text)))
            case "docx" | "pptx" | "xlsx" =>
              tr.span("convert.office")(graft.office.OfficeExtractor.extract(raw.content_kind, raw.office_parts))
            case _ =>
              tr.span("convert.fallback")(Right(graft.extract.UniversalFallback.extract(raw.doc_id, raw.text)))
          }
          spansOrErr match {
            case Left(err) =>
              ExtractedDoc(raw.doc_id, Seq.empty, DocMeta.empty, Seq.empty, Seq.empty,
                Seq.empty, success = false, error = err)
            case Right(spans) =>
              val markdown = tr.span("convert.markdown")(spans.map(_.text).mkString("\n"))
              val flags = tr.span("extract.flags")(ContentFlagsScan.scan(spans))
              val cls = tr.span("classify.classify")(Classifier.classify(markdown))
              val cleaned = tr.span("extract.clean")(Core8Extractor.cleanFormatting(markdown))
              val cleanText = tr.span("extract.truncate")(Core8Extractor.truncate(cleaned))
              val entities =
                if (cls.skipEntityExtraction) Seq.empty
                else {
                  side.cleanText = cleanText
                  tr.span("extract.entities")(Core8Extractor.extractAll(cleanText))
                }
              val canonical = tr.span("normalize.canonicalize")(Normalizer.canonicalize(entities))
              val facts = tr.span("facts.spo")(SpoExtractor.extract(cleanText))
              val domainEntities =
                if (cls.enableDeepDomainExtraction)
                  tr.span("classify.domain_entities")(
                    Classifier.extractDomainEntities(cleanText, cls.domains.keySet))
                else Seq.empty
              tr.span("doc.assemble") {
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
      }
    } catch {
      case e: Exception =>
        ExtractedDoc(raw.doc_id, Seq.empty, DocMeta.empty, Seq.empty, Seq.empty,
          Seq.empty, success = false, error = s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Replays one partition. Docs alternate which of `processDoc` and the
    * composition runs first, so neither always finds warm caches.
    */
  def partition(it: Iterator[RawDoc]): ReplayPart = {
    val spans = mutable.ArrayBuffer.empty[SpanRec]
    val docNs = mutable.ArrayBuffer.empty[Long]
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val probeNs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val mismatches = mutable.ArrayBuffer.empty[String]
    var composedNs = 0L
    var stageNs = 0L
    var i = 0
    it.foreach { raw =>
      val tr = new Tracer(raw.doc_id)
      val side = new Side
      var ref: ExtractedDoc = null
      var got: ExtractedDoc = null
      def runRef(): Unit = {
        val t0 = System.nanoTime()
        ref = ExtractionPipeline.processDoc(raw)
        docNs += System.nanoTime() - t0
      }
      if (i % 2 == 0) { runRef(); got = composed(raw, tr, side) }
      else { got = composed(raw, tr, side); runRef() }
      i += 1
      val root = tr.spans.head
      composedNs += root.durNs
      stageNs += tr.spans.iterator.filter(_.parent == root.id).map(_.durNs).sum
      spans ++= tr.spans
      if (got != ref) mismatches += s"${raw.doc_id}: composed stages differ from processDoc"
      if (side.html != null &&
          side.html != HtmlStrategies.convert(ExtractionPipeline.PipelineConfig().htmlStrategy, raw.html))
        mismatches += s"${raw.doc_id}: parse/clean/emit differs from HtmlStrategies.convert"
      counts("docs") += 1
      if (raw.content_kind == "html" && side.html != null) counts("html_bytes") += raw.html.length
      if (!ref.success) counts(s"rejects.${Extraction.reasonOf(ref.error)}") += 1
      if (ref.success && side.cleanText == null) counts("skip_entities_docs") += 1
      if (side.cleanText != null) probes(side.cleanText, counts, probeNs)
    }
    ReplayPart(spans.toArray, docNs.toArray, composedNs, stageNs, counts.toMap, probeNs.toMap,
      mismatches.toSeq)
  }

  /** The public parts of `extractAll`, timed one by one on the text it
    * scanned: each PatternBank pattern (with the regulation gate
    * `extractAll` applies) and the person, org and gazetteer scans.
    */
  private def probes(t: String, counts: mutable.Map[String, Long], ns: mutable.Map[String, Long]): Unit = {
    counts("entity_docs") += 1
    counts("entity_chars") += t.length
    Patterns.foreach { case (name, p) =>
      val t0 = System.nanoTime()
      var hit = false
      if (name != "regulation" || regulationGate(t)) {
        val m = p.matcher(t)
        while (m.find()) hit = true
      }
      ns(s"re.$name") += System.nanoTime() - t0
      if (hit) counts(s"re.$name.hits") += 1
    }
    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); f; ns(name) += System.nanoTime() - t0
    }
    time("persons")(Core8Extractor.extractPersons(t))
    time("orgs")(Core8Extractor.extractOrgs(t))
    time("gazetteer") { Core8Extractor.extractGpe(t); Core8Extractor.extractLoc(t) }
  }
}
