package graft.model

/** Core data model for the extraction engine (SURVEY.md §1).
  *
  * The universal output coordinate system is the ordered span sequence
  * `(kind, text, media_ref, offset)` — the flattened union of what the
  * reference emits per document (markdown blocks, image placeholders,
  * page separators; cf. reference `utils/html_to_markdown_converter.py:78-156`
  * and `cli/fast_text_extractor.py:1207-1264`). Spans are compared under
  * EXACT ordered equality in tests (BASELINE.json input_hint).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

object SpanKinds {
  val Heading = "heading"
  val Text = "text"
  val ListItem = "list_item"
  val Blockquote = "blockquote"
  val Code = "code"
  val Table = "table"
  val ImageRef = "image_ref"
  val PageBreak = "page_break"
  val Formula = "formula"
  val Figure = "figure"
  val Rule = "rule"
}

/** Pre-parsed PDF block geometry, mirroring what PyMuPDF
  * `page.get_text("blocks")` hands the reference
  * (`extraction/highspeed_markdown_general_extractor.py:230`).
  */
final case class PdfBlock(
    page: Int,
    x0: Double,
    y0: Double,
    x1: Double,
    y1: Double,
    text: String,
    is_image: Boolean,
    media_ref: String)

/** One pre-parsed part of an OOXML container (the XML strings a zip
  * walk yields — same modeling move as pdf_blocks: the container unzip
  * is I/O-side, the XML text walk is the engine's job; reference
  * fallback readers at `mvp-hyper/core/mvp-hyper-core.py:513-560,606-650,
  * 712-778` consume exactly these part names).
  */
final case class OfficePart(name: String, xml: String)

/** Raw-ingestion row (FIXTURES.md §2). Exactly one of html / pdf_blocks /
  * text / office_parts is populated according to content_kind.
  */
final case class RawDoc(
    doc_id: String,
    content_kind: String, // 'html' | 'pdf_blocks' | 'text' | 'docx' | 'pptx' | 'xlsx'
    html: String,
    pdf_blocks: Seq[PdfBlock],
    text: String,
    size_bytes: Long,
    page_count: Int,
    office_parts: Seq[OfficePart] = Seq.empty,
    // S3/S4 URL-source modeling (SURVEY §2.1): downloads happen outside
    // the engine; rows arrive pre-populated with the response metadata
    // the S5 URL validation gate needs (`fusion_cli.py:272-280,335-432`)
    source_url: String = "",
    http_status: Int = 200,
    content_type: String = "")

/** Entity record shape from the reference
  * (`pipeline/legacy/service_processor.py:758-766`), span flattened.
  */
final case class EntityMention(
    value: String,
    text: String,
    `type`: String,
    start: Int,
    end: Int)

final case class Mention(text: String, start: Int, end: Int)

/** `knowledge/extractors/entity_normalizer.py:60-70`. */
final case class CanonicalEntity(
    id: String,
    `type`: String,
    normalized: String,
    aliases: Seq[String],
    count: Int,
    mentions: Seq[Mention])

/** SPO fact (`standalone_intelligent_extractor.py:27-36`, DocTest.json:16-29). */
final case class Fact(
    subject: String,
    predicate: String,
    `object`: String,
    confidence: Double,
    fact_type: String,
    context: String,
    start: Int,
    end: Int,
    actionable: Boolean)

/** 10 boolean content flags (`service_processor.py:1687-1698`). */
final case class ContentFlags(
    has_tables: Boolean,
    has_images: Boolean,
    has_formulas: Boolean,
    has_code: Boolean,
    has_links: Boolean,
    has_lists: Boolean,
    has_headers: Boolean,
    has_footnotes: Boolean,
    has_citations: Boolean,
    has_structured_data: Boolean)

final case class DocMeta(
    content_detection: ContentFlags,
    page_count: Int,
    primary_domain: String,
    primary_domain_confidence: Double,
    primary_document_type: String,
    domains: Map[String, Double],
    domain_entities: Seq[String] = Seq.empty, // C4: "domain/entity" hits (deep-domain route only)
    // URL-source lineage (`yaml_metadata_engine.py:106-163` URL variant)
    source_type: String = "file", // 'file' | 'url'
    source_path: String = "",
    http_status: Int = 0,
    content_type: String = "")

/** Full per-document pipeline output (FIXTURES.md §3). */
final case class ExtractedDoc(
    doc_id: String,
    spans: Seq[Span],
    meta: DocMeta,
    entities: Seq[EntityMention],
    canonical_entities: Seq[CanonicalEntity],
    facts: Seq[Fact],
    success: Boolean,
    error: String)

object DocMeta {
  val emptyFlags: ContentFlags =
    ContentFlags(false, false, false, false, false, false, false, false, false, false)
  val empty: DocMeta = DocMeta(emptyFlags, 0, "general", 100.0, "document", Map("general" -> 100.0))
}
