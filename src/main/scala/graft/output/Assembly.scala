package graft.output

import graft.model._

/** Output assembly — the reference's two sinks re-expressed as
  * deterministic serializer columns (SURVEY.md §2.7 O1/O2, §2.1 S6/S7,
  * F16).
  *
  * O1: final `.md` = YAML frontmatter + markdown body
  *     (reference `pipeline/in_memory_document.py:169-212`; frontmatter
  *     fields per `metadata/yaml_metadata_engine.py:46-221`).
  * O2: knowledge `.json` per doc — source_info + entities/facts +
  *     semantic_summary (`in_memory_document.py:214-288`).
  *
  * Both renderers are pure functions of ExtractedDoc with a stable field
  * order, so fixture equality is byte-exact; volatile fields (wall-clock
  * timestamps — `yaml_metadata_engine.py:147`) are injected by the
  * caller or omitted (SURVEY.md §7.4 determinism).
  */
object Assembly {

  /** YAML frontmatter (F16): conversion metadata block. Flow-style maps
    * for scores (the reference dumps spans/scores flow-style,
    * `in_memory_document.py:23-34`), block style for scalars,
    * insertion-ordered keys (sort_keys=False semantics).
    */
  def yamlFrontmatter(doc: ExtractedDoc): String = {
    val m = doc.meta
    val domainsFlow = m.domains.toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => s"$k: ${fmtD(v)}" }.mkString("{", ", ", "}")
    val cd = m.content_detection
    val sb = new StringBuilder
    sb ++= "---\n"
    sb ++= s"conversion:\n"
    sb ++= s"  engine: graft-spark-1.0\n"
    sb ++= s"  doc_id: ${doc.doc_id}\n"
    sb ++= s"  page_count: ${m.page_count}\n"
    sb ++= s"  success: ${doc.success}\n"
    if (doc.error.nonEmpty) sb ++= s"  error: ${doc.error}\n"
    // URL variant (`yaml_metadata_engine.py:106-163`): web-specific
    // conversion fields, including validation outcome
    if (m.source_type == "url") {
      sb ++= s"  source_type: url\n"
      sb ++= s"  source_path: ${m.source_path}\n"
      sb ++= s"  content_type: ${m.content_type}\n"
      sb ++= s"  http_status: ${m.http_status}\n"
      sb ++= s"  validation_success: ${doc.success}\n"
      sb ++= s"  proceed_to_classification: ${doc.success}\n"
    }
    sb ++= s"classification:\n"
    sb ++= s"  primary_domain: ${m.primary_domain}\n"
    sb ++= s"  primary_domain_confidence: ${fmtD(m.primary_domain_confidence)}\n"
    sb ++= s"  primary_document_type: ${m.primary_document_type}\n"
    sb ++= s"  domains: $domainsFlow\n"
    sb ++= s"content_detection: {has_tables: ${cd.has_tables}, has_images: ${cd.has_images}, "
    sb ++= s"has_formulas: ${cd.has_formulas}, has_code: ${cd.has_code}, has_links: ${cd.has_links}, "
    sb ++= s"has_lists: ${cd.has_lists}, has_headers: ${cd.has_headers}, has_footnotes: ${cd.has_footnotes}, "
    sb ++= s"has_citations: ${cd.has_citations}, has_structured_data: ${cd.has_structured_data}}\n"
    sb ++= s"entity_insights:\n"
    sb ++= s"  total_entities: ${doc.entities.size}\n"
    sb ++= s"  has_financial_data: ${doc.entities.exists(_.`type` == "MONEY")}\n"
    sb ++= s"  has_contact_info: ${doc.entities.exists(e => e.`type` == "PHONE" || e.`type` == "EMAIL")}\n"
    sb ++= s"  has_temporal_references: ${doc.entities.exists(e => e.`type` == "DATE" || e.`type` == "TIME")}\n"
    sb ++= s"  has_external_references: ${doc.entities.exists(e => e.`type` == "URL" || e.`type` == "REGULATION")}\n"
    sb ++= "---\n"
    sb.toString
  }

  /** Markdown body from the span sequence — the inverse of extraction's
    * span emission, one block per span in offset order.
    */
  def markdownBody(spans: Seq[Span]): String = {
    val sb = new StringBuilder
    spans.sortBy(_.offset).foreach { sp =>
      sp.kind match {
        case SpanKinds.Heading => sb ++= sp.text ++= "\n\n"
        case SpanKinds.ImageRef =>
          sb ++= s"![${sp.text}](${sp.media_ref})" ++= "\n\n"
        // page-break span text is the page header ("## Page N") or the
        // separator ("---") — render it verbatim, never collapse headers
        case SpanKinds.PageBreak => sb ++= sp.text ++= "\n\n"
        case SpanKinds.Rule => sb ++= "---\n\n"
        case SpanKinds.Code => sb ++= "```\n" ++= sp.text ++= "\n```\n\n"
        // blockquote / list-item span text already carries its markdown
        // prefix ("> ", "- ") from the emitter — no re-prefixing
        case SpanKinds.Blockquote => sb ++= sp.text ++= "\n\n"
        case SpanKinds.ListItem => sb ++= sp.text ++= "\n"
        case _ => sb ++= sp.text ++= "\n\n"
      }
    }
    sb.toString.stripTrailing() + "\n"
  }

  /** O1: the final .md artifact. */
  def assembleMarkdown(doc: ExtractedDoc): String =
    yamlFrontmatter(doc) + markdownBody(doc.spans)

  /** O2: knowledge JSON — stable field order, minimal escaping, no
    * volatile fields. Shape mirrors the reference's semantic-facts file
    * (`in_memory_document.py:214-288`, `DocTest.json:2-29`).
    */
  def knowledgeJson(doc: ExtractedDoc): String = {
    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""source_info":{"doc_id":${js(doc.doc_id)},"engine":"graft-spark-1.0","success":${doc.success}},"""
    sb ++= s""""semantic_summary":{"total_facts":${doc.facts.size},"""
    sb ++= s""""actionable_facts":${doc.facts.count(_.actionable)},"""
    val typeCounts = doc.facts.groupBy(_.fact_type).toSeq.sortBy(_._1)
      .map { case (t, fs) => s"${js(t)}:${fs.size}" }.mkString("{", ",", "}")
    sb ++= s""""fact_types":$typeCounts},"""
    sb ++= s""""canonical_entities":["""
    sb ++= doc.canonical_entities.map { c =>
      s"""{"id":${js(c.id)},"type":${js(c.`type`)},"normalized":${js(c.normalized)},"count":${c.count}}"""
    }.mkString(",")
    sb ++= "],"
    sb ++= s""""facts":["""
    sb ++= doc.facts.map { f =>
      s"""{"fact_type":${js(f.fact_type)},"subject":${js(f.subject)},"predicate":${js(f.predicate)},""" +
        s""""object":${js(f.`object`)},"confidence":${fmtD(f.confidence)},"span":{"start":${f.start},"end":${f.end}},""" +
        s""""actionable":${f.actionable}}"""
    }.mkString(",")
    sb ++= "]}"
    sb.toString
  }

  /** A quoted JSON string: escapes the quote, the backslash and every
    * control char below 0x20. The knowledge JSON and Verify's
    * oracle_sql.json both use it, so a tab in an oracle's SQL cannot
    * break the dump's JSON.
    */
  private[graft] def js(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  /** Doubles rendered without trailing .0 noise: 100.0 → "100.0",
    * 42.5 → "42.5", 0.75 → "0.75" — fixed, locale-free.
    */
  private def fmtD(d: Double): String =
    if (d == math.rint(d)) s"${d.toLong}.0"
    else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .underlying.stripTrailingZeros.toPlainString
}
