package graft.office

import graft.model.{OfficePart, Span, SpanKinds => K}
import scala.collection.mutable.ArrayBuffer

/** F13: DOCX/PPTX/XLSX text extraction over pre-parsed OOXML part
  * strings, matching the reference's semantics
  * (`mvp-hyper/core/mvp-hyper-core.py:479-778`):
  *
  *  - DOCX: one text block per `<w:p>` paragraph (runs concatenated —
  *    python-docx `paragraph.text`), pages ≈ max(1, paragraphs / 20)
  *    (`:479-511`)
  *  - PPTX: per slide (numeric part order), one text block per `<p:sp>`
  *    shape (`:571-604`); we additionally mark slide boundaries with
  *    `## Slide N` page-break spans so the span sequence keeps the
  *    page structure the rest of the engine relies on
  *  - XLSX: per sheet, a `=== title ===` header then one row per
  *    spreadsheet row with cells joined by " | " (`:666-711`); sheet
  *    titles from `xl/workbook.xml` name attributes
  *
  * The XML walk is a from-scratch index scanner (no DOM): OOXML text
  * lives in leaf elements (`w:t`/`a:t`/`is><t`), so collecting tagged
  * leaf texts per enclosing block is the whole parse. Pure and
  * allocation-light — designed for the fused `mapPartitions` stage.
  */
object OfficeExtractor {

  /** Text contents of every `<tag ...>text</tag>` occurrence, unescaped.
    * Self-closing `<tag/>` yields an empty string (kept: it represents
    * an empty run).
    */
  def elementTexts(xml: String, tag: String): Seq[String] = {
    val out = new ArrayBuffer[String]
    val open = "<" + tag
    val close = "</" + tag + ">"
    var i = 0
    while (i < xml.length) {
      val at = xml.indexOf(open, i)
      if (at < 0) return out.toSeq
      val afterName = at + open.length
      // require a real tag boundary: '>', whitespace or '/' after the name
      if (afterName < xml.length &&
          (xml.charAt(afterName) == '>' || xml.charAt(afterName) == '/' ||
           Character.isWhitespace(xml.charAt(afterName)))) {
        val gt = xml.indexOf('>', afterName)
        if (gt < 0) return out.toSeq
        if (xml.charAt(gt - 1) == '/') { // self-closing
          out += ""
          i = gt + 1
        } else {
          val end = xml.indexOf(close, gt + 1)
          if (end < 0) return out.toSeq
          out += graft.html.Entities.unescape(xml.substring(gt + 1, end))
          i = end + close.length
        }
      } else i = afterName
    }
    out.toSeq
  }

  /** For each `<blockTag>…</blockTag>` region, its `<textTag>` leaf
    * texts joined by `sep` — python-docx `paragraph.text` semantics
    * (runs concatenated, sep = "") and openpyxl row rendering (cells
    * joined by " | ", reference `mvp-hyper-core.py:677`).
    */
  def blockTexts(xml: String, blockTag: String, textTag: String, sep: String = ""): Seq[String] = {
    val out = new ArrayBuffer[String]
    val open = "<" + blockTag
    val close = "</" + blockTag + ">"
    var i = 0
    while (i < xml.length) {
      val at = xml.indexOf(open, i)
      if (at < 0) return out.toSeq
      val afterName = at + open.length
      if (afterName < xml.length &&
          (xml.charAt(afterName) == '>' || Character.isWhitespace(xml.charAt(afterName)))) {
        val end = xml.indexOf(close, afterName)
        if (end < 0) return out.toSeq
        out += elementTexts(xml.substring(afterName, end), textTag).mkString(sep)
        i = end + close.length
      } else i = afterName
    }
    out.toSeq
  }

  /** Values of `attr="…"` on every `<tag …>` occurrence that carries
    * the attribute (sheet names) — the single-attribute view of
    * pairedAttrs, so there is exactly ONE tag/attribute scanner.
    */
  def attrValues(xml: String, tag: String, attr: String): Seq[String] =
    pairedAttrs(xml, tag, Seq(attr)).flatMap(_.head)

  /** Numeric part order: `ppt/slides/slide10.xml` sorts after `slide2`
    * (the primary readers iterate slides/sheets in document order; a
    * lexical part sort would interleave them).
    */
  private def numberedParts(parts: Seq[OfficePart], prefix: String): Seq[OfficePart] =
    parts.filter(p => p.name.startsWith(prefix) && p.name.endsWith(".xml"))
      .sortBy { p =>
        val digits = p.name.stripPrefix(prefix).takeWhile(_.isDigit)
        if (digits.isEmpty) Int.MaxValue else digits.toInt
      }

  def extractDocx(parts: Seq[OfficePart]): Either[String, Seq[Span]] =
    parts.find(_.name == "word/document.xml") match {
      case None => Left("missing part: word/document.xml")
      case Some(doc) =>
        val paras = blockTexts(doc.xml, "w:p", "w:t")
        Right(toSpans(paras.filter(_.nonEmpty).map((K.Text, _))))
    }

  def extractPptx(parts: Seq[OfficePart]): Either[String, Seq[Span]] = {
    val slides = numberedParts(parts, "ppt/slides/slide")
    if (slides.isEmpty) return Left("missing parts: ppt/slides/slide*.xml")
    val out = new ArrayBuffer[(String, String)]
    slides.zipWithIndex.foreach { case (slide, idx) =>
      out += ((K.PageBreak, s"## Slide ${idx + 1}"))
      blockTexts(slide.xml, "p:sp", "a:t").filter(_.nonEmpty)
        .foreach(t => out += ((K.Text, t)))
    }
    Right(toSpans(out.toSeq))
  }

  /** Per-`<tag …>` values of several attributes at once, aligned by
    * element: Some(value) when the attribute is present (possibly ""),
    * None when absent; elements carrying none of the attributes are
    * skipped. Present-but-empty values matter — the xlsx title fallback
    * aligns titles to sheets positionally.
    */
  private def pairedAttrs(xml: String, tag: String, attrs: Seq[String]): Seq[Seq[Option[String]]] = {
    val out = new ArrayBuffer[Seq[Option[String]]]
    val open = "<" + tag
    var i = 0
    while (i < xml.length) {
      val at = xml.indexOf(open, i)
      if (at < 0) return out.toSeq
      val gt = xml.indexOf('>', at)
      if (gt < 0) return out.toSeq
      val tagStr = xml.substring(at, gt)
      val row = attrs.map { attr =>
        val needle = attr + "=\""
        val a = tagStr.indexOf(needle)
        if (a < 0) None
        else {
          val vStart = a + needle.length
          val vEnd = tagStr.indexOf('"', vStart)
          if (vEnd >= vStart) Some(graft.html.Entities.unescape(tagStr.substring(vStart, vEnd)))
          else Some("")
        }
      }
      if (row.exists(_.isDefined)) out += row
      i = gt + 1
    }
    out.toSeq
  }

  /** Sheet titles + order resolved the openpyxl-primary-path way when
    * the package carries `xl/_rels/workbook.xml.rels`: workbook
    * `<sheet name r:id>` entries (TAB order) → rels `Id → Target` →
    * worksheet parts, so a reordered workbook (part numbering ≠ tab
    * order) still emits sheets in tab order under their own titles.
    * Packages without the rels part (the synthesis; the reference's own
    * zip fallback, `mvp-hyper-core.py:712-778`, which skips titles
    * entirely) fall back to numeric-part-order pairing.
    */
  def extractXlsx(parts: Seq[OfficePart]): Either[String, Seq[Span]] = {
    val sheets = numberedParts(parts, "xl/worksheets/sheet")
    if (sheets.isEmpty) return Left("missing parts: xl/worksheets/sheet*.xml")
    val wb = parts.find(_.name == "xl/workbook.xml")
    val rels = parts.find(_.name == "xl/_rels/workbook.xml.rels")
    val resolved: Option[Seq[(OfficePart, String)]] = for {
      w <- wb
      r <- rels
      relMap = pairedAttrs(r.xml, "Relationship", Seq("Id", "Target"))
        .collect { case Seq(Some(id), Some(tgt)) if id.nonEmpty && tgt.nonEmpty =>
          id -> ("xl/" + tgt.stripPrefix("/xl/").stripPrefix("./"))
        }.toMap
      defs = pairedAttrs(w.xml, "sheet", Seq("name", "r:id"))
        .collect { case Seq(nm, Some(rid)) if rid.nonEmpty => (nm.getOrElse(""), rid) }
      byName = sheets.map(p => p.name -> p).toMap
      pairs = defs.flatMap { case (nm, rid) =>
        relMap.get(rid).flatMap(byName.get).map(p => (p, nm))
      }
      // only trust the resolution when it is a bijection onto the sheet
      // parts: a corrupt rels part with two Relationship entries pointing
      // at the same worksheet Target could otherwise pass a length-only
      // check while emitting one part twice and dropping another
      if pairs.length == sheets.length &&
        pairs.map(_._1.name).distinct.length == sheets.length
    } yield pairs
    val ordered = resolved.getOrElse {
      val names = wb.map(w => attrValues(w.xml, "sheet", "name")).getOrElse(Seq.empty)
      sheets.zipWithIndex.map { case (sheet, idx) =>
        (sheet, if (idx < names.length) names(idx) else s"Sheet${idx + 1}")
      }
    }
    val out = new ArrayBuffer[(String, String)]
    ordered.foreach { case (sheet, title) =>
      out += ((K.Heading, s"=== $title ==="))
      blockTexts(sheet.xml, "row", "t", " | ").filter(_.nonEmpty)
        .foreach(t => out += ((K.Text, t)))
    }
    Right(toSpans(out.toSeq))
  }

  def extract(kind: String, parts: Seq[OfficePart]): Either[String, Seq[Span]] = kind match {
    case "docx" => extractDocx(parts)
    case "pptx" => extractPptx(parts)
    case "xlsx" => extractXlsx(parts)
    case other => Left(s"unsupported office kind: $other")
  }

  private def toSpans(items: Seq[(String, String)]): Seq[Span] =
    items.iterator.zipWithIndex.map { case ((k, t), i) => Span(k, t, "", i) }.toSeq

  /** Minimal XML text escape for synthesis (attribute-safe). */
  def escapeXml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
}
