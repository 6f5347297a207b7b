package graft.office

import graft.model.{OfficePart, SpanKinds => K}
import graft.pipeline.ExtractionPipeline
import graft.sources.DocGen
import org.scalatest.funsuite.AnyFunSuite

/** F13 office extraction: semantics mirror the reference readers at
  * `mvp-hyper/core/mvp-hyper-core.py:479-778` (docx paragraphs, pptx
  * slide shapes in document order, xlsx sheet header + piped rows).
  */
class OfficeExtractorSpec extends AnyFunSuite {

  test("docx: one text span per paragraph, runs concatenated, entities unescaped") {
    val xml = "<w:document><w:body>" +
      "<w:p><w:r><w:t>Safety &amp; compliance</w:t></w:r><w:r><w:t> report</w:t></w:r></w:p>" +
      "<w:p/>" + // empty paragraph dropped
      "<w:p><w:r><w:t>Second para.</w:t></w:r></w:p>" +
      "</w:body></w:document>"
    val Right(spans) = OfficeExtractor.extractDocx(Seq(OfficePart("word/document.xml", xml)))
    assert(spans.map(s => (s.kind, s.text, s.offset)) === Seq(
      (K.Text, "Safety & compliance report", 0),
      (K.Text, "Second para.", 1)))
  }

  test("docx: missing document part is a reject") {
    assert(OfficeExtractor.extractDocx(Seq.empty) === Left("missing part: word/document.xml"))
  }

  test("pptx: slides in numeric order (slide10 after slide2), shape texts") {
    def slide(t: String) =
      s"<p:sld><p:cSld><p:spTree><p:sp><p:txBody><a:p><a:r><a:t>$t</a:t></a:r></a:p></p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    val parts = Seq(
      OfficePart("ppt/slides/slide10.xml", slide("tenth")),
      OfficePart("ppt/slides/slide2.xml", slide("second")),
      OfficePart("ppt/slides/slide1.xml", slide("first")))
    val Right(spans) = OfficeExtractor.extractPptx(parts)
    assert(spans.map(s => (s.kind, s.text)) === Seq(
      (K.PageBreak, "## Slide 1"), (K.Text, "first"),
      (K.PageBreak, "## Slide 2"), (K.Text, "second"),
      (K.PageBreak, "## Slide 3"), (K.Text, "tenth")))
  }

  test("xlsx: sheet-name header + rows with cells joined by ' | '") {
    val wb = """<workbook><sheets><sheet name="Audit Log" sheetId="1"/></sheets></workbook>"""
    val sheet = "<worksheet><sheetData>" +
      """<row r="1"><c t="inlineStr"><is><t>Item</t></is></c><c t="inlineStr"><is><t>Qty</t></is></c></row>""" +
      """<row r="2"><c t="inlineStr"><is><t>helmet</t></is></c><c t="inlineStr"><is><t>12</t></is></c></row>""" +
      "</sheetData></worksheet>"
    val Right(spans) = OfficeExtractor.extractXlsx(Seq(
      OfficePart("xl/workbook.xml", wb), OfficePart("xl/worksheets/sheet1.xml", sheet)))
    assert(spans.map(s => (s.kind, s.text)) === Seq(
      (K.Heading, "=== Audit Log ==="),
      (K.Text, "Item | Qty"),
      (K.Text, "helmet | 12")))
  }

  test("synthesized office docs run end-to-end through the fused pipeline") {
    // docx doc (id%3==0): one span per sentence incl. the safety sentence
    val d0 = ExtractionPipeline.processDoc(DocGen.synthesizeOffice(0, "alpha beta gamma"))
    assert(d0.success)
    assert(d0.spans.length === 7) // expanded + 5 entity sentences + safety
    assert(d0.spans.head.text === "alpha beta gamma")
    assert(d0.spans.forall(_.kind == K.Text))
    assert(d0.entities.nonEmpty) // entity stages ran on the office markdown

    // pptx doc (id%3==1): 2 slides of 3 shapes
    val d1 = ExtractionPipeline.processDoc(DocGen.synthesizeOffice(1, "alpha beta gamma"))
    assert(d1.success)
    assert(d1.spans.count(_.kind == K.PageBreak) === 2)
    assert(d1.spans.count(_.kind == K.Text) === 6)
    assert(d1.meta.page_count === 2)

    // xlsx doc (id%3==2): header + indexed rows
    val d2 = ExtractionPipeline.processDoc(DocGen.synthesizeOffice(2, "alpha beta gamma"))
    assert(d2.success)
    assert(d2.spans.head.text === "=== Data ===")
    assert(d2.spans(1).text.startsWith("1 | alpha beta gamma"))
    assert(d2.spans.length === 7) // header + 6 rows
  }

  test("xlsx titles resolve via workbook rels on a reordered workbook (tab order != part order)") {
    import graft.model.OfficePart
    // tab order: "Budget" -> sheet2.xml, then "Log" -> sheet1.xml
    val wb =
      """<workbook><sheets><sheet name="Budget" sheetId="1" r:id="rId7"/>""" +
        """<sheet name="Log" sheetId="2" r:id="rId3"/></sheets></workbook>"""
    val rels =
      """<Relationships><Relationship Id="rId3" Target="worksheets/sheet1.xml"/>""" +
        """<Relationship Id="rId7" Target="worksheets/sheet2.xml"/></Relationships>"""
    def sheet(t: String) =
      s"""<worksheet><sheetData><row><c t="inlineStr"><is><t>$t</t></is></c></row></sheetData></worksheet>"""
    val parts = Seq(
      OfficePart("xl/workbook.xml", wb),
      OfficePart("xl/_rels/workbook.xml.rels", rels),
      OfficePart("xl/worksheets/sheet1.xml", sheet("log row")),
      OfficePart("xl/worksheets/sheet2.xml", sheet("budget row")))
    val spans = OfficeExtractor.extractXlsx(parts).toOption.get
    assert(spans.map(_.text) ===
      Seq("=== Budget ===", "budget row", "=== Log ===", "log row"))
    // without the rels part the numeric-part-order fallback pairs
    // titles positionally (the pre-resolution behavior)
    val noRels = parts.filterNot(_.name.endsWith(".rels"))
    val fb = OfficeExtractor.extractXlsx(noRels).toOption.get
    assert(fb.map(_.text) ===
      Seq("=== Budget ===", "log row", "=== Log ===", "budget row"))
  }

  test("fallback title pairing keeps alignment past an empty sheet name") {
    import graft.model.OfficePart
    val wb = """<workbook><sheets><sheet name="" sheetId="1"/><sheet name="Data" sheetId="2"/></sheets></workbook>"""
    def sheet(t: String) =
      s"""<worksheet><sheetData><row><c t="inlineStr"><is><t>$t</t></is></c></row></sheetData></worksheet>"""
    val parts = Seq(
      OfficePart("xl/workbook.xml", wb),
      OfficePart("xl/worksheets/sheet1.xml", sheet("one")),
      OfficePart("xl/worksheets/sheet2.xml", sheet("two")))
    val spans = OfficeExtractor.extractXlsx(parts).toOption.get
    // the empty name occupies position 1, so sheet2 still gets "Data"
    assert(spans.map(_.text) === Seq("===  ===", "one", "=== Data ===", "two"))
  }
}
