package graft.sources

import graft.model.{PdfBlock, RawDoc}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic raw-document synthesis (FIXTURES.md: "synthesized
  * deterministically (fixed seed) — no external data").
  *
  * Derives an interleaved text+media corpus purely from the driver's
  * `documents.parquet` (doc_id, text) at any scale factor: every field is
  * a pure function of (doc_id, text), so the same sfDir always yields the
  * same corpus — tests, Verify and Bench all see identical inputs.
  *
  * Mix: 50% HTML (with nav/header/footer/aside boilerplate, inline
  * markup, tables, lists, images), 30% PDF block-geometry docs (multi
  * page, two-column for every 3rd, ~1% >100-page reject cases), 20%
  * plain text. Entity/fact-bearing sentences are injected
  * deterministically so the enrichment stages have real work.
  */
object DocGen {

  def docsTable(spark: SparkSession, sfDir: String) =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Deterministic size variance: most docs carry 1-4 copies of their
    * base text; every 101st is a "giant" (40 copies) — the skew tail the
    * `doc_id` repartition must absorb (FIXTURES.md P3).
    */
  private def expand(id: Long, text: String): String = {
    val k = if (id % 101 == 100) 40 else 1 + (id % 4).toInt
    if (k == 1) text else Seq.fill(k)(text).mkString(" ")
  }

  /** Pure: one raw doc from a (doc_id, text) pair. */
  def synthesize(id: Long, text0: String): RawDoc = {
    val text = expand(id, text0)
    val mode = id % 10
    if (mode < 5) synthHtml(id, text)
    else if (mode < 8) synthPdf(id, text)
    else synthText(id, text)
  }

  /** content_kind of a synthesized doc, derived from its "doc<id>" id —
    * the inverse of the mode split in `synthesize`.
    */
  def kindOf(docId: String): String = {
    val id = docId.stripPrefix("doc").toLong
    val mode = id % 10
    if (mode < 5) "html" else if (mode < 8) "pdf_blocks" else "text"
  }

  def rawDocs(spark: SparkSession, sfDir: String): Dataset[RawDoc] = {
    import spark.implicits._
    docsTable(spark, sfDir)
      .select("doc_id", "text")
      .as[(Long, String)]
      .map { case (id, text) => synthesize(id, text) }
  }

  // ----------------------------------------------------------- sentences

  private def sentences(text: String): Seq[String] = {
    val parts = text.split("(?<=[.!?])\\s+").toSeq.filter(_.trim.nonEmpty)
    if (parts.isEmpty) Seq(text.take(200)) else parts
  }

  /** Deterministic entity-bearing sentences keyed by doc id. */
  private def entitySentences(id: Long): Seq[String] = {
    val first = Seq("John", "Sarah", "Michael", "Emily", "David", "Jane")((id % 6).toInt)
    val last = Seq("Smith", "Johnson", "Garcia", "Chen", "Patel", "Brown")(((id / 6) % 6).toInt)
    val month = Seq("January", "February", "March", "April", "June", "July",
      "August", "September", "October", "November")((id % 10).toInt)
    val day = (id % 28 + 1).toInt
    val year = (2020 + id % 6).toInt
    val amount = (id % 90 + 10) * 250
    val days = (id % 90 + 1).toInt
    val inches = (id % 20 + 20).toInt
    val city = Seq("Chicago", "Houston", "Seattle", "Boston", "Denver", "Atlanta")((id % 6).toInt)
    Seq(
      s"Contact $first $last at (555) ${100 + id % 900}-${1000 + id % 9000} regarding the audit.",
      s"The inspection is scheduled for $month $day, $year at ${(id % 11 + 1)}:${if (id % 2 == 0) "30" else "15"} PM in $city.",
      s"Violations carry a penalty of $$${"%,d".format(amount)} under 29 CFR 1926.${(id % 400 + 100)}.",
      s"Guardrails must measure $inches-${inches + 7} inches and reports shall be filed within $days days.",
      // second mention variant of the same person: canonicalization (N2)
      // must group "Mr. <last>" with "<first> <last>" into one id
      s"Mr. $last approved the findings.") ++
      // every 3rd doc leans hard into safety/regulatory so the
      // deep-domain route (confidence >= 60) and its C4 entity pass fire
      (if (id % 3 == 0)
        Seq("OSHA and NIOSH published workplace safety and fall protection guidance " +
          "in the Federal Register covering scaffold, guardrail and lockout tagout hazards, " +
          "with PPE and respirator requirements under the hazcom standard.")
      else Seq.empty)
  }

  // ----------------------------------------------------------------- html

  private def synthHtml(id: Long, text: String): RawDoc = {
    val sents = sentences(text)
    val extra = entitySentences(id)
    val paras = (sents ++ extra).grouped(3).map(_.mkString(" ")).toSeq
    val sb = new StringBuilder
    sb ++= "<html><head><title>Doc "
    sb ++= id.toString
    sb ++= "</title><style>body{margin:0}</style><link rel=\"stylesheet\" href=\"s.css\"><script>var t=1;</script></head><body>"
    sb ++= "<header><a href=\"/\">Home</a> <a href=\"/news\">News</a> <a href=\"/about\">About</a></header>"
    sb ++= "<nav><ul><li><a href=\"/a\">Section A</a></li><li><a href=\"/b\">Section B</a></li><li><a href=\"/c\">Section C</a></li></ul></nav>"
    sb ++= "<article>"
    sb ++= s"<h1>Document $id Report</h1>"
    paras.zipWithIndex.foreach { case (p, i) =>
      if (i == 1 && id % 2 == 0) sb ++= s"<h2>Section ${i} Findings</h2>"
      if (i == 2 && id % 4 == 0)
        sb ++= s"""<img src="https://cdn.example.com/img/$id-$i.png" alt="figure $i for doc $id">"""
      val body =
        if (i == 0 && id % 3 == 0) p.replaceFirst("(\\w+) (\\w+)", "<strong>$1</strong> <em>$2</em>")
        else p
      sb ++= s"<p>$body</p>"
    }
    if (id % 7 == 0)
      sb ++= "<ul><li>inspection checklist</li><li>equipment log</li><li>training record</li></ul>"
    if (id % 6 == 0)
      sb ++= "<blockquote><p>Compliance is verified during each quarterly review.</p></blockquote>"
    if (id % 5 == 0)
      sb ++= s"<table><tr><th>Item</th><th>Qty</th></tr><tr><td>unit-$id</td><td>${id % 100}</td></tr><tr><td>spare</td><td>${id % 7}</td></tr></table>"
    if (id % 8 == 0)
      sb ++= "<pre>status = check(sensor)\nif status: alert()</pre>"
    sb ++= "</article>"
    sb ++= "<aside><a href=\"/ad1\">Subscribe now</a> <a href=\"/ad2\">Special offer</a></aside>"
    sb ++= "<footer><a href=\"/privacy\">Privacy</a> <a href=\"/terms\">Terms</a> © 2024</footer>"
    sb ++= "</body></html>"
    val html = sb.toString
    // HTML docs model the URL pipeline (S3/S4): pre-populated response
    // metadata; every 89th residue-34 doc is a dead link (404), every
    // 83rd residue-13 serves a non-whitelisted payload — both must fall
    // to the S5 validation gate, not the extractors
    RawDoc(s"doc$id", "html", html, Seq.empty, "", html.length.toLong, 1,
      source_url = s"https://docs.example.com/doc$id.html",
      http_status = if (id % 89 == 34) 404 else 200,
      content_type = if (id % 83 == 13) "application/octet-stream" else "text/html; charset=utf-8")
  }

  // ------------------------------------------------------------------ pdf

  private def synthPdf(id: Long, text: String): RawDoc = {
    val body = (sentences(text) ++ entitySentences(id)).mkString(" ")
    val reject = id % 97 == 0
    val chunks = body.grouped(240).toSeq
    val twoCol = id % 3 == 0
    val blocksPerPage = 4
    val pageCount =
      if (reject) 101 + (id % 20).toInt
      else math.max(1, (chunks.length + blocksPerPage - 1) / blocksPerPage)
    val blocks = chunks.zipWithIndex.map { case (chunk, i) =>
      val page = i / blocksPerPage + 1
      val slot = i % blocksPerPage
      if (twoCol) {
        val col = slot % 2 // 0=left, 1=right
        val row = slot / 2
        PdfBlock(page,
          x0 = if (col == 0) 36.0 else 310.0,
          y0 = 72.0 + row * 220.0,
          x1 = if (col == 0) 290.0 else 564.0,
          y1 = 72.0 + row * 220.0 + 200.0,
          text = chunk, is_image = false, media_ref = "")
      } else {
        PdfBlock(page, 36.0, 72.0 + slot * 160.0, 564.0, 72.0 + slot * 160.0 + 140.0,
          chunk, is_image = false, media_ref = "")
      }
    }
    val withImages =
      if (id % 4 == 0 && blocks.nonEmpty) {
        val b = blocks.head
        blocks :+ PdfBlock(b.page, 200.0, 700.0, 400.0, 760.0,
          s"diagram for doc $id", is_image = true, media_ref = s"img://doc$id/p${b.page}/0")
      } else blocks
    RawDoc(s"doc$id", "pdf_blocks", "", withImages, "", body.length.toLong, pageCount)
  }

  // --------------------------------------------------------------- office

  /** F13 office-format corpus: the same documents table re-synthesized
    * as pre-parsed OOXML part payloads (kind by id % 3: docx / pptx /
    * xlsx). Kept separate from the main html/pdf/text mix so the frozen
    * span goldens and facet oracles stay stable.
    */
  def officeKindOf(id: Long): String =
    (id % 3) match { case 0 => "docx"; case 1 => "pptx"; case _ => "xlsx" }

  def synthesizeOffice(id: Long, text0: String): RawDoc = {
    import graft.model.OfficePart
    val esc = graft.office.OfficeExtractor.escapeXml _
    val items = sentences(expand(id, text0)) ++ entitySentences(id)
    officeKindOf(id) match {
      case "docx" =>
        val xml = "<w:document><w:body>" +
          items.map(p => s"<w:p><w:r><w:t>${esc(p)}</w:t></w:r></w:p>").mkString +
          "</w:body></w:document>"
        RawDoc(s"doc$id", "docx", "", Seq.empty, "", xml.length.toLong,
          math.max(1, items.length / 20), Seq(OfficePart("word/document.xml", xml)))
      case "pptx" =>
        val slides = items.grouped(3).toSeq
        val parts = slides.zipWithIndex.map { case (sl, i) =>
          OfficePart(s"ppt/slides/slide${i + 1}.xml",
            "<p:sld><p:cSld><p:spTree>" +
              sl.map(t =>
                s"<p:sp><p:txBody><a:p><a:r><a:t>${esc(t)}</a:t></a:r></a:p></p:txBody></p:sp>").mkString +
              "</p:spTree></p:cSld></p:sld>")
        }
        RawDoc(s"doc$id", "pptx", "", Seq.empty, "",
          parts.map(_.xml.length.toLong).sum, slides.length, parts)
      case _ =>
        val rows = items.zipWithIndex.map { case (t, i) =>
          s"""<row r="${i + 1}"><c t="inlineStr"><is><t>${i + 1}</t></is></c>""" +
            s"""<c t="inlineStr"><is><t>${esc(t)}</t></is></c></row>"""
        }
        val sheet = "<worksheet><sheetData>" + rows.mkString + "</sheetData></worksheet>"
        val wb = """<workbook><sheets><sheet name="Data" sheetId="1"/></sheets></workbook>"""
        RawDoc(s"doc$id", "xlsx", "", Seq.empty, "", sheet.length.toLong, 1,
          Seq(OfficePart("xl/workbook.xml", wb), OfficePart("xl/worksheets/sheet1.xml", sheet)))
    }
  }

  def officeRawDocs(spark: SparkSession, sfDir: String): Dataset[RawDoc] = {
    import spark.implicits._
    docsTable(spark, sfDir)
      .select("doc_id", "text")
      .as[(Long, String)]
      .map { case (id, text) => synthesizeOffice(id, text) }
  }

  // ------------------------------------------------------------------ aux
  //
  // Third corpus family (F12 CSV + F15 universal fallback): the same
  // documents table re-synthesized as csv payloads (even ids) and
  // unknown-kind payloads (odd ids; three deterministic fallback tiers).
  // Separate from the main mix and the office family so the frozen
  // goldens and facet oracles stay untouched. No expand(): skew is the
  // main corpus's concern — these gates verify conversion semantics.

  /** Even ids: a deterministic RFC-4180-lite CSV (header + 3..7 rows,
    * one quoted field with an embedded comma per row) whose converted
    * `' | '`-joined text is pure arithmetic of (id, words).
    */
  private def synthCsv(id: Long, text: String): RawDoc = {
    val words = text.split(" ")
    val n = words.length
    val nr = 3 + (id % 5).toInt
    val rows = (0 until nr).map { i =>
      val item = words(((id + i) % n).toInt)
      val qty = (id * 7 + i * 3) % 100
      val w1 = words(((id + 2 * i) % n).toInt)
      val w2 = words(((id + 2 * i + 1) % n).toInt)
      s"""${i + 1},$item,$qty,"$w1, $w2""""
    }
    val csv = ("row_id,item,qty,note" +: rows).mkString("\n")
    RawDoc(s"doc$id", "csv", "", Seq.empty, csv, csv.length.toLong, 1)
  }

  /** Odd ids: an unknown content kind exercising every F15 tier by
    * id % 6 ∈ {1, 3, 5} — 1: mostly-printable content (text
    * passthrough), 3: control-char-laced content (printable-strings
    * harvest keeps words of length ≥ 4), 5: pure control bytes (the
    * placeholder tier).
    */
  private def synthBin(id: Long, text: String): RawDoc = {
    val content = (id % 6) match {
      case 1 => text
      case 3 => text.split(" ").map(w => w + "\u0001" * 5).mkString
      case _ => "\u0001\u0002\u0003" * 4
    }
    RawDoc(s"doc$id", "bin", "", Seq.empty, content, content.length.toLong, 1)
  }

  def synthesizeAux(id: Long, text0: String): RawDoc =
    if (id % 2 == 0) synthCsv(id, text0) else synthBin(id, text0)

  def auxRawDocs(spark: SparkSession, sfDir: String): Dataset[RawDoc] = {
    import spark.implicits._
    docsTable(spark, sfDir)
      .select("doc_id", "text")
      .as[(Long, String)]
      .map { case (id, text) => synthesizeAux(id, text) }
  }

  // ----------------------------------------------------------------- text

  /** E15 exercise sentence (text mode only): proper nouns that none of
    * the Core-8 extractors claim (unknown surname behind a dot-free
    * title → person confidence 0.3 < 0.7; leading-cue agency name the
    * suffix-walk cannot reach; un-gazetteered "X Valley") but that the
    * gap-discovery patterns match — so the sentence survives as a GAP
    * sentence with three deterministic discoveries. Names are invented
    * and collide with no gazetteer, keyword, stoplist, or entity value.
    */
  private[sources] def discoverySentence(id: Long): String = {
    val sur = Seq("Wexford", "Tarlow", "Quimby", "Ashford")((id % 4).toInt)
    val dept = Seq("Harborview", "Glenfield", "Marwick", "Ostrander")(((id / 4) % 4).toInt)
    val valley = Seq("Pinecrest", "Eastbrook", "Larkspur", "Dunmore", "Hollybrook")(((id / 10) % 5).toInt)
    s"President $sur of the Department of $dept visited $valley Valley."
  }

  /** X2 CompanyFact exercise sentence (text mode only, like the
    * discovery sentence): a private-company mention in business context
    * (`semantic_fact_extractor.py:147-153`'s company_name +
    * industry_sector + business_context shape). Invented names carry NO
    * legal suffix on purpose — an ' Inc'/' Corp' tail would be claimed
    * by E4's suffix-walk (new ORG entity in every entity/canonical
    * oracle) and by GapDiscovery's corporate_suffix pattern; the
    * "contractor <Name>" cue keeps the sentence visible ONLY to the
    * typed SPO pattern. Sector words collide with no classifier keyword,
    * content-flag or gazetteer list.
    */
  private[sources] def companySentence(id: Long): String = {
    val name = Seq("Varnell", "Tredgold", "Mallorby", "Quenton")((id % 4).toInt)
    val sector = Seq("paving", "glazing", "joinery", "dredging")(((id / 4) % 4).toInt)
    s"The contractor $name operates in the $sector sector."
  }

  private def synthText(id: Long, text: String): RawDoc = {
    val body = (sentences(text) ++ entitySentences(id) :+ discoverySentence(id)
      :+ companySentence(id)).mkString(" ")
    RawDoc(s"doc$id", "text", "", Seq.empty, body, body.length.toLong,
      math.max(1, (body.length + 2999) / 3000))
  }
}
