package graft.extract

import graft.model.{ContentFlags, Span, SpanKinds => K}
import java.util.regex.Pattern

/** F17: 10-boolean content quick scan (`service_processor.py:1660-1698`)
  * — single pass over the emitted spans (the reference scans its markdown
  * lines; spans are our markdown blocks).
  *
  * The citation, footnote and key-value patterns share one
  * [[Scan.candidates]] pass per span and run only at their triggers:
  * `(`, `[` and `et al.` for citations, `[` and line starts for
  * footnotes, line starts for key-value lines. Line starts inside one
  * whitespace run share the footnote's outcome ([[Scan.spaceRunEnd]]), so
  * a run of blank lines costs one try, not one walk per line.
  */
object ContentFlagsScan {
  import Scan.{Bracket, EtAl, LineStart, Open}

  private val citation = new Scan(Pattern.compile(
    "\\(\\d{4}\\)|\\bet al\\.|\\[\\d+\\]"), Open | Bracket | EtAl)
  private val footnote = new Scan(Pattern.compile(
    "\\[\\^\\d+\\]|(?m)^\\s*\\d+\\.\\s+(?:see|cf\\.|ibid)", Pattern.CASE_INSENSITIVE),
    Bracket | LineStart, Scan.spaceRunEnd)
  private val kv = new Scan(Pattern.compile("(?m)^[A-Za-z ]{2,30}:\\s+\\S"), LineStart)
  private val classes = citation.classes | footnote.classes | kv.classes

  def scan(spans: Seq[Span]): ContentFlags = {
    var tables, images, formulas, code, links, lists, headers, footnotes, citations = false
    var kvLines = 0
    spans.foreach { s =>
      s.kind match {
        case K.Table => tables = true
        case K.ImageRef => images = true
        case K.Formula => formulas = true
        case K.Code => code = true
        case K.ListItem => lists = true
        case K.Heading => headers = true
        case _ => ()
      }
      val t = s.text
      if (!links && (t.contains("](http") || t.contains("http://") || t.contains("https://")))
        links = true
      val c = Scan.candidates(t, classes)
      if (!citations) citations = citation.count(c) > 0
      if (!footnotes) footnotes = footnote.count(c) > 0
      kvLines += kv.count(c)
    }
    val structured = tables || kvLines >= 3
    ContentFlags(tables, images, formulas, code, links, lists, headers,
      footnotes, citations, structured)
  }
}
