package graft.html

import graft.model.{Span, SpanKinds => K}
import HtmlParser.Node
import scala.collection.mutable.ArrayBuffer

/** DOM → ordered span sequence, re-expressing the per-tag markdown
  * emission of the reference's converter
  * (`utils/html_to_markdown_converter.py:72-222`):
  *   h1-h6 (level capped at 6), p, strong/em/a/img inline, ul/ol,
  *   blockquote, code/pre, br/hr, table (pipe-escape + `---` separator
  *   when a header row is present, `:174-200`), entity unescape and
  *   whitespace normalization (`:202-222`).
  *
  * Images always surface as standalone `image_ref` spans with
  * `media_ref` = resolved src (FIXTURES.md I1); an `img` without src
  * becomes an `[Image: alt]` text span (I2).
  */
object MarkdownEmitter {

  /** Resolve an href/src against a base URL (reference `:96-113`). */
  def resolveUrl(base: String, url: String): String = {
    if (url.isEmpty || base.isEmpty) return url
    val u = url.trim
    if (u.startsWith("http://") || u.startsWith("https://") ||
        u.startsWith("data:") || u.startsWith("mailto:") || u.startsWith("#")) return u
    if (u.startsWith("//")) {
      val scheme = if (base.startsWith("https")) "https:" else "http:"
      return scheme + u
    }
    // origin = scheme://host
    val schemeEnd = base.indexOf("://")
    if (schemeEnd < 0) return u
    val pathStart = base.indexOf('/', schemeEnd + 3)
    val origin = if (pathStart < 0) base else base.substring(0, pathStart)
    if (u.startsWith("/")) origin + u
    else {
      val basePath = if (pathStart < 0) "/" else base.substring(pathStart)
      val dir = basePath.substring(0, basePath.lastIndexOf('/') + 1)
      origin + dir + u
    }
  }

  /** Collapse whitespace runs to single spaces and trim
    * (reference `:202-222` whitespace normalization).
    */
  def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var prevWs = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) { prevWs = true }
      else {
        if (prevWs && sb.length > 0) sb.append(' ')
        sb.append(c)
        prevWs = false
      }
      i += 1
    }
    sb.toString
  }

  def escapePipes(s: String): String = s.replace("|", "\\|")

  private final class Ctx(val baseUrl: String) {
    val out = new ArrayBuffer[(String, String, String)] // (kind, text, media_ref)
    def emit(kind: String, text: String, mediaRef: String = ""): Unit =
      out += ((kind, text, mediaRef))
  }

  /** Render inline content; images flush the accumulated text and emit
    * their own span.
    */
  private def renderInline(n: Node, ctx: Ctx, sb: java.lang.StringBuilder,
                           flushKind: String): Unit = {
    def flush(): Unit = {
      val t = collapseWs(sb.toString)
      sb.setLength(0)
      if (t.nonEmpty) ctx.emit(flushKind, t)
    }
    n.children.foreach { ch =>
      if (ch.isText) sb.append(Entities.unescape(ch.text))
      else ch.tag match {
        case "strong" | "b" =>
          sb.append("**"); renderInline(ch, ctx, sb, flushKind); sb.append("**")
        case "em" | "i" =>
          sb.append("*"); renderInline(ch, ctx, sb, flushKind); sb.append("*")
        case "code" =>
          sb.append("`"); sb.append(collapseWs(inlineText(ch))); sb.append("`")
        case "a" =>
          val href = resolveUrl(ctx.baseUrl, ch.attr("href"))
          val txt = collapseWs(inlineText(ch))
          if (href.nonEmpty) sb.append("[").append(txt).append("](").append(href).append(")")
          else sb.append(txt)
        case "img" =>
          val src = ch.attr("src")
          val alt = collapseWs(ch.attr("alt"))
          if (src.nonEmpty) { flush(); ctx.emit(K.ImageRef, alt, resolveUrl(ctx.baseUrl, src)) }
          else sb.append("[Image: ").append(alt).append("]")
        case "br" => sb.append(' ')
        case _ => renderInline(ch, ctx, sb, flushKind)
      }
    }
  }

  /** Plain text of a subtree, entities unescaped, no markdown markup. */
  def inlineText(n: Node): String = {
    val sb = new java.lang.StringBuilder
    def walk(x: Node): Unit = {
      if (x.isText) sb.append(Entities.unescape(x.text))
      else if (x.tag == "br") sb.append(' ')
      else x.children.foreach(walk)
    }
    walk(n)
    sb.toString
  }

  private def renderBlockText(n: Node, ctx: Ctx, kind: String, prefix: String = ""): Unit = {
    val sb = new java.lang.StringBuilder
    renderInline(n, ctx, sb, kind)
    val t = collapseWs(sb.toString)
    if (t.nonEmpty) ctx.emit(kind, prefix + t)
  }

  private def renderTable(n: Node, ctx: Ctx): Unit = {
    // collect rows: any tr under table/thead/tbody/tfoot
    val rows = new ArrayBuffer[(Boolean, Seq[String])] // (isHeaderRow, cells)
    def findRows(x: Node): Unit = x.children.foreach { ch =>
      if (!ch.isText) ch.tag match {
        case "tr" =>
          val cells = ch.children.filter(c => !c.isText && (c.tag == "td" || c.tag == "th"))
          val isHeader = cells.nonEmpty && cells.forall(_.tag == "th")
          rows += ((isHeader, cells.map(c => escapePipes(collapseWs(inlineText(c)))).toSeq))
        case "thead" | "tbody" | "tfoot" => findRows(ch)
        case _ => ()
      }
    }
    findRows(n)
    if (rows.isEmpty) return
    val sb = new java.lang.StringBuilder
    var headerDone = false
    rows.zipWithIndex.foreach { case ((isHeader, cells), idx) =>
      sb.append("| ").append(cells.mkString(" | ")).append(" |")
      if (isHeader && idx == 0 && !headerDone) {
        sb.append('\n').append("| ").append(cells.map(_ => "---").mkString(" | ")).append(" |")
        headerDone = true
      }
      if (idx < rows.length - 1) sb.append('\n')
    }
    ctx.emit(K.Table, sb.toString)
  }

  private def renderList(n: Node, ctx: Ctx, ordered: Boolean, depth: Int): Unit = {
    var idx = 1
    n.children.foreach { ch =>
      if (!ch.isText && ch.tag == "li") {
        val nestedLists = ch.children.filter(c => !c.isText && (c.tag == "ul" || c.tag == "ol"))
        // item text excludes nested lists
        val itemNode = HtmlParser.Node.elem("li", Map.empty)
        ch.children.foreach(c => if (c.isText || (c.tag != "ul" && c.tag != "ol")) itemNode.children += c)
        val indent = "  " * depth
        val prefix = if (ordered) s"$indent$idx. " else s"$indent- "
        renderBlockText(itemNode, ctx, K.ListItem, prefix)
        nestedLists.foreach(nl => renderList(nl, ctx, nl.tag == "ol", depth + 1))
        idx += 1
      }
    }
  }

  private def renderBlockquote(n: Node, ctx: Ctx): Unit = {
    // each paragraph (or the bare content) becomes one "> " span
    val paras = n.children.filter(c => !c.isText && c.tag == "p")
    if (paras.nonEmpty) paras.foreach(p => renderBlockText(p, ctx, K.Blockquote, "> "))
    else renderBlockText(n, ctx, K.Blockquote, "> ")
  }

  private def renderPre(n: Node, ctx: Ctx): Unit = {
    // preserve internal whitespace; strip leading/trailing newlines only
    val raw = inlineText(n)
    val t = raw.replaceAll("^\\n+", "").replaceAll("\\s+$", "")
    if (t.nonEmpty) ctx.emit(K.Code, t)
  }

  private def walkBlocks(n: Node, ctx: Ctx): Unit = {
    n.children.foreach { ch =>
      if (ch.isText) {
        val t = collapseWs(Entities.unescape(ch.text))
        if (t.nonEmpty) ctx.emit(K.Text, t)
      } else ch.tag match {
        case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
          val level = math.min(ch.tag.charAt(1) - '0', 6)
          val t = collapseWs(inlineText(ch))
          if (t.nonEmpty) ctx.emit(K.Heading, ("#" * level) + " " + t)
        case "p" => renderBlockText(ch, ctx, K.Text)
        case "ul" => renderList(ch, ctx, ordered = false, 0)
        case "ol" => renderList(ch, ctx, ordered = true, 0)
        case "blockquote" => renderBlockquote(ch, ctx)
        case "pre" => renderPre(ch, ctx)
        case "code" => renderPre(ch, ctx) // block-level bare <code>
        case "table" => renderTable(ch, ctx)
        case "hr" => ctx.emit(K.Rule, "---")
        case "img" =>
          val src = ch.attr("src")
          val alt = collapseWs(ch.attr("alt"))
          if (src.nonEmpty) ctx.emit(K.ImageRef, alt, resolveUrl(ctx.baseUrl, src))
          else ctx.emit(K.Text, s"[Image: $alt]")
        case "figure" =>
          walkBlocks(ch, ctx)
        case "figcaption" => renderBlockText(ch, ctx, K.Figure)
        case "title" | "meta" | "link" | "base" => ()
        case "br" => ()
        case "strong" | "b" | "em" | "i" | "a" | "span" | "u" | "small" | "sub" | "sup" =>
          // stray inline content at block level: wrap as a paragraph
          val wrapper = HtmlParser.Node.elem("p", Map.empty)
          wrapper.children += ch
          renderBlockText(wrapper, ctx, K.Text)
        case _ => walkBlocks(ch, ctx) // div/section/article/main/body/html/...
      }
    }
  }

  /** Full HTML document → ordered spans. `baseUrl` resolves relative
    * hrefs/srcs; an in-document `<base href>` overrides it.
    */
  def emit(root: Node, baseUrl: String): Seq[Span] = {
    var base = baseUrl
    def findBase(n: Node): Unit = n.children.foreach { ch =>
      if (!ch.isText) {
        if (ch.tag == "base" && ch.attr("href").nonEmpty) base = ch.attr("href")
        else if (ch.tag == "html" || ch.tag == "head") findBase(ch)
      }
    }
    findBase(root)
    val ctx = new Ctx(base)
    walkBlocks(root, ctx)
    ctx.out.iterator.zipWithIndex.map { case ((k, t, m), i) => Span(k, t, m, i) }.toSeq
  }
}

/** Facade: raw HTML string → ordered span sequence (the F8-F11 operator
  * family of SURVEY.md §2.2). Pure function — safe inside mapPartitions.
  */
object HtmlExtractor {
  def extract(html: String, baseUrl: String = ""): Seq[Span] = {
    val dom = HtmlParser.parse(html)
    val clean = Boilerplate.clean(dom)
    MarkdownEmitter.emit(clean, baseUrl)
  }
}
