package graft.html

import scala.collection.mutable.ArrayBuffer
import scala.runtime.IntRef

/** From-scratch, dependency-free HTML lexer + lenient DOM-lite builder.
  *
  * Re-expresses the parse step the reference delegates to BeautifulSoup
  * (`utils/html_to_markdown_converter.py:31-46`) as a single-pass JVM
  * parser designed to run inside `mapPartitions`: the lexer hands each
  * open tag, close tag and text run straight to the tree builder, so
  * one pass over the characters builds the tree with no token objects
  * in between. Lenient recovery: unclosed tags, stray `>` inside quoted
  * attributes, unknown tags, and mismatched close tags are all
  * tolerated (SURVEY.md §7.4 item 2).
  *
  * The lexer copies as little as it can. A text node is one `substring`
  * of the source: `indexOf('<')` finds the next tag, and a `<` that
  * opens none (not followed by `!`, `?`, `/` or an ASCII letter, as in
  * the HTML tokenizer) stays inside the run. A known tag name is read
  * from a table by its source chars, so it allocates nothing. Every
  * attribute is scanned, but only the names in [[keptAttrs]] get a
  * value `String`, unescaped; every other attribute is dropped.
  */
object HtmlParser {

  /** Elements whose content is raw text (no nested markup). Shared with
    * HtmlStrategies.html2text, which prunes exactly these from the tree.
    */
  private[html] val rawTextElems = Set("script", "style", "noscript", "textarea")

  /** HTML void elements — never have children. */
  val voidElems: Set[String] = Set(
    "br", "hr", "img", "meta", "link", "input", "area", "base",
    "col", "embed", "source", "track", "wbr")

  /** An open-addressing set of lower-case names, looked up by a source
    * range compared char by char under `Character.toLowerCase`: a hit
    * returns the table's own instance, a miss `null`, and neither
    * allocates.
    */
  private final class Names(names: Seq[String]) {
    private val slots = new Array[String](Integer.highestOneBit(names.size * 4))
    private val mask = slots.length - 1
    names.foreach { nm =>
      var k = nm.hashCode & mask
      while (slots(k) != null) k = (k + 1) & mask
      slots(k) = nm
    }
    def get(s: String, from: Int, to: Int): String = {
      var h, i = 0
      while (from + i < to) { h = 31 * h + Character.toLowerCase(s.charAt(from + i)); i += 1 }
      var k = h & mask
      while (slots(k) != null) {
        val nm = slots(k)
        i = 0
        while (i < nm.length && from + i < to && Character.toLowerCase(s.charAt(from + i)) == nm.charAt(i)) i += 1
        if (i == nm.length && from + i == to) return nm
        k = (k + 1) & mask
      }
      null
    }
  }

  /** One shared `String` per known tag name: every element of a known
    * tag carries the same instance, so the tree walks (`Boilerplate.clean`,
    * `MarkdownEmitter`) and the per-name open counters hash it once and
    * compare it by reference first. An unknown name keeps its own string.
    */
  private val knownTags = new Names(Seq("a", "abbr", "address", "area", "article", "aside",
    "audio", "b", "base", "bdi", "bdo", "blockquote", "body", "br", "button", "canvas",
    "caption", "center", "circle", "cite", "code", "col", "colgroup", "dd", "defs", "del",
    "details", "dfn", "dialog", "div", "dl", "dt", "em", "embed", "fieldset", "figcaption",
    "figure", "font", "footer", "form", "g", "h1", "h2", "h3", "h4", "h5", "h6", "head",
    "header", "hgroup", "hr", "html", "i", "iframe", "img", "input", "ins", "kbd", "label",
    "legend", "li", "line", "link", "main", "map", "mark", "menu", "meta", "meter", "nav",
    "noscript", "object", "ol", "optgroup", "option", "output", "p", "param", "path",
    "picture", "polygon", "pre", "progress", "q", "rect", "s", "samp", "script", "section",
    "select", "small", "source", "span", "strike", "strong", "style", "sub", "summary", "sup",
    "svg", "symbol", "table", "tbody", "td", "template", "textarea", "tfoot", "th", "thead",
    "time", "title", "tr", "track", "tt", "u", "ul", "use", "var", "video", "wbr"))

  /** The only attributes anything reads (`Node.attr`): the links, image
    * sources and alt texts the emitter writes and the `rel` of
    * `<link>`, which Boilerplate reads. A reader of another attribute
    * must add its name here, or it reads "".
    */
  val keptAttrs: Seq[String] = Seq("href", "src", "alt", "rel")
  private val kept = new Names(keptAttrs)

  /** The lower-cased tag name in `s` from `from` to `to` (ASCII name
    * chars), as its shared instance when known.
    */
  private def tagName(s: String, from: Int, to: Int): String = {
    val known = knownTags.get(s, from, to)
    if (known != null) known else s.substring(from, to).toLowerCase(java.util.Locale.ROOT)
  }

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  /** Minimal DOM node. Element nodes have a tag; text nodes have tag ""
    * and `text` set.
    */
  final class Node(
      val tag: String,
      val attrs: Map[String, String],
      val children: ArrayBuffer[Node],
      val text: String) {
    def isText: Boolean = tag.isEmpty
    /** The first value of attribute `k`, entities unescaped, or "". The
      * parser keeps only the names in [[keptAttrs]]; any other reads "".
      */
    def attr(k: String): String = attrs.getOrElse(k, "")
  }

  object Node {
    def elem(tag: String, attrs: Map[String, String]): Node =
      new Node(tag, attrs, new ArrayBuffer[Node], "")
    def textNode(t: String): Node = new Node("", Map.empty, new ArrayBuffer[Node], t)
  }

  /** Block-level elements that implicitly close an open `<p>`. */
  private val closesP = Set(
    "p", "div", "ul", "ol", "li", "table", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "section", "article", "nav", "header", "footer",
    "aside", "main", "hr", "form", "figure")

  /** Build a lenient DOM tree in one pass over `s`. Returns a synthetic
    * root node (tag "#root").
    */
  def parse(s: String): Node = {
    val root = Node.elem("#root", Map.empty)
    val stack = new ArrayBuffer[Node]
    stack += root
    // open elements per tag name, each element's counter kept beside it
    // in `counts`: an unmatched close tag costs one lookup, and a matched
    // one pops exactly what it scans
    val openCount = new java.util.HashMap[String, IntRef]
    val counts = new ArrayBuffer[IntRef]
    val none = new IntRef(0)
    def top = stack(stack.length - 1)
    def pop(): String = {
      counts.remove(counts.length - 1).elem -= 1
      stack.remove(stack.length - 1).tag
    }
    def text(t: String): Unit = top.children += Node.textNode(t)
    def close(name: String): Unit = // unmatched close tags are ignored
      if (top.tag == name || openCount.getOrDefault(name, none).elem > 0) while (pop() != name) {}
    def open(name: String, attrs: Map[String, String], selfClosing: Boolean): Unit = {
      // implied closes (lenient HTML recovery)
      if (closesP.contains(name) && top.tag == "p") pop()
      if (name == "li" && top.tag == "li") pop()
      if ((name == "td" || name == "th") && (top.tag == "td" || top.tag == "th")) pop()
      if (name == "tr") {
        if (top.tag == "td" || top.tag == "th") pop()
        if (top.tag == "tr") pop()
      }
      val node = Node.elem(name, attrs)
      top.children += node
      if (!selfClosing && !voidElems.contains(name)) {
        var count = openCount.get(name)
        if (count == null) { count = new IntRef(0); openCount.put(name, count) }
        count.elem += 1
        stack += node
        counts += count
      }
    }

    val n = s.length
    var run = 0 // start of the text run the next tag ends
    var i = s.indexOf('<')
    while (i >= 0 && i + 1 < n) {
      val c1 = s.charAt(i + 1)
      val tag = c1 == '!' || c1 == '?' || c1 == '/' || (c1 | 0x20) >= 'a' && (c1 | 0x20) <= 'z'
      if (tag && i > run) text(s.substring(run, i))
      if (!tag) i += 1 // '<' followed by non-tag char: literal text
      else if (c1 == '!' && s.startsWith("<!--", i)) {
        val e = s.indexOf("-->", i + 4)
        i = if (e < 0) n else e + 3
      } else if (c1 == '!' || c1 == '?') { // doctype / CDATA / processing instruction
        val e = s.indexOf('>', i + 2)
        i = if (e < 0) n else e + 1
      } else if (c1 == '/') {
        var j = i + 2
        while (j < n && isNameChar(s.charAt(j))) j += 1
        if (j > i + 2) close(tagName(s, i + 2, j))
        val e = s.indexOf('>', j)
        i = if (e < 0) n else e + 1
      } else {
        var j = i + 1
        while (j < n && isNameChar(s.charAt(j))) j += 1
        val name = tagName(s, i + 1, j)
        // attributes: each one scanned, the kept ones built
        var attrs = Map.empty[String, String]
        var selfClosing = false
        var done = false
        while (!done && j < n) {
          while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
          if (j >= n) done = true
          else if (s.charAt(j) == '>') { j += 1; done = true }
          else if (s.charAt(j) == '/') {
            if (j + 1 < n && s.charAt(j + 1) == '>') { selfClosing = true; j += 2; done = true }
            else j += 1
          } else {
            val a = j
            while (j < n && !Character.isWhitespace(s.charAt(j)) &&
                   s.charAt(j) != '=' && s.charAt(j) != '>' && s.charAt(j) != '/') j += 1
            val an = kept.get(s, a, j)
            while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
            var v, ve = j // the value's range: empty without `=`
            if (j < n && s.charAt(j) == '=') {
              j += 1
              while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
              if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
                val q = s.indexOf(s.charAt(j), j + 1)
                v = j + 1
                ve = if (q < 0) n else q
                j = if (q < 0) n else q + 1
              } else {
                v = j
                while (j < n && !Character.isWhitespace(s.charAt(j)) && s.charAt(j) != '>') j += 1
                ve = j
              }
            }
            if (an != null && !attrs.contains(an)) attrs = attrs.updated(an, Entities.unescape(s.substring(v, ve)))
          }
        }
        open(name, attrs, selfClosing)
        i = j
        // raw-text elements: consume verbatim until the matching close tag
        if (rawTextElems.contains(name) && !selfClosing) {
          var k = i
          var endIdx = -1
          val closeSeq = "</" + name
          var found = false
          while (!found && k < n) {
            val cand = s.indexOf('<', k)
            if (cand < 0) { found = true; endIdx = -1 }
            else if (cand + closeSeq.length <= n &&
                     s.regionMatches(true, cand, closeSeq, 0, closeSeq.length)) {
              found = true; endIdx = cand
            } else k = cand + 1
          }
          if (endIdx < 0) { // unterminated — swallow to EOF
            text(s.substring(i))
            close(name)
            i = n
          } else {
            if (endIdx > i) text(s.substring(i, endIdx))
            val gt = s.indexOf('>', endIdx)
            close(name)
            i = if (gt < 0) n else gt + 1
          }
        }
      }
      if (tag) run = i
      i = s.indexOf('<', i)
    }
    if (run < n) text(s.substring(run))
    root
  }
}

/** HTML entity unescaping (reference: BeautifulSoup does this implicitly;
  * `html_to_markdown_converter.py` relies on it). Named subset + numeric.
  */
object Entities {
  private val named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "ndash" -> "–", "mdash" -> "—",
    "hellip" -> "…", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "ldquo" -> "“", "rdquo" -> "”",
    "lsquo" -> "‘", "rsquo" -> "’", "deg" -> "°",
    "times" -> "×", "divide" -> "÷", "plusmn" -> "±",
    "frac12" -> "½", "frac14" -> "¼", "sect" -> "§",
    "para" -> "¶", "middot" -> "·", "bull" -> "•",
    "euro" -> "€", "pound" -> "£", "yen" -> "¥", "cent" -> "¢")

  def unescape(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try { sb.appendCodePoint(Integer.parseInt(body.substring(2), 16)); i = semi + 1 }
            catch { case _: IllegalArgumentException => sb.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            try { sb.appendCodePoint(Integer.parseInt(body.substring(1))); i = semi + 1 }
            catch { case _: IllegalArgumentException => sb.append(c); i += 1 }
          } else named.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
