package graft.html

import HtmlParser.Node

/** Boilerplate removal — two phases, mirroring the reference's strip
  * order (`utils/html_to_markdown_converter.py:48-61`) and extending it
  * with the readability-style density classifier the north star asks for.
  *
  * Phase 1 (tag strip set): remove `script`/`noscript`/`style`,
  * stylesheet `link`s, then `nav`/`footer`/`header`/`aside`.
  *
  * Phase 2 (density scoring): for generic containers (div/section/ul/
  * table) compute
  *   - linkDensity = chars of text under `<a>` / total text chars
  *   - textDensity = total text chars / (total text chars + 40·elementCount)
  *   - depth of the node in the tree
  * and drop the container when
  * `0.7·linkDensity + 0.2·(1−textDensity) + 0.1·min(depth,10)/10 > 0.6`.
  * Containers inside `article`/`main` are protected (they're the main
  * content the readability heuristic is trying to keep).
  *
  * Both phases run in one post-order walk: the walk prunes a child's
  * subtree and returns that subtree's counts as they were before
  * pruning, so the scoring reads them and no subtree is walked twice.
  */
object Boilerplate {

  /** Tag class, one lookup per child element: 's' is dropped unwalked
    * (phase 1), 'h' kept unwalked (`title` only below depth 1), 'l' is a
    * `link` (dropped when a stylesheet or rel-less), 'd' a density-scored
    * container and 'p' protects its subtree. Other tags are walked.
    */
  private val tagClass: Map[String, Char] = Map(
    's' -> "script noscript style nav footer header aside", 'h' -> "meta base title",
    'l' -> "link", 'd' -> "div section ul table", 'p' -> "article main")
    .flatMap { case (c, tags) => tags.split(' ').map(_ -> c) }

  final case class Score(textChars: Int, linkChars: Int, elemCount: Int) {
    def linkDensity: Double = if (textChars == 0) 0.0 else linkChars.toDouble / textChars
    def textDensity: Double =
      if (textChars + 40.0 * elemCount == 0) 0.0 else textChars / (textChars + 40.0 * elemCount)
  }

  /** Text/link/element counts for a subtree (whitespace-squashed length);
    * under an `<a>` all text is link text.
    */
  def score(node: Node): Score = {
    var text, link, elems = 0
    def add(n: Node, inLink: Boolean): Unit =
      if (n.isText) { val t = squashedLen(n.text); text += t; if (inLink) link += t }
      else { elems += 1; n.children.foreach(add(_, inLink || n.tag == "a")) }
    add(node, inLink = false)
    Score(text, link, elems)
  }

  private def squashedLen(s: String): Int = {
    var count, i = 0
    var prevWs = true
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws || !prevWs) count += 1
      prevWs = ws
      i += 1
    }
    if (prevWs && count > 0) count - 1 else count
  }

  def boilerplateScore(s: Score, depth: Int): Double =
    0.7 * s.linkDensity + 0.2 * (1.0 - s.textDensity) + 0.1 * math.min(depth, 10) / 10.0

  private val threshold = 0.6

  /** Returns a cleaned copy of the tree (in place mutation of children
    * buffers; the input tree is consumed).
    */
  def clean(root: Node): Node = {
    // prunes n's subtree; returns its unpruned score when `counted` (n or
    // a container above it is density-scored). Elsewhere nothing reads
    // the counts, so text and unwalked subtrees (the head's scripts) add 0.
    def walk(n: Node, depth: Int, inProtected: Boolean, counted: Boolean): Score = {
      val inLink = n.tag == "a"
      var text, link, elems, kept, i = 0
      while (i < n.children.length) {
        val ch = n.children(i)
        val cls = if (ch.isText) 't' else tagClass.getOrElse(ch.tag, 'w')
        val strip = cls == 's' || cls == 'l' &&
          (ch.attr("rel").toLowerCase.contains("stylesheet") || ch.attr("rel").isEmpty)
        val scored = cls == 'd' && !inProtected
        val sub =
          if (!strip && cls != 't' && (cls != 'h' || depth <= 1 && ch.tag == "title"))
            walk(ch, depth + 1, inProtected || cls == 'p', counted || scored)
          else if (counted) score(ch) else Score(0, 0, 0)
        text += sub.textChars; link += (if (inLink) sub.textChars else sub.linkChars)
        elems += sub.elemCount
        val keep = !strip && !(scored && sub.textChars > 0 && boilerplateScore(sub, depth) > threshold)
        if (keep) { n.children(kept) = ch; kept += 1 }
        i += 1
      }
      if (kept < i) n.children.dropRightInPlace(i - kept)
      Score(text, link, elems + 1)
    }
    walk(root, 0, inProtected = false, counted = false)
    root
  }
}
