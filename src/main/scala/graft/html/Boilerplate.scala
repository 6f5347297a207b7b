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

  private val stripTags = Set("script", "noscript", "style", "nav", "footer", "header", "aside")
  private val scorable = Set("div", "section", "ul", "table")
  private val protectedTags = Set("article", "main")

  final case class Score(textChars: Int, linkChars: Int, elemCount: Int) {
    def linkDensity: Double = if (textChars == 0) 0.0 else linkChars.toDouble / textChars
    def textDensity: Double = {
      val t = textChars.toDouble
      if (t + 40.0 * elemCount == 0) 0.0 else t / (t + 40.0 * elemCount)
    }
    /** This score with a child subtree's added; under an `<a>` all of
      * the child's text is link text.
      */
    def plus(child: Score, inLink: Boolean): Score =
      Score(textChars + child.textChars,
        linkChars + (if (inLink) child.textChars else child.linkChars),
        elemCount + child.elemCount)
  }

  /** Text/link/element counts for a subtree (whitespace-squashed length). */
  def score(node: Node): Score =
    if (node.isText) Score(squashedLen(node.text), 0, 0)
    else node.children.foldLeft(Score(0, 0, 1))((s, ch) => s.plus(score(ch), node.tag == "a"))

  private def squashedLen(s: String): Int = {
    var count = 0
    var prevWs = true
    var i = 0
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws) { count += 1; prevWs = false }
      else if (!prevWs) { count += 1; prevWs = true }
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
    // prunes n's subtree; returns n's unpruned score
    def walk(n: Node, depth: Int, inProtected: Boolean): Score = {
      var total = Score(0, 0, 1)
      n.children.filterInPlace { ch =>
        val (sc, keep) =
          if (ch.isText || ch.tag == "meta" || ch.tag == "base" || ch.tag == "title" && depth > 1)
            (score(ch), true)
          else if (stripTags.contains(ch.tag) || ch.tag == "link" &&
                   (ch.attr("rel").toLowerCase.contains("stylesheet") || ch.attr("rel").isEmpty))
            (score(ch), false) // phase 1: dropped without a walk
          else {
            val prot = inProtected || protectedTags.contains(ch.tag)
            val sub = walk(ch, depth + 1, prot)
            val drop = !prot && scorable.contains(ch.tag) &&
              sub.textChars > 0 && boilerplateScore(sub, depth) > threshold
            (sub, !drop)
          }
        total = total.plus(sc, n.tag == "a")
        keep
      }
      total
    }
    walk(root, 0, inProtected = false)
    root
  }
}
