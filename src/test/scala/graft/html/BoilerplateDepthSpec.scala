package graft.html

import org.scalatest.funsuite.AnyFunSuite

/** Boilerplate removal is linear in the page: each subtree is counted
  * once, so nested `div` soup costs O(nodes), not O(nodes × depth).
  */
class BoilerplateDepthSpec extends AnyFunSuite {

  test("an 8,000-deep div page extracts in under 1 s") {
    val depth = 8000
    val html = "<div>text <a>l</a>" * depth + "</div>" * depth
    @volatile var result: Either[Throwable, (Seq[graft.model.Span], Double)] = null
    // the emitter's walks recurse once per level: give them a large stack
    val t = new Thread(null, () => {
      result =
        try {
          val t0 = System.nanoTime()
          val spans = HtmlExtractor.extract(html)
          Right((spans, (System.nanoTime() - t0) / 1e9))
        } catch { case e: Throwable => Left(e) }
    }, "deep-html", 256L << 20)
    t.start()
    t.join()
    result match {
      case Left(e) => throw e
      case Right((spans, secs)) =>
        // no container is boilerplate: every level keeps its text and link
        assert(spans.size == 2 * depth)
        assert(secs < 1.0, f"took $secs%.2f s")
    }
  }
}
