package graft.html

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Span, SpanKinds => K}

/** Golden HTML boilerplate cases per FIXTURES.md §4.1 (B1-B7) and the
  * interleaved image-ref cases §4.2 (I1-I2).
  */
class HtmlExtractorSpec extends AnyFunSuite {

  private def kinds(spans: Seq[Span]): Seq[String] = spans.map(_.kind)
  private def texts(spans: Seq[Span]): Seq[String] = spans.map(_.text)

  test("B1: script/noscript/style/stylesheet-link stripped, zero spans") {
    val html =
      """<html><head>
        |<style>body { color: red }</style>
        |<link rel="stylesheet" href="a.css">
        |<script>var x = "<p>not a para</p>";</script>
        |</head><body>
        |<noscript><p>enable js</p></noscript>
        |<script src="x.js"></script>
        |</body></html>""".stripMargin
    assert(HtmlExtractor.extract(html) === Seq.empty)
  }

  test("B2: nav/header/footer/aside link farms stripped") {
    val html =
      """<body>
        |<header><a href="/">Home</a> <a href="/about">About</a></header>
        |<nav><ul><li><a href="/a">A</a></li><li><a href="/b">B</a></li></ul></nav>
        |<article><p>The actual content of the page.</p></article>
        |<aside><a href="/ad">Buy now</a></aside>
        |<footer>© 2024 <a href="/legal">Legal</a></footer>
        |</body>""".stripMargin
    val spans = HtmlExtractor.extract(html)
    assert(spans === Seq(Span(K.Text, "The actual content of the page.", "", 0)))
  }

  test("B2b: high-link-density div stripped by density classifier") {
    val html =
      """<body>
        |<div><a href="/1">Link one</a> <a href="/2">Link two</a> <a href="/3">Link three</a></div>
        |<article><p>Real paragraph with plenty of plain text that dominates its container
        |and therefore has very low link density overall.</p></article>
        |</body>""".stripMargin
    val spans = HtmlExtractor.extract(html)
    assert(spans.length === 1)
    assert(spans.head.kind === K.Text)
    assert(spans.head.text.startsWith("Real paragraph"))
  }

  test("B3: headings, inline markup, entity unescape") {
    val html =
      """<article>
        |<h1>Title &amp; Subtitle</h1>
        |<h3>Sub</h3>
        |<p>Plain <strong>bold</strong> and <em>ital</em> with a
        | <a href="https://x.com/page">link</a> &lt;tag&gt;</p>
        |</article>""".stripMargin
    val spans = HtmlExtractor.extract(html)
    assert(spans === Seq(
      Span(K.Heading, "# Title & Subtitle", "", 0),
      Span(K.Heading, "### Sub", "", 1),
      Span(K.Text, "Plain **bold** and *ital* with a [link](https://x.com/page) <tag>", "", 2)))
  }

  test("B4: lists, blockquote, code, hr") {
    val html =
      """<article>
        |<ul><li>alpha</li><li>beta</li></ul>
        |<ol><li>first</li><li>second</li></ol>
        |<blockquote><p>quoted wisdom</p></blockquote>
        |<pre>def f(x):
        |    return x</pre>
        |<hr>
        |</article>""".stripMargin
    val spans = HtmlExtractor.extract(html)
    assert(spans === Seq(
      Span(K.ListItem, "- alpha", "", 0),
      Span(K.ListItem, "- beta", "", 1),
      Span(K.ListItem, "1. first", "", 2),
      Span(K.ListItem, "2. second", "", 3),
      Span(K.Blockquote, "> quoted wisdom", "", 4),
      Span(K.Code, "def f(x):\n    return x", "", 5),
      Span(K.Rule, "---", "", 6)))
  }

  test("B5: table with th header row, pipe-escaped cells") {
    val html =
      """<table>
        |<tr><th>Name</th><th>Qty</th></tr>
        |<tr><td>a|b</td><td>2</td></tr>
        |<tr><td>c</td><td>3</td></tr>
        |</table>""".stripMargin
    val spans = HtmlExtractor.extract(html)
    assert(spans.length === 1)
    assert(spans.head.kind === K.Table)
    assert(spans.head.text ===
      "| Name | Qty |\n| --- | --- |\n| a\\|b | 2 |\n| c | 3 |")
  }

  test("B6: relative href/src resolved against base url") {
    val html =
      """<article>
        |<p><a href="/abs">abs</a> <a href="rel.html">rel</a></p>
        |<img src="img/pic.png" alt="pic">
        |</article>""".stripMargin
    val spans = HtmlExtractor.extract(html, baseUrl = "https://ex.com/dir/page.html")
    assert(spans === Seq(
      Span(K.Text, "[abs](https://ex.com/abs) [rel](https://ex.com/dir/rel.html)", "", 0),
      Span(K.ImageRef, "pic", "https://ex.com/dir/img/pic.png", 1)))
  }

  test("B7: whitespace pathology collapsed") {
    val html = "<p>lots   of\n\n\n   spaces\t\there</p>"
    val spans = HtmlExtractor.extract(html)
    assert(spans === Seq(Span(K.Text, "lots of spaces here", "", 0)))
  }

  test("I1: text -> img -> text emits ordered image_ref between text spans") {
    val html =
      """<article><p>Before the image <img src="https://cdn/x.jpg" alt="a chart"> after the image.</p></article>"""
    val spans = HtmlExtractor.extract(html)
    assert(spans === Seq(
      Span(K.Text, "Before the image", "", 0),
      Span(K.ImageRef, "a chart", "https://cdn/x.jpg", 1),
      Span(K.Text, "after the image.", "", 2)))
  }

  test("I2: image without src becomes [Image: alt] text span") {
    val html = """<article><img alt="lost picture"></article>"""
    val spans = HtmlExtractor.extract(html)
    assert(spans === Seq(Span(K.Text, "[Image: lost picture]", "", 0)))
  }

  test("lenient: unclosed tags, stray > in attributes, mismatched closes") {
    val html =
      """<body><div class="a>b"><p>first para
        |<p>second para</div></espurious></body>""".stripMargin
    val spans = HtmlExtractor.extract(html)
    assert(texts(spans) === Seq("first para", "second para"))
    assert(kinds(spans) === Seq(K.Text, K.Text))
  }

  test("base tag overrides baseUrl parameter") {
    val html =
      """<html><head><base href="https://cdn.ex.com/root/"></head>
        |<body><article><img src="p.png" alt="x"></article></body></html>""".stripMargin
    val spans = HtmlExtractor.extract(html, baseUrl = "https://other.com/")
    assert(spans === Seq(Span(K.ImageRef, "x", "https://cdn.ex.com/root/p.png", 0)))
  }

  test("nested lists indent and number per level") {
    val html =
      """<ol><li>one<ul><li>sub a</li><li>sub b</li></ul></li><li>two</li></ol>"""
    val spans = HtmlExtractor.extract(html)
    assert(texts(spans) === Seq("1. one", "  - sub a", "  - sub b", "2. two"))
  }

  test("raw-text handling: script containing tags does not corrupt tree") {
    val html =
      """<body><script>if (a < b) { document.write("<div>junk</div>"); }</script>
        |<p>kept</p></body>""".stripMargin
    val spans = HtmlExtractor.extract(html)
    assert(spans === Seq(Span(K.Text, "kept", "", 0)))
  }

  test("alt text is entity-decoded once, by the parser") {
    // one inline image (inside a paragraph) and one block-level image
    val html = """<article><p>See <img src="https://cdn/x.jpg" alt="AT&amp;amp;T"></p>""" +
      """<img alt="AT&amp;amp;T"></article>"""
    assert(HtmlExtractor.extract(html) === Seq(
      Span(K.Text, "See", "", 0),
      Span(K.ImageRef, "AT&amp;T", "https://cdn/x.jpg", 1),
      Span(K.Text, "[Image: AT&amp;T]", "", 2)))
  }

  test("an out-of-range numeric entity stays literal text, in text and in alt, and the page converts") {
    val html = """<article><p>Code &#1114112; or &#x110000; or &#-5; here</p>""" +
      """<img alt="bad &#x110000; ref"></article>"""
    assert(HtmlExtractor.extract(html) === Seq(
      Span(K.Text, "Code &#1114112; or &#x110000; or &#-5; here", "", 0),
      Span(K.Text, "[Image: bad &#x110000; ref]", "", 1)))
    val doc = graft.pipeline.ExtractionPipeline.processDoc(
      graft.model.RawDoc("ent", "html", html, Seq.empty, "", html.length.toLong, 1))
    assert(doc.success, s"rejected: ${doc.error}")
  }

  test("< before a non-ASCII letter is text, as in the HTML tokenizer: <ébc> and <中文> keep the words after them") {
    assert(HtmlExtractor.extract("<p>a <ébc> hello world</p>") ===
      Seq(Span(K.Text, "a <ébc> hello world", "", 0)))
    assert(HtmlExtractor.extract("<p>a <中文> hello world</p>") ===
      Seq(Span(K.Text, "a <中文> hello world", "", 0)))
  }

  test("unmatched close tags cost O(1): 20,000 open divs and 40,000 stray </q> parse in under 0.5 s") {
    HtmlParser.parse("<div>" * 2000 + "</q>" * 4000) // warm-up
    val html = "<div>" * 20000 + "</q>" * 40000
    val t0 = System.nanoTime()
    var n = HtmlParser.parse(html)
    val secs = (System.nanoTime() - t0) / 1e9
    var depth = 0
    while (n.children.nonEmpty) { n = n.children.head; depth += 1 }
    assert(depth === 20000)
    assert(secs < 0.5, s"parse took $secs s")
  }
}
