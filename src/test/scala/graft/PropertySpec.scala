package graft

import graft.extract.Core8Extractor
import graft.html.{Boilerplate, HtmlExtractor, HtmlParser}
import graft.html.HtmlParser.Node
import graft.model.{PdfBlock, Span}
import graft.normalize.Normalizer
import graft.pdf.PdfExtractor
import graft.pipeline.ExtractionPipeline
import graft.sources.DocGen
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the engine's core invariants (SURVEY.md §5):
  * span offsets strictly monotone, entity spans in-bounds and
  * non-overlapping after dedup (E17 semantics), pipeline totality over
  * arbitrary input, extractor determinism. Uses raw ScalaCheck Gens with
  * a fixed seed (no scalatestplus bridge in the offline cache) — 200
  * deterministic samples per property.
  */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 3) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > n / 2, s"generator too sparse: $produced of $n")
  }

  private def forAll[A, B](genA: Gen[A], genB: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(genA, genB))(t => f(t._1, t._2))

  private val word = Gen.oneOf("safety", "Report", "the", "table", "John",
    "Smith", "OSHA", "Chicago", "$500", "29", "CFR", "1910.95", "worker",
    "training", "30", "inches", "on", "March", "5,", "2024", "at", "3:30",
    "PM", "call", "(555)", "123-4567", "a", "&amp;", "<b>x</b>")
  private val textGen: Gen[String] =
    Gen.listOf(word).map(_.mkString(" "))

  private val htmlGen: Gen[String] = for {
    title <- textGen
    paras <- Gen.listOf(textGen)
    junk <- Gen.oneOf("", "<nav><a href=\"/x\">nav</a></nav>",
      "<script>var x = '<p>not content</p>';</script>",
      "<footer>footer junk</footer>")
    unclosed <- Gen.oneOf("", "<div><p>unclosed", "<em>dangling")
  } yield s"<html><head><title>$title</title></head><body>$junk" +
    paras.map(p => s"<p>$p</p>").mkString + s"$unclosed</body></html>"

  test("P1: HTML extractor — offsets strictly increasing from 0, total on tag soup") {
    forAll(htmlGen) { html =>
      val spans = HtmlExtractor.extract(html)
      spans.zipWithIndex.foreach { case (sp, i) =>
        assert(sp.offset == i, s"offset gap at $i: ${sp.offset}")
      }
      assert(spans.forall(s => s.kind.nonEmpty))
    }
  }

  test("P2: HTML extractor is deterministic") {
    forAll(htmlGen) { html =>
      assert(HtmlExtractor.extract(html) == HtmlExtractor.extract(html))
    }
  }

  test("P3: entity spans in-bounds, conflict-free after extractAll") {
    forAll(textGen) { text =>
      val clean = Core8Extractor.truncate(Core8Extractor.cleanFormatting(text))
      val ents = Core8Extractor.extractAll(clean)
      ents.foreach { e =>
        assert(e.start >= 0 && e.end <= clean.length && e.start < e.end,
          s"out of bounds: $e for len ${clean.length}")
      }
      // same-type mentions never overlap (dedup invariant E17)
      ents.groupBy(_.`type`).foreach { case (_, group) =>
        val sorted = group.sortBy(_.start)
        sorted.sliding(2).foreach {
          case Seq(a, b) => assert(a.end <= b.start, s"overlap: $a / $b")
          case _ =>
        }
      }
    }
  }

  test("P4: canonicalization covers every entity exactly once") {
    forAll(textGen) { text =>
      val clean = Core8Extractor.truncate(Core8Extractor.cleanFormatting(text))
      val ents = Core8Extractor.extractAll(clean)
      val canon = Normalizer.canonicalize(ents)
      assert(canon.map(_.count).sum == ents.size,
        s"counts ${canon.map(_.count).sum} != entities ${ents.size}")
      assert(canon.map(_.id).distinct.size == canon.size, "duplicate canonical ids")
    }
  }

  private val pdfBlocksGen: Gen[Seq[PdfBlock]] = Gen.listOf(for {
    page <- Gen.choose(1, 5)
    x0 <- Gen.choose(0.0, 500.0)
    y0 <- Gen.choose(0.0, 700.0)
    w <- Gen.choose(10.0, 200.0)
    h <- Gen.choose(10.0, 100.0)
    text <- textGen
    isImg <- Gen.oneOf(true, false)
  } yield PdfBlock(page, x0, y0, x0 + w, y0 + h, text, isImg,
    if (isImg) s"img://x/$page" else ""))

  test("P5: PDF extractor — spans ordered, page headers monotone, total") {
    forAll(pdfBlocksGen) { blocks =>
      PdfExtractor.extract("docP", blocks, pageCount = 5) match {
        case Right(spans) =>
          spans.zipWithIndex.foreach { case (sp, i) => assert(sp.offset == i) }
          val pages = spans.filter(_.kind == "heading")
            .map(_.text).filter(_.startsWith("## Page "))
            .map(_.stripPrefix("## Page ").trim.toInt)
          assert(pages == pages.sorted, s"page order: $pages")
        case Left(err) => assert(err.nonEmpty)
      }
    }
  }

  test("P6: processDoc is total — never throws, failure becomes reject row") {
    forAll(Gen.choose(0L, 5000L), textGen) { (id: Long, text: String) =>
      val doc = DocGen.synthesize(id, text)
      val out = ExtractionPipeline.processDoc(doc)
      assert(out.doc_id == doc.doc_id)
      if (!out.success) assert(out.error.nonEmpty)
    }
  }

  test("P7: markdown body round-trip keeps span text for text-bearing kinds") {
    forAll(Gen.listOf(textGen)) { texts =>
      val spans = texts.zipWithIndex.map { case (t, i) => Span("text", t, "", i) }
      val body = graft.output.Assembly.markdownBody(spans)
      texts.filter(_.nonEmpty).foreach(t => assert(body.contains(t)))
    }
  }

  test("P8: HTML extractor survives arbitrary garbage input") {
    val garbage = Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString)
    forAll(garbage, 300) { s =>
      val spans = HtmlExtractor.extract(s)   // must not throw
      spans.zipWithIndex.foreach { case (sp, i) => assert(sp.offset == i) }
    }
    // targeted hostile fragments
    Seq("<", "<<<>>>", "<a href=", "<p <div>", "</", "<![CDATA[x", "<!--",
        "<table><tr><td>", "&#xZZ;", "&unknown;", "\u0000<b>\u0000").foreach { s =>
      HtmlExtractor.extract(s)
    }
  }

  // P9's reference: boilerplate removal that re-scores every scorable
  // container's subtree from scratch before deciding (O(nodes × depth)).
  // Returns the number of containers the density rule dropped.
  private def naiveClean(root: Node): Int = {
    val stripTags = Set("script", "noscript", "style", "nav", "footer", "header", "aside")
    def naiveScore(node: Node): Boilerplate.Score = {
      var text = 0; var link = 0; var elems = 0
      def walk(n: Node, inLink: Boolean): Unit =
        if (n.isText) {
          // whitespace runs count as one char, none at either end
          val words = n.text.split("\\p{javaWhitespace}+").filter(_.nonEmpty)
          val len = words.map(_.length).sum + math.max(words.length - 1, 0)
          text += len
          if (inLink) link += len
        } else {
          elems += 1
          n.children.foreach(walk(_, inLink || n.tag == "a"))
        }
      walk(node, inLink = false)
      Boilerplate.Score(text, link, elems)
    }
    var dropped = 0
    def walk(n: Node, depth: Int, inProtected: Boolean): Unit = {
      val kept = n.children.filter { ch =>
        if (ch.isText) true
        else if (stripTags.contains(ch.tag)) false
        else if (ch.tag == "link" &&
                 (ch.attr("rel").toLowerCase.contains("stylesheet") || ch.attr("rel").isEmpty)) false
        else if (ch.tag == "meta" || ch.tag == "base" || ch.tag == "title" && depth > 1) true
        else {
          val prot = inProtected || ch.tag == "article" || ch.tag == "main"
          val sc = naiveScore(ch)
          val drop = !prot && Set("div", "section", "ul", "table").contains(ch.tag) &&
            sc.textChars > 0 && Boilerplate.boilerplateScore(sc, depth) > 0.6
          if (drop) dropped += 1 else walk(ch, depth + 1, prot)
          !drop
        }
      }
      n.children.clear()
      n.children ++= kept
    }
    walk(root, 0, inProtected = false)
    dropped
  }

  private def dump(n: Node): String =
    if (n.isText) s"[${n.text}]"
    else s"<${n.tag} ${n.attrs.toSeq.sorted.mkString(",")}>${n.children.map(dump).mkString}</${n.tag}>"

  private val soupGen: Gen[String] = Gen.listOf(Gen.frequency(
    (4, Gen.oneOf("div", "div", "section", "ul", "li", "table", "tr", "td", "a", "a", "p",
      "span", "article", "main", "nav", "script", "meta", "title", "base").map(t => s"<$t>")),
    (1, Gen.oneOf("<link rel=\"stylesheet\">", "<link rel=\"preload\">", "<link>")),
    (3, Gen.oneOf("div", "section", "ul", "li", "table", "a", "p", "article", "main")
      .map(t => s"</$t>")),
    (4, Gen.oneOf("menu", "home", " ", "contact us",
      "the plant inspection covered every guard rail on the second floor"))))
    .map(_.mkString)

  test("P9: one-pass Boilerplate.clean keeps exactly what a naive re-score keeps") {
    var drops = 0
    forAll(soupGen, 400) { html =>
      val expected = HtmlParser.parse(html)
      drops += naiveClean(expected)
      assert(dump(Boilerplate.clean(HtmlParser.parse(html))) == dump(expected), html)
    }
    assert(drops > 20, s"the soup exercised the density rule only $drops times")
  }

  test("P7: universal fallback never throws and always yields a span") {
    val gen = Gen.listOfN(400, Gen.frequency(
      (4, Gen.alphaNumChar),
      (2, Gen.const(' ')),
      (2, Gen.choose(0.toChar, 31.toChar)),
      (1, Gen.choose(128.toChar, 0x2FFF.toChar)))).map(_.mkString)
    (0 until 200).foreach { i =>
      val content = gen(Gen.Parameters.default, Seed(i.toLong)).get
      val spans = graft.extract.UniversalFallback.extract(s"f$i", content)
      assert(spans.nonEmpty, s"no span for seed $i")
      assert(spans.forall(_.text.nonEmpty))
    }
  }
}
