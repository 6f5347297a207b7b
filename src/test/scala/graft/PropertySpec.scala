package graft

import graft.extract.{ContentFlagsScan, Core8Extractor, PatternBank, Scan}
import graft.html.{Boilerplate, HtmlExtractor, HtmlParser}
import graft.html.HtmlParser.Node
import graft.classify.Classifier
import graft.matching.{AhoCorasick, Corpora, CorpusBundle}
import graft.model.{CanonicalEntity, ContentFlags, EntityMention, Mention, PdfBlock, Span, SpanKinds}
import graft.normalize.Normalizer
import graft.pdf.PdfExtractor
import graft.pipeline.ExtractionPipeline
import graft.sources.DocGen
import graft.textops.TextOps
import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Property tests for the engine's core invariants (SURVEY.md §5):
  * span offsets strictly monotone, entity spans in-bounds and
  * non-overlapping after dedup (E17 semantics), pipeline totality over
  * arbitrary input, extractor determinism. Uses raw ScalaCheck Gens with
  * a fixed seed (no scalatestplus bridge in the offline cache) — 200
  * deterministic samples per property.
  */
class PropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  // only P13 and P14 (to read the sf0.001 documents) run Spark
  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

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

  private def dump(n: Node): String = dump(n, _ => true)

  private def dump(n: Node, keep: String => Boolean): String =
    if (n.isText) s"[${n.text}]"
    else s"<${n.tag} ${n.attrs.filter(a => keep(a._1)).toSeq.sorted.mkString(",")}>" +
      s"${n.children.map(dump(_, keep)).mkString}</${n.tag}>"

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

  // P10's reference: the canonicalizer as it was before each mention was
  // keyed once. Every (mention, group) pair recomputes both sides' forms.
  private val refIdPrefix: Map[String, String] = Map(
    "PERSON" -> "p", "ORG" -> "o", "GPE" -> "g", "LOC" -> "l",
    "DATE" -> "d", "TIME" -> "t", "MONEY" -> "m", "MEASUREMENT" -> "ms",
    "PHONE" -> "ph", "EMAIL" -> "em", "URL" -> "ur", "REGULATION" -> "rg")
  private val refLegalSuffixNorm = Map(
    "incorporated" -> "Inc", "inc" -> "Inc", "inc." -> "Inc",
    "corporation" -> "Corp", "corp" -> "Corp", "corp." -> "Corp",
    "limited" -> "Ltd", "ltd" -> "Ltd", "ltd." -> "Ltd",
    "llc" -> "LLC", "llp" -> "LLP", "company" -> "Co", "co." -> "Co")

  private def refSameOrg(a: String, b: String): Boolean = {
    def core(s: String) = {
      val t = Normalizer.normalizeOrgName(s).toLowerCase
      refLegalSuffixNorm.keysIterator.foldLeft(t)((acc, suf) => acc.stripSuffix(" " + suf))
        .stripSuffix(" inc").stripSuffix(" corp").stripSuffix(" ltd").stripSuffix(" co").trim
    }
    core(a) == core(b) || Normalizer.trigramSimilarity(a, b) >= 0.6
  }

  private def refNormalizedFormOf(tpe: String, value: String): String = tpe match {
    case "DATE" => Normalizer.normalizeDate(value)._1
    case "TIME" => Normalizer.normalizeTime(value)
    case "MONEY" => Normalizer.normalizeMoney(value)._1
    case "MEASUREMENT" => Normalizer.normalizeMeasurement(value)._1
    case "PHONE" => Normalizer.normalizePhone(value)
    case "ORG" => Normalizer.normalizeOrgName(value)
    case "PERSON" => Normalizer.cleanPersonName(value)
    case "EMAIL" | "URL" => value.toLowerCase
    case _ => value
  }

  private def pairwiseCanonicalize(entities: Seq[EntityMention]): Seq[CanonicalEntity] = {
    import Normalizer.{canonicalPersonForm, cleanPersonName, normalizeOrgName, sameperson}
    val out = new ArrayBuffer[CanonicalEntity]
    entities.groupBy(_.`type`).toSeq.sortBy(_._1).foreach { case (tpe, ents) =>
      val ordered = ents.sortBy(_.start)
      val groups = new ArrayBuffer[ArrayBuffer[EntityMention]]
      ordered.foreach { e =>
        val g = groups.find { grp =>
          tpe match {
            case "PERSON" =>
              sameperson(cleanPersonName(grp.head.value), cleanPersonName(e.value))
            case "ORG" => refSameOrg(grp.head.value, e.value)
            case _ =>
              refNormalizedFormOf(tpe, grp.head.value) == refNormalizedFormOf(tpe, e.value)
          }
        }
        g match {
          case Some(grp) => grp += e
          case None => groups += ArrayBuffer(e)
        }
      }
      val prefix = refIdPrefix.getOrElse(tpe, tpe.toLowerCase.take(2))
      groups.zipWithIndex.foreach { case (grp, gi) =>
        val variants = grp.map(_.value).distinct.toSeq
        val normalized = tpe match {
          case "PERSON" => canonicalPersonForm(variants.map(cleanPersonName))
          case "ORG" => normalizeOrgName(variants.maxBy(_.length))
          case _ => refNormalizedFormOf(tpe, grp.head.value)
        }
        out += CanonicalEntity(
          id = f"$prefix${gi + 1}%03d",
          `type` = tpe,
          normalized = normalized,
          aliases = variants,
          count = grp.length,
          mentions = grp.map(e => Mention(e.text, e.start, e.end)).toSeq)
      }
    }
    out.toSeq
  }

  // mention values per type: fixed variants that group (or nearly group)
  // with each other, plus generated ones for lists that reach the caps
  private def valueGen(tpe: String): Gen[String] = {
    val fixed = tpe match {
      case "PERSON" => Seq("John Smith", "Mr. Smith", "John A. Smith", "J. Smith", "Smith",
        "Jane Garcia", "Dr. Jane Garcia", "Garcia", "Jon Smyth", "M. Lopez", "Robert Brown Jr.")
      case "ORG" => Seq("Acme Corp", "Acme Corporation", "Acme Inc", "Acme Co.", "ACME LTD",
        "OSHA", "osha", "Occupational Safety and Health Administration", "EPA",
        "Birchwood Holdings LLC", "Birchwood Holdings", "Birchwood Holding Co")
      case "GPE" => Seq("Chicago", "chicago", "Texas")
      case "LOC" => Seq("Lake Michigan", "lake michigan")
      case "DATE" => Seq("March 15, 2024", "2024-03-15", "3/15/2024", "15 March 2024",
        "March 15", "01/02/03", "Jan 2, 2003", "May")
      case "TIME" => Seq("2:30 PM", "14:30", "2:30 pm", "12:05 am", "9 AM", "noon")
      case "MONEY" => Seq("$2.5M", "$2,500,000", "$500", "3 billion dollars", "€1,000", "$500.00")
      case "MEASUREMENT" => Seq("6 feet", "72 inches", "30-37 inches", "10 lbs", "4.536 kg", "45 db")
      case "PHONE" => Seq("(555) 123-4567", "555.123.4567", "+1 555 123 4567", "911")
      case "EMAIL" => Seq("Safety@Acme.com", "safety@acme.com", "info@x.org")
      case "URL" => Seq("https://X.com/a", "https://x.com/a", "https://y.org")
      case _ => Seq("29 CFR 1910.95", "29 C.F.R. 1910.95", "40 CFR 261")
    }
    val generated: Gen[String] = tpe match {
      case "PERSON" => for {
        f <- Gen.oneOf("John", "J.", "Jane", "Mr.", "Dr.", "Maria")
        l <- Gen.oneOf("Smith", "Smyth", "Garcia", "Lopez", "Brown", "Browne")
      } yield s"$f $l"
      case "ORG" => for {
        n <- Gen.oneOf("Acme", "Birchwood", "Acme Holdings", "Apex")
        suf <- Gen.oneOf("Corp", "Corporation", "Inc", "LLC", "Co.", "Company", "Group")
      } yield s"$n $suf"
      case "DATE" => Gen.choose(1, 28).map(d => if (d % 2 == 0) s"March $d, 2024" else f"2024-03-$d%02d")
      case "MONEY" => Gen.choose(1, 60).map(n => if (n % 3 == 0) s"$$${n}k" else s"$$${n * 1000}")
      case "MEASUREMENT" => Gen.choose(1, 60).map(n => if (n % 4 == 0) s"$n inches" else s"$n feet")
      case _ => Gen.oneOf(fixed)
    }
    Gen.frequency((1, Gen.oneOf(fixed)), (1, generated))
  }

  private val mentionTypes = Seq("PERSON", "ORG", "GPE", "LOC", "DATE", "TIME", "MONEY",
    "MEASUREMENT", "PHONE", "EMAIL", "URL", "REGULATION")

  private def mentionGen(tpe: String): Gen[EntityMention] = for {
    v <- valueGen(tpe)
    start <- Gen.choose(0, 400)
  } yield EntityMention(v, v, tpe, start, start + v.length)

  private val mentionListGen: Gen[Seq[EntityMention]] = Gen.frequency(
    (3, Gen.resize(40, Gen.listOf(Gen.oneOf(mentionTypes).flatMap(mentionGen)))),
    // one type at the 50-mention cap beside a few others
    (1, for {
      tpe <- Gen.oneOf("PERSON", "ORG", "DATE", "MONEY", "MEASUREMENT")
      capped <- Gen.listOfN(50, mentionGen(tpe))
      rest <- Gen.listOfN(10, Gen.oneOf(mentionTypes).flatMap(mentionGen))
    } yield capped ++ rest))

  test("P10: canonicalize groups exactly as the pairwise canonicalizer it replaced") {
    forAll(mentionListGen, 150) { ents =>
      assert(Normalizer.canonicalize(ents) == pairwiseCanonicalize(ents), ents)
    }
  }

  // P11's references: the three overlap loops that AhoCorasick.longestFirst
  // replaced, as they were (findLongestNonOverlapping's, dedupLongestFirst's
  // and Normalizer.replaceAll's), over (start, end, id) triples
  private def acLoop[T](hits: Seq[T])(start: T => Int, end: T => Int): IndexedSeq[T] = {
    val sorted = hits.sortBy(h => (-(end(h) - start(h)), start(h)))
    val taken = new ArrayBuffer[T]
    sorted.foreach { h =>
      if (!taken.exists(t => start(h) < end(t) && start(t) < end(h))) taken += h
    }
    taken.sortBy(start).toIndexedSeq
  }

  private def dedupLoop(entities: Seq[EntityMention]): Seq[EntityMention] = {
    val sorted = entities.sortBy(e => (-(e.end - e.start), e.start))
    val seen = scala.collection.mutable.HashSet.empty[String]
    val taken = new ArrayBuffer[EntityMention]
    sorted.foreach { e =>
      val key = e.value.toLowerCase
      val overlaps = taken.exists(t => e.start < t.end && t.start < e.end)
      if (!seen.contains(key) && !overlaps) { seen += key; taken += e }
    }
    taken.sortBy(_.start).toSeq
  }

  private def replaceLoop(hits: Seq[(Int, Int, Int)]): Seq[(Int, Int, String)] = {
    val taken = new ArrayBuffer[(Int, Int, String)] // start, end, replacement
    hits.sortBy(h => (-(h._2 - h._1), h._1)).foreach { h =>
      if (!taken.exists(t => h._1 < t._2 && t._1 < h._2)) taken += ((h._1, h._2, s"r${h._3}"))
    }
    taken.sortBy(_._1).toSeq
  }

  test("P11: longestFirst keeps exactly what the three loops it replaced kept") {
    // narrow ranges, so equal lengths and equal starts tie often
    val intervals = Gen.listOf(Gen.zip(Gen.choose(0, 40), Gen.choose(1, 8)))
      .map(_.zipWithIndex.map { case ((s, len), id) => (s, s + len, id) })
    forAll(intervals) { hits =>
      val kept = AhoCorasick.longestFirst(hits)(_._1, _._2)
      assert(kept == acLoop(hits)(_._1, _._2))
      assert(kept.map(h => (h._1, h._2, s"r${h._3}")) == replaceLoop(hits))
    }
    val mentions = Gen.listOf(for {
      s <- Gen.choose(0, 40)
      len <- Gen.choose(0, 8)
      v <- Gen.oneOf("osha", "OSHA", "Acme", "acme", "x")
    } yield EntityMention(v, v, "ORG", s, s + len))
    forAll(mentions)(es => assert(Core8Extractor.dedupLongestFirst(es) == dedupLoop(es)))
    // dense runs: many short intervals over a few starts, so equal,
    // nested, abutting and zero-length ones meet at every position
    val dense = Gen.choose(20, 150).flatMap(k => Gen.listOfN(k, Gen.zip(Gen.choose(0, 12), Gen.choose(0, 3))))
      .map(_.zipWithIndex.map { case ((s, len), id) => (s, s + len, id) })
    forAll(dense) { hits =>
      val kept = AhoCorasick.longestFirst(hits)(_._1, _._2)
      assert(kept == acLoop(hits)(_._1, _._2))
      assert(kept.map(h => (h._1, h._2, s"r${h._3}")) == replaceLoop(hits))
    }
    val denseMentions = Gen.choose(20, 150).flatMap(k => Gen.listOfN(k, for {
      s <- Gen.choose(0, 12)
      len <- Gen.choose(0, 3)
      v <- Gen.oneOf("a", "A", "b", "c", "d", "e")
    } yield EntityMention(v, v, "ORG", s, s + len)))
    forAll(denseMentions)(es => assert(Core8Extractor.dedupLongestFirst(es) == dedupLoop(es)))
    val ac = AhoCorasick.build(Seq("ab", "abc", "bc", "b", "cab", "ab ab", "c"))
    forAll(Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)) { text =>
      assert(ac.findLongestNonOverlapping(text) ==
        acLoop(ac.findWholeWords(text))(_.start, _.end), text)
    }
  }

  // P12's reference: the soup grammar (`<name attrs>`, `</name>`, text)
  // fed to the tree builder as it was before open elements were counted,
  // whose every close tag scans the whole open-element stack
  private def stackScanParse(html: String): Node = {
    val root = Node.elem("#root", Map.empty)
    val stack = ArrayBuffer(root)
    def top = stack(stack.length - 1)
    def text(t: String): Unit = top.children += Node.textNode(t)
    def close(name: String): Unit = { // unmatched close tags are ignored
      var idx = -1
      var k = stack.length - 1
      while (k >= 1 && idx < 0) { if (stack(k).tag == name) idx = k; k -= 1 }
      if (idx >= 0) stack.remove(idx, stack.length - idx)
    }
    val closesP = Set(
      "p", "div", "ul", "ol", "li", "table", "h1", "h2", "h3", "h4", "h5", "h6",
      "blockquote", "pre", "section", "article", "nav", "header", "footer",
      "aside", "main", "hr", "form", "figure")
    def open(name: String, attrs: Map[String, String]): Unit = {
      if (closesP.contains(name) && top.tag == "p") stack.remove(stack.length - 1)
      if (name == "li" && top.tag == "li") stack.remove(stack.length - 1)
      if ((name == "td" || name == "th") && (top.tag == "td" || top.tag == "th"))
        stack.remove(stack.length - 1)
      if (name == "tr") {
        if (top.tag == "td" || top.tag == "th") stack.remove(stack.length - 1)
        if (top.tag == "tr") stack.remove(stack.length - 1)
      }
      val node = Node.elem(name, attrs)
      top.children += node
      if (!HtmlParser.voidElems.contains(name)) stack += node
    }
    val attrRx = "([a-z]+)=\"([^\"]*)\"".r
    var i = 0
    while (i < html.length) {
      if (html.charAt(i) == '<') {
        val gt = html.indexOf('>', i)
        val body = html.substring(i + 1, gt)
        i = gt + 1
        if (body.startsWith("/")) close(body.drop(1))
        else {
          val name = body.takeWhile(_ != ' ')
          open(name, attrRx.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap)
          if (name == "script") { // raw text up to the next </script, or to the end
            val end = html.indexOf("</script", i)
            if (end < 0) { text(html.substring(i)); close(name); i = html.length }
            else {
              if (end > i) text(html.substring(i, end))
              close(name)
              i = html.indexOf('>', end) + 1
            }
          }
        }
      } else {
        val lt = html.indexOf('<', i)
        val e = if (lt < 0) html.length else lt
        text(html.substring(i, e))
        i = e
      }
    }
    root
  }

  test("P12: counting open elements builds the tree a full stack scan builds") {
    // the soup plus runs of implied closes (`<li>` closes an open `<li>`)
    // and of close tags that match nothing, or something far down
    val recovery = Gen.oneOf("<li>", "<td>", "<th>", "<tr>", "<p>", "x",
      "</q>", "</td>", "</th>", "</tr>", "</li>", "</p>", "</span>", "</script>", "</title>")
    val chunk = Gen.oneOf(soupGen, Gen.listOf(recovery).map(_.mkString))
    forAll(Gen.listOfN(4, chunk).map(_.mkString)) { html =>
      assert(dump(HtmlParser.parse(html)) == dump(stackScanParse(html)), html)
    }
  }

  // P13's reference: the min-label loop with pointer doubling that the
  // one-task union-find replaced, round for round, over in-memory maps.
  // Each round a vertex takes the min of its own and its neighbours'
  // labels (`stepped`), then the stepped label of that label (`next`),
  // until no label changes. The Spark loop failed after 25 rounds, and a
  // 1,000-vertex chain with shuffled ids needs a few hundred, so this
  // copy runs to the fixed point.
  private def pointerDoubling(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val neighbours = (pairs ++ pairs.map(_.swap)).distinct.groupMap(_._1)(_._2)
    var labels = neighbours.keys.map(v => v -> v).toMap
    var changed = true
    while (changed) {
      val stepped = labels.map { case (v, l) => v -> neighbours(v).map(labels).foldLeft(l)(math.min) }
      val next = stepped.map { case (v, l) => v -> stepped(l) }
      changed = next != labels
      labels = next
    }
    labels
  }

  // one pair set holding, over disjoint shuffled ids (negative ones too):
  // random graphs, a chain of >= 1,000 vertices, a star and a clique, with
  // some pairs reversed, some duplicated and some self pairs added
  private val pairGraphGen: Gen[Seq[(Long, Long)]] = {
    val randomGraph = for {
      n <- Gen.choose(2, 60)
      m <- Gen.choose(1, 2 * n)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    for {
      randoms <- Gen.listOfN(8, randomGraph)
      chainN <- Gen.choose(1000, 1500)
      starN <- Gen.choose(2, 200)
      cliqueN <- Gen.choose(2, 25)
      seed <- Gen.long
    } yield {
      val shapes = randoms ++ Seq(
        (chainN, (0 until chainN - 1).map(i => (i, i + 1))),
        (starN, (1 until starN).map(i => (0, i))),
        (cliqueN, for (i <- 0 until cliqueN; j <- i + 1 until cliqueN) yield (i, j)))
      val rnd = new scala.util.Random(seed)
      val total = shapes.map(_._1).sum
      val ids = rnd.shuffle((0 until total).map(k => (k - total / 2) * 1000003L))
      val offsets = shapes.scanLeft(0)(_ + _._1)
      val pairs = shapes.zip(offsets).flatMap { case ((_, es), off) =>
        es.flatMap { case (u, v) =>
          val (a, b) = (ids(off + u), ids(off + v))
          val pair = if (rnd.nextInt(4) == 0) (b, a) else (a, b)
          if (rnd.nextInt(5) == 0) Seq(pair, pair) else Seq(pair)
        }
      }
      val selfs = Seq.fill(20)(ids(rnd.nextInt(total))).map(x => (x, x))
      rnd.shuffle(pairs ++ selfs)
    }
  }

  test("P13: one-task components equal the pointer-doubling loop they replaced") {
    val s = spark
    import s.implicits._
    forAll(pairGraphGen, 12) { pairs =>
      val expected = pointerDoubling(pairs)
      val df = pairs.toDF("a", "b")
      val comp = TextOps.groupsOf(df, "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(comp.toMap == expected)
      // groups: the same labels, each with its component's size, in id order
      val groups = TextOps.groupsOf(df, "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val sizes = expected.values.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
      assert(groups == expected.toSeq.sorted.map { case (id, l) => (id, l, sizes(l)) })
    }
  }

  // P14's reference: the eleven PatternBank patterns as the full-pass
  // `find()` extractor compiled them, byte for byte, by metric name
  private val fullPassPatterns: Seq[(String, java.util.regex.Pattern)] = {
    val months =
      "january|february|march|april|may|june|july|august|september|october|november|december|" +
      "jan|feb|mar|apr|jun|jul|aug|sep|sept|oct|nov|dec"
    val units =
      "feet|foot|ft|inches|inch|yards?|yd|miles?|mi|meters?|metres?|m|centimeters?|cm|" +
      "millimeters?|mm|kilometers?|km|pounds?|lbs?|lb|ounces?|oz|kilograms?|kg|grams?|g|" +
      "tons?|tonnes?|gallons?|gal|liters?|litres?|ml|seconds?|secs?|minutes?|mins?|" +
      "hours?|hrs?|days?|weeks?|months?|years?|decibels?|db|degrees?|°f|°c|percent|%"
    Seq(
      "date_range" -> s"(?i)\\b($months)\\.?\\s+\\d{1,2}\\s*[-–]\\s*\\d{1,2},?\\s*\\d{4}\\b",
      "date" -> (s"(?i)\\b($months)\\.?\\s+\\d{1,2}(?:st|nd|rd|th)?(?:,\\s*\\d{4})?\\b" +
        s"|\\b\\d{1,2}\\s+($months)\\.?(?:,?\\s+\\d{4})?\\b" +
        "|\\b\\d{4}-\\d{2}-\\d{2}\\b" +
        "|\\b\\d{1,2}/\\d{1,2}/\\d{2,4}\\b"),
      "time" -> ("(?i)\\b\\d{1,2}:\\d{2}(?::\\d{2})?\\s*(?:am|pm|a\\.m\\.|p\\.m\\.)?" +
        "|\\b\\d{1,2}\\s*(?:am|pm)\\b"),
      "money" -> ("(?i)[$€£¥]\\s?\\d{1,3}(?:,\\d{3})*(?:\\.\\d+)?(?:\\s?(?:k|m|bn|b|t|thousand|million|billion|trillion)\\b)?" +
        "|\\b\\d{1,3}(?:,\\d{3})*(?:\\.\\d+)?\\s*(?:dollars|cents|usd|eur|gbp)\\b"),
      "measurement_range" ->
        s"(?i)\\b\\d+(?:\\.\\d+)?\\s*(?:-|–|to|through)\\s*\\d+(?:\\.\\d+)?\\s*(?:$units)\\b",
      "measurement" -> s"(?i)\\b\\d+(?:\\.\\d+)?\\s*(?:$units)(?![a-z])",
      "phone" -> "(?:\\+1[\\s.-]?)?(?:\\(\\d{3}\\)\\s?|\\b\\d{3}[\\s.-])\\d{3}[\\s.-]\\d{4}\\b",
      "email" -> "\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b",
      "url" -> "(?i)\\bhttps?://[^\\s<>()\\[\\]{}\"']+|\\bwww\\.[^\\s<>()\\[\\]{}\"']+",
      "regulation" ->
        "\\b\\d+\\s+(?:CFR|USC|C\\.F\\.R\\.|U\\.S\\.C\\.)\\s*(?:Part\\s+)?§?\\s*\\d+(?:\\.\\d+)?(?:\\([a-z0-9]+\\))*+",
      "range_indicator" -> "(?i)\\b(?:up to|at least|no more than|between|from|to|through|thru)\\b"
    ).map { case (name, rx) => name -> java.util.regex.Pattern.compile(rx) }
  }

  private val bankPatterns: Seq[java.util.regex.Pattern] = Seq(
    PatternBank.dateRange, PatternBank.date, PatternBank.time, PatternBank.money,
    PatternBank.measurementRange, PatternBank.measurement, PatternBank.phone, PatternBank.email,
    PatternBank.url, PatternBank.regulation, PatternBank.rangeIndicator)

  private def findAll(p: java.util.regex.Pattern, t: String, tpe: String): Seq[EntityMention] = {
    val m = p.matcher(t)
    val out = new ArrayBuffer[EntityMention]
    while (m.find()) out += EntityMention(m.group(), m.group(), tpe, m.start(), m.end())
    out.toSeq
  }

  // the full-pass extractAll: every pattern a `find()` pass over the text
  private def fullPassExtractAll(t: String): Seq[EntityMention] = {
    import Core8Extractor._
    val p = fullPassPatterns.toMap
    val dateRanges = findAll(p("date_range"), t, "DATE")
    val dates = preferRanges(dateRanges, findAll(p("date"), t, "DATE"))
    val times = findAll(p("time"), t, "TIME")
      .filter(tm => !dates.exists(d => tm.start >= d.start && tm.end <= d.end))
    val moneys = findAll(p("money"), t, "MONEY")
    val measRanges = findAll(p("measurement_range"), t, "MEASUREMENT")
    val meas0 = preferRanges(measRanges, findAll(p("measurement"), t, "MEASUREMENT"))
      .filter(me => !dates.exists(d => me.start >= d.start && me.end <= d.end) &&
                    !times.exists(d => me.start >= d.start && me.end <= d.end) &&
                    !moneys.exists(d => me.start >= d.start && me.end <= d.end))
    val meas = dropParenthetical(meas0, t)
    val phones = findAll(p("phone"), t, "PHONE")
    val emails = findAll(p("email"), t, "EMAIL")
    val urls = findAll(p("url"), t, "URL")
      .filter(u => !emails.exists(e => u.start < e.end && e.start < u.end))
    val regs =
      if (t.contains("CFR") || t.contains("USC") || t.contains("C.F.R") || t.contains("U.S.C"))
        findAll(p("regulation"), t, "REGULATION")
      else Nil
    val rangeInds = findAll(p("range_indicator"), t, "RANGE_INDICATOR")
    def cap(tpe: String, es: Seq[EntityMention]) = es.take(PatternBank.caps.getOrElse(tpe, 50))
    val all =
      cap("DATE", dedupLongestFirst(dates)) ++
      cap("TIME", dedupLongestFirst(times)) ++
      cap("MONEY", dedupLongestFirst(moneys)) ++
      cap("MEASUREMENT", dedupLongestFirst(meas)) ++
      cap("PHONE", dedupLongestFirst(phones)) ++
      cap("EMAIL", dedupLongestFirst(emails)) ++
      cap("URL", dedupLongestFirst(urls)) ++
      cap("REGULATION", dedupLongestFirst(regs)) ++
      cap("RANGE_INDICATOR", dedupLongestFirst(rangeInds)) ++
      cap("PERSON", dedupLongestFirst(extractPersons(t))) ++
      cap("ORG", extractOrgs(t)) ++
      cap("GPE", extractGpe(t)) ++
      cap("LOC", extractLoc(t))
    resolveConflicts(all).sortBy(e => (e.start, e.`type`))
  }

  /** Every pattern's candidate scan reports `find()`'s (start, end) list,
    * and `extractAll` equals the full-pass extractor, on `t`.
    */
  private def assertScanEqualsFind(t: String, hits: scala.collection.mutable.Map[String, Int]): Unit = {
    val c = Scan.candidates(t, PatternBank.classes)
    bankPatterns.zip(fullPassPatterns).foreach { case (p, (name, _)) =>
      val spans = (ms: Seq[EntityMention]) => ms.map(m => (m.start, m.end))
      val found = spans(findAll(p, t, name))
      assert(spans(PatternBank.triggers(p).mentions(c, name)) == found, s"$name on ${t.take(300)}")
      hits(name) = hits.getOrElse(name, 0) + found.size
    }
    assert(Core8Extractor.extractAll(t) == fullPassExtractAll(t), t.take(300))
  }

  // pieces that start, continue or break a match of some pattern, and the
  // chars a trigger filter could misjudge: `é` (a word char to JDK 17's
  // `\b`), the Kelvin sign (folds to `k` only under Unicode case), a
  // combining acute, NUL and lone surrogates; and whole matches of each
  // pattern, so every one matches somewhere in the set
  private val triggerDense: Gen[String] = Gen.listOf(Gen.oneOf(
    "0", "1", "7", "12", "555", "2024", "1,000", "3.5", "Jan", "jan", "JANUARY", "May", "Sept",
    "sep", "ma", "Dec.", "august", "@", ".", "-", "_", "$", "€", "£", "¥", "(", ")", "+", "+1",
    "/", ":", ",", " ", "  ", "\n", "%", "–", "http", "https://", "www.", "é", "\u212a",
    "\u0301", "\u0000", "\ud800", "\udc00", "am", "pm", "p.m.", "k", "million", "dollars",
    "feet", "in", "m", "kg", "°f", "to", "up to", "at least", "no more than", "between", "from",
    "through", "thru", "CFR", "USC", "C.F.R.", "U.S.C.", "Part", "§", "a", "x", "example",
    "com", "x.org", "(555) 123-4567", "+1 555.123.4567", "555-123-4567", "jo.e@example.com",
    "Aug. 15 - 20, 2024", "15 March 2024", "2024-01-15", "3/4/24", "3:30 p.m.", "9 am",
    "$1,000.50 million", "12 usd", "29 CFR 1910.95(a)(1)", "40 U.S.C. Part 5", "30-37 inches",
    "6 feet", "http://x.org/a", "WWW.x.com")).map(_.mkString)

  // numbers next to every char class a Digit start's number may or may
  // not go on with (`Scan.numberGoesOn`), and whole matches of each
  // Digit pattern after a space
  private val numberDense: Gen[String] = Gen.listOf(Gen.oneOf(
    "1", "12", "123", "2024", "1,000", "[", "]", ")", "(", " ", "\t", "\n", "-", "–", "/", ":",
    ",", ".", "°c", "°", "%", "_", "é", "\u212a", "am", "p.m.", "usd", "k", "feet", "to", "CFR",
    "Jan", "#", "!", "*", "x", " 3/4/24", " 10:30", " 2024-01-15", " 555.123.4567", " 5 feet",
    " 6%", " 30°c", " 12 usd", " 1,000 dollars", " 9 am", " 29 CFR 1910", " 3.5 kg", " 4 - 7 m",
    " 2 March")).map(_.mkString)

  private val hostileTexts: Seq[String] = Seq(
    "a." * 1000, "a." * 1000 + "@", "a." * 1000 + "@example.com", "7" * 2000, "$" * 2000,
    "(" * 2000, "January" + " " * 2000, "1" + ",111" * 500, "1" + ",111" * 500 + " usd",
    "é1" + ",111" * 50 + " dollars", "1111,111 dollars", "1,1111,111 usd", "$1" + ",111" * 500, "[1" * 1000)

  // the sf0.001 documents as DocGen synthesizes them
  private lazy val docGenRaw: Seq[graft.model.RawDoc] = {
    val s = spark
    import s.implicits._
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .map { case (id, text) => DocGen.synthesize(id, text) }
  }

  // the sf0.001 documents through the pipeline, the successful ones
  private lazy val docGenDocs: Seq[graft.model.ExtractedDoc] =
    docGenRaw.map(ExtractionPipeline.processDoc).filter(_.success)

  test("P14: the trigger-anchored scan finds what find() finds, pattern by pattern") {
    bankPatterns.zip(fullPassPatterns).foreach { case (p, (name, full)) =>
      assert(p.pattern == full.pattern && p.flags == full.flags, s"$name changed")
    }
    val hits = scala.collection.mutable.Map.empty[String, Int]
    forAll(triggerDense)(assertScanEqualsFind(_, hits))
    info(s"matches in the random texts: ${hits.toSeq.sorted.mkString(", ")}")
    assert(fullPassPatterns.forall { case (name, _) => hits(name) > 0 }, hits)
    val numberHits = scala.collection.mutable.Map.empty[String, Int]
    forAll(numberDense)(assertScanEqualsFind(_, numberHits))
    info(s"matches in the number texts: ${numberHits.toSeq.sorted.mkString(", ")}")
    assert(Seq("date", "time", "money", "measurement", "phone").forall(numberHits.getOrElse(_, 0) > 0),
      numberHits)
    val cleanTexts = docGenDocs.map(d => Core8Extractor.cleanTextOf(d.spans.map(_.text)))
    assert(cleanTexts.size > 400)
    cleanTexts.foreach(assertScanEqualsFind(_, hits))
    hostileTexts.foreach(assertScanEqualsFind(_, hits))
  }

  // P14's clean and flags reference: cleanFormatting's replaceAll chain
  // and ContentFlagsScan's three find() passes as the full-pass code ran
  // them, byte for byte
  private object fullPassMarkdown {
    private val imageLink = java.util.regex.Pattern.compile("!\\[([^\\]]*)\\]\\(([^)]*)\\)")
    private val link = java.util.regex.Pattern.compile("\\[([^\\]]*)\\]\\(([^)]*)\\)")
    private val emphasis = java.util.regex.Pattern.compile("(?<![\\w*])\\*([^*\\n]+)\\*(?![\\w*])")
    private val heading = java.util.regex.Pattern.compile("(?m)^#{1,6}\\s+")
    private val quote = java.util.regex.Pattern.compile("(?m)^>\\s+")

    def cleanFormatting(text: String): String = {
      var t = text
      t = imageLink.matcher(t).replaceAll("$1")
      t = link.matcher(t).replaceAll("$1")
      t = t.replace("**", "").replace("__", "")
      t = emphasis.matcher(t).replaceAll("$1")
      t = t.replace("`", "")
      t = heading.matcher(t).replaceAll("")
      t = quote.matcher(t).replaceAll("")
      t
    }

    private val citationRx = java.util.regex.Pattern.compile(
      "\\(\\d{4}\\)|\\bet al\\.|\\[\\d+\\]")
    private val footnoteRx = java.util.regex.Pattern.compile(
      "\\[\\^\\d+\\]|(?m)^\\s*\\d+\\.\\s+(?:see|cf\\.|ibid)", java.util.regex.Pattern.CASE_INSENSITIVE)
    private val kvRx = java.util.regex.Pattern.compile("(?m)^[A-Za-z ]{2,30}:\\s+\\S")

    def scan(spans: Seq[Span]): ContentFlags = {
      import graft.model.{SpanKinds => K}
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
        if (!citations && citationRx.matcher(t).find()) citations = true
        if (!footnotes && footnoteRx.matcher(t).find()) footnotes = true
        val kv = kvRx.matcher(t)
        while (kv.find()) kvLines += 1
      }
      val structured = tables || kvLines >= 3
      ContentFlags(tables, images, formulas, code, links, lists, headers,
        footnotes, citations, structured)
    }
  }

  // the trigger chars of the clean and flags patterns, line terminators,
  // spaces, digits and letters, and whole matches of each pattern
  private val markdownDense: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.oneOf("[", "]", "(", ")", "!", "*", "#", ">", ":", "^", "\n", "\r", "\r\n", " ", "  ",
      "\t", "\u000b", "\u2028", "\u0085", "0", "1", "12", "2024", "a", "x", "e", "_", "é", "ab",
      "Key", "Name Here", "see", "cf.", "ibid", "et al.", "**", "__", "`", "##"),
    1 -> Gen.oneOf("![alt](img.png)", "[text](http://x.org)", "[a](", "*em*", "\n# H", "\n> q",
      "[^1]", "(2024)", "[12]", "\n1. see", "\n2.  Ibid", "\nKey: value", "\nName Here:  x"))
  ).map(_.mkString)

  private val markdownHostile: Seq[String] = Seq(
    "[1" * 1000, "[" * 1998 + "]x", "![" * 1000, "[a](" * 500, "[a]" * 500, "![a](" * 400,
    "*a" * 1000, "\n" * 2000, " \n" * 1000, "\r\n" * 1000, "\n" * 2000 + "1. see",
    "#\n" * 1000, ">\n" * 1000, "ab:\n" * 1000, "1.\n" * 1000, "x\n\n[^1]",
    "x\r\n 1. see", "x\r\n\r\n2. cf.", "x\u2028 1. ibid", "[a]" * 50 + "(b)", "![a]" * 50 + "(b)")

  test("P14: the trigger scan cleans and flags text as the replaceAll and find() passes did") {
    val hits = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def check(spans: Seq[Span]): Unit = {
      val flags = ContentFlagsScan.scan(spans)
      val expected = fullPassMarkdown.scan(spans)
      assert(flags == expected, spans.map(_.text.take(300)))
      if (expected.has_citations) hits("citations") += 1
      if (expected.has_footnotes) hits("footnotes") += 1
      if (expected.has_structured_data) hits("structured") += 1
      val md = spans.map(_.text).mkString("\n")
      val clean = fullPassMarkdown.cleanFormatting(md)
      assert(Core8Extractor.cleanFormatting(md) == clean, md.take(300))
      if (clean != md) hits("cleaned") += 1
    }
    val texts = Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, markdownDense))
    forAll(texts)(ts => check(ts.map(t => Span(SpanKinds.Text, t, "", 0))))
    info(s"random texts: ${hits.toSeq.sorted.mkString(", ")}")
    assert(Seq("citations", "footnotes", "structured", "cleaned").forall(hits(_) > 20), hits)
    assert(docGenDocs.size > 400)
    docGenDocs.foreach(d => check(d.spans))
    markdownHostile.foreach(t => check(Seq(Span(SpanKinds.Text, t, "", 0))))
  }

  // P15's references: splitSentences, extractPersons, the per-sentence
  // extractOrgs, extractGazetteer and Classifier.classify (with its
  // scoreFamily and keywordIndex) as they ran before the one dictionary
  // scan and the one word pass, byte for byte, over automatons of their
  // own built from `b`; P11's loops stand in for the overlap resolver
  private final class PerSentence(b: CorpusBundle) {
    private val orgAc = AhoCorasick.build(b.orgs.toSeq.sorted)
    private val gpeAc = AhoCorasick.build(b.gpe.keys.toSeq.sorted)
    private val locAc = AhoCorasick.build(b.loc.keys.toSeq.sorted)
    private def findLongestNonOverlapping(ac: AhoCorasick, text: String) =
      acLoop(ac.findWholeWords(text))(_.start, _.end)
    private def dedupLongestFirst(es: Seq[EntityMention]) = dedupLoop(es)
    private val wordRx = java.util.regex.Pattern.compile("[A-Za-z][A-Za-z.'-]*")

    def splitSentences(text: String): Seq[(String, Int)] = {
      val out = new ArrayBuffer[(String, Int)]
      var start = 0
      var i = 0
      val n = text.length
      while (i < n) {
        val c = text.charAt(i)
        if ((c == '.' || c == '!' || c == '?') &&
            (i + 1 >= n || Character.isWhitespace(text.charAt(i + 1)))) {
          val s = text.substring(start, i + 1)
          if (s.trim.length >= 5) out += ((s, start))
          start = i + 1
          while (start < n && Character.isWhitespace(text.charAt(start))) start = start + 1
          i = start
        } else if (c == '\n' && i + 1 < n && text.charAt(i + 1) == '\n') {
          val s = text.substring(start, i)
          if (s.trim.length >= 5) out += ((s, start))
          start = i + 1
          i += 1
        } else i += 1
      }
      if (start < n) {
        val s = text.substring(start)
        if (s.trim.length >= 5) out += ((s, start))
      }
      out.toSeq
    }

    def extractPersons(text: String): Seq[EntityMention] = {
      // tokenize words with offsets
      val m = wordRx.matcher(text)
      val toks = new ArrayBuffer[(String, Int, Int)]
      while (m.find()) toks += ((m.group(), m.start(), m.end()))
      val out = new ArrayBuffer[EntityMention]
      var i = 0
      def isCap(w: String): Boolean =
        w.length >= 2 && Character.isUpperCase(w.charAt(0)) &&
          w.drop(1).forall(c => Character.isLowerCase(c) || c == '\'' || c == '-')
      def isInitial(w: String): Boolean =
        (w.length == 2 && Character.isUpperCase(w.charAt(0)) && w.charAt(1) == '.') ||
        (w.length == 1 && Character.isUpperCase(w.charAt(0)))
      def stripDot(w: String): String = w.stripSuffix(".")
      while (i < toks.length && out.length < PatternBank.caps("PERSON")) {
        val (w, ws, _) = toks(i)
        val titleHere = Corpora.personTitles.contains(stripDot(w).toLowerCase)
        val startIdx = if (titleHere && i + 1 < toks.length) i + 1 else i
        val (w0, _, _) = toks(startIdx)
        if (isCap(w0) && !Corpora.personBlacklist.contains(w0.toLowerCase)) {
          // gather run of capitalized words / initials (max 4)
          var j = startIdx
          val run = new ArrayBuffer[Int]
          var blacklisted = false
          while (j < toks.length && run.length < 4 &&
                 (isCap(toks(j)._1) || (run.nonEmpty && isInitial(toks(j)._1))) &&
                 // adjacency: next token must start within 2 chars of prev end
                 (run.isEmpty || toks(j)._2 - toks(run.last)._3 <= 2)) {
            if (Corpora.personBlacklist.contains(toks(j)._1.toLowerCase)) blacklisted = true
            run += j
            j += 1
          }
          // optional suffix (Jr., III, PhD)
          var suffix = false
          if (run.nonEmpty && j < toks.length &&
              Corpora.personSuffixes.contains(stripDot(toks(j)._1).toLowerCase) &&
              toks(j)._2 - toks(run.last)._3 <= 2) {
            run += j; suffix = true; j += 1
          }
          val nameToks = run.map(toks(_))
          val fullWords = nameToks.filter { case (t, _, _) => isCap(t) }
          if (!blacklisted && fullWords.length >= 2 ||
              (!blacklisted && titleHere && fullWords.length >= 1)) {
            var conf = 0.0
            val first = fullWords.head._1.toLowerCase
            val last = fullWords.last._1.toLowerCase
            if (Corpora.firstNames.contains(first)) conf += 0.4
            if (Corpora.lastNames.contains(last)) conf += 0.4
            if (titleHere) conf += 0.3
            if (suffix) conf += 0.2
            if (fullWords.length >= 2) conf += 0.1
            if (conf >= 0.7) {
              val s = if (titleHere) ws else nameToks.head._2
              val e = nameToks.last._3
              val t = text.substring(s, e)
              out += EntityMention(t, t, "PERSON", s, e)
              i = j
            } else i += 1
          } else i += 1
        } else i += 1
      }
      out.toSeq
    }

    def extractOrgs(text: String): Seq[EntityMention] = {
      val out = new ArrayBuffer[EntityMention]
      splitSentences(text).foreach { case (sentence, sentStart) =>
        // corpus matches
        findLongestNonOverlapping(orgAc, sentence).foreach { h =>
          val t = sentence.substring(h.start, h.end)
          if (t.length >= 4 && !Corpora.orgStoplist.contains(t.toLowerCase))
            out += EntityMention(t, t, "ORG", sentStart + h.start, sentStart + h.end)
        }
        // suffix-cued capitalized runs: "Birchwood Holdings LLC"
        val m = wordRx.matcher(sentence)
        val toks = new ArrayBuffer[(String, Int, Int)]
        while (m.find()) toks += ((m.group(), m.start(), m.end()))
        var i = 0
        while (i < toks.length) {
          val (w, _, _) = toks(i)
          if (Corpora.orgSuffixes.contains(w.toLowerCase.stripSuffix(".")) ||
              Corpora.orgSuffixes.contains(w.toLowerCase)) {
            // walk back over capitalized words
            var k = i - 1
            while (k >= 0 && Character.isUpperCase(toks(k)._1.charAt(0)) &&
                   !Corpora.orgStoplist.contains(toks(k)._1.toLowerCase) &&
                   toks(k + 1)._2 - toks(k)._3 <= 2 && i - k < 5) k -= 1
            if (k < i - 1 && Character.isUpperCase(w.charAt(0))) {
              val s = toks(k + 1)._2
              val e = toks(i)._3
              val t = sentence.substring(s, e)
              if (t.length >= 4 && !Corpora.orgStoplist.contains(t.toLowerCase))
                out += EntityMention(t, t, "ORG", sentStart + s, sentStart + e)
            }
          }
          i += 1
        }
      }
      dedupLongestFirst(out.toSeq)
    }

    private def extractGazetteer(text: String, ac: AhoCorasick, tpe: String): Seq[EntityMention] = {
      val hits = findLongestNonOverlapping(ac, text)
      val ents = hits.collect {
        case h if h.end - h.start > 2 =>
          val t = text.substring(h.start, h.end)
          EntityMention(t, t, tpe, h.start, h.end)
      }
      dedupLongestFirst(ents)
    }

    def extractGpe(text: String): Seq[EntityMention] = extractGazetteer(text, gpeAc, "GPE")
    def extractLoc(text: String): Seq[EntityMention] = extractGazetteer(text, locAc, "LOC")

    private def keywordIndex(sets: Map[String, Map[String, Double]])
        : (Seq[String], Map[String, Seq[(String, Double)]]) = {
      val all = sets.valuesIterator.flatMap(_.keysIterator).toSeq.distinct.sorted
      val byKeyword = all.map { kw =>
        kw -> sets.toSeq.sortBy(_._1).collect {
          case (dom, kws) if kws.contains(kw) => (dom, kws(kw))
        }
      }.toMap
      (all, byKeyword)
    }

    private val (domainPatterns, domainByKw) = keywordIndex(Corpora.domainKeywords)
    private val (doctypePatterns, doctypeByKw) = keywordIndex(Corpora.doctypeKeywords)
    private val domainAc = AhoCorasick.build(domainPatterns)
    private val doctypeAc = AhoCorasick.build(doctypePatterns)

    private def scoreFamily(
        text: String,
        ac: AhoCorasick,
        byKw: Map[String, Seq[(String, Double)]],
        default: String): Map[String, Double] = {
      val hits = ac.findWholeWords(text)
      if (hits.isEmpty) return Map(default -> 100.0)
      val raw = scala.collection.mutable.HashMap.empty[String, Double]
      hits.foreach { h =>
        byKw.getOrElse(h.pattern, Nil).foreach { case (dom, kwWeight) =>
          raw(dom) = raw.getOrElse(dom, 0.0) + kwWeight
        }
      }
      val total = raw.valuesIterator.sum
      if (total <= 0.0) return Map(default -> 100.0)
      val sorted = raw.toSeq.sortBy { case (d, s) => (-s, d) }
      val out = scala.collection.immutable.ListMap.newBuilder[String, Double]
      sorted.foreach { case (d, s) => out += d -> math.rint(s / total * 10000) / 100.0 }
      out.result()
    }

    def classify(text: String): Classifier.Classification = {
      val domains = scoreFamily(text, domainAc, domainByKw, "general")
      val doctypes = scoreFamily(text, doctypeAc, doctypeByKw, "document")
      val (pd, pdc) = domains.head
      val (pt, _) = doctypes.head
      Classifier.Classification(
        domains, pd, pdc, doctypes, pt,
        skipEntityExtraction = pdc < 5.0,
        enableDeepDomainExtraction = pdc >= 60.0)
    }
  }

  // an ORG name that a `. ` split cuts (the per-sentence scan never saw
  // it whole) and a four-letter one that fits a dropped short sentence
  private val p15Bundle = Corpora.builtIn.copy(version = "p15",
    orgs = Corpora.builtIn.orgs ++ Set("u.s. steel", "nasa"))

  // corpus names in three cases, names, titles and suffixes, capitalized
  // and stoplisted words, keywords, names glued to `é` and `_`, each
  // piece followed by a space, nothing, a sentence split or a newline
  private val dictionaryDense: Gen[String] = {
    val b = p15Bundle
    def cased(names: Iterable[String]) = names.toSeq.sorted.flatMap { n =>
      Seq(n, n.split(' ').map(_.capitalize).mkString(" "), n.toUpperCase)
    }
    val names = cased(b.orgs) ++ cased(b.gpe.keys) ++ cased(b.loc.keys)
    val people = Seq("John", "Jane", "Smith", "Garcia", "Sarah", "Johnson", "Zofia", "J.", "A",
      "Dr.", "Mr", "Prof.", "President", "Jr.", "III", "PhD", "John Smith", "Dr. Sarah Johnson",
      "Jane Garcia Jr.")
    val orgWords = Seq("Acme", "Birchwood", "Holdings", "LLC", "Inc.", "Inc", "Corp.", "Co", "Co.",
      "Group", "Labs", "University", "The", "Table", "Chief", "North", "Safety", "Report", "O'Neil",
      "Smith-Jones", "U.S.", "Steel", "NASA", "nasa")
    val keywords = (Corpora.domainKeywords.values ++ Corpora.doctypeKeywords.values)
      .flatMap(_.keys).toSeq.sorted
    val glued = Seq("é", "_", "éChicago", "Chicago_", "_Acme Corporation", "Texasé", "U.S. Steel",
      "NASA\n\n", "X Co\n\n", "Hi. ", "Go!", "word", "and", "of", "1", "-", "'")
    val piece = Gen.frequency(4 -> Gen.oneOf(names), 3 -> Gen.oneOf(people), 3 -> Gen.oneOf(orgWords),
      2 -> Gen.oneOf(keywords), 2 -> Gen.oneOf(glued))
    val sep = Gen.frequency(8 -> Gen.const(" "), 2 -> Gen.const(""), 2 -> Gen.const(". "),
      1 -> Gen.const("! "), 1 -> Gen.const("? "), 1 -> Gen.const("\n\n"), 1 -> Gen.const("\n"),
      1 -> Gen.const(", "), 1 -> Gen.const(".\n\n"), 1 -> Gen.const("  "))
    Gen.listOf(Gen.zip(piece, sep).map { case (p, s) => p + s }).map(_.mkString)
  }

  private val dictionaryHostile: Seq[String] = Seq(
    "Chicago " * 250, "acme corporation " * 120, "Acme Holdings LLC " * 110, "John Smith " * 180,
    "U.S. Steel " * 180, "NASA\n\n" * 300, "Acme. Holdings LLC " * 100, "Chicago" * 280)

  /** Each entity function, the sentence split and the classification of
    * `t` equal the per-sentence reference's; extractAll equals the
    * full-pass extractor (which calls the four entity functions).
    */
  private def assertOneScanEqualsPerSentence(ref: PerSentence, t: String,
      hits: scala.collection.mutable.Map[String, Int]): Unit = {
    val clip = t.take(300)
    assert(Core8Extractor.splitSentences(t) == ref.splitSentences(t), clip)
    val persons = ref.extractPersons(t)
    assert(Core8Extractor.extractPersons(t) == persons, clip)
    val orgs = ref.extractOrgs(t)
    assert(Core8Extractor.extractOrgs(t) == orgs, clip)
    val gpes = ref.extractGpe(t)
    assert(Core8Extractor.extractGpe(t) == gpes, clip)
    val locs = ref.extractLoc(t)
    assert(Core8Extractor.extractLoc(t) == locs, clip)
    val c = ref.classify(t)
    val got = Classifier.classify(t)
    assert(got == c && got.domains.toSeq == c.domains.toSeq && got.docTypes.toSeq == c.docTypes.toSeq, clip)
    assert(Core8Extractor.extractAll(t) == fullPassExtractAll(t), clip)
    Seq("persons" -> persons, "orgs" -> orgs, "gpe" -> gpes, "loc" -> locs).foreach {
      case (k, es) => hits(k) += es.size
    }
    if (c.primaryDomain != "general") hits("domain") += 1
    if (c.primaryDocType != "document") hits("doctype") += 1
  }

  test("P15: one dictionary scan and one word pass extract and classify as the per-sentence scans did") {
    val cleanTexts = docGenDocs.map(d => Core8Extractor.cleanTextOf(d.spans.map(_.text)))
    assert(cleanTexts.size > 400)
    val hits = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    try {
      Corpora.install(p15Bundle)
      val ref = new PerSentence(p15Bundle)
      forAll(dictionaryDense)(assertOneScanEqualsPerSentence(ref, _, hits))
      info(s"entities in the random texts: ${hits.toSeq.sorted.mkString(", ")}")
      assert(Seq("persons", "orgs", "gpe", "loc", "domain", "doctype").forall(hits(_) > 20), hits)
      dictionaryHostile.foreach(assertOneScanEqualsPerSentence(ref, _, hits))
    } finally Corpora.reset()
    val ref = new PerSentence(Corpora.builtIn)
    (cleanTexts ++ hostileTexts ++ dictionaryHostile).foreach(assertOneScanEqualsPerSentence(ref, _, hits))
  }

  // P16's reference: `HtmlParser.parse` as it was before the one-substring
  // lexer, verbatim but for `tagName`, whose interning of known names
  // cannot change a dumped tree. Its lexer appends text char by char,
  // builds every tag name and keeps every attribute.
  private def charLexerParse(s: String): Node = {
    val rawTextElems = Set("script", "style", "noscript", "textarea")
    val closesP = Set(
      "p", "div", "ul", "ol", "li", "table", "h1", "h2", "h3", "h4", "h5", "h6",
      "blockquote", "pre", "section", "article", "nav", "header", "footer",
      "aside", "main", "hr", "form", "figure")
    def tagName(nm: java.lang.StringBuilder): String = nm.toString
    def isNameChar(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
    val root = Node.elem("#root", Map.empty)
    val stack = new ArrayBuffer[Node]
    stack += root
    val openCount = new java.util.HashMap[String, scala.runtime.IntRef]
    val counts = new ArrayBuffer[scala.runtime.IntRef]
    val none = new scala.runtime.IntRef(0)
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
      if (!selfClosing && !HtmlParser.voidElems.contains(name)) {
        var count = openCount.get(name)
        if (count == null) { count = new scala.runtime.IntRef(0); openCount.put(name, count) }
        count.elem += 1
        stack += node
        counts += count
      }
    }

    val n = s.length
    var i = 0
    val pending = new java.lang.StringBuilder
    def flushText(): Unit = {
      if (pending.length > 0) { text(pending.toString); pending.setLength(0) }
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = s.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (s.startsWith("<!--", i)) {
            val e = s.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else { // doctype / CDATA — skip to '>'
            val e = s.indexOf('>', i + 2)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') { // processing instruction
          flushText()
          val e = s.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
        } else if (c1 == '/') {
          flushText()
          var j = i + 2
          val nm = new java.lang.StringBuilder
          while (j < n && isNameChar(s.charAt(j))) { nm.append(Character.toLowerCase(s.charAt(j))); j += 1 }
          val e = s.indexOf('>', j)
          if (nm.length > 0) close(tagName(nm))
          i = if (e < 0) n else e + 1
        } else if (Character.isLetter(c1)) {
          flushText()
          var j = i + 1
          val nm = new java.lang.StringBuilder
          while (j < n && isNameChar(s.charAt(j))) { nm.append(Character.toLowerCase(s.charAt(j))); j += 1 }
          val name = tagName(nm)
          // attributes
          var attrs = Map.empty[String, String]
          var selfClosing = false
          var done = false
          while (!done && j < n) {
            while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
            if (j >= n) done = true
            else if (s.charAt(j) == '>') { j += 1; done = true }
            else if (s.charAt(j) == '/' ) {
              if (j + 1 < n && s.charAt(j + 1) == '>') { selfClosing = true; j += 2; done = true }
              else j += 1
            } else {
              // attribute name
              val an = new java.lang.StringBuilder
              while (j < n && !Character.isWhitespace(s.charAt(j)) &&
                     s.charAt(j) != '=' && s.charAt(j) != '>' && s.charAt(j) != '/') {
                an.append(Character.toLowerCase(s.charAt(j))); j += 1
              }
              while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
              var av = ""
              if (j < n && s.charAt(j) == '=') {
                j += 1
                while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
                if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
                  val q = s.charAt(j); j += 1
                  val vb = new java.lang.StringBuilder
                  while (j < n && s.charAt(j) != q) { vb.append(s.charAt(j)); j += 1 }
                  if (j < n) j += 1 // closing quote
                  av = vb.toString
                } else {
                  val vb = new java.lang.StringBuilder
                  while (j < n && !Character.isWhitespace(s.charAt(j)) && s.charAt(j) != '>') {
                    vb.append(s.charAt(j)); j += 1
                  }
                  av = vb.toString
                }
              }
              if (an.length > 0 && !attrs.contains(an.toString))
                attrs = attrs.updated(an.toString, graft.html.Entities.unescape(av))
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
        } else { // '<' followed by non-tag char: literal text
          pending.append(c); i += 1
        }
      } else {
        pending.append(c); i += 1
      }
    }
    flushText()
    root
  }

  // Tag soup for P16: open tags with runs of attributes (quoted, unquoted,
  // unterminated, duplicate, upper-case, `=`-first, with entities), close
  // tags, comments, declarations, processing instructions, bare `<`s and
  // text, ending anywhere; after `<` only ASCII, as HtmlExtractorSpec
  // covers `<` before a non-ASCII letter
  private val lexerSoupGen: Gen[String] = {
    val attr = Gen.oneOf(" href=\"/a?x=1&amp;y=2\"", " HREF='/B'", " src=x.png", " Src = 'sp aced'",
      " alt=\"AT&amp;T &lt;3 &#x41;&#66;\"", " alt=\"unterminated", " alt='a>b'", " rel=stylesheet",
      " rel=\"a\" rel=\"b\"", " href", " href=", " href= >", " =v", " =\"q\"", " \"q\"=1", " a/b=c",
      " class=\"c d\" id=i", " data-x=&quot;", " REL=Preload", " /", "\t", " sRc=\"&bogus; &#1114112;\"")
    val open = for {
      t <- Gen.oneOf("a", "img", "link", "DIV", "p", "Span", "li", "td", "tr", "x-y", "h1", "base",
        "br", "script", "STYLE", "textarea", "noscript", "custom:tag", "Z9")
      as <- Gen.listOf(attr)
      end <- Gen.oneOf(">", "/>", " >", "")
    } yield s"<$t${as.mkString}$end"
    val close = Gen.oneOf("a", "div", "p", "span", "li", "td", "script", "Style", "x-y", "zz").map(t => s"</$t>")
    val other = Gen.oneOf("<!-- c -->", "<!--", "<!x>", "<!x", "<!DOCTYPE html>", "<?pi?>", "<?", "</ >",
      "</", "</>", "<", "< b", "<1", "<=", "<<", "-->", ">", "&amp;", "</script")
    val text = Gen.oneOf("text", " ", "a < b", "x&lt;y", "\n", "Café", " 中文")
    for {
      parts <- Gen.listOf(Gen.frequency((4, open), (3, close), (2, other), (4, text)))
      tail <- Gen.oneOf("", "<", "</", "<a", "<a href=\"x", "<!-")
    } yield parts.mkString + tail
  }

  test("P16: the one-substring lexer builds the tree the char-at-a-time lexer built, on the kept attributes") {
    val kept = HtmlParser.keptAttrs.toSet
    def same(html: String): Unit =
      assert(dump(HtmlParser.parse(html)) == dump(charLexerParse(html), kept), html)
    def withAttrs(n: Node): Int = (if (n.attrs.nonEmpty) 1 else 0) + n.children.map(withAttrs).sum
    var elems = 0
    forAll(lexerSoupGen, 600) { html =>
      same(html)
      elems += withAttrs(HtmlParser.parse(html))
    }
    assert(elems > 2000, s"only $elems elements kept an attribute")
    val pages = docGenRaw.filter(_.content_kind == "html").map(_.html)
    assert(pages.size > 200)
    pages.foreach(same)
  }
}
