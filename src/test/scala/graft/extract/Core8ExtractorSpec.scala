package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.matching.Corpora
import graft.model.EntityMention

/** Core-8 entity matrix per FIXTURES.md §4.4 — ranges, singles, edge
  * cases, conflicts, caps.
  */
class Core8ExtractorSpec extends AnyFunSuite {

  private def ents(text: String): Seq[EntityMention] = Core8Extractor.extractAll(text)
  private def ofType(text: String, t: String): Seq[String] =
    ents(text).filter(_.`type` == t).map(_.text)

  test("singles: date, money, regulation, time, phone, email, url") {
    val t = "Meeting on January 15, 2024 at 2:30 PM costs $2,500 per 29 CFR 1926.95. " +
      "Call (555) 123-4567 or email safety@example.com or visit https://osha.gov/rules."
    assert(ofType(t, "DATE") === Seq("January 15, 2024"))
    assert(ofType(t, "TIME") === Seq("2:30 PM"))
    assert(ofType(t, "MONEY") === Seq("$2,500"))
    assert(ofType(t, "REGULATION") === Seq("29 CFR 1926.95"))
    assert(ofType(t, "PHONE") === Seq("(555) 123-4567"))
    assert(ofType(t, "EMAIL") === Seq("safety@example.com"))
    assert(ofType(t, "URL") === Seq("https://osha.gov/rules."))
  }

  test("a 36 KB regulation suffix run matches on a 1 MB stack, and the doc converts") {
    val text = "under 29 CFR 1910" + "(a)" * 12000
    @volatile var result: Either[Throwable, graft.model.ExtractedDoc] = null
    // the suffix run once recursed per repetition: a small stack overflowed
    val t = new Thread(null, () => {
      result =
        try Right(graft.pipeline.ExtractionPipeline.processDoc(graft.model.RawDoc(
          "reg", "text", "", Seq.empty, text, text.length.toLong, 1)))
        catch { case e: Throwable => Left(e) }
    }, "small-stack", 1L << 20)
    t.start()
    t.join()
    val doc = result.fold(throw _, identity)
    assert(doc.success, s"rejected: ${doc.error}")
    assert(doc.entities.count(_.`type` == "REGULATION") === 1)
  }

  test("possessive regulation suffix runs match exactly what the backtracking runs matched") {
    val oldRegulation = java.util.regex.Pattern.compile(
      "\\b\\d+\\s+(?:CFR|USC|C\\.F\\.R\\.|U\\.S\\.C\\.)\\s*(?:Part\\s+)?§?\\s*\\d+(?:\\.\\d+)?(?:\\([a-z0-9]+\\))*")
    val oldCitation = java.util.regex.Pattern.compile(
      "(?i)(?:in accordance with|pursuant to|as required by|under)\\s+(\\d+\\s+(?:CFR|USC)\\s*§?\\s*[\\d.]+(?:\\([a-z0-9]+\\))*)")
    val citation = java.util.regex.Pattern.compile(graft.facts.SpoExtractor.defaultPatterns
      .patterns.find(_.name == "reg_citation").get.regex)
    def matches(p: java.util.regex.Pattern, s: String): Seq[(Int, Int)] = {
      val m = p.matcher(s)
      Iterator.continually(m.find()).takeWhile(identity).map(_ => (m.start, m.end)).toSeq
    }
    val rnd = new scala.util.Random(7)
    val heads = Seq("29 CFR 1910", "40 C.F.R. Part 60.5", "42 USC § 7401", "29 CFR 1926.95",
      "under 29 CFR 1910.1", "pursuant to 40 usc 12")
    val parts = Seq("(a)", "(1)", "(iv)", "(B)", "(b2)", "()", "(a", " (c)", ".", "(a)(")
    (0 until 300).foreach { i =>
      val reps = if (i % 50 == 0) 500 else rnd.nextInt(40)
      val s = "see " + heads(rnd.nextInt(heads.size)) +
        Seq.fill(reps)(parts(rnd.nextInt(parts.size))).mkString + " and 7 USC 2(x) end"
      assert(matches(PatternBank.regulation, s) === matches(oldRegulation, s), s)
      assert(matches(citation, s) === matches(oldCitation, s), s)
    }
  }

  // Inputs on which a backtracking regex pass can go quadratic, by the
  // length of their repeated part, each with the entry point it goes
  // through. Through `extractAll`: the email local-part run with no `@`,
  // a bare `@` and a real domain, digit, `$` and `(` runs, and a month
  // word that `\s+` follows across the whole text. Through `run` (the
  // markdown cleanup first): `[` runs that no `]` or no `](…)` closes,
  // `![` runs, and one digit-group run that money's `\b\d{1,3}(,\d{3})*`
  // walks from every group. Through `ContentFlagsScan.scan` on one text
  // span: line runs, where the footnote's `^\s*` walks from every line.
  // Dictionary runs, where every word is a hit or a name and each one is
  // tested against the kept ones: a GPE run through `extractGpe`, and an
  // ORG corpus name, an ORG suffix run and a person run through `run`.
  private val hostile: Seq[(String, Int => String, String)] = Seq(
    ("a.a.a…", n => "a." * (n / 2), "extractAll"),
    ("a.a.a…@", n => "a." * (n / 2) + "@", "extractAll"),
    ("a.a.a…@example.com", n => "a." * (n / 2) + "@example.com", "extractAll"),
    ("digit run", n => "7" * n, "extractAll"),
    ("$ run", n => "$" * n, "extractAll"),
    ("( run", n => "(" * n, "extractAll"),
    ("month word + spaces", n => "January" + " " * n, "extractAll"),
    ("[1[1…", n => "[1" * (n / 2), "run"),
    ("[[[…[]x", n => "[" * (n - 2) + "]x", "run"),
    ("![![…", n => "![" * (n / 2), "run"),
    ("1,111,…", n => "1" + ",111" * (n / 4), "run"),
    ("\\n run", n => "\n" * n, "scan"),
    (" \\n run", n => " \n" * (n / 2), "scan"),
    ("Chicago run", n => "Chicago " * (n / 8), "extractGpe"),
    ("acme corporation run", n => "acme corporation " * (n / 17), "run"),
    ("Acme Holdings LLC run", n => "Acme Holdings LLC " * (n / 18), "run"),
    ("John Smith run", n => "John Smith " * (n / 11), "run"))

  private val entryPoints: Map[String, String => Any] = Map(
    "extractAll" -> Core8Extractor.extractAll,
    "run" -> Core8Extractor.run,
    "extractGpe" -> Core8Extractor.extractGpe,
    "scan" -> (t => ContentFlagsScan.scan(Seq(graft.model.Span(graft.model.SpanKinds.Text, t, "", 0)))))

  /** `rounds` timings (ms) of `entry` on each of `texts`, the texts
    * taking turns in each round so a slow spell of the host hits all of
    * them alike; a call over 1 s ends the sampling (the bound is lost).
    */
  private def timings(entry: String => Any, texts: Seq[String], rounds: Int): Seq[Seq[Double]] = {
    val out = Seq.newBuilder[Seq[Double]]
    var slow = false
    var r = 0
    while (r < rounds && !slow) {
      val round = texts.map { t =>
        val t0 = System.nanoTime()
        entry(t)
        (System.nanoTime() - t0) / 1e6
      }
      slow = round.exists(_ > 1000)
      out += round
      r += 1
    }
    out.result()
  }

  /** Each hostile case through its entry point: under 50 ms at `big`
    * chars (best of the rounds), and at most 2.5x from 20 KB to 40 KB
    * (the median ratio of the rounds).
    */
  private def assertLinear(cases: Seq[(String, Int => String, String)], big: Int): Unit = {
    // JIT-warm on small copies of every shape first
    for (_ <- 1 to 50; (_, mk, via) <- cases) entryPoints(via)(mk(2000))
    val results = cases.map { case (name, mk, via) =>
      val rounds = timings(entryPoints(via), Seq(mk(big), mk(20000), mk(40000)), 11)
      val ratios = rounds.map(r => r(2) / r(1)).sorted
      (name, rounds.map(_.head).min, ratios(ratios.size / 2))
    }
    val kb = big / 1000
    val report = results.map { case (name, ms, ratio) =>
      f"$name: $ms%.2f ms at $kb KB, 40 KB / 20 KB = $ratio%.2f"
    }.mkString("; ")
    info(report)
    results.foreach { case (name, ms, ratio) =>
      assert(ms < 50, s"$name over 50 ms at $kb KB; $report")
      assert(ratio <= 2.5, s"$name grows faster than linear; $report")
    }
  }

  test("hostile 50 KB inputs: extractAll stays under 50 ms, and 20 KB -> 40 KB at most 2.5x") {
    assertLinear(hostile.filter(_._3 == "extractAll"), 50000)
  }

  test("hostile 40 KB markdown and line runs: run and ContentFlagsScan.scan stay under 50 ms, and 20 KB -> 40 KB at most 2.5x") {
    assertLinear(hostile.filter(_._3 != "extractAll"), 40000)
  }

  test("ranges_simple: 30-37 inches is ONE measurement, not two") {
    val t = "Handrail height must be 30-37 inches above the surface."
    assert(ofType(t, "MEASUREMENT") === Seq("30-37 inches"))
  }

  test("ranges_full_context: date range with both endpoint dates") {
    val t = "Project timeline: January 1, 2024 to December 31, 2024."
    assert(ofType(t, "DATE") === Seq("January 1, 2024", "December 31, 2024"))
  }

  test("edge: leap day parses; 01/02/03 ambiguity resolves as a date, not a time") {
    val t = "Recorded on February 29, 2024 and again on 01/02/03."
    assert(ofType(t, "DATE") === Seq("February 29, 2024", "01/02/03"))
    assert(ofType(t, "TIME") === Seq.empty)
  }

  test("edge: parenthetical converted unit (1.8 meters) dropped, 6 feet kept") {
    val t = "The ladder extends 6 feet (1.8 meters) above the landing."
    assert(ofType(t, "MEASUREMENT") === Seq("6 feet"))
  }

  test("conflict: August inside 'August 15-20, 2024' does not surface as ORG/GPE") {
    val t = "The audit runs August 15-20, 2024 in Chicago."
    assert(ofType(t, "DATE") === Seq("August 15-20, 2024"))
    assert(ofType(t, "GPE") === Seq("Chicago"))
    assert(!ents(t).exists(e => e.text == "August" && e.`type` != "DATE"))
  }

  test("PERSON: corpus-backed names pass 0.7 confidence; blacklisted/cap-run noise rejected") {
    val t = "Dr. John Smith and Sarah Johnson approved. Safety Requirements Overview follows."
    val persons = ofType(t, "PERSON")
    assert(persons === Seq("Dr. John Smith", "Sarah Johnson"))
  }

  test("PERSON: 31+ persons capped at 30") {
    val names = (1 to 31).map(i => s"John Smith${('a' + (i % 26)).toChar}")
    // use corpus first+last names so each passes; vary last to defeat dedup
    val t = (1 to 31).map(i => s"David Miller met Jane Garcia$i.").mkString(" ")
    // fallback deterministic: 31 distinct corpus-name pairs
    val pairs = for {
      f <- Seq("John", "Jane", "Michael", "Sarah", "David", "Emily")
      l <- Seq("Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia")
    } yield s"$f $l"
    val text = pairs.take(31).map(p => s"$p attended the session.").mkString(" ")
    assert(ofType(text, "PERSON").length === 30)
    assert(names.nonEmpty && t.nonEmpty) // silence unused warnings
  }

  test("ORG: corpus hit + suffix-cued org; stoplist words rejected") {
    val t = "Acme Corporation partnered with Birchwood Holdings LLC. The report was filed."
    val orgs = ofType(t, "ORG")
    assert(orgs.contains("Acme Corporation"))
    assert(orgs.exists(_.startsWith("Birchwood Holdings")))
    assert(!orgs.exists(_.toLowerCase == "the report"))
  }

  test("GPE/LOC: gazetteer with subcategories") {
    val t = "Flooding along the Mississippi River affected Texas and the city of Houston."
    assert(ofType(t, "LOC") === Seq("Mississippi River"))
    assert(ofType(t, "GPE").toSet === Set("Texas", "Houston"))
    assert(Corpora.gpe("texas") === "us_state")
    assert(Corpora.loc("mississippi river") === "river")
  }

  test("E1: truncation at 50KB with marker") {
    val big = "x" * 60000
    val t = Core8Extractor.truncate(big)
    assert(t.length === 50000 + Core8Extractor.TruncationMarker.length)
    assert(t.endsWith(Core8Extractor.TruncationMarker))
  }

  test("E2: markdown cleanup unwraps inline formatting") {
    val md = "# Heading\n**John Smith** visited [OSHA](https://osha.gov) on *March 5, 2024*."
    val cleaned = Core8Extractor.cleanFormatting(md)
    assert(cleaned === "Heading\nJohn Smith visited OSHA on March 5, 2024.")
  }

  test("E5: sentence splitter keeps offsets, min length 5") {
    val t = "First sentence here. Second one follows! Y? Third sentence ends."
    val ss = Core8Extractor.splitSentences(t)
    assert(ss.map(_._1) === Seq("First sentence here.", "Second one follows!", "Third sentence ends."))
    ss.foreach { case (s, off) => assert(t.substring(off, off + s.length) === s) }
  }

  test("E17: dedup longest-match-first drops overlaps and repeat values") {
    val es = Seq(
      EntityMention("OSHA", "OSHA", "ORG", 10, 14),
      EntityMention("OSHA Region 5", "OSHA Region 5", "ORG", 10, 23),
      EntityMention("osha", "osha", "ORG", 40, 44))
    // "OSHA Region 5" (longest) accepted; "OSHA" at 10-14 overlaps it -> dropped;
    // standalone "osha" at 40-44 has an unseen value and no overlap -> kept.
    val d = Core8Extractor.dedupLongestFirst(es)
    assert(d.map(_.text) === Seq("OSHA Region 5", "osha"))
    // repeat VALUE at a disjoint span is dropped (seen-value semantics):
    val es2 = es :+ EntityMention("OSHA Region 5", "OSHA Region 5", "ORG", 60, 73)
    assert(Core8Extractor.dedupLongestFirst(es2).map(_.text) === Seq("OSHA Region 5", "osha"))
  }

  test("E13: range indicators extracted") {
    val t = "Guardrails must be up to 42 inches tall."
    val inds = Core8Extractor.extractAll(t).filter(_.`type` == "RANGE_INDICATOR")
    assert(inds.map(_.value) == Seq("up to"), s"indicators: $inds")
  }

  test("C4: domain entities only on deep-domain route, filtered to target domains") {
    val text = "OSHA fall protection hazard: lockout tagout scaffold ppe osha " +
      "respirator workplace safety. NIOSH and guardrail standards apply. " +
      "Kubernetes cluster mentioned once."
    val cls = graft.classify.Classifier.classify(text)
    assert(cls.enableDeepDomainExtraction, s"confidence ${cls.primaryDomainConfidence}")
    val es = graft.classify.Classifier.extractDomainEntities(text, cls.domains.keySet)
    assert(es.contains("safety/osha") && es.contains("safety/niosh") &&
      es.contains("safety/guardrail"), s"got $es")
    // technology not among scored domains -> kubernetes filtered out
    if (!cls.domains.contains("technology")) assert(!es.exists(_.startsWith("technology/")))
    // dedup preserves first occurrence, single osha entry
    assert(es.count(_ == "safety/osha") == 1)
  }
}
