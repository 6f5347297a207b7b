package graft.extract

import graft.model.EntityMention
import graft.matching.{AhoCorasick, Corpora}
import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** Core-8 entity enrichment (SURVEY.md §2.4, E1-E19): PERSON, ORG, GPE,
  * LOC, DATE, TIME, MONEY, MEASUREMENT (+ PHONE, EMAIL, URL, REGULATION),
  * with the reference's guard/cleanup/dedup semantics:
  *
  *  - 50KB truncation with marker (`service_processor.py:734-737`)
  *  - markdown-formatting cleanup before extraction (`:1168-1225`)
  *  - pattern pass with per-type caps (`:925-988`), each pattern run
  *    only at the candidate starts of its trigger classes ([[Scan]])
  *  - parenthetical converted-unit filter (`:374-442`)
  *  - range preference over component matches (`:443-524`)
  *  - REGULATION gated on CFR/USC substring (`:990-1000`), read in the
  *    same pre-pass
  *  - conflict resolution: FLPC types take priority; AC entities whose
  *    text is a substring of a priority entity's text are dropped (`:1101-1166`)
  *  - longest-match-first dedup (length desc, start asc; `:1380-1421`)
  *
  * Everything is a pure document-local function designed for a fused
  * `mapPartitions` over `Dataset[RawDoc]`.
  */
object Core8Extractor {

  val TruncateAt = 50000
  val TruncationMarker = "\n[CONTENT TRUNCATED FOR EXTRACTION]"

  /** E1: cap extraction input at 50KB + marker. */
  def truncate(text: String): String =
    if (text.length <= TruncateAt) text
    else text.substring(0, TruncateAt) + TruncationMarker

  private val imageLink =
    new Scan(Pattern.compile("!\\[([^\\]]*)\\]\\(([^)]*)\\)"), Scan.Bang, Scan.imageLinkEnd)
  private val link =
    new Scan(Pattern.compile("\\[([^\\]]*)\\]\\(([^)]*)\\)"), Scan.Bracket, Scan.bracketEnd)
  private val emphasis = new Scan(Pattern.compile("(?<![\\w*])\\*([^*\\n]+)\\*(?![\\w*])"), Scan.Star)
  private val heading = new Scan(Pattern.compile("(?m)^#{1,6}\\s+"), Scan.LineStart)
  private val quote = new Scan(Pattern.compile("(?m)^>\\s+"), Scan.LineStart)

  /** E2: strip markdown formatting so dual detections don't occur.
    * `[text](url)` → text, `**x**`/`*x*`/`` `x` `` unwrapped, heading
    * hashes removed. Offsets of extracted entities refer to THIS cleaned
    * text (the reference extracts on its cleaned content too).
    *
    * Each pattern pass is a [[Scan.replaceAll]] over the previous pass's
    * output, tried only at its trigger char (`!`, `[`, `*`) or at line
    * starts; the link passes resume past a `[` run that no `](…)` closes
    * ([[Scan.bracketEnd]]), so each pass is linear.
    */
  def cleanFormatting(text: String): String = {
    var t = text
    t = imageLink.replaceAll(t, _.group(1))
    t = link.replaceAll(t, _.group(1))
    t = t.replace("**", "").replace("__", "")
    t = emphasis.replaceAll(t, _.group(1))
    t = t.replace("`", "")
    t = heading.replaceAll(t, _ => "")
    t = quote.replaceAll(t, _ => "")
    t
  }

  // ------------------------------------------------------------ sentences

  /** E5: fast sentence splitter — char scan on `.!?` + following
    * whitespace; keeps (text, start) offsets; min length 5
    * (`service_processor.py:1521-1577`).
    */
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

  /** E10: drop converted-unit duplicates in parentheses, keeping the
    * original — "(1.8 meters)" after "6 feet" is dropped.
    */
  def dropParenthetical(entities: Seq[EntityMention], text: String): Seq[EntityMention] =
    entities.filter { e =>
      val before = text.lastIndexWhere(!_.isWhitespace, e.start - 1)
      val after = text.indexWhere(!_.isWhitespace, e.end)
      !(before >= 0 && text.charAt(before) == '(' &&
        after >= 0 && after < text.length && text.charAt(after) == ')')
    }

  /** E11/E12: prefer ranges over component matches — drop any entity of
    * the same type fully inside a range entity's span.
    */
  def preferRanges(ranges: Seq[EntityMention], singles: Seq[EntityMention]): Seq[EntityMention] =
    ranges ++ singles.filter(s => !ranges.exists(r => s.start >= r.start && s.end <= r.end))

  /** E17: the canonical overlap resolver, [[AhoCorasick.longestFirst]],
    * keyed on the case-insensitive value: a mention is dropped when it
    * overlaps an accepted span or repeats an accepted value.
    */
  def dedupLongestFirst(entities: Seq[EntityMention]): Seq[EntityMention] =
    AhoCorasick.longestFirst(entities)(_.start, _.end, _.value.toLowerCase)

  // -------------------------------------------------------------- person

  private val wordRx = java.util.regex.Pattern.compile("[A-Za-z][A-Za-z.'-]*")

  /** E3: conservative PERSON extractor — capitalized sequences →
    * blacklist rejection → evidence scoring against name corpora with
    * title/suffix context, min confidence 0.7, cap 30
    * (`utils/person_entity_extractor.py:38-560`).
    */
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

  // ----------------------------------------------------------------- org

  // cache keys carry the corpus version: a table-loaded bundle
  // recompiles its automatons lazily on first use in each JVM. The
  // bundle is snapshotted ONCE per call so version and pattern set come
  // from the SAME bundle — reading them separately could cache an old
  // automaton under a new version key if an install lands in between
  private def orgAc = {
    val b = Corpora.bundle
    AhoCorasick.cached(s"core8.orgs.${b.version}", b.orgs.toSeq.sorted)
  }

  /** E4: ORG extractor — per-sentence AC over the org corpus with
    * word-boundary validation, plus capitalized runs ending in a legal /
    * institutional suffix; length ≥4; stoplist filtered; longest-match
    * dedup per sentence (`service_processor.py:1422-1520,2896-3041`).
    */
  def extractOrgs(text: String): Seq[EntityMention] = {
    val out = new ArrayBuffer[EntityMention]
    splitSentences(text).foreach { case (sentence, sentStart) =>
      // corpus matches
      orgAc.findLongestNonOverlapping(sentence).foreach { h =>
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

  // ------------------------------------------------------------- gpe/loc

  private def gpeAc = {
    val b = Corpora.bundle
    AhoCorasick.cached(s"core8.gpe.${b.version}", b.gpe.keys.toSeq.sorted)
  }
  private def locAc = {
    val b = Corpora.bundle
    AhoCorasick.cached(s"core8.loc.${b.version}", b.loc.keys.toSeq.sorted)
  }

  /** E6/E7: gazetteer AC over the doc; len>2; dedup; cap 50. */
  private def extractGazetteer(text: String, ac: AhoCorasick, tpe: String): Seq[EntityMention] = {
    val hits = ac.findLongestNonOverlapping(text)
    val ents = hits.collect {
      case h if h.end - h.start > 2 =>
        val t = text.substring(h.start, h.end)
        EntityMention(t, t, tpe, h.start, h.end)
    }
    dedupLongestFirst(ents)
  }

  def extractGpe(text: String): Seq[EntityMention] = extractGazetteer(text, gpeAc, "GPE")
  def extractLoc(text: String): Seq[EntityMention] = extractGazetteer(text, locAc, "LOC")

  // ---------------------------------------------------------- orchestrate

  private val priorityTypes = Set("DATE", "TIME", "MONEY", "MEASUREMENT")
  private val gazetteerTypes = Set("PERSON", "ORG", "GPE", "LOC")

  /** E16: FLPC types take priority; drop AC entities (PERSON/ORG/LOC/GPE)
    * whose text is a substring of any priority entity's text.
    */
  def resolveConflicts(entities: Seq[EntityMention]): Seq[EntityMention] = {
    val priorityTexts = entities.collect {
      case e if priorityTypes.contains(e.`type`) => e.text.toLowerCase
    }
    entities.filter { e =>
      priorityTypes.contains(e.`type`) ||
      !gazetteerTypes.contains(e.`type`) || {
        val text = e.text.toLowerCase
        !priorityTexts.exists(_.contains(text))
      }
    }
  }

  private def cap(tpe: String, es: Seq[EntityMention]): Seq[EntityMention] =
    es.take(PatternBank.caps.getOrElse(tpe, 50))

  /** Full Core-8 pass over already-cleaned, already-truncated text.
    * Returns entities sorted by (start, type) — the per-doc entity list.
    *
    * One linear pre-pass ([[Scan.candidates]]) finds the candidate
    * starts of every trigger class of the eleven patterns; each pattern
    * then runs only at the candidates of its classes, through the
    * [[Scan]] [[PatternBank.triggers]] pairs it with. That equals a
    * `find()` pass because every start a pattern can match at is such a
    * candidate (the invariant, with the JDK 17 `\b` rule it rests on, is
    * stated at `Scan.candidates`; PropertySpec P14 checks it), and
    * money's digit-group runs cost one try each ([[Scan.digitGroupEnd]]).
    */
  def extractAll(cleanText: String): Seq[EntityMention] = {
    val t = cleanText
    val c = Scan.candidates(t, PatternBank.classes)
    def scan(p: Pattern, tpe: String) = PatternBank.triggers(p).mentions(c, tpe)
    val dateRanges = scan(PatternBank.dateRange, "DATE")
    val dates = preferRanges(dateRanges, scan(PatternBank.date, "DATE"))
    val times = scan(PatternBank.time, "TIME")
      // a time inside a matched date ("01/02/03" pathology) is dropped
      .filter(tm => !dates.exists(d => tm.start >= d.start && tm.end <= d.end))
    val moneys = scan(PatternBank.money, "MONEY")
    val measRanges = scan(PatternBank.measurementRange, "MEASUREMENT")
    val meas0 = preferRanges(measRanges, scan(PatternBank.measurement, "MEASUREMENT"))
      .filter(me => !dates.exists(d => me.start >= d.start && me.end <= d.end) &&
                    !times.exists(d => me.start >= d.start && me.end <= d.end) &&
                    !moneys.exists(d => me.start >= d.start && me.end <= d.end))
    val meas = dropParenthetical(meas0, t)
    val phones = scan(PatternBank.phone, "PHONE")
    val emails = scan(PatternBank.email, "EMAIL")
    val urls = scan(PatternBank.url, "URL")
      .filter(u => !emails.exists(e => u.start < e.end && e.start < u.end))
    // regulation's CFR/USC gate is its `Cited` trigger class
    val regs = scan(PatternBank.regulation, "REGULATION")
    val rangeInds = scan(PatternBank.rangeIndicator, "RANGE_INDICATOR")
    val persons = extractPersons(t)
    val orgs = extractOrgs(t)
    val gpes = extractGpe(t)
    val locs = extractLoc(t)

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
      cap("PERSON", dedupLongestFirst(persons)) ++
      cap("ORG", orgs) ++
      cap("GPE", gpes) ++
      cap("LOC", locs)

    resolveConflicts(all).sortBy(e => (e.start, e.`type`))
  }

  /** The extraction clean text: cleanup → truncate. Entity offsets
    * refer to this text, so every consumer that re-reads them rebuilds
    * it here, never from a copy of the two steps.
    */
  def cleanText(markdown: String): String = truncate(cleanFormatting(markdown))

  /** The clean text of a document from its span texts, joined as the
    * pipeline joins them into markdown: the one string entity and fact
    * offsets are valid against.
    */
  def cleanTextOf(spanTexts: Seq[String]): String = cleanText(spanTexts.mkString("\n"))

  /** Pipeline entry: markdown text → clean text → extract. */
  def run(markdown: String): Seq[EntityMention] = extractAll(cleanText(markdown))
}
