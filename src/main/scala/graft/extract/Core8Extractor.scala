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
    * ([[Scan.bracketEnd]]), so each pass is linear. A pass runs only
    * when its input holds the char every one of its matches contains
    * (`!`, `[`, `*`, `#`, `>`): most texts hold none of several.
    */
  def cleanFormatting(text: String): String = {
    var t = text
    if (t.indexOf('!') >= 0) t = imageLink.replaceAll(t, _.group(1))
    if (t.indexOf('[') >= 0) t = link.replaceAll(t, _.group(1))
    t = t.replace("**", "").replace("__", "")
    if (t.indexOf('*') >= 0) t = emphasis.replaceAll(t, _.group(1))
    t = t.replace("`", "")
    if (t.indexOf('#') >= 0) t = heading.replaceAll(t, _ => "")
    if (t.indexOf('>') >= 0) t = quote.replaceAll(t, _ => "")
    t
  }

  // ------------------------------------------------------------ sentences

  /** E5: fast sentence splitter — char scan on `.!?` + following
    * whitespace; keeps (text, start) offsets; min length 5
    * (`service_processor.py:1521-1577`).
    */
  def splitSentences(text: String): Seq[(String, Int)] = {
    val (starts, ends) = sentences(text)
    starts.indices.map(k => (text.substring(starts(k), ends(k)), starts(k)))
  }

  /** The [start, end) bounds of the sentences [[splitSentences]] keeps.
    * Kept sentences are disjoint, and each one is bounded by the start
    * or end of the text, whitespace, or the first `\n` of a `\n\n` it
    * ends at: no word (`wordRx`) and no whole-word hit crosses a bound.
    */
  private def sentences(text: String): (Array[Int], Array[Int]) = {
    val starts, ends = new scala.collection.mutable.ArrayBuilder.ofInt
    def keep(s: Int, e: Int): Unit = if (text.substring(s, e).trim.length >= 5) { starts += s; ends += e }
    var start = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if ((c == '.' || c == '!' || c == '?') &&
          (i + 1 >= n || Character.isWhitespace(text.charAt(i + 1)))) {
        keep(start, i + 1)
        start = i + 1
        while (start < n && Character.isWhitespace(text.charAt(start))) start = start + 1
        i = start
      } else if (c == '\n' && i + 1 < n && text.charAt(i + 1) == '\n') {
        keep(start, i)
        start = i + 1
        i += 1
      } else i += 1
    }
    if (start < n) keep(start, n)
    (starts.result(), ends.result())
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

  // ------------------------------------------------------ words and hits

  private val wordRx = java.util.regex.Pattern.compile("[A-Za-z][A-Za-z.'-]*")

  /** The words of a text (`wordRx` matches) with their offsets, each
    * lowercased once: the one tokenization the person and org walks read.
    */
  private final class Words(val word: Array[String], val lower: Array[String],
                            val start: Array[Int], val end: Array[Int])

  private def words(text: String): Words = {
    val m = wordRx.matcher(text)
    val word = Array.newBuilder[String]
    val start, end = new scala.collection.mutable.ArrayBuilder.ofInt
    while (m.find()) { word += m.group(); start += m.start(); end += m.end() }
    val w = word.result()
    new Words(w, w.map(_.toLowerCase), start.result(), end.result())
  }

  private type Hits = IndexedSeq[AhoCorasick#Hit]

  /** The whole-word (ORG, GPE, LOC) hits of a text, from one scan of
    * one automaton over the ORG corpus, the GPE keys and the LOC keys;
    * a hit's kind is the range its pattern index falls in.
    */
  private def dictionary(text: String): (Hits, Hits, Hits) = {
    // the bundle is snapshotted ONCE so the pattern list, the range
    // sizes and the version key all come from the SAME bundle; the key
    // ends in `.${version}`, which Corpora.install evicts by
    val b = Corpora.bundle
    val ac = AhoCorasick.cached(s"core8.gazetteer.${b.version}",
      b.orgs.toSeq.sorted ++ b.gpe.keys.toSeq.sorted ++ b.loc.keys.toSeq.sorted)
    val (org, place) = ac.findWholeWords(text).partition(_.patternIdx < b.orgs.size)
    val (gpe, loc) = place.partition(_.patternIdx < b.orgs.size + b.gpe.size)
    (org, gpe, loc)
  }

  // -------------------------------------------------------------- person

  /** E3: conservative PERSON extractor — capitalized sequences →
    * blacklist rejection → evidence scoring against name corpora with
    * title/suffix context, min confidence 0.7, cap 30
    * (`utils/person_entity_extractor.py:38-560`).
    */
  def extractPersons(text: String): Seq[EntityMention] = findPersons(text, words(text))

  private def findPersons(text: String, w: Words): Seq[EntityMention] = {
    val n = w.word.length
    val out = new ArrayBuffer[EntityMention]
    def isCap(t: String): Boolean = t.length >= 2 && Character.isUpperCase(t.charAt(0)) &&
      t.drop(1).forall(c => Character.isLowerCase(c) || c == '\'' || c == '-')
    def isInitial(t: String): Boolean =
      Character.isUpperCase(t.charAt(0)) && (t.length == 1 || t.length == 2 && t.charAt(1) == '.')
    var i = 0
    while (i < n && out.length < PatternBank.caps("PERSON")) {
      val titleHere = Corpora.personTitles.contains(w.lower(i).stripSuffix("."))
      val startIdx = if (titleHere && i + 1 < n) i + 1 else i
      if (isCap(w.word(startIdx)) && !Corpora.personBlacklist.contains(w.lower(startIdx))) {
        // gather run of capitalized words / initials (max 4)
        var j = startIdx
        val run = new ArrayBuffer[Int]
        var blacklisted = false
        while (j < n && run.length < 4 &&
               (isCap(w.word(j)) || (run.nonEmpty && isInitial(w.word(j)))) &&
               // adjacency: next token must start within 2 chars of prev end
               (run.isEmpty || w.start(j) - w.end(run.last) <= 2)) {
          if (Corpora.personBlacklist.contains(w.lower(j))) blacklisted = true
          run += j
          j += 1
        }
        // optional suffix (Jr., III, PhD)
        var suffix = false
        if (run.nonEmpty && j < n &&
            Corpora.personSuffixes.contains(w.lower(j).stripSuffix(".")) &&
            w.start(j) - w.end(run.last) <= 2) {
          run += j; suffix = true; j += 1
        }
        val fullWords = run.filter(k => isCap(w.word(k)))
        if (!blacklisted && fullWords.length >= 2 ||
            (!blacklisted && titleHere && fullWords.length >= 1)) {
          var conf = 0.0
          if (Corpora.firstNames.contains(w.lower(fullWords.head))) conf += 0.4
          if (Corpora.lastNames.contains(w.lower(fullWords.last))) conf += 0.4
          if (titleHere) conf += 0.3
          if (suffix) conf += 0.2
          if (fullWords.length >= 2) conf += 0.1
          if (conf >= 0.7) {
            val s = if (titleHere) w.start(i) else w.start(run.head)
            val e = w.end(run.last)
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

  /** E4: ORG extractor — the document's corpus hits that lie inside one
    * kept sentence, with word-boundary validation, plus capitalized runs
    * ending in a legal / institutional suffix, walked back no further
    * than the first word of the suffix's sentence; length ≥4; stoplist
    * filtered; longest-match dedup (`service_processor.py:1422-1520,2896-3041`).
    *
    * One document-level scan gives what a scan per sentence gave: kept
    * sentences are disjoint and bounded by whitespace, `\n` or the ends
    * of the text ([[sentences]]), so a hit inside one passes the
    * whole-word test in the document iff it passes it in the sentence,
    * and longest-first resolves the sentences independently. Hits that
    * cross a sentence bound, and hits and words in a dropped short
    * sentence, are left out, as the per-sentence scan never saw them.
    */
  def extractOrgs(text: String): Seq[EntityMention] =
    findOrgs(text, words(text), dictionary(text)._1)

  private def findOrgs(text: String, w: Words, hits: Hits): Seq[EntityMention] = {
    val (starts, ends) = sentences(text)
    // the kept sentence holding [s, e), or -1
    def sentenceOf(s: Int, e: Int): Int = {
      val b = java.util.Arrays.binarySearch(starts, s)
      val k = if (b >= 0) b else -b - 2
      if (k >= 0 && e <= ends(k)) k else -1
    }
    val out = new ArrayBuffer[EntityMention]
    def add(s: Int, e: Int): Unit = {
      val t = text.substring(s, e)
      if (t.length >= 4 && !Corpora.orgStoplist.contains(t.toLowerCase))
        out += EntityMention(t, t, "ORG", s, e)
    }
    // corpus matches
    AhoCorasick.longestFirst(hits.filter(h => sentenceOf(h.start, h.end) >= 0))(_.start, _.end)
      .foreach(h => add(h.start, h.end))
    // suffix-cued capitalized runs: "Birchwood Holdings LLC"
    val sentence = Array.tabulate(w.word.length)(k => sentenceOf(w.start(k), w.end(k)))
    var i = 0
    while (i < sentence.length) {
      if (sentence(i) >= 0 &&
          (Corpora.orgSuffixes.contains(w.lower(i).stripSuffix(".")) || Corpora.orgSuffixes.contains(w.lower(i)))) {
        // walk back over capitalized words of the same sentence
        var k = i - 1
        while (k >= 0 && sentence(k) == sentence(i) && Character.isUpperCase(w.word(k).charAt(0)) &&
               !Corpora.orgStoplist.contains(w.lower(k)) &&
               w.start(k + 1) - w.end(k) <= 2 && i - k < 5) k -= 1
        if (k < i - 1 && Character.isUpperCase(w.word(i).charAt(0))) add(w.start(k + 1), w.end(i))
      }
      i += 1
    }
    dedupLongestFirst(out.toSeq)
  }

  // ------------------------------------------------------------- gpe/loc

  /** E6/E7: gazetteer hits over the whole doc, split from the one
    * dictionary scan by kind; longest first per kind; len>2; dedup.
    */
  def extractGpe(text: String): Seq[EntityMention] = findPlaces(text, dictionary(text)._2, "GPE")
  def extractLoc(text: String): Seq[EntityMention] = findPlaces(text, dictionary(text)._3, "LOC")

  private def findPlaces(text: String, hits: Hits, tpe: String): Seq[EntityMention] = {
    val ents = AhoCorasick.longestFirst(hits)(_.start, _.end).collect {
      case h if h.end - h.start > 2 =>
        val t = text.substring(h.start, h.end)
        EntityMention(t, t, tpe, h.start, h.end)
    }
    dedupLongestFirst(ents)
  }

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
    // one tokenization and one dictionary scan feed PERSON, ORG, GPE and LOC
    val w = words(t)
    val (orgHits, gpeHits, locHits) = dictionary(t)

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
      cap("PERSON", dedupLongestFirst(findPersons(t, w))) ++
      cap("ORG", findOrgs(t, w, orgHits)) ++
      cap("GPE", findPlaces(t, gpeHits, "GPE")) ++
      cap("LOC", findPlaces(t, locHits, "LOC"))

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
