package graft.extract

import java.util.regex.Pattern

/** Precompiled universal-entity pattern bank — JVM re-expression of the
  * reference's FLPC (Rust regex) pattern set
  * (`config/pattern_sets.yaml:101-196`, engine `fusion/flpc_engine.py:141-276`).
  * The reference's patterns are lookaround-free, so they port directly to
  * `java.util.regex` (SURVEY.md §7.4 item 3). Compiled once per JVM
  * (executor) — static fields, shared by all partitions.
  *
  * No pattern makes a `find()` pass: `candidates` finds, in one linear
  * pass, every start of each trigger class, and `triggers` pairs each
  * pattern with the classes that hold every start it can match at.
  */
object PatternBank {

  private val months =
    "january|february|march|april|may|june|july|august|september|october|november|december|" +
    "jan|feb|mar|apr|jun|jul|aug|sep|sept|oct|nov|dec"

  /** Date range first, so "August 15-20, 2024" is ONE date (E12 range
    * preference) — and month-name, ISO, numeric forms.
    */
  val dateRange: Pattern = Pattern.compile(
    s"(?i)\\b($months)\\.?\\s+\\d{1,2}\\s*[-–]\\s*\\d{1,2},?\\s*\\d{4}\\b")
  val date: Pattern = Pattern.compile(
    s"(?i)\\b($months)\\.?\\s+\\d{1,2}(?:st|nd|rd|th)?(?:,\\s*\\d{4})?\\b" +
    s"|\\b\\d{1,2}\\s+($months)\\.?(?:,?\\s+\\d{4})?\\b" +
    "|\\b\\d{4}-\\d{2}-\\d{2}\\b" +
    "|\\b\\d{1,2}/\\d{1,2}/\\d{2,4}\\b")

  val time: Pattern = Pattern.compile(
    "(?i)\\b\\d{1,2}:\\d{2}(?::\\d{2})?\\s*(?:am|pm|a\\.m\\.|p\\.m\\.)?" +
    "|\\b\\d{1,2}\\s*(?:am|pm)\\b")

  val money: Pattern = Pattern.compile(
    "(?i)[$€£¥]\\s?\\d{1,3}(?:,\\d{3})*(?:\\.\\d+)?(?:\\s?(?:k|m|bn|b|t|thousand|million|billion|trillion)\\b)?" +
    "|\\b\\d{1,3}(?:,\\d{3})*(?:\\.\\d+)?\\s*(?:dollars|cents|usd|eur|gbp)\\b")

  private val units =
    "feet|foot|ft|inches|inch|yards?|yd|miles?|mi|meters?|metres?|m|centimeters?|cm|" +
    "millimeters?|mm|kilometers?|km|pounds?|lbs?|lb|ounces?|oz|kilograms?|kg|grams?|g|" +
    "tons?|tonnes?|gallons?|gal|liters?|litres?|ml|seconds?|secs?|minutes?|mins?|" +
    "hours?|hrs?|days?|weeks?|months?|years?|decibels?|db|degrees?|°f|°c|percent|%"

  // The measurement patterns with `q` after each digit and space run:
  // "" for the patterns, "+" for their possessive twins (see `triggers`)
  private def measurementRangeRx(q: String) = Pattern.compile(
    s"(?i)\\b\\d+$q(?:\\.\\d+$q)?\\s*$q(?:-|–|to|through)\\s*$q\\d+$q(?:\\.\\d+$q)?\\s*$q(?:$units)\\b")
  private def measurementRx(q: String) = Pattern.compile(
    s"(?i)\\b\\d+$q(?:\\.\\d+$q)?\\s*$q(?:$units)(?![a-z])")

  /** Measurement range first: "30-37 inches" is ONE measurement, not two
    * (`service_processor.py:443-524`).
    */
  val measurementRange: Pattern = measurementRangeRx("")
  val measurement: Pattern = measurementRx("")

  val phone: Pattern = Pattern.compile(
    "(?:\\+1[\\s.-]?)?(?:\\(\\d{3}\\)\\s?|\\b\\d{3}[\\s.-])\\d{3}[\\s.-]\\d{4}\\b")

  private val emailDomain = "[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b"
  val email: Pattern = Pattern.compile("\\b[A-Za-z0-9._%+-]+@" + emailDomain)
  /** The part of `email` after its `@`: it matches there, or no local
    * part before that `@` starts a match.
    */
  private val emailDomainRx: Pattern = Pattern.compile(emailDomain)

  val url: Pattern = Pattern.compile(
    "(?i)\\bhttps?://[^\\s<>()\\[\\]{}\"']+|\\bwww\\.[^\\s<>()\\[\\]{}\"']+")

  /** Gated on CFR/USC substring before running (`service_processor.py:990-1000`). */
  val regulation: Pattern = Pattern.compile(
    "\\b\\d+\\s+(?:CFR|USC|C\\.F\\.R\\.|U\\.S\\.C\\.)\\s*(?:Part\\s+)?§?\\s*\\d+(?:\\.\\d+)?(?:\\([a-z0-9]+\\))*+")

  private val rangeWords = "up to|at least|no more than|between|from|to|through|thru"
  val rangeIndicator: Pattern = Pattern.compile(s"(?i)\\b(?:$rangeWords)\\b")

  // ------------------------------------------------------------ triggers

  // Trigger classes, one bit each: every start at which a pattern can
  // match is a candidate of one of its classes (see `triggers`)
  private final val Digit = 1 // an ASCII digit at a word start: `\b\d`
  private final val Currency = 2 // `$`, `€`, `£` or `¥`: money's first alternative
  private final val PhoneOpen = 4 // `(` or `+`: phone's `\(\d{3}\)` and `\+1`
  private final val MonthWord = 8 // a word starting with a month name's first three letters
  private final val UrlStart = 16 // a word starting with `http` or `www.`
  private final val RangeWord = 32 // a word starting with a range indicator
  private final val EmailLocal = 64 // in the local-part run before an `@` whose domain matches
  private final val Cited = 128 // a Digit start of a text that names CFR, USC, C.F.R or U.S.C

  /** How the scan runs a pattern: `lookingAt` of `rx` at the candidates
    * of the trigger `classes`.
    */
  private[extract] final case class Scan(classes: Int, rx: Pattern)

  /** Each pattern with its trigger classes, whose candidates hold every
    * start the pattern can match at; `Core8Extractor.extractAll` runs a
    * pattern only there. `rx` is the pattern itself, except for the
    * measurements: their twins are possessive on every digit and space
    * run, so a digit run is not re-tried one shorter at a time (75 unit
    * alternatives per try). The twins match the same text, because a
    * shorter run leaves a digit or space next, and no `.`, space run,
    * range word or unit that may follow starts with one.
    */
  private[extract] val triggers: Map[Pattern, Scan] = Map(
    dateRange -> Scan(MonthWord, dateRange),
    date -> Scan(Digit | MonthWord, date),
    time -> Scan(Digit, time),
    money -> Scan(Currency | Digit, money),
    measurementRange -> Scan(Digit, measurementRangeRx("+")),
    measurement -> Scan(Digit, measurementRx("+")),
    phone -> Scan(PhoneOpen | Digit, phone),
    email -> Scan(EmailLocal, email),
    url -> Scan(UrlStart, url),
    regulation -> Scan(Cited, regulation),
    rangeIndicator -> Scan(RangeWord, rangeIndicator))

  /** Word heads by their first letter, with the class each one starts:
    * the first three letters of every month name, `http`/`www.`, and the
    * range words.
    */
  private val heads: Array[Array[(String, Int)]] = {
    val all = months.split('|').map(_.take(3)).distinct.map(_ -> MonthWord) ++
      Seq("http", "www.").map(_ -> UrlStart) ++ rangeWords.split('|').map(_ -> RangeWord)
    Array.tabulate(26)(k => all.filter(_._1.charAt(0) == 'a' + k))
  }

  private val citeCues = Seq("CFR", "USC", "C.F.R", "U.S.C")

  private def asciiLetter(c: Char): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def asciiDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def asciiWord(c: Char): Boolean = asciiLetter(c) || asciiDigit(c) || c == '_'
  private def emailLocal(c: Char): Boolean =
    asciiLetter(c) || asciiDigit(c) || c == '.' || c == '_' || c == '%' || c == '+' || c == '-'

  /** `t` holds `head` (lower-case ASCII) at `i`, with ASCII letters
    * folded as `(?i)` folds them and every other char compared exactly.
    */
  private def headAt(t: String, i: Int, head: String): Boolean = {
    var j = 0
    while (j < head.length && i + j < t.length && {
      val c = t.charAt(i + j)
      val h = head.charAt(j)
      c == h || (h >= 'a' && h <= 'z' && c == h - 32)
    }) j += 1
    j == head.length
  }

  /** The candidate starts of one text, ascending, each with its trigger
    * class bits.
    */
  private[graft] final class Candidates(val starts: Array[Int], val classes: Array[Byte])

  /** One linear pass over `t` that finds the candidate starts of every
    * trigger class.
    *
    * Invariant: a pattern can match only at a candidate of one of its
    * `triggers`, so running it at those candidates finds what `find()`
    * finds. Each class is a superset of what its patterns require:
    *  - `\b` before a word char fails when the char before it is a word
    *    char. JDK 17's `\b` counts every letter or digit and `_` as a
    *    word char (not only ASCII), so a start is dropped only when the
    *    char before it is an ASCII letter, digit or `_`, a word char
    *    under any definition; a start after `é` stays a candidate.
    *  - `(?i)` folds ASCII letters only, and so does `headAt`.
    *  - money and phone have alternatives that start at `$€£¥` and `(`
    *    or `+` with no `\b`.
    *  - an email match runs from inside the local-part run before its
    *    `@` to that `@`'s domain, so the domain is checked once per `@`
    *    and its run becomes candidates only when it matches: a hostile
    *    run costs one walk, not one walk per start.
    *  - regulation's CFR/USC gate is read in the same pass.
    */
  private[graft] def candidates(t: String): Candidates = {
    val n = t.length
    val bits = new Array[Byte](n)
    var cited = false
    var domain: java.util.regex.Matcher = null
    var i = 0
    while (i < n) {
      val c = t.charAt(i)
      val wordStart = i == 0 || !asciiWord(t.charAt(i - 1))
      if (asciiDigit(c)) { if (wordStart) bits(i) = Digit.toByte }
      else if (asciiLetter(c)) {
        if (wordStart) {
          val hs = heads((c | 0x20) - 'a')
          var b = 0
          var h = 0
          while (h < hs.length) { if (headAt(t, i, hs(h)._1)) b |= hs(h)._2; h += 1 }
          bits(i) = b.toByte
        }
        if (!cited && (c == 'C' || c == 'U')) cited = citeCues.exists(t.startsWith(_, i))
      } else if (c == '$' || c == '€' || c == '£' || c == '¥') bits(i) = Currency.toByte
      else if (c == '(' || c == '+') bits(i) = PhoneOpen.toByte
      else if (c == '@') {
        if (domain == null) domain = emailDomainRx.matcher(t).useTransparentBounds(true)
        if (domain.region(i + 1, n).lookingAt()) {
          var k = i - 1
          while (k >= 0 && emailLocal(t.charAt(k))) { bits(k) = (bits(k) | EmailLocal).toByte; k -= 1 }
        }
      }
      i += 1
    }
    var count = 0
    i = 0
    while (i < n) { if (bits(i) != 0) count += 1; i += 1 }
    val starts = new Array[Int](count)
    val classes = new Array[Byte](count)
    var k = 0
    i = 0
    while (i < n) {
      val b = bits(i)
      if (b != 0) {
        starts(k) = i
        classes(k) = (if (cited && (b & Digit) != 0) b | Cited else b).toByte
        k += 1
      }
      i += 1
    }
    new Candidates(starts, classes)
  }

  /** Per-type caps (`service_processor.py:925-988`). */
  val caps: Map[String, Int] = Map(
    "DATE" -> 30, "TIME" -> 10, "MONEY" -> 40, "MEASUREMENT" -> 50,
    "PHONE" -> 10, "EMAIL" -> 10, "URL" -> 10, "REGULATION" -> 30,
    "PERSON" -> 30, "ORG" -> 50, "GPE" -> 50, "LOC" -> 50,
    "RANGE_INDICATOR" -> 20)
}
