package graft.extract

import java.util.regex.Pattern

/** Precompiled universal-entity pattern bank — JVM re-expression of the
  * reference's FLPC (Rust regex) pattern set
  * (`config/pattern_sets.yaml:101-196`, engine `fusion/flpc_engine.py:141-276`).
  * The reference's patterns are lookaround-free, so they port directly to
  * `java.util.regex` (SURVEY.md §7.4 item 3). Compiled once per JVM
  * (executor) — static fields, shared by all partitions.
  *
  * No pattern makes a `find()` pass: `triggers` pairs each pattern with
  * the [[Scan]] that runs it at the candidates of its trigger classes.
  */
object PatternBank {

  private[extract] val months =
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

  /** A lookahead for the first char of some unit, derived from `units`. */
  private val unitAhead = units.split('|').map(_.head).distinct
    .map(c => if (c.isLetterOrDigit) s"$c" else s"\\$c").mkString("(?=[", "", "])")

  // The measurement patterns with `q` after each digit and space run:
  // "" for the patterns, "+" for their possessive twins (see `triggers`),
  // which also look ahead for a unit's first char before the alternation
  private def measurementRangeRx(q: String) = Pattern.compile(
    s"(?i)\\b\\d+$q(?:\\.\\d+$q)?\\s*$q(?:-|–|to|through)\\s*$q\\d+$q(?:\\.\\d+$q)?\\s*$q${ahead(q)}(?:$units)\\b")
  private def measurementRx(q: String) = Pattern.compile(
    s"(?i)\\b\\d+$q(?:\\.\\d+$q)?\\s*$q${ahead(q)}(?:$units)(?![a-z])")
  private def ahead(q: String) = if (q.isEmpty) "" else unitAhead

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
  private[extract] val emailDomainRx: Pattern = Pattern.compile(emailDomain)

  val url: Pattern = Pattern.compile(
    "(?i)\\bhttps?://[^\\s<>()\\[\\]{}\"']+|\\bwww\\.[^\\s<>()\\[\\]{}\"']+")

  /** Gated on CFR/USC substring before running (`service_processor.py:990-1000`). */
  val regulation: Pattern = Pattern.compile(
    "\\b\\d+\\s+(?:CFR|USC|C\\.F\\.R\\.|U\\.S\\.C\\.)\\s*(?:Part\\s+)?§?\\s*\\d+(?:\\.\\d+)?(?:\\([a-z0-9]+\\))*+")

  private[extract] val rangeWords = "up to|at least|no more than|between|from|to|through|thru"
  val rangeIndicator: Pattern = Pattern.compile(s"(?i)\\b(?:$rangeWords)\\b")

  // ------------------------------------------------------------ triggers

  /** Each pattern with the [[Scan]] that runs it: its trigger classes,
    * whose candidates hold every start the pattern can match at, and
    * money's shared-outcome rule. The scan runs the pattern itself,
    * except for the measurements: their twins are possessive on every
    * digit and space run, so a digit run is not re-tried one shorter at
    * a time (75 unit alternatives per try), and they try the units only
    * where one can start. The twins match the same text, because a
    * shorter run leaves a digit or space next, no `.`, space run, range
    * word or unit that may follow starts with one, and every unit starts
    * with a char of `unitAhead`.
    */
  private[graft] val triggers: Map[Pattern, Scan] = {
    import Scan._
    Map(
      dateRange -> new Scan(dateRange, MonthWord),
      date -> new Scan(date, Digit | MonthWord),
      time -> new Scan(time, Digit),
      money -> new Scan(money, Currency | Digit, digitGroupEnd),
      measurementRange -> new Scan(measurementRangeRx("+"), Digit),
      measurement -> new Scan(measurementRx("+"), Digit),
      phone -> new Scan(phone, Open | Digit),
      email -> new Scan(email, EmailLocal),
      url -> new Scan(url, UrlStart),
      regulation -> new Scan(regulation, Cited),
      rangeIndicator -> new Scan(rangeIndicator, RangeWord))
  }

  /** The trigger classes of all eleven patterns. */
  private[graft] val classes: Int = triggers.values.map(_.classes).reduce(_ | _)

  /** Regulation's gate: a text that names none of these has no Cited starts. */
  private[extract] val citeCues = Seq("CFR", "USC", "C.F.R", "U.S.C")

  /** Per-type caps (`service_processor.py:925-988`). */
  val caps: Map[String, Int] = Map(
    "DATE" -> 30, "TIME" -> 10, "MONEY" -> 40, "MEASUREMENT" -> 50,
    "PHONE" -> 10, "EMAIL" -> 10, "URL" -> 10, "REGULATION" -> 30,
    "PERSON" -> 30, "ORG" -> 50, "GPE" -> 50, "LOC" -> 50,
    "RANGE_INDICATOR" -> 20)
}
