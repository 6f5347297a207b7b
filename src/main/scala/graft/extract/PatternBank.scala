package graft.extract

import java.util.regex.Pattern

/** Precompiled universal-entity pattern bank — JVM re-expression of the
  * reference's FLPC (Rust regex) pattern set
  * (`config/pattern_sets.yaml:101-196`, engine `fusion/flpc_engine.py:141-276`).
  * The reference's patterns are lookaround-free, so they port directly to
  * `java.util.regex` (SURVEY.md §7.4 item 3). Compiled once per JVM
  * (executor) — static fields, shared by all partitions.
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

  /** Measurement range first: "30-37 inches" is ONE measurement, not two
    * (`service_processor.py:443-524`).
    */
  val measurementRange: Pattern = Pattern.compile(
    s"(?i)\\b\\d+(?:\\.\\d+)?\\s*(?:-|–|to|through)\\s*\\d+(?:\\.\\d+)?\\s*(?:$units)\\b")
  val measurement: Pattern = Pattern.compile(
    s"(?i)\\b\\d+(?:\\.\\d+)?\\s*(?:$units)(?![a-z])")

  val phone: Pattern = Pattern.compile(
    "(?:\\+1[\\s.-]?)?(?:\\(\\d{3}\\)\\s?|\\b\\d{3}[\\s.-])\\d{3}[\\s.-]\\d{4}\\b")

  val email: Pattern = Pattern.compile(
    "\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b")

  val url: Pattern = Pattern.compile(
    "(?i)\\bhttps?://[^\\s<>()\\[\\]{}\"']+|\\bwww\\.[^\\s<>()\\[\\]{}\"']+")

  /** Gated on CFR/USC substring before running (`service_processor.py:990-1000`). */
  val regulation: Pattern = Pattern.compile(
    "\\b\\d+\\s+(?:CFR|USC|C\\.F\\.R\\.|U\\.S\\.C\\.)\\s*(?:Part\\s+)?§?\\s*\\d+(?:\\.\\d+)?(?:\\([a-z0-9]+\\))*+")

  val rangeIndicator: Pattern = Pattern.compile(
    "(?i)\\b(?:up to|at least|no more than|between|from|to|through|thru)\\b")

  /** Per-type caps (`service_processor.py:925-988`). */
  val caps: Map[String, Int] = Map(
    "DATE" -> 30, "TIME" -> 10, "MONEY" -> 40, "MEASUREMENT" -> 50,
    "PHONE" -> 10, "EMAIL" -> 10, "URL" -> 10, "REGULATION" -> 30,
    "PERSON" -> 30, "ORG" -> 50, "GPE" -> 50, "LOC" -> 50,
    "RANGE_INDICATOR" -> 20)
}
