package graft.normalize

import graft.model.{CanonicalEntity, EntityMention, Mention}
import graft.matching.{AhoCorasick, Corpora}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Normalization phase (SURVEY.md §2.5, N1-N12): canonicalize entities
  * per type, allocate stable ids, and globally replace mentions with
  * `‖canonical‖id‖` markers — the reference's
  * `knowledge/extractors/entity_normalizer.py:187-346` semantics.
  * All document-local (a plain Scala groupBy, never a Spark shuffle).
  */
object Normalizer {

  final case class NormalizationResult(
      canonical: Seq[CanonicalEntity],
      normalizedText: String,
      mentionCount: Int,
      canonicalCount: Int) {
    /** N12: entity reduction percentage. */
    def reductionPct: Double =
      if (mentionCount == 0) 0.0
      else math.rint((1.0 - canonicalCount.toDouble / mentionCount) * 10000) / 100.0
  }

  private val idPrefix: Map[String, String] = Map(
    "PERSON" -> "p", "ORG" -> "o", "GPE" -> "g", "LOC" -> "l",
    "DATE" -> "d", "TIME" -> "t", "MONEY" -> "m", "MEASUREMENT" -> "ms",
    "PHONE" -> "ph", "EMAIL" -> "em", "URL" -> "ur", "REGULATION" -> "rg")

  // ------------------------------------------------------------- persons

  /** Strip titles and suffixes (`entity_normalizer.py:437-455`). */
  def cleanPersonName(name: String): String = {
    val toks = name.split("\\s+").toSeq
    val body = toks
      .dropWhile(t => Corpora.personTitles.contains(t.toLowerCase.stripSuffix(".")))
      .reverse
      .dropWhile(t => Corpora.personSuffixes.contains(t.toLowerCase.stripSuffix(".")))
      .reverse
    body.mkString(" ")
  }

  private def isInitial(t: String): Boolean =
    t.length <= 2 && t.nonEmpty && Character.isUpperCase(t.charAt(0)) &&
      (t.length == 1 || t.charAt(1) == '.')

  /** Character trigram fingerprint similarity (LSH-style n-gram grouping,
    * `entity_normalizer.py:456-513`), threshold 0.4.
    */
  def trigramSimilarity(a: String, b: String): Double = {
    def grams(s: String): Set[String] = {
      val t = s.toLowerCase.replaceAll("[^a-z]", "")
      if (t.length < 3) Set(t) else (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
    }
    val (ga, gb) = (grams(a), grams(b))
    if (ga.isEmpty || gb.isEmpty) 0.0
    else ga.intersect(gb).size.toDouble / ga.union(gb).size
  }

  /** Can two cleaned person-name variants refer to the same person?
    * Last tokens match and first tokens are compatible (equal / initial /
    * one variant is last-name-only), or trigram similarity ≥ 0.4.
    */
  def sameperson(a: String, b: String): Boolean = {
    val ta = a.split("\\s+").filter(_.nonEmpty)
    val tb = b.split("\\s+").filter(_.nonEmpty)
    if (ta.isEmpty || tb.isEmpty) return false
    val lastMatch = ta.last.equalsIgnoreCase(tb.last)
    if (lastMatch) {
      if (ta.length == 1 || tb.length == 1) true
      else {
        val (fa, fb) = (ta.head, tb.head)
        fa.equalsIgnoreCase(fb) ||
          (isInitial(fa) && fb.toLowerCase.startsWith(fa.substring(0, 1).toLowerCase)) ||
          (isInitial(fb) && fa.toLowerCase.startsWith(fb.substring(0, 1).toLowerCase))
      }
    } else trigramSimilarity(a, b) >= 0.4
  }

  /** Canonical rendering: the variant with the most full (non-initial)
    * tokens, rendered without middle initials — "Mr. Smith" / "John A.
    * Smith" / "John Smith" → "John Smith" (TESTING-PLAN.md:22-49).
    */
  def canonicalPersonForm(variants: Seq[String]): String = {
    val best = variants.maxBy(v => (v.split("\\s+").count(t => !isInitial(t)), v.length))
    best.split("\\s+").filter(t => !isInitial(t)).mkString(" ")
  }

  // ---------------------------------------------------------------- orgs

  private val legalSuffixNorm = Map(
    "incorporated" -> "Inc", "inc" -> "Inc", "inc." -> "Inc",
    "corporation" -> "Corp", "corp" -> "Corp", "corp." -> "Corp",
    "limited" -> "Ltd", "ltd" -> "Ltd", "ltd." -> "Ltd",
    "llc" -> "LLC", "llp" -> "LLP", "company" -> "Co", "co." -> "Co")

  /** ORG acronym expansion map (`entity_normalizer.py:514-628`). */
  val orgAcronyms: Map[String, String] = Map(
    "osha" -> "Occupational Safety and Health Administration",
    "epa" -> "Environmental Protection Agency",
    "fda" -> "Food and Drug Administration",
    "sec" -> "Securities and Exchange Commission",
    "irs" -> "Internal Revenue Service",
    "who" -> "World Health Organization",
    "un" -> "United Nations", "mit" -> "MIT")

  def normalizeOrgName(name: String): String = {
    val expanded = orgAcronyms.getOrElse(name.toLowerCase, name)
    val toks = expanded.split("\\s+")
    if (toks.isEmpty) return expanded
    val lastLower = toks.last.toLowerCase
    legalSuffixNorm.get(lastLower) match {
      case Some(norm) => (toks.dropRight(1) :+ norm).mkString(" ")
      case None => expanded
    }
  }

  /** An ORG name's comparison form: (core, name), where the core is the
    * lowercased normalized name without its legal suffix.
    */
  private def orgForm(name: String): (String, String) = {
    val t = normalizeOrgName(name).toLowerCase
    val core = legalSuffixNorm.keysIterator.foldLeft(t)((acc, suf) => acc.stripSuffix(" " + suf))
      .stripSuffix(" inc").stripSuffix(" corp").stripSuffix(" ltd").stripSuffix(" co").trim
    (core, name)
  }

  /** Same organization: equal cores, or trigram similarity ≥ 0.6. */
  private def sameOrg(a: (String, String), b: (String, String)): Boolean =
    a._1 == b._1 || trigramSimilarity(a._2, b._2) >= 0.6

  // --------------------------------------------------------- value types

  private val monthNum: Map[String, Int] = Map(
    "january" -> 1, "jan" -> 1, "february" -> 2, "feb" -> 2, "march" -> 3,
    "mar" -> 3, "april" -> 4, "apr" -> 4, "may" -> 5, "june" -> 6,
    "jun" -> 6, "july" -> 7, "jul" -> 7, "august" -> 8, "aug" -> 8,
    "september" -> 9, "sep" -> 9, "sept" -> 9, "october" -> 10, "oct" -> 10,
    "november" -> 11, "nov" -> 11, "december" -> 12, "dec" -> 12)

  private val dMonthName = java.util.regex.Pattern.compile(
    "(?i)\\b([a-z]+)\\.?\\s+(\\d{1,2})(?:st|nd|rd|th)?(?:\\s*[-–]\\s*\\d{1,2})?,?\\s*(\\d{4})?")
  private val dDayFirst = java.util.regex.Pattern.compile(
    "(?i)\\b(\\d{1,2})\\s+([a-z]+)\\.?,?(?:\\s+(\\d{4}))?")
  private val dIso = java.util.regex.Pattern.compile("\\b(\\d{4})-(\\d{2})-(\\d{2})\\b")
  private val dNumeric = java.util.regex.Pattern.compile("\\b(\\d{1,2})/(\\d{1,2})/(\\d{2,4})\\b")

  /** N5: DATE → ISO-8601. US month/day/year assumption for numerics;
    * 2-digit years pivot at 50 (`entity_normalizer.py:784-822,1181-1283`).
    * Returns (iso | original when incomplete, year, month, day).
    */
  def normalizeDate(s: String): (String, Int, Int, Int) = {
    def mk(y: Int, m: Int, d: Int): (String, Int, Int, Int) =
      (f"$y%04d-$m%02d-$d%02d", y, m, d)
    val iso = dIso.matcher(s)
    if (iso.find()) return mk(iso.group(1).toInt, iso.group(2).toInt, iso.group(3).toInt)
    // day-first ("15 January 2024") before month-first, so the year's
    // digits can't be mistaken for a day
    val df = dDayFirst.matcher(s)
    if (df.find() && monthNum.contains(df.group(2).toLowerCase)) {
      val m = monthNum(df.group(2).toLowerCase)
      val d = df.group(1).toInt
      val y = Option(df.group(3)).map(_.toInt).getOrElse(0)
      return if (y > 0) mk(y, m, d) else (s, 0, m, d)
    }
    val mn = dMonthName.matcher(s)
    if (mn.find() && monthNum.contains(mn.group(1).toLowerCase)) {
      val m = monthNum(mn.group(1).toLowerCase)
      val d = mn.group(2).toInt
      val y = Option(mn.group(3)).map(_.toInt).getOrElse(0)
      return if (y > 0) mk(y, m, d) else (s, 0, m, d)
    }
    val nu = dNumeric.matcher(s)
    if (nu.find()) {
      val m = nu.group(1).toInt
      val d = nu.group(2).toInt
      var y = nu.group(3).toInt
      if (y < 100) y = if (y >= 50) 1900 + y else 2000 + y
      if (m >= 1 && m <= 12 && d >= 1 && d <= 31) return mk(y, m, d)
    }
    (s, 0, 0, 0)
  }

  private val timeRx = java.util.regex.Pattern.compile(
    "(?i)\\b(\\d{1,2})(?::(\\d{2}))?(?::(\\d{2}))?\\s*(am|pm|a\\.m\\.|p\\.m\\.)?")

  /** N6: TIME → 24h "HH:MM" (`entity_normalizer.py:823-861,1284-1331`). */
  def normalizeTime(s: String): String = {
    val m = timeRx.matcher(s)
    if (!m.find()) return s
    var h = m.group(1).toInt
    val min = Option(m.group(2)).map(_.toInt).getOrElse(0)
    val ap = Option(m.group(4)).map(_.toLowerCase.replace(".", ""))
    ap match {
      case Some("pm") if h < 12 => h += 12
      case Some("am") if h == 12 => h = 0
      case _ => ()
    }
    f"$h%02d:$min%02d"
  }

  private val currencySymbols = Map('$' -> "USD", '€' -> "EUR", '£' -> "GBP", '¥' -> "JPY")
  private val magnitudes = Map(
    "k" -> 1e3, "thousand" -> 1e3, "m" -> 1e6, "million" -> 1e6,
    "b" -> 1e9, "bn" -> 1e9, "billion" -> 1e9, "t" -> 1e12, "trillion" -> 1e12)
  private val moneyRx = java.util.regex.Pattern.compile(
    "(?i)([$€£¥])?\\s?(\\d{1,3}(?:,\\d{3})*(?:\\.\\d+)?)\\s?(k|m|bn|b|t|thousand|million|billion|trillion)?")

  /** N7: MONEY → (canonical string, numeric value, currency) with k/M/B/T
    * multipliers (`entity_normalizer.py:862-955,1783-1824`).
    * "$2.5M" → ("$2,500,000", 2500000.0, "USD").
    */
  def normalizeMoney(s: String): (String, Double, String) = {
    val m = moneyRx.matcher(s)
    if (!m.find()) return (s, 0.0, "")
    val cur = Option(m.group(1)).map(g => currencySymbols(g.charAt(0))).getOrElse {
      val low = s.toLowerCase
      if (low.contains("dollar") || low.contains("usd")) "USD"
      else if (low.contains("eur")) "EUR" else if (low.contains("gbp")) "GBP" else "USD"
    }
    val base = m.group(2).replace(",", "").toDouble
    val mult = Option(m.group(3)).map(g => magnitudes(g.toLowerCase)).getOrElse(1.0)
    val v = base * mult
    val sym = cur match { case "USD" => "$"; case "EUR" => "€"; case "GBP" => "£"; case "JPY" => "¥"; case _ => "" }
    val canonical =
      if (v == math.rint(v)) sym + f"${v.toLong}%,d"
      else sym + f"$v%,.2f"
    (canonical, v, cur)
  }

  private val toMeters = Map(
    "feet" -> 0.3048, "foot" -> 0.3048, "ft" -> 0.3048,
    "inches" -> 0.0254, "inch" -> 0.0254,
    "yards" -> 0.9144, "yard" -> 0.9144, "yd" -> 0.9144,
    "miles" -> 1609.344, "mile" -> 1609.344, "mi" -> 1609.344,
    "meters" -> 1.0, "meter" -> 1.0, "metres" -> 1.0, "metre" -> 1.0, "m" -> 1.0,
    "centimeters" -> 0.01, "centimeter" -> 0.01, "cm" -> 0.01,
    "millimeters" -> 0.001, "millimeter" -> 0.001, "mm" -> 0.001,
    "kilometers" -> 1000.0, "kilometer" -> 1000.0, "km" -> 1000.0)
  private val toKg = Map(
    "pounds" -> 0.45359237, "pound" -> 0.45359237, "lbs" -> 0.45359237, "lb" -> 0.45359237,
    "ounces" -> 0.028349523125, "ounce" -> 0.028349523125, "oz" -> 0.028349523125,
    "kilograms" -> 1.0, "kilogram" -> 1.0, "kg" -> 1.0,
    "grams" -> 0.001, "gram" -> 0.001, "g" -> 0.001,
    "tons" -> 907.18474, "ton" -> 907.18474, "tonnes" -> 1000.0, "tonne" -> 1000.0)
  private val measurementRx = java.util.regex.Pattern.compile(
    "(?i)(\\d+(?:\\.\\d+)?)(?:\\s*(?:-|–|to|through)\\s*(\\d+(?:\\.\\d+)?))?\\s*([a-z°%]+)")

  /** N8: MEASUREMENT → metric (length→meters, weight→kg, temp→°C),
    * range-aware (`entity_normalizer.py:956-1102,1881-1965`).
    * Returns (canonical metric string, value, unit) — non-convertible
    * units pass through.
    */
  def normalizeMeasurement(s: String): (String, Double, String) = {
    val m = measurementRx.matcher(s)
    if (!m.find()) return (s, 0.0, "")
    val v1 = m.group(1).toDouble
    val v2o = Option(m.group(2)).map(_.toDouble)
    val unit = m.group(3).toLowerCase
    def round3(x: Double) = math.rint(x * 1000) / 1000
    def fmt(x: Double) = if (x == math.rint(x)) x.toLong.toString else round3(x).toString
    if (toMeters.contains(unit)) {
      val f = toMeters(unit)
      val c = v2o match {
        case Some(v2) => s"${fmt(v1 * f)}-${fmt(v2 * f)} m"
        case None => s"${fmt(v1 * f)} m"
      }
      (c, round3(v1 * f), "m")
    } else if (toKg.contains(unit)) {
      val f = toKg(unit)
      val c = v2o match {
        case Some(v2) => s"${fmt(v1 * f)}-${fmt(v2 * f)} kg"
        case None => s"${fmt(v1 * f)} kg"
      }
      (c, round3(v1 * f), "kg")
    } else (s, v1, unit)
  }

  /** N9: PHONE → E.164 (`entity_normalizer.py:1103-1141,1332-1417`). */
  def normalizePhone(s: String): String = {
    val digits = s.filter(Character.isDigit)
    if (digits.length == 10) "+1" + digits
    else if (digits.length == 11 && digits.startsWith("1")) "+" + digits
    else if (s.trim.startsWith("+")) "+" + digits
    else s
  }

  // ------------------------------------------------------- canonicalize

  private def normalizedFormOf(tpe: String, value: String): String = tpe match {
    case "DATE" => normalizeDate(value)._1
    case "TIME" => normalizeTime(value)
    case "MONEY" => normalizeMoney(value)._1
    case "MEASUREMENT" => normalizeMeasurement(value)._1
    case "PHONE" => normalizePhone(value)
    case "EMAIL" | "URL" => value.toLowerCase
    case _ => value
  }

  /** First-match grouping for PERSON and ORG, whose equivalence is not
    * transitive: a mention joins the first group whose head's form it
    * matches. `form` runs once per mention, not once per comparison.
    */
  private def firstMatch[F](ordered: Seq[EntityMention], form: String => F)(
      same: (F, F) => Boolean): Seq[ArrayBuffer[EntityMention]] = {
    val groups = new ArrayBuffer[(F, ArrayBuffer[EntityMention])]
    ordered.foreach { e =>
      val f = form(e.value)
      groups.find(g => same(g._1, f)) match {
        case Some((_, grp)) => grp += e
        case None => groups += ((f, ArrayBuffer(e)))
      }
    }
    groups.map(_._2).toSeq
  }

  /** N1-N4: group mentions of one type into canonical entities, allocate
    * ids in first-mention order (p001, p002, …). PERSON and ORG group by
    * first match (`sameperson`, `sameOrg`); every other type groups by
    * its normalized form, computed once per mention, and that form is
    * the group's `normalized` value.
    */
  def canonicalize(entities: Seq[EntityMention]): Seq[CanonicalEntity] = {
    val out = new ArrayBuffer[CanonicalEntity]
    entities.groupBy(_.`type`).toSeq.sortBy(_._1).foreach { case (tpe, ents) =>
      val ordered = ents.sortBy(_.start)
      // (normalized, mentions) per group, in first-mention order
      val groups: Seq[(String, ArrayBuffer[EntityMention])] = tpe match {
        case "PERSON" => firstMatch(ordered, cleanPersonName)(sameperson).map(grp =>
          (canonicalPersonForm(grp.map(e => cleanPersonName(e.value)).toSeq), grp))
        case "ORG" => firstMatch(ordered, orgForm)(sameOrg).map(grp =>
          (normalizeOrgName(grp.map(_.value).maxBy(_.length)), grp))
        case _ =>
          val byForm = new LinkedHashMap[String, ArrayBuffer[EntityMention]]
          ordered.foreach(e => byForm.getOrElseUpdate(normalizedFormOf(tpe, e.value), new ArrayBuffer) += e)
          byForm.toSeq
      }
      val prefix = idPrefix.getOrElse(tpe, tpe.toLowerCase.take(2))
      groups.zipWithIndex.foreach { case ((normalized, grp), gi) =>
        val variants = grp.map(_.value).distinct.toSeq
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

  // ---------------------------------------------------- global replace

  /** N11: AC-based simultaneous replacement of all mentions with
    * `‖canonical‖id‖`, longest-match-first with word-boundary checks;
    * markdown-wrapped mentions (`**x**` > `` `x` `` > `*x*` > plain)
    * consume their wrappers (`entity_normalizer.py:210-346`).
    */
  def replaceAll(text: String, canonical: Seq[CanonicalEntity]): String = {
    if (canonical.isEmpty) return text
    // pattern -> (canonical, id); wrapped variants are longer so AC
    // longest-match prefers them automatically
    val patterns = new LinkedHashMap[String, (String, String)]
    canonical.foreach { ce =>
      ce.aliases.foreach { a =>
        Seq(s"**$a**", s"`$a`", s"*$a*", a).foreach { v =>
          if (!patterns.contains(v.toLowerCase)) patterns(v.toLowerCase) = (ce.normalized, ce.id)
        }
      }
    }
    val hits = AhoCorasick.build(patterns.keys.toSeq).findAll(text)
      .filter { h => // word-boundary on the inner text (wrappers are non-word anyway)
        (h.start == 0 || !Character.isLetterOrDigit(text.charAt(h.start - 1)) ||
          !Character.isLetterOrDigit(text.charAt(h.start))) &&
        (h.end == text.length || !Character.isLetterOrDigit(text.charAt(h.end)) ||
          !Character.isLetterOrDigit(text.charAt(h.end - 1)))
      }
    val sb = new java.lang.StringBuilder
    var pos = 0
    AhoCorasick.longestFirst(hits)(_.start, _.end).foreach { h =>
      val (canon, id) = patterns(h.pattern)
      sb.append(text, pos, h.start).append(s"‖$canon‖$id‖")
      pos = h.end
    }
    sb.append(text.substring(pos))
    sb.toString
  }

  /** N1 driver: canonicalize all entities + produce replaced text + stats. */
  def run(text: String, entities: Seq[EntityMention]): NormalizationResult = {
    val canonical = canonicalize(entities)
    val replaced = replaceAll(text, canonical)
    NormalizationResult(canonical, replaced, entities.length, canonical.length)
  }
}
