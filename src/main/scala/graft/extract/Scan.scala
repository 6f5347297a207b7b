package graft.extract

import graft.model.EntityMention
import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable.ArrayBuffer

/** One pattern of the trigger scan, the one way a per-document pattern
  * runs: `rx` runs `lookingAt` only at the candidate starts of its
  * trigger `classes` ([[Scan.candidates]]), never as a `find()` pass.
  *
  * Invariant: every start at which `rx` can match is a candidate of one
  * of its classes. Running `rx` at those candidates in order, and
  * skipping a candidate before the previous match's end as `find()`
  * resumes there, therefore reports the matches `find()` reports, and
  * `replaceAll` builds the string `Matcher.replaceAll` builds. The
  * matcher has transparent and non-anchoring bounds, so `\b`,
  * lookaround and `(?m)^` see the whole text, not the region.
  *
  * `shared` is the pattern's shared-outcome rule: after `rx` fails at a
  * candidate s, `shared(t, s)` is an e such that `rx` matches at no
  * start in [s, e), and the scan resumes at e. Candidates that share
  * one outcome then cost one try, which keeps a pass linear where each
  * try walks the same run. The rules, and why each holds, are stated at
  * [[Scan.bracketEnd]], [[Scan.imageLinkEnd]], [[Scan.digitGroupEnd]]
  * and [[Scan.spaceRunEnd]].
  */
private[graft] final class Scan(val rx: Pattern, val classes: Int,
                                shared: Scan.Rule = Scan.NoRule) {

  /** Hands each match `find()` would report in `c.text` to `f`, in order. */
  private def each(c: Scan.Candidates)(f: Matcher => Unit): Unit = {
    val t = c.text
    val m = rx.matcher(t).useTransparentBounds(true).useAnchoringBounds(false)
    var end = 0
    var i = 0
    while (i < c.starts.length) {
      val s = c.starts(i)
      if (s >= end && (c.classes(i) & classes) != 0) {
        if (m.region(s, t.length).lookingAt()) { f(m); end = m.end() }
        else end = shared(t, s)
      }
      i += 1
    }
  }

  /** The matches, as mentions of type `tpe`. */
  def mentions(c: Scan.Candidates, tpe: String): Seq[EntityMention] = {
    val out = new ArrayBuffer[EntityMention]
    each(c) { m => val g = m.group(); out += EntityMention(g, g, tpe, m.start(), m.end()) }
    out.toSeq
  }

  /** How many times `find()` succeeds. */
  def count(c: Scan.Candidates): Int = {
    var k = 0
    each(c)(_ => k += 1)
    k
  }

  /** `rx.matcher(t).replaceAll(…)`, each match replaced by `by(match)`. */
  def replaceAll(t: String, by: Matcher => String): String = {
    val out = new java.lang.StringBuilder(t.length)
    var last = 0
    each(Scan.candidates(t, classes)) { m =>
      out.append(t, last, m.start()).append(by(m))
      last = m.end()
    }
    out.append(t, last, t.length).toString
  }
}

private[graft] object Scan {

  /** A shared-outcome rule (see [[Scan]]): given a failed candidate s,
    * an e with no match starting in [s, e).
    */
  trait Rule { def apply(t: String, s: Int): Int }

  /** No shared outcome: the scan goes on at the next candidate. */
  val NoRule: Rule = (_, s) => s

  // Trigger classes, one bit each; a class is a superset of the starts
  // its patterns require (see `candidates`)
  final val Digit = 1 // an ASCII digit at a word start whose number can go on (`numberGoesOn`)
  final val Currency = 2 // `$`, `€`, `£` or `¥`: money's first alternative
  final val Open = 4 // `(` or `+`: phone's `\(\d{3}\)` and `\+1`, a citation's `(`
  final val MonthWord = 8 // a word starting with a month name's first three letters
  final val UrlStart = 16 // a word starting with `http` or `www.`
  final val RangeWord = 32 // a word starting with a range indicator
  final val EmailLocal = 64 // in the local-part run before an `@` whose domain matches
  final val Cited = 128 // a Digit start of a text that names CFR, USC, C.F.R or U.S.C
  final val Bang = 256 // `!`: an image link
  final val Bracket = 512 // `[`: a link, a numbered citation or a footnote mark
  final val Star = 1024 // `*`: emphasis
  final val LineStart = 2048 // exactly where `(?m)^` holds
  final val EtAl = 4096 // `et al.`

  private final val Words = MonthWord | UrlStart | RangeWord

  /** Word heads by their first letter, with the class each one starts:
    * the first three letters of every month name, `http`/`www.`, and the
    * range words.
    */
  private lazy val heads: Array[Array[(String, Int)]] = {
    val all = PatternBank.months.split('|').map(_.take(3)).distinct.map(_ -> MonthWord) ++
      Seq("http", "www.").map(_ -> UrlStart) ++ PatternBank.rangeWords.split('|').map(_ -> RangeWord)
    Array.tabulate(26)(k => all.filter(_._1.charAt(0) == 'a' + k))
  }

  private def asciiLetter(c: Char): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def asciiDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def asciiWord(c: Char): Boolean = asciiLetter(c) || asciiDigit(c) || c == '_'
  private def emailLocal(c: Char): Boolean =
    asciiLetter(c) || asciiDigit(c) || c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
  // `\s` without UNICODE_CHARACTER_CLASS
  private def regexSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

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

  /** The digit run at `i` is followed by a char that some Digit pattern
    * takes after its first digit run: `\s`, an ASCII letter (a unit,
    * `am`/`pm`, a currency word, CFR/USC), or one of `-–/:,.°%`. Every
    * Digit alternative has a `\d{1,k}` or `\d+` that must end where the
    * run ends and a non-digit token right after it, so a number followed
    * by anything else (`[`, `)`, the end) starts no match.
    */
  private def numberGoesOn(t: String, i: Int): Boolean = {
    var j = i
    while (j < t.length && asciiDigit(t.charAt(j))) j += 1
    j < t.length && {
      val c = t.charAt(j)
      regexSpace(c) || asciiLetter(c) || "-–/:,.°%".indexOf(c) >= 0
    }
  }

  /** `(?m)^` holds at `i < t.length`: at 0, or after a line terminator
    * other than the `\r` of a `\r\n` (JDK 17's `Caret`, no UNIX_LINES).
    */
  private def lineStart(t: String, i: Int): Boolean = i == 0 || {
    val p = t.charAt(i - 1)
    (p == '\n' || p == '\r' || p == '\u0085' || (p | 1) == '\u2029') &&
      !(p == '\r' && t.charAt(i) == '\n')
  }

  /** The candidate starts of one text, ascending, each with its trigger
    * class bits.
    */
  final class Candidates(val text: String, val starts: Array[Int], val classes: Array[Short])

  /** One linear pass over `t` that finds the candidate starts of the
    * trigger classes in `want` (`Cited` needs `Digit` in `want` too).
    *
    * Invariant: a pattern can match only at a candidate of one of its
    * classes, so running it at those candidates finds what `find()`
    * finds. Each class is a superset of what its patterns require:
    *  - `\b` before a word char fails when the char before it is a word
    *    char. JDK 17's `\b` counts every letter or digit and `_` as a
    *    word char (not only ASCII), so a start is dropped only when the
    *    char before it is an ASCII letter, digit or `_`, a word char
    *    under any definition; a start after `é` stays a candidate.
    *  - `(?i)` folds ASCII letters only, and so does `headAt`.
    *  - a Digit start's number must go on as some Digit pattern goes on
    *    (`numberGoesOn`); each word-start digit run is walked once.
    *  - money and phone have alternatives that start at `$€£¥` and `(`
    *    or `+` with no `\b`.
    *  - an email match runs from inside the local-part run before its
    *    `@` to that `@`'s domain, so the domain is checked once per `@`
    *    and its run becomes candidates only when it matches: a hostile
    *    run costs one walk, not one walk per start.
    *  - regulation's CFR/USC gate is read in the same pass.
    *  - the markdown and citation classes are the literal first char of
    *    their patterns, and `LineStart` is exactly `(?m)^`, which
    *    [[spaceRunEnd]] relies on.
    */
  def candidates(t: String, want: Int): Candidates = {
    val n = t.length
    val bits = new Array[Short](n)
    val hd = if ((want & Words) != 0) heads else null
    val digits = (want & Digit) != 0
    val lines = (want & LineStart) != 0
    val etAl = (want & EtAl) != 0
    var cited = false
    var domain: Matcher = null
    var i = 0
    while (i < n) {
      val c = t.charAt(i)
      val wordStart = i == 0 || !asciiWord(t.charAt(i - 1))
      var b = if (lines && lineStart(t, i)) LineStart else 0
      if (asciiDigit(c)) { if (digits && wordStart && numberGoesOn(t, i)) b |= Digit }
      else if (asciiLetter(c)) {
        if (wordStart && hd != null) {
          val hs = hd((c | 0x20) - 'a')
          var h = 0
          while (h < hs.length) { if (headAt(t, i, hs(h)._1)) b |= hs(h)._2; h += 1 }
        }
        if ((want & Cited) != 0 && !cited && (c == 'C' || c == 'U'))
          cited = PatternBank.citeCues.exists(t.startsWith(_, i))
        if (etAl && c == 'e' && t.startsWith("et al.", i)) b |= EtAl
      } else c match {
        case '$' | '€' | '£' | '¥' => b |= Currency
        case '(' | '+' => b |= Open
        case '!' => b |= Bang
        case '[' => b |= Bracket
        case '*' => b |= Star
        case '@' if (want & EmailLocal) != 0 =>
          if (domain == null) domain = PatternBank.emailDomainRx.matcher(t).useTransparentBounds(true)
          if (domain.region(i + 1, n).lookingAt()) {
            var k = i - 1
            while (k >= 0 && emailLocal(t.charAt(k))) { bits(k) = (bits(k) | EmailLocal).toShort; k -= 1 }
          }
        case _ =>
      }
      bits(i) = (bits(i) | b).toShort
      i += 1
    }
    val citedBit = if (cited) Cited else 0
    def classAt(i: Int): Int = (if ((bits(i) & Digit) != 0) bits(i) | citedBit else bits(i)) & want
    var count = 0
    i = 0
    while (i < n) { if (classAt(i) != 0) count += 1; i += 1 }
    val starts = new Array[Int](count)
    val classes = new Array[Short](count)
    var k = 0
    i = 0
    while (i < n) {
      val b = classAt(i)
      if (b != 0) { starts(k) = i; classes(k) = b.toShort; k += 1 }
      i += 1
    }
    new Candidates(t, starts, classes)
  }

  // ------------------------------------------------------------- rules

  /** Links, `\[([^\]]*)\]\(([^)]*)\)`, failed at the `[` at b: with r
    * the first `]` after b, `[^\]]*` can only stop at r. Every `[` in
    * [b, r) has the same r, and so the same outcome, decided by whether
    * `(` follows r and a `)` comes after that. When `(` follows r, the
    * failure says no `)` comes after r + 1, and every later `[` needs
    * one after its own `](` at or past r: none matches up to the end.
    * With no `]` after b, no later `[` has one either.
    */
  val bracketEnd: Rule = (t, b) => {
    val r = t.indexOf(']', b + 1)
    if (r < 0 || (r + 1 < t.length && t.charAt(r + 1) == '(')) t.length else r
  }

  /** Image links, `!\[…` with the link's tail: a `!` before a `[` fails
    * as that `[` fails ([[bracketEnd]]), and every `!` up to that `[`'s
    * first `]` is followed by a `[` with the same `]`, or by none.
    */
  val imageLinkEnd: Rule = (t, s) =>
    if (s + 1 < t.length && t.charAt(s + 1) == '[') bracketEnd(t, s + 1) else s

  /** Money's digit-group alternative, `\b\d{1,3}(,\d{3})*(\.\d+)?\s*unit\b`,
    * failed at a digit s where `\b` holds (s = 0 or an ASCII char before
    * it, which the Digit class makes a non-word char): every end the
    * `\d{1,3}(,\d{3})*` part can reach from s failed. The run's
    * candidates after s start at a group after a `,`; the ends they can
    * reach are ends of s's run, or ends inside a group, where a digit
    * follows and nothing after `\d{1,3}` can start. So no start up to the
    * end of s's run matches: its first digit run if that is longer than
    * three digits, else that run with each `,ddd` group that follows.
    * Before a non-ASCII char `\b` may fail under JDK's Unicode word
    * chars, and the rule gives no skip.
    */
  val digitGroupEnd: Rule = (t, s) =>
    if (s > 0 && t.charAt(s - 1) >= 128) s
    else {
      var e = s
      while (e < t.length && asciiDigit(t.charAt(e))) e += 1
      if (e - s <= 3)
        while (e + 3 < t.length && t.charAt(e) == ',' && asciiDigit(t.charAt(e + 1)) &&
               asciiDigit(t.charAt(e + 2)) && asciiDigit(t.charAt(e + 3))) e += 4
      e
    }

  /** Footnote marks, `\[\^\d+\]|(?m)^\s*\d+\.…`: a start inside a `\s`
    * run can match only the second alternative, whose `\s*` runs from
    * any line start in the run to the run's end e, where a digit must
    * follow. So all line starts in the run share the outcome at e. The
    * scan's whitespace candidates for it are line starts (`LineStart`
    * is exact), so after one fails no start in [s, e) matches.
    */
  val spaceRunEnd: Rule = (t, s) => {
    var e = s
    while (e < t.length && regexSpace(t.charAt(e))) e += 1
    e
  }
}
