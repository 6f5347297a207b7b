package graft.classify

import graft.model.ExtractedDoc
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A5: per-document keyword / topic / technical-score tagging
  * (`mvp-hyper/core/mvp-hyper-tagger.py` — keywords `:358-376`, topics
  * `:405-438`, technical score `:440-462`, word/term counts `:189-192`,
  * YAML emission shape `:655-670`). The reference runs this tagger over
  * the converted markdown; here it is a document-local function over
  * the SAME classify input string (spans joined by newline), so it
  * fuses into the extraction pass with zero additional shuffle — the
  * only aggregation is per-document, inside the row.
  *
  * Every constant below is CONFIG shared with the DuckDB oracle
  * (OracleSql generates the SQL from these values — the wsTokenCount
  * discipline), so the two engines cannot drift.
  */
object Tagger {

  /** Frequency-keyword parameters (`:358-376`): lowercase [a-z]+ words,
    * stopword-filtered, length > 3, frequency >= 3, top 15. Tie order
    * at equal frequency is word-ascending — an ADAPTATION: the
    * reference's Counter.most_common ties by dict insertion order,
    * which is an implementation accident, not a semantic.
    */
  val MaxKeywords = 15
  val MinKeywordFreq = 3
  val MinKeywordLen = 4

  /** The reference tagger's stop_words (`:168-176`). */
  val StopWords: Set[String] = Set(
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to", "for",
    "of", "with", "by", "from", "as", "is", "was", "are", "were",
    "be", "been", "being", "have", "has", "had", "do", "does", "did",
    "will", "would", "could", "should", "may", "might", "must",
    "can", "shall", "this", "that", "these", "those", "i", "you",
    "he", "she", "it", "we", "they", "them", "their", "what",
    "which", "who", "when", "where", "why", "how", "all", "each",
    "every", "both", "few", "more", "most", "other", "some", "such",
    "no", "not", "only", "own", "same", "so", "than", "too", "very")

  /** `patterns['technical']` (`:91`) and `patterns['code']` (`:96`),
    * verbatim — including the overlapping terms (function, module,
    * class) the reference double-counts.
    */
  val TechnicalTerms: Seq[String] = Seq(
    "algorithm", "function", "method", "system", "process", "implementation",
    "architecture", "framework", "protocol", "specification", "requirement",
    "design", "analysis", "optimization", "performance", "configuration",
    "parameter", "variable", "interface", "component", "module", "class",
    "object", "structure", "database", "network", "security", "encryption",
    "authentication")
  val CodeTerms: Seq[String] = Seq(
    "def ", "class ", "function", "import ", "from ", "return", "if ",
    "else", "for ", "while", "try", "except", "async", "await", "const ",
    "let ", "var ", "public ", "private ", "static", "void", "int ",
    "string", "bool", "package", "module", "namespace")

  /** Special-character set for the technical score (`:447`), counted by
    * set membership (no regex needed on the Scala side); the oracle's
    * RE2 class is spelled in OracleSql from the same characters.
    */
  val SpecialChars: Set[Char] = "(){}[]<>=/\\|@#$%^&*".toSet

  /** Topic lists (`:413-425`) keyed by OUR domain taxonomy: the
    * reference keys on its DocumentType (SAFETY/TECHNICAL/FINANCIAL);
    * this engine's C1 domains map safety->safety, technology->technical,
    * financial->financial. A topic is kept when ANY word of the phrase
    * occurs as a SUBSTRING of the lowercased content (the reference's
    * `word in content_lower`), capped at [[MaxTopics]].
    */
  val SafetyTopics: Seq[String] = Seq(
    "workplace safety", "hazard control", "ppe requirements",
    "emergency procedures", "incident reporting", "safety training",
    "risk assessment", "compliance")
  val TechnicalTopics: Seq[String] = Seq(
    "system architecture", "implementation", "requirements",
    "specifications", "performance", "security", "testing", "deployment")
  val FinancialTopics: Seq[String] = Seq(
    "financial analysis", "budgeting", "revenue", "cost analysis",
    "investment", "accounting", "audit", "compliance")

  /** General fallback (`:429-437`): (cue substring, topic). */
  val FallbackTopics: Seq[(String, String)] = Seq(
    "training" -> "training", "compliance" -> "compliance",
    "report" -> "reporting", "analysis" -> "analysis")
  val MaxTopics = 5

  val topicsByDomain: Map[String, Seq[String]] = Map(
    "safety" -> SafetyTopics,
    "technology" -> TechnicalTopics,
    "financial" -> FinancialTopics)

  /** Each domain's topics with their words, split once: a topic
    * matches when any of its words occurs in the lowercased content.
    */
  private val topicWordsByDomain: Map[String, Seq[(String, Array[String])]] =
    topicsByDomain.map { case (d, ts) => d -> ts.map(t => (t, t.split(" "))) }

  /** Regex SOURCES, shared with the oracle SQL (letters, spaces, \b and
    * \d only — identical semantics in Java regex and RE2).
    *
    * `KeywordWordRegex` is an ADAPTATION: the reference tokenizes
    * keywords with `\b[a-z]+\b` (`mvp-hyper-tagger.py:361`), which skips
    * letter runs touching digits or `_`; here every letter run counts,
    * so `kg` in `100kg` is a keyword candidate. Spark and the oracle
    * share this constant, so both sides agree.
    */
  val KeywordWordRegex: String = "[a-z]+"
  val TechnicalRegex: String = "\\b(" + TechnicalTerms.mkString("|") + ")\\b"
  val CodeRegex: String = "\\b(" + CodeTerms.mkString("|") + ")\\b"
  val NumberRegex: String = "\\b\\d+\\b"

  /** The RE2 character class matching [[SpecialChars]] — only for the
    * oracle SQL ('[', ']' and '\' escaped; the rest are literal inside
    * a class in both engines). The Scala side counts by set membership.
    */
  val SpecialCharClassRegex: String = "[(){}\\[\\]<>=/\\\\|@#$%^&*]"

  private val wordRx = java.util.regex.Pattern.compile(KeywordWordRegex)
  private val technicalRx = java.util.regex.Pattern.compile(TechnicalRegex)
  private val codeRx = java.util.regex.Pattern.compile(CodeRegex)
  private val numberRx = java.util.regex.Pattern.compile(NumberRegex)
  private val wsRx = java.util.regex.Pattern.compile(graft.textops.TextOps.WsTokenRegex)

  private def countMatches(p: java.util.regex.Pattern, s: String): Int = {
    val m = p.matcher(s); var n = 0; while (m.find()) n += 1; n
  }

  final case class DocTags(
      keywords: Seq[(String, Long)], // (keyword, freq), rank order
      topics: Seq[String],
      technical_score: Double,
      word_count: Long,
      unique_terms: Long)

  /** Keyword half (`:358-376`) — the only work the x_keywords facet
    * pays; `lower` is the lowercased content.
    */
  private[classify] def keywordsOf(lower: String): Seq[(String, Long)] = {
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    val wm = wordRx.matcher(lower)
    while (wm.find()) {
      val w = wm.group()
      if (w.length >= MinKeywordLen && !StopWords.contains(w))
        freq.update(w, freq.getOrElse(w, 0L) + 1L)
    }
    freq.toSeq
      .filter(_._2 >= MinKeywordFreq)
      .sortBy { case (w, n) => (-n, w) }
      .take(MaxKeywords)
  }

  /** Topic/score/count half (`:405-462`, `:189-192`) — the only work
    * the x_tags_meta facet pays. Returns (topics, technical_score,
    * word_count, unique_terms).
    */
  private[classify] def metaOf(content: String, lower: String,
      primaryDomain: String): (Seq[String], Double, Long, Long) = {
    val domainTopics = topicWordsByDomain.getOrElse(primaryDomain, Seq.empty)
      .collect { case (t, words) if words.exists(lower.contains) => t }
    val topics =
      (if (domainTopics.nonEmpty) domainTopics
       else FallbackTopics.collect { case (cue, t) if lower.contains(cue) => t })
        .take(MaxTopics)
    val (wordCount, uniqueTerms) = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      var n = 0L
      val m = wsRx.matcher(lower)
      while (m.find()) { n += 1; seen += m.group() }
      (n, seen.size.toLong)
    }
    val technicalScore =
      if (wordCount == 0L) 0.0
      else {
        val tech = countMatches(technicalRx, lower)
        val code = countMatches(codeRx, lower)
        val nums = countMatches(numberRx, lower)
        val specials = content.count(SpecialChars.contains)
        val raw = (tech + code * 2).toDouble / wordCount * 10 +
          nums.toDouble / wordCount * 5 +
          specials.toDouble / wordCount * 2
        math.rint(math.min(1.0, raw) * 100) / 100
      }
    (topics, technicalScore, wordCount, uniqueTerms)
  }

  /** Tag one document's content (document-local; `content` is the
    * classify input — spans joined by newline). Composes the two facet
    * halves; each driver facet calls only its own half so neither pays
    * the other's scans.
    */
  def tag(content: String, primaryDomain: String): DocTags = {
    val lower = content.toLowerCase
    val (topics, score, wc, uniq) = metaOf(content, lower, primaryDomain)
    DocTags(keywordsOf(lower), topics, score, wc, uniq)
  }

  // ----------------------------------------------------------- facets

  /** A5 keyword facet: one row per (doc, keyword) in rank order —
    * document-local flatMap, no shuffle beyond the facet's final sort.
    */
  def keywordRows(extracted: Dataset[ExtractedDoc]): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted
      .filter(col("success"))
      .select(col("doc_id"), col("spans.text").as("texts"))
      .as[(String, Seq[String])]
      .flatMap { case (docId, texts) =>
        keywordsOf(texts.mkString("\n").toLowerCase).zipWithIndex.map {
          case ((w, n), i) => (docId, (i + 1).toLong, w, n)
        }
      }
      .toDF("doc_id", "rank", "keyword", "freq")
      .orderBy("doc_id", "rank")
  }

  /** A5 per-doc tag metadata facet: topics (comma-joined, list order),
    * technical score, word/unique-term counts — the YAML header fields
    * (`:655-670`) as columns.
    */
  def tagMeta(extracted: Dataset[ExtractedDoc]): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted
      .filter(col("success"))
      .select(col("doc_id"), col("spans.text").as("texts"),
        col("meta.primary_domain").as("domain"))
      .as[(String, Seq[String], String)]
      .map { case (docId, texts, domain) =>
        val content = texts.mkString("\n")
        val (topics, score, wc, uniq) = metaOf(content, content.toLowerCase, domain)
        (docId, topics.mkString(","), score, wc, uniq)
      }
      .toDF("doc_id", "topics", "technical_score", "word_count", "unique_terms")
      .orderBy("doc_id")
  }
}
