package graft.extract

import graft.model.{EntityMention, ExtractedDoc}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** E15: gap-filling pattern discovery
  * (`knowledge/extractors/pos_gap_discovery.py`, disabled by default in
  * the reference too): only sentences with ZERO existing entity hits are
  * scanned, with conservative shape patterns standing in for the
  * reference's spaCy POS validation (its shipped patterns skip POS
  * checks as well, `:124-180`) — unknown organizations (corporate
  * suffixes, agencies, institutions, partnerships), titled/role people,
  * geographic features. Confidence mirrors `_calculate_confidence`
  * (`:402-426`): base + title-case and multi-word boosts, short/acronym
  * penalties, clamped to [0.1, 1.0]; threshold 0.7.
  *
  * The auto-learning loop (`get_learning_candidates` feeding the AC
  * corpus) becomes the DISTRIBUTED step: aggregate discoveries corpus
  * wide — groupBy (type, text) with document counts and mean confidence
  * (one shuffle of tiny keys) — and emit (kind, value, meta) rows
  * CorpusTable.load can ingest, closing the loop through the same
  * broadcast path the static gazetteers use.
  */
object GapDiscovery {

  final case class Discovery(text: String, entity_type: String, start: Int,
      end: Int, confidence: Double, pattern: String)

  private def P(rx: String) = java.util.regex.Pattern.compile(rx)

  /** (name, pattern, base confidence, entity type, capture group). */
  private val patterns = Seq(
    ("corporate_suffix",
      P("([A-Z][a-zA-Z]+(?:\\s+[A-Z][a-zA-Z]+)*)[,\\s]+(Inc|LLC|Corp|Corporation|Ltd|Company|Technologies|Systems|Solutions|Enterprises|Group)\\.?"),
      0.9, "ORG", 0),
    ("government_agency",
      P("(Department|Ministry|Office|Bureau|Agency|Commission|Administration)\\s+of\\s+([A-Z][a-zA-Z]+(?:\\s+[A-Z][a-zA-Z]+)*)"),
      0.85, "ORG", 0),
    ("educational_institution",
      P("([A-Z][a-zA-Z]+(?:\\s+[A-Z][a-zA-Z]+)*)\\s+(University|Institute|College|School|Academy)"),
      0.8, "ORG", 0),
    ("business_partnership",
      P("([A-Z][a-zA-Z]+(?:\\s+[A-Z][a-zA-Z]+)*)\\s+&\\s+([A-Z][a-zA-Z]+(?:\\s+[A-Z][a-zA-Z]+)*)\\s+(LLP|Partnership|Associates)"),
      0.85, "ORG", 0),
    ("title_person",
      P("(Dr|Prof|Mr|Mrs|Ms|Miss|CEO|CTO|CFO|President|Director|Manager)\\.?\\s+([A-Z][a-zA-Z]+(?:\\s+[A-Z][a-zA-Z]+)*)"),
      0.8, "PERSON", 2),
    ("person_role",
      P("([A-Z][a-zA-Z]+(?:\\s+[A-Z][a-zA-Z]+)*)[,\\s]+(CEO|CTO|CFO|President|Director|Manager|Engineer|Analyst|Specialist)"),
      0.75, "PERSON", 1),
    ("geographic_feature",
      P("([A-Z][a-zA-Z]+(?:\\s+[A-Z][a-zA-Z]+)*)\\s+(Mountain|River|Lake|Valley|Desert|Forest|Park|Beach)"),
      0.8, "LOC", 0))

  val MaxSentenceLength = 200
  val MinConfidence = 0.7

  /** Sentences (text, start) of `clean` containing no existing entity. */
  def gapSentences(clean: String, entities: Seq[EntityMention]): Seq[(String, Int)] =
    Core8Extractor.splitSentences(clean).filter { case (s, start) =>
      val end = start + s.length
      !entities.exists(e => e.start < end && start < e.end)
    }

  /** `_calculate_confidence` semantics (`pos_gap_discovery.py:402-426`). */
  def confidence(text: String, base: Double): Double = {
    var c = base
    val words = text.split("\\s+")
    if (words.forall(w => w.nonEmpty && Character.isUpperCase(w.charAt(0)) &&
        w.drop(1).forall(ch => !Character.isLetter(ch) || Character.isLowerCase(ch))))
      c += 0.05 // istitle
    if (words.length > 1) c += 0.05 * (words.length - 1)
    if (text.length < 4) c -= 0.1
    if (text.length < 6 && text.nonEmpty && text.forall(ch => !Character.isLetter(ch) || Character.isUpperCase(ch)))
      c -= 0.05 // short all-caps acronym
    math.min(1.0, math.max(0.1, c))
  }

  /** Discover entities in one document's gap sentences. */
  def discover(clean: String, entities: Seq[EntityMention]): Seq[Discovery] = {
    val out = new ArrayBuffer[Discovery]
    gapSentences(clean, entities).foreach { case (sentence, sentStart) =>
      if (sentence.length <= MaxSentenceLength) {
        patterns.foreach { case (name, rx, base, tpe, grp) =>
          val m = rx.matcher(sentence)
          while (m.find()) {
            val (t, s, e) =
              if (grp == 0) (m.group(0), m.start(0), m.end(0))
              else (m.group(grp), m.start(grp), m.end(grp))
            val conf = math.rint(confidence(t.trim, base) * 100) / 100.0
            if (conf >= MinConfidence)
              out += Discovery(t.trim, tpe, sentStart + s, sentStart + e, conf, name)
          }
        }
      }
    }
    out.toSeq
  }

  /** Corpus-wide discovery frame: one row per (doc, discovery), with
    * the discovery's absolute span in the clean text.
    */
  def discoverAll(extracted: Dataset[ExtractedDoc]): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    // select the three read columns before the typed lambda so the
    // columnar cache scan prunes the rest (facts, canonical, meta)
    extracted
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("spans.text").as("texts"),
        org.apache.spark.sql.functions.col("entities"))
      .as[(String, Seq[String], Seq[graft.model.EntityMention])]
      .flatMap { case (docId, texts, entities) =>
        val clean = Core8Extractor.cleanTextOf(texts)
        discover(clean, entities).map(x =>
          (docId, x.entity_type, x.text, x.confidence, x.start, x.end, x.pattern))
      }.toDF("doc_id", "type", "text", "confidence", "start", "end", "pattern")
  }

  /** A discovery is learned once LearnMinDocs documents show it with a
    * mean confidence of at least LearnThreshold.
    */
  val LearnThreshold = 0.85
  val LearnMinDocs = 2

  /** The distributed learning step: discoveries seen in >= LearnMinDocs
    * documents with mean confidence >= LearnThreshold become corpus rows
    * (kind, value, meta) for CorpusTable.load — corpus-frequency
    * evidence replaces the reference's per-doc learning threshold.
    */
  def learningCandidates(discoveries: DataFrame): DataFrame =
    discoveries
      .groupBy(col("type"), col("text"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        round(avg(col("confidence")), 4).as("mean_conf"))
      .filter(col("n_docs") >= LearnMinDocs && col("mean_conf") >= LearnThreshold)
      // PERSON names must land as the single TOKENS the person extractor
      // scores against (first token -> first_name, last token ->
      // last_name; single-token discoveries are surnames from the title
      // pattern) — a multi-word string in lastNames would never match
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("rows",
        when(col("type") === "ORG",
          array(struct(lit("org").as("kind"), lower(col("text")).as("value"))))
        .when(col("type") === "LOC",
          array(struct(lit("loc").as("kind"), lower(col("text")).as("value"))))
        .when(size(col("toks")) === 1,
          array(struct(lit("last_name").as("kind"), element_at(col("toks"), 1).as("value"))))
        .otherwise(array(
          struct(lit("first_name").as("kind"), element_at(col("toks"), 1).as("value")),
          struct(lit("last_name").as("kind"), element_at(col("toks"), -1).as("value")))))
      .select(explode(col("rows")).as("r"), col("n_docs"))
      .select(col("r.kind").as("kind"), col("r.value").as("value"),
        concat(lit("discovered:"), col("n_docs")).as("meta"))
      .distinct()
}
