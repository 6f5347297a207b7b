package graft.facts

import graft.model.Fact
import graft.extract.Core8Extractor
import scala.collection.mutable.ArrayBuffer

/** Intelligent SPO fact extraction (SURVEY.md §2.6 X1/X4) — the
  * "Standalone Intelligent SPO Extractor" semantics that ship in the
  * reference's golden fixtures (`DocTest.json:9`;
  * `knowledge/extractors/standalone_intelligent_extractor.py:134-560`):
  * category regex patterns → (subject, predicate, object) with confidence
  * scoring, quality threshold 0.75, actionable classification,
  * complete-sentence context windows, dedup.
  */
object SpoExtractor {

  val QualityThreshold = 0.75

  /** X3: one CONFIG row of the pattern table — plain data (regex as a
    * string), broadcast-safe, loadable from a config table the way
    * CorpusTable loads gazetteers (`spo_pattern_loader.py` semantics:
    * composable pattern components shipped as data, not code).
    * `triggers` is a CNF keyword gate (each clause needs >= 1 lowercase
    * substring hit) — the reference's own short-circuit idiom (CFR
    * gate, `service_processor.py:991`): the regex cannot match unless
    * every clause is present, so gated sentences skip the regex
    * entirely. subjectGroup -1 = fixed subject from the fact type.
    */
  final case class SpoPatternConfig(
      name: String,
      regex: String,
      factType: String,
      predicate: String,
      base: Double,
      actionable: Boolean,
      subjectGroup: Int,
      objectGroup: Int,
      triggers: Seq[Seq[String]])

  /** A versioned pattern set — the unit that gets broadcast/installed.
    * It compiles its own rows, once per instance: on first use in the
    * driver, and on first use of each deserialized copy in an executor
    * JVM (a broadcast set is one copy per executor). The compiled form
    * belongs to these rows, so two sets that share a version string but
    * differ in rows can never serve each other's patterns.
    */
  final case class SpoPatternSet(version: String, patterns: Seq[SpoPatternConfig]) {
    @transient private[SpoExtractor] lazy val compiled: Seq[FactPattern] =
      patterns.map(c => FactPattern(
        java.util.regex.Pattern.compile(c.regex), c.factType, c.predicate,
        c.base, c.actionable, c.subjectGroup, c.objectGroup, c.triggers))
  }

  /** Trigger-clause wire format for config tables: clauses joined by
    * ';', alternatives by '|' ("fine|penalt;$" = (fine OR penalt) AND $).
    */
  def parseTriggers(s: String): Seq[Seq[String]] =
    s.split(";", -1).toSeq.filter(_.nonEmpty).map(_.split("\\|", -1).toSeq.filter(_.nonEmpty))

  /** Load a pattern set from plain config rows
    * (name, regex, fact_type, predicate, base, actionable,
    * subject_group, object_group, triggers) — the table-shipped twin of
    * CorpusTable.fromRows.
    */
  def fromRows(version: String,
      rows: Seq[(String, String, String, String, Double, Boolean, Int, Int, String)]): SpoPatternSet =
    SpoPatternSet(version, rows.map { case (n, rx, ft, pr, b, a, sg, og, tr) =>
      SpoPatternConfig(n, rx, ft, pr, b, a, sg, og, parseTriggers(tr))
    })

  // the compiled form of one pattern row
  private final case class FactPattern(
      rx: java.util.regex.Pattern,
      factType: String,
      predicate: String,
      base: Double,
      actionable: Boolean,
      subjectGroup: Int,
      objectGroup: Int,
      triggers: Seq[Seq[String]])

  /** The built-in set: the DocTest-fixture semantics, now expressed as
    * the default CONFIG rather than compiled-in behavior.
    */
  val defaultPatterns: SpoPatternSet = SpoPatternSet("builtin", Seq(
    // "X shall/must be completed on or before DATE" (FIXTURES F1)
    SpoPatternConfig("modal_be",
      "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+(?:shall|must)\\s+be\\s+([\\w ,'-]{3,160}?)(?:\\.|$|;)",
      "requirement", "REQUIRED_TO", 0.8, actionable = true, 1, 2, Seq(Seq("shall", "must"))),
    // "X shall/must VERB ..." (modal requirement)
    SpoPatternConfig("modal_verb",
      "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+(?:shall|must)\\s+((?!be\\b)[\\w ,'-]{3,160}?)(?:\\.|$|;)",
      "requirement", "MUST", 0.78, actionable = true, 1, 2, Seq(Seq("shall", "must"))),
    // "X should ..." (weaker modal)
    SpoPatternConfig("modal_should",
      "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+should\\s+([\\w ,'-]{3,160}?)(?:\\.|$|;)",
      "recommendation", "SHOULD", 0.7, actionable = true, 1, 2, Seq(Seq("should"))),
    // "within 30 days" (FIXTURES F2)
    SpoPatternConfig("time_within",
      "(?i)within\\s+(\\d+\\s+(?:days?|hours?|weeks?|months?|years?|business days?))",
      "time_requirement", "HAS_VALUE", 0.8, actionable = true, -1, 1, Seq(Seq("within"))),
    // financial impact: "a fine of $X" / "cost(s) $X" / "penalty of $X"
    SpoPatternConfig("financial",
      "(?i)\\b(fine|penalty|cost|fee|budget|damages)s?\\s+(?:of|up to|totaling|exceeding)?\\s*([$€£]\\s?[\\d,.]+(?:\\s?(?:k|m|b|million|billion|thousand))?)",
      "financial_impact", "HAS_AMOUNT", 0.8, actionable = false, 1, 2, Seq(Seq("fine", "penalt", "cost", "fee", "budget", "damage"), Seq("$", "\u20ac", "\u00a3"))),
    // regulation citation: "in accordance with / pursuant to / under <reg>"
    SpoPatternConfig("reg_citation",
      "(?i)(?:in accordance with|pursuant to|as required by|under)\\s+(\\d+\\s+(?:CFR|USC)\\s*§?\\s*[\\d.]+(?:\\([a-z0-9]+\\))*+)",
      "regulation_citation", "CITES", 0.85, actionable = false, -1, 1, Seq(Seq("cfr", "usc"))),
    // "X is responsible for Y"
    SpoPatternConfig("responsibility",
      "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+(?:is|are)\\s+responsible\\s+for\\s+([\\w ,'-]{3,160}?)(?:\\.|$|;)",
      "responsibility", "RESPONSIBLE_FOR", 0.8, actionable = true, 1, 2, Seq(Seq("responsible"))),
    // "X requires Y"
    SpoPatternConfig("requires",
      "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+requires?\\s+([\\w ,'-]{3,160}?)(?:\\.|$|;)",
      "requirement", "REQUIRES", 0.76, actionable = true, 1, 2, Seq(Seq("require"))),
    // "X was/were VERBed by Y" (passive action)
    SpoPatternConfig("passive_action",
      "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+(?:was|were)\\s+(approved|rejected|completed|issued|filed|submitted|inspected|reviewed)\\s+by\\s+([\\w ,'.-]{3,60}?)(?:\\.|$|;)",
      "action", "ACTED_ON_BY", 0.77, actionable = false, 1, 3, Seq(Seq("was", "were"), Seq(" by")))))

  /** X2: the typed-fact breadth of the reference's SemanticFactExtractor
    * (`mvp-fusion/knowledge/extractors/semantic_fact_extractor.py:59-168` —
    * the ContactInfo, EventFact, CausalFact and PersonFact dataclasses),
    * shipped the way X3 intends new coverage to ship: additional CONFIG
    * rows over the same engine, not new code. The reference keeps this
    * extractor separate from the standalone intelligent extractor
    * (X1 vs X2), so the typed set is a distinct installable bundle
    * (builtin rows + four typed rows) rather than a change to the
    * default semantics — swap it in via `extract(clean, typedPatterns)`.
    */
  val typedPatterns: SpoPatternSet = SpoPatternSet("typed-v1",
    defaultPatterns.patterns ++ Seq(
      // ContactInfo: "Contact <Name> at <phone>" -> entity + contact_value
      SpoPatternConfig("contact_info",
        "(?i)\\bcontact\\s+([A-Z][\\w .'-]{2,60}?)\\s+at\\s+(\\(\\d{3}\\)\\s?\\d{3}-\\d{4})",
        "contact_info", "HAS_PHONE", 0.82, actionable = false, 1, 2,
        Seq(Seq("contact"), Seq("("))),
      // EventFact: "<event> is/are scheduled for <Month D, YYYY>"
      SpoPatternConfig("event_scheduled",
        "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+(?:is|are)\\s+scheduled\\s+for\\s+([A-Z][a-z]+\\s+\\d{1,2},\\s+\\d{4})",
        "event", "SCHEDULED_FOR", 0.8, actionable = true, 1, 2,
        Seq(Seq("scheduled"))),
      // CausalFact: "<cause> carry/carries <effect>" (effect clause ends
      // at a subordinate 'under', sentence end, or ';')
      SpoPatternConfig("causal_carry",
        "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+carr(?:y|ies)\\s+([\\w ,.$\\u20ac\\u00a3]{3,160}?)(?:\\s+under\\b|\\.|$|;)",
        "causal", "RESULTS_IN", 0.78, actionable = false, 1, 2,
        Seq(Seq("carry", "carries"))),
      // PersonFact: "<Title> <Name> of <the Org> <verb>" -> name + org
      // affiliation (titles case-sensitive: they gate the proper noun)
      SpoPatternConfig("person_role",
        "\\b(?:President|Chairman|Director|Secretary|Governor)\\s+([A-Z][a-z]+)\\s+of\\s+(the\\s+[A-Z][\\w ]{2,60}?)\\s+(?:visited|announced|said|stated|approved)\\b",
        "person_fact", "AFFILIATED_WITH", 0.8, actionable = false, 1, 2,
        Seq(Seq("president", "chairman", "director", "secretary", "governor"))),
      // MeasurementRequirement (`semantic_fact_extractor.py:94-100`):
      // "<Subject> must measure <lo>-<hi> <unit>" -> value range + unit
      // with requirement context. Overlaps modal_verb's requirement fact
      // on the same span — dedup keeps both (different fact_type)
      SpoPatternConfig("measurement_req",
        "(?i)\\b([A-Z][\\w ,'-]{2,60}?)\\s+must\\s+measure\\s+(\\d+-\\d+\\s+(?:inches|feet|meters|cm|mm))\\b",
        "measurement_requirement", "MUST_MEASURE", 0.8, actionable = true, 1, 2,
        Seq(Seq("measure"))),
      // RegulatoryAuthorityFact (`:137-145`): a known agency acting in
      // its authority scope — "<AGENCY> and <AGENCY> published <scope>
      // guidance". The agency alternation is the canonical-map config
      // (`:204-230`), not a gazetteer dependency
      SpoPatternConfig("regulatory_authority",
        "\\b(OSHA|NIOSH|EPA|FDA|DOL)\\s+and\\s+(?:OSHA|NIOSH|EPA|FDA|DOL)\\s+published\\s+([\\w ]{3,120}?)\\s+guidance\\b",
        "regulatory_authority", "HAS_AUTHORITY_OVER", 0.85, actionable = false, 1, 2,
        Seq(Seq("published"))),
      // GeographicFact (`:155-161`): a location in scheduling context —
      // "<time> PM in <City>". Subjectless (location is the object;
      // jurisdiction typing stays with the N-pass canonicalizer)
      SpoPatternConfig("geographic",
        "(?i)\\bPM\\s+in\\s+(Chicago|Houston|Seattle|Boston|Denver|Atlanta)\\b",
        "geographic", "LOCATED_IN", 0.8, actionable = false, -1, 1,
        Seq(Seq("pm in"))),
      // CompanyFact (`:147-153`): private company in business context —
      // "The contractor <Name> operates in the <sector> sector"
      SpoPatternConfig("company",
        "\\bThe contractor\\s+([A-Z][a-z]+)\\s+operates\\s+in\\s+the\\s+([a-z]+)\\s+sector\\b",
        "company", "OPERATES_IN", 0.8, actionable = false, 1, 2,
        Seq(Seq("contractor")))))

  /** The fact types only `typedPatterns` produces (the X2 breadth —
    * all 12 of the reference's typed subclasses are now covered: 8 via
    * builtin+typed-v1, these 4 landed in r5).
    */
  val typedFactTypes: Set[String] = Set("contact_info", "event", "causal", "person_fact",
    "measurement_requirement", "regulatory_authority", "geographic", "company")

  /** Quality gate mirroring `_is_high_quality_fact`: complete thought
    * (ends at sentence-ish boundary), informative lengths, not all
    * stopwords.
    */
  private def quality(subject: String, obj: String, base: Double): Double = {
    var c = base
    if (subject.nonEmpty && subject.split("\\s+").length >= 2) c += 0.05
    if (obj.split("\\s+").length >= 2) c += 0.05
    if (obj.length < 4) c -= 0.3
    if (subject.nonEmpty && graft.matching.Corpora.orgStoplist.contains(subject.toLowerCase)) c -= 0.3
    math.min(c, 0.99)
  }

  private def trimPart(s: String): String =
    s.trim.stripSuffix(",").stripSuffix(";").trim

  /** Extract facts from clean (normalized) markdown. Context = the
    * containing sentence; span = match offsets in the clean text. The
    * pattern table is DATA (broadcast a non-default SpoPatternSet to
    * change fact coverage without recompiling); each set compiles once.
    */
  def extract(cleanText: String, patternSet: SpoPatternSet = defaultPatterns): Seq[Fact] = {
    val sentences = Core8Extractor.splitSentences(cleanText)
    val pats = patternSet.compiled
    val out = new ArrayBuffer[Fact]
    sentences.foreach { case (sentence, sentStart) =>
      // the gate string folds ALL whitespace to plain spaces: sentences
      // keep single newlines, and a trigger like " by" must fire on
      // "approved\nby" exactly as the \s+ in the regex it guards does
      val sentLower = sentence.toLowerCase.map(c => if (Character.isWhitespace(c)) ' ' else c)
      pats.foreach { fp =>
        if (fp.triggers.forall(clause => clause.exists(sentLower.contains))) {
        val m = fp.rx.matcher(sentence)
        while (m.find()) {
          val subject =
            if (fp.subjectGroup > 0) trimPart(m.group(fp.subjectGroup))
            else (fp.factType match {
              case "time_requirement" => "Time Requirement"
              case "regulation_citation" => "Regulation"
              case t => t
            })
          val obj = trimPart(m.group(fp.objectGroup))
          val conf = math.rint(quality(subject, obj, fp.base) * 100) / 100.0
          if (conf >= QualityThreshold && obj.nonEmpty) {
            out += Fact(
              subject = subject,
              predicate = fp.predicate,
              `object` = obj,
              confidence = conf,
              fact_type = fp.factType,
              context = sentence.trim,
              start = sentStart + m.start(),
              end = sentStart + m.end(),
              actionable = fp.actionable)
          }
        }
        }
      }
    }
    dedup(out.toSeq)
  }

  /** Dedup: same (subject, predicate, object) keeps the first (highest
    * position priority); overlapping spans keep the higher-confidence one.
    */
  def dedup(facts: Seq[Fact]): Seq[Fact] = {
    val seen = scala.collection.mutable.HashSet.empty[(String, String, String)]
    val bySpan = facts.sortBy(f => (-f.confidence, f.start))
    val taken = new ArrayBuffer[Fact]
    bySpan.foreach { f =>
      val key = (f.subject.toLowerCase, f.predicate, f.`object`.toLowerCase)
      val overlaps = taken.exists(t => f.start < t.end && t.start < f.end &&
        t.fact_type == f.fact_type)
      if (!seen.contains(key) && !overlaps) { seen += key; taken += f }
    }
    taken.sortBy(_.start).toSeq
  }

  /** X4: per-doc fact summary (`DocTest.json:2-14` shape). */
  final case class FactSummary(
      total_facts: Int,
      actionable_facts: Int,
      fact_types: Map[String, Int],
      quality_threshold: Double,
      engine: String)

  def summarize(facts: Seq[Fact]): FactSummary =
    FactSummary(
      total_facts = facts.length,
      actionable_facts = facts.count(_.actionable),
      fact_types = facts.groupBy(_.fact_type).map { case (k, v) => k -> v.length },
      quality_threshold = QualityThreshold,
      engine = "graft-spo")
}
